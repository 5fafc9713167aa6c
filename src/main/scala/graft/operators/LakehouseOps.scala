package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.Tables
import graft.functions.ZOrder

/** SURVEY.md §2 block B — the reference's own lakehouse-DBA verbs,
  * re-expressed as Spark-native operators over parquet (no Delta runtime in
  * this environment; the semantics are rebuilt, not wrapped).
  *
  * Reference map:
  *  - B1 metrics aggregation       tasks/Query History API to Delta_withmetrics.py:214-258
  *  - B2 MERGE upsert              same file: whenMatchedUpdateAll/whenNotMatchedInsertAll (~:300)
  *  - B3 status-snapshot history   tasks/Endpoint_History_Status_ETL.py (snapshot append → SCD2 view)
  *  - B4 schema-drift alignment    tasks/Endpoint_History_Status_ETL.py (describe+full-join columns)
  *  - B5 ANALYZE stats             resources/TPC-datagen-notebook.scala:2065-2067
  *  - B6 DESCRIBE DETAIL           resources/TPC-datagen-notebook.scala:2267
  *  - B7 ZORDER key                resources/TPC-datagen-notebook.scala:1979-2029
  *  - B8 OPTIMIZE bin-packing      same lines (compaction planning half of OPTIMIZE)
  *  - B9 pricing cost attribution  tasks/import_dbsql_pricing.py + metrics join
  *  - B10 typed CSV import         tasks/import_dbsql_pricing.py (header/schema load)
  */
/** One clause of the FULL Delta MERGE grammar ([[LakehouseOps.mergeClauses]]):
  * conditions and `set` values are Column expressions over the joined
  * frame, target columns as `t.<col>`, source columns as `s.<col>`
  * (`whenNotMatchedBySource` conditions may only reference `t.*`,
  * `whenNotMatched` only `s.*` — the other side is null there). Clause
  * ORDER is the protocol's: for each row class, the FIRST clause whose
  * condition holds applies; no clause → the row is kept (matched /
  * by-source) or dropped (unmatched source).
  */
sealed trait MergeClause

object MergeClause {
  /** `whenMatched(cond).update(set)`; empty `set` = `updateAll` (every
    * target column takes the same-named source column).
    */
  final case class MatchedUpdate(condition: Option[Column] = None,
                                 set: Map[String, Column] = Map.empty)
      extends MergeClause
  final case class MatchedDelete(condition: Option[Column] = None)
      extends MergeClause
  /** `whenNotMatched(cond).insertAll` — target columns from same-named
    * source columns, null where the source lacks one.
    */
  final case class NotMatchedInsert(condition: Option[Column] = None)
      extends MergeClause
  final case class NotMatchedBySourceUpdate(condition: Option[Column],
                                            set: Map[String, Column])
      extends MergeClause
  final case class NotMatchedBySourceDelete(condition: Option[Column] = None)
      extends MergeClause

  /** Does any clause involve target rows the source does NOT touch?
    * (Decides whether a selective merge may prune untouched files.)
    */
  def touchesBySource(clauses: Seq[MergeClause]): Boolean = clauses.exists {
    case _: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete => true
    case _ => false
  }
}

object LakehouseOps {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def asDouble(c: Column): Column = c.cast("double")

  // ---------------------------------------------------------------- B2 lib
  /** SCD1 MERGE: source wins on key match, target rows survive otherwise.
    * Shuffles only on the key (source window + anti join), no driver
    * collect — at 100 TB the same cost shape as Delta's join-based MERGE
    * but deterministic and pure-Spark; with bucketed tables the shuffles
    * drop to co-partitioned passes.
    *
    * Duplicate handling (where Delta's MERGE errors or multiplies):
    *  - duplicate *source* rows per key pick one winner deterministically —
    *    highest `tiebreak` (e.g. an event-time column), remaining columns
    *    descending as the final tiebreak so equal rows can't flip between
    *    retries;
    *  - duplicate *target* rows for unmatched keys all survive (they are
    *    only replaced, 1:n, when the key matches).
    */
  /** One deterministic winner per key (highest tiebreak, then remaining
    * columns descending) — shared by plain and schema-evolving merge.
    */
  private def latestPerKey(source: DataFrame, keys: Seq[String],
                           tiebreak: Seq[Column]): DataFrame = {
    val rest = source.columns.filterNot(keys.contains)
      .map(c => col(c).desc).toIndexedSeq
    val order: Seq[Column] = {
      val o = tiebreak.map(_.desc) ++ rest
      if (o.nonEmpty) o else keys.map(col(_).asc)
    }
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(order: _*)
    source
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String],
                  tiebreak: Seq[Column] = Seq.empty,
                  autoAlign: Boolean = false,
                  skewSafe: Boolean = false): DataFrame = {
    if (autoAlign)
      return mergeUpsertEvolve(target, source, keys, tiebreak, skewSafe)
    // srcLatest has TWO consumers (anti-join build side + union branch);
    // column pruning rewrites the anti-join copy to a cheap keys-only
    // scan + distinct, so the double consumption is NOT worth a
    // checkpoint here (measured: materializing the full-width winner set
    // cost more at the decade rung than the pruned rescan it saved).
    val srcLatest = winners(source, keys, tiebreak, skewSafe)
    target.select(source.columns.map(col).toIndexedSeq: _*)
      .join(srcLatest, keys, "left_anti")
      .unionByName(srcLatest)
  }

  /** The one winner per source key every merge shape uses: the
    * [[latestPerKey]] window, or its skew-safe aggregation.
    */
  private def winners(source: DataFrame, keys: Seq[String],
                      tiebreak: Seq[Column], skewSafe: Boolean): DataFrame =
    if (skewSafe) latestPerKeyAgg(source, keys, tiebreak)
    else latestPerKey(source, keys, tiebreak)

  /** The MERGE both table formats' `selectiveMerge` run over the files
    * they rewrite: `clauses` go through [[mergeClauses]], otherwise the
    * plain upsert, where `schemaEvolution` lets source columns the target
    * lacks join the schema additively (untouched files read them as null
    * — the drift shape API-ingest merges hit daily). Clause merges name
    * explicit columns, so they refuse schema evolution.
    *
    * `unmatched`, given for a source held on the driver, is true on the
    * target rows no source key replaces: the plain upsert then keeps
    * those rows by that predicate on the target scan instead of an
    * anti-join, and takes the winners from `source` in place. With
    * `source` in one partition neither side has an exchange, so the
    * union and its write run as one job.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            clauses: Seq[MergeClause], skewSafe: Boolean,
            schemaEvolution: Boolean,
            unmatched: Option[Column] = None): DataFrame = {
    require(!schemaEvolution || clauses.isEmpty,
      "schemaEvolution composes with the plain upsert only " +
        "(clause merges name explicit columns — align the source first)")
    if (clauses.nonEmpty)
      mergeClauses(target, source, keys, clauses, skewSafe = skewSafe)
    else unmatched match {
      case Some(keep) if !schemaEvolution =>
        target.filter(keep)
          .select(source.columns.map(col).toIndexedSeq: _*)
          .unionByName(winners(source, keys, Seq.empty, skewSafe))
      case _ => mergeUpsert(target, source, keys, skewSafe = skewSafe,
        autoAlign = schemaEvolution)
    }
  }

  // ---------------------------------------------------------------- B2c lib
  /** The FULL MERGE grammar — conditional `whenMatched` update/delete,
    * `whenNotMatched` insert, and `whenNotMatchedBySource` update/delete
    * (the SCD-cleanup clauses [[mergeUpsert]]'s updateAll/insertAll subset
    * lacks). One key-shuffled FULL OUTER join, then pure codegen CASE
    * chains: a per-row-class "first clause whose condition holds" action
    * index drives every output column and the keep/delete flag — no
    * second shuffle, no UDFs, cost identical to the plain merge at any
    * scale. Conditions/sets reference `t.<col>` / `s.<col>` (see
    * [[MergeClause]]). Duplicate source keys resolve to one winner first
    * (same [[latestPerKey]] rule as mergeUpsert; `skewSafe` swaps in the
    * map-side-combine aggregation).
    */
  def mergeClauses(target: DataFrame, source: DataFrame, keys: Seq[String],
                   clauses: Seq[MergeClause],
                   tiebreak: Seq[Column] = Seq.empty,
                   skewSafe: Boolean = false): DataFrame = {
    import MergeClause._
    require(clauses.nonEmpty, "mergeClauses needs at least one clause")
    require(keys.forall(target.columns.contains) &&
      keys.forall(source.columns.contains),
      s"merge keys ${keys.mkString(",")} must exist on both sides")
    val srcLatest = winners(source, keys, tiebreak, skewSafe)
    val t = target.withColumn("__t", lit(1)).alias("t")
    val s = srcLatest.withColumn("__s", lit(1)).alias("s")
    // SQL equality on the keys: null keys never match (they classify as
    // unmatched-source / by-source rows, the MERGE standard)
    val joinCond = keys.map(k => col(s"t.`$k`") === col(s"s.`$k`"))
      .reduce(_ && _)
    val joined = t.join(s, joinCond, "full_outer")
    val isMatched = col("t.__t").isNotNull && col("s.__s").isNotNull
    val isTargetOnly = col("t.__t").isNotNull && col("s.__s").isNull

    def condOf(c: Option[Column]): Column = c.getOrElse(lit(true))
    // first-match-wins action index per row class (codegen CASE chain)
    def actionIdx(cls: Seq[(MergeClause, Int)], cond: MergeClause => Column)
        : Column =
      cls.foldRight(lit(-1): Column) { case ((cl, i), els) =>
        when(cond(cl), lit(i)).otherwise(els)
      }
    val matched = clauses.zipWithIndex.collect {
      case p @ (_: MatchedUpdate | _: MatchedDelete, _) => p
    }
    val bySource = clauses.zipWithIndex.collect {
      case p @ (_: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete, _) => p
    }
    val inserts = clauses.zipWithIndex.collect {
      case p @ (_: NotMatchedInsert, _) => p
    }
    val condCol: MergeClause => Column = {
      case MatchedUpdate(c, _)            => condOf(c)
      case MatchedDelete(c)               => condOf(c)
      case NotMatchedInsert(c)            => condOf(c)
      case NotMatchedBySourceUpdate(c, _) => condOf(c)
      case NotMatchedBySourceDelete(c)    => condOf(c)
    }
    val withAct = joined
      .withColumn("__ma", when(isMatched, actionIdx(matched, condCol))
        .otherwise(lit(-1)))
      .withColumn("__ba", when(isTargetOnly, actionIdx(bySource, condCol))
        .otherwise(lit(-1)))
      .withColumn("__ia", when(!isMatched && !isTargetOnly,
        actionIdx(inserts, condCol)).otherwise(lit(-1)))

    val srcCols = srcLatest.columns.toSet
    def srcOrNull(c: String, dt: org.apache.spark.sql.types.DataType): Column =
      if (srcCols.contains(c)) col(s"s.`$c`") else lit(null).cast(dt)
    // per-column value: CASE on the row class + its action index
    def valueOf(fld: org.apache.spark.sql.types.StructField): Column = {
      val c = fld.name
      val keepT = col(s"t.`$c`")
      val matchedV = matched.foldLeft(keepT) { case (els, (cl, i)) =>
        cl match {
          case MatchedUpdate(_, set) =>
            val v =
              if (set.isEmpty) srcOrNull(c, fld.dataType)      // updateAll
              else set.getOrElse(c, keepT)
            when(col("__ma") === i, v).otherwise(els)
          case _ => els // delete rows drop via the keep flag
        }
      }
      val byV = bySource.foldLeft(keepT) { case (els, (cl, i)) =>
        cl match {
          case NotMatchedBySourceUpdate(_, set) =>
            when(col("__ba") === i, set.getOrElse(c, keepT)).otherwise(els)
          case _ => els
        }
      }
      when(isMatched, matchedV)
        .when(isTargetOnly, byV)
        .otherwise(srcOrNull(c, fld.dataType))                  // insertAll
        .cast(fld.dataType).as(c)
    }
    val deleteIdx = (i: Int) => clauses(i) match {
      case _: MatchedDelete | _: NotMatchedBySourceDelete => true
      case _ => false
    }
    val matchedDel = matched.map(_._2).filter(deleteIdx)
    val byDel = bySource.map(_._2).filter(deleteIdx)
    def inSet(c: Column, is: Seq[Int]): Column =
      if (is.isEmpty) lit(false) else is.map(c === _).reduce(_ || _)
    val keep =
      when(isMatched, !inSet(col("__ma"), matchedDel))
        .when(isTargetOnly, !inSet(col("__ba"), byDel))
        .otherwise(col("__ia") =!= -1)
    withAct.filter(keep)
      .select(target.schema.fields.toIndexedSeq.map(valueOf): _*)
  }

  /** The skew-safe [[latestPerKey]]: the same one-winner-per-key rule as
    * an AGGREGATION (`max_by` over the ordering tuple) instead of a
    * `row_number` window. A window partition holds every row of its key
    * in one task and AQE cannot split it — a hot source key (the classic
    * CDC pathology: one entity re-emitted millions of times) stalls the
    * merge at scale. `max_by` is a declarative aggregate with map-side
    * partial combine: each task reduces its slice of the hot key to ONE
    * candidate row before the shuffle, so no reducer ever sees the key's
    * full row set. Same winner: the window sorts (tiebreak desc, rest
    * desc) nulls-last and picks row 1; lexicographic struct-max with
    * null-smallest field ordering is that exact comparison.
    *
    * r18 decade adjudication (8-run isolated minima, sf0.1 → sf1-equiv):
    * the struct buffer makes this a SortAggregate, but the variant is
    * ABSOLUTELY faster than the window formulation at the big rung
    * (1.19 s vs 1.41 s) and at the small rung (0.58 s vs 0.79 s); its
    * ~2.0× min ratio vs the window's ~1.8× is the smaller small-rung
    * intercept, not superlinear growth. Two alternatives measured worse
    * at the decade: checkpointing the winner set (1.58 s — materializing
    * full-width rows costs more than the column-pruned keys-only rescan
    * it saves) and a salted two-level window (1.60 s — flatter ratio
    * only because it adds rung-independent overhead). Keep max_by.
    */
  private def latestPerKeyAgg(source: DataFrame, keys: Seq[String],
                              tiebreak: Seq[Column]): DataFrame = {
    val rest = source.columns.filterNot(keys.contains).toIndexedSeq
    val ord: Seq[Column] = tiebreak ++ rest.map(col)
    if (ord.isEmpty) return source.select(keys.map(col).toIndexedSeq: _*).distinct()
    source.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max_by(struct(rest.map(col): _*), struct(ord: _*)).as("__row"))
      .select((keys.map(col) ++ rest.map(r => col("__row").getField(r).as(r))).toIndexedSeq: _*)
      .select(source.columns.map(col).toIndexedSeq: _*)
  }

  /** Schema-evolving MERGE — the reference's
    * `schema.autoMerge.enabled=true` behavior ("Query History API to
    * Delta_withmetrics.py":37): source and target may drift in BOTH
    * directions. Output schema = target columns ++ source-only columns.
    * Matched keys take source values for every source column (UPDATE SET *)
    * but PRESERVE the target's values for target-only columns — exactly
    * what Delta's whenMatchedUpdateAll does under autoMerge; surviving
    * target rows null-fill source-only columns, inserts null-fill
    * target-only columns. Same shuffle shape as the plain merge plus one
    * key-join against the (already key-deduped) matched slice.
    */
  private def mergeUpsertEvolve(target: DataFrame, source: DataFrame,
                                keys: Seq[String],
                                tiebreak: Seq[Column],
                                skewSafe: Boolean = false): DataFrame = {
    require(keys.forall(target.columns.contains) &&
      keys.forall(source.columns.contains),
      s"merge keys ${keys.mkString(",")} must exist on both sides")
    val dest = StructType(target.schema.fields ++
      source.schema.fields.filterNot(f => target.columns.contains(f.name)))
    val srcLatest = winners(source, keys, tiebreak, skewSafe)
    val alignedT = alignToSchema(target, dest)
    val alignedS = alignToSchema(srcLatest, dest)
    val tOnly = target.columns.filterNot(source.columns.contains).toIndexedSeq
    val merged =
      if (tOnly.isEmpty) alignedS
      else {
        // deterministic representative target row per key (same
        // rest-columns-descending rule as the source dedup) donates the
        // preserved target-only values; unmatched (insert) keys get nulls
        // from the left join
        val tRep = latestPerKey(target, keys, Seq.empty)
          .select((keys ++ tOnly).map(col): _*)
        alignedS.drop(tOnly: _*)
          .join(tRep, keys, "left")
          .select(dest.fieldNames.toIndexedSeq.map(col): _*)
      }
    alignedT.join(srcLatest.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(merged)
  }

  // ---------------------------------------------------------------- B4 lib
  /** Schema-drift alignment: project/cast to `dest`, null-filling columns
    * the source lacks and dropping extras — the reference's describe-both-
    * sides / full-join-column-lists dance as one declarative projection.
    */
  def alignToSchema(df: DataFrame, dest: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(dest.fields.toIndexedSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  // ---------------------------------------------------------------- B5 lib
  /** ANALYZE ... FOR ALL COLUMNS equivalent → tiny stats DF, one row per
    * column: per column, one narrow `groupBy(c)` (a row per distinct
    * value with its row count, reading that column alone) folded into
    * min, max, nulls and the exact NDV; the per-column rows union. Exact
    * distinct counts over several columns in ONE aggregate plan as an
    * Expand to (columns + 1)× the rows under a wide grouping key; the
    * narrow group-bys never widen a row. Exact NDV here for oracle
    * parity; at 100 TB use [[tableStatsApprox]] (HLL, bounded state).
    */
  def tableStats(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.map { c =>
      df.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
        .agg(
          min(col("v")).cast("double").as("min_val"),
          max(col("v")).cast("double").as("max_val"),
          coalesce(sum(when(col("v").isNull, col("n"))), lit(0L))
            .as("n_nulls"),
          count(col("v")).as("ndv"))
        .select(lit(c).as("column_name"), col("min_val"), col("max_val"),
          col("n_nulls"), col("ndv"))
    }.reduce(_.unionByName(_))

  // ---------------------------------------------------------------- B11 lib
  /** Recursive nested-struct flattening — the reference's first move on
    * every API payload (`channel_used.*`, `metrics.*` → `channel_used_name`,
    * `metrics_total_time_ms`, …). Pure projection: zero shuffles, stays in
    * whole-stage codegen, and column pruning still reaches the scan because
    * each output column is a direct `GetStructField` chain.
    */
  def flattenStructs(df: DataFrame, sep: String = "_"): DataFrame = {
    def fields(prefix: String, path: Column, t: StructType): Seq[Column] =
      t.fields.toIndexedSeq.flatMap { f =>
        val child = path.getField(f.name)
        f.dataType match {
          case st: StructType => fields(s"$prefix${f.name}$sep", child, st)
          case _ => Seq(child.as(s"$prefix${f.name}"))
        }
      }
    val cols = df.schema.fields.toIndexedSeq.flatMap { f =>
      f.dataType match {
        case st: StructType => fields(s"${f.name}$sep", col(f.name), st)
        case _ => Seq(col(f.name))
      }
    }
    df.select(cols: _*)
  }

  // ---------------------------------------------------------------- B11
  /** The reference's JSON ingestion shape end-to-end: parse the raw API
    * payload with an explicit schema (`from_json`), flatten the nested
    * struct, then aggregate the extracted metric.
    */
  def dbaJsonIngest(s: SparkSession, dir: String): DataFrame = {
    // from_json is the heaviest per-row stage on events AND it breaks
    // whole-stage codegen (JsonToStructs is eval-only), so parsing every
    // ROW was the measured decade killer (4.1× isolated min ratio). The
    // parse is deterministic per string, so aggregate FIRST on the raw
    // (event_type, props) pair — a codegen'd map-side-combined hash agg;
    // the shuffle carries ≤ distinct pairs × tasks — and parse only the
    // DISTINCT payloads: parse cost ∝ payload cardinality, never rows.
    // Worst case (every payload unique) this degrades to exactly the old
    // per-row parse after a combine that cost one hash probe per row; on
    // real telemetry (bounded payload shapes) the interpreted stage is
    // constant-sized. Decimal partial sums re-sum exactly — Σ dec(v)
    // grouped then re-summed ≡ Σ dec(v) row-wise.
    val byPayload = Tables.events(s, dir)
      .groupBy("event_type", "props")
      .agg(count(lit(1)).as("__freq"),
        sum(dec(col("value"))).as("__sum_value"))
    val parsed = byPayload.withColumn("payload",
      from_json(col("props"), StructType.fromDDL("k INT")))
    flattenStructs(parsed.select(col("event_type"), col("payload"),
        col("__freq"), col("__sum_value")))
      .groupBy("event_type")
      .agg(
        sum(when(col("payload_k").isNotNull, col("__freq"))
          .otherwise(0L)).as("n_payloads"),
        sum(col("payload_k").cast("long") * col("__freq")).as("sum_k"),
        asDouble(sum(col("__sum_value"))).as("sum_value"))
      .orderBy("event_type")
  }

  val dbaJsonIngestOracle: String =
    """SELECT event_type,
      |  COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_payloads,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- B1
  /** Query-history analytics: the reference flattens `metrics.*` then
    * aggregates latency-ish metrics per statement type. Decimal sums keep
    * the averages exact and order-independent; p95 is the exact percentile
    * (matches DuckDB quantile_cont).
    *
    * The exact percentile is an interpreted ObjectHashAggregate that
    * buffers every ROW per group — with a handful of event types that is
    * per-group state ∝ corpus and it reproduced a ~3-4× decade min-ratio
    * isolated. Spark's `percentile(col, p, frequency)` computes the
    * identical expanded-multiset interpolation, so the fact pass is now a
    * codegen'd (type, value) → frequency aggregate (map-side combined,
    * skew-free) and the interpreted percentile walks only the DISTINCT
    * values per type. The decimal sum rides the same pre-aggregate
    * exactly (Σ dec(v)·freq = Σ dec(v) row-wise — both exact decimal
    * arithmetic), and the distinct-user count is its own two-level
    * aggregate; the three tiny per-type results join at the end.
    */
  def dbaQueryMetrics(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val byValue = ev.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("__freq"))
    val stats = byValue.groupBy(col("event_type"))
      .agg(
        sum(col("__freq")).as("n_queries"),
        (asDouble(sum(dec(col("value")) * col("__freq"))
          .cast(DecimalType(38, 2))) / sum(col("__freq"))).as("avg_value"),
        max(col("value")).as("max_value"),
        expr("percentile(value, 0.95, __freq)").as("p95_value"))
    val users = ev.select("event_type", "user_id").distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    stats.join(users, Seq("event_type"))
      .select(col("event_type"), col("n_queries"), col("n_users"),
        col("avg_value"), col("max_value"), col("p95_value"))
      .orderBy("event_type")
  }

  val dbaQueryMetricsOracle: String =
    """SELECT event_type, COUNT(*) AS n_queries,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
      |  MAX(value) AS max_value,
      |  quantile_cont(value, 0.95) AS p95_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- B2
  /** Upsert the last-two-years order feed into the pre-1997 snapshot:
    * matched keys take the (repriced) source row, unmatched source keys
    * insert, untouched target rows survive.
    *
    * No final global sort: a MERGE result is a TABLE, not a report — and
    * the output here is DATA-sized, so a presentation `orderBy` costs a
    * range-sampling pass that re-executes the join plus a full-result
    * exchange+sort (measured ~2/3 of the decade wall). The driver's
    * compare is row-order-independent; a caller wanting order sorts the
    * written table.
    */
  def dbaMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice")
    val target = ord.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val source = ord.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .withColumn("o_totalprice", asDouble(dec(col("o_totalprice")) * dec(lit(1.1))))
    mergeUpsert(target, source, Seq("o_orderkey"))
  }

  /** B2b — the same merge with `skewSafe = true`: source dedup as a
    * `max_by` aggregation (map-side combine bounds a hot key) instead of
    * a window. Checked against the IDENTICAL oracle as dba_merge_upsert —
    * the two formulations must be indistinguishable by result. Same
    * no-global-sort contract as B2 (the sort reproduced a 4.3× isolated
    * decade min here — the range sample re-ran the whole merge).
    */
  def dbaMergeUpsertSkew(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice")
    val target = ord.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val source = ord.filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .withColumn("o_totalprice", asDouble(dec(col("o_totalprice")) * dec(lit(1.1))))
    mergeUpsert(target, source, Seq("o_orderkey"), skewSafe = true)
  }

  val dbaMergeUpsertOracle: String =
    """WITH target AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
      |source AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
      |SELECT * FROM source
      |UNION ALL
      |SELECT t.* FROM target t WHERE NOT EXISTS
      |  (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- B3
  /** Status-snapshot stream → SCD2 intervals: collapse consecutive equal
    * statuses per key, derive [valid_from, valid_to) via lead(). Timestamps
    * surface as epoch millis (events are ns-precision parquet).
    */
  def dbaScd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    val changes = Tables.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("status"))
      .withColumn("__prev", lag("status", 1).over(w))
      .filter(col("__prev").isNull || col("status") =!= col("__prev"))
      .select(col("user_id"), col("event_id"), col("status"),
        expr("ts_ns div 1000000").as("valid_from_ms"))
    val w2 = Window.partitionBy("user_id").orderBy("valid_from_ms", "event_id")
    changes
      .withColumn("valid_to_ms", lead("valid_from_ms", 1).over(w2))
      .withColumn("is_current", col("valid_to_ms").isNull)
  }

  /** B3b — the same SCD2 collapse with the hot-key hazard removed from
    * the BIG window. dbaScd2History's change detection windows over
    * (user_id) — one endpoint reporting 100× more often than the rest
    * (the classic monitoring-feed skew) serializes its entire snapshot
    * history into one task. Here the lag rides (user, day-bucket)
    * partitions: local lag within the bucket, the bucket's last status
    * carried in from the previous bucket (the aggregate reuses the
    * window's partitioning; the carry window sees one row per bucket).
    * The second window — interval stitching via lead() — stays keyed on
    * user alone ON PURPOSE: it runs over CHANGE POINTS, whose count per
    * key is the number of status runs (workload-compressed), not the
    * snapshot volume; a billion-snapshot endpoint with a thousand status
    * changes costs a thousand-row partition there. Same oracle as B3.
    */
  def dbaScd2HistorySkew(s: SparkSession, dir: String,
                         bucketNs: Long = 86_400_000_000_000L): DataFrame = {
    val in = Tables.events(s, dir)
      .select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type").as("status"))
      .withColumn("__bkt", expr(s"ts_ns div ${bucketNs}L"))
    val wLoc = Window.partitionBy("user_id", "__bkt").orderBy("ts_ns", "event_id")
    val localized = in.withColumn("__prev_loc", lag("status", 1).over(wLoc))
    // one row per (user, bucket): the bucket's last status — reuses the
    // (user, bucket) hash partitioning the window just established
    val bktLast = localized.groupBy(col("user_id"), col("__bkt"))
      .agg(max_by(col("status"), struct(col("ts_ns"), col("event_id")))
        .as("__lastst"))
    // previous PRESENT bucket's last status (frame ends at -1; every
    // bucket row has a non-null status, so plain last() is exact lag)
    val wCarry = Window.partitionBy("user_id").orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = bktLast
      .withColumn("__carry", last("__lastst").over(wCarry))
      .select(col("user_id"), col("__bkt"), col("__carry"))
    val changes = localized.join(carry, Seq("user_id", "__bkt"))
      .withColumn("__prev", coalesce(col("__prev_loc"), col("__carry")))
      .filter(col("__prev").isNull || col("status") =!= col("__prev"))
      .select(col("user_id"), col("event_id"), col("status"),
        expr("ts_ns div 1000000").as("valid_from_ms"))
    val w2 = Window.partitionBy("user_id").orderBy("valid_from_ms", "event_id")
    changes
      .withColumn("valid_to_ms", lead("valid_from_ms", 1).over(w2))
      .withColumn("is_current", col("valid_to_ms").isNull)
  }

  val dbaScd2HistoryOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_id, event_type AS status, epoch_ms(ts) AS ms,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |c AS (
      |  SELECT user_id, event_id, status, ms AS valid_from_ms FROM o
      |  WHERE prev IS NULL OR status <> prev)
      |SELECT user_id, event_id, status, valid_from_ms,
      |  LEAD(valid_from_ms) OVER (PARTITION BY user_id ORDER BY valid_from_ms, event_id) AS valid_to_ms,
      |  LEAD(valid_from_ms) OVER (PARTITION BY user_id ORDER BY valid_from_ms, event_id) IS NULL AS is_current
      |FROM c
      |ORDER BY user_id, valid_from_ms, event_id""".stripMargin

  // ---------------------------------------------------------------- B4
  def dbaSchemaAlign(s: SparkSession, dir: String): DataFrame = {
    val dest = StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, " +
        "c_acctbal DOUBLE, loyalty_tier STRING, signup_ts TIMESTAMP")
    alignToSchema(Tables.customer(s, dir), dest)
  }

  val dbaSchemaAlignOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
      |  CAST(NULL AS VARCHAR) AS loyalty_tier, CAST(NULL AS TIMESTAMP) AS signup_ts
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- B5
  def dbaTableStats(s: SparkSession, dir: String): DataFrame =
    tableStats(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("column_name")

  val dbaTableStatsOracle: String = {
    def one(c: String) =
      s"""SELECT '$c' AS column_name, CAST(MIN($c) AS DOUBLE) AS min_val,
         |  CAST(MAX($c) AS DOUBLE) AS max_val,
         |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS ndv
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** The 100 TB variant of [[tableStats]]: HyperLogLog NDV and a
    * histogram-interpolated median, as two BOUNDED-STATE streaming
    * passes — per-column state is 4096 HLL registers + 4096 histogram
    * bins at ANY scale, shuffles carry ≤ 4·4096 rows, and NOTHING is
    * ever materialized per distinct value. (An exact p50 is Ω(distinct)
    * state by construction; the r18 first cut paid exactly that — a
    * near-unique price column made the operator scale with distinct
    * values, isolated > 3× per 10× at the sf0.01→sf0.1 rung. "approx"
    * is in this operator's name; the sketch belongs in the p50 too.)
    *
    * Both estimators are graft's own PORTABLE specs, not Spark's
    * HLL++/percentile_approx (whose internal state no other engine can
    * replay — that kept this the one no-oracle query through r17):
    *  - NDV: register = first 3 hex chars of md5(CAST(v AS STRING))
    *    (m = 4096); rho = leading-zero bits of the next 13 hex chars
    *    + 1, clamped at 50; harmonic sum carried as INTEGER terms
    *    2^(50−rho) (a float sum's rounding depends on merge order —
    *    integers are order-independent, and 4096·2^50 < 2^63);
    *    linear-counting branch below 2.5·m.
    *  - p50: pass 1 takes exact min/max/count/nulls; pass 2 bins
    *    non-null values into 4096 equal-width buckets over [min, max]
    *    and linearly interpolates inside the first bucket whose
    *    cumulative count reaches n/2 (error ≤ one bin width,
    *    range/4096 ≈ 0.025 % of range).
    * Every step is arithmetic both engines evaluate identically: the
    * [[hllEstRawSql]]/[[hllNdvSql]]/[[p50BinSql]]/[[p50PickSql]]/
    * [[p50ValSql]] snippets are spliced verbatim into the Spark plan AND
    * the DuckDB oracle, and the per-value register step runs as the
    * native [[graft.functions.Md5HllCode]] expression on the Spark side
    * (one digest + bit ops) while the oracle keeps the equivalent
    * [[hllRhoSql]] hex-string chain (HllKernelSpec pins the bit
    * equivalence) — so both estimates hash-match by construction. Portability caveat: the HLL hash input
    * is the value's string form, identical across engines for doubles
    * within plain-decimal range (zero or |v| ∈ [1e-3, 1e7) — Spark
    * switches to E-notation outside it, DuckDB does not); the audited
    * lineitem columns sit inside, verified value-set-exact at
    * sf0.01/sf0.1.
    */
  def tableStatsApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    // melt keyed by a small-int column ID, not the column-name string —
    // the id rides every hash-agg key compare; the 4-row name map joins
    // back onto the report-sized tail only
    val melt = cols.zipWithIndex
      .map { case (c, i) => s"$i, CAST(`$c` AS DOUBLE)" }.mkString(", ")
    def melted = df
      .select(expr(s"stack(${cols.size}, $melt) AS (cid, v)"))
    // scan 1 serves BOTH the exact stats and the HLL registers from one
    // pass: group at (cid, register) grain — null values park in a
    // sentinel register so their count still lands — then reduce to the
    // per-column grain. Partial aggs bound every task's state at
    // 4 × 4097 rows. The per-row kernel is the native Md5HllCode
    // expression: ONE digest + bit arithmetic per value, bit-identical to
    // the r18 hex-substring/TRIM/CASE SQL chain it replaces (the oracle
    // still computes that chain; HllKernelSpec sweeps the equivalence) —
    // the string pipeline measured ~58 CPU-seconds over the sf0.1 melt
    // (24 µs/value, the single hottest kernel on the bench board), the
    // fused form ~4 µs/value. The register id is the packed bucket INT
    // (code >> 6) rather than the 3-hex-char prefix string — a bijection,
    // so the (cid, register) partition of values and every downstream
    // count/max is unchanged; nulls park in bucket 4096 (no md5 bucket
    // reaches it) with a NULL rho, exactly like the old '~' sentinel.
    val reg1 = melted
      .withColumn("code",
        graft.functions.PortableHash.md5_hll_code(col("v").cast("string")))
      .withColumn("bkt", coalesce(expr("code >> 6"), lit(4096)))
      .withColumn("rho", expr("code & 63"))
      .groupBy("cid", "bkt").agg(
        max("rho").as("rmax"),
        min("v").as("bmin"),
        max("v").as("bmax"),
        count(col("v")).as("bn"),
        (count(lit(1)) - count(col("v"))).as("bnulls"))
      .localCheckpoint(true) // ≤ 4·4097 rows; feeds pass1 AND the registers
    // 4-row result: it feeds two broadcasts and the report join
    val pass1 = reg1.groupBy("cid").agg(
      min("bmin").as("min_val"),
      max("bmax").as("max_val"),
      sum("bn").as("n"),
      sum("bnulls").as("n_nulls"))
    // pass 2: fixed-grid histogram over [min, max] (bin bounds from the
    // broadcast pass-1 row), cumulative count over ≤4096 bins per
    // column, linear interpolation inside the median bin
    val cum = melted.filter(col("v").isNotNull)
      .join(broadcast(pass1.select("cid", "min_val", "max_val", "n")), "cid")
      .withColumn("bin", expr(p50BinSql))
      .groupBy("cid", "bin").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("cid").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cumbefore", col("cum") - col("cnt"))
      .join(broadcast(pass1.select("cid", "min_val", "max_val", "n")), "cid")
      // ≤ 4·4096 rows; eager-checkpointed so the pick + join-back pair
      // below can't re-run the data-sized binning scan
      .localCheckpoint(true)
    val p50 = cum.filter(expr(p50PickSql))
      .groupBy("cid").agg(min("bin").as("bin"))
      .join(cum, Seq("cid", "bin"))
      .select(col("cid"), expr(p50ValSql).as("p50_val"))
    // registers = reg1 minus the null-sentinel bucket (its rmax is null:
    // null v rows carry no register code; a real register can't collide —
    // md5 buckets span 0..4095, the sentinel is 4096)
    val ndv = reg1.filter(col("rmax").isNotNull)
      .groupBy("cid").agg(
        count(lit(1)).as("nbkt"),
        sum(expr("CAST(POW(2.0, 50 - rmax) AS BIGINT)")).as("spresent"))
      .withColumn("nempty", lit(4096L) - col("nbkt"))
      .withColumn("stot",
        col("spresent") + col("nempty") * lit(1125899906842624L))
      .withColumn("est_raw", expr(hllEstRawSql))
      .select(col("cid"), expr(hllNdvSql).as("approx_ndv"))
    val names = {
      val s = df.sparkSession
      import s.implicits._
      cols.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cid", "column_name")
    }
    pass1.join(ndv, Seq("cid"), "left")
      .join(p50, Seq("cid"), "left")
      .join(broadcast(names), Seq("cid"))
      .select(col("column_name"), col("min_val"), col("max_val"),
        col("n_nulls"), col("approx_ndv"), col("p50_val"))
  }

  /** Histogram bin of a non-null v over [min_val, max_val], 4096 cells;
    * a constant column collapses to bin 0, v = max clamps to 4095.
    */
  private[graft] val p50BinSql: String =
    "CASE WHEN max_val = min_val THEN 0 ELSE LEAST(CAST(FLOOR((v - " +
      "min_val) / (max_val - min_val) * 4096.0) AS BIGINT), 4095) END"

  /** Median-bin predicate: first bin whose cumulative count reaches n/2. */
  private[graft] val p50PickSql: String =
    "CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE)"

  /** Linear interpolation inside the median bin (constant column → its
    * value; fields: bin, cumbefore, cnt, min_val, max_val, n).
    */
  private[graft] val p50ValSql: String =
    "CASE WHEN max_val = min_val THEN min_val ELSE min_val + ((max_val " +
      "- min_val) / 4096.0) * (CAST(bin AS DOUBLE) + (0.5 * CAST(n AS " +
      "DOUBLE) - CAST(cumbefore AS DOUBLE)) / CAST(cnt AS DOUBLE)) END"

  /** rho over (z = leading-zero hex chars of `tail`, d = next hex char):
    * leading-zero BITS + 1, clamped at 50 (see [[tableStatsApprox]]).
    */
  private[graft] val hllRhoSql: String =
    "LEAST((CASE WHEN z = 13 THEN 52 ELSE 4 * z + (CASE WHEN d = '1' " +
      "THEN 3 WHEN d IN ('2', '3') THEN 2 WHEN d IN ('4', '5', '6', '7') " +
      "THEN 1 ELSE 0 END) END) + 1, 50)"

  /** Raw HLL estimate α·m²·2^50 / Σ 2^(50−rho) over (stot). */
  private[graft] val hllEstRawSql: String =
    "(0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * " +
      "1125899906842624.0 / CAST(stot AS DOUBLE)"

  /** Final NDV: linear counting below 2.5·m, else the raw estimate;
    * FLOOR(x + 0.5) rather than ROUND (engines disagree on .5 ties).
    */
  private[graft] val hllNdvSql: String =
    "CAST(FLOOR((CASE WHEN est_raw <= 2.5 * 4096.0 AND nempty > 0 THEN " +
      "4096.0 * LN(4096.0 / nempty) ELSE est_raw END) + 0.5) AS BIGINT)"

  def dbaTableStatsApprox(s: SparkSession, dir: String): DataFrame =
    tableStatsApprox(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .orderBy("column_name")

  /** The SAME estimator in DuckDB: shared SQL snippets spliced into CTEs
    * over the identical value-frequency table — hash-exact with
    * [[dbaTableStatsApprox]] by construction.
    */
  val dbaTableStatsApproxOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val melted = cols.map(c =>
      s"  SELECT '$c' AS column_name, CAST($c AS DOUBLE) AS v FROM lineitem")
      .mkString("\nUNION ALL\n")
    s"""WITH melted AS (
       |$melted),
       |pass1 AS (
       |  SELECT column_name, MIN(v) AS min_val, MAX(v) AS max_val,
       |    COUNT(v) AS n, COUNT(*) - COUNT(v) AS n_nulls
       |  FROM melted GROUP BY 1),
       |binned AS (
       |  SELECT m.column_name, $p50BinSql AS bin
       |  FROM melted m JOIN pass1 USING (column_name)
       |  WHERE v IS NOT NULL),
       |hist AS (SELECT column_name, bin, COUNT(*) AS cnt
       |         FROM binned GROUP BY 1, 2),
       |cumt AS (
       |  SELECT column_name, bin, cnt,
       |    SUM(cnt) OVER (PARTITION BY column_name ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist),
       |cum2 AS (SELECT c.column_name, bin, cnt, cum, cum - cnt AS cumbefore,
       |           min_val, max_val, n
       |         FROM cumt c JOIN pass1 USING (column_name)),
       |pick AS (SELECT column_name, MIN(bin) AS bin FROM cum2
       |         WHERE $p50PickSql GROUP BY 1),
       |p50 AS (SELECT c.column_name, $p50ValSql AS p50_val
       |        FROM pick JOIN cum2 c USING (column_name, bin)),
       |hx AS (SELECT DISTINCT column_name, md5(CAST(v AS VARCHAR)) AS h
       |       FROM melted WHERE v IS NOT NULL),
       |t1 AS (SELECT column_name, substring(h, 1, 3) AS bkt,
       |         substring(h, 4, 13) AS tail FROM hx),
       |t2 AS (SELECT column_name, bkt,
       |         13 - length(TRIM(LEADING '0' FROM tail)) AS z,
       |         substring(TRIM(LEADING '0' FROM tail), 1, 1) AS d
       |       FROM t1),
       |t3 AS (SELECT column_name, bkt, z, d FROM t2),
       |t4 AS (SELECT column_name, bkt, $hllRhoSql AS rho FROM t3),
       |regs AS (SELECT column_name, bkt, MAX(rho) AS rmax
       |         FROM t4 GROUP BY 1, 2),
       |agg AS (SELECT column_name, COUNT(*) AS nbkt,
       |          CAST(SUM(CAST(POW(2.0, 50 - rmax) AS BIGINT)) AS BIGINT)
       |            AS spresent
       |        FROM regs GROUP BY 1),
       |agg2 AS (SELECT column_name, 4096 - nbkt AS nempty,
       |           spresent + (4096 - nbkt) * 1125899906842624 AS stot
       |         FROM agg),
       |agg3 AS (SELECT column_name, nempty, $hllEstRawSql AS est_raw
       |         FROM agg2),
       |ndv AS (SELECT column_name, $hllNdvSql AS approx_ndv FROM agg3)
       |SELECT p1.column_name, min_val, max_val, n_nulls, approx_ndv,
       |  p50_val
       |FROM pass1 p1
       |LEFT JOIN ndv USING (column_name)
       |LEFT JOIN p50 USING (column_name)
       |ORDER BY column_name""".stripMargin
  }

  // ---------------------------------------------------------------- B6
  /** DESCRIBE DETAIL equivalent, content half: per-file row counts and key
    * ranges straight from the scan (`input_file_name`), no extra pass over
    * the data. The filesystem half (bytes, mtime) is
    * maintenance.TableMaintenance.listFiles.
    */
  def dbaDescribeDetail(s: SparkSession, dir: String): DataFrame =
    // raw load, NOT Tables.lineitem: input_file_name() only resolves inside
    // the scan stage, and the fan-out repartition above the scan would
    // evaluate it post-shuffle as "" for every row
    Tables.load(s, dir, "lineitem")
      .groupBy(substring_index(input_file_name(), "/", -1).as("file"))
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_orderkey"),
        max("l_orderkey").as("max_orderkey"))
      .orderBy("file")

  /** B6's oracle is DATA-DEPENDENT (the sf directory path must reach
    * DuckDB's `read_parquet(..., filename=true)`), so it rides the
    * dynamic-oracle channel Verify merges at dump time — turning the
    * long-standing rows-only check into a full hash gate: DuckDB
    * recomputes the same per-file inventory from the same parquet.
    */
  def dynamicOracles(spark: SparkSession, sfDir: String,
                     wanted: String => Boolean): Map[String, String] = {
    val detail =
      if (!wanted("dba_describe_detail")) Map.empty[String, String]
      else Map("dba_describe_detail" ->
        s"""SELECT regexp_extract(filename, '[^/]+$$') AS file,
           |  COUNT(*) AS n_rows,
           |  MIN(l_orderkey) AS min_orderkey,
           |  MAX(l_orderkey) AS max_orderkey
           |FROM read_parquet('$sfDir/lineitem.parquet', filename=true)
           |GROUP BY 1 ORDER BY 1""".stripMargin)
    // B8's oracle is also data-dependent (file SIZES, not content):
    // DuckDB's read_blob stats the same files independently, and the
    // window cumsum ÷ target recomputes the exact bin assignment the
    // distributed two-level prefix sum produces — the long-standing
    // rows-only check becomes a full hash gate on the binning math.
    val compaction =
      if (!wanted("dba_compaction_plan")) Map.empty[String, String]
      else Map("dba_compaction_plan" ->
        s"""SELECT file, bytes,
           |  CAST(FLOOR((SUM(bytes) OVER (ORDER BY file
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes)
           |    / ${CompactionTargetBytes}.0) AS BIGINT) AS bin
           |FROM (SELECT regexp_extract(filename, '[^/]+$$') AS file,
           |        size AS bytes
           |      FROM read_blob('$sfDir/*.parquet'))
           |ORDER BY file""".stripMargin)
    detail ++ compaction
  }

  // ---------------------------------------------------------------- B7
  def dbaZorderKey(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"), col("p_size"),
        ZOrder.zvalue(Seq(col("p_partkey"), col("p_size")), 16).as("zkey"))

  val dbaZorderKeyOracle: String =
    s"""SELECT p_partkey, p_size,
       |  ${ZOrder.zvalueSql(Seq("p_partkey", "p_size"), 16)} AS zkey
       |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- B8
  /** OPTIMIZE planning half: bin-pack the table's files into target-size
    * compaction groups. Deterministic streaming formulation — files in name
    * order, bin = exclusive-prefix-sum(bytes) div target.
    *
    * The prefix sum is two-level so no stage ever serializes the file list:
    * range-partition by name, local prefix sums per partition (parallel),
    * then add each partition's exclusive offset — the offsets are ONE row
    * per partition, computed with a driver-side scan over that bounded
    * list and broadcast back. At tens of millions of files every per-file
    * step stays partition-parallel; the old single global window (and its
    * WindowExec all-to-one-partition warning) is gone. The bin assignment
    * is the exact global prefix sum, independent of where the range
    * boundaries land.
    */
  def compactionPlan(files: DataFrame, targetBytes: Long): DataFrame = {
    val s = files.sparkSession
    val parted = files.repartitionByRange(col("file"))
      .withColumn("__part", spark_partition_id())
    val wLocal = Window.partitionBy("__part").orderBy("file")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Materialize ONE execution of the range partitioning: the offsets
    // below are per-partition, and repartitionByRange's sampled boundaries
    // are not guaranteed identical across executions — collecting totals
    // from one run and joining offsets onto a re-run could mis-assign every
    // file after a boundary that moved. The checkpoint pins partition ids
    // to the data they were computed from (file metadata — small).
    val local = parted
      .withColumn("__local", sum("bytes").over(wLocal) - col("bytes"))
      .localCheckpoint(true)
    val totals = local.groupBy("__part").agg(sum("bytes").as("__t"))
      .orderBy("__part").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // exclusive scan over the per-partition totals (bounded: one per task)
    val exclusive = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    import s.implicits._
    val offDf = exclusive.toSeq.toDF("__part", "__off")
    local.join(broadcast(offDf), Seq("__part"))
      .withColumn("bin",
        ((col("__local") + col("__off")) / lit(targetBytes)).cast("long"))
      .drop("__part", "__local", "__off")
  }

  /** B8's registered target: 256 KiB, small enough that the sf0.01
    * inventory spans several bins — the DuckDB oracle then checks real
    * bin BOUNDARIES, not a degenerate all-bin-0 plan.
    */
  private[graft] val CompactionTargetBytes: Long = 256L * 1024

  def dbaCompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = graft.maintenance.TableMaintenance.listFiles(s, dir)
    compactionPlan(files, CompactionTargetBytes)
      .select("file", "bytes", "bin")
      .orderBy("file")
  }

  // ---------------------------------------------------------------- B9
  /** Cost attribution: broadcast the (tiny) pricing dim against the usage
    * feed — the reference imports a DBSQL pricing CSV and joins it to query
    * metrics. Decimal arithmetic end-to-end: exact, order-independent.
    */
  val pricing: Seq[(String, Double)] = Seq(
    "click" -> 0.010, "view" -> 0.005, "purchase" -> 0.025,
    "signup" -> 0.001, "error" -> 0.000)

  def dbaPricingCost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = pricing.toDF("event_type", "rate")
      .withColumn("rate", col("rate").cast(DecimalType(8, 4)))
    Tables.events(s, dir)
      .join(broadcast(dim), Seq("event_type"))
      .groupBy("user_id")
      .agg(
        asDouble(sum(dec(col("value")) * col("rate"))).as("total_cost"),
        count(lit(1)).as("n_billed"))
  }

  val dbaPricingCostOracle: String =
    """WITH dim AS (SELECT * FROM (VALUES
      |  ('click', 0.010), ('view', 0.005), ('purchase', 0.025),
      |  ('signup', 0.001), ('error', 0.000)) AS t(event_type, rate))
      |SELECT user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(rate AS DECIMAL(8,4))) AS DOUBLE) AS total_cost,
      |  COUNT(*) AS n_billed
      |FROM events JOIN dim USING (event_type)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- B10
  /** Typed CSV import: serialize nation to CSV lines in memory, then parse
    * back through Spark's real CSV datasource path with an explicit schema
    * (the reference's header/inferSchema load, made deterministic).
    */
  def dbaCsvImport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Tables.nation(s, dir)
      .select(concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
      .as[String]
    s.read
      .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
      .option("sep", "|")
      .csv(lines)
      .orderBy("n_nationkey")
  }

  val dbaCsvImportOracle: String =
    "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"

  // ---------------------------------------------------------------- B38
  /** ORC as a STORAGE format (r14 missing #3 — the reference's datagen
    * notebook supports `fileFormat = orc` with tuned ORC confs,
    * TPC-datagen-notebook.scala:131-136): orders round-trip through ORC
    * twice — a hive-partitioned write read back under a partition
    * filter (leg 0: partition pruning must hold on the ORC scan exactly
    * as on parquet) and a plain write read back whole (leg 1: schema +
    * value fidelity). Both legs roll up against DuckDB recomputing from
    * the raw parquet orders, so the ORC writer→reader round trip is
    * hash-checked end to end. Spark's native vectorized ORC source does
    * the work — predicate pushdown and column pruning ride the same
    * DataSource v2 machinery as parquet.
    */
  def dbaOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    ord.write.mode("overwrite").partitionBy("o_orderstatus")
      .orc(s"$base/orders_part")
    ord.write.mode("overwrite").orc(s"$base/orders_flat")
    def roll(df: DataFrame, leg: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("leg", lit(leg))
    val pruned = s.read.orc(s"$base/orders_part")
      .filter(col("o_orderstatus") === "F")
    roll(pruned, 0L)
      .unionByName(roll(s.read.orc(s"$base/orders_flat"), 1L))
      .select("leg", "o_orderstatus", "n", "total")
      .orderBy("leg", "o_orderstatus")
  }

  val dbaOrcRoundtripOracle: String =
    """SELECT leg, o_orderstatus, n, total FROM (
      |  SELECT 0 AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 2
      |  UNION ALL
      |  SELECT 1 AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2) t
      |ORDER BY leg, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B13
  /** Transactional-table round trip through the native Delta-protocol
    * log (graft.sources.DeltaLite — the reference lands every one of its
    * ETL outputs in exactly this format via Databricks' engine, tasks/
    * Query History API to Delta_withmetrics.py:196-230): three commits
    * over the orders table (overwrite, append, overwrite-with-removes),
    * then per-status rollups of BOTH a time-travel read (version 1) and
    * the latest snapshot. Values are oracle-exact against DuckDB
    * recomputing the same slices straight from orders — so log replay,
    * remove-action masking, and version pinning are all hash-checked,
    * not just spec-asserted. Scan cost: each read is an explicit-file
    * parquet scan with pushdown intact (DeltaLiteSpec pins it).
    */
  def dbaDeltaRead(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_q")
      .toString + "/orders_delta"
    val o = graft.Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
    graft.sources.DeltaLite.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
    graft.sources.DeltaLite.commit(s, t,
      o.filter(col("o_orderkey") % 3 === 2), overwrite = true)
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(graft.sources.DeltaLite.read(s, t, Some(1L)), 1L)
      .unionByName(roll(graft.sources.DeltaLite.read(s, t), 2L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  val dbaDeltaReadOracle: String =
    """SELECT version, o_orderstatus, n, total FROM (
      |  SELECT 1 AS version, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY 2
      |  UNION ALL
      |  SELECT 2 AS version, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey % 3 = 2 GROUP BY 2) t
      |ORDER BY version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B14
  /** The same transactional contract as B13, hash-checked on the OTHER
    * open table format (graft.sources.IcebergLite — Apache Iceberg v1
    * metadata + Avro manifests, natively): identical three-commit plan
    * over orders (append, append, overwrite), then per-status rollups of
    * a time-travel read (snapshot 1) and the current snapshot. One
    * oracle, two formats: any divergence between the Delta log-replay
    * path and the Iceberg snapshot-graph path against the same DuckDB
    * recomputation localizes the defect to the format layer, not the
    * query. Scans stay explicit-file parquet with pushdown intact
    * (IcebergLiteSpec pins it).
    */
  def dbaIcebergRead(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_q")
      .toString + "/orders_iceberg"
    val o = graft.Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergLite.commit(s, t, o.filter(col("o_orderkey") % 3 === 0))
    graft.sources.IcebergLite.commit(s, t, o.filter(col("o_orderkey") % 3 === 1))
    graft.sources.IcebergLite.commit(s, t,
      o.filter(col("o_orderkey") % 3 === 2), overwrite = true)
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(graft.sources.IcebergLite.read(s, t, Some(1L)), 1L)
      .unionByName(roll(graft.sources.IcebergLite.read(s, t), 2L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  // same slices, same rollups — deliberately shared with B13
  val dbaIcebergReadOracle: String = dbaDeltaReadOracle

  // ---------------------------------------------------------------- B15
  /** The 100 TB MERGE shape end-to-end: orders lands in a DeltaLite table
    * range-clustered on the merge key (8 files, disjoint key ranges —
    * the layout OPTIMIZE/Z-ORDER maintains), then a key-bounded update
    * batch (keys ≤ max/8, price bump ×1.1) merges via
    * DeltaLite.selectiveMerge — add-stats data skipping rewrites ONLY the
    * file(s) whose key range intersects the batch; the other ~7/8 of the
    * table survives the commit byte-identical (DeltaLiteSpec pins the
    * file economics; this query hash-checks the semantics: the final
    * table must equal a full mergeUpsert, row for row, against DuckDB
    * recomputing the merge from orders).
    */
  def dbaMergeSelective(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_sm")
      .toString + "/orders_delta"
    // ord feeds the commit (whose repartitionByRange ALSO runs a range-
    // sampling pass), the max cutoff and the update slice — each was a
    // separate orders scan + projection. One lazy checkpoint (a few MB of
    // projected columns) collapses them; rows, within-partition order and
    // partition structure are preserved, so the sampled range boundaries
    // and every committed file are byte-identical (guide §2.4 / r20
    // job table, now graft.harness.Probe: the lifecycle family's wall is
    // many small repeated jobs).
    // §5 fault-tolerance tradeoff (here and at the four sibling ord
    // checkpoints below): localCheckpoint truncates lineage and stores
    // the projected table on executor memory+disk — an executor loss
    // mid-operator fails the job instead of recomputing; accepted
    // because the projection is a narrow slice of orders and the
    // alternative is 3-6 full re-scans per operator.
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice")
      .localCheckpoint(false)
    graft.sources.DeltaLite.commit(s, t,
      ord.repartitionByRange(8, col("o_orderkey")))
    val cutoff = ord.agg(max("o_orderkey")).head().getLong(0) / 8
    val updates = ord.filter(col("o_orderkey") <= cutoff)
      .withColumn("o_totalprice", asDouble(dec(col("o_totalprice")) * dec(lit(1.1))))
    graft.sources.DeltaLite.selectiveMerge(s, t, updates, Seq("o_orderkey"))
    graft.sources.DeltaLite.read(s, t)
  }

  val dbaMergeSelectiveOracle: String =
    """WITH c AS (SELECT MAX(o_orderkey) // 8 AS cut FROM orders),
      |src AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |  FROM orders, c WHERE o_orderkey <= cut)
      |SELECT * FROM src
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate, o_totalprice
      |FROM orders, c WHERE o_orderkey > cut
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- B30
  /** The FULL MERGE grammar end-to-end — the conditional clauses
    * (whenMatched(cond).update/delete, whenNotMatchedBySource) real SCD
    * cleanup jobs need and B2/B15's updateAll/insertAll subset lacks:
    * orders lands range-clustered, then ONE clause-merge applies a CDC
    * batch whose `op` column drives the clauses — matched `D` rows
    * DELETE, other matches update price only (×1.2), unmatched source
    * keys insert, and a whenNotMatchedBySource DELETE erases a key band
    * the batch never mentions (which also forces the full-scan merge
    * shape — by-source clauses involve every target row, so pruning is
    * correctly off). The final table is hash-checked row for row against
    * DuckDB recomputing all four clause effects from orders.
    */
  def dbaMergeClauses(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{MergeClause => MC}
    val t = java.nio.file.Files.createTempDirectory("graft_delta_mc")
      .toString + "/orders_delta"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .localCheckpoint(false) // one scan feeds commit+sampling+max+slices (§5 lineage tradeoff: see dbaMergeSelective)
    graft.sources.DeltaLite.commit(s, t,
      ord.repartitionByRange(8, col("o_orderkey")))
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val cut = mx / 8
    val src0 = ord.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice",
        asDouble(dec(col("o_totalprice")) * dec(lit(1.2))))
    val srcU = src0.withColumn("op",
      when(col("o_orderkey") % 3 === 0, "D").otherwise("U"))
    val srcI = src0
      .select((col("o_orderkey") + mx + 1L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      .withColumn("op", lit("I"))
    val clauses = Seq(
      MC.MatchedDelete(Some(col("s.op") === "D")),
      MC.MatchedUpdate(None,
        Map("o_totalprice" -> col("s.o_totalprice"))),
      MC.NotMatchedInsert(None),
      MC.NotMatchedBySourceDelete(Some(
        col("t.o_orderkey") > lit(2L) * cut &&
          col("t.o_orderkey") <= lit(3L) * cut)))
    graft.sources.DeltaLite.selectiveMerge(s, t, srcU.unionByName(srcI),
      Seq("o_orderkey"), clauses = clauses)
    graft.sources.DeltaLite.read(s, t)
      .select("o_orderkey", "o_custkey", "o_totalprice")
  }

  val dbaMergeClausesOracle: String =
    """WITH m AS (SELECT MAX(o_orderkey) AS mx, MAX(o_orderkey) // 8 AS cut
      |           FROM orders)
      |SELECT o_orderkey, o_custkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
      |         CAST(1.2 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
      |  FROM orders, m WHERE o_orderkey <= cut AND o_orderkey % 3 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders, m
      |  WHERE o_orderkey > cut
      |    AND NOT (o_orderkey > 2 * cut AND o_orderkey <= 3 * cut)
      |  UNION ALL
      |  SELECT o_orderkey + mx + 1, o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
      |         CAST(1.2 AS DECIMAL(18,2)) AS DOUBLE)
      |  FROM orders, m WHERE o_orderkey <= cut) t
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- B16
  /** File-skipping READ on the transactional table — the scan-side payoff
    * of the clustering B15 merges against: orders lands range-clustered
    * (8 files, disjoint key ranges), then a key-range slice reads through
    * DeltaLite.readWhere, which drops every file whose add-stats
    * [min,max] misses the range BEFORE Spark sees the file list (the
    * residual predicate still pushes into the surviving scans, so
    * row-group pruning stacks on top). DeltaLiteSpec pins the file
    * economics (1 scanned / 3 skipped; 0 scanned off-range); this query
    * hash-checks that the pruned path loses no rows and keeps exact
    * aggregates against DuckDB filtering the full table.
    */
  def dbaDeltaSkipping(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_skip")
      .toString + "/orders_delta"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, t,
      ord.repartitionByRange(8, col("o_orderkey")))
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val scan = graft.sources.DeltaLite.readWhere(
      s, t, "o_orderkey", mx / 4, mx / 2)
    scan.df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  val dbaDeltaSkippingOracle: String =
    """WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
      |SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders, m
      |WHERE o_orderkey >= mx // 4 AND o_orderkey <= mx // 2
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B17
  /** Net CHANGE FEED between two table versions — the CDC read path a
    * downstream consumer replays instead of re-scanning the table: orders
    * lands range-clustered, one selectiveMerge applies updates (keys ≤
    * max/8, price ×1.1) plus brand-new keys (shifted past max), one
    * selectiveDelete erases the next key band, then
    * DeltaLite.changes(v0 → v2) reads ONLY the files that changed hands
    * and classifies the net row diff into Delta CDF's _change_type
    * vocabulary. Every preimage/postimage/insert/delete row is
    * hash-checked against DuckDB recomputing the same diff from orders —
    * so the exceptAll carry-over cancellation and the per-key
    * classification are value-exact, not just spec-asserted.
    */
  def dbaDeltaChanges(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_cdc")
      .toString + "/orders_delta"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .localCheckpoint(false) // one scan feeds commit+sampling+max+slices (§5 lineage tradeoff: see dbaMergeSelective)
    graft.sources.DeltaLite.commit(s, t,
      ord.repartitionByRange(8, col("o_orderkey")))
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val cut = mx / 8
    val updates = ord.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice",
        asDouble(dec(col("o_totalprice")) * dec(lit(1.1))))
    // shift past mx + 1: orders carries key 0, so a bare +mx shift would
    // collide the k=0 insert with the existing max-key row
    val inserts = ord.filter(col("o_orderkey") <= cut)
      .select((col("o_orderkey") + mx + 1L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
    graft.sources.DeltaLite.selectiveMerge(
      s, t, updates.unionByName(inserts), Seq("o_orderkey"))
    graft.sources.DeltaLite.selectiveDelete(s, t,
      ord.filter(col("o_orderkey") > cut && col("o_orderkey") <= 2L * cut)
        .select("o_orderkey"),
      Seq("o_orderkey"))
    graft.sources.DeltaLite.changes(s, t, 0L, 2L, Seq("o_orderkey"))
      .select("_change_type", "o_orderkey", "o_custkey", "o_totalprice")
  }

  val dbaDeltaChangesOracle: String =
    """WITH m AS (SELECT MAX(o_orderkey) AS mx, MAX(o_orderkey) // 8 AS cut
      |           FROM orders)
      |SELECT _change_type, o_orderkey, o_custkey, o_totalprice FROM (
      |  SELECT 'update_preimage' AS _change_type, o_orderkey, o_custkey,
      |    o_totalprice
      |  FROM orders, m WHERE o_orderkey <= cut
      |  UNION ALL
      |  SELECT 'update_postimage', o_orderkey, o_custkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
      |         CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE)
      |  FROM orders, m WHERE o_orderkey <= cut
      |  UNION ALL
      |  SELECT 'insert', o_orderkey + mx + 1, o_custkey, o_totalprice
      |  FROM orders, m WHERE o_orderkey <= cut
      |  UNION ALL
      |  SELECT 'delete', o_orderkey, o_custkey, o_totalprice
      |  FROM orders, m
      |  WHERE o_orderkey > cut AND o_orderkey <= 2 * cut) t
      |ORDER BY _change_type, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- B18
  /** Incremental consumption on the OTHER format — Iceberg's
    * append-changelog surface, the B17 counterpart: orders lands as four
    * append snapshots (quarter slices), then
    * IcebergLite.incrementalRead(snap 0 → snap 2] returns exactly the
    * rows snapshots 1 and 2 added, scanning ONLY their files (the
    * snapshot file-set difference under the append-only contract; an
    * overwrite in range is refused loudly — IcebergLiteSpec pins both).
    * The rollup of the delta is hash-checked against DuckDB recomputing
    * the two quarter slices from orders.
    */
  def dbaIcebergChanges(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_inc")
      .toString + "/orders_iceberg"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .localCheckpoint(false) // one scan feeds all four quartile commits (§5 lineage tradeoff: see dbaMergeSelective)
    (0 to 3).foreach { q =>
      graft.sources.IcebergLite.commit(s, t,
        ord.filter(col("o_orderkey") % 4 === q))
    }
    graft.sources.IcebergLite.incrementalRead(s, t, 0L, Some(2L))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  val dbaIcebergChangesOracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey % 4 IN (1, 2)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B29
  /** ROW-LEVEL change feed on the Iceberg side — B17's exact contract on
    * the OTHER format (B18 covers only the append changelog;
    * IcebergLite.changes closes the delete/rewrite gap r13 left): orders
    * lands range-clustered as one snapshot, one selectiveMerge applies
    * updates (keys ≤ max/8, price ×1.1) plus brand-new keys, one
    * merge-on-read deleteRows (POSITION delete files — no data rewrite)
    * erases the next key band, then IcebergLite.changes(snap 0 → current)
    * classifies the net visibility diff into the CDF vocabulary. Same
    * oracle as B17 — two formats, one DuckDB recomputation, so a
    * divergence localizes to the format layer.
    */
  def dbaIcebergChangesRows(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_cdc")
      .toString + "/orders_iceberg"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .localCheckpoint(false) // one scan feeds commit+sampling+max+slices (§5 lineage tradeoff: see dbaMergeSelective)
    graft.sources.IcebergLite.commit(s, t,
      ord.repartitionByRange(8, col("o_orderkey")))
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val cut = mx / 8
    val updates = ord.filter(col("o_orderkey") <= cut)
      .withColumn("o_totalprice",
        asDouble(dec(col("o_totalprice")) * dec(lit(1.1))))
    val inserts = ord.filter(col("o_orderkey") <= cut)
      .select((col("o_orderkey") + mx + 1L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
    graft.sources.IcebergLite.selectiveMerge(
      s, t, updates.unionByName(inserts), Seq("o_orderkey"))
    graft.sources.IcebergLite.deleteRows(s, t,
      ord.filter(col("o_orderkey") > cut && col("o_orderkey") <= 2L * cut)
        .select("o_orderkey"),
      Seq("o_orderkey"))
    graft.sources.IcebergLite.changes(s, t, 0L, None, Seq("o_orderkey"))
      .select("_change_type", "o_orderkey", "o_custkey", "o_totalprice")
  }

  // deliberately shared with B17 (two formats, one recomputation)
  val dbaIcebergChangesRowsOracle: String = dbaDeltaChangesOracle

  // ---------------------------------------------------------------- B19
  /** The Z-ORDER payoff end-to-end ON the transactional format: orders
    * lands round-robin (every file spans every key range — the layout
    * accumulated interleaved writes leave, where stats skipping is
    * useless), then ONE `DeltaLite.optimizeZorder(o_custkey, o_orderkey)`
    * commit re-clusters on the Morton interleave, and a range read on the
    * SECOND z-column still skips files — the multi-column locality a
    * linear sort on o_custkey cannot give (DeltaLiteSpec pins the file
    * economics on both columns; this query hash-checks that the rewrite
    * lost/duplicated nothing and the pruned read stays value-exact).
    *
    * Optimization declined (r21, the r20-verdict pinned-boundaries item,
    * quantified by the graft.harness.Probe job table): isolated total
    * 1.43 s, of which the wall is the two commits (initial write + the
    * OPTIMIZE rewrite with its Morton interleave + per-column max
    * probes) — distributed,
    * data-proportional work that IS the modeled operation. The avoidable
    * pieces are one duplicate orders scan (~0.1 s; only 2 consumers, so
    * a checkpoint is a wash: materialize+read ≈ scan+scan) and the
    * rewrite's range-sampling pass (~0.1 s) — but pinning literal range
    * boundaries changes which rows land in which file, and this
    * operator's OUTPUT depends on the layout (the skip counts ride the
    * per-file key ranges), so boundary pinning is a result-hash risk
    * for ≲0.2 s of upside. Declined; same analysis for
    * [[dbaLiquidCluster]].
    */
  def dbaZorderSkipping(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_zs")
      .toString + "/orders_delta"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, t, ord.repartition(8))
    // bit width auto-sizes from the data (optimizeZorder probes each
    // column's max) — a wrap (key mod 2^bits) would shred the locality
    // the rewrite exists to create
    graft.sources.DeltaLite.optimizeZorder(
      s, t, Seq("o_custkey", "o_orderkey"), targetFiles = 8)
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val scan = graft.sources.DeltaLite.readWhere(
      s, t, "o_orderkey", mx / 4, mx / 2)
    scan.df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  // deliberately shares B16's slice + rollup: same answer through the
  // interleave→Z-ORDER→skip path localizes any divergence to the rewrite
  val dbaZorderSkippingOracle: String = dbaDeltaSkippingOracle

  // ---------------------------------------------------------------- B34
  /** LIQUID CLUSTERING end to end — the layout modern Delta engines
    * default to (declared keys in the `delta.clustering` domain, OPTIMIZE
    * re-clusters, no hive dirs): orders lands scattered, `clusterBy`
    * declares (o_custkey, o_orderkey) metadata-only, a plain OPTIMIZE
    * (no ZORDER BY — the table's own keys drive the rewrite) re-clusters
    * through the shared Z-order kernel, and the same key-range slice as
    * B16/B19 reads through add-stats pruning on the clustered layout.
    * Shares B16's oracle: a wrong answer localizes to the clustering
    * rewrite or the domain plumbing, nothing else.
    *
    * Optimization declined (r21): isolated total 1.99 s, wall = the two
    * commits + the clusterBy metadata commit — the lifecycle semantics
    * itself; the skip counts depend on the clustered file layout, so
    * the pinned-boundaries idea is the same result-hash risk quantified
    * at [[dbaZorderSkipping]] (≲0.2 s upside). Declined.
    */
  def dbaLiquidCluster(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_liquid")
      .toString + "/orders_liquid"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, t, ord.repartition(8))
    graft.sources.DeltaLite.clusterBy(s, t, Seq("o_custkey", "o_orderkey"))
    graft.sources.DeltaLite.optimizeCompact(s, t, targetFiles = 8)
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val scan = graft.sources.DeltaLite.readWhere(
      s, t, "o_orderkey", mx / 4, mx / 2)
    scan.df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  val dbaLiquidClusterOracle: String = dbaDeltaSkippingOracle

  // ---------------------------------------------------------------- B20
  /** File-skipping READ on the OTHER format — B16's contract through
    * Iceberg's spec `lower_bounds`/`upper_bounds` manifest maps instead
    * of Delta's add-stats JSON: orders lands range-clustered in an
    * IcebergLite table (commit writes per-column bounds from the parquet
    * footers), then the same key-range slice reads via
    * IcebergLite.readWhere — pruning decided from MANIFEST metadata
    * alone, residual predicate pushed into the surviving scans. Shares
    * B16's oracle: one DuckDB recomputation checks both formats' bounds
    * encode/decode + prune paths, so a divergence localizes to the
    * format layer.
    */
  def dbaIcebergSkipping(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_skip")
      .toString + "/orders_iceberg"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergLite.commit(s, t,
      ord.repartitionByRange(8, col("o_orderkey")))
    val mx = ord.agg(max("o_orderkey")).head().getLong(0)
    val scan = graft.sources.IcebergLite.readWhere(
      s, t, "o_orderkey", mx / 4, mx / 2)
    scan.df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  val dbaIcebergSkippingOracle: String = dbaDeltaSkippingOracle

  // ---------------------------------------------------------------- B21
  /** Deletion vectors + column mapping end to end — the table shape
    * current Delta engines write BY DEFAULT (the reference's own MERGE
    * feeds land DV-enabled tables, tasks/Query History API to
    * Delta_withmetrics.py:196-230), which rounds 1-11 refused at the
    * protocol gate: orders lands in a COLUMN-MAPPED DeltaLite table
    * (physical `col-<id>` parquet names, logical schema in metaData),
    * then a merge-on-read DELETE records every `o_orderkey ≡ 3 (mod 7)`
    * row in roaring-bitmap deletion vectors — data files untouched, the
    * commit is kilobytes of sidecar. The query rolls up BOTH the
    * pre-delete version (time travel — DVs not yet applied) and the
    * current snapshot (DV-masked scan through the broadcast probe
    * expression), so the oracle hash-checks the full chain: mapped
    * write, physical→logical relabel, bitmap round trip, and row-index
    * masking against DuckDB recomputing both slices from orders.
    */
  def dbaDeltaDv(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_dv")
      .toString + "/orders_dv"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, t,
      ord.repartitionByRange(4, col("o_orderkey")), columnMapping = true)
    graft.sources.DeltaLite.deleteVectors(s, t,
      ord.filter(col("o_orderkey") % 7 === 3).select("o_orderkey"),
      Seq("o_orderkey"))
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(graft.sources.DeltaLite.read(s, t, Some(0L)), 0L)
      .unionByName(roll(graft.sources.DeltaLite.read(s, t), 1L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  val dbaDeltaDvOracle: String =
    """SELECT version, o_orderstatus, n, total FROM (
      |  SELECT 0 AS version, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 1 AS version, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey % 7 <> 3 GROUP BY 2) t
      |ORDER BY version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B22
  /** Iceberg v2 merge-on-read deletes end to end — B21's contract on the
    * OTHER open format: orders lands in an IcebergLite table, a
    * POSITIONAL delete file (spec content=1, file_path + pos rows,
    * routed through a DELETE manifest with explicit sequence numbers)
    * records every `o_orderkey ≡ 3 (mod 7)` row — no data file is
    * rewritten — then BOTH the pre-delete snapshot (time travel) and the
    * delete-masked current snapshot roll up. Shares B21's oracle: one
    * DuckDB recomputation checks both formats' merge-on-read channels
    * (Delta roaring-bitmap DVs vs Iceberg delete files), so a
    * divergence localizes to the format layer, not the query.
    *
    * Decade adjudication (r20, quiet host — pre-run load 0.02, zero
    * steal — 8-run isolated minima with q1_pricing_summary as the frozen
    * control at 1.53×): sf0.1 → sf1-equiv ratio **2.42×** (1.52 → 3.69 s).
    * The two-point decomposition is wall ≈ 1.28 s fixed lifecycle
    * (table commit + delete-manifest planning + two snapshot reads'
    * metadata) + 0.24 s per sf0.1-unit of data, and the data term grew
    * exactly 10× across the decade — LINEAR in data (writes + DV encode
    * + masked scan, all distributed), no super-linear structure. The
    * ratio sits above 2 only because the fixed intercept hasn't fully
    * damped a workload that genuinely writes the table twice; at cluster
    * scale the slope term is embarrassingly parallel. Verdict: intercept
    * + linear slope, not growth — off the watch list.
    */
  def dbaIcebergDv(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_dv")
      .toString + "/orders_dv"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergLite.commit(s, t,
      ord.repartitionByRange(4, col("o_orderkey")))
    val preId = graft.sources.IcebergLite.snapshot(s, t).snapshotId
    graft.sources.IcebergLite.deleteRows(s, t,
      ord.filter(col("o_orderkey") % 7 === 3).select("o_orderkey"),
      Seq("o_orderkey"))
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(graft.sources.IcebergLite.read(s, t, Some(preId)), 0L)
      .unionByName(roll(graft.sources.IcebergLite.read(s, t), 1L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  // same slices, same rollups — deliberately shared with B21 (two
  // formats, one recomputation)
  val dbaIcebergDvOracle: String = dbaDeltaDvOracle

  // ---------------------------------------------------------------- B37
  /** Iceberg FORMAT-VERSION 3 end to end — deletion vectors in Puffin
    * files (the v3 spec's replacement for positional delete files,
    * where current-generation writers are headed; same shape as the
    * Delta DV work, one shared bitmap kernel): orders land as v2, a
    * v3 DV delete masks every 7≡3 key (metadata moves to
    * format-version 3, bitmaps land as `deletion-vector-v1` blobs in
    * ONE Puffin file, one manifest entry per referenced data file),
    * and BOTH legs — time travel to the pre-delete snapshot and the
    * post-delete read through the DV masks — roll up against DuckDB
    * recomputing from raw orders. Shares B21/B22's oracle (three
    * delete shapes, one recomputation).
    *
    * Decade adjudication (r20, same quiet-host 8-run isolated cycle as
    * [[dbaIcebergDv]]): ratio **2.18×** (1.05 → 2.28 s) = 0.91 s fixed
    * lifecycle + 0.137 s per sf0.1-unit, the data term exactly 10×
    * across the decade — linear in data (v2 write + Puffin DV encode +
    * masked scan), no super-linearity. Same verdict as the DV twin:
    * intercept + linear slope.
    */
  def dbaIcebergV3(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_v3")
      .toString + "/orders_v3"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergLite.commit(s, t,
      ord.repartitionByRange(4, col("o_orderkey")))
    val preId = graft.sources.IcebergLite.snapshot(s, t).snapshotId
    graft.sources.IcebergLite.deleteRowsV3(s, t,
      ord.filter(col("o_orderkey") % 7 === 3).select("o_orderkey"),
      Seq("o_orderkey"))
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(graft.sources.IcebergLite.read(s, t, Some(preId)), 0L)
      .unionByName(roll(graft.sources.IcebergLite.read(s, t), 1L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  val dbaIcebergV3Oracle: String = dbaDeltaDvOracle

  // ---------------------------------------------------------------- B23
  /** Zero-copy format conversion BOTH ways (the `CONVERT TO` / UniForm
    * verb, graft.sources.FormatConvert): orders lands in a DeltaLite
    * table and is converted — metadata only, not a byte of data moved —
    * to an Iceberg table whose manifests reference the SAME parquet
    * files; the mirror leg lands orders in IcebergLite and converts to
    * Delta the same way. The query rolls up each CONVERTED table
    * through the DESTINATION format's reader, so the oracle hash-checks
    * both conversion directions end to end: schema translation, file
    * referencing, and the destination reader's scan of foreign-written
    * files. Skipping stats are recomputed from the footers at
    * conversion (spec pins that readWhere still prunes on both
    * converted tables).
    */
  def dbaConvertRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_convert").toString
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, s"$base/d1",
      ord.repartitionByRange(4, col("o_orderkey")))
    graft.sources.FormatConvert.deltaToIceberg(s, s"$base/d1", s"$base/i1")
    graft.sources.IcebergLite.commit(s, s"$base/i2",
      ord.repartitionByRange(4, col("o_orderkey")))
    graft.sources.FormatConvert.icebergToDelta(s, s"$base/i2", s"$base/d2")
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("direction", lit(v))
    roll(graft.sources.IcebergLite.read(s, s"$base/i1"), 0L)
      .unionByName(roll(graft.sources.DeltaLite.read(s, s"$base/d2"), 1L))
      .select("direction", "o_orderstatus", "n", "total")
      .orderBy("direction", "o_orderstatus")
  }

  val dbaConvertRoundtripOracle: String =
    """SELECT direction, o_orderstatus, n, total FROM (
      |  SELECT 0 AS direction, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 1 AS direction, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2) t
      |ORDER BY direction, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B24
  /** Iceberg PARTITION TRANSFORMS end to end — the layout production
    * Iceberg tables overwhelmingly use (days/months/years over event
    * time + bucket over a key), which rounds 1-12 could read but not
    * prune: orders lands in an IcebergLite table partitioned by
    * `years(o_orderdate), bucket(4, o_custkey)` (derived partition
    * values in the dirs, source columns kept in the data files, the
    * real transform strings in the spec), then two pruned reads go
    * through IcebergLite.readWherePart — a two-year time slice (year
    * transform prunes the range) and the same slice for ONE customer
    * (bucket transform prunes the equality via the spec's murmur3, the
    * hash real engines write). Planning is manifest-metadata only; at
    * 100 TB a transform-partitioned scan plans away almost the whole
    * file set before Spark sees a path. The oracle recomputes both
    * slices from raw orders, so a hash match certifies the whole chain:
    * transform derivation at write, spec round-trip, partition-value
    * pruning, residual pushdown.
    */
  def dbaIcebergTransforms(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_tf")
      .toString + "/orders_tf"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate",
        "o_orderstatus", "o_totalprice")
    IcebergLite.commit(s, t, ord.coalesce(2),
      partitionTransforms = Seq("years(o_orderdate)", "bucket(4, o_custkey)"))
    val lo = "1994-01-01"; val hi = "1995-12-31T23:59:59"
    val range = IcebergLite.readWherePart(s, t, Seq(
      IcebergLite.PartPred("o_orderdate", lo = lo, hi = hi)))
    val point = IcebergLite.readWherePart(s, t, Seq(
      IcebergLite.PartPred("o_orderdate", lo = lo, hi = hi),
      IcebergLite.PartPred("o_custkey", eq = 7L)))
    def roll(scan: graft.sources.IcebergLite.SkippingScan,
             leg: String): DataFrame =
      scan.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("leg", lit(leg))
    roll(range, "range").unionByName(roll(point, "point"))
      .select("leg", "o_orderstatus", "n", "total")
      .orderBy("leg", "o_orderstatus")
  }

  val dbaIcebergTransformsOracle: String =
    """SELECT leg, o_orderstatus, n, total FROM (
      |  SELECT 'range' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'
      |  GROUP BY 2
      |  UNION ALL
      |  SELECT 'point' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders
      |  WHERE o_custkey = 7
      |    AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      |    AND o_orderdate <= TIMESTAMP '1995-12-31 23:59:59'
      |  GROUP BY 2) t
      |ORDER BY leg, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B25
  /** Iceberg EQUALITY deletes through the oracle gate — B22 exercises
    * the positional channel; this is the other v2 delete kind, the one
    * streaming CDC writers use (O(batch) write: the delete file carries
    * only the KEYS, no scan to find positions): orders lands in an
    * IcebergLite table, an equality delete file records the
    * `o_orderkey ≡ 3 (mod 7)` keys, and both the pre-delete snapshot
    * and the masked current snapshot roll up. Shares B21/B22's oracle —
    * one DuckDB recomputation now checks Delta DVs, Iceberg positional,
    * AND Iceberg equality, so a divergence localizes to the channel.
    *
    * Decade adjudication (r20, same quiet-host 8-run isolated cycle as
    * [[dbaIcebergDv]]): ratio **1.78×** (1.34 → 2.37 s) — under the 2×
    * bar outright; decomposition 1.22 s fixed lifecycle + 0.115 s per
    * sf0.1-unit, linear in data. The cheapest of the three delete
    * channels at the decade, as the O(batch) equality write predicts.
    */
  def dbaIcebergEqDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("graft_iceberg_eqdel")
      .toString + "/orders_eq"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    IcebergLite.commit(s, t, ord.repartitionByRange(4, col("o_orderkey")))
    val preId = IcebergLite.snapshot(s, t).snapshotId
    IcebergLite.deleteRows(s, t,
      ord.filter(col("o_orderkey") % 7 === 3).select("o_orderkey"),
      Seq("o_orderkey"), equality = true)
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(IcebergLite.read(s, t, Some(preId)), 0L)
      .unionByName(roll(IcebergLite.read(s, t), 1L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  // the same slices as B21/B22 — three merge-on-read channels, one
  // recomputation
  val dbaIcebergEqDeleteOracle: String = dbaDeltaDvOracle

  // ---------------------------------------------------------------- B26
  /** The STREAMING TABLE SOURCE under the oracle gate — TableStreams'
    * exactly-once contract hash-checked cross-engine, not just
    * spec-asserted: orders lands in a DeltaLite table as two commits, a
    * Structured Streaming query consumes it via
    * EventStreams.readDeltaStream (initial snapshot = first micro-batch)
    * into an append parquet sink, a THIRD commit lands while the query
    * runs (arrives as its own micro-batch), and the accumulated sink is
    * rolled up. A row delivered zero times or twice — by the initial
    * snapshot, the live tail, or their boundary — breaks the hash
    * against DuckDB recomputing from raw orders. The reference's
    * poll-and-append ETL loop, end to end.
    */
  def dbaDeltaStream(s: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_dstream_q")
      .toString
    val t = s"$base/orders_stream"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    def slice(m: Int) = ord.filter(col("o_orderkey") % 3 === m)
    graft.sources.DeltaLite.commit(s, t, slice(0))
    graft.sources.DeltaLite.commit(s, t, slice(1))
    val q = graft.streaming.EventStreams.readDeltaStream(s, t)
      .writeStream
      .option("checkpointLocation", s"$base/cp")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$base/out")
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      graft.sources.DeltaLite.commit(s, t, slice(2)) // arrives LIVE
      q.processAllAvailable()
    } finally q.stop()
    s.read.parquet(s"$base/out")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .orderBy("o_orderstatus")
  }

  val dbaDeltaStreamOracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B27
  /** Hive-PARTITIONED Delta tables end to end — the most common
    * production Delta layout, which rounds 1-12 could not write or
    * read (partition columns live in the dirs/log, NOT the data files):
    * orders lands partitioned by `o_orderstatus`, the full table reads
    * back through the partition-value re-attachment path (every row's
    * status must come back right for the hash to match), and a
    * one-partition slice reads through readWhere's partitionValues
    * pruning — at 100 TB this prune is the difference between scanning
    * a partition and scanning a table. The oracle recomputes both
    * legs from raw orders.
    */
  def dbaDeltaPartitioned(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = java.nio.file.Files.createTempDirectory("graft_delta_part")
      .toString + "/orders_part"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    DeltaLite.commit(s, t, ord.coalesce(2), partitionBy = Seq("o_orderstatus"))
    val full = DeltaLite.read(s, t)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .withColumn("leg", lit("full"))
    val slice = DeltaLite.readWhere(s, t, "o_orderstatus", "F", "F").df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        asDouble(sum(dec(col("o_totalprice")))).as("total"))
      .withColumn("leg", lit("slice"))
    full.unionByName(slice)
      .select("leg", "o_orderstatus", "n", "total")
      .orderBy("leg", "o_orderstatus")
  }

  val dbaDeltaPartitionedOracle: String =
    """SELECT leg, o_orderstatus, n, total FROM (
      |  SELECT 'full' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'slice' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 2) t
      |ORDER BY leg, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- B31
  /** Writer-feature enforcement end to end — CHECK constraints,
    * generated columns, and identity columns (the legacy writer-protocol
    * capabilities rounds 1–13 REFUSED, now enforced at commit time;
    * TableFeaturesSpec holds the unit surface, this query holds the
    * oracle): orders land in a feature-bearing Delta table in two
    * deterministic slices (the identity watermark must carry across the
    * append), a violating third commit must land NOTHING (an accepted
    * row would change every count below), and the generated year column
    * must come back from the log-declared expression. Output: per-year
    * counts + identity-sum fingerprints — fully sensitive to the rid
    * assignment. Scale note: identity assignment itself is distributed
    * (per-partition offsets, no sort) AND the fixture is too —
    * range-ascending partitions make the kernel's partition-order
    * assignment equal the oracle's global row_number without a
    * one-task sort.
    */
  def dbaConstraints(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = java.nio.file.Files.createTempDirectory("graft_features")
      .toString + "/orders_feat"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    // Arrival-order determinism WITHOUT a one-task sort: range partitions
    // ascend with the key and rows sort within each, so the identity
    // kernel's partition-order assignment equals the oracle's global
    // row_number — at any partition count. localCheckpoint pins the
    // partitioning across the kernel's count and write jobs (range
    // sampling alone is not two-pass stable).
    val s1 = ord.filter(col("o_orderkey") % 4 =!= 0)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").localCheckpoint()
    val s2 = ord.filter(col("o_orderkey") % 4 === 0)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").localCheckpoint()
    DeltaLite.commitWithFeatures(s, t, s1,
      generated = Map("yr" -> "cast(year(o_orderdate) as bigint)"),
      identity = Map("rid" -> DeltaLite.IdentitySpec()),
      constraints = Map("price_pos" -> "o_totalprice > 0"))
    DeltaLite.commit(s, t, s2) // the watermark carries across the append
    try {
      DeltaLite.commit(s, t, s2.limit(1)
        .withColumn("o_totalprice", lit(-1.0)))
      throw new IllegalStateException("constraint not enforced")
    } catch { case _: IllegalArgumentException => () }
    DeltaLite.read(s, t)
      .groupBy("yr")
      .agg(count(lit(1)).as("n"), sum("rid").as("rid_sum"),
        min("rid").as("rid_min"), max("rid").as("rid_max"))
      .orderBy("yr")
  }

  val dbaConstraintsOracle: String =
    """WITH s1 AS (
      |  SELECT o_orderdate, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
      |  FROM orders WHERE o_orderkey % 4 <> 0),
      |s2 AS (
      |  SELECT o_orderdate, (SELECT COUNT(*) FROM s1)
      |    + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rid
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      |SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, COUNT(*) AS n,
      |  CAST(SUM(rid) AS BIGINT) AS rid_sum,
      |  MIN(rid) AS rid_min, MAX(rid) AS rid_max
      |FROM u GROUP BY 1 ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------- B32
  /** Iceberg branch/tag refs end to end — the WRITE-AUDIT-PUBLISH
    * staging shape (stage on a branch, validate, fast-forward main):
    * a base slice of orders lands on main, a second slice commits to
    * the `staging` branch; main must NOT see it before the publish,
    * the branch read must, and after `fastForward` main and branch
    * agree. Three oracle-checked legs over counts + key fingerprints.
    */
  def dbaIcebergRefs(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.IcebergLite
    val t = java.nio.file.Files.createTempDirectory("graft_refs")
      .toString + "/orders_refs"
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
    IcebergLite.commit(s, t, ord.filter(col("o_orderkey") % 3 === 0))
    IcebergLite.createBranch(s, t, "staging")
    IcebergLite.commitToBranch(s, t, "staging",
      ord.filter(col("o_orderkey") % 3 === 1))
    def leg(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n"),
        sum("o_orderkey").as("keysum")).withColumn("leg", lit(name))
    val before = leg(IcebergLite.read(s, t), "main_before")
    val branch = leg(IcebergLite.readRef(s, t, "staging"), "branch")
    IcebergLite.fastForward(s, t, "staging")
    val after = leg(IcebergLite.read(s, t), "main_after")
    before.unionByName(branch).unionByName(after)
      .select("leg", "n", "keysum").orderBy("leg")
  }

  val dbaIcebergRefsOracle: String =
    """SELECT leg, n, keysum FROM (
      |  SELECT 'branch' AS leg, COUNT(*) AS n,
      |    CAST(SUM(o_orderkey) AS BIGINT) AS keysum
      |  FROM orders WHERE o_orderkey % 3 <= 1
      |  UNION ALL
      |  SELECT 'main_after' AS leg, COUNT(*) AS n,
      |    CAST(SUM(o_orderkey) AS BIGINT) AS keysum
      |  FROM orders WHERE o_orderkey % 3 <= 1
      |  UNION ALL
      |  SELECT 'main_before' AS leg, COUNT(*) AS n,
      |    CAST(SUM(o_orderkey) AS BIGINT) AS keysum
      |  FROM orders WHERE o_orderkey % 3 = 0) t
      |ORDER BY leg""".stripMargin

  // ---------------------------------------------------------------- B33
  /** ROW TRACKING end to end — durable row ids on a Delta table (the
    * `rowTracking` writer feature modern engines set by default):
    * orders land in a deterministic sorted slice, enablement BACKFILLS
    * ids 0..n-1 metadata-only, a second sorted slice appends past the
    * watermark, and a DV delete (merge-on-read — no file rewritten)
    * must leave every surviving id UNTOUCHED. The oracle recomputes the
    * id assignment as row_number arithmetic and applies the same
    * delete. Output: per-year counts + row-id fingerprints.
    */
  def dbaRowTracking(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = java.nio.file.Files.createTempDirectory("graft_rowtrack")
      .toString + "/orders_rt"
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    // same distributed deterministic-order construction as
    // dbaConstraints: range-ascending partitions + within-partition sort
    // make the file-order backfill equal the oracle's row_number
    val s1 = ord.filter(col("o_orderkey") % 4 =!= 0)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").localCheckpoint()
    val s2 = ord.filter(col("o_orderkey") % 4 === 0)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").localCheckpoint()
    DeltaLite.commit(s, t, s1)
    DeltaLite.enableRowTracking(s, t) // backfill: ids 0..|s1|-1
    DeltaLite.commit(s, t, s2)        // fresh range past the watermark
    // merge-on-read delete: every 10th key masks out, ids stay stable
    DeltaLite.deleteVectors(s, t,
      ord.filter(col("o_orderkey") % 10 === 0).select(
        col("o_orderkey")), Seq("o_orderkey"))
    DeltaLite.readWithRowIds(s, t)
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(count(lit(1)).as("n"), sum("_row_id").as("rid_sum"),
        max("_row_id").as("rid_max"))
      .orderBy("yr")
  }

  val dbaRowTrackingOracle: String =
    """WITH s1 AS (
      |  SELECT o_orderkey, o_orderdate,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 4 <> 0),
      |s2 AS (
      |  SELECT o_orderkey, o_orderdate, (SELECT COUNT(*) FROM s1)
      |    + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      |SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, COUNT(*) AS n,
      |  CAST(SUM(rid) AS BIGINT) AS rid_sum, MAX(rid) AS rid_max
      |FROM u WHERE o_orderkey % 10 <> 0
      |GROUP BY 1 ORDER BY yr""".stripMargin

  // ---------------------------------------------------------------- B35
  /** IN-COMMIT TIMESTAMPS end to end — the `inCommitTimestamp` writer
    * feature (the authoritative commit clock lives INSIDE each commit,
    * not in fs mtimes): an even-keys slice of orders lands, enablement
    * stamps its own commit, an odd-keys append stamps a strictly later
    * one, and TIMESTAMP AS OF at each recorded stamp must resolve
    * exactly that snapshot — the `at_enable` leg must NOT see the
    * append. Both legs roll up per order status against DuckDB
    * recomputing from raw orders.
    */
  def dbaDeltaIct(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.DeltaLite
    val t = java.nio.file.Files.createTempDirectory("graft_ict")
      .toString + "/orders_ict"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    DeltaLite.commit(s, t, ord.filter(col("o_orderkey") % 2 === 0)) // v0
    DeltaLite.enableInCommitTimestamps(s, t)                        // v1
    DeltaLite.commit(s, t, ord.filter(col("o_orderkey") % 2 =!= 0)) // v2
    val icts: Map[Long, Long] = DeltaLite.history(s, t)
      .select("version", "in_commit_timestamp").collect()
      .flatMap(r => Option(r.get(1)).map(t => r.getLong(0) ->
        t.asInstanceOf[Long])).toMap
    def leg(df: DataFrame, name: String): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("leg", lit(name))
    leg(DeltaLite.readAsOf(s, t, icts(1L)), "at_enable")
      .unionByName(leg(DeltaLite.readAsOf(s, t, icts(2L)), "tip"))
      .select("leg", "o_orderstatus", "n", "total")
      .orderBy("leg", "o_orderstatus")
  }

  // ---------------------------------------------------------------- B36
  /** UNIVERSAL FORMAT end to end — one copy of the data, two table
    * faces: orders lands as Delta, the `delta.universalFormat
    * .enabledFormats=iceberg` property turns on the Iceberg face, an
    * append re-syncs it, and BOTH faces must roll up identically —
    * the Iceberg leg reads the very same parquet files through
    * manifest planning, so a drift in the face's file list or bounds
    * breaks the hash against DuckDB recomputing from raw orders.
    */
  def dbaUniform(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{DeltaLite, IcebergLite}
    val t = java.nio.file.Files.createTempDirectory("graft_uniform")
      .toString + "/orders_uniform"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    DeltaLite.commit(s, t,
      ord.filter(col("o_orderkey") % 2 === 0).repartition(4))
    DeltaLite.setTableProperty(s, t,
      "delta.universalFormat.enabledFormats", "iceberg")
    DeltaLite.commit(s, t, ord.filter(col("o_orderkey") % 2 =!= 0))
    def leg(df: DataFrame, name: String): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("leg", lit(name))
    leg(DeltaLite.read(s, t), "delta")
      .unionByName(leg(IcebergLite.read(s, t), "iceberg"))
      .select("leg", "o_orderstatus", "n", "total")
      .orderBy("leg", "o_orderstatus")
  }

  val dbaUniformOracle: String =
    """SELECT leg, o_orderstatus, n, total FROM (
      |  SELECT 'delta' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2
      |  UNION ALL
      |  SELECT 'iceberg' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2) t
      |ORDER BY leg, o_orderstatus""".stripMargin

  val dbaDeltaIctOracle: String =
    """SELECT leg, o_orderstatus, n, total FROM (
      |  SELECT 'at_enable' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 2
      |  UNION ALL
      |  SELECT 'tip' AS leg, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2) t
      |ORDER BY leg, o_orderstatus""".stripMargin

  // ------------------------------------------------------------ registry
  // ---------------------------------------------------------------- B12
  /** Hot-key skew report — the diagnostic a DBA runs BEFORE a big join or
    * window stalls: the k hottest values of a prospective shuffle key,
    * each with its share of all rows and its ratio over the mean key
    * load (the straggler factor a window partition on this key would
    * see; ≥10× is where this library's skew-safe variants earn their
    * premium). One map-side-combined count aggregation + a 1-row
    * broadcast of the global stats + a rank top-k — nothing here windows
    * over data volume, so the report itself is hot-key-immune.
    */
  def keySkewReport(df: DataFrame, key: Column, topK: Int = 10): DataFrame = {
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("__total"), count(lit(1)).as("__nkeys"))
    counts.join(broadcast(totals))
      .withColumn("share", col("cnt").cast("double") / col("__total"))
      .withColumn("skew_ratio",
        col("cnt").cast("double") * col("__nkeys") / col("__total"))
      // distributed top-k (TakeOrdered), THEN rank the ≤topK survivors —
      // a global row_number window would funnel every key through one
      // task, the very straggler shape this report exists to expose
      .orderBy(col("cnt").desc, col("key"))
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("key"))))
      .select("rank", "key", "cnt", "share", "skew_ratio")
      .orderBy("rank")
  }

  /** B12 query: hottest event users (the feed a streaming upsert keys on). */
  def dbaSkewReport(s: SparkSession, dir: String): DataFrame =
    keySkewReport(graft.Tables.events(s, dir), col("user_id"))

  val dbaSkewReportOracle: String =
    """WITH c AS (SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY 1),
      |s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
      |             COUNT(*) AS nkeys FROM c)
      |SELECT rank, key, cnt, share, skew_ratio FROM (
      |  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank, key, cnt,
      |    CAST(cnt AS DOUBLE) / total AS share,
      |    CAST(cnt AS DOUBLE) * nkeys / total AS skew_ratio
      |  FROM c, s) t
      |WHERE rank <= 10 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- B28
  /** Delta V2 (sidecar-style) checkpoints end to end — the checkpoint
    * shape current engines write for `v2Checkpoint`-feature tables:
    * orders lands in two commits, [[graft.sources.DeltaLite.checkpointV2]]
    * publishes the protocol upgrade (v3/v7 table features) and writes the
    * sidecar checkpoint, and the CURRENT read below bootstraps from it —
    * the checkpoint version IS the tip, so the file list comes entirely
    * from the `_delta_log/_sidecars/` parquet, not JSON replay. Version 0
    * time-travels below the checkpoint (classic JSON replay), so one
    * oracle recomputation checks both read paths.
    */
  def dbaDeltaV2Ckpt(s: SparkSession, dir: String): DataFrame = {
    val t = java.nio.file.Files.createTempDirectory("graft_delta_v2ckpt")
      .toString + "/orders_v2ckpt"
    val ord = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.DeltaLite.commit(s, t,
      ord.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(2, col("o_orderkey")))
    graft.sources.DeltaLite.commit(s, t,
      ord.filter(col("o_orderkey") % 2 =!= 0)
        .repartitionByRange(2, col("o_orderkey")))
    graft.sources.DeltaLite.checkpointV2(s, t)
    def roll(df: DataFrame, v: Long): DataFrame =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("total"))
        .withColumn("version", lit(v))
    roll(graft.sources.DeltaLite.read(s, t, Some(0L)), 0L)
      .unionByName(roll(graft.sources.DeltaLite.read(s, t), 1L))
      .select("version", "o_orderstatus", "n", "total")
      .orderBy("version", "o_orderstatus")
  }

  val dbaDeltaV2CkptOracle: String =
    """SELECT version, o_orderstatus, n, total FROM (
      |  SELECT 0 AS version, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 2
      |  UNION ALL
      |  SELECT 1 AS version, o_orderstatus, COUNT(*) AS n,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |  FROM orders GROUP BY 2) t
      |ORDER BY version, o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dba_delta_v2ckpt"    -> (dbaDeltaV2Ckpt _),
    "dba_skew_report"     -> (dbaSkewReport _),
    "dba_query_metrics"   -> (dbaQueryMetrics _),
    "dba_merge_upsert"    -> (dbaMergeUpsert _),
    "dba_merge_skew"      -> (dbaMergeUpsertSkew _),
    "dba_scd2_history"    -> (dbaScd2History _),
    "dba_scd2_skew"       -> ((s: SparkSession, d: String) => dbaScd2HistorySkew(s, d)),
    "dba_schema_align"    -> (dbaSchemaAlign _),
    "dba_table_stats"     -> (dbaTableStats _),
    "dba_table_stats_approx" -> (dbaTableStatsApprox _),
    "dba_describe_detail" -> (dbaDescribeDetail _),
    "dba_zorder_key"      -> (dbaZorderKey _),
    "dba_compaction_plan" -> (dbaCompactionPlan _),
    "dba_pricing_cost"    -> (dbaPricingCost _),
    "dba_csv_import"      -> (dbaCsvImport _),
    "dba_orc_roundtrip"   -> (dbaOrcRoundtrip _),
    "dba_json_ingest"     -> (dbaJsonIngest _),
    "dba_delta_read"      -> (dbaDeltaRead _),
    "dba_iceberg_read"    -> (dbaIcebergRead _),
    "dba_merge_selective" -> (dbaMergeSelective _),
    "dba_merge_clauses"   -> (dbaMergeClauses _),
    "dba_delta_skipping"  -> (dbaDeltaSkipping _),
    "dba_delta_changes"   -> (dbaDeltaChanges _),
    "dba_iceberg_changes" -> (dbaIcebergChanges _),
    "dba_iceberg_changes_rows" -> (dbaIcebergChangesRows _),
    "dba_zorder_skipping" -> (dbaZorderSkipping _),
    "dba_liquid_cluster"  -> (dbaLiquidCluster _),
    "dba_iceberg_skipping" -> (dbaIcebergSkipping _),
    "dba_delta_dv"        -> (dbaDeltaDv _),
    "dba_iceberg_dv"      -> (dbaIcebergDv _),
    "dba_iceberg_v3"      -> (dbaIcebergV3 _),
    "dba_convert_roundtrip" -> (dbaConvertRoundtrip _),
    "dba_iceberg_transforms" -> (dbaIcebergTransforms _),
    "dba_iceberg_eqdel"   -> (dbaIcebergEqDelete _),
    "dba_delta_stream"    -> (dbaDeltaStream _),
    "dba_delta_partitioned" -> (dbaDeltaPartitioned _),
    "dba_constraints"     -> (dbaConstraints _),
    "dba_iceberg_refs"    -> (dbaIcebergRefs _),
    "dba_row_tracking"    -> (dbaRowTracking _),
    "dba_delta_ict"       -> (dbaDeltaIct _),
    "dba_uniform"         -> (dbaUniform _))

  val oracles: Map[String, String] = Map(
    "dba_delta_v2ckpt"   -> dbaDeltaV2CkptOracle,
    "dba_delta_skipping" -> dbaDeltaSkippingOracle,
    "dba_delta_changes"  -> dbaDeltaChangesOracle,
    "dba_iceberg_changes" -> dbaIcebergChangesOracle,
    "dba_iceberg_changes_rows" -> dbaIcebergChangesRowsOracle,
    "dba_zorder_skipping" -> dbaZorderSkippingOracle,
    "dba_liquid_cluster"  -> dbaLiquidClusterOracle,
    "dba_iceberg_skipping" -> dbaIcebergSkippingOracle,
    "dba_skew_report"   -> dbaSkewReportOracle,
    "dba_query_metrics" -> dbaQueryMetricsOracle,
    "dba_merge_upsert"  -> dbaMergeUpsertOracle,
    "dba_merge_skew"    -> dbaMergeUpsertOracle,
    "dba_scd2_history"  -> dbaScd2HistoryOracle,
    "dba_scd2_skew"     -> dbaScd2HistoryOracle,
    "dba_schema_align"  -> dbaSchemaAlignOracle,
    "dba_table_stats"   -> dbaTableStatsOracle,
    "dba_table_stats_approx" -> dbaTableStatsApproxOracle,
    "dba_zorder_key"    -> dbaZorderKeyOracle,
    "dba_pricing_cost"  -> dbaPricingCostOracle,
    "dba_csv_import"    -> dbaCsvImportOracle,
    "dba_orc_roundtrip" -> dbaOrcRoundtripOracle,
    "dba_json_ingest"   -> dbaJsonIngestOracle,
    "dba_delta_read"    -> dbaDeltaReadOracle,
    "dba_iceberg_read"  -> dbaIcebergReadOracle,
    "dba_merge_selective" -> dbaMergeSelectiveOracle,
    "dba_merge_clauses"  -> dbaMergeClausesOracle,
    "dba_delta_dv"      -> dbaDeltaDvOracle,
    "dba_iceberg_dv"    -> dbaIcebergDvOracle,
    "dba_iceberg_v3"    -> dbaIcebergV3Oracle,
    "dba_convert_roundtrip" -> dbaConvertRoundtripOracle,
    "dba_iceberg_transforms" -> dbaIcebergTransformsOracle,
    "dba_iceberg_eqdel" -> dbaIcebergEqDeleteOracle,
    "dba_delta_stream" -> dbaDeltaStreamOracle,
    "dba_delta_partitioned" -> dbaDeltaPartitionedOracle,
    "dba_constraints"   -> dbaConstraintsOracle,
    "dba_iceberg_refs"  -> dbaIcebergRefsOracle,
    "dba_row_tracking"  -> dbaRowTrackingOracle,
    "dba_delta_ict"     -> dbaDeltaIctOracle,
    "dba_uniform"       -> dbaUniformOracle)
}
