package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: an op, a call into a layer, or a Spark job. Times are
  * epoch microseconds. `parent` is 0 for an op, the op's id for a call, and
  * the submitting call's id for a job (0 when no call was open). */
final case class Span(id: Long, parent: Long, op: Long, name: String, kind: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Spans {
  /** Total length covered by the union of `intervals`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `window` covered by at least one of `intervals`. */
  def covered(window: (Long, Long), intervals: Seq[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) =>
      (math.max(s, window._1), math.min(e, window._2)) })

  /** A call's self time: its duration minus the part its own jobs cover,
    * i.e. the driver time spent inside the layer. */
  def selfUs(call: Span, jobs: Seq[Span]): Long =
    call.durUs - covered((call.startUs, call.endUs),
      jobs.filter(_.parent == call.id).map(j => (j.startUs, j.endUs)))
}

/** Epoch-microsecond clock with nanoTime resolution. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorMs * 1000L + (System.nanoTime() - anchorNs) / 1000L
}

/** Per-layer accounting from outside: every call the benchmark makes into a
  * layer's public function goes through [[call]], which counts it and sums
  * its wall time. With a [[Tracer]] each call is also a span whose parent is
  * the open op, and the span id rides a Spark local property so jobs the
  * call submits can be parented to it. */
final class Probe(tracer: Option[Tracer], sc: SparkContext) {
  private val calls = mutable.LinkedHashMap.empty[String, Array[Long]]
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private var openOp: Option[Span] = None

  def reset(): Unit = { calls.clear(); counts.clear() }

  def op[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val s = t.open(name, "op", parent = 0L, op = 0L)
      openOp = Some(s.copy(op = s.id))
      try body finally { t.close(openOp.get); openOp = None }
  }

  def call[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val span = tracer.map { t =>
      val opId = openOp.map(_.id).getOrElse(0L)
      t.open(name, "call", parent = opId, op = opId)
    }
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    span.foreach(s => sc.setLocalProperty(Tracer.SpanProperty, s.id.toString))
    try body
    finally {
      val a = calls.getOrElseUpdate(name, Array(0L, 0L))
      a(0) += 1
      a(1) += System.nanoTime() - t0
      span.foreach { s =>
        tracer.get.close(s)
        sc.setLocalProperty(Tracer.SpanProperty, prev)
      }
    }
  }

  def add(name: String, n: Long): Unit = counts(name) = counts.getOrElse(name, 0L) + n

  def callCount(name: String): Long = calls.get(name).map(_(0)).getOrElse(0L)
  def busySeconds(name: String): Double = calls.get(name).map(_(1) / 1e9).getOrElse(0.0)
  def count(name: String): Long = counts.getOrElse(name, 0L)
  def callNames: Seq[String] = calls.keys.toSeq
}

/** The traced run's listeners: Spark jobs, stages and tasks through a
  * SparkListener, and Catalyst phase times through a QueryExecutionListener
  * reading `QueryExecution.tracker`. Spans and counts stay in memory. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val openJobs = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobTasks = mutable.Map.empty[Long, Int]
  private val c = mutable.LinkedHashMap.empty[String, Double]

  private def bump(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  def open(name: String, kind: String, parent: Long, op: Long): Span = synchronized {
    Span(nextId.getAndIncrement(), parent, op, name, kind, Clock.nowUs(), -1L)
  }

  def close(s: Span): Unit = synchronized { spans += s.copy(endUs = Clock.nowUs()) }

  /** Forget everything recorded so far (the set-up's jobs and queries). */
  def reset(): Unit = synchronized {
    spans.clear(); c.clear(); jobTasks.clear()
  }

  def allSpans: Seq[Span] = synchronized(spans.toVector)
  def counter(k: String): Double = synchronized(c.getOrElse(k, 0.0))
  def singleTaskJobs: Int = synchronized(jobTasks.values.count(_ == 1))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    openJobs(e.jobId) = Span(nextId.getAndIncrement(), parent, 0L, s"job ${e.jobId}",
      "job", e.time * 1000L, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { s =>
      spans += s.copy(endUs = e.time * 1000L)
      jobTasks.getOrElseUpdate(s.id, 0)
      bump("spark.jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(bump("spark.stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    bump("spark.tasks", 1)
    stageJob.get(e.stageId).flatMap(openJobs.get).foreach { j =>
      jobTasks(j.id) = jobTasks.getOrElse(j.id, 0) + 1
    }
    Option(e.taskMetrics).foreach { m =>
      bump("spark.executor_run_s", m.executorRunTime / 1e3)
      bump("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      bump("spark.gc_s", m.jvmGCTime / 1e3)
      bump("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      bump("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      bump("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    bump("catalyst.executions", 1)
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      p.get(k).foreach(s => bump(s"catalyst.${k}_s", s.durationMs / 1e3))
    }
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Hadoop FileSystem statistics for the local `file` scheme. */
object Storage {
  final case class Counters(bytesRead: Long, bytesWritten: Long, readOps: Long,
                            writeOps: Long, largeReadOps: Long) {
    def -(o: Counters): Counters = Counters(bytesRead - o.bytesRead,
      bytesWritten - o.bytesWritten, readOps - o.readOps, writeOps - o.writeOps,
      largeReadOps - o.largeReadOps)
  }

  @annotation.nowarn("cat=deprecation")
  def snapshot(): Counters = {
    import scala.jdk.CollectionConverters._
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Counters(fs.map(_.getBytesRead).sum, fs.map(_.getBytesWritten).sum,
      fs.map(_.getReadOps.toLong).sum, fs.map(_.getWriteOps.toLong).sum,
      fs.map(_.getLargeReadOps.toLong).sum)
  }

  final case class Tree(dataFiles: Long, logFiles: Long, bytes: Long)

  /** Files and bytes under `root`; files below a `_delta_log` or `metadata`
    * directory count as log files, the rest as table files. */
  def tree(root: java.io.File): Tree = {
    var data, log, bytes = 0L
    def walk(f: java.io.File, inLog: Boolean): Unit =
      if (f.isDirectory) {
        val l = inLog || f.getName == "_delta_log" || f.getName == "metadata"
        Option(f.listFiles()).foreach(_.foreach(walk(_, l)))
      } else {
        bytes += f.length()
        if (inLog) log += 1 else data += 1
      }
    if (root.exists()) walk(root, inLog = false)
    Tree(data, log, bytes)
  }
}
