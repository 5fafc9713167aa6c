package graft.harness

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** Measurement probe for one or more `SparkEntry.queries` entries.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_QUERIES=a,b \
  *          runMain graft.harness.Probe [runs | --plan | --run]
  *
  *  - `[runs]` (default 2): the per-JOB wall breakdown the optimization
  *    loop needs for multi-action operators (the dba_* lifecycle family
  *    runs a table build + merge + delete + read-back as SEPARATE Spark
  *    jobs, so one end-to-end number says nothing about WHICH step is
  *    worth optimizing). Per query it prints the DataFrame-construction
  *    time (lifecycle side effects run at construction) vs the noop-sink
  *    execution time, then each job's wall, executor run time, task count
  *    and label ([[jobLabel]]). Timings are minima over `runs` repeats to
  *    damp host noise.
  *  - `--plan`: the `explain("formatted")` physical plan (the form kept
  *    under `plans/r2*`).
  *  - `--run`: executes each query against the noop sink first, then
  *    prints the executed plan, which after execution carries AQE's final
  *    shape (reused exchanges, broadcast demotions).
  */
object Probe {
  final case class JobRow(label: String, ms: Long, tasks: Int, runMs: Long)

  /** A job's label: its `setJobDescription`, else an explicit
    * `setCallSite`, else the call site Spark gives the job's result stage
    * (e.g. `parquet at Tables.scala:…`) — Spark sets `callSite.short`
    * only after an explicit `setCallSite`, so without the stage fallback
    * every undescribed job printed an empty label.
    */
  private def jobLabel(props: java.util.Properties,
                       stages: Seq[StageInfo]): String = {
    def prop(k: String) =
      Option(props).flatMap(p => Option(p.getProperty(k))).filter(_.nonEmpty)
    prop("spark.job.description").orElse(prop("callSite.short"))
      .orElse(stages.maxByOption(_.stageId).map(_.name)).getOrElse("")
  }

  private val SyncMarker = "graft.probe.sync"

  /** Listener collecting one [[JobRow]] per finished job, in completion
    * order. Events arrive on Spark's listener bus after the action
    * returns, so read the rows through [[drain]].
    */
  final class JobRecorder extends SparkListener {
    private val started = mutable.Map.empty[Int, (Long, String)]
    private val stageToJob = mutable.Map.empty[Int, Int]
    private val tasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val runMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    private val done = mutable.ArrayBuffer.empty[JobRow]
    private val synced = new LinkedBlockingQueue[String]()

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      started(js.jobId) = (js.time, jobLabel(js.properties, js.stageInfos))
      js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val jid = stageToJob.getOrElse(sc.stageInfo.stageId, -1)
        tasks(jid) += sc.stageInfo.numTasks
        runMs(jid) += sc.stageInfo.taskMetrics.executorRunTime
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      started.remove(je.jobId).foreach { case (t0, label) =>
        if (label == SyncMarker) synced.put(label)
        else done += JobRow(label, je.time - t0, tasks(je.jobId), runMs(je.jobId))
      }
      tasks.remove(je.jobId); runMs.remove(je.jobId)
    }

    /** Rows of every job that finished before this call, then cleared:
      * runs one marker job and waits for its end event, which the bus
      * delivers after every earlier job's events. */
    def drain(spark: SparkSession): Seq[JobRow] = {
      val sc = spark.sparkContext
      sc.setJobDescription(SyncMarker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      if (synced.poll(60, TimeUnit.SECONDS) == null)
        System.err.println("[probe] listener bus did not deliver the sync job within 60 s")
      synchronized { val rows = done.toList; done.clear(); rows }
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    val wanted = SparkEntry.querySubset
      .getOrElse(sys.error("set SPARK_GRAFT_QUERIES"))
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => wanted(name) }
    if (args.contains("--plan") || args.contains("--run"))
      for ((name, fn) <- selected) {
        println(s"========== $name @ $dir ==========")
        val df = fn(spark, dir)
        if (args.contains("--run")) {
          df.write.format("noop").mode("overwrite").save()
          println(df.queryExecution.executedPlan.toString)
        } else df.explain("formatted")
      }
    else {
      val runs = args.headOption.flatMap(_.toIntOption).getOrElse(2)
      val recorder = new JobRecorder
      spark.sparkContext.addSparkListener(recorder)
      // warmup: absorb session/codegen startup like Bench does
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      recorder.drain(spark)
      for ((name, fn) <- selected) {
        var best: (Double, Double, Seq[JobRow]) = (Double.MaxValue, 0.0, Nil)
        for (_ <- 1 to runs) {
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          val tBuild = (System.nanoTime() - t0) / 1e9
          df.write.format("noop").mode("overwrite").save()
          val tTotal = (System.nanoTime() - t0) / 1e9
          val jobs = recorder.drain(spark)
          if (tTotal < best._1) best = (tTotal, tBuild, jobs)
        }
        println(f"===== $name  total=${best._1}%.3f s (construct=${best._2}%.3f s, execute=${best._1 - best._2}%.3f s)")
        best._3.zipWithIndex.foreach { case (r, i) =>
          println(f"  job $i%2d ${r.ms}%6d ms wall  ${r.runMs}%6d ms run  ${r.tasks}%4d tasks  ${r.label}")
        }
      }
    }
    spark.stop()
  }
}
