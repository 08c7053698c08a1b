package graftbench

import org.apache.spark.graftbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer counters for one operation, read from Spark's public
  * listeners only: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (Catalyst phases, `observe` metrics) and a
  * StreamingQueryListener (micro-batch progress).
  *
  * Events arrive asynchronously, so the harness drains the listener bus
  * at every phase boundary ([[phase]]); an event is credited to the
  * phase that was open when it was delivered. Nothing here runs while
  * the tracer is detached. */
final class Tracer(spark: SparkSession) {
  /** "construct" (inside the registry call), "action" (the timed
    * action) or "idle" (harness work; ignored). */
  @volatile private var phase = "idle"
  private val acc = mutable.LinkedHashMap.empty[String, Double]
  private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var reporting = false

  private def add(k: String, v: Double): Unit =
    acc(k) = acc.getOrElse(k, 0.0) + v

  /** Open a new operation window in `p`, after every earlier event has
    * been delivered. */
  def open(p: String): Unit = {
    drain()
    synchronized { acc.clear(); jobStart.clear(); reporting = false }
    phase = p
  }

  def switch(p: String): Unit = { drain(); phase = p }

  /** Close the window and return its counters. The operation's own
    * DataFrame (null when it failed) adds the analysis its construction
    * paid and the `observe` metrics its action filled: a write's
    * listener event carries neither (the write re-plans the analyzed
    * plan, and its CollectMetrics nodes report to the DataFrame). */
  def close(built: DataFrame): Map[String, Double] = {
    drain(); phase = "idle"
    synchronized {
      if (built != null) {
        val qe = built.queryExecution
        qe.tracker.phases.get("analysis")
          .foreach(s => add("catalyst.analysis_ms", s.durationMs.toDouble))
        if (qe.observedMetrics.nonEmpty) reporting = true
      }
      if (reporting) add("observe.ops_reporting", 1)
      acc.toMap
    }
  }

  private def drain(): Unit = BusAccess.drain(spark.sparkContext)

  /** A job belongs to `sources` when the first frame of its call site
    * outside Spark, Scala and the JDK is in `graft.sources`. */
  private def fromSources(details: String): Boolean =
    details.linesIterator.map(_.trim).find { f =>
      !(f.startsWith("org.apache.spark.") || f.startsWith("scala.") ||
        f.startsWith("java.") || f.isEmpty)
    }.exists(_.startsWith("graft.sources."))

  private def live = phase != "idle"

  val jobs: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (live) {
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
        val src = fromSources(site)
        jobStart(e.jobId) = (e.time, src)
        add("sched.jobs", 1)
        if (phase == "construct") add("construct.jobs", 1)
        if (src) add("sources.jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, src) =>
        if (src) add("sources.ms", (e.time - t0).toDouble)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (live) {
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          add("exec.run_ms", m.executorRunTime.toDouble)
          add("exec.cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("exec.deser_ms", m.executorDeserializeTime.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
          add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val durations = taskMs.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty[Long])
      if (live) {
        add("sched.stages", 1)
        add("sched.tasks", si.numTasks)
        if (si.numTasks == 1) add("sched.one_task_stages", 1)
        for (s <- si.submissionTime; c <- si.completionTime)
          add("sched.stage_wall_ms", (c - s).toDouble)
        if (durations.size >= 2) {
          val d = durations.sorted
          val med = d(d.size / 2).max(1L)
          val skew = d.last.toDouble / med
          if (skew > acc.getOrElse("sched.task_skew", 0.0)) acc("sched.task_skew") = skew
        }
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        if (live) {
          if (phase == "action") qe.tracker.phases.foreach { case (p, s) =>
            add(s"catalyst.${p}_ms", s.durationMs.toDouble)
          }
          if (qe.observedMetrics.nonEmpty) reporting = true
        }
      }

    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (live) {
          val p = e.progress
          def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          add("drain.batches", 1)
          add("drain.input_rows", p.numInputRows.toDouble)
          add("drain.trigger_ms", d("triggerExecution"))
          add("drain.add_batch_ms", d("addBatch"))
          add("drain.planning_ms", d("queryPlanning"))
          add("drain.wal_ms", d("walCommit") + d("commitOffsets"))
          p.stateOperators.foreach { so =>
            add("drain.state_commit_ms", so.commitTimeMs.toDouble)
            add("drain.state_rows", so.numRowsUpdated.toDouble)
          }
          if (!p.observedMetrics.isEmpty) reporting = true
        }
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}
