package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Tracer.bump

/** One timed region around a call into a layer. Times are wall-clock
  * milliseconds so Spark's listener events (which carry the same clock)
  * can be placed inside them.
  */
final class Span(val id: Int, val name: String, val parent: Int, val run: Int,
    val startMs: Long) {
  var endMs: Long = startMs
  /** Counts the harness records at the call boundary (rows, files, ...). */
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Spark metrics of the jobs, queries and triggers that started inside
    * this span and inside none of its children.
    */
  val spark: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (endMs - startMs) / 1e3
}

/** In-memory span recorder plus the Spark listeners whose events it
  * attributes to spans. Spans nest strictly (one closed-loop client), so
  * an event belongs to the innermost span open at its start time.
  *
  * With `recording` off no spans are opened; the listeners are attached
  * only to the sessions of traced runs.
  */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  @volatile var recording = false
  private var open: List[Span] = Nil
  private var run = 0

  def newRun(): Unit = run += 1

  def apply[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id), run,
        System.currentTimeMillis())
      spans += s
      open = s :: open
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        open = open.tail
      }
    }

  /** Record a count on the most recently closed span with this name. */
  def countOn(name: String, k: String, v: Double): Unit =
    if (recording) spans.reverseIterator.find(_.name == name).foreach(s => bump(s.counts, k, v))

  // ---- raw listener records, attributed when a run's session stops ----

  private final class Job(val startMs: Long, var endMs: Long) {
    val m: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSeen = mutable.HashSet.empty[(Int, Int)]
  private val timed = ArrayBuffer.empty[(Long, String, Double)] // (startMs, metric, value)

  /** Register the listeners on a fresh session. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        jobs(e.jobId) = new Job(e.time, e.time)
        e.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val info = e.stageInfo
        for (jid <- stageJob.get(info.stageId); j <- jobs.get(jid)
             if stageSeen.add((info.stageId, info.attemptNumber()))) bump(j.m, "stages", 1)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
          val info = e.taskInfo
          bump(j.m, "tasks", 1)
          if (!info.successful) bump(j.m, "tasks_failed", 1)
          val t = e.taskMetrics
          if (t != null) {
            val run = t.executorRunTime.toDouble
            bump(j.m, "task_run_s", run / 1e3)
            bump(j.m, "task_cpu_s", t.executorCpuTime / 1e9)
            bump(j.m, "task_deser_s", t.executorDeserializeTime / 1e3)
            bump(j.m, "scheduler_delay_s", math.max(0.0, info.duration - run -
              t.executorDeserializeTime - t.resultSerializationTime -
              (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)) / 1e3)
            bump(j.m, "gc_s", t.jvmGCTime / 1e3)
            bump(j.m, "shuffle_write_mb", t.shuffleWriteMetrics.bytesWritten / 1e6)
            bump(j.m, "shuffle_read_mb", t.shuffleReadMetrics.totalBytesRead / 1e6)
            bump(j.m, "shuffle_fetch_wait_s", t.shuffleReadMetrics.fetchWaitTime / 1e3)
            bump(j.m, "spill_mb", (t.memoryBytesSpilled + t.diskBytesSpilled) / 1e6)
            bump(j.m, "input_mb", t.inputMetrics.bytesRead / 1e6)
            bump(j.m, "input_rows", t.inputMetrics.recordsRead.toDouble)
            bump(j.m, "output_mb", t.outputMetrics.bytesWritten / 1e6)
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        Tracer.this.synchronized {
          timed += ((at, "streaming.triggers", 1.0))
          for ((key, metric) <- Tracer.streamPhases)
            timed += ((at, metric, d.getOrElse(key, 0.0)))
        }
      }
    })
  }

  /** Each planning phase (analysis, optimization, planning) goes to the
    * span open when it started: a frame analyzed when the dashboard opens
    * is optimized and planned when its card is collected.
    */
  private def planned(qe: QueryExecution): Unit = synchronized {
    for (p <- qe.tracker.phases.values) timed += ((p.startTimeMs, "plan_s", p.durationMs / 1e3))
  }

  /** Innermost span of the current run containing `t`, if any. */
  private def spanAt(t: Long, inRun: Seq[Span]): Option[Span] =
    inRun.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(s => (s.startMs, s.id))

  /** Attribute everything recorded so far (call after the session stops,
    * which drains the listener bus) and reset the raw records.
    */
  def settle(): Unit = synchronized {
    val inRun = spans.filter(_.run == run).toSeq
    val owned = jobs.values.toSeq.flatMap(j => spanAt(j.startMs, inRun).map(_ -> j))
    for ((s, j) <- owned) {
      bump(s.spark, "jobs", 1)
      j.m.foreach { case (k, v) => bump(s.spark, k, v) }
    }
    for ((t, k, v) <- timed; s <- spanAt(t, inRun)) bump(s.spark, k, v)
    // Off-job time: the part of each span covered neither by one of its
    // jobs nor by a child span.
    for (s <- inRun) {
      val children = inRun.filter(_.parent == s.id)
      val covered = owned.collect { case (o, j) if o eq s => (j.startMs, j.endMs) } ++
        children.map(c => (c.startMs, c.endMs))
      s.spark("off_job_s") = (s.endMs - s.startMs - Tracer.union(covered, s.startMs, s.endMs)) / 1e3
      s.spark("self_s") = s.wallS - children.map(_.wallS).sum
    }
    jobs.clear(); stageJob.clear(); stageSeen.clear(); timed.clear()
  }

  /** Per-span records, one JSON object a line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"run":${s.run},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"counts":${obj(s.counts)},"spark":${obj(s.spark)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  def bump(m: mutable.Map[String, Double], k: String, v: Double): Unit =
    m(k) = m.getOrElse(k, 0.0) + v

  val streamPhases: Seq[(String, String)] = Seq(
    "triggerExecution" -> "streaming.trigger_s", "addBatch" -> "streaming.add_batch_s",
    "getBatch" -> "streaming.get_batch_s", "queryPlanning" -> "streaming.query_planning_s",
    "walCommit" -> "streaming.wal_commit_s")

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((a0, b0) <- iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
         .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val a = math.max(a0, end)
      if (b0 > a) { covered += b0 - a; end = b0 }
    }
    covered
  }
}

/** Minimal JSON writing for the harness output. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
