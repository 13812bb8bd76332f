package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: set-up work after a fresh session starts (not timed),
  * then one timed pass.
  */
trait Workload {
  def setup(spark: SparkSession, dir: Path): Unit
  def run(spark: SparkSession, dir: Path): Unit
}

/** Samples, failure counts and the tracer shared by a run's workload. */
final class Ctx(val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  var passes = 0
  var timedS = 0.0

  def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private var passWall, passCpu = 0.0
  /** Count `body` into the current pass: its wall and process-CPU time. */
  def inPass[T](body: => T): T = {
    val (w0, c0) = (System.nanoTime(), Ctx.cpuNs())
    try body
    finally { passWall += (System.nanoTime() - w0) / 1e9; passCpu += (Ctx.cpuNs() - c0) / 1e9 }
  }
  /** Close the pass: record its samples and return its wall time. */
  def endPass(): Double = {
    val w = passWall
    sample("pass_s", w); sample("pass_cpu_s", passCpu)
    passes += 1; timedS += w; passWall = 0; passCpu = 0
    w
  }

  /** One call into the program: a latency sample, a span, an operation. */
  def call[T](span: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try tracer(span)(body)
    catch { case e: Exception => fail(s"$span threw $e"); throw new Abort(e) }
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      sample("call_s", s)
      System.err.println(f"[perfbench] $span%-40s $s%8.3f s")
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $msg")
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

object Ctx {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

final class Abort(cause: Throwable) extends RuntimeException(cause)

/** Runs one workload in repetitions, each in a fresh SparkSession, and
  * writes the raw samples as JSON for `run.py` to summarize.
  *
  * Args: workload seed seconds trace(0|1) inputDir workDir outFile cores
  * and, per workload, covid_pipeline: etlRowCap liveDates; corpus_ops: pinsFile.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, _, secondsS, traceS, inS, workS, outS, coresS, extra @ _*) = args
    val (in, work, seconds, trace) = (Path.of(inS), Path.of(workS), secondsS.toDouble, traceS == "1")
    val tracer = new Tracer
    val ctx = new Ctx(tracer)
    val wl: Workload = workload match {
      case "covid_pipeline" => new Pipeline(ctx, in, extra(0).toInt, extra(1).toInt)
      case "corpus_ops" => new CorpusOps(ctx, in, Path.of(extra.head))
      case other => sys.error(s"unknown workload $other")
    }
    val heapMb = mutable.ArrayBuffer.empty[Double]
    var rep = 0
    var broken = false
    val start = System.nanoTime()
    def elapsedS = (System.nanoTime() - start) / 1e9
    // Three timed passes, or one when a pass takes `seconds` or more, so
    // the pass count never hinges on a pass being a little faster; at
    // least three set-ups, so set-up time is a median too. No new
    // repetition after a failed set-up or once the run is long overdue.
    def moreWork = ctx.passes == 0 || (ctx.passes < 3 && ctx.timedS / ctx.passes < seconds)
    while ((moreWork || rep < 3) && !broken && elapsedS < 4 * seconds + 60) {
      rep += 1
      val timedWork = moreWork
      tracer.newRun()
      tracer.recording = trace
      val dir = Files.createDirectories(work.resolve(s"rep$rep"))
      val t0 = System.nanoTime()
      val spark = graft.GraftSession.create(s"local[$coresS]", "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      System.err.println(f"[perfbench] rep $rep session ${(System.nanoTime() - t0) / 1e9}%.3f s")
      if (tracer.recording) tracer.attach(spark)
      try {
        broken = true
        wl.setup(spark, dir)
        broken = false
        val setupS = (System.nanoTime() - t0) / 1e9
        ctx.sample("setup_s", setupS)
        System.err.println(f"[perfbench] rep $rep set-up $setupS%.3f s")
        if (timedWork) {
          wl.run(spark, dir)
          heapMb += liveHeapMb()
        }
      } catch {
        case _: Abort => ()
        case e: Exception => ctx.fail(s"rep $rep: $e")
      } finally {
        spark.stop()
        tracer.settle()
        tracer.recording = false
        deleteTree(dir)
        System.err.println(f"[perfbench] rep $rep done after ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    ctx.samples("live_heap_mb") = heapMb
    if (trace) tracer.writeSpans(work.resolve("spans.jsonl"))
    val out = new StringBuilder
    out ++= s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},"samples":{"""
    out ++= ctx.samples.map { case (k, v) => Json.str(k) + ":" + v.map(Json.num).mkString("[", ",", "]") }
      .mkString(",")
    out ++= "},\"layers\":" + (if (trace) Layers(tracer, coresS.toInt) else "{}") + "}"
    Files.writeString(Path.of(outS), out.toString)
  }

  /** Old-generation occupancy right after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }
}
