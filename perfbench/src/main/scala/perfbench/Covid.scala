package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.covid.{CovidPipeline, Watermark}

/** What the generator says the pipeline must produce, per source date
  * (see gen.py for the file format).
  */
final class CovidExpected(path: Path) {
  val dates = mutable.ArrayBuffer.empty[String]
  val extracted = mutable.ArrayBuffer.empty[Long]
  val loaded = mutable.ArrayBuffer.empty[Long]
  val cases = mutable.ArrayBuffer.empty[Map[String, Long]]
  val deaths = mutable.ArrayBuffer.empty[Map[String, Long]]
  val overview = mutable.ArrayBuffer.empty[(String, String, String)]

  Files.readAllLines(path).asScala.map(_.split("\t", -1)).foreach {
    case Array("D", d, e, l) =>
      dates += d; extracted += e.toLong; loaded += l.toLong
      cases += Map.empty; deaths += Map.empty
    case Array("C", _, k, v) => cases(cases.size - 1) += k -> v.toLong
    case Array("S", _, k, v) => deaths(deaths.size - 1) += k -> v.toLong
    case Array("O", d, s, c) => overview += ((d, s, c))
    case other => sys.error(s"bad expected line: ${other.mkString("\t")}")
  }

  def extractedThrough(i: Int): Long = extracted.take(i + 1).sum
}

/** Running totals of what the warehouse must hold after the dates loaded
  * so far, checked against the five dashboard cards.
  */
final class CovidState(exp: CovidExpected) {
  var last = -1
  var rows = 0L
  val cases = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val deaths = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  def loadThrough(i: Int): Unit = while (last < i) {
    last += 1
    rows += exp.loaded(last)
    exp.cases(last).foreach { case (k, v) => cases(k) += v }
    exp.deaths(last).foreach { case (k, v) => deaths(k) += v }
  }

  /** Compare collected cards with the expectation; returns the mismatches. */
  def mismatches(cards: Map[String, Array[org.apache.spark.sql.Row]]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(name: String, ok: Boolean, got: => Any, want: => Any): Unit =
      if (!ok) bad += s"$name: got $got, want $want"
    val total = cards("total_records").head.getLong(0)
    expect("total_records", total == rows, total, rows)
    val latest = String.valueOf(cards("latest_record").head.get(0))
    expect("latest_record", latest == exp.dates(last), latest, exp.dates(last))
    val ov = cards("overview").map(r => (String.valueOf(r.get(0)), r.getString(1), r.getString(2))).toSeq
    val ovWant = exp.overview.take(math.min(2000L, rows).toInt).toSeq
    expect("overview", ov == ovWant, ov.take(3), ovWant.take(3))
    val perCounty = cards("cases_per_county").map(r => r.getString(0) -> r.getLong(1)).toMap
    expect("cases_per_county", perCounty == cases.toMap,
      perCounty.size, cases.size)
    val perState = cards("deaths_per_state").map(r => r.getString(0) -> r.getLong(1)).toMap
    expect("deaths_per_state", perState == deaths.toMap, perState.size, deaths.size)
    bad.toSeq
  }
}

/** The paper's pipeline, end to end: ingest the CSV and backfill the
  * history with capped ETL runs, then serve the last `live` dates hourly,
  * one date per ETL run, each followed by a full dashboard refresh.
  */
final class Pipeline(ctx: Ctx, in: Path, cap: Int, live: Int) extends Workload {
  private val exp = new CovidExpected(in.resolve("covid_expected.tsv"))
  private val history = exp.dates.size - live
  private val csv: String = in.resolve("covid.csv").toString
  import Pipeline.cards

  /** Warm-up: the whole pipeline once over a tiny CSV. */
  def setup(spark: SparkSession, dir: Path): Unit = {
    val w = dir.resolve("warm")
    CovidPipeline.ingest(spark, in.resolve("warm.csv").toString, w.resolve("staging").toString)
    CovidPipeline.runToCompletion(spark, w.resolve("staging").toString,
      w.resolve("warehouse").toString, w.resolve("state").toString)
    CovidPipeline.dashboard(spark, w.resolve("warehouse").toString).values.foreach(_.collect())
  }

  private def dirs(dir: Path): Dirs = Dirs(dir.resolve("staging").toString,
    dir.resolve("warehouse").toString, dir.resolve("state").toString)

  /** One capped ETL run, with its run record counted on the span. */
  private def etl(spark: SparkSession, d: Dirs, cap: Int): Long = {
    val filesBefore = if (ctx.tracer.recording) parquetFiles(d.warehouse) else 0
    val n = ctx.call("covid.etl") {
      CovidPipeline.etlOnce(spark, d.staging, d.warehouse, d.state, Some(cap))
    }
    if (ctx.tracer.recording) {
      val rec = runRecords(d.state).last
      ctx.tracer.countOn("covid.etl", "rows_extracted", rec._1.toDouble)
      ctx.tracer.countOn("covid.etl", "rows_loaded", rec._2.toDouble)
      ctx.tracer.countOn("covid.etl", "output_files", (parquetFiles(d.warehouse) - filesBefore).toDouble)
    }
    n
  }

  /** Dashboard refresh: open the five cards, then collect each. */
  private def refresh(spark: SparkSession, d: Dirs): Map[String, Array[org.apache.spark.sql.Row]] =
    ctx.tracer("covid.dashboard") {
      val frames = ctx.call("covid.dashboard.open") { CovidPipeline.dashboard(spark, d.warehouse) }
      if (ctx.tracer.recording)
        ctx.tracer.countOn("covid.dashboard.open", "files_read", parquetFiles(d.warehouse).toDouble)
      cards.map(c => c -> ctx.call(s"covid.dashboard.card.$c") { frames(c).collect() }).toMap
    }

  /** Every check on the warehouse state after dates 0..i are loaded. */
  private def verify(spark: SparkSession, d: Dirs, st: CovidState,
      got: Map[String, Array[org.apache.spark.sql.Row]]): Unit = {
    st.mismatches(got).foreach(m => ctx.fail(s"card $m"))
    val wm = new Watermark(spark, d.state).load()
    ctx.check(wm.contains(exp.dates(st.last)), s"watermark $wm, want ${exp.dates(st.last)}")
    val recs = runRecords(d.state)
    val (e, l) = (recs.map(_._1).sum, recs.map(_._2).sum)
    ctx.check(e == exp.extractedThrough(st.last) && l == st.rows,
      s"run records sum to extracted=$e loaded=$l, want ${exp.extractedThrough(st.last)}/${st.rows}")
  }

  private def runRecords(state: String): Seq[(Long, Long)] = {
    val re = """"extracted": (\d+), "loaded": (\d+)""".r.unanchored
    Files.readAllLines(Path.of(state, "metrics.json")).asScala.toSeq.collect {
      case re(e, l) => (e.toLong, l.toLong)
    }
  }

  private def parquetFiles(dir: String): Int = Bytes.files(Path.of(dir)).count(_.toString.endsWith(".parquet"))

  private def bytesPerRow(d: Dirs, rows: Long): Double =
    Bytes.files(Path.of(d.warehouse)).filter(_.toString.endsWith(".parquet"))
      .map(Files.size).sum.toDouble / rows

  def run(spark: SparkSession, dir: Path): Unit = {
    val d = dirs(dir)
    val st = new CovidState(exp)
    val (_, backfillS) = ctx.inPass(Ctx.secs(ctx.tracer("backfill") {
      val rows = ctx.call("covid.ingest") { CovidPipeline.ingest(spark, csv, d.staging) }
      if (ctx.tracer.recording) {
        ctx.tracer.countOn("covid.ingest", "rows", rows.toDouble)
        ctx.tracer.countOn("covid.ingest", "input_mb", Files.size(Path.of(csv)) / 1e6)
        ctx.tracer.countOn("covid.ingest", "output_mb", Bytes.total(Path.of(d.staging)) / 1e6)
      }
      ctx.check(rows == exp.extracted.sum, s"ingest staged $rows rows, want ${exp.extracted.sum}")
      // capped runs up to the end of the history: a cap never splits a date
      var loaded = 0
      while (loaded < history) {
        val left = exp.extractedThrough(history - 1) - exp.extractedThrough(loaded - 1)
        etl(spark, d, math.min(cap.toLong, left).toInt)
        val now = exp.dates.indexOf(new Watermark(spark, d.state).load().getOrElse("")) + 1
        if (now <= loaded) {
          ctx.fail(s"backfill stalled at ${now} of $history dates")
          throw new Abort(new IllegalStateException("backfill stalled"))
        }
        loaded = now
      }
    }))
    ctx.sample("backfill_s", backfillS)
    st.loadThrough(history - 1)
    verify(spark, d, st, CovidPipeline.dashboard(spark, d.warehouse).map { case (k, v) => k -> v.collect() })

    val perDate = exp.extracted.drop(history).min.toInt // one date's rows at least
    for (i <- history until exp.dates.size) {
      val ((n, etlS, got), s) = ctx.inPass(Ctx.secs(ctx.tracer("cycle") {
        val (n, etlS) = Ctx.secs(etl(spark, d, perDate))
        (n, etlS, refresh(spark, d))
      }))
      ctx.sample("etl_run_s", etlS)
      ctx.sample("dashboard_refresh_s", s - etlS)
      ctx.sample("freshness_s", s)
      st.loadThrough(i)
      ctx.check(n == exp.loaded(i), s"run for ${exp.dates(i)} loaded $n, want ${exp.loaded(i)}")
      verify(spark, d, st, got)
    }
    ctx.endPass()
    ctx.sample("warehouse_bytes_per_row", bytesPerRow(d, st.rows))
  }
}

object Pipeline {
  /** The dashboard's five cards, as `CovidPipeline.dashboard` names them. */
  val cards = Seq("total_records", "latest_record", "overview", "cases_per_county",
    "deaths_per_state")
}

/** A repetition's staging, warehouse and watermark-state directories. */
final case class Dirs(staging: String, warehouse: String, state: String)

object Bytes {
  def files(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  def total(dir: Path): Long = files(dir).map(Files.size).sum
}
