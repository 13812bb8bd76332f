package graft.perfbench

import scala.collection.mutable

/** Rolls the traced spans up into the per-layer metrics. Times of single
  * calls are medians per call; counts are per call; `spark.*`, `streaming.*`
  * and the self / off-job times are per pass (one pipeline pass: backfill
  * plus hourly cycles; or one corpus pass), so runs of different lengths
  * compare.
  */
object Layers {
  val sparkSums = Seq("plan_s", "jobs", "stages", "tasks", "scheduler_delay_s", "task_deser_s",
    "off_job_s", "task_run_s", "task_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
    "shuffle_fetch_wait_s", "spill_mb", "gc_s", "input_mb", "output_mb", "tasks_failed")
  val layerRoots = Seq("covid.ingest", "covid.etl", "covid.dashboard", "ops.shared", "ops.query")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def apply(t: Tracer, cores: Int): String = {
    val spans = t.spans.toSeq
    val roots = spans.filter(_.parent == -1) // backfill, cycle or corpus_pass
    val nPass = math.max(1, roots.count(s => s.name == "backfill" || s.name == "corpus_pass"))
    val out = mutable.LinkedHashMap.empty[String, Double]
    def named(n: String) = spans.filter(_.name == n)
    def under(p: String) = spans.filter(s => s.name == p || s.name.startsWith(p + "."))
    def spark(ss: Seq[Span], k: String) = ss.map(_.spark.getOrElse(k, 0.0)).sum
    def counts(ss: Seq[Span], k: String) = ss.map(_.counts.getOrElse(k, 0.0)).sum
    def perCall(ss: Seq[Span], v: Double) = if (ss.isEmpty) 0.0 else v / ss.size
    def wall(ss: Seq[Span]) = median(ss.map(_.wallS))

    val ing = named("covid.ingest")
    out("covid.ingest.s") = wall(ing)
    for (k <- Seq("rows", "input_mb", "output_mb")) out(s"covid.ingest.$k") = perCall(ing, counts(ing, k))

    val etl = named("covid.etl")
    val loaded = counts(etl, "rows_loaded")
    out("covid.etl.run_s") = wall(etl)
    out("covid.etl.runs") = etl.size.toDouble
    out("covid.etl.rows_extracted") = perCall(etl, counts(etl, "rows_extracted"))
    out("covid.etl.rows_loaded") = perCall(etl, loaded)
    out("covid.etl.rows_dropped") = perCall(etl, counts(etl, "rows_extracted") - loaded)
    out("covid.etl.output_files") = perCall(etl, counts(etl, "output_files"))
    for (k <- Seq("jobs", "tasks", "plan_s", "off_job_s")) out(s"covid.etl.$k") = perCall(etl, spark(etl, k))
    out("covid.etl.staging_rows_read") = perCall(etl, spark(etl, "input_rows"))
    out("covid.etl.read_per_loaded") = if (loaded == 0) 0.0 else spark(etl, "input_rows") / loaded

    val open = named("covid.dashboard.open")
    out("covid.dashboard.open_s") = wall(open)
    out("covid.dashboard.files_read") = perCall(open, counts(open, "files_read"))
    val cardSpans = under("covid.dashboard.card")
    for (c <- Pipeline.cards) out(s"covid.dashboard.card.${c}_s") = wall(named(s"covid.dashboard.card.$c"))
    for ((k, m) <- Seq("rows_read" -> "input_rows", "tasks" -> "tasks", "plan_s" -> "plan_s"))
      out(s"covid.dashboard.card.$k") = perCall(open, spark(cardSpans, m)) // per refresh

    for ((b, _) <- CorpusOps.builds) out(s"ops.shared.${b}_s") = wall(named(s"ops.shared.$b"))
    for (q <- CorpusOps.queries) out(s"ops.query.${q}_s") = wall(named(s"ops.query.$q"))

    out("streaming.triggers") = spark(spans, "streaming.triggers") / nPass
    for ((_, m) <- Tracer.streamPhases) out(m) = spark(spans, m) / nPass

    for (k <- sparkSums) out(s"spark.$k") = spark(spans, k) / nPass
    val passWall = roots.map(_.wallS).sum
    out("spark.core_busy_frac") =
      if (passWall == 0) 0.0 else spark(spans, "task_run_s") / (passWall * cores)

    for (l <- layerRoots) {
      val ss = under(l)
      out(s"layer.$l.self_s") = spark(ss, "self_s") / nPass
      out(s"layer.$l.off_job_s") = spark(ss, "off_job_s") / nPass
    }
    out("layer.pass.self_s") = spark(roots, "self_s") / nPass
    out("layer.pass.off_job_s") = spark(roots, "off_job_s") / nPass

    out.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
  }
}
