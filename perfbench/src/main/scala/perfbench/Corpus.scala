package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.{Dedup, Similarity, SpanExact, TextAnalysis}

/** LLM data-prep operators over a generated corpus: the session-shared
  * intermediates first, then the queries, both in the order `graft.Bench`
  * runs them. Each call is timed around a plain write to the `noop` sink,
  * as `graft.Bench` does; the results are read back for their row counts
  * and hashes only after the pass, outside every timer and span.
  */
final class CorpusOps(ctx: Ctx, in: Path, pinsFile: Path) extends Workload {
  import CorpusOps._

  private val dir = in.resolve("corpus").toString

  /** name -> (rows, hash) pinned for the generated corpus. */
  private val pins: Map[String, (Long, String)] =
    Files.readAllLines(pinsFile).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  def setup(spark: SparkSession, work: Path): Unit =
    write(SparkEntry.queries("q_fingerprint")(spark, dir))

  def run(spark: SparkSession, work: Path): Unit = {
    val results = mutable.ArrayBuffer.empty[(String, DataFrame)]
    def timed(name: String)(df: => DataFrame): Unit =
      results += name -> ctx.call(name) { val d = df; write(d); d }
    ctx.inPass(ctx.tracer("corpus_pass") {
      for ((name, build) <- builds) timed(s"ops.shared.$name")(build(spark, dir))
      for (q <- queries) {
        timed(s"ops.query.$q")(SparkEntry.queries(q)(spark, dir))
        // what graft.Bench does between entries, outside each call's timer
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    })
    ctx.sample("corpus_ops_s", ctx.endPass())
    for ((name, df) <- results) {
      val got = try digest(df) catch { case e: Exception => (-1L, e.toString) }
      pins.get(name) match {
        case Some(want) if want == got => ()
        case want => ctx.fail(s"$name: got `$name ${got._1} ${got._2}`, pinned ${want.getOrElse("nothing")}")
      }
    }
  }
}

object CorpusOps {
  val builds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "shingle_postings" -> ((s, dir) => Dedup.sharedShinglePostings(s, dir)),
    "perplexity" -> ((s, dir) => TextAnalysis.sharedPerplexity(s, dir)),
    "ivf_probed" -> { (s, dir) => graft.functions.CosineSim.register(s); Similarity.sharedIvfProbed(s, dir) },
    "ivf_cand" -> ((s, dir) => Similarity.sharedIvfCand(s, dir)),
    "minhash_pairs" -> ((s, dir) => Dedup.sharedMinhashEstPairs(s, dir)),
    "span_sa" -> ((s, dir) => SpanExact.saRanks(s, dir)),
    "jaccard_pairs" -> ((s, dir) => Dedup.sharedJaccardPairs(s, dir, 0.6)))

  val queries: Seq[String] = Seq(
    "q_dedup_minhash", "q_jaccard_prefix", "q_dedup_components", "q_sim_ann",
    "q_ann_graph2", "q_tfidf", "q_lm_perplexity", "q_span_dedup_exact",
    "q_quality_score", "q_stream_release").sorted // graft.Bench's order

  /** Materialize `df` the way `graft.Bench` does. */
  def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count and order-insensitive hash of `df`'s rows. Floating-point
    * values are hashed at 9 significant digits, so a last-bit difference in
    * summation order is not a wrong answer.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.get(1)).fold("0")(_.toString))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) => struct(fs.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(_, _, _) => to_json(c)
    case _ => c
  }
}
