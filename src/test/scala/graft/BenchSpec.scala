package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.sharedBuilds]], the bench's billing table for shared
  * intermediates, without a Spark session.
  */
class BenchSpec extends AnyFunSuite {

  private val names = Bench.sharedBuilds.map(_.name)

  test("shared builds: every consumer is a registered query") {
    val queries = SparkEntry.queries.keySet
    val unknown = for {
      b <- Bench.sharedBuilds
      c <- b.consumers.toSeq.sorted
      if !queries.contains(c)
    } yield s"${b.name} <- $c"
    assert(unknown.isEmpty, unknown.mkString(", "))
  }

  test("shared builds: names are unique and carry the shared_ prefix") {
    assert(names.distinct == names)
    // the repin pass tells shared builds from queries by this prefix
    assert(names.forall(_.startsWith("shared_")), names.mkString(", "))
  }

  test("shared builds: execution order is pinned") {
    // a later build may scan an earlier one's materialized table (the
    // pair list reads the postings), and entry order is billing order
    assert(names == Seq("shared_shingle_postings", "shared_perplexity",
      "shared_bm25", "shared_ivf_probed", "shared_ivf_cand",
      "shared_pq_codes", "shared_phash", "shared_dsir_logw",
      "shared_semdedup", "shared_minhash_pairs", "shared_span_sa",
      "shared_span_adj", "shared_theta_sketch", "shared_pref_pairs",
      "shared_simhash_bands", "shared_jaccard_pairs",
      "shared_order_baskets", "shared_cust_baskets"))
  }
}
