package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The registry's served-query wiring, without Spark. */
class RegistrySpec extends AnyFunSuite {

  test("splits: the served and incremental queries, each a registry query") {
    val names = SparkEntry.splits.map(_._1)
    assert(names.sorted === Seq(
      "q_agg_quantile_incr", "q_agg_rollup_daily", "q_dedup_cc_incr",
      "q_dedup_embed_incr", "q_dedup_incr", "q_dedup_semantic_incr",
      "q_index_bm25_incr", "q_index_bm25_served", "q_index_phrase_incr",
      "q_index_phrase_served", "q_lm_bucket", "q_lm_interp", "q_lm_kn",
      "q_lm_score", "q_lm_score_incr", "q_lm_score_lang",
      "q_retrieval_rrf_served", "q_sim_incr", "q_sim_ivf_served",
      "q_sim_quantized_served", "q_sim_served"))
    names.foreach(n => assert(SparkEntry.queries.contains(n), n))
    assert(SparkEntry.queries.size === 189)
  }

  test("QueryDef.served: fn runs build, then returns serve's frame") {
    // a DataFrame with no session behind it: never used, only compared
    // by identity
    val unsafe = {
      val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      f.setAccessible(true)
      f.get(null).asInstanceOf[sun.misc.Unsafe]
    }
    val frame = unsafe
      .allocateInstance(classOf[org.apache.spark.sql.classic.Dataset[_]])
      .asInstanceOf[DataFrame]
    val calls = collection.mutable.Buffer.empty[String]
    val q = QueryDef.served(
      "q_fake",
      (_, d) => {
        calls += s"split $d"
        (() => { calls += "build"; () }, () => { calls += "serve"; frame })
      },
      "SELECT 1")
    assert(calls.isEmpty)
    assert(q.fn(null, "sf") eq frame)
    assert(calls === Seq("split sf", "build", "serve"))
    assert(q.oracle === Some("SELECT 1"))
    assert(q.split.isDefined)
  }
}
