package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage a WORKLOAD-PRESERVING N× replica of a testdata scale factor —
  * the sf1-equivalent smoke corpus (verdict-r10 #8: no driver-generated
  * sf1 exists, so the next decade of volume is synthesized with the
  * ScaleSpec replica constructions, which keep the workload SHAPE
  * instead of inflating the dup structure):
  *
  *  - dimensions (region, nation) stay 1× — they are broadcast sides
  *    and replicating them would multiply join semantics, not data;
  *  - fact tables shift their keys per replica with consistent foreign
  *    keys (orders ↔ customer, lineitem ↔ orders/part/supplier), so
  *    joins stay referentially intact at N× volume;
  *  - documents: replica 0 is the base corpus VERBATIM (so the
  *    benchmark retrieval vocabulary survives staging and the 10×
  *    bm25/phrase/rrf records measure real pruned hits, not 0-row
  *    ties); replicas ≥ 1 get per-replica token tags — all replicas
  *    mutually invisible to every similarity key (exact md5, MinHash
  *    bands, n-grams). Customers get a two-char name suffix
  *    (cross-replica edit distance ≥ 2 for the fuzzy join);
  *  - embeddings get cyclic dimension shifts (norms exact, within-replica
  *    similarity structure preserved, cross-replica cosines scatter);
  *  - timestamps are untouched, so date-windowed queries see N× rows
  *    per day rather than a stretched timeline.
  *
  * args: `<sfDir> <outDir> <replicas>`
  */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, repStr) = args
    val reps = repStr.toInt
    val spark = graft.Session.local()
    import spark.implicits._

    def t(name: String): DataFrame = graft.T(spark, sfDir, name)
    def keyStride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // dimensions: 1×
    write(t("region"), "region")
    write(t("nation"), "nation")

    val ck = keyStride(t("customer"), "c_custkey")
    val sk = keyStride(t("supplier"), "s_suppkey")
    val pk = keyStride(t("part"), "p_partkey")
    val ok = keyStride(t("orders"), "o_orderkey")
    val ek = keyStride(t("events"), "event_id")
    val uk = keyStride(t("events"), "user_id")
    val dk = keyStride(t("documents"), "doc_id")
    val vk = keyStride(t("embeddings"), "vec_id")

    def reptd(f: Int => DataFrame): DataFrame =
      (0 until reps).map(f).reduce(_ unionByName _)

    write(reptd(k => t("customer").select(
      ($"c_custkey" + lit(k * ck)).as("c_custkey"),
      concat($"c_name", lit("_" + (('a' + k).toChar.toString * 2))).as("c_name"),
      $"c_nationkey", $"c_acctbal", $"c_mktsegment")), "customer")

    write(reptd(k => t("supplier").select(
      ($"s_suppkey" + lit(k * sk)).as("s_suppkey"),
      concat($"s_name", lit("_" + (('a' + k).toChar.toString * 2))).as("s_name"),
      $"s_nationkey", $"s_acctbal")), "supplier")

    write(reptd(k => t("part").select(
      ($"p_partkey" + lit(k * pk)).as("p_partkey"),
      $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice")), "part")

    write(reptd(k => t("orders").select(
      ($"o_orderkey" + lit(k * ok)).as("o_orderkey"),
      ($"o_custkey" + lit(k * ck)).as("o_custkey"),
      $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority")),
      "orders")

    write(reptd(k => t("lineitem").select(
      ($"l_orderkey" + lit(k * ok)).as("l_orderkey"),
      ($"l_partkey" + lit(k * pk)).as("l_partkey"),
      ($"l_suppkey" + lit(k * sk)).as("l_suppkey"),
      $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
      $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate")), "lineitem")

    write(reptd(k => t("events").select(
      ($"event_id" + lit(k * ek)).as("event_id"),
      $"ts",
      ($"user_id" + lit(k * uk)).as("user_id"),
      $"event_type", $"value", $"props")), "events")

    write(reptd { k =>
      val tag = ('a' + k).toChar.toString
      // Replica 0 is the base corpus VERBATIM: the benchmark retrieval
      // vocabulary (Bm25Queries/PhraseQueries terms like "hash join")
      // must exist in the staged corpus, or the bm25/phrase/rrf
      // served-index records at 10x prove only empty-result plumbing
      // (the round-15 verdict's 0-row-tie finding). Replicas stay
      // mutually invisible to every similarity key either way: raw vs
      // token-tagged text differ in md5, MinHash bands, and n-grams
      // exactly as two differently-tagged replicas do.
      // NULL-preserving tag transform: a NULL-text source row stays NULL
      // in every replica (coalesce would turn it into the non-null "za"
      // and silently lose the base corpus's null profile at scale)
      t("documents").select(
        ($"doc_id" + lit(k * dk)).as("doc_id"),
        (if (k == 0) $"text"
         else
           when($"text".isNotNull,
             concat_ws(" ",
               expr(s"transform(split(text, ' '), t -> concat(t, 'z$tag'))")))
             .otherwise(lit(null).cast("string")))
          .as("text"),
        $"lang", $"source")
        .withColumn("n_chars", length($"text").cast("long"))
    }, "documents")

    val dim = t("embeddings").select(size($"embedding")).head().getInt(0)
    write(reptd(k => t("embeddings").select(
      ($"vec_id" + lit(k * vk)).as("vec_id"),
      (if (k == 0) $"embedding"
       else expr(s"concat(slice(embedding, ${k + 1}, ${dim - k}), slice(embedding, 1, $k))"))
        .as("embedding"),
      $"label")), "embeddings")

    println(s"[make-scaled] wrote ${reps}x of $sfDir to $outDir")
    spark.stop()
  }
}
