package graft

import java.nio.file.Files

import graft.index.GenLog
import graft.ops.{SimilarityOps, TextOps, Vec}
import org.apache.spark.sql.functions._

/** Build/serve split for retrieval: the persisted bucket/cell indexes must
  * serve byte-identical results to the in-session batch queries, the probe
  * scan must be statically pruned to the probed directories, and the
  * TRAINED IVF codebook must round-trip through parquet exactly.
  */
class ServeIndexSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("q_sim_served / q_sim_ivf_served equal their in-session batch twins") {
    assert(
      rows(SparkEntry.queries("q_sim_served")(spark, sf)) ===
        rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
    assert(
      rows(SparkEntry.queries("q_sim_ivf_served")(spark, sf)) ===
        rows(SparkEntry.queries("q_sim_ivf_batch")(spark, sf)
          .select(col("probe_id"), col("vec_id"), col("cell").cast("long").as("cell"), col("cos"))))
  }

  // the partition directories named `key=…` that a served frame's scans read
  private def probedDirs(df: org.apache.spark.sql.DataFrame, key: String): Set[String] =
    scannedDirs(df).map(_.split('/').last).filter(_.startsWith(s"$key="))

  test("the served scan carries a literal partition filter over probed buckets") {
    val served = SparkEntry.queries("q_sim_served")(spark, sf)
    val p = served.queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*bucket[^\\]]*(INSET|IN \\()".r.findFirstIn(p).isDefined,
      p)
    // directory-level proof: the served scan lists a strict subset of the
    // index's bucket directories
    val idxDir = s"${GenLog.datasetRoot(spark, sf)}/ann/v0/full"
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs
      .listStatus(new org.apache.hadoop.fs.Path(idxDir))
      .count(_.getPath.getName.startsWith("bucket="))
    val probed = probedDirs(served, "bucket")
    assert(probed.nonEmpty && probed.size < bucketDirs,
      s"probed ${probed.size} of $bucketDirs bucket dirs")
  }

  test("q_index_bm25_served equals its in-session twin from a pruned scan") {
    assert(
      rows(SparkEntry.queries("q_index_bm25_served")(spark, sf)) ===
        rows(SparkEntry.queries("q_index_bm25")(spark, sf)))
    val served = SparkEntry.queries("q_index_bm25_served")(spark, sf)
    val p = served.queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*tshard[^\\]]*(INSET|IN \\()".r.findFirstIn(p).isDefined,
      p)
    // directory-level proof: the served scan lists a strict subset of
    // the index's shard directories
    val idxDir = s"${GenLog.datasetRoot(spark, sf)}/bm25/v0/full/postings"
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDirs = fs
      .listStatus(new org.apache.hadoop.fs.Path(idxDir))
      .count(_.getPath.getName.startsWith("tshard="))
    val probed = probedDirs(served, "tshard")
    assert(probed.nonEmpty && probed.size < shardDirs,
      s"probed ${probed.size} of $shardDirs shard dirs")
  }

  test("q_index_phrase_served equals its in-session twin from a pruned scan") {
    assert(
      rows(SparkEntry.queries("q_index_phrase_served")(spark, sf)) ===
        rows(SparkEntry.queries("q_index_phrase")(spark, sf)))
    val served = SparkEntry.queries("q_index_phrase_served")(spark, sf)
    val p = served.queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*tshard[^\\]]*(INSET|IN \\()".r.findFirstIn(p).isDefined,
      p)
    // directory-level proof: the served scan lists a strict subset of
    // the positional index's shard directories
    val idxDir = s"${GenLog.datasetRoot(spark, sf)}/phrase/v0/full/postings"
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardDirs = fs
      .listStatus(new org.apache.hadoop.fs.Path(idxDir))
      .count(_.getPath.getName.startsWith("tshard="))
    val probed = probedDirs(served, "tshard")
    assert(probed.nonEmpty && probed.size < shardDirs,
      s"probed ${probed.size} of $shardDirs shard dirs")
  }

  test("q_index_phrase_incr: merge-on-read equals the full computation; the increment is batch-sized") {
    assert(
      rows(SparkEntry.queries("q_index_phrase_incr")(spark, sf)) ===
        rows(SparkEntry.queries("q_index_phrase")(spark, sf)))
    // O(batch) maintenance: the increment's occurrence rows are a small
    // fraction of the base generation's (same claim as the bm25 sibling)
    val root = s"${GenLog.datasetRoot(spark, sf)}/phraseincr"
    val postingsRows =
      (sub: String) => spark.read.parquet(s"$root/$sub/postings").count()
    val (base, inc) = (postingsRows("v0/full"), postingsRows("v1/gen"))
    assert(inc > 0 && inc < base / 3, s"inc=$inc base=$base")
  }

  test("q_index_bm25_incr: merge-on-read equals the full computation; the increment is batch-sized") {
    assert(
      rows(SparkEntry.queries("q_index_bm25_incr")(spark, sf)) ===
        rows(SparkEntry.queries("q_index_bm25")(spark, sf)))
    // the batch generation holds ~10% of the docs, so its postings ROWS
    // must be a small fraction of the base generation's — the O(batch)
    // maintenance claim (rows, not bytes: at spec scale per-file parquet
    // footer overhead across 64 shard dirs floors the byte sizes)
    val root = s"${GenLog.datasetRoot(spark, sf)}/bm25incr"
    val postingsRows =
      (sub: String) => spark.read.parquet(s"$root/$sub/postings").count()
    val (base, inc) = (postingsRows("v0/full"), postingsRows("v1/gen"))
    assert(inc > 0 && inc < base / 3, s"inc=$inc base=$base")
    // and the base generation is never rewritten by the batch build: its
    // newest file predates the increment's oldest
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def modTimes(sub: String): Seq[Long] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/$sub"), true)
      val b = Seq.newBuilder[Long]
      while (it.hasNext) { val f = it.next(); if (f.isFile) b += f.getModificationTime }
      b.result()
    }
    assert(modTimes("v0/full").max <= modTimes("v1/gen").min)
  }

  test("q_sim_incr: merge-on-read equals the monolithic search; increment is batch-sized") {
    assert(
      rows(SparkEntry.queries("q_sim_incr")(spark, sf)) ===
        rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
    // the batch generation holds ~10% of the vectors — the O(batch)
    // maintenance claim (rows, not bytes: parquet footer overhead across
    // bucket dirs floors byte sizes at spec scale)
    val root = s"${GenLog.datasetRoot(spark, sf)}/ann_incr"
    val gen = (sub: String) => spark.read.parquet(s"$root/$sub").count()
    val (base, inc) = (gen("v0/full"), gen("v1/gen"))
    assert(inc > 0 && inc < base / 3, s"inc=$inc base=$base")
    // both generation scans carry the literal bucket INSET filter — the
    // probe set prunes every generation independently
    val p = SparkEntry.queries("q_sim_incr")(spark, sf)
      .queryExecution.executedPlan.toString
    val pruned =
      "PartitionFilters: \\[[^\\]]*bucket[^\\]]*(INSET|IN \\()".r.findAllIn(p).length
    assert(pruned == 2, s"expected 2 pruned generation scans, got $pruned:\n$p")
  }

  test("serveBm25For answers an arbitrary query frame (library API)") {
    import spark.implicits._
    import graft.ops.TextOps
    val (build, dir) = TextOps.bm25Index(spark, sf)
    build()
    val roots = graft.ops.StreamOps.Bm25Family.roots(spark, dir)
    // per-query scoring is independent of which other queries ride the
    // batch, so a subset query frame must reproduce the full serve's
    // rows for those query ids exactly (through a smaller pruned scan)
    val subset = TextOps.Bm25Queries.filter(q => q._1 == 1 || q._1 == 4)
      .toDF("query_id", "term")
    val got = rows(TextOps.serveBm25For(spark, roots, subset))
    val want = rows(
      TextOps.serveBm25(spark, roots).filter($"query_id".isin(1, 4)))
    assert(got === want && got.nonEmpty)
  }

  test("q_sim_quantized_served equals its in-session twin from a pruned int8 scan") {
    assert(
      rows(SparkEntry.queries("q_sim_quantized_served")(spark, sf)) ===
        rows(SparkEntry.queries("q_sim_quantized")(spark, sf)))
    // the scan tier reads only the probed bucket directories of the
    // persisted quantized index
    val p = SparkEntry.queries("q_sim_quantized_served")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*bucket[^\\]]*(INSET|IN \\()".r.findFirstIn(p).isDefined,
      p)
    // directory-level proof: probed set is a strict subset of the
    // index's bucket directories
    val idxDir = s"${GenLog.datasetRoot(spark, sf)}/annq/v0/full"
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs
      .listStatus(new org.apache.hadoop.fs.Path(idxDir))
      .count(_.getPath.getName.startsWith("bucket="))
    assert(bucketDirs > SimilarityOps.SignBits + 1,
      s"index holds only $bucketDirs bucket dirs — pruning unprovable")
  }

  test("q_retrieval_rrf_served: three-index serve equals in-session; id-fetch is shard-pruned") {
    assert(
      rows(SparkEntry.queries("q_retrieval_rrf_served")(spark, sf)) ===
        rows(SparkEntry.queries("q_retrieval_rrf")(spark, sf)))
    // the feedback-seed fetch reads the embedding store through a literal
    // ishard partition filter — by-id lookups never scan the full store.
    // The serve collects the bounded seed ONCE, so the store scan lives
    // (and executes, exactly once) in the SEED frame's plan, not the
    // final fused plan — assert the filter where the scan runs.
    val root = GenLog.datasetRoot(spark, sf)
    val lex = TextOps.rrfLexFrame(spark, Seq(s"$root/bm25/v0/full"))
    val seedPlan = TextOps
      .rrfSeedFrame(spark, Seq(s"$root/embstore/v0/full"), lex)
      .queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*ishard[^\\]]*(INSET|IN \\()".r
        .findFirstIn(seedPlan).isDefined,
      seedPlan)
    // the cosine leg's bucket pruning stays in the final executed plan
    val p = SparkEntry.queries("q_retrieval_rrf_served")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(
      "PartitionFilters: \\[[^\\]]*bucket[^\\]]*(INSET|IN \\()".r.findFirstIn(p).isDefined,
      p)
  }

  test("trained IVF codebook round-trips exactly and serves from disk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_serve_trained").toString
    val e = T(spark, sf, "embeddings")
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
    val cb = SimilarityOps.trainCodebook(e, 16, iters = 4)
    val cents = cb.toDF("c_id", "c").select($"c_id", $"c", Vec.norm2($"c").as("cn2"))
    SimilarityOps.writeIvfIndexFrom(spark, e, cents, dir)
    // float centroids survive parquet bit-exactly
    val cbBack = spark.read.parquet(s"$dir/codebook")
      .orderBy("c_id").select("c_id", "c")
      .as[(Long, Seq[Float])].collect().toSeq
    assert(cbBack === cb.map { case (id, c) => (id, c.toSeq) })
    // serving the trained index from disk equals the same search composed
    // in memory (cell assignment + probe ranking + top-k, no parquet)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"probe_id").orderBy($"cos".desc, $"vec_id")
    val assigned = e
      .crossJoin(broadcast(SimilarityOps.codebookRow(cents)))
      .select($"vec_id", $"embedding", $"n2", SimilarityOps.scoredCol.as("scored"))
    val cells = assigned.select(
      $"vec_id", $"embedding", $"n2",
      (-array_max($"scored").getField("nid")).as("cell"))
    val probeCells = assigned
      .filter($"vec_id" < 5)
      .select(
        $"vec_id".as("probe_id"), $"embedding".as("p"), $"n2".as("pn2"),
        explode(slice(reverse(array_sort($"scored")), 1, 2)).as("sc"))
      .select($"probe_id", $"p", $"pn2", (-$"sc.nid").as("pcell"))
    val expected = cells
      .join(broadcast(probeCells), $"cell" === $"pcell" && $"vec_id" =!= $"probe_id")
      .select(
        $"probe_id", $"vec_id", $"cell".cast("long").as("cell"),
        graft.X.r6(Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"probe_id", $"vec_id", $"cell", $"cos")
      .orderBy($"probe_id", $"cos".desc, $"vec_id")
    val served = SimilarityOps.serveIvfBatch(spark, Seq(dir), e.filter($"vec_id" < 5))
    assert(rows(served) === rows(expected))
    assert(served.count() > 0)
  }
}
