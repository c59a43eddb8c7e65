package graft

import graft.ops.{SimilarityOps, Vec}
import org.apache.spark.sql.functions._

/** Agreement validation for the trained-IVF path (SURVEY §2 q_sim_ivf):
  * k-means is not oracle-expressible for the driver's DuckDB hash compare,
  * so the trained codebook is held to (a) bit-determinism across runs —
  * the exact-decimal mean must make training independent of partition
  * order — and (b) a recall floor vs the brute-force exact top-k.
  */
class IvfTrainSpec extends SparkSpec {

  private def e = {
    import spark.implicits._
    T(spark, sf, "embeddings")
      .select($"vec_id", $"embedding", Vec.norm2($"embedding").as("n2"))
  }

  test("codebook training is deterministic and actually moves centroids") {
    val a = SimilarityOps.trainCodebook(e, 16, 4)
    val b = SimilarityOps.trainCodebook(e.repartition(7), 16, 4)
    assert(a == b, "training depends on partitioning")
    val seeds = SimilarityOps.trainCodebook(e, 16, 0)
    assert(a.map(_._2) != seeds.map(_._2), "Lloyd iterations were a no-op")
    assert(a.size == 16 && a.forall(_._2.length == 64))
  }

  test("a NULL vector neither moves nor counts toward its cell's mean") {
    import spark.implicits._
    val rows = Seq[(Int, Long, Option[Seq[Float]])](
      (0, 0L, Some(Seq(0f, 0f))),
      (0, 1L, Some(Seq(10f, 10f))),
      (0, 2L, Some(Seq(2f, 2f))),
      (0, 3L, Some(Seq(8f, 8f))),
      (0, 4L, Some(Seq(1f, 3f))))
    val clean = rows.toDF("grp", "vec_id", "x")
    val withNull = (rows :+ ((0, 5L, None))).toDF("grp", "vec_id", "x")
    for (cosine <- Seq(false, true)) {
      val want = SimilarityOps.trainLloyd(clean, 2, 2, groups = 1, cosine)
      assert(SimilarityOps.trainLloyd(withNull, 2, 2, groups = 1, cosine) == want, s"cosine=$cosine")
    }
    // cell 0 holds vectors 0, 2 and 4: the mean divides by 3, not 4
    val cell0 = SimilarityOps.trainLloyd(withNull, 2, 1, groups = 1, cosine = false)(0).head._2
    assert(cell0 == Seq(1f, (BigDecimal(5) / 3).toFloat), cell0)
  }

  test("trained IVF recall vs exact top-10 meets the contract floor") {
    import spark.implicits._
    val got = SimilarityOps
      .simIvfTrained(spark, sf)
      .select($"vec_id")
      .as[Long]
      .collect()
      .toSet
    val exact = e
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(
        e.filter($"vec_id" === 0).select($"embedding".as("p"), $"n2".as("pn2"))))
      .select(
        $"vec_id",
        Vec.cosine(Vec.dot($"embedding", $"p"), $"n2", $"pn2").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
      .select($"vec_id")
      .as[Long]
      .collect()
      .toSet
    val recall = (got & exact).size / 10.0
    // nprobe=2 of 16 cells over isotropic random vectors: partial recall is
    // inherent to IVF (it trades recall for reading 2/16 of the corpus);
    // the floor guards against a broken quantizer (recall ~uniform ≈ 0.125)
    assert(recall >= 0.5, s"recall $recall < 0.5 (got=$got exact=$exact)")
  }
}
