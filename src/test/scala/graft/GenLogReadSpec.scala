package graft

import java.nio.file.Files

import graft.index.GenLog
import org.apache.spark.sql.functions._

/** The one merge-on-read, [[GenLog.read]], over a two-root family
  * hive-partitioned on `k`: unpruned it is the union of the roots; with
  * a probe it lists only the probed partition directories of each root;
  * an empty probe reads nothing.
  */
class GenLogReadSpec extends SparkSpec {

  private val Family = GenLog.GenFamily(
    label = "read spec",
    write = (_, rows, path) => GenLog.writePartitioned(rows, "k", path),
    fold = (s, roots, path) => GenLog.writePartitioned(GenLog.read(s, roots), "k", path))

  // ids 0..199 with k = id % 8: the seed holds ids below 150, v1/gen the rest
  private lazy val roots: Seq[String] = {
    val dir = Files.createTempDirectory("graft_read_seam").toString
    val rows = spark.range(200).select(col("id"), (col("id") % 8).as("k"))
    Family.buildOnce(spark, dir)(Seq(rows.filter(col("id") < 150), rows.filter(col("id") >= 150)))
    Family.roots(spark, dir)
  }

  private def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted

  test("an unpruned read is the union of the roots") {
    assert(roots.size === 2)
    val read = GenLog.read(spark, roots)
    assert(idsOf(read) === roots.flatMap(r => idsOf(spark.read.parquet(r))).sorted)
    assert(idsOf(read) === (0L until 200L))
    assert(read.filter(col("k") =!= col("id") % 8).isEmpty)
  }

  test("a probed read lists only the probed partition directories of every root") {
    import spark.implicits._
    val read = GenLog.read(spark, roots, within = Some("k" -> Seq(3, 5, 3).toDF("p")))
    val dirs = scannedDirs(read)
    assert(dirs.map(_.split('/').last) === Set("k=3", "k=5"))
    assert(dirs.size === 2 * roots.size, dirs)
    assert(idsOf(read) === (0L until 200L).filter(i => i % 8 == 3 || i % 8 == 5))
  }

  test("an empty probe reads no rows") {
    import spark.implicits._
    val read = GenLog.read(spark, roots, within = Some("k" -> Seq.empty[Int].toDF("p")))
    assert(read.count() === 0L)
    assert(scannedDirs(read).isEmpty)
  }
}
