package graft.ops

import graft.{QueryDef, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier C data-layout family: Z-order (Morton) clustering — the lakehouse
  * `OPTIMIZE ZORDER` primitive. Sorting a table by an interleaved-bit key
  * makes every contiguous run of rows cover a small RECTANGLE in
  * (dim1, dim2) space, so parquet row-group min/max stats prune
  * multi-dimensional predicates — the single most effective scan
  * optimization for a 100 TB fact table queried by more than one
  * dimension (a single-dim sort prunes only its own dimension).
  *
  * The key is composed entirely from codegen'd bitwise builtins
  * (shiftleft / | / &) — no UDF, no custom expression needed: the
  * magic-bits spread is four shift-or-mask steps per dimension.
  */
object LayoutOps {

  /** Interleave-ready 16-bit spread: v's bit i moves to bit 2i
    * (0x0000FFFF → 0x55555555 positions) via the standard magic-bits
    * cascade. Input must be in [0, 2^16).
    */
  private[graft] def spread16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(c) { case (v, (sh, mask)) =>
        v.bitwiseOR(shiftleft(v, sh)).bitwiseAND(lit(mask))
      }

  /** Morton key of two 16-bit dimensions: x in the odd bits, y in the
    * even bits. Adjacent zkey ranges = small (x, y) rectangles.
    */
  private[graft] def zkey(x: Column, y: Column): Column =
    shiftleft(spread16(x), 1).bitwiseOR(spread16(y))

  /** DuckDB rendering of the same cascade, via lateral column-alias
    * reuse (each step references the previous alias once, keeping the
    * SQL linear instead of exponentially nested).
    */
  private def spreadSqlSteps(v: String, p: String): Seq[String] = {
    val masks = Seq((8, 16711935L), (4, 252645135L), (2, 858993459L), (1, 1431655765L))
    masks.zipWithIndex.map { case ((sh, m), i) =>
      val src = if (i == 0) v else s"$p$i"
      s"(($src | ($src << $sh)) & $m) AS $p${i + 1}"
    }
  }

  /** q_layout_zorder — the clustering account of a Z-order layout over
    * events on (day, user): rows grouped by zkey >> 6 (an 8-day × 8-user
    * Morton tile), with each tile's realized (day, user) bounding box.
    * The oracle recomputes the identical interleave; LayoutSpec asserts
    * the rectangle property (every tile spans < 8 days and < 8 users)
    * and demonstrates the point: a two-dimensional predicate over a
    * z-sorted parquet file scans a fraction of the row groups a
    * shuffled layout scans.
    */
  private def layoutZorder(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T(s, d, "events")
      .select(
        datediff(to_date($"ts"), lit("2024-01-01").cast("date")).cast("long").as("day_off"),
        $"user_id")
      .select($"day_off", $"user_id", zkey($"day_off", $"user_id").as("zk"))
      .groupBy(shiftright($"zk", 6).as("zbucket"))
      .agg(
        count(lit(1)).as("n"),
        min($"day_off").as("day_min"),
        max($"day_off").as("day_max"),
        min($"user_id").as("u_min"),
        max($"user_id").as("u_max"))
      .orderBy($"zbucket")
  }

  private val ZorderSql = {
    val xs = spreadSqlSteps("day_off", "x").mkString(", ")
    val ys = spreadSqlSteps("user_id", "y").mkString(", ")
    "WITH e AS (SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_off, " +
      "user_id FROM events), " +
      s"z AS (SELECT day_off, user_id, $xs, $ys, (x4 << 1) | y4 AS zk FROM e) " +
      "SELECT zk >> 6 AS zbucket, count(*) AS n, " +
      "min(day_off) AS day_min, max(day_off) AS day_max, " +
      "min(user_id) AS u_min, max(user_id) AS u_max " +
      "FROM z GROUP BY zbucket ORDER BY zbucket"
  }

  /** Write `df` clustered by zkey over (x, y): range-partitioned then
    * sorted within partitions, so every output file is a contiguous
    * z-range and every row group's min/max stats describe a small
    * rectangle. `blockBytes` bounds the row-group size — the pruning
    * granularity knob (small groups prune tighter; production uses the
    * 128 MB default).
    */
  def writeZOrdered(
      df: DataFrame,
      x: Column,
      y: Column,
      path: String,
      partitions: Int = 4,
      blockBytes: Long = 128L * 1024 * 1024): Unit = {
    df.withColumn("zk", zkey(x, y))
      .repartitionByRange(partitions, col("zk"))
      .sortWithinPartitions(col("zk"))
      .drop("zk")
      .write
      .option("parquet.block.size", blockBytes.toString)
      .mode("overwrite")
      .parquet(path)
  }

  /** Small-file compaction — the other half of lakehouse `OPTIMIZE`: a
    * streaming ingest (one file per micro-batch per partition) or an
    * over-parallel write leaves thousands of KB-scale files whose open/
    * footer overhead dominates the scan; compaction rewrites them into
    * `ceil(rows / targetRowsPerFile)` evenly-sized files (round-robin
    * repartition — no key skew by construction). Returns the file count
    * written. Production beats on bytes, not rows; rows are the testable
    * proxy with the same mechanics. Content equality and the file-count
    * bound are spec-proven (LayoutSpec).
    */
  def compact(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      targetRowsPerFile: Long): Int = {
    val df = T.parquet(spark, inDir)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(files).write.mode("overwrite").parquet(outDir)
    files
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_layout_zorder", layoutZorder, Some(ZorderSql)))
}
