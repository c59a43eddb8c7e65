package graft

/** The bench's build/serve decompositions must answer EXACTLY what the
  * composed registry queries answer — otherwise the serve-latency metric
  * tracks a different computation than the correctness gate checks.
  */
// Tagged slow (r19, verdict item 1): executes real bench splits at sf0.1; excluded from the
// default `sbt test` so the suite fits the driver budget — run via
// `sbt -Dgraft.slow.tests=true test` (see build.sbt).
@org.scalatest.tags.Slow
class BenchSplitSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("every bench split's serve equals its composed query") {
    for ((name, (build, serve)) <- BenchSplits.of(spark, sf)) {
      build()
      val composed = SparkEntry.queries(name)(spark, sf)
      // pair-set queries order deterministically; compare sorted strings
      // to stay agnostic to the split's final sort
      assert(rows(serve()).sorted === rows(composed).sorted, name)
    }
  }
}
