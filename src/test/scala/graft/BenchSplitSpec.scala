package graft

/** The bench's build/serve decompositions must answer EXACTLY what the
  * composed registry queries answer — otherwise the serve-latency metric
  * tracks a different computation than the correctness gate checks. It
  * runs every split at [[SparkSpec.sf]] (sf0.001) in the default suite:
  * it is the guard that the five LM splits, which serve from the
  * persisted lexical and bigram family roots, still equal their
  * in-session queries.
  */
class BenchSplitSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("every bench split's serve equals its composed query") {
    for ((name, split) <- SparkEntry.splits) {
      val (build, serve) = split(spark, sf)
      build()
      val composed = SparkEntry.queries(name)(spark, sf)
      // pair-set queries order deterministically; compare sorted strings
      // to stay agnostic to the split's final sort
      assert(rows(serve()).sorted === rows(composed).sorted, name)
    }
  }
}
