package graft

import java.nio.file.Files

import graft.ops.{SimilarityOps, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The catalog under REAL interleaved concurrency — writer, compactor,
  * and reader driving one ANN index directory simultaneously from three
  * threads (the day-2 multi-tenant shape the round's grace/lease work
  * exists for; the earlier specs each exercise one interleaving,
  * pre-resolved). The linearizable contract under test:
  *
  *  - every mid-flight serve equals the monolithic answer of SOME
  *    committed batch prefix (states are monotone: a reader may be one
  *    fold behind, never in between or corrupt);
  *  - no reader ever crashes on the compactor's deletes, provided it
  *    finishes within one compaction interval — the documented grace
  *    contract, which the compactor's cadence here respects;
  *  - the final state equals the full-corpus answer, and compactions
  *    verifiably ran while reads and writes were in flight.
  */
// Tagged slow (r19, verdict item 1): racing-writer concurrency soak; excluded from the
// default `sbt test` so the suite fits the driver budget — run via
// `sbt -Dgraft.slow.tests=true test` (see build.sbt).
@org.scalatest.tags.Slow
class CatalogConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("writer + compactor + reader on one index: every serve is a committed prefix") {
    val all = T(spark, sf, "embeddings")
    val maxId = all.agg(max($"vec_id")).head().getLong(0)
    val Batches = 6
    // cut points: base = ids up to 50%, then 6 batches over the rest
    val cuts = (0 to Batches).map(i => maxId / 2 + (maxId - maxId / 2) * i / Batches)
    def slice(i: Int): DataFrame =
      all.filter($"vec_id" > cuts(i - 1) && $"vec_id" <= cuts(i))

    val probes = SimilarityOps.batchProbeFrame(spark, sf).localCheckpoint(true)

    // the valid-state set: the monolithic answer after each prefix of
    // batches (prefix 0 = base only .. prefix 6 = full corpus), each
    // from its own throwaway static index
    val prefixAnswers = (0 to Batches).map { i =>
      val dir = s"${Files.createTempDirectory("graft_conc_px")}/idx"
      SimilarityOps.writeAnnIndexFor(
        spark, all.filter($"vec_id" <= cuts(i)), dir)
      rows(SimilarityOps.serveAnnBatch(spark, Seq(dir), probes))
    }

    val indexDir = Files.createTempDirectory("graft_conc_idx").toString
    StreamOps.AnnFamily.seed(spark, all.filter($"vec_id" <= cuts(0)), indexDir)

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val served = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactions = new java.util.concurrent.atomic.AtomicInteger
    val midFlightReads = new java.util.concurrent.atomic.AtomicInteger

    val writer = new Thread(() =>
      try {
        for (b <- 1 to Batches) {
          StreamOps.AnnFamily.commit(slice(b), indexDir, batchId = (b - 1).toLong)
          Thread.sleep(400)
        }
      } catch { case t: Throwable => errors.add(t) }
      finally writerDone.set(true))

    val compactor = new Thread(() =>
      try while (!writerDone.get()) {
        StreamOps.AnnFamily.compact(spark, indexDir)
        compactions.incrementAndGet()
        // the grace contract: a reader must outlive its snapshot for one
        // compaction interval — so the compactor runs at a realistic
        // cadence, not a hot loop
        Thread.sleep(1500)
      } catch { case t: Throwable => errors.add(t) })

    val reader = new Thread(() =>
      try while (!writerDone.get()) {
        served.add(rows(SimilarityOps.serveAnnBatch(
          spark, StreamOps.AnnFamily.roots(spark, indexDir), probes)))
        midFlightReads.incrementAndGet()
      } catch { case t: Throwable => errors.add(t) })

    Seq(writer, compactor, reader).foreach(_.start())
    Seq(writer, compactor, reader).foreach(_.join(300000))

    assert(errors.isEmpty, s"concurrent catalog use threw: ${errors.peek()}")
    assert(compactions.get() >= 1, "no compaction ran mid-flight — the test proved nothing")
    assert(midFlightReads.get() >= 3, s"only ${midFlightReads.get()} mid-flight reads")
    // every observed state is a committed prefix — never torn, never stale
    // beyond a whole fold, never partially compacted
    import scala.jdk.CollectionConverters._
    val valid = prefixAnswers.toSet
    served.asScala.zipWithIndex.foreach { case (sv, i) =>
      assert(valid.contains(sv),
        s"read #$i observed a state that is no committed prefix " +
          s"(${sv.size} rows; prefix sizes ${prefixAnswers.map(_.size)})")
    }
    // quiesced: one more compaction cycle, then the final answer is the
    // full corpus, exactly
    StreamOps.AnnFamily.compact(spark, indexDir)
    assert(
      rows(SimilarityOps.serveAnnBatch(
        spark, StreamOps.AnnFamily.roots(spark, indexDir), probes)) ===
        prefixAnswers.last)
    assert(prefixAnswers.last === rows(SparkEntry.queries("q_sim_batch")(spark, sf)))
  }
}
