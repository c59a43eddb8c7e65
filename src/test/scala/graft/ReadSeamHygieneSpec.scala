package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read in the engine goes through the one seam,
  * [[T.parquet]], which hands Spark the footer schema so that opening a
  * table submits no inference job. A raw `read.parquet` (or its
  * `read.format("parquet")` spelling) anywhere else in `src/main/scala/graft`
  * brings the job back; this spec fails on it. `graft.tools` is exempt:
  * its mains (Probe, the cluster and cross-session drivers, MakeScaled)
  * are developer and test entry points, not engine paths.
  *
  * Sessions have one seam as well: [[Session.local]] is the only
  * `SparkSession.builder` in `src/main/scala/graft` apart from
  * ClusterCheck's `local-cluster` session.
  *
  * Persisted indexes keep one lifecycle: every `graft/ops` index is
  * seeded, built once, committed and compacted through a
  * [[graft.index.GenLog.GenFamily]], so `graft/ops` holds no raw
  * `GenLog.buildOnce` claim and no hand-written `GenLog.markCommitted`
  * marker. Index roots are read the
  * same way everywhere: `graft/ops` unions no roots and collects no
  * probe keys by hand — [[graft.index.GenLog.read]] does both. And no
  * scaladoc sits directly on another, where the first would document
  * nothing.
  *
  * The streaming surface stays the entry points: a public
  * [[graft.ops.StreamOps]] def is either called from the engine or named
  * in [[StreamEntryPoints]], so a spec-only serve or a twin of a registry
  * query cannot come back unnoticed.
  */
class ReadSeamHygieneSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala/graft")
  private val Seam = Root.resolve("core.scala")
  private val Builder = """SparkSession\s*\.\s*builder\b""".r
  private val RawRead = """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r
  private val RawBuildOnce = """GenLog\s*\.\s*buildOnce\s*\(""".r
  private val RawMark = """GenLog\s*\.\s*markCommitted\s*\(""".r
  private val RootUnion = """reduce\(\s*_\s*(unionByName\s+_|\.\s*unionByName\(\s*_\s*\))\s*\)""".r
  private val KeyCollect = """\.distinct\(\)\s*\.collect\(\)""".r
  private val SplatIsin = """\.isin\([^()]*:\s*_\*\s*\)""".r
  private val Comment = """(?s)/\*.*?\*/|//[^\n]*""".r

  private val Stream = Root.resolve("ops/StreamOps.scala")
  private val PublicDef = """(?m)^  def (\w+)""".r

  /** StreamOps defs no engine code calls: what a streaming deployment
    * drives itself.
    */
  private val StreamEntryPoints = Set(
    // sources and lifts
    "docsStream", "liftCuratedDocs", "liftTumble", "liftExpectations", "liftStreamJoin",
    "liftSession", "liftStreamStaticJoin", "liftSimRetrieve", "liftUserCounts",
    "liftUserTotals",
    // twins of registry queries whose bodies Structured Streaming cannot
    // run (countDistinct, row_number windows, a to_date day key)
    "liftSlide", "liftDedup", "liftDedupExact", "liftSketchRollup",
    // seeds, per-batch commits and stream writers
    "seedCorpusPipeline", "seedIvfIndex", "seedSemanticIndex", "seedVectorPipeline",
    "corpusPipelineBatch", "incrEmbedDedupCommit", "corpusPipelineWriter",
    "incrDedupStreamWriter", "incrEmbedDedupStreamWriter", "vectorPipelineWriter",
    "upsertStreamWriter",
    // compactions and epoch rolls
    "compactVectorPipeline", "rollIvfEpoch", "rollSemanticEpoch", "rollSemanticEpochTrained")

  private def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Source text with comments blanked (line breaks kept), so prose may
    * name the raw call.
    */
  private def code(p: Path): String =
    Comment.replaceAllIn(text(p), m => "\n" * m.matched.count(_ == '\n'))

  /** Lines of the scaladocs in `src` that only whitespace separates from
    * the next comment, itself a scaladoc.
    */
  private def stackedDocs(src: String): Seq[Int] =
    Comment.findAllMatchIn(src).toSeq.sliding(2).collect {
      case Seq(a, b) if a.matched.startsWith("/**") && b.matched.startsWith("/**") &&
          src.substring(a.end, b.start).trim.isEmpty =>
        src.substring(0, a.start).count(_ == '\n') + 1
    }.toSeq

  /** `T.parquet`'s definition, up to the blank line that ends it. */
  private def seamDef(src: String): String = {
    val start = src.indexOf("def parquet(")
    assert(start >= 0, s"the seam T.parquet is gone from $Seam")
    src.substring(start, src.indexOf("\n\n", start))
  }

  private def sources: Seq[Path] = {
    val files = Files.walk(Root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"walked only ${files.size} files under $Root")
    files
  }

  test("no raw parquet read in src/main/scala/graft outside T.parquet") {
    val offenders = sources.filterNot(_.startsWith(Root.resolve("tools"))).flatMap { p =>
      val src = code(p)
      val checked = if (p == Seam) src.replace(seamDef(src), "") else src
      RawRead.findAllMatchIn(checked).map { m =>
        val line = checked.substring(0, m.start).count(_ == '\n') + 1
        s"$p:$line"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("raw parquet reads:\n", "\n", ""))
  }

  test("no SparkSession.builder in src/main/scala/graft outside graft.Session") {
    Seq("SparkSession.builder()", "SparkSession\n  .builder()")
      .foreach(t => assert(Builder.findFirstIn(t).nonEmpty, t))
    val builders = sources.map(p => p -> Builder.findAllMatchIn(code(p)).size)
      .filter(_._2 > 0).toMap
    assert(builders === Map(
      Root.resolve("Session.scala") -> 1,
      Root.resolve("tools/ClusterCheck.scala") -> 1))
  }

  test("no scaladoc in src/main/scala/graft sits directly on another") {
    assert(stackedDocs("/** a */\n  /** b */\n  def f = 1") === Seq(1))
    assert(stackedDocs("/** a */\n  // note\n  /** b */\n  def f = 1").isEmpty)
    val stacked = sources.map(p => p -> stackedDocs(text(p)))
      .filter(_._2.nonEmpty).toMap
    assert(stacked === Map.empty)
  }

  test("graft/ops claims and marks index artifacts only through GenFamily") {
    assert(RawBuildOnce.findFirstIn("GenLog\n  .buildOnce(s, dir)").nonEmpty)
    assert(RawBuildOnce.findFirstIn("F.buildOnce(s, dir)").isEmpty)
    assert(RawMark.findFirstIn("GenLog.markCommitted(s, p)").nonEmpty)
    val ops = Root.resolve("ops")
    val raw = for {
      p <- sources.filter(_.startsWith(ops))
      (call, pattern) <- Seq("buildOnce" -> RawBuildOnce, "markCommitted" -> RawMark)
      n = pattern.findAllMatchIn(code(p)).size
      if n > 0
    } yield s"$p: GenLog.$call" -> n
    assert(raw.toMap === Map.empty)
  }

  test("graft/ops reads index roots only through GenLog.read") {
    Seq("xs.reduce(_ unionByName _)", "xs.reduce(_.unionByName(_))")
      .foreach(t => assert(RootUnion.findFirstIn(t).nonEmpty, t))
    Seq("df.select(k).distinct().collect()", "df.select(k)\n  .distinct()\n  .collect()")
      .foreach(t => assert(KeyCollect.findFirstIn(t).nonEmpty, t))
    assert(SplatIsin.findFirstIn("col(k).isin(keys: _*)").nonEmpty)
    assert(SplatIsin.findFirstIn("$\"t\".isin(\"a\", \"b\")").isEmpty)
    val ops = Root.resolve("ops")
    val offenders = sources.filter(_.startsWith(ops)).flatMap { p =>
      val src = code(p)
      Seq(RootUnion, KeyCollect, SplatIsin).flatMap(_.findAllMatchIn(src)).map { m =>
        s"$p:${src.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("hand-written root reads:\n", "\n", ""))
  }

  test("every public StreamOps def is called from src/main or is a streaming entry point") {
    assert(PublicDef.findAllMatchIn("  def a(x: Int)\n  private def b\n    def c").map(_.group(1))
      .toSeq === Seq("a"))
    val defs = PublicDef.findAllMatchIn(code(Stream)).map(_.group(1)).toSet
    val engine = sources.filterNot(_ == Stream).map(code).mkString("\n")
    val uncalled = defs.filterNot(d => s"\\b$d\\b".r.findFirstIn(engine).nonEmpty)
    assert(uncalled -- StreamEntryPoints === Set.empty,
      "public StreamOps defs only specs reach: delete them, or compose the kernel in the spec")
    // the allowlist names live, uncalled defs only
    assert(StreamEntryPoints -- uncalled === Set.empty)
  }

  test("the pattern catches the single-line and split-line spellings") {
    val samples = Seq(
      "s.read.parquet(p)",
      "s.read\n      .parquet(p)",
      "spark.read.format(\"parquet\").load(p)")
    samples.foreach(t => assert(RawRead.findFirstIn(t).nonEmpty, t))
    assert(RawRead.findFirstIn("s.readStream.schema(x).parquet(p)").isEmpty)
    assert(RawRead.findFirstIn(code(Seam)).nonEmpty, "the seam itself reads parquet")
  }
}
