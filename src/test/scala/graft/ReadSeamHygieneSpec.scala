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
  */
class ReadSeamHygieneSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala/graft")
  private val Seam = Root.resolve("core.scala")
  private val Builder = """SparkSession\s*\.\s*builder\b""".r
  private val RawRead = """\.read\s*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r

  /** Source text with comments blanked (line breaks kept), so prose may
    * name the raw call.
    */
  private def code(p: Path): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(
      new String(Files.readAllBytes(p), "UTF-8"),
      m => "\n" * m.matched.count(_ == '\n'))

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
