package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.expr.LenientJson
import graft.index.GenLog
import graft.ops._

/** The benchmark's JVM side: sets up a Spark session, runs one workload as
  * a closed loop with a single client for a fixed time, and writes the raw
  * record (setup samples, per-op latencies and row counts, spans, counters)
  * as JSON for `run.py`, which computes the metrics and checks outputs.
  *
  * args: `--workload registry|etl --data <dir> --work <dir> --out <file>
  *        --seed <n> --seconds <s> --trace 0|1 --cpus <k> --min-ops <n>
  *        [--queries <file>] [--probe 0|1]`
  *
  * With `--trace 1`, ops (registry: passes) alternate between traced and
  * untraced, so one run gives both the per-layer record and the tracing
  * overhead. A traced op records one span per layer call and tags the
  * Spark jobs it submits with its layer; an untraced op is timed as a
  * whole and nothing else.
  */
object Harness {

  /** Registry modules, in `SparkEntry` order. */
  val Modules: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "IngestOps" -> IngestOps.defs, "ReportOps" -> ReportOps.defs,
    "RelationalOps" -> RelationalOps.defs, "ScalarOps" -> ScalarOps.defs,
    "StreamOps" -> StreamOps.defs, "DedupOps" -> DedupOps.defs,
    "SimilarityOps" -> SimilarityOps.defs, "TextOps" -> TextOps.defs,
    "LmOps" -> LmOps.defs, "MultimodalOps" -> MultimodalOps.defs,
    "CurationOps" -> CurationOps.defs, "LayoutOps" -> LayoutOps.defs,
    "TemporalOps" -> TemporalOps.defs)

  final class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
    val work: String = apply("work")
    val cpus: Int = get("cpus", "4").toInt
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = get("trace", "0") == "1"
    val minOps: Int = get("min-ops", "1").toInt
  }

  /** Set-up cycles per run; `setup_s` is their median. */
  val SetupCycles = 3

  /** Everything the run records; serialized by [[write]]. */
  final class Record {
    val setup = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    val rec = new Record
    val tracer = new Tracer
    val run: Runner = args("workload") match {
      case "registry" => new RegistryRunner(args, rec, tracer)
      case "etl"      => new EtlRunner(args, rec, tracer)
      case w          => sys.error(s"unknown workload $w")
    }
    // setup: several identical cycles, each starting Spark afresh with a
    // new index root and running every kind of op once; the first cycle
    // also pays the JVM's warm-up, the last one's session serves the
    // measured window
    var spark: SparkSession = null
    for (i <- 0 until SetupCycles) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(args, i)
      run.setup(spark, i)
      rec.setup += (System.nanoTime() - t0) / 1e9
    }
    System.gc()
    val listener = new TagListener
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    val builds0 = (GenLog.buildsRun.get, GenLog.buildsSkipped.get)
    val start = System.nanoTime()
    val deadline = start + (args.seconds * 1e9).toLong
    var op = 0
    while (run.more(System.nanoTime() >= deadline, op)) {
      rec.ops += run.op(spark, op, args.trace && run.traced(op), listener)
      op += 1
    }
    rec.extra("window_s") = (System.nanoTime() - start) / 1e9
    rec.extra("genlog_builds_run") = GenLog.buildsRun.get - builds0._1
    rec.extra("genlog_builds_skipped") = GenLog.buildsSkipped.get - builds0._2
    run.finish(spark)
    if (args.get("probe", "0") == "1") rec.extra("probe_s") = probe(spark)
    rec.extra("cpus") = args.cpus
    rec.extra("peak_rss_mb") = peakRssMb()
    write(args("out"), rec, tracer)
    spark.stop()
  }

  def session(args: Args, cycle: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // a fresh index root per setup cycle, so each cycle pays the builds
    s.conf.set(GenLog.RootKey, s"${args.work}/index-$cycle")
    s
  }

  /** Host-load diagnostic, the same computation as `graft.Bench`'s
    * calibration probe: min of 5 timed runs after one warm run.
    */
  def probe(s: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      s.range(0L, 1L << 27, 1L, s.sparkContext.defaultParallelism)
        .selectExpr("bit_xor(xxhash64(xxhash64(xxhash64(id))))")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(5)(once()).min
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Drain the listener bus, then hand back the counters of `tag`. */
  def countsOf(s: SparkSession, l: TagListener, tag: String): Map[String, Long] = {
    org.apache.spark.GraftListenerBridge.drain(s.sparkContext, 10000)
    l.take(tag)
  }

  def write(path: String, rec: Record, tracer: Tracer): Unit = {
    import org.json4s.jackson.Serialization
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val spans = tracer.spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start" -> s.startNs / 1e9, "end" -> s.endNs / 1e9))
    val all = Map("setup_s" -> rec.setup, "ops" -> rec.ops, "spans" -> spans) ++ rec.extra
    Files.write(Paths.get(path), Serialization.write(all).getBytes(UTF_8))
  }
}

/** One workload: per-cycle setup, one op, and work after the window. */
trait Runner {
  /** One setup cycle, in a fresh Spark context: every kind of op runs once. */
  def setup(s: SparkSession, cycle: Int): Unit
  /** Whether to start another op, given whether the time is up. */
  def more(timeUp: Boolean, opsDone: Int): Boolean = !timeUp
  /** In a traced run, whether op `id` is traced: every other op. */
  def traced(id: Int): Boolean = id % 2 == 0
  def op(s: SparkSession, id: Int, traced: Boolean, l: TagListener): Map[String, Any]
  def finish(s: SparkSession): Unit = ()
}

/** Registry queries over one data directory; one op = one query, run to
  * completion by counting the rows of its physical plan (all output
  * columns are produced). Passes over the query list repeat in a seeded
  * order per pass.
  */
final class RegistryRunner(args: Harness.Args, rec: Harness.Record, tracer: Tracer) extends Runner {
  private val data = args("data")
  private val names: Seq[String] =
    new String(Files.readAllBytes(Paths.get(args("queries"))), UTF_8)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  private val moduleOf: Map[String, String] =
    Harness.Modules.flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap
  private val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
  private var order: Seq[String] = Nil

  private def runQuery(s: SparkSession, name: String): Long = {
    val qe = fns(name)(s, data).queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.count())
  }

  /** First run of every query: codegen, JIT and the one-time index builds. */
  def setup(s: SparkSession, cycle: Int): Unit = {
    val b0 = GenLog.buildsRun.get
    names.foreach(n => runQuery(s, n))
    rec.extra(s"index_builds_$cycle") = GenLog.buildsRun.get - b0
  }

  /** Every other pass, so each query is seen both traced and untraced. */
  override def traced(id: Int): Boolean = (id / names.size) % 2 == 0

  /** Whole passes only, and at least `min-ops` ops. */
  override def more(timeUp: Boolean, opsDone: Int): Boolean =
    !(timeUp && order.isEmpty && opsDone >= args.minOps)

  def op(s: SparkSession, id: Int, traced: Boolean, l: TagListener): Map[String, Any] = {
    if (order.isEmpty) {
      val pass = id / names.size
      order = new scala.util.Random(args.seed * 7919L + pass).shuffle(names)
    }
    val name = order.head
    order = order.tail
    val base = Map("op" -> id, "name" -> name, "module" -> moduleOf(name), "traced" -> traced)
    val t0 = System.nanoTime()
    try {
      if (!traced) {
        val rows = runQuery(s, name)
        base ++ Map("lat_s" -> (System.nanoTime() - t0) / 1e9, "rows" -> rows, "ok" -> true)
      } else {
        val tag = new Tagger(s.sparkContext)
        val rows = tracer.span("op", id, -1) { root =>
          val df = tracer.span("construct", id, root)(_ => tag(s"pb-$id-construct")(fns(name)(s, data)))
          val qe = df.queryExecution
          tracer.span("plan", id, root)(_ => tag(s"pb-$id-plan")(qe.executedPlan))
          tracer.span("exec", id, root)(_ => tag(s"pb-$id-exec")(
            SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.count())))
        }
        val lat = (System.nanoTime() - t0) / 1e9
        val counts = Seq("construct", "plan", "exec")
          .map(layer => layer -> Harness.countsOf(s, l, s"pb-$id-$layer")).toMap
        base ++ Map("lat_s" -> lat, "rows" -> rows, "ok" -> true, "counts" -> counts)
      }
    } catch {
      case e: Exception =>
        base ++ Map("lat_s" -> (System.nanoTime() - t0) / 1e9, "ok" -> false,
          "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }
}

/** The reference's daily job over a simulated month: day `d`'s op
  * extracts the 7-day window ending on `d` from per-day JSON files and
  * runs it through the engine's ingest, load and report functions into an
  * embedded Derby `statistics` table. A month's database starts with its
  * first six days loaded; when the month ends, the next one starts on a
  * fresh database.
  */
final class EtlRunner(args: Harness.Args, rec: Harness.Record, tracer: Tracer) extends Runner {
  private val days = args("data")
  private val monthDays = 30
  private val work = args.work
  private val dir = s"$work/op" // the stages' parquet hand-overs
  private val keys = Seq("user_id", "event_timestamp")
  private val props = new java.util.Properties
  private var month = 0
  private var day = 0
  private var url = ""
  private val finalCounts = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def dayName(d: Int): String = f"2024-01-$d%02d"

  private def newDb(name: String): String = {
    val u = s"jdbc:derby:$work/derby/$name;create=true"
    java.sql.DriverManager.getConnection(u).close()
    u
  }

  private def tableCount(u: String): Long = {
    val c = java.sql.DriverManager.getConnection(u)
    try {
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM statistics")
      rs.next()
      rs.getLong(1)
    } catch { case _: java.sql.SQLException => 0L }
    finally c.close()
  }

  /** One day's job. With a tracer, each stage's output is materialized
    * before the next stage runs, and each stage is one span.
    */
  private def runDay(s: SparkSession, d: Int, u: String, out: String, id: Int,
      traced: Boolean): Unit = {
    val window = (math.max(1, d - 6) to d).map(dayName).mkString("{", ",", "}")
    val tag = new Tagger(s.sparkContext)
    def stage[T](name: String, parent: Int)(body: => T): T =
      if (!traced) body
      else tracer.span(name, id, parent)(_ => tag(s"pb-$id-$name")(body))
    def run(parent: Int): Unit = {
      stage("IngestOps.extract", parent) {
        IngestOps.readJsonEvents(s, s"$days/$window.json")
          .write.mode("overwrite").parquet(s"$dir/raw/events.parquet")
      }
      stage("IngestOps.dedup", parent) {
        SparkEntry.queries("q_dedup_key")(s, s"$dir/raw")
          .write.mode("overwrite").parquet(s"$dir/dedup/events.parquet")
      }
      if (traced) stage("LenientJson.parse", parent) {
        s.read.parquet(s"$dir/dedup/events.parquet")
          .select(LenientJson.parsed(coalesce(col("props"), lit("{}"))).as("pb"))
          .write.mode("overwrite").format("noop").save()
      }
      val attempts = stage("TypedIngest.validate", parent) {
        val a = TypedIngest.attempts(s, s"$dir/dedup").toDF()
        if (traced) a.localCheckpoint(true) else a
      }
      stage("Sinks.load", parent) {
        Sinks.idempotentAppendJdbc(attempts, u, "statistics", keys, props)
      }
      // ReportOps' daily aggregate reads an `events` directory and reports
      // on its fixed as-of day, so the loaded table is presented in the
      // events shape with day d moved onto that day
      val daily = stage("ReportOps.aggregate", parent) {
        val shift = java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(dayName(d)), java.time.LocalDate.parse(graft.T.AsOf))
        s.read.jdbc(u, "statistics", props)
          .select(col("user_id"),
            (col("event_timestamp") + expr(s"INTERVAL $shift DAYS")).as("ts"),
            col("attempt_type").as("event_type"))
          .write.mode("overwrite").parquet(s"$dir/agg/events.parquet")
        val a = ReportOps.aggDaily(s, s"$dir/agg")
        if (traced) a.localCheckpoint(true) else a
      }
      stage("Sinks.report", parent) {
        Sinks.overwriteCsvSnapshot(SparkEntry.queries("q_report_unpivot")(s, s"$dir/agg"), s"$out.sheet")
        val text = Sinks.renderTextReport(daily).collect().head.getString(0)
        Files.write(Paths.get(s"$out.txt"), text.getBytes(UTF_8))
      }
    }
    if (traced) tracer.span("op", id, -1)(run) else run(-1)
  }

  /** Days in the table before a month's first op, so that every measured
    * day extracts a full 7-day window of which six days are already loaded.
    */
  private val preloaded = 6

  /** A fresh month database holding days 1..6, loaded by the jobs of days
    * 5 and 6: the first creates the table, the second takes the keyed
    * append path, so both are warm before the first measured day.
    */
  private def newMonth(s: SparkSession, name: String): Unit = {
    url = newDb(name)
    for (d <- preloaded - 1 to preloaded)
      runDay(s, d, url, s"$work/reports/$name-preload$d", -1, traced = false)
    day = preloaded
  }

  /** A fresh month database, preloaded by two days' jobs. */
  def setup(s: SparkSession, cycle: Int): Unit = {
    Files.createDirectories(Paths.get(s"$work/reports"))
    month = 0
    newMonth(s, s"setup$cycle-m0")
  }

  def op(s: SparkSession, id: Int, traced: Boolean, l: TagListener): Map[String, Any] = {
    if (day == monthDays) {
      finalCounts += Map("month" -> month, "last_day" -> day, "rows" -> tableCount(url))
      month += 1
      newMonth(s, s"m$month")
    }
    day += 1
    val out = s"$work/reports/m$month-${dayName(day)}"
    val base = Map("op" -> id, "name" -> "daily", "month" -> month, "day" -> day,
      "report" -> out, "traced" -> traced)
    val before = if (traced) tableCount(url) else 0L
    val t0 = System.nanoTime()
    try {
      runDay(s, day, url, out, id, traced)
      val lat = (System.nanoTime() - t0) / 1e9
      if (!traced) base ++ Map("lat_s" -> lat, "ok" -> true)
      else {
        // row counts for the layer record, outside the timed op
        val raw = s.read.parquet(s"$dir/raw/events.parquet")
        val after = tableCount(url)
        val layerCounts = Seq("IngestOps.extract", "IngestOps.dedup", "LenientJson.parse",
          "TypedIngest.validate", "Sinks.load", "ReportOps.aggregate", "Sinks.report")
          .map(n => n -> Harness.countsOf(s, l, s"pb-$id-$n")).toMap
        val stats = Map(
          "raw_rows" -> raw.count(),
          "corrupt_rows" -> raw.filter(col("event_id").isNull || col("user_id").isNull).count(),
          "dedup_rows" -> s.read.parquet(s"$dir/dedup/events.parquet").count(),
          "valid_rows" -> TypedIngest.attempts(s, s"$dir/dedup").count(),
          "inserted_rows" -> (after - before),
          "table_rows" -> after)
        base ++ Map("lat_s" -> lat, "ok" -> true, "counts" -> layerCounts, "stats" -> stats)
      }
    } catch {
      case e: Exception =>
        base ++ Map("lat_s" -> (System.nanoTime() - t0) / 1e9, "ok" -> false,
          "error" -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  override def more(timeUp: Boolean, opsDone: Int): Boolean = !timeUp || opsDone < args.minOps

  override def finish(s: SparkSession): Unit = {
    finalCounts += Map("month" -> month, "last_day" -> day, "rows" -> tableCount(url))
    rec.extra("months") = finalCounts.toSeq
  }
}
