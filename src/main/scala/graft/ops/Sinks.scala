package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Engine-side sink semantics of the reference (SURVEY §2 Tier A sinks).
  * Actual delivery targets (Postgres, Google Sheets, SMTP — main.py:180-268,
  * 374-419) are environment plumbing; what the engine owns is the write
  * *semantics*: idempotent keyed append, full-overwrite snapshot with a
  * header, and a rendered text report. Exercised by SinksSpec.
  */
object Sinks {

  /** The reference's INSERT … ON CONFLICT DO NOTHING (main.py:192-202) as
    * distributed staging: drop staged rows whose key already exists
    * (left-anti), then append. First-writer-wins across reruns — the
    * exactly-once contract of the 7-day overlapping re-extract
    * (SURVEY §0). At scale both sides hash-partition on the key; no
    * driver-side state.
    */
  def idempotentAppend(
      existing: DataFrame,
      staged: DataFrame,
      keys: Seq[String]): DataFrame =
    staged.join(existing.select(keys.map(col): _*), keys, "left_anti")

  /** A plain JDBC connection. spark.read.jdbc loads the 'driver'
    * connection property explicitly; a raw DriverManager.getConnection does
    * not — without this a driver supplied only via that property throws
    * "No suitable driver" here.
    */
  private def connect(url: String, props: java.util.Properties): java.sql.Connection = {
    Option(props.getProperty("driver")).foreach { cls =>
      java.lang.Class.forName(cls, true, Thread.currentThread.getContextClassLoader)
    }
    java.sql.DriverManager.getConnection(url, props)
  }

  /** Explicit existence probe over plain JDBC: a zero-row SELECT against
    * the table. ONLY the SQL-standard 42-class (syntax error / undefined
    * object — Derby 42X05, Postgres 42P01) maps to "absent"; connectivity,
    * auth, and driver failures (08/28/xx-class) rethrow instead of
    * masquerading as a missing table and turning a transient outage into
    * a confusing create-path failure downstream.
    */
  private def tableExists(
      url: String,
      table: String,
      props: java.util.Properties): Boolean = {
    val conn = connect(url, props)
    try {
      val st = conn.createStatement()
      try {
        st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close()
        true
      } finally st.close()
    } catch {
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(_.startsWith("42")) =>
        false
      case e: java.sql.SQLException if Option(e.getSQLState).forall(s =>
            !s.startsWith("08") && !s.startsWith("28")) =>
        // driver reported the miss with a null or vendor SQLState (not a
        // connectivity/auth failure, which still rethrows): ask the
        // catalog directly instead of guessing from the state class
        metaTableExists(conn.getMetaData, table)
    } finally conn.close()
  }

  /** DatabaseMetaData probe for drivers whose missing-table SQLState is
    * vendor-specific: resolve the (schema-qualified) name case-robustly
    * against the catalog's TABLE/VIEW listings.
    */
  private def metaTableExists(
      md: java.sql.DatabaseMetaData,
      table: String): Boolean = {
    val (schema, name) = table.lastIndexOf('.') match {
      case -1 => (null, table)
      case i  => (table.substring(0, i), table.substring(i + 1))
    }
    def probe(s: String, n: String): Boolean = {
      val rs = md.getTables(null, s, n, Array("TABLE", "VIEW"))
      try rs.next() finally rs.close()
    }
    probe(schema, name) ||
      probe(Option(schema).map(_.toUpperCase).orNull, name.toUpperCase) ||
      probe(Option(schema).map(_.toLowerCase).orNull, name.toLowerCase)
  }

  /** The reference's full Postgres sink path (main.py:180-228): staged
    * rows → idempotent keyed append → `INSERT` over JDBC. The target table
    * is read back as the anti-join's "existing" side (absent table ≡ empty,
    * mirroring CREATE TABLE IF NOT EXISTS at main.py:184-190), then the
    * surviving rows are appended with the standard distributed JDBC writer
    * (one connection per partition — at scale, `staged.repartition(n)`
    * bounds the connection count). The anti-join is against a snapshot;
    * a production deployment keeps the reference's unique index on the key
    * so concurrent writers degrade to the DB constraint, not duplicates.
    */
  def idempotentAppendJdbc(
      staged: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      props: java.util.Properties = new java.util.Properties): Unit = {
    val spark = staged.sparkSession
    val existing =
      if (tableExists(url, table, props)) Some(spark.read.jdbc(url, table, props))
      else None
    val toWrite = existing
      .map(e => idempotentAppend(e, staged, keys))
      .getOrElse(staged)
    toWrite.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** The snapshot a keyed upsert publishes: the table's rows minus the
    * staged keys (left-anti), union staged — staged rows REPLACE existing
    * rows with the same key, untouched rows are kept, new keys insert.
    * Materialized BEFORE the publish drops the table it was read from,
    * with `localCheckpoint(eager)`, which SEVERS the JDBC lineage — unlike
    * a cache (whose evicted/lost blocks silently recompute from the
    * by-then-dropped table, losing rows), a lost checkpoint block fails
    * the job, which a driver retry converges by idempotence. Sized for
    * DIMENSION-scale targets (the merged table passes through the
    * cluster); a fact-scale target wants the DB's own MERGE with this
    * same keyed contract.
    */
  private def mergedSnapshot(
      staged: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      props: java.util.Properties): DataFrame =
    staged.sparkSession.read.jdbc(url, table, props)
      .join(staged.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(staged)
      .localCheckpoint(true)

  /** The table-rename DDL per target family: Derby and MySQL speak
    * `RENAME TABLE a TO b`; the SQL-standard-adjacent `ALTER TABLE a
    * RENAME TO b` covers Postgres and most others. Names are interpolated
    * unquoted, matching how every other statement in this sink (and the
    * Spark JDBC writer itself) treats the caller's table name.
    */
  private def renameTableSql(url: String, from: String, to: String): String =
    if (url.startsWith("jdbc:derby") || url.startsWith("jdbc:mysql"))
      s"RENAME TABLE $from TO $to"
    else s"ALTER TABLE $from RENAME TO $to"

  /** Keyed UPSERT into a JDBC table (the apply side of CDC — streaming
    * complement of [[graft.ops.TemporalOps]]' q_merge_upsert) with an
    * ATOMIC publish: the merged snapshot ([[mergedSnapshot]]) is written
    * to a deterministic staging table (`<table>_swap_staging`, overwritten on
    * every run, so a crashed attempt's leftovers are reclaimed by the
    * retry), then published by ONE transaction that drops the live table
    * and renames the staging table into place. DDL is transactional on
    * the dimension-scale targets this sink addresses (Derby — the tested
    * embodiment — and Postgres), so a crash at any point leaves either
    * the old complete table or the new complete table, never the partial
    * state a drop-then-write overwrite can expose; readers see the swap
    * as an instantaneous flip. Idempotent by construction: re-applying a
    * batch converges to the same table (proven in SinksSpec) — the
    * exactly-once story for an update-mode stream, where retried batches
    * re-offer rows.
    */
  def upsertSnapshotSwapJdbc(
      staged: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      props: java.util.Properties = new java.util.Properties): Unit = {
    if (!tableExists(url, table, props)) {
      staged.write.mode(SaveMode.ErrorIfExists).jdbc(url, table, props)
    } else {
      val stagingTable = s"${table}_swap_staging"
      mergedSnapshot(staged, url, table, keys, props)
        .write.mode(SaveMode.Overwrite).jdbc(url, stagingTable, props)
      val conn = connect(url, props)
      try
        executeAtomically(
          conn, Seq(s"DROP TABLE $table", renameTableSql(url, stagingTable, table)))
      finally conn.close()
    }
  }

  /** Run `stmts` on `conn` as one transaction: commit them all, or roll
    * back and rethrow the failure. A rollback that fails too is attached
    * to that failure as suppressed, never thrown in its place — the
    * caller sees why the publish failed, not only why the cleanup did.
    */
  private[ops] def executeAtomically(conn: java.sql.Connection, stmts: Seq[String]): Unit = {
    conn.setAutoCommit(false)
    try {
      val st = conn.createStatement()
      try stmts.foreach(q => st.executeUpdate(q))
      finally st.close()
      conn.commit()
    } catch {
      case NonFatal(t) =>
        try conn.rollback()
        catch { case NonFatal(r) => t.addSuppressed(r) }
        throw t
    }
  }

  /** The destructive sheet snapshot (clear + update, main.py:254-264):
    * header row + stable column order + full overwrite. coalesce(1) matches
    * the single-grid sink; a real table sink would keep partitioning.
    */
  def overwriteCsvSnapshot(df: DataFrame, path: String): Unit =
    df.coalesce(1)
      .write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(path)

  /** The trainer-facing corpus export: hive-partitioned parquet keyed by
    * the curation columns, so the training read path (`…/split=train`)
    * touches only its own directories — partition pruning does the split
    * selection, no filter scan over the full corpus. Rows are
    * repartitioned on the partition keys first (one shuffle) so each
    * (split, lang) directory is written by the tasks that own it — without
    * this, every task appends a file to every directory and a 1000-task
    * write creates 1000 × |partitions| small files — and sorted within
    * partitions by `orderCol` for a deterministic, delta-friendly layout.
    */
  def writeCorpusShards(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Seq("split", "lang"),
      orderCol: String = "doc_id"): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(col(orderCol))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** JSONL (one JSON object per line) form of [[writeCorpusShards]] — the
    * wire format most training-data loaders consume directly. Same layout
    * contract as the parquet shards: hive-partitioned by (split, lang),
    * repartitioned on the partition keys so each leaf directory is owned
    * by its own tasks (bounded file counts), rows sorted within partitions
    * for a deterministic, diff-friendly export. Field order in each JSON
    * line is the DataFrame schema order — stable across runs — and gzip
    * keeps the text format's size honest at corpus scale (a splittable
    * codec or sized shards keeps re-reads parallel; the consumer here is
    * a trainer streaming shards, not a query engine).
    */
  def writeJsonlShards(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String] = Seq("split", "lang"),
      orderCol: String = "doc_id",
      compression: String = "gzip"): Unit =
    df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(col(orderCol))
      .write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .option("compression", compression)
      .json(path)

  /** Continuous form of [[writeCorpusShards]]: an append-mode parquet
    * stream writer with the same hive partitioning, ready to `.start()`.
    * The checkpoint + `_spark_metadata` pair make each micro-batch append
    * transactional — a restart from the same checkpoint never re-writes a
    * committed batch (proven across restarts in StreamingCorpusSpec).
    * Compaction of the resulting per-batch small files is
    * [[LayoutOps.compact]]'s job, run as periodic maintenance.
    */
  def corpusShardsStreamWriter(
      df: DataFrame,
      path: String,
      checkpoint: String,
      partitionCols: Seq[String] = Seq("split", "lang")): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode("append")
      .format("parquet")
      .partitionBy(partitionCols: _*)
      .option("path", path)
      .option("checkpointLocation", checkpoint)

  /** The email text report (main.py:388-406): the 7 report fields rendered
    * into one text blob, as a single-row DataFrame (delivery is out of
    * engine scope).
    */
  def renderTextReport(daily: DataFrame): DataFrame =
    daily.select(
      format_string(
        "Daily report for %s\n" +
          "Total attempts: %d\n" +
          "Successful attempts: %d\n" +
          "Success rate: %.2f%%\n" +
          "Unique users: %d\n" +
          "Run attempts: %d\n" +
          "Check attempts: %d",
        col("report_date").cast("string"),
        col("total_attempts"),
        col("successful_attempts"),
        coalesce(col("success_percentage"), lit(0d)),
        col("unique_users"),
        col("run_attempts"),
        col("check_attempts")).as("report_text"))
}
