package graft.streaming

import graft.etl.MySqlSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** Streaming → JDBC EXACTLY-ONCE (VERDICT r17 #2) — the composition the
  * reference's whole job is shaped like (`/root/reference/dbfy.py:186-208`
  * streams a dump into MySQL): a Structured Streaming query whose
  * `foreachBatch` lands each micro-batch through the staging-table
  * promote of `MySqlSink.exactlyOnceAppend`, hardened for RESTART REPLAY
  * with a commit ledger.
  *
  * Why the batch primitive alone is not enough: `foreachBatch` is
  * at-least-once per batch id — after a crash between the sink's side
  * effect and the checkpoint's batch commit, the restarted query REPLAYS
  * the same batch id with the same data. The per-pk NOT EXISTS guard in
  * the promote absorbs replay only when the target rows carry a stable
  * pk; the ledger makes replay a no-op REGARDLESS of payload semantics:
  * promotion and the `(target, batch_id)` ledger row commit in ONE
  * transaction (`MySqlSink.promoteStageLedgered`), so a replayed batch
  * finds its ledger row and skips before touching the staging table.
  *
  * Exactly-once therefore needs exactly the standard two legs:
  *   1. the source/checkpoint replays a batch id with identical data
  *      (Structured Streaming's contract for deterministic transforms);
  *   2. each (target, batch id) commits at most once (the ledger txn).
  * Crash anywhere is safe: before the promote-commit the target AND
  * ledger are untouched (stage leftovers are dropped on entry); after
  * it, replay skips. One writer per target at a time is assumed (stage
  * and ledger key on the target name) — Structured Streaming guarantees
  * that within a query; two QUERIES writing one table would need
  * distinct stage suffixes, and even then the ledger PK turns the race
  * into a clean rollback, never a duplicate.
  *
  * At 100 TB this is the shape that matters: the JDBC target is the
  * bottleneck, not Spark — batches arrive as one `INSERT..SELECT` per
  * micro-batch on the database side (set-based, index-maintained once),
  * instead of the reference's row-at-a-time INSERT+COMMIT loop
  * (`database.py:59-104`).
  */
object StreamingJdbc {

  /** Commit-ledger DDL, Derby dialect (specs / q_sink path). */
  def derbyLedgerDdl(ledger: String): Seq[String] = Seq(
    s"""CREATE TABLE $ledger (
       |  target VARCHAR(128) NOT NULL,
       |  batch_id BIGINT NOT NULL,
       |  n_rows BIGINT NOT NULL,
       |  PRIMARY KEY (target, batch_id))""".stripMargin)

  /** Commit-ledger DDL, MySQL dialect (the production target). */
  def mysqlLedgerDdl(ledger: String): Seq[String] = Seq(
    s"""CREATE TABLE IF NOT EXISTS `$ledger` (
       |  `target` VARCHAR(128) NOT NULL,
       |  `batch_id` BIGINT NOT NULL,
       |  `n_rows` BIGINT NOT NULL,
       |  PRIMARY KEY (`target`, `batch_id`)
       |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4""".stripMargin)

  /** Create the ledger if absent (Derby has no IF NOT EXISTS; the
    * "already exists" SQLException is the only one swallowed). */
  def ensureLedger(url: String, user: String, password: String,
                   ledger: String, ddl: String => Seq[String]): Unit =
    try MySqlSink.bootstrap(url, user, password, ddl(ledger))
    catch { case e: java.sql.SQLException
      if Option(e.getSQLState).exists(s => s == "X0Y32" || s == "42S01") => () }

  /** The `foreachBatch` body, exposed for direct invocation so specs
    * (and crash-recovery tooling) can drive replay deterministically:
    * stage the batch, promote+ledger in one transaction, drop the
    * stage. Returns rows promoted, or -1 when the ledger says this
    * (target, batchId) already committed — the restart-replay skip.
    * Entry drops any leftover stage first, so a crash at ANY prior
    * point (stage half-written, promote rolled back) replays cleanly. */
  def commitBatch(batch: DataFrame, url: String, user: String,
                  password: String, target: String,
                  stageDdl: String => Seq[String],
                  cols: Seq[String], pk: Seq[String],
                  ledger: String, batchId: Long,
                  batchSize: Int = 5000,
                  ledgerDdl: String => Seq[String] = derbyLedgerDdl): Long = {
    ensureLedger(url, user, password, ledger, ledgerDdl)
    // fast-path replay check, outside the commit transaction: it only
    // saves the staging write on the common restart path, and
    // promoteStageLedgered re-checks inside the transaction
    if (MySqlSink.ledgerHas(url, user, password, ledger, target, batchId)) -1L
    else {
      val stage = MySqlSink.writeStage(batch, url, user, password, target,
        stageDdl, cols, batchSize)
      val n = MySqlSink.promoteStageLedgered(url, user, password, target, stage,
        cols, pk, ledger, batchId)
      MySqlSink.dropBestEffort(url, user, password, stage)
      n.getOrElse(-1L)
    }
  }

  /** Wire a streaming frame to the exactly-once JDBC sink. The caller
    * bootstraps the target DDL (as with the batch sink) and owns the
    * checkpoint dir — restart with the SAME dir to resume with replay
    * protection. */
  def writer(stream: DataFrame, url: String, user: String, password: String,
             target: String, stageDdl: String => Seq[String],
             cols: Seq[String], pk: Seq[String],
             ledger: String, checkpointDir: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitBatch(batch, url, user, password, target, stageDdl,
          cols, pk, ledger, id)
        ()
      }

  /** The reference's job, streaming end-to-end: dump files dropped in
    * `dir` → parse/clean (`WikiStream.cleaned`) → content bodies land
    * exactly-once in the JDBC `bodies` table. Redirect rows are held
    * back (their resolution is the batch fixpoint — streams can't walk
    * chains that haven't arrived yet); at 100 TB this is the continuous
    * ingest front door with the redirect pass run periodically behind
    * it. */
  def bodiesPipeline(spark: org.apache.spark.sql.SparkSession, dir: String,
                     url: String, user: String, password: String,
                     checkpointDir: String,
                     stageDdl: String => Seq[String] = MySqlSink.derbyStageDdl)
  : StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val bodies = WikiStream.cleaned(spark, dir)
      .filter(col("rdr") === "")
      .select(col("aid").as("id"), col("body"))
    writer(bodies, url, user, password, "bodies", stageDdl,
      Seq("id", "body"), Seq("id"), "graft_stream_ledger", checkpointDir)
      .start()
  }
}
