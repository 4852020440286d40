package graft.etl

import org.apache.spark.sql.DataFrame

/** MySQL bulk-load sink — the Spark replacement for the reference's
  * per-row `INSERT` + per-row `COMMIT` loop (`/root/reference/
  * database.py:59-104`, `dbfy.py:138-151`): one JDBC batch append per
  * partition, `batchsize`d, with Spark task retries standing in for the
  * reference's reconnect-retry choreography (A10).
  *
  * The DDL mirrors `/root/reference/sql/init.sql:5-19` with two upgrades
  * noted in SURVEY.md §7.6: utf8mb4 (the reference's 3-byte utf8 silently
  * dropped astral-plane rows) and BIGINT surrogate ids.
  *
  * Schema application is a `bootstrap` of explicit DDL over a plain JDBC
  * connection followed by `append`-mode writers — Spark's JDBC
  * `overwrite` would DROP and re-create with dialect-inferred column
  * types and the server's default charset, silently losing
  * utf8mb4/MEDIUMTEXT/VARCHAR(1027)/FK/index. No MySQL server exists in
  * the build image, so MySqlSinkSpec exercises the full
  * bootstrap→write→readback→FK path against embedded Derby (same JDBC
  * machinery, Derby-dialect DDL); the MySQL DDL strings are asserted
  * verbatim.
  */
object MySqlSink {

  val bodiesDdl: String =
    """CREATE TABLE IF NOT EXISTS `bodies` (
      |  `id` BIGINT NOT NULL,
      |  `body` MEDIUMTEXT,
      |  PRIMARY KEY (`id`)
      |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4""".stripMargin

  val articlesDdl: String =
    """CREATE TABLE IF NOT EXISTS `articles` (
      |  `id` BIGINT NOT NULL,
      |  `aid` BIGINT NOT NULL,
      |  `title` VARCHAR(1027) NOT NULL,
      |  `body` BIGINT NOT NULL,
      |  PRIMARY KEY (`id`),
      |  KEY `ix_articles_title` (`title`),
      |  CONSTRAINT `fk_articles_body` FOREIGN KEY (`body`) REFERENCES `bodies` (`id`)
      |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4""".stripMargin

  /** DROP order respects the articles→bodies FK: the referencing table
    * goes first so the constraint never blocks the drop
    * (`/root/reference/sql/init.sql:1-2`). */
  val dropDdl: Seq[String] =
    Seq("DROP TABLE IF EXISTS `articles`", "DROP TABLE IF EXISTS `bodies`")

  /** Execute bootstrap DDL over a plain JDBC connection — the
    * reference's init-script step (`/root/reference/dbfy.py:138-151`).
    * Statements run in order on one connection; the default sequence is
    * DROP (FK-safe order) then CREATE both tables with the exact
    * charset/type/index/FK shapes above. */
  def bootstrap(url: String, user: String, password: String,
                ddls: Seq[String] = dropDdl ++ Seq(bodiesDdl, articlesDdl)): Unit =
    withConnection(url, user, password) { conn =>
      val st = conn.createStatement()
      try ddls.foreach(st.execute) finally st.close()
    }

  /** `f` over a plain JDBC connection, closed afterwards. */
  private def withConnection[A](url: String, user: String, password: String)
                               (f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try f(conn) finally conn.close()
  }

  /** `f` in one transaction: committed when it returns, rolled back
    * when it throws. A failed rollback must not mask the transaction's
    * own failure: it is attached as suppressed and the original
    * rethrown (ADVICE r18). */
  private def inTransaction[A](url: String, user: String, password: String)
                              (f: java.sql.Connection => A): A =
    withConnection(url, user, password) { conn =>
      try {
        conn.setAutoCommit(false)
        val a = f(conn)
        conn.commit()
        a
      } catch {
        case e: Throwable =>
          try conn.rollback()
          catch { case scala.util.control.NonFatal(re) => e.addSuppressed(re) }
          throw e
      }
    }

  /** The same two-table schema in Derby dialect (no backticks/charset/
    * engine, MEDIUMTEXT→CLOB, inline FK, separate CREATE INDEX) — used
    * by MySqlSinkSpec and q_sink_jdbc to exercise the full
    * bootstrap→write→readback path against the embedded Derby that
    * ships in /opt/spark/jars, since no MySQL server exists here. */
  val derbyDdl: Seq[String] = Seq(
    """CREATE TABLE bodies (
      |  id BIGINT NOT NULL,
      |  body CLOB,
      |  PRIMARY KEY (id))""".stripMargin,
    """CREATE TABLE articles (
      |  id BIGINT NOT NULL,
      |  aid BIGINT NOT NULL,
      |  title VARCHAR(1027) NOT NULL,
      |  body BIGINT NOT NULL,
      |  PRIMARY KEY (id),
      |  CONSTRAINT fk_articles_body FOREIGN KEY (body) REFERENCES bodies (id))""".stripMargin,
    "CREATE INDEX ix_articles_title ON articles (title)")

  /** Derby has no DROP TABLE IF EXISTS; drop best-effort in FK-safe
    * order so repeated runs against the same in-memory db start clean. */
  def derbyReset(url: String, user: String, password: String): Unit =
    Seq("DROP TABLE articles", "DROP TABLE bodies").foreach { d =>
      try bootstrap(url, user, password, Seq(d))
      catch { case _: java.sql.SQLException => () }
    }

  /** Naive-but-sufficient init-script splitter: `;`-separated
    * statements, line comments stripped. (Semicolons inside string
    * literals would mis-split — the reference's init.sql has none.) */
  def splitScript(sql: String): Seq[String] =
    sql.linesIterator.filterNot(_.trim.startsWith("--")).mkString("\n")
      .split(';').map(_.trim).filter(_.nonEmpty).toSeq

  /** Configured JDBC writer (caller invokes `.save()`). `append` mode:
    * the table shape comes from [[bootstrap]], never from Spark's
    * dialect inference. Callers insert `bodies` BEFORE `articles` so
    * the articles→bodies FK is satisfiable row-by-row (graft.Dbfy does). */
  def writer(df: DataFrame, url: String, table: String,
             user: String, password: String,
             batchSize: Int = 5000) =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("batchsize", batchSize.toString)
      .option("isolationLevel", "READ_COMMITTED")
      .mode("append")

  // ------------------------------------------------- exactly-once append

  /** Derby staging-table DDL for `bodies`: target columns plus a
    * generated identity `graft_seq` — the dedup key the promote uses to
    * keep ONE copy per pk (Derby cannot compare/DISTINCT CLOBs, so
    * row-identity dedup must key on (pk, seq), not the payload). The
    * MySQL twin would be the same columns with
    * `graft_seq BIGINT NOT NULL AUTO_INCREMENT, PRIMARY KEY (graft_seq)`. */
  def derbyStageDdl(stage: String): Seq[String] = Seq(
    s"""CREATE TABLE $stage (
       |  id BIGINT NOT NULL,
       |  body CLOB,
       |  graft_seq BIGINT GENERATED ALWAYS AS IDENTITY)""".stripMargin,
    // the promote's per-row correlated MIN(graft_seq)/NOT EXISTS
    // lookups need an index on the stage pk — without it Derby scans
    // the whole stage per row, turning promotion O(n^2) (measured
    // 165 rows/s at 35k rows in EtlBench; indexed it is ~100x that)
    s"CREATE INDEX ix_${stage}_id ON $stage (id)")

  private[graft] def dropBestEffort(url: String, user: String, password: String,
                                    table: String): Unit =
    try bootstrap(url, user, password, Seq(s"DROP TABLE $table"))
    catch { case _: java.sql.SQLException => () }

  /** Promote the staging table's rows into `target` in ONE transaction:
    * per-pk dedup (the MIN(graft_seq) copy wins) plus a NOT EXISTS
    * guard against rows already promoted. Returns the insert count.
    * Exposed separately from [[exactlyOnceAppend]] so a spec (or an
    * operator restarted after a crash between commit and stage-drop)
    * can re-run promotion alone and observe its idempotence. */
  def promoteStage(url: String, user: String, password: String,
                   target: String, stage: String,
                   cols: Seq[String], pk: Seq[String]): Long =
    inTransaction(url, user, password)(promote(_, target, stage, cols, pk))

  /** The promote statement on `conn`; returns the insert count. */
  private def promote(conn: java.sql.Connection, target: String, stage: String,
                      cols: Seq[String], pk: Seq[String]): Long = {
    val st = conn.createStatement()
    try st.executeUpdate(promoteSql(target, stage, cols, pk)).toLong finally st.close()
  }

  private def promoteSql(target: String, stage: String,
                         cols: Seq[String], pk: Seq[String]): String = {
    require(pk.nonEmpty && cols.nonEmpty)
    val pkEq = (alias: String) => pk.map(c => s"$alias.$c = s.$c").mkString(" AND ")
    s"""INSERT INTO $target (${cols.mkString(", ")})
       |SELECT ${cols.map("s." + _).mkString(", ")} FROM $stage s
       |WHERE s.graft_seq = (SELECT MIN(s2.graft_seq) FROM $stage s2 WHERE ${pkEq("s2")})
       |  AND NOT EXISTS (SELECT 1 FROM $target t WHERE ${pkEq("t")})""".stripMargin
  }

  /** [[promoteStage]] plus a commit LEDGER row, in the SAME transaction —
    * the streaming-sink primitive (`streaming/StreamingJdbc`): a
    * micro-batch's promotion and its "(target, batch_id) is done" record
    * become visible atomically, so a restarted stream that replays the
    * batch sees the ledger row and skips (returns None) instead of
    * double-promoting. Crash before commit rolls BOTH back — the replay
    * then promotes cleanly. The ledger PK (target, batch_id) makes even
    * a two-writer race safe: the loser's ledger INSERT violates the PK
    * and the whole transaction (promotion included) rolls back. */
  def promoteStageLedgered(url: String, user: String, password: String,
                           target: String, stage: String,
                           cols: Seq[String], pk: Seq[String],
                           ledger: String, batchId: Long): Option[Long] =
    inTransaction(url, user, password) { conn =>
      if (ledgerHas(conn, ledger, target, batchId)) None
      else {
        val n = promote(conn, target, stage, cols, pk)
        val ins = conn.prepareStatement(
          s"INSERT INTO $ledger (target, batch_id, n_rows) VALUES (?, ?, ?)")
        try {
          ins.setString(1, target); ins.setLong(2, batchId); ins.setLong(3, n)
          ins.executeUpdate()
        } finally ins.close()
        Some(n)
      }
    }

  /** Whether `ledger` records `(target, batchId)` as committed, read in
    * a connection of its own. */
  private[graft] def ledgerHas(url: String, user: String, password: String,
                               ledger: String, target: String, batchId: Long): Boolean =
    withConnection(url, user, password)(ledgerHas(_, ledger, target, batchId))

  private def ledgerHas(conn: java.sql.Connection, ledger: String,
                        target: String, batchId: Long): Boolean = {
    val st = conn.prepareStatement(
      s"SELECT 1 FROM $ledger WHERE target = ? AND batch_id = ?")
    try {
      st.setString(1, target); st.setLong(2, batchId)
      val rs = st.executeQuery()
      try rs.next() finally rs.close()
    } finally st.close()
  }

  /** EXACTLY-ONCE JDBC append under Spark task retry. A plain `append`
    * writer is at-least-once: a task that commits some JDBC batches and
    * then dies is re-attempted in full, double-inserting the committed
    * prefix (or failing the job on a PK). This routes the write through
    * a staging table where retry duplicates are HARMLESS, then promotes
    * with [[promoteStage]]'s dedup + idempotence guard — the same
    * materialize-then-swap ordering discipline as
    * `ManifestStore.appendAtomic`, expressed transactionally:
    *   1. drop any leftover staging table (a crashed prior writer's),
    *   2. create staging = target columns + identity `graft_seq`,
    *   3. Spark-append the frame into staging (retries may duplicate),
    *   4. promote: one INSERT..SELECT transaction, per-pk min-seq dedup
    *      + NOT EXISTS — commits all-or-nothing,
    *   5. drop staging.
    * Crash at any point is safe: before promote-commit the target is
    * untouched and a rerun starts clean at (1); after promote-commit a
    * rerun's promote inserts 0 rows (NOT EXISTS) — idempotent replay.
    * Returns rows promoted. */
  def exactlyOnceAppend(df: DataFrame, url: String, user: String,
                        password: String, target: String,
                        stageDdl: String => Seq[String],
                        cols: Seq[String], pk: Seq[String],
                        batchSize: Int = 5000): Long = {
    val stage = writeStage(df, url, user, password, target, stageDdl, cols, batchSize)
    val n = promoteStage(url, user, password, target, stage, cols, pk)
    dropBestEffort(url, user, password, stage)
    n
  }

  /** Steps 1-3 of [[exactlyOnceAppend]]: (re)create `<target>_stg` and
    * append `df`'s `cols` into it; returns the stage name. Embedded Derby
    * refills a table's IDENTITY generator in a no-wait nested transaction
    * and fails the insert with a lock timeout ("too much contention")
    * when two writers refill at once, so a Derby stage is written by ONE
    * task, behind a shuffle that keeps the upstream parallel (a single
    * embedded-Derby writer inserts as fast as four). */
  private[graft] def writeStage(df: DataFrame, url: String, user: String,
                                password: String, target: String,
                                stageDdl: String => Seq[String],
                                cols: Seq[String], batchSize: Int): String = {
    val stage = target + "_stg"
    dropBestEffort(url, user, password, stage)
    bootstrap(url, user, password, stageDdl(stage))
    val rows = df.selectExpr(cols: _*)
    writer(if (url.startsWith("jdbc:derby:")) rows.repartition(1) else rows,
      url, stage, user, password, batchSize).save()
    stage
  }
}
