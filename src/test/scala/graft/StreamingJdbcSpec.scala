package graft

import java.nio.file.{Files, Paths}
import graft.etl.MySqlSink
import graft.streaming.StreamingJdbc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming → JDBC exactly-once (VERDICT r17 #2): the foreachBatch
  * composition over `MySqlSink.promoteStageLedgered` must deliver each
  * micro-batch's rows exactly once across replayed batch ids, leftover
  * staging garbage, and a FORCED engine-level restart replay (checkpoint
  * commit record deleted → Structured Streaming re-runs the batch). */
class StreamingJdbcSpec extends SparkTestBase {

  private val url = "jdbc:derby:memory:graft_stream_spec;create=true"
  private val ledger = "graft_stream_ledger"

  private val sinkDdl = Seq(
    """CREATE TABLE evsink (
      |  event_id BIGINT NOT NULL,
      |  event_type VARCHAR(32),
      |  value DOUBLE,
      |  PRIMARY KEY (event_id))""".stripMargin)

  private def stageDdl(stage: String): Seq[String] = Seq(
    s"""CREATE TABLE $stage (
       |  event_id BIGINT NOT NULL,
       |  event_type VARCHAR(32),
       |  value DOUBLE,
       |  graft_seq BIGINT GENERATED ALWAYS AS IDENTITY)""".stripMargin)

  private val cols = Seq("event_id", "event_type", "value")

  private def resetAll(): Unit =
    Seq("evsink_stg", "evsink", ledger).foreach(t =>
      MySqlSink.dropBestEffort(url, "app", "app", t))

  private def read(table: String) =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .option("user", "app").option("password", "app").load()

  // Derby upper-cases unquoted identifiers, so read positionally
  private def sinkIds(): Seq[Long] =
    read("evsink").collect().map(_.getLong(0)).toSeq.sorted

  private def frame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"t$i", i * 1.5)).toDF("event_id", "event_type", "value")
  }

  private def commit(df: DataFrame, batchId: Long): Long =
    StreamingJdbc.commitBatch(df, url, "app", "app", "evsink", stageDdl,
      cols, Seq("event_id"), ledger, batchId)

  test("replayed batch id is skipped atomically: no dupes, no loss") {
    resetAll()
    MySqlSink.bootstrap(url, "app", "app", sinkDdl)
    assert(commit(frame(Seq(1L, 2L, 3L)), 0L) == 3L)
    // restart replay: same batch id, same data → ledger skip
    assert(commit(frame(Seq(1L, 2L, 3L)), 0L) == -1L)
    assert(sinkIds() == Seq(1L, 2L, 3L))
    // next batch proceeds normally
    assert(commit(frame(Seq(4L, 5L)), 1L) == 2L)
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L))
    // ledger recorded both commits with their row counts
    val led = read(ledger).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(led == Map(0L -> 3L, 1L -> 2L))
  }

  test("crash mid-batch (stage half-written, promote never committed): " +
    "replay starts clean and lands the batch exactly once") {
    resetAll()
    MySqlSink.bootstrap(url, "app", "app", sinkDdl)
    assert(commit(frame(Seq(10L)), 0L) == 1L)
    // simulate the crash: batch 1's writer staged a partial prefix and
    // died before promoteStageLedgered — target and ledger untouched
    MySqlSink.bootstrap(url, "app", "app", stageDdl("evsink_stg"))
    MySqlSink.writer(frame(Seq(11L)), url, "evsink_stg", "app", "app").save()
    assert(sinkIds() == Seq(10L))
    // the restarted query replays batch 1 in full: leftover stage is
    // dropped on entry, the full batch promotes once
    assert(commit(frame(Seq(11L, 12L)), 1L) == 2L)
    assert(sinkIds() == Seq(10L, 11L, 12L))
  }

  test("end-to-end: file-source stream, restart from checkpoint, " +
    "FORCED replay via deleted commit record — no dupes, no loss") {
    resetAll()
    MySqlSink.bootstrap(url, "app", "app", sinkDdl)
    val root = Files.createTempDirectory("graft-sjdbc").toString
    val srcDir = s"$root/src"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(srcDir))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))

    def start() = StreamingJdbc.writer(
      spark.readStream.schema(schema).parquet(srcDir),
      url, "app", "app", "evsink", stageDdl, cols, Seq("event_id"),
      ledger, ckpt).start()

    // batch 0: two files land, stream picks them up, clean stop
    frame(Seq(1L, 2L, 3L)).coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(sinkIds() == Seq(1L, 2L, 3L))

    // restart from the SAME checkpoint; batch 1 arrives
    frame(Seq(4L, 5L)).coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L))

    // FORCE the mid-batch restart: delete the newest checkpoint commit
    // record — exactly the on-disk state of a crash after the sink's
    // side effect but before the engine recorded the batch. The
    // restarted query MUST re-run that batch id (engine contract), and
    // the ledger MUST turn the re-run into a no-op.
    val commits = Paths.get(s"$ckpt/commits")
    val files = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    Files.list(commits).forEach(p => if (!p.getFileName.toString.startsWith(".")) files += p)
    val last = files.maxBy(_.getFileName.toString.filter(_.isDigit).toLong)
    Files.delete(last)
    // the local Hadoop FS keeps a checksum sibling; without deleting it
    // the re-created commit record fails the rename
    Files.deleteIfExists(last.resolveSibling("." + last.getFileName + ".crc"))
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    // replay happened (ledger unchanged — still exactly 2 batch rows)
    // and the target has no dupes and no loss
    assert(sinkIds() == Seq(1L, 2L, 3L, 4L, 5L))
    assert(read(ledger).count() == 2L)
  }

  test("a many-partition batch stages without an identity-generator lock timeout") {
    // eight concurrent writers into a fresh Derby IDENTITY table failed
    // about one batch in twenty-five with "A lock could not be obtained"
    resetAll()
    MySqlSink.bootstrap(url, "app", "app", sinkDdl)
    for (b <- 0 until 50) {
      val ids = (b * 8L until b * 8L + 8L)
      assert(commit(frame(ids).repartition(8), b.toLong) == 8L)
    }
    assert(sinkIds() == (0L until 400L))
  }

  test("reference-shaped pipeline: wiki dump dir streams into bodies " +
    "exactly once, redirects held back") {
    val url2 = "jdbc:derby:memory:graft_stream_wiki;create=true"
    MySqlSink.derbyReset(url2, "app", "app")
    MySqlSink.dropBestEffort(url2, "app", "app", "bodies_stg")
    MySqlSink.dropBestEffort(url2, "app", "app", ledger)
    MySqlSink.bootstrap(url2, "app", "app", MySqlSink.derbyDdl)
    val root = Files.createTempDirectory("graft-sjdbc-wiki").toString
    val dumpDir = s"$root/dump"
    Files.createDirectories(Paths.get(dumpDir))
    Files.copy(Paths.get(getClass.getResource("/mini-wiki.xml").getPath),
      Paths.get(s"$dumpDir/mini-wiki.xml"))
    val q = StreamingJdbc.bodiesPipeline(spark, dumpDir, url2, "app", "app",
      s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.format("jdbc").option("url", url2)
      .option("dbtable", "bodies").option("user", "app").option("password", "app")
      .load().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch truth: the ETL's cleaned content bodies for the same dump
    val exp = graft.etl.WikiEtl.run(spark,
      getClass.getResource("/mini-wiki.xml").getPath)
    val expBodies = exp.bodies.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    exp.cleanup()
    assert(got.nonEmpty)
    // streaming lands per-page cleaned bodies keyed by aid; the batch
    // ETL re-keys bodies by surrogate id after redirect dedup — compare
    // the BODY SETS (the content the reference stores), which must match
    // exactly for a dump with no cross-page duplicate bodies
    assert(got.values.toSet == expBodies.values.toSet)
  }
}
