package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** `Tables.load` infers a table's parquet schema once per session and
  * passes it to later loads: those run no Spark job, still see a table
  * rewritten in place, keep the `events` normalization, and stay
  * independent relations that self-join as before. */
class TablesMemoSpec extends SparkTestBase {

  private def tmp(tag: String) = s"/tmp/graft-tables-memo-$tag-${System.nanoTime()}"

  /** Spark jobs started while `body` runs, and its result. */
  private def jobsDuring[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    org.apache.spark.SparkTestHooks.drainListenerBus(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.SparkTestHooks.drainListenerBus(sc)
      (n.get, r)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(dir: String, table: String): Seq[String] =
    Tables.load(spark, dir, table).collect().map(_.toString).toSeq.sorted

  test("a second load of one table in one session starts no Spark job") {
    val dir = tmp("jobs")
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.parquet(s"$dir/t.parquet")
    val (first, _) = jobsDuring(Tables.load(spark, dir, "t"))
    val (second, df) = jobsDuring(Tables.load(spark, dir, "t"))
    assert(first >= 1, "the first load infers the schema with a job")
    assert(second == 0, s"the second load ran $second jobs")
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(rows(dir, "t") == (0 until 5).map(i => s"[$i,${2 * i}]").sorted)
  }

  test("a table rewritten in place with the same schema reads its new rows") {
    val dir = tmp("same")
    spark.range(3).selectExpr("id AS k").write.parquet(s"$dir/t.parquet")
    assert(rows(dir, "t") == Seq("[0]", "[1]", "[2]"))
    spark.range(10, 14).selectExpr("id AS k").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(rows(dir, "t") == Seq("[10]", "[11]", "[12]", "[13]"))
  }

  test("a table rewritten in place with an added column reads it") {
    val dir = tmp("wider")
    spark.range(3).selectExpr("id AS k").write.parquet(s"$dir/t.parquet")
    assert(rows(dir, "t") == Seq("[0]", "[1]", "[2]"))
    spark.range(2).selectExpr("id AS k", "concat('x', id) AS s")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "s"))
    assert(rows(dir, "t") == Seq("[0,x0]", "[1,x1]"))
  }

  // one known instant: 2024-06-15 12:34:56.789012 UTC
  private val micros = 1718454896789012L

  /** `events` with `ts` as real parquet TIMESTAMP(NANOS, not UTC-adjusted),
    * the older test data's encoding, which Spark reads only under
    * `nanosAsLong`. Spark's own writer cannot produce it. */
  private def writeNanosEvents(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val conf = spark.sessionState.newHadoopConf()
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet/part-0.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", micros * 1000L + 789L).append("user_id", 7L)
      .append("event_type", "click").append("value", 1.5).append("props", "{}"))
    finally w.close()
  }

  private def writeNtzEvents(dir: String): Unit =
    spark.range(1).select(lit(1L).as("event_id"),
      expr(s"cast(timestamp_micros(${micros}L) as timestamp_ntz)").as("ts"),
      lit(7L).as("user_id"), lit("click").as("event_type"), lit(1.5).as("value"),
      lit("{}").as("props")).write.parquet(s"$dir/events.parquet")

  for ((encoding, write) <- Seq[(String, String => Unit)](
      "TIMESTAMP(NANOS)" -> writeNanosEvents, "TIMESTAMP_NTZ" -> writeNtzEvents))
    test(s"events with $encoding ts normalize to TimestampType on a miss and on a hit") {
      val dir = tmp("events")
      write(dir)
      for (load <- Seq("miss", "hit")) {
        val (jobs, got) = jobsDuring(Tables.load(spark, dir, "events"))
        if (load == "hit") assert(jobs == 0, s"the second events load ran $jobs jobs")
        assert(got.schema("ts").dataType == TimestampType, s"$load: ${got.schema("ts")}")
        val ts = got.selectExpr("cast(ts as string)").collect()(0).getString(0)
        assert(ts == "2024-06-15 12:34:56.789012", s"$load decoded $ts")
      }
    }

  test("two loads of one table self-join as two independent scans") {
    def pairs(n1: org.apache.spark.sql.DataFrame, n2: org.apache.spark.sql.DataFrame) =
      n1.join(n2, n1("n_regionkey") === n2("n_regionkey") &&
          n1("n_nationkey") < n2("n_nationkey"))
        .select(n1("n_name"), n2("n_name")).collect().map(_.toString).toSeq.sorted
    val nation = Tables.load(spark, sfDir, "nation").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
    val expected = (for {
      (k1, a, r1) <- nation.toSeq; (k2, b, r2) <- nation.toSeq
      if r1 == r2 && k1 < k2
    } yield s"[$a,$b]").sorted
    assert(expected.nonEmpty)
    assert(pairs(Tables.load(spark, sfDir, "nation"), Tables.load(spark, sfDir, "nation")) ==
      expected)
  }
}
