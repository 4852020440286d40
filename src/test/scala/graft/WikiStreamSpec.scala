package graft

import graft.etl.{MySqlSink, WikiXml, WikiText}
import graft.streaming.{StreamingJdbc, WikiStream}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Streaming dump ingestion == batch ingestion: the file-source stream
  * over a dump directory must produce exactly the batch parse/clean
  * results, including on files that arrive AFTER the stream starts
  * (incremental pickup — the property that makes rolling 100 TB dump
  * ingestion work). */
class WikiStreamSpec extends SparkTestBase {
  private lazy val xml = getClass.getResource("/mini-wiki.xml").getPath

  test("streamed pages equal batch pages; late-arriving files are picked up") {
    val dir = Files.createTempDirectory("graft-stream-dump").toString
    Files.copy(Paths.get(xml), Paths.get(dir, "dump-1.xml"),
      StandardCopyOption.REPLACE_EXISTING)

    val q = WikiStream.pages(spark, dir)
      .writeStream.format("memory").queryName("wiki_pages_stream").start()
    try {
      q.processAllAvailable()
      val batch = WikiXml.pages(spark, xml).collect().map(_.toSeq).toSet
      val streamed = spark.table("wiki_pages_stream").collect().map(_.toSeq).toSet
      assert(streamed == batch && batch.size == 6)

      // a second dump file lands while the stream is running
      val xml2 =
        """<mediawiki><page><title>Late</title><ns>0</ns><id>50</id>
          |<revision><id>500</id><text>'''Late''' arrival.</text></revision></page>
          |</mediawiki>""".stripMargin
      Files.write(Paths.get(dir, "dump-2.xml"), xml2.getBytes("UTF-8"))
      q.processAllAvailable()
      val after = spark.table("wiki_pages_stream").collect().map(_.toSeq).toSet
      assert(after.size == 7)
      assert(after.exists(r => r.head == "Late"))
    } finally q.stop()
  }

  test("streamed cleaning matches the batch cleaner row-for-row") {
    val dir = Files.createTempDirectory("graft-stream-clean").toString
    Files.copy(Paths.get(xml), Paths.get(dir, "dump-1.xml"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = WikiStream.cleaned(spark, dir)
      .writeStream.format("memory").queryName("wiki_clean_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("wiki_clean_stream")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          Option(r.getString(3)))).toSet
      val want = WikiXml.pages(spark, xml)
        .withColumn("rdr", regexp_extract(col("text"), WikiText.RedirectRegexSql, 1))
        .collect().map { r =>
          val rdr = r.getString(3)
          (r.getLong(1), r.getString(0), rdr,
            if (rdr == "") Some(WikiText.cleanWikiBody(r.getString(2))) else None)
        }.toSet
      assert(got == want && want.size == 6)
    } finally q.stop()
  }

  test("streaming JDBC sink: batched appends per micro-batch, no dups across files") {
    val root = Files.createTempDirectory("graft-stream-jdbc").toString
    val dir = s"$root/dump"
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(xml), Paths.get(dir, "dump-1.xml"),
      StandardCopyOption.REPLACE_EXISTING)
    val url = "jdbc:derby:memory:graft_stream_sink;create=true"
    val ledger = "graft_stream_ledger"
    MySqlSink.derbyReset(url, "app", "app")
    MySqlSink.dropBestEffort(url, "app", "app", ledger)
    MySqlSink.bootstrap(url, "app", "app", MySqlSink.derbyDdl)
    def read(table: String) = spark.read.format("jdbc").option("url", url)
      .option("dbtable", table).option("user", "app")
      .option("password", "app").load()
    val q = StreamingJdbc.bodiesPipeline(spark, dir, url, "app", "app", s"$root/ckpt")
    try {
      q.processAllAvailable()
      val want = WikiXml.pages(spark, xml)
        .withColumn("rdr", regexp_extract(col("text"), WikiText.RedirectRegexSql, 1))
        .filter(col("rdr") === "").count()
      assert(read("bodies").count() == want && want > 0)

      // a second dump file lands → next micro-batch appends, no dups
      val xml2 =
        """<mediawiki><page><title>Late2</title><ns>0</ns><id>60</id>
          |<revision><id>600</id><text>'''Late2''' body.</text></revision></page>
          |</mediawiki>""".stripMargin
      Files.write(Paths.get(dir, "dump-2.xml"), xml2.getBytes("UTF-8"))
      q.processAllAvailable()
      val rows = read("bodies").collect()
      assert(rows.length == want + 1)
      assert(rows.map(_.getLong(0)).distinct.length == rows.length, "dup aids")
      assert(rows.exists(r => r.getLong(0) == 60L && r.getString(1) == "Late2 body."))
      // at least two distinct micro-batches landed rows: the ledger
      // holds one row per committed batch id
      assert(read(ledger).filter(col("N_ROWS") > 0)
        .select("BATCH_ID").distinct().count() >= 2)
    } finally q.stop()
  }
}
