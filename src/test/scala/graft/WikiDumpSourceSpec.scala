package graft

import java.nio.file.{Files, Paths}

import graft.etl.WikiXml
import graft.sources.{WikiDumpScanBuilder, WikiDumpSource}
import graft.streaming.WikiStream
import org.apache.spark.sql.types.StructType

/** The DSv2 connector must parse identically to the batch scan and the
  * stream (one parser, pinned here row-for-row on edge records), plan
  * one partition per dump file, and push column pruning into the
  * reader. */
class WikiDumpSourceSpec extends SparkTestBase {

  private val fmt = classOf[WikiDumpSource].getName

  test("DSv2 read == WikiXml.allPages on the same dump, row for row") {
    val xml = getClass.getResource("/mini-wiki.xml").getPath
    val v2 = spark.read.format(fmt).load(xml)
      .collect().map(_.toSeq).toSet
    val v1 = WikiXml.allPages(spark, xml)
      .select("title", "ns", "aid", "text")
      .collect().map(_.toSeq).toSet
    assert(v2 == v1 && v2.nonEmpty, s"v2=${v2.size} v1=${v1.size}")

    // edge records, through all three modes: an ns is exactly a digit
    // string (gensim compares it with "0"), an ns or id too large for
    // its column drops the record, a missing <text> is "",
    // `&amp;#65;` unescapes once to `&#65;`, invalid UTF-8 bytes are
    // deleted, and the first <id> is the page id
    val dir = Files.createTempDirectory("graft-dump-edges").toFile
    def page(title: String, ns: String, id: String, rest: String) =
      s"<page><title>$title</title><ns>$ns</ns><id>$id</id>" +
        s"<revision><id>9$id</id>$rest</revision></page>\n"
    val bytes = new java.io.ByteArrayOutputStream()
    def put(s: String): Unit = bytes.write(s.getBytes("UTF-8"))
    put("<mediawiki>\n")
    put(page("NsNewline", "0\n", "101", "<text>a</text>"))
    put(page("NsSpace", " 0", "102", "<text>b</text>"))
    put(page("NsHuge", "99999999999", "107", "<text>c</text>"))
    put(page("IdHuge", "0", "99999999999999999999", "<text>d</text>"))
    put(page("NoText", "0", "103", ""))
    put(page("Amp &amp;#65; T", "0", "104", "<text>x &amp;#65; y</text>"))
    put("<page><title>Bad"); bytes.write(Array(0xff, 0xfe).map(_.toByte))
    put("Bytes</title><ns>0</ns><id>105</id><revision><id>1105</id><text>p")
    bytes.write(Array(0xc3.toByte)); put("q</text></revision></page>\n")
    put(page("Talk:Rev", "1", "106", "<text>t</text>"))
    put("</mediawiki>\n")
    Files.write(Paths.get(dir.getPath, "edges.xml"), bytes.toByteArray)
    val want = Set[Seq[Any]](
      Seq("NoText", 0, 103L, ""),
      Seq("Amp &#65; T", 0, 104L, "x &#65; y"),
      Seq("BadBytes", 0, 105L, "pq"),
      Seq("Talk:Rev", 1, 106L, "t"))
    val batch = WikiXml.allPages(spark, dir.getPath).collect().map(_.toSeq).toSet
    assert(batch == want, s"batch scan: $batch")
    val dsv2 = spark.read.format(fmt).load(dir.getPath).collect().map(_.toSeq).toSet
    assert(dsv2 == want, s"DSv2: $dsv2")
    val q = WikiStream.pages(spark, dir.getPath)
      .writeStream.format("memory").queryName("wiki_edge_pages").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wiki_edge_pages").collect().map(_.toSeq).toSet
      assert(streamed == want.filter(_(1) == 0).map(r => Seq(r(0), r(2), r(3))),
        s"stream: $streamed")
    } finally q.stop()
  }

  test("directory input plans one partition per file") {
    val dir = Files.createTempDirectory("graft-dump-dir").toFile
    def page(id: Long) =
      s"<mediawiki><page><title>P$id</title><ns>0</ns><id>$id</id>" +
        s"<revision><id>1</id><text>body $id</text></revision></page></mediawiki>"
    Files.write(Paths.get(dir.getPath, "a.xml"), page(1).getBytes("UTF-8"))
    Files.write(Paths.get(dir.getPath, "b.xml"), page(2).getBytes("UTF-8"))
    val df = spark.read.format(fmt).load(dir.getPath)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.select("aid").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

    // multi-path load (Spark passes these as a "paths" JSON array)
    val multi = spark.read.format(fmt)
      .load(s"${dir.getPath}/a.xml", s"${dir.getPath}/b.xml")
    assert(multi.select("aid").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("column pruning reaches the reader (scan reads only requested fields)") {
    val b = new WikiDumpScanBuilder(Seq("/nonexistent"))
    b.pruneColumns(StructType(WikiXml.schema.filter(_.name == "title")))
    assert(b.build().readSchema().fieldNames.toSeq == Seq("title"))

    // end to end: the pruned plan's BatchScan advertises only the
    // requested columns, and the result matches the full read
    val xml = getClass.getResource("/mini-wiki.xml").getPath
    val pruned = spark.read.format(fmt).load(xml).select("title", "aid")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan") && !p.contains("text"), p)
    val full = spark.read.format(fmt).load(xml).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).toSet == full)
  }

  test("trailing fragments and malformed records drop; entities unescape") {
    val p = s"/tmp/graft-dsv2-${System.nanoTime()}.xml"
    val xml =
      "<mediawiki><page><title>A &amp; B</title><ns>0</ns><id>7</id>" +
        "<revision><id>9</id><text>x &lt;y&gt;</text></revision></page>" +
        "<page><title></title><ns>0</ns><id>8</id></page>" + // no title → drop
        "</mediawiki>"
    Files.write(Paths.get(p), xml.getBytes("UTF-8"))
    val rows = spark.read.format(fmt).load(p).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "A & B" && rows.head.getString(3) == "x <y>")
    assert(rows.head.getLong(2) == 7L) // first <id> is the page id
  }
}
