package graft

import graft.etl.WikiXml
import java.nio.file.{Files, Paths}

/** A2: the reference streams the dump through bz2
  * (`/root/reference/dbfy.py:188`). WikiXml's scan decodes .bz2
  * transparently via Hadoop's splittable `BZip2Codec`, so the same
  * parse works on a compressed dump, and a multi-block dump is read by
  * one task per byte range — on every core — with rows identical to the
  * plain parse (SURVEY.md §7.5). */
class WikiXmlBz2Spec extends SparkTestBase {

  test("pages parse identically from a bz2-compressed dump") {
    val xml = getClass.getResource("/mini-wiki.xml").getPath
    val bz2Path = s"/tmp/graft-mini-wiki-${System.nanoTime()}.xml.bz2"
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(Files.newOutputStream(Paths.get(bz2Path)))
    out.write(Files.readAllBytes(Paths.get(xml)))
    out.close()

    val plain = WikiXml.pages(spark, xml).collect().map(_.toSeq).toSet
    val compressed = WikiXml.pages(spark, bz2Path).collect().map(_.toSeq).toSet
    assert(compressed == plain && plain.size == 6)
  }

  test("a multi-block bz2 dump splits across input tasks with identical rows") {
    // SURVEY §7.3 watch item: a real 20 GB enwiki dump must not parse on
    // one core. bz2 is BLOCK-compressed and Hadoop's BZip2Codec is a
    // SplittableCompressionCodec — the scan can start a task at any
    // block boundary. Fixture: ~3 MB of low-compressibility pages
    // at bzip2 blockSize=1 (100 KB blocks) → dozens of blocks.
    def word(i: Long): String = java.lang.Long.toHexString(i * 0x9e3779b97f4a7c15L)
    val nPages = 2000
    val sb = new StringBuilder("<mediawiki>\n")
    for (p <- 0 until nPages) {
      sb.append(s"<page><title>Page $p</title><ns>0</ns><id>${p + 1}</id>")
        .append("<revision><id>1</id><text>")
      for (wI <- 0 until 120) sb.append(word(p.toLong * 1000 + wI)).append(' ')
      sb.append("</text></revision></page>\n")
    }
    sb.append("</mediawiki>\n")
    val base = Files.createTempDirectory("graft-multiblock")
    val xmlPath = s"$base/dump.xml"
    val bz2Path = s"$base/dump.xml.bz2"
    Files.write(Paths.get(xmlPath), sb.toString.getBytes("UTF-8"))
    val bos = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(
      Files.newOutputStream(Paths.get(bz2Path)), 1)
    bos.write(sb.toString.getBytes("UTF-8"))
    bos.close()

    try {
      // no split-size setting: the scan alone must spread a 3 MB dump
      // over the cores, and more than one task must decode pages
      val rows = WikiXml.pages(spark, bz2Path)
      val nSplits = rows.rdd.getNumPartitions
      assert(nSplits >= spark.sparkContext.defaultParallelism,
        s"bz2 read must split into one input task per core, got $nSplits")
      val perTask = rows.rdd.mapPartitions(it => Iterator(it.size)).collect()
      assert(perTask.count(_ > 0) > 1, s"pages per task: ${perTask.mkString(",")}")
      val got = rows.collect().map(_.toSeq).toSet
      val plain = WikiXml.pages(spark, xmlPath).collect().map(_.toSeq).toSet
      assert(got.size == nPages, s"expected $nPages pages, got ${got.size}")
      assert(got == plain, "split bz2 parse must equal the plain parse")
    } finally {
      Files.deleteIfExists(Paths.get(bz2Path))
      Files.deleteIfExists(Paths.get(xmlPath))
      Files.deleteIfExists(base)
    }
  }

  test("invalid UTF-8 bytes are DELETED, not replaced (A5a errors='ignore')") {
    // gensim: to_unicode(text, "utf8", errors="ignore") drops invalid
    // byte sequences (/root/reference/filters.py:53); the JVM reader
    // yields U+FFFD, which WikiXml deletes post-scan.
    val p = s"/tmp/graft-badutf8-${System.nanoTime()}.xml"
    val head = "<page><title>Bad</title><ns>0</ns><id>9</id><revision><id>1</id><text>ab"
    val tail = "cd</text></revision></page>"
    val bytes = head.getBytes("UTF-8") ++
      Array(0xFF.toByte, 0xFE.toByte) ++ // bytes never valid in UTF-8
      tail.getBytes("UTF-8")
    Files.write(Paths.get(p), bytes)
    val text = WikiXml.pages(spark, p).collect().head.getString(2)
    assert(text == "abcd", s"expected deletion, got: ${text.codePoints().toArray.mkString(",")}")
    assert(!text.contains('�'))
  }

  test("graft_ldot installs through SparkSessionExtensions and works from SQL") {
    import org.apache.spark.sql.SparkSession
    val base = spark // ensure the shared session/context exists first
    // getOrCreate returns the existing session (ignoring withExtensions)
    // unless the default is cleared; the SparkContext is still reused.
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = s2.sql("SELECT graft_ldot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
        .collect().head.getLong(0)
      assert(r == 32L) // 4 + 10 + 18
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
