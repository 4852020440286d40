package graft.etl

import java.util.regex.Pattern

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MediaWiki `pages-articles` export XML → `Dataset` of pages — the
  * Spark-native replacement for gensim's `extract_pages` iterparse
  * (called at `/root/reference/dbfy.py:189,229`; behavior pinned in
  * SURVEY.md §2.3.1).
  *
  * One parser for every ingestion mode: [[parsePage]] turns one
  * `</page>`-delimited record into a row of [[schema]]. The batch scan
  * ([[allPages]]), the stream (`graft.streaming.WikiStream.pages`) and
  * the DSv2 connector (`graft.sources.WikiDumpSource`) only differ in
  * how they cut the bytes into records.
  *
  * Strategy (SURVEY.md §7.5): read the dump as one record per
  * `<page>` with Hadoop's old-API `TextInputFormat` and the record
  * delimiter `</page>`, asking for at least `defaultParallelism`
  * splits. A dump smaller than `cores × block size` then still parses
  * on every core, and a large one keeps block-sized splits (Spark's
  * file source cuts no split below `spark.sql.files.openCostInBytes`,
  * 4 MB, so it reads a dump under ≈16 MB as one task on 4 cores). bz2
  * dumps split too: bz2 is block-compressed (~100-900 KB per block)
  * and Hadoop's `BZip2Codec` is a `SplittableCompressionCodec`, which
  * `TextInputFormat` honours, so a task can start at any block
  * boundary and a multi-GB dump decompresses and parses in parallel
  * with no pre-decompression step (pinned in WikiXmlBz2Spec). Fields
  * come out with anchored regex extraction; the XML-layer entity unescape
  * happens here, BEFORE any HTML-entity pass, exactly as iterparse did
  * for the reference.
  */
object WikiXml {

  /** The page row of every ingestion mode: (title, ns, aid, text). */
  val schema: StructType = StructType(Seq(
    StructField("title", StringType), StructField("ns", IntegerType),
    StructField("aid", LongType), StructField("text", StringType)))

  private val NumericRef = """&#(x[0-9a-fA-F]+|[0-9]+);""".r

  /** XML-layer entity unescape (title and text of [[parsePage]]). */
  private def unescapeXml(s: String): String =
    if (s.indexOf('&') < 0) s
    else {
      // numeric first so stray `&amp;#65;` stays literal like a real
      // XML parser would leave it (it unescapes to `&#65;`).
      val n = NumericRef.replaceAllIn(s, m => {
        val b = m.group(1)
        val cp = try {
          if (b.startsWith("x") || b.startsWith("X")) Integer.parseInt(b.substring(1), 16)
          else Integer.parseInt(b)
        } catch { case _: Exception => -1 }
        if (Character.isValidCodePoint(cp))
          java.util.regex.Matcher.quoteReplacement(new String(Character.toChars(cp)))
        else java.util.regex.Matcher.quoteReplacement(m.matched)
      })
      n.replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&apos;", "'")
        .replace("&amp;", "&")
    }

  private val TitleRe = Pattern.compile("(?s)<title>(.*?)</title>")
  private val NsRe = Pattern.compile("(?s)<ns>(.*?)</ns>")
  // first <id> in the record is the page id; the revision id comes later
  private val IdRe = Pattern.compile("(?s)<id>([0-9]+)</id>")
  private val TextRe = Pattern.compile("(?s)<text[^>]*>(.*?)</text>")
  private val NsDigits = Pattern.compile("[0-9]+")

  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) m.group(1) else ""
  }

  /** One `</page>`-delimited record → a row of [[schema]], or None for
    * the trailing non-page fragment and malformed records: no title, no
    * numeric id, an ns that is not exactly a digit string (gensim
    * compares the ns text with `"0"`), or an ns or id too large for its
    * column. A streaming parser can't reject
    * the whole file, so bad pages degrade to dropped rows, mirroring the
    * reference's skip-on-failure posture (dbfy.py:142-143).
    *
    * A5a lossy decode: the reference decodes with `errors="ignore"`,
    * DELETING invalid byte sequences (`/root/reference/filters.py:53`);
    * every record reader here replaces them with U+FFFD, which is
    * deleted first (caveat, deliberate: a literal U+FFFD that was
    * validly encoded in the dump is deleted too — gensim would keep it;
    * real exports don't contain one).
    *
    * With `withText = false` (the connector's column-pruned scans) the
    * text is neither extracted nor unescaped and comes out as "". */
  def parsePage(record: String, withText: Boolean): Option[Row] = {
    val rec = record.replace("�", "")
    val title = extract(TitleRe, rec)
    val ns = Some(extract(NsRe, rec)).filter(NsDigits.matcher(_).matches())
      .flatMap(_.toIntOption)
    val aid = extract(IdRe, rec).toLongOption
    if (title.isEmpty || ns.isEmpty || aid.isEmpty) None
    else Some(Row(unescapeXml(title), ns.get, aid.get,
      if (withText) unescapeXml(extract(TextRe, rec)) else ""))
  }

  /** All pages of the export, any namespace, as rows of [[schema]].
    * Each partition is one byte range of one input file, and a file's
    * ranges come in offset order, so partition order is dump order. */
  def allPages(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val conf = new JobConf(sc.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "</page>")
    FileInputFormat.setInputPaths(conf, new Path(path))
    val pages = sc.hadoopRDD(conf, classOf[TextInputFormat], classOf[LongWritable],
        classOf[Text], sc.defaultParallelism)
      .flatMap { case (_, record) => parsePage(record.toString, withText = true) }
    spark.createDataFrame(pages, schema)
  }

  /** Namespace-0 pages only — `extract_pages(f, ("0",))` semantics:
    * redirect pages are NOT skipped; their raw `#REDIRECT [[…]]` text
    * flows through for downstream detection (A4). */
  def pages(spark: SparkSession, path: String): DataFrame =
    allPages(spark, path).filter(col("ns") === 0).drop("ns")
}
