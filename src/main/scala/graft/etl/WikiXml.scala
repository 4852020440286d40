package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf, TextInputFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MediaWiki `pages-articles` export XML → `Dataset` of pages — the
  * Spark-native replacement for gensim's `extract_pages` iterparse
  * (called at `/root/reference/dbfy.py:189,229`; behavior pinned in
  * SURVEY.md §2.3.1).
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

  /** XML-layer entity unescape as a pure function — shared by the
    * DataFrame UDF below and the row-level DSv2 reader
    * (graft.sources.WikiDumpSource), so every ingestion mode unescapes
    * identically by construction. */
  def unescapeXml(s: String): String =
    if (s == null) null
    else {
      // numeric first so stray `&amp;#65;` stays literal like a real
      // XML parser would leave it (it unescapes to `&#65;`).
      val numeric = """&#(x[0-9a-fA-F]+|[0-9]+);""".r
      val n = numeric.replaceAllIn(s, m => {
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

  private val unescapeXmlUdf = udf(unescapeXml _)

  /** All pages of the export, any namespace: (title, ns, aid, text).
    * Each partition is one byte range of one input file, and a file's
    * ranges come in offset order, so partition order is dump order.
    *
    * A5a lossy decode: the reference decodes with `errors="ignore"`,
    * DELETING invalid byte sequences (`/root/reference/filters.py:53`);
    * Hadoop's `Text.toString` replaces them with U+FFFD. Deleting every
    * U+FFFD right after the scan restores the reference's semantics
    * (caveat, deliberate: a literal U+FFFD that was validly encoded in
    * the dump is deleted too — gensim would keep it; real exports don't
    * contain one). Codegen'd `translate`, no extra pass over the data. */
  def allPages(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val conf = new JobConf(sc.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "</page>")
    FileInputFormat.setInputPaths(conf, new Path(path))
    // the reader reuses one Text per record: copy it out before the next
    val records = sc.hadoopRDD(conf, classOf[TextInputFormat], classOf[LongWritable],
        classOf[Text], sc.defaultParallelism)
      .map(_._2.toString)
    fromRaw(records.toDF("value"))
  }

  /** The page extraction over an already-scanned `value` column —
    * shared verbatim by the batch reader above and the streaming one
    * (graft.streaming.WikiStream), so both ingestion modes parse
    * identically by construction. */
  def fromRaw(raw: DataFrame): DataFrame =
    raw
      .select(translate(col("value"), "�", "").as("value"))
      .select(
        regexp_extract(col("value"), "(?s)<title>(.*?)</title>", 1).as("title_x"),
        regexp_extract(col("value"), "(?s)<ns>(.*?)</ns>", 1).as("ns_x"),
        // first <id> in the record is the page id; the revision id
        // appears later and is not matched by the first-match extract
        regexp_extract(col("value"), "(?s)<id>([0-9]+)</id>", 1).as("aid_x"),
        regexp_extract(col("value"), "(?s)<text[^>]*>(.*?)</text>", 1).as("text_x"))
      // drop the trailing non-page fragment and malformed records
      // (missing title/ns/id) — a streaming parser can't reject the
      // whole file, so bad pages degrade to dropped rows, mirroring the
      // reference's skip-on-failure posture (dbfy.py:142-143)
      .filter(col("title_x") =!= "" && col("ns_x").rlike("^[0-9]+$") &&
        col("aid_x") =!= "")
      .select(
        unescapeXmlUdf(col("title_x")).as("title"),
        col("ns_x").cast("int").as("ns"),
        col("aid_x").cast("long").as("aid"),
        unescapeXmlUdf(col("text_x")).as("text"))

  /** Namespace-0 pages only — `extract_pages(f, ("0",))` semantics:
    * redirect pages are NOT skipped; their raw `#REDIRECT [[…]]` text
    * flows through for downstream detection (A4). */
  def pages(spark: SparkSession, path: String): DataFrame =
    allPages(spark, path).filter(col("ns") === 0).drop("ns")
}
