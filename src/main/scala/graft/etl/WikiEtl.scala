package graft.etl

import graft.Checkpoints
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The full reference pipeline, Spark-first (SURVEY.md §3.2 two-phase
  * shape): XML pages → redirect split (A4) → clean content bodies (A5) →
  * deterministic ids (§7.4) → transitive redirect resolution (A7) →
  * `articles`/`bodies` DataFrames matching `/root/reference/sql/init.sql:5-19`.
  *
  * Differences from the reference, all deliberate (SURVEY.md §7.4/§7.6):
  * surrogate ids are deterministic (dense, ordered by `aid`) instead of
  * insertion-order AUTO_INCREMENT; full UTF-8 titles are kept (no silent
  * utf8-3-byte drops); per-row commits become bulk partition writes.
  */
object WikiEtl {

  /** @param cleanup unpersists the pipeline's cached intermediates —
    *   call after the outputs are materialized (written/counted) so
    *   repeated runs on a long-lived session don't accumulate dead
    *   cached partitions. */
  final case class EtlOutput(bodies: DataFrame, articles: DataFrame,
                             cleanup: () => Unit = () => ())

  /** Dense 1-based deterministic id by total order on `sortCols` —
    * the scalable replacement for AUTO_INCREMENT: a range-partitioned
    * sort + `zipWithIndex`, no single-partition window (SURVEY.md §7.4).
    * Every job that builds the ids runs inside this call: the range
    * sort's sampling job, its shuffle-map stage (both read `df`, so a
    * costly `df` should be persisted) and `zipWithIndex`'s count.
    */
  def withDenseId(df: DataFrame, idCol: String, sortCols: String*): DataFrame = {
    val sorted = df.orderBy(sortCols.map(col): _*)
    val schema = StructType(StructField(idCol, LongType, nullable = false) +: sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq((i + 1L) +: r.toSeq)
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** The redirect split and the body clean (A4/A5) over pages with
    * `aid`, `title` and `text`: `(aid, title, rdr, body)`, where `rdr`
    * is the `#REDIRECT [[…]]` target ("" for a content page) and `body`
    * the cleaned text of a content page (null for a redirect, which is
    * never cleaned). The batch run and `graft.streaming.WikiStream`
    * both call this. */
  def splitAndClean(pages: DataFrame, removeHtml: Boolean,
                    valid: Seq[(Int, Int)], invalid: Seq[(Int, Int)]): DataFrame = {
    val clean = udf((t: String) => WikiText.cleanWikiBody(t, removeHtml, valid, invalid))
      .withName("cleanWikiBody")
    pages
      .withColumn("rdr", regexp_extract(col("text"), WikiText.RedirectRegexSql, 1))
      .select(col("aid"), col("title"), col("rdr"),
        when(col("rdr") === "", clean(col("text"))).as("body"))
  }

  /** @param xmlPath    pages-articles export XML (or a directory of them)
    * @param removeHtml mirror of `--remove_html` (`/root/reference/dbfy.py:55`)
    * @param valid/invalid unicode ranges (`--valid_unichrs`, A5d)
    * @param limit stop after the first N namespace-0 pages in dump
    *   order — the reference's serial-path exact semantics (A12,
    *   `/root/reference/dbfy.py:205-208`; the overshooting mp-path
    *   variant is deliberately not reproduced).
    */
  def run(
      spark: SparkSession,
      xmlPath: String,
      removeHtml: Boolean = true,
      valid: Seq[(Int, Int)] = Nil,
      invalid: Seq[(Int, Int)] = Nil,
      limit: Option[Int] = None): EtlOutput = {
    // The scan already yields one partition per dump byte range, at
    // least one per core (WikiXml.allPages), so parse, redirect split
    // and clean all run where the bytes were read. A global limit
    // leaves one partition; only that path redistributes. Its "first
    // N" orders by the scan position (partition, row), which is dump
    // order.
    val sourced = WikiXml.pages(spark, xmlPath)
    val scanned = limit.fold(sourced) { n =>
      sourced.withColumn("pos", monotonically_increasing_id())
        .orderBy("pos").limit(n).drop("pos")
        .repartition(spark.sparkContext.defaultParallelism)
    }
    // Persisted with each content body cleaned once and the raw text
    // dropped: the dense-id sort's sampling job and its shuffle both
    // read this cache, and so does the redirect side.
    val pages = splitAndClean(scanned, removeHtml, valid, invalid)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Phase 1: content pages → cleaned bodies with deterministic ids.
    val content = pages.filter(col("rdr") === "")
      .select(col("title"), col("aid"), col("body"))
    val bodies = withDenseId(content, "id", "aid")
      .select(col("id"), col("body"), col("title"), col("aid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contentArticles = bodies.select(col("aid"), col("title"), col("id").as("body_id"))

    // Phase 2: redirects resolved transitively against the content
    // title → body-id map; cycles/dead-ends drop (A7 semantics).
    val redirectPages = pages.filter(col("rdr") =!= "")
      .select(col("title").as("src"), col("rdr").as("dst"), col("aid").as("r_aid"))
    // each start row keeps its own r_aid, so two redirect pages that
    // share a title each get their own walk's body
    val resolvedRaw = Redirects.resolveTransitive(redirectPages,
        contentArticles.select(col("title"), col("body_id").as("bid")))
    // the last redirect round stays persisted under `resolvedRaw` until
    // `articles` is materialized; cleanup releases it
    val resolved = resolvedRaw
      .select(col("r_aid").as("aid"), col("src").as("title"), col("bid").as("body_id"))

    val articles = withDenseId(
      contentArticles.unionByName(resolved), "id", "aid", "title")
    EtlOutput(
      bodies.select(col("id"), col("body")),
      articles.select(col("id"), col("aid"), col("title"), col("body_id").as("body")),
      cleanup = () => {
        pages.unpersist(blocking = false)
        bodies.unpersist(blocking = false)
        Checkpoints.release(resolvedRaw)
      })
  }
}
