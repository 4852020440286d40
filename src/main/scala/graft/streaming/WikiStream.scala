package graft.streaming

import graft.etl.{WikiEtl, WikiXml}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming form of the reference's dump ETL front half:
  * dump files dropped into a directory are parsed and cleaned
  * CONTINUOUSLY instead of in one batch run (`/root/reference/dbfy.py`
  * processes a single file per invocation; at 100 TB the dumps arrive
  * as a rolling set of files and ingestion should be incremental).
  *
  * Each record goes through `WikiXml.parsePage` and the redirect split
  * and clean through `WikiEtl.splitAndClean`, the stages the batch ETL
  * runs, so stream and batch give the same rows (asserted in
  * WikiStreamSpec and WikiDumpSourceSpec). Everything here is a
  * stateless narrow map: append mode, no state store, no watermark
  * needed; checkpointing gives exactly-once file processing. The JDBC
  * sink for a stream is `StreamingJdbc`.
  */
object WikiStream {

  /** Namespace-0 pages from every dump file in `dir`, as a stream
    * (one record per `<page>` via lineSep, like the batch reader). */
  def pages(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.option("lineSep", "</page>").text(dir).as(Encoders.STRING)
      .flatMap(WikiXml.parsePage(_, withText = true))(Encoders.row(WikiXml.schema))
      .filter(col("ns") === 0).drop("ns")

  /** Cleaned content bodies + detected redirects, streaming: the A4/A5
    * stages as a continuous transform. Redirect rows carry the target
    * in `rdr` with a null body; content rows carry the cleaned body. */
  def cleaned(spark: SparkSession, dir: String): DataFrame =
    WikiEtl.splitAndClean(pages(spark, dir), removeHtml = true, Nil, Nil)
}
