package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Plain parquet scans: Catalyst pushes filters/column pruning into the
  * scan, so callers should select/filter as early as possible and let the
  * optimizer do the rest.
  *
  * Each table's schema is inferred once per session. Parquet schema
  * inference (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`) is
  * one Spark job per read, ≈35–45 ms warm on 4 cores, and a query body
  * loads up to six tables. So the first load of a table remembers the
  * raw schema the read inferred, and later loads hand it to
  * `read.schema(...)`, which only lists the files and runs no job. The
  * memo holds its sessions weakly, and for each session one entry per
  * table path, stamped with:
  *  - the table's [[dataFingerprint]] (a metadata listing, no job), so a
  *    table rewritten in place is inferred afresh;
  *  - the session's values of the parquet confs that change inferred
  *    types ([[InferConfs]]).
  *
  * It remembers the schema, not the `DataFrame`: every load is still a
  * fresh relation with fresh expression ids, so two loads of one table
  * join as two independent scans, with the plans they had before the
  * memo. A remembered `DataFrame` would give both sides the same
  * attributes and change how such self-joins resolve.
  */
object Tables {
  def load(s: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(s, sfDir)
    else read(s, sfDir, name)

  /** Session confs under which parquet inference can yield another type
    * for the same file. */
  private val InferConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** session → table path → (stamp, schema inferred under that stamp). */
  private val schemas =
    mutable.WeakHashMap.empty[SparkSession, mutable.Map[String, (String, StructType)]]

  private def memo(s: SparkSession): mutable.Map[String, (String, StructType)] =
    schemas.getOrElseUpdate(s, mutable.Map.empty)

  /** `s.read.parquet` of one table, inferring its schema only when this
    * session has not read the table's current files under its current
    * [[InferConfs]]. */
  private def read(s: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val stamp = (dataFingerprint(s, sfDir, Seq(name)) +:
      InferConfs.map(k => s.conf.getOption(k).getOrElse(""))).mkString("|")
    schemas.synchronized(memo(s).get(path)) match {
      case Some((`stamp`, schema)) => s.read.schema(schema).parquet(path)
      case _ =>
        val df = s.read.parquet(path)
        schemas.synchronized(memo(s)(path) = stamp -> df.schema)
        df
    }
  }

  /** Content fingerprint of a data dir's table files — the key the
    * persisted-store probe queries (`q_bm25_probe`, `q_ann_index_probe`,
    * `q_bpe_apply_probe`, ...) use for their tmp-dir stores. Keying by
    * the PATH alone (the pre-r19 `hashCode` scheme) served a stale
    * index when test data was regenerated in place while the shared
    * oracle recomputed fresh (ADVICE r18); hashing each file's
    * (name, length, mtime) makes a regenerated input a NEW store key.
    * Driver-side metadata listing only — no data read, no job. */
  def dataFingerprint(s: SparkSession, sfDir: String,
                      tables: Seq[String]): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val parts = tables.sorted.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq(s"$t:absent")
      else fs.listStatus(p).filter(_.isFile).sortBy(_.getPath.getName)
        .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .toSeq
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest((sfDir + "|" + parts.mkString("|")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  /** Schema-adaptive events load. The driver has shipped `ts` under two
    * physical encodings so far — TIMESTAMP(NANOS) (pre-r12, which Spark 4
    * rejects outright unless read as BIGINT nanos) and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (r12+, which Spark reads as TIMESTAMP_NTZ) —
    * so the loader dispatches on the *logical* type it actually gets and
    * normalizes every generation to the same session-UTC TimestampType
    * at microsecond resolution, which is exactly what the DuckDB oracle
    * sees for either encoding. Unknown future encodings fail with one
    * readable error instead of 21 scattered analysis exceptions.
    *
    * The legacy conf is captured at DataFrame creation (verified
    * empirically: execution after restore succeeds), so save/restore
    * keeps the flip scoped to THIS read instead of mutating the shared
    * session for every later TIMESTAMP(NANOS) scan (ADVICE r1). The flip
    * wraps the remembered-schema read too, and the dispatch below runs on
    * the raw `ts` type either read reports.
    */
  private def loadEvents(s: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    val df =
      try read(s, sfDir, "events")
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) read as BIGINT nanos: truncate to micros — the
      // same truncation DuckDB applies on read.
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads NTZ; the
      // session runs in UTC, so casting to TimestampType reinterprets the
      // wall-clock micros as the identical UTC instant the old nanos path
      // produced — keeping the logical schema stable across generations.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      // TIMESTAMP(MICROS/MILLIS, adjusted to UTC): already the target type.
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts at $path has unsupported type $other — the driver " +
        "regenerated testdata with a new physical encoding; teach " +
        "graft.Tables.loadEvents to normalize it to session-UTC " +
        "TimestampType (see TablesSchemaSpec)")
    }
  }
}

/** Determinism helpers for the DuckDB differential oracle (SURVEY.md §2.B
  * legend): floating aggregates must not depend on partial-aggregation
  * order, so money-like doubles are summed in decimal (exact) and cast
  * back to double, mirroring
  * `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)` on the oracle side.
  */
object Det {
  /** Exact, engine-portable sum of a double column. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Portable 4-decimal quantization of a computed double. `round(x, 4)`
    * is a portability bug on computed doubles: Spark rounds the shortest
    * decimal STRING (HALF_UP), DuckDB the BINARY value — near-tie
    * quotients can flip. Scaling by 1e4 first makes every tie an exact
    * half-integer, which both engines round identically (away from zero),
    * and non-ties round the same because the shortest string round-trips
    * to the same double. Mirror in SQL:
    * `CAST(ROUND(x * 10000) AS BIGINT) / 10000.0`. */
  def q4(c: Column): Column = round(c * 10000).cast("long") / 10000.0

  /** Exact-sum average: identical double division on both engines, then
    * portable quantization (see [[q4]]). */
  def davg(c: Column, scale: Int = 2): Column =
    q4(sum(c.cast(DecimalType(18, scale))).cast("double") / count(c))

  /** Timestamp → second-resolution string, matching DuckDB
    * `strftime(ts, '%Y-%m-%d %H:%M:%S')` under the UTC session timezone. */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
}
