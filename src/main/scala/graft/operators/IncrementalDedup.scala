package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cross-batch exact dedup: dedup an ingest DELTA against a
  * persisted fingerprint store WITHOUT recomputing the corpus — the
  * shape every recurring crawl needs (reference analogue: the redirect
  * dict persisted across the two phases of the ETL,
  * /root/reference/dbfy.py:183-185, which avoids re-deriving phase-1
  * state in phase 2).
  *
  * The store is a parquet table of (fp, doc_id): one row per distinct
  * body fingerprint ever admitted, carrying the doc that owns it.
  * `dedupDelta` touches ONLY the delta and the store:
  *   1. fingerprint the delta (md5 of the body — row-local, no shuffle),
  *   2. within-delta dedup (min doc_id per fp — one hash agg),
  *   3. anti-join against the store on fp,
  *   4. checkpoint the survivors, THEN append their fps to the store.
  * The checkpoint before the append is load-bearing: the survivor plan
  * anti-joins the store, so materializing it lazily AFTER the append
  * would re-read the now-extended store and drop every row. At 100 TB
  * the store is fp-bucketed so step 3 is a co-located join; the corpus
  * itself is never re-read — cost per batch is O(|delta| + |store|),
  * not O(|corpus|).
  *
  * REPLAY idempotence: the REQUIRED stable `batchId` (e.g. the
  * streaming foreachBatch id). The batch's survivors ARE its store
  * subdirectory,
  * so a replayed batch whose append already committed returns the
  * recorded survivors instead of anti-joining itself to zero — without
  * this, a crash between the store append and the caller's downstream
  * commit would false-drop the batch forever on retry.
  */
/** Stable replay key for a dedup-store append (r20, ADVICE r19 low).
  * A distinct type, not a raw String: when r19 made the batch id a
  * REQUIRED positional parameter it landed in the slot the defaulted
  * `idCol: String` used to occupy, so an un-migrated caller passing a
  * custom id column positionally compiled silently with the column
  * name used as the batch id. Wrapping the id makes any such stale
  * call site a compile error. (The other stores' `appendBatch(...,
  * batchId)` keep plain String — no same-typed defaulted parameter
  * ever sat in that position, so the trap never existed there.) */
final case class BatchId(value: String) extends AnyVal {
  def nonEmpty: Boolean = value.nonEmpty
}

object IncrementalDedup {

  /** Row-local body fingerprints of a batch: (fp, doc_id). NULL text
    * maps to a distinct sentinel (not SQL NULL): md5(NULL) is NULL and
    * NULL never equi-joins, so NULL-text rows would silently escape
    * dedup in every batch while piling NULL rows into the store. */
  def fingerprints(batch: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    batch.select(
      coalesce(md5(col(textCol).cast("binary")), lit("<null-body>")).as("fp"),
      col(idCol).cast("long").as("doc_id"))

  private[graft] def storeExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The store is a directory of per-batch SUBDIRECTORIES, each landed
    * by one atomic rename. A plain `mode("append")` writes task files
    * straight into the store, so a crash mid-append leaves a PARTIAL
    * fingerprint set — and a partial set is not conservative here: it
    * drops later duplicates of rows whose survivors were never
    * committed downstream (false drops). Writing to a sibling temp dir
    * and renaming it in means a batch's fingerprints appear either
    * fully or not at all. */
  private[graft] def readStore(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(path)

  private[graft] def batchDir(storePath: String, name: String) =
    new org.apache.hadoop.fs.Path(storePath, name)

  private[graft] def appendAtomic(spark: SparkSession, df: DataFrame,
                           storePath: String, dirName: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(conf)
    fs.mkdirs(store)
    val tmp = new org.apache.hadoop.fs.Path(
      store.getParent, s".${store.getName}-staging-$dirName")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, batchDir(storePath, dirName)) &&
        !fs.exists(batchDir(storePath, dirName)))
      throw new java.io.IOException(
        s"atomic store append failed: could not rename $tmp into $store")
  }

  private[graft] def freshBatchName(batchId: Option[String]): String =
    "batch-" + batchId.getOrElse(java.util.UUID.randomUUID().toString)

  /** The committed batch subdir for a replayed batchId, if any. */
  private[graft] def committed(spark: SparkSession, storePath: String,
                        batchId: Option[String]): Option[String] =
    batchId.map(id => s"batch-$id").filter { name =>
      storeExists(spark, storePath) && {
        val p = batchDir(storePath, name)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
      }
    }

  /** Dedups `delta` against the store at `storePath` (created on first
    * use), appends the survivors' fingerprints, and returns the
    * survivors as (fp, doc_id). Within-delta duplicates keep the
    * minimum doc_id; fingerprints already in the store are dropped.
    * `batchId` is REQUIRED and must be stable across retries (r19 —
    * the same discipline as every other persisted store here): a
    * generated id makes a crash between the store append and the
    * caller's downstream commit FALSE-DROP the whole batch forever on
    * retry (it anti-joins against its own fingerprints); with a
    * stable id the replay returns the recorded survivors. */
  def dedupDelta(spark: SparkSession, delta: DataFrame, storePath: String,
                 batchId: BatchId,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(batchId.nonEmpty, "dedupDelta needs a stable batch id")
    committed(spark, storePath, Some(batchId.value)) match {
      case Some(name) =>
        return spark.read.parquet(batchDir(storePath, name).toString)
      case None => ()
    }
    val deltaKeep = fingerprints(delta, idCol, textCol)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val survivors =
      if (storeExists(spark, storePath)) {
        val store = readStore(spark, storePath)
        deltaKeep.join(store.select(col("fp")), Seq("fp"), "left_anti")
      } else deltaKeep
    // materialize BEFORE extending the store (see scaladoc)
    val materialized = Checkpoints.ckpt(survivors)
    appendAtomic(spark, materialized, storePath,
      freshBatchName(Some(batchId.value)))
    materialized
  }

  /** Maintenance: collapse the store's accumulated per-batch
    * subdirectories into one (a long-running crawl otherwise pays file
    * listing over thousands of dirs) and sweep crashed staging dirs.
    * Crash-safe by ORDERING, not locking: the compacted batch lands
    * first (atomic rename), the old batch dirs are deleted after — so
    * at every crash point the store holds a SUPERSET of the true
    * fingerprint set, which is harmless here (the store is consumed as
    * a set by anti/semi-joins; duplicate rows change nothing). The
    * snapshot is checkpointed before any delete so the write never
    * reads what it is removing. Staging dirs older than `staleMs`
    * belong to crashed writers (a live writer's staging is younger) and
    * are removed — without this they accumulate forever.
    * NOTE: compaction collapses per-batch replay records, so run it
    * only when no batch within the replay horizon can still retry. */
  def compactStore(spark: SparkSession, storePath: String,
                   staleMs: Long = 24L * 3600 * 1000): Unit = {
    if (!storeExists(spark, storePath)) return
    val conf = spark.sparkContext.hadoopConfiguration
    val store = new org.apache.hadoop.fs.Path(storePath)
    val fs = store.getFileSystem(conf)
    // sweep crashed staging siblings first
    val now = System.currentTimeMillis()
    val parent = store.getParent
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent).foreach { st =>
        if (st.isDirectory &&
            st.getPath.getName.startsWith(s".${store.getName}-staging-") &&
            now - st.getModificationTime > staleMs)
          fs.delete(st.getPath, true)
      }
    val oldBatches = fs.listStatus(store)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch-"))
    if (oldBatches.length <= 1) return
    val snap = Checkpoints.ckpt(readStore(spark, storePath))
    appendAtomic(spark, snap, storePath, freshBatchName(None))
    Checkpoints.release(snap)
    oldBatches.foreach(st => fs.delete(st.getPath, true))
  }

  /** The near-dup survivor PLAN for a delta against the store — pure
    * (no writes), shared by [[dedupDeltaNear]] and the plan-shape spec
    * so the asserted plan cannot drift from the shipped one. Returns
    * (doc_id) of kept docs; `memb` is the delta's (doc_id, bucket)
    * membership. */
  private[graft] def nearDupSurvivorPlan(spark: SparkSession, delta: DataFrame,
                                         memb: DataFrame, storePath: String,
                                         idCol: String): DataFrame = {
    val ids = delta.select(col(idCol).cast("long").as("doc_id")).distinct()
    val bucketMin = memb.groupBy(col("bucket")).agg(min(col("doc_id")).as("mn"))
    val withinDrop = memb.join(bucketMin, "bucket")
      .filter(col("mn") < col("doc_id")).select(col("doc_id")).distinct()
    val dropped =
      if (storeExists(spark, storePath)) {
        val store = readStore(spark, storePath)
        withinDrop.union(
          memb.join(store.select(col("bucket")), Seq("bucket"), "left_semi")
            .select(col("doc_id")).distinct())
      } else withinDrop
    ids.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** NEAR-dup variant of [[dedupDelta]]: the store holds minhash LSH
    * band signatures (band-bucket ids) instead of exact body hashes, so
    * a delta document drops when it is a near-duplicate — shares ANY of
    * its 4 band buckets — of an already-retained document. Within the
    * delta, a document survives only if every one of its buckets has no
    * smaller delta doc_id (greedy earliest-wins, the LSH-bucket analogue
    * of min-id-per-fp). Only survivors' signatures enter the store:
    * dedup is against the RETAINED corpus, so a doc colliding only with
    * a previously-dropped near-dup is kept. Scale shape: the
    * within-delta check is a bucket-grouped min + equi-join (a hot
    * bucket of k docs costs k rows, never k²); the store check is one
    * semi-join on the signature key. Returns the kept doc_ids.
    * Survivors with NO buckets (sub-shingle-length docs) are recorded
    * in the batch dir with a NULL bucket — NULL never equi-joins, so
    * they cannot cause drops, but they make the batch dir a complete
    * replay record. */
  def dedupDeltaNear(spark: SparkSession, delta: DataFrame, storePath: String,
                     batchId: BatchId,
                     idCol: String = "doc_id"): DataFrame = {
    require(batchId.nonEmpty, "dedupDeltaNear needs a stable batch id")
    committed(spark, storePath, Some(batchId.value)) match {
      case Some(name) =>
        return spark.read.parquet(batchDir(storePath, name).toString)
          .select(col("doc_id")).distinct()
      case None => ()
    }
    import graft.queries.Similarity
    val memb = Checkpoints.ckpt(Similarity.lshBuckets(delta))
    // materialize BEFORE extending the store (same rationale as above)
    val kept = Checkpoints.ckpt(
      nearDupSurvivorPlan(spark, delta, memb, storePath, idCol))
    appendAtomic(spark,
      kept.join(memb, Seq("doc_id"), "left")
        .select(col("bucket"), col("doc_id")), storePath,
      freshBatchName(Some(batchId.value)))
    kept
  }
}
