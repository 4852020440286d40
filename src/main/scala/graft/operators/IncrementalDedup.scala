package graft.operators

import graft.Checkpoints
import graft.queries.Similarity
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
  * Layout and crash safety are [[ManifestStore]]'s: the store is one
  * kind rooted at `storePath` itself, each batch lands as
  * `batch-<id>/` by one atomic rename, readers see only the live dirs,
  * and [[compactStore]] folds them through a manifest generation.
  *
  * REPLAY idempotence: the REQUIRED stable `batchId` (e.g. the
  * streaming foreachBatch id) is the replay key. A replayed batch whose
  * append already committed returns its recorded survivors, or nothing
  * once compaction has folded its dir away, instead of anti-joining
  * itself to zero — without this, a crash between the store append and
  * the caller's downstream commit would false-drop the batch forever
  * on retry.
  */
/** Stable replay key for a dedup-store append (r20, ADVICE r19 low).
  * A distinct type, not a raw String: the batch id follows the store
  * path, another String, in `dedupDelta` / `dedupDeltaNear`, and a
  * swapped or stale positional argument would otherwise compile and
  * use a path or column name as the replay key. */
final case class BatchId(value: String) extends AnyVal

object IncrementalDedup {

  /** Row-local body fingerprints of a (doc_id, text) batch: (fp,
    * doc_id). NULL text maps to a distinct sentinel (not SQL NULL):
    * md5(NULL) is NULL and NULL never equi-joins, so NULL-text rows would
    * silently escape dedup in every batch while piling NULL rows into
    * the store. */
  def fingerprints(batch: DataFrame): DataFrame =
    batch.select(
      coalesce(md5(col("text").cast("binary")), lit("<null-body>")).as("fp"),
      col("doc_id").cast("long").as("doc_id"))

  /** The store's one [[ManifestStore]] kind, rooted at the store path. */
  private[graft] def storeKind(storePath: String) =
    ManifestStore.Kind("dedup", storePath)

  /** Dedups `delta` against the store at `storePath` (created on first
    * use), appends the survivors' fingerprints, and returns the
    * survivors as (fp, doc_id). Within-delta duplicates keep the
    * minimum doc_id; fingerprints already in the store are dropped.
    * `batchId` is REQUIRED and must be stable across retries (r19 —
    * the same discipline as every other persisted store here): a
    * generated id makes a crash between the store append and the
    * caller's downstream commit FALSE-DROP the whole batch forever on
    * retry (it anti-joins against its own fingerprints); with a
    * stable id the replay returns the recorded survivors, or nothing
    * once compaction has folded them away. */
  def dedupDelta(spark: SparkSession, delta: DataFrame, storePath: String,
                 batchId: BatchId): DataFrame = {
    val deltaKeep = fingerprints(delta)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    ManifestStore.committedBatch(spark, storePath, storeKind(storePath),
        batchId.value) match {
      case Some(ManifestStore.Stored(p)) => return spark.read.parquet(p)
      case Some(ManifestStore.Recorded)  => return deltaKeep.limit(0)
      case None                          => ()
    }
    val survivors = ManifestStore.readLive(spark, storePath, storeKind(storePath)) match {
      case Some(store) => deltaKeep.join(store.select(col("fp")), Seq("fp"), "left_anti")
      case None        => deltaKeep
    }
    // materialize BEFORE extending the store (see scaladoc)
    val materialized = Checkpoints.ckpt(survivors)
    ManifestStore.appendAtomic(spark, materialized, storePath,
      ManifestStore.batchName(batchId.value))
    materialized
  }

  /** Maintenance: fold the store's accumulated batch dirs into one
    * compacted generation (a long-running crawl otherwise pays file
    * listing over thousands of dirs) and sweep what crashed writers
    * left behind — [[ManifestStore.compact]], whose manifest keeps
    * every absorbed batch id as a replay record. */
  def compactStore(spark: SparkSession, storePath: String,
                   staleMs: Long = 24L * 3600 * 1000): Unit =
    ManifestStore.compact(spark, storePath, Seq(storeKind(storePath)),
      staleMs = staleMs)

  /** The near-dup survivor PLAN for a delta against the store — pure
    * (no writes), shared by [[dedupDeltaNear]] and the plan-shape spec
    * so the asserted plan cannot drift from the shipped one. Returns
    * (doc_id) of kept docs; `memb` is the delta's (doc_id, bucket)
    * membership. */
  private[graft] def nearDupSurvivorPlan(spark: SparkSession, delta: DataFrame,
                                         memb: DataFrame, storePath: String): DataFrame = {
    val ids = delta.select(col("doc_id").cast("long").as("doc_id")).distinct()
    val bucketMin = memb.groupBy(col("bucket")).agg(min(col("doc_id")).as("mn"))
    val withinDrop = memb.join(bucketMin, "bucket")
      .filter(col("mn") < col("doc_id")).select(col("doc_id")).distinct()
    val dropped = ManifestStore.readLive(spark, storePath, storeKind(storePath)) match {
      case Some(store) => withinDrop.union(
        memb.join(store.select(col("bucket")), Seq("bucket"), "left_semi")
          .select(col("doc_id")).distinct())
      case None => withinDrop
    }
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
    * replay record. `delta` is a (doc_id, text) frame, as for
    * [[Similarity.lshBuckets]]. */
  def dedupDeltaNear(spark: SparkSession, delta: DataFrame, storePath: String,
                     batchId: BatchId): DataFrame = {
    ManifestStore.committedBatch(spark, storePath, storeKind(storePath),
        batchId.value) match {
      case Some(ManifestStore.Stored(p)) =>
        return spark.read.parquet(p).select(col("doc_id")).distinct()
      case Some(ManifestStore.Recorded) =>
        return delta.select(col("doc_id").cast("long").as("doc_id")).limit(0)
      case None => ()
    }
    val memb = Checkpoints.ckpt(Similarity.lshBuckets(delta))
    // materialize BEFORE extending the store (same rationale as above)
    val kept = Checkpoints.ckpt(nearDupSurvivorPlan(spark, delta, memb, storePath))
    ManifestStore.appendAtomic(spark,
      kept.join(memb, Seq("doc_id"), "left")
        .select(col("bucket"), col("doc_id")), storePath,
      ManifestStore.batchName(batchId.value))
    // the append was memb's last reader; kept is the caller's to release
    Checkpoints.release(memb)
    kept
  }
}
