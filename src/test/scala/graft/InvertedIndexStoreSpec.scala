package graft

import graft.operators.InvertedIndexStore
import graft.queries.Pipeline
import org.apache.spark.sql.functions._

/** Persisted inverted index (VERDICT r17 #6): store round-trip,
  * incremental ingest with replay idempotence, probe-over-store
  * bit-equality with the recompute-from-scratch q_bm25, and the
  * bucket-pruned probe read. */
class InvertedIndexStoreSpec extends SparkTestBase {

  private def freshStore(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-inv-$tag").toString + "/store"

  private def docs = Tables.load(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))

  test("ingest + readback: postings equal the direct tokenize, doclens exact") {
    val store = freshStore("rt")
    InvertedIndexStore.appendBatch(spark, docs, store, "full")
    val got = InvertedIndexStore.readPostings(spark, store)
      .select("word", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = InvertedIndexStore.tokenize(docs)
      .select("word", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
    val dl = InvertedIndexStore.readDocLens(spark, store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantDl = docs.select(col("doc_id"),
      expr("CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dl == wantDl)
  }

  test("incremental ingest == one-shot ingest; replayed batch id appends nothing") {
    val store1 = freshStore("inc")
    val store2 = freshStore("one")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    InvertedIndexStore.appendBatch(spark, half1, store1, "b1")
    InvertedIndexStore.appendBatch(spark, half2, store1, "b2")
    // replay of a committed batch: read-only, no double postings
    InvertedIndexStore.appendBatch(spark, half1, store1, "b1")
    InvertedIndexStore.appendBatch(spark, docs, store2, "full")
    def stats(store: String) = InvertedIndexStore.termStats(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats(store1) == stats(store2))
    assert(InvertedIndexStore.readDocLens(spark, store1).count() == docs.count())
  }

  test("bm25 probe over the store is bit-equal to q_bm25 recompute") {
    val store = freshStore("bm25")
    InvertedIndexStore.appendBatch(spark, docs, store, "full")
    val probe = InvertedIndexStore.bm25Probe(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val recompute = Pipeline.queries("q_bm25")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe == recompute && probe.nonEmpty)
    // and the registered q_bm25_probe (lazy store build + probe) agrees
    val registered = Pipeline.queries("q_bm25_probe")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(registered == recompute)
  }

  test("bucket count is a STORE property: pinned at creation from the " +
    "conf, later ingests and probes use the recorded count, not the session's") {
    val store = freshStore("meta")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 === 1)
    try {
      spark.conf.set(InvertedIndexStore.BucketsConf, "8")
      InvertedIndexStore.appendBatch(spark, half1, store, "b1")
    } finally spark.conf.unset(InvertedIndexStore.BucketsConf)
    assert(InvertedIndexStore.bucketCount(spark, store) == 8)
    // second ingest with a DIFFERENT session conf: the store's 8 wins —
    // a writer hashing with another count would break probe pruning
    try {
      spark.conf.set(InvertedIndexStore.BucketsConf, "128")
      InvertedIndexStore.appendBatch(spark, half2, store, "b2")
    } finally spark.conf.unset(InvertedIndexStore.BucketsConf)
    val buckets = InvertedIndexStore.readPostings(spark, store)
      .select("bucket").distinct().collect().map(_.getLong(0))
    assert(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < 8),
      s"postings hashed outside the store's 8 buckets: ${buckets.sorted.mkString(",")}")
    // and the probe (conf unset) reads the stored count: bit-equal to
    // the default-bucketed store's result on the same corpus
    val probe8 = InvertedIndexStore.bm25Probe(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val store64 = freshStore("meta64")
    InvertedIndexStore.appendBatch(spark, docs, store64, "full")
    val probe64 = InvertedIndexStore.bm25Probe(spark, store64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probe8 == probe64 && probe8.nonEmpty)
  }

  // ------------------------------------------------------------------
  // compaction (VERDICT r18 #2): manifest-generation swap
  // ------------------------------------------------------------------

  private def topDirs(store: String, kind: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$store/$kind")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  test("compacted == uncompacted: df/tf and the bm25 probe are bit-equal; " +
    "batch dirs collapse; replay of an absorbed batch appends nothing") {
    val store = freshStore("cmp")
    val thirds = (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i))
    thirds.zipWithIndex.foreach { case (t, i) =>
      InvertedIndexStore.appendBatch(spark, t, store, s"b$i")
    }
    def stats() = InvertedIndexStore.termStats(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def probe() = InvertedIndexStore.bm25Probe(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantStats = stats()
    val wantProbe = probe()
    InvertedIndexStore.compact(spark, store)
    assert(stats() == wantStats && probe() == wantProbe)
    // the live listing is now one compacted dir per kind; the absorbed
    // batch dirs are RECLAIMED — their replay ids live in the manifest
    // (r20, VERDICT r19 #5; r19 parked full copies forever)
    assert(topDirs(store, "postings").count(_.startsWith("batch-")) == 0)
    assert(topDirs(store, "postings").count(_.startsWith("compact-")) == 1)
    assert(topDirs(store, "postings/.absorbed").isEmpty)
    // replay of an absorbed batch id: committed via the manifest record,
    // appends nothing, returns an empty frame, statistics unchanged
    val replayed = InvertedIndexStore.appendBatch(spark, thirds(1), store, "b1")
    assert(replayed.count() == 0)
    assert(stats() == wantStats && probe() == wantProbe)
    // dl scalars also survived exactly
    assert(InvertedIndexStore.readDocLens(spark, store).count() == docs.count())
  }

  test("replay-id retention: default carries ids across generations; a " +
    "bounded horizon retires them (metadata stays O(live), re-submission " +
    "re-ingests as documented)") {
    val thirds = (0 to 2).map(i => docs.filter(col("doc_id") % 3 === i))
    def stats(store: String) = InvertedIndexStore.termStats(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def buildTwoGens(store: String, horizon: Long): Unit = {
      InvertedIndexStore.appendBatch(spark, thirds(0), store, "b0")
      InvertedIndexStore.appendBatch(spark, thirds(1), store, "b1")
      InvertedIndexStore.compact(spark, store) // gen1 records b0,b1 @1
      InvertedIndexStore.appendBatch(spark, thirds(2), store, "b2")
      InvertedIndexStore.compact(spark, store, // gen2: b2 @2; b0,b1 per horizon
        replayHorizonGens = horizon)
    }
    // DEFAULT: ids carried across generations — replay of b0 (absorbed
    // and reclaimed two generations ago) is still a no-op
    val keep = freshStore("horizon-keep")
    buildTwoGens(keep, Long.MaxValue)
    val full = stats(keep)
    assert(InvertedIndexStore.appendBatch(spark, thirds(0), keep, "b0")
      .count() == 0, "default retention must keep the replay record")
    assert(stats(keep) == full)
    // HORIZON 0: gen2 retires the gen1-stamped ids; its own record
    // (b2) survives, so a recent replay stays a no-op, while retired
    // b0 RE-INGESTS — the documented hazard of a horizon shorter than
    // the crash-retry window. Retention is metadata-only until then.
    val bound = freshStore("horizon-bound")
    buildTwoGens(bound, 0L)
    assert(stats(bound) == full, "retention itself changes no data")
    assert(InvertedIndexStore.appendBatch(spark, thirds(2), bound, "b2")
      .count() == 0, "an id recorded BY the retiring compaction survives")
    val reingested = InvertedIndexStore.appendBatch(
      spark, thirds(0), bound, "b0")
    assert(reingested.count() > 0,
      "a retired replay id must be treated as new")
    assert(stats(bound) != full, "the re-ingest really landed")
  }

  test("legacy r19-era parked replay records migrate: the next compaction " +
    "records their ids in the manifest and reclaims the parked dirs") {
    val store = freshStore("legacy")
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 3 === 0), store, "b0")
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 3 === 1), store, "b1")
    def stats() = InvertedIndexStore.termStats(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // simulate an r19-era compaction's parked replay record: the batch's
    // rows live in the store (b1 above is its stand-in), its dir was
    // renamed under .absorbed/
    val legacy = docs.filter(col("doc_id") % 3 === 2)
    val legacyPost = InvertedIndexStore.tokenize(legacy)
    graft.operators.ManifestStore.appendAtomic(
      spark, legacyPost, s"$store/postings/.absorbed", "batch-parked")
    // a replay of the parked id is committed (read from the parked dir)
    assert(InvertedIndexStore.appendBatch(spark, legacy, store, "parked")
      .count() == legacyPost.count())
    val before = stats()
    InvertedIndexStore.compact(spark, store)
    // the parked dir is gone, its id migrated into the manifest
    assert(topDirs(store, "postings/.absorbed").isEmpty)
    assert(stats() == before)
    // and the replay is STILL a committed no-op (empty frame now)
    assert(InvertedIndexStore.appendBatch(spark, legacy, store, "parked")
      .count() == 0)
    assert(stats() == before)
  }

  test("superseded manifest generations are swept once stale") {
    val store = freshStore("gens")
    (0 to 1).foreach { i =>
      InvertedIndexStore.appendBatch(spark,
        docs.filter(col("doc_id") % 3 === i), store, s"b$i")
    }
    InvertedIndexStore.compact(spark, store) // gen-1
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 3 === 2), store, "b2")
    InvertedIndexStore.compact(spark, store) // gen-2 (gen-1 too young)
    assert(topDirs(store, "manifest").size == 2)
    Thread.sleep(20)
    InvertedIndexStore.compact(spark, store, staleMs = 1L)
    assert(topDirs(store, "manifest").size == 1)
    assert(topDirs(store, "manifest").head.startsWith("gen-000000002"))
    val oneShot = freshStore("gens-one")
    InvertedIndexStore.appendBatch(spark, docs, oneShot, "full")
    def statsOf(s: String) = InvertedIndexStore.termStats(spark, s)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(statsOf(store) == statsOf(oneShot))
  }

  test("compaction sweeps a crashed append's staging dirs once stale, not before") {
    val store = freshStore("staging")
    (0 to 1).foreach { i =>
      InvertedIndexStore.appendBatch(spark,
        docs.filter(col("doc_id") % 2 === i), store, s"b$i")
    }
    // appends that died before their rename: staging dirs next to each
    // kind dir and next to the manifest dir
    val crashed = Seq(".postings-staging-batch-x", ".doclen-staging-batch-x",
      ".manifest-staging-gen-000000009-x")
    crashed.foreach(n => assert(new java.io.File(store, n).mkdirs()))
    InvertedIndexStore.compact(spark, store) // default staleMs: too young
    assert(crashed.forall(topDirs(store, "").contains), topDirs(store, ""))
    Thread.sleep(20)
    InvertedIndexStore.compact(spark, store, staleMs = 1L)
    assert(crashed.forall(n => !topDirs(store, "").contains(n)), topDirs(store, ""))
    assert(Set("postings", "doclen", "manifest", "meta").subsetOf(topDirs(store, "").toSet))
  }

  test("crash between snapshot-write and manifest-swap leaves the old " +
    "generation authoritative; ingest after compaction stays live") {
    val store = freshStore("crash")
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 3 === 0), store, "b0")
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 3 === 1), store, "b1")
    def stats() = InvertedIndexStore.termStats(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val before = stats()
    // simulate a compactor that crashed after writing its snapshot but
    // before the manifest swap: a compact-* dir holding a full copy of
    // the postings — if readers saw it, every df/tf would double
    InvertedIndexStore.readPostings(spark, store)
      .write.parquet(s"$store/postings/compact-crashed")
    InvertedIndexStore.readDocLens(spark, store)
      .write.parquet(s"$store/doclen/compact-crashed")
    assert(stats() == before, "crashed compactor snapshot leaked into reads")
    // a real compaction now: the crashed leftovers stay excluded (too
    // young for the stale sweep, named live by no manifest)
    InvertedIndexStore.compact(spark, store)
    assert(stats() == before)
    // post-compaction ingest is mentioned by no manifest -> live
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 3 === 2), store, "b2")
    val oneShot = freshStore("crash-one")
    InvertedIndexStore.appendBatch(spark, docs, oneShot, "full")
    def statsOf(s: String) = InvertedIndexStore.termStats(spark, s)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats() == statsOf(oneShot))
    // and a SECOND compaction folds generation 1 + the new batch into
    // generation 2, still bit-equal
    InvertedIndexStore.compact(spark, store)
    assert(stats() == statsOf(oneShot))
  }

  test("compaction never absorbs an ORPHAN doclen batch: the crashed " +
    "ingest's retry completes it without double-counting dl/N/T") {
    val store = freshStore("orphan")
    val half = docs.filter(col("doc_id") % 2 === 0)
    val orphanDocs = docs.filter(col("doc_id") % 2 === 1)
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 4 === 0), store, "b0")
    InvertedIndexStore.appendBatch(spark,
      docs.filter(col("doc_id") % 4 === 2), store, "b1") // 2 batches to compact
    // simulate the crash window: the doclen append landed, the postings
    // commit marker did not
    val dl = orphanDocs.select(col("doc_id"), expr(
      "CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)").as("dl"))
    graft.operators.ManifestStore.appendAtomic(
      spark, dl, s"$store/doclen", "batch-orphan")
    InvertedIndexStore.compact(spark, store)
    // the orphan stayed at the top level, unabsorbed
    assert(topDirs(store, "doclen").contains("batch-orphan"))
    assert(!topDirs(store, "doclen/.absorbed").contains("batch-orphan"))
    // the retry completes the batch; nothing about it is duplicated
    InvertedIndexStore.appendBatch(spark, orphanDocs, store, "orphan")
    val oneShot = freshStore("orphan-one")
    InvertedIndexStore.appendBatch(spark,
      half.unionByName(orphanDocs), oneShot, "full")
    def dls(s: String) = InvertedIndexStore.readDocLens(spark, s)
      .groupBy().agg(count(lit(1)), sum(col("dl"))).head()
    assert(dls(store) == dls(oneShot), "orphan doclens double-counted")
    def stats(s: String) = InvertedIndexStore.termStats(spark, s)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats(store) == stats(oneShot))
    // a second compaction (now that the orphan completed into a normal
    // batch) folds it too, still bit-equal
    InvertedIndexStore.compact(spark, store)
    assert(dls(store) == dls(oneShot) && stats(store) == stats(oneShot))
  }

  test("moveGraceMs: absorbed dirs stay in place for in-flight readers; " +
    "a later compact parks them after the grace") {
    val store = freshStore("grace")
    (0 to 2).foreach { i =>
      InvertedIndexStore.appendBatch(spark,
        docs.filter(col("doc_id") % 3 === i), store, s"b$i")
    }
    def stats() = InvertedIndexStore.termStats(spark, store)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = stats()
    InvertedIndexStore.compact(spark, store, moveGraceMs = 3600 * 1000L)
    // manifest swapped, but the absorbed batch dirs are still readable
    // in place (an in-flight reader of the old generation needs them)
    assert(topDirs(store, "postings").count(_.startsWith("batch-")) == 3)
    assert(stats() == want, "new readers must resolve the new generation")
    // a second compact inside the grace does nothing at all
    InvertedIndexStore.compact(spark, store, moveGraceMs = 3600 * 1000L)
    assert(topDirs(store, "postings").count(_.startsWith("batch-")) == 3)
    // after the grace (0 here = immediately eligible), the reclaim runs:
    // absorbed dirs are deleted (ids already in the manifest), not parked
    InvertedIndexStore.compact(spark, store)
    assert(topDirs(store, "postings").count(_.startsWith("batch-")) == 0)
    assert(topDirs(store, "postings/.absorbed").isEmpty)
    assert(stats() == want)
  }

  test("probe read is bucket-pruned: the postings scan filters on bucket " +
    "before the qterm join") {
    val store = freshStore("prune")
    InvertedIndexStore.appendBatch(spark, docs, store, "full")
    val plan = InvertedIndexStore.bm25Probe(spark, store)
      .queryExecution.executedPlan.toString
    // the bucket IN (...) filter must reach the parquet scan of the
    // postings (PushedFilters carries In(bucket, ...))
    assert(plan.contains("PushedFilters") && plan.contains("In(bucket"),
      s"bucket filter not pushed:\n$plan")
  }
}
