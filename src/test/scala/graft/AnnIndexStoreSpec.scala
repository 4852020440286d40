package graft

import graft.operators.AnnIndexStore
import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** Persisted incremental ANN index: probe-over-store must equal the
  * recompute-from-scratch IVF pipeline exactly, batches must extend
  * the index incrementally, and a replayed batch append must be
  * idempotent (same discipline as IncrementalDedupSpec). */
class AnnIndexStoreSpec extends SparkTestBase {

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft-ann-store").toString + "/store"

  private def quantizedVectors() = Similarity.quantized(spark, sfDir)

  private def buildTwoBatches(store: String): Unit = {
    val q = quantizedVectors()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 2 === 0).select(col("vec_id"), col("qv"), col("nq")),
      store, "even")
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 2 === 1).select(col("vec_id"), col("qv"), col("nq")),
      store, "odd")
  }

  private def probeAll(store: String) =
    AnnIndexStore.probe(spark,
      quantizedVectors().filter(col("vec_id") >= 50 && col("vec_id") < 60)
        .select(col("vec_id").as("a_id"), col("qv").as("qa"), col("nq").as("na")),
      store)
      .orderBy("a_id", "rn").collect().toSeq

  test("ensureCodebook frees its centroid checkpoint once the codebook is written") {
    val store = freshStore()
    val q = quantizedVectors().select(col("vec_id"), col("qv"), col("nq"))
    val leaked = persistedBy(AnnIndexStore.ensureCodebook(spark, q, store))
    assert(AnnIndexStore.readCodebook(spark, store).count() > 0)
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }

  test("ensurePqCodebook frees its residual and every k-means round checkpoint") {
    val store = freshStore()
    val q = quantizedVectors().select(col("vec_id"), col("qv"), col("nq"))
    AnnIndexStore.ensureCodebook(spark, q, store)
    val leaked = persistedBy(AnnIndexStore.ensurePqCodebook(spark, q, store))
    assert(AnnIndexStore.readPqCodebook(spark, store).count() > 0)
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }

  test("ManifestStore.compact frees each kind's snapshot once it is written") {
    val store = freshStore()
    buildTwoBatches(store)
    val leaked = persistedBy(AnnIndexStore.compact(spark, store))
    assert(topDirs(store, "assign").count(_.startsWith("compact-")) == 1)
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }

  test("probe over a two-batch store equals recompute-from-scratch IVF") {
    val store = freshStore()
    buildTwoBatches(store)
    val fromStore = probeAll(store)
    val recompute = SparkEntry.queries("q_ann_ivf")(spark, sfDir).collect().toSeq
    assert(fromStore == recompute)
    assert(fromStore.nonEmpty)
  }

  test("replayed batch append is idempotent: store and probes unchanged") {
    val store = freshStore()
    buildTwoBatches(store)
    val before = probeAll(store)
    val nAssign = AnnIndexStore.readAssignments(spark, store).count()
    // replay a committed batch (crash-after-append retry): the recorded
    // assignments come back, nothing is double-appended
    val replayed = AnnIndexStore.appendBatch(spark,
      quantizedVectors().filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("qv"), col("nq")),
      store, "even")
    assert(replayed.count() > 0)
    assert(AnnIndexStore.readAssignments(spark, store).count() == nAssign)
    assert(probeAll(store) == before)
  }

  test("assignments cover every ingested vector exactly once") {
    val store = freshStore()
    buildTwoBatches(store)
    val n = quantizedVectors().count()
    val asg = AnnIndexStore.readAssignments(spark, store)
    assert(asg.count() == n)
    assert(asg.select("vec_id").distinct().count() == n)
  }

  test("duplicate identical assignments collapse; a conflicting duplicate " +
    "fails loudly AT INGEST, never partition-dependent") {
    val store = freshStore()
    buildTwoBatches(store)
    val clean = probeAll(store)
    // the same vectors under a DIFFERENT batch id: identical duplicate
    // rows — the ingest gate passes them and probe output must not change
    AnnIndexStore.appendBatch(spark,
      quantizedVectors().filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("qv"), col("nq")), store, "even-dup")
    assert(AnnIndexStore.readAssignments(spark, store).count() >
      quantizedVectors().count())
    assert(probeAll(store) == clean)
    // a CHANGED vector under yet another id: the APPEND fails (r20,
    // ADVICE r19 low — detection moved from every probe to the one
    // ingest), and nothing lands in the store
    val nBefore = AnnIndexStore.readAssignments(spark, store).count()
    val e = intercept[IllegalStateException] {
      AnnIndexStore.appendBatch(spark,
        quantizedVectors().filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), expr("reverse(qv)").as("qv"),
            (col("nq") + 1).as("nq")), store, "odd-conflict")
    }
    assert(e.getMessage.contains("conflicting duplicate assignments"))
    assert(AnnIndexStore.readAssignments(spark, store).count() == nBefore)
    assert(probeAll(store) == clean)
  }

  test("LEGACY store with an in-cell conflict (ingested before the r20 " +
    "gate): the probe still raises instead of answering partition-dependently") {
    val store = freshStore()
    buildTwoBatches(store)
    // bypass the ingest gate the way a pre-r20 writer would have:
    // land conflicting duplicates (same vec_id+cell, different nq)
    // directly as a batch dir — every cell gets one, so whichever
    // cells a probe touches contain a conflict
    val conflicted = AnnIndexStore.readAssignments(spark, store)
      .select(col("vec_id"), col("cell"), col("qv"),
        (col("nq") + 1).as("nq"))
    graft.operators.ManifestStore.appendAtomic(
      spark, conflicted, s"$store/assign", "batch-legacy-conflict")
    val e = intercept[Exception] { probeAll(store) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("conflicting duplicate assignments")),
      s"expected the conflict error, got: ${messages(e).mkString(" | ")}")
  }

  test("LEGACY store with a CROSS-cell conflict: the probe raises even " +
    "though the narrowed read never co-probes the two copies") {
    // r20 review: a pre-gate re-ingested CHANGED vector usually moves
    // cell, so its two assignments land in DIFFERENT cells — the probed
    // cells' semi-join then sees at most one copy and the in-plan
    // min/max guard cannot fire. The once-per-live-dir-set full-store
    // validation must catch it instead.
    val store = freshStore()
    buildTwoBatches(store)
    val ncells = AnnIndexStore.readAssignments(spark, store)
      .select(col("cell")).distinct().count()
    assert(ncells > 1, "fixture needs >1 cell for a cross-cell conflict")
    val asg0 = AnnIndexStore.readAssignments(spark, store)
    val conflicted = asg0.select(col("vec_id"),
      ((col("cell") + 1) % ncells).cast(asg0.schema("cell").dataType)
        .as("cell"),
      col("qv"), col("nq"))
    graft.operators.ManifestStore.appendAtomic(
      spark, conflicted, s"$store/assign", "batch-legacy-xcell")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e = intercept[Exception] { probeAll(store) }
    assert(messages(e).exists(_.contains("conflicting duplicate assignments")),
      s"expected the conflict error, got: ${messages(e).mkString(" | ")}")
  }

  test("ingestGate=off skips the per-ingest store scan; the first probe " +
    "still fails loudly on the conflict") {
    val store = freshStore()
    buildTwoBatches(store)
    try {
      spark.conf.set("spark.graft.ann.ingestGate", "off")
      // the conflicting append now LANDS (continuous-pipeline mode:
      // per-ingest O(store) scans traded for probe-time validation)
      AnnIndexStore.appendBatch(spark,
        quantizedVectors().filter(col("vec_id") % 2 === 1)
          .select(col("vec_id"), expr("reverse(qv)").as("qv"),
            (col("nq") + 1).as("nq")), store, "odd-conflict-ungated")
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      val e = intercept[Exception] { probeAll(store) }
      assert(messages(e).exists(_.contains("conflicting duplicate assignments")),
        s"expected the conflict error, got: ${messages(e).mkString(" | ")}")
    } finally spark.conf.unset("spark.graft.ann.ingestGate")
  }

  // ------------------------------------------------------------------
  // compaction (VERDICT r19 #1): the manifest-generation machinery the
  // inverted index got in r19, applied to assign/ + pq_assign/
  // ------------------------------------------------------------------

  private def topDirs(store: String, kind: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$store/$kind")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  test("compacted == uncompacted: probe bit-equal; batch dirs collapse; " +
    "replay of an absorbed-and-reclaimed batch appends nothing") {
    val store = freshStore()
    buildTwoBatches(store)
    val want = probeAll(store)
    val nAssign = AnnIndexStore.readAssignments(spark, store).count()
    AnnIndexStore.compact(spark, store)
    assert(probeAll(store) == want)
    assert(AnnIndexStore.readAssignments(spark, store).count() == nAssign)
    // one compacted dir, no batch dirs, absorbed dirs RECLAIMED (not
    // parked — their replay ids live in the manifest, VERDICT r19 #5)
    assert(topDirs(store, "assign").count(_.startsWith("compact-")) == 1)
    assert(topDirs(store, "assign").count(_.startsWith("batch-")) == 0)
    assert(topDirs(store, "assign/.absorbed").isEmpty)
    // replay of an absorbed batch id: committed via the manifest record,
    // appends nothing, returns an empty frame
    val replayed = AnnIndexStore.appendBatch(spark,
      quantizedVectors().filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("qv"), col("nq")), store, "even")
    assert(replayed.count() == 0)
    assert(AnnIndexStore.readAssignments(spark, store).count() == nAssign)
    assert(probeAll(store) == want)
  }

  test("pq codes are compacted too: probePq bit-equal, dirs collapse, " +
    "replay of an absorbed pq batch appends nothing") {
    val store = freshStore()
    val q = quantizedVectors()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    AnnIndexStore.ensurePqCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    Seq(0, 1).foreach { i =>
      AnnIndexStore.appendBatchPq(spark,
        q.filter(col("vec_id") % 2 === i).select(col("vec_id"), col("qv"), col("nq")),
        store, s"pq-$i")
    }
    val probes = q.filter(col("vec_id") >= 50 && col("vec_id") < 60)
      .select(col("vec_id").as("a_id"), col("qv").as("qa"), col("nq").as("na"))
    val source = q.select(col("vec_id"), col("qv"), col("nq"))
    def probePq() = AnnIndexStore.probePq(spark, probes, source, store)
      .orderBy("a_id", "rn").collect().toSeq
    val want = probePq()
    val n = AnnIndexStore.readPqAssignments(spark, store).count()
    AnnIndexStore.compact(spark, store)
    assert(probePq() == want && want.nonEmpty)
    assert(AnnIndexStore.readPqAssignments(spark, store).count() == n)
    assert(topDirs(store, "pq_assign").count(_.startsWith("compact-")) == 1)
    assert(topDirs(store, "pq_assign").count(_.startsWith("batch-")) == 0)
    val replayed = AnnIndexStore.appendBatchPq(spark,
      q.filter(col("vec_id") % 2 === 0).select(col("vec_id"), col("qv"), col("nq")),
      store, "pq-0")
    assert(replayed.count() == 0)
    assert(AnnIndexStore.readPqAssignments(spark, store).count() == n)
    assert(probePq() == want)
  }

  test("crashed-compactor snapshot is invisible; post-compaction ingest " +
    "stays live; second compaction folds it, still bit-equal") {
    val store = freshStore()
    val q = quantizedVectors()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 3 === 0).select(col("vec_id"), col("qv"), col("nq")),
      store, "b0")
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 3 === 1).select(col("vec_id"), col("qv"), col("nq")),
      store, "b1")
    val nTwo = AnnIndexStore.readAssignments(spark, store).count()
    // a compactor that crashed after its snapshot, before the manifest:
    // a full copy of the assignments — if readers saw it, every probe
    // dedup would see doubled rows and counts would double
    AnnIndexStore.readAssignments(spark, store)
      .write.parquet(s"$store/assign/compact-crashed")
    assert(AnnIndexStore.readAssignments(spark, store).count() == nTwo,
      "crashed compactor snapshot leaked into reads")
    AnnIndexStore.compact(spark, store)
    assert(AnnIndexStore.readAssignments(spark, store).count() == nTwo)
    // post-compaction ingest is mentioned by no manifest -> live
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 3 === 2).select(col("vec_id"), col("qv"), col("nq")),
      store, "b2")
    val all = probeAll(store)
    val oneShot = freshStore()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), oneShot)
    AnnIndexStore.appendBatch(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), oneShot, "full")
    assert(all == probeAll(oneShot) && all.nonEmpty)
    // second compaction folds generation 1 + the new batch
    AnnIndexStore.compact(spark, store)
    assert(probeAll(store) == all)
    assert(topDirs(store, "assign").count(_.startsWith("batch-")) == 0)
  }

  test("superseded manifest generations are swept once stale") {
    val store = freshStore()
    val q = quantizedVectors()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 3 === 0).select(col("vec_id"), col("qv"), col("nq")),
      store, "b0")
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 3 === 1).select(col("vec_id"), col("qv"), col("nq")),
      store, "b1")
    AnnIndexStore.compact(spark, store) // gen-1
    AnnIndexStore.appendBatch(spark,
      q.filter(col("vec_id") % 3 === 2).select(col("vec_id"), col("qv"), col("nq")),
      store, "b2")
    AnnIndexStore.compact(spark, store) // gen-2 (gen-1 too young to sweep)
    assert(topDirs(store, "manifest").size == 2)
    Thread.sleep(20)
    AnnIndexStore.compact(spark, store, staleMs = 1L) // folds nothing, sweeps
    assert(topDirs(store, "manifest").size == 1,
      "superseded generations must be reclaimed")
    assert(topDirs(store, "manifest").head.startsWith("gen-000000002"))
    // the store still answers: probes resolve the surviving generation
    assert(probeAll(store).nonEmpty)
  }

  test("cell count is a STORE property: pinned at creation from the conf, " +
    "later ingests assign against the recorded codebook, not the session's") {
    val store = freshStore()
    val q = quantizedVectors()
    try {
      spark.conf.set(AnnIndexStore.CellsConf, "8")
      AnnIndexStore.ensureCodebook(spark,
        q.select(col("vec_id"), col("qv"), col("nq")), store)
    } finally spark.conf.unset(AnnIndexStore.CellsConf)
    assert(AnnIndexStore.cellCount(spark, store) == 8)
    assert(AnnIndexStore.readCodebook(spark, store).count() == 8)
    // ingest under a DIFFERENT session conf: assignment can only rank
    // against the store's 8 recorded centroids
    try {
      spark.conf.set(AnnIndexStore.CellsConf, "128")
      AnnIndexStore.appendBatch(spark,
        q.select(col("vec_id"), col("qv"), col("nq")), store, "full")
    } finally spark.conf.unset(AnnIndexStore.CellsConf)
    val cells = AnnIndexStore.readAssignments(spark, store)
      .select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.nonEmpty && cells.forall(c => c >= 0 && c < 8),
      s"assignments outside the store's 8 cells: ${cells.sorted.mkString(",")}")
    // probe (conf unset) works against the recorded shape
    val p = AnnIndexStore.probe(spark,
      q.filter(col("vec_id") >= 50 && col("vec_id") < 60)
        .select(col("vec_id").as("a_id"), col("qv").as("qa"),
          col("nq").as("na")), store)
    assert(p.count() > 0)
  }
}
