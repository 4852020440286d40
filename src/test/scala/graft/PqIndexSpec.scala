package graft

import graft.operators.AnnIndexStore
import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** IVF-PQ residual compression (AnnIndexStore PQ surface): the
  * compressed index must cover every vector with well-formed codes,
  * probe deterministically, hold the recall floor set by the raw IVF
  * pipeline (q_ann_recall's audit), and be measurably smaller on disk
  * than the raw-vector assignment store. */
class PqIndexSpec extends SparkTestBase {

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft-pq-store").toString + "/store"

  private def quantizedVectors() = Similarity.quantized(spark, sfDir)

  private def buildPq(store: String): Unit = {
    val q = quantizedVectors()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    AnnIndexStore.ensurePqCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    AnnIndexStore.appendBatchPq(spark,
      q.filter(col("vec_id") % 2 === 0).select(col("vec_id"), col("qv"), col("nq")),
      store, "even")
    AnnIndexStore.appendBatchPq(spark,
      q.filter(col("vec_id") % 2 === 1).select(col("vec_id"), col("qv"), col("nq")),
      store, "odd")
  }

  private def probes() = quantizedVectors()
    .filter(col("vec_id") >= 50 && col("vec_id") < 60)
    .select(col("vec_id").as("a_id"), col("qv").as("qa"), col("nq").as("na"))

  private def source() = quantizedVectors()
    .select(col("vec_id"), col("qv"), col("nq"))

  private def probePq(store: String) =
    AnnIndexStore.probePq(spark, probes(), source(), store)
      .orderBy("a_id", "rn").collect().toSeq

  test("pq store covers every vector once with well-formed codes; replay idempotent") {
    val store = freshStore()
    buildPq(store)
    val n = quantizedVectors().count()
    val asg = AnnIndexStore.readPqAssignments(spark, store)
    assert(asg.count() === n)
    assert(asg.select("vec_id").distinct().count() === n)
    val bad = asg.filter(size(col("codes")) =!= AnnIndexStore.PQ_M ||
      exists(col("codes"), c => c < 0 || c >= AnnIndexStore.PQ_KSUB)).count()
    assert(bad === 0, "codes must be PQ_M ints in [0, PQ_KSUB)")
    // replayed committed batch: nothing double-appended
    AnnIndexStore.appendBatchPq(spark,
      quantizedVectors().filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("qv"), col("nq")), store, "even")
    assert(AnnIndexStore.readPqAssignments(spark, store).count() === n)
  }

  test("pq probe is deterministic and returns k ranked neighbors per query") {
    val store = freshStore()
    buildPq(store)
    val a = probePq(store)
    val b = probePq(store)
    assert(a == b, "probe-over-pq-store must be bit-stable")
    assert(a.groupBy(_.getLong(0)).forall(_._2.map(_.getLong(3)) == Seq(1L, 2L, 3L)))
  }

  test("pq shape is a STORE property: (M, KSUB) pinned at codebook " +
    "creation from the conf, later encodes use the recorded shape") {
    val store = freshStore()
    val q = quantizedVectors()
    AnnIndexStore.ensureCodebook(spark,
      q.select(col("vec_id"), col("qv"), col("nq")), store)
    try {
      spark.conf.set(AnnIndexStore.PqMConf, "4")
      spark.conf.set(AnnIndexStore.PqKsubConf, "8")
      AnnIndexStore.ensurePqCodebook(spark,
        q.select(col("vec_id"), col("qv"), col("nq")), store)
    } finally {
      spark.conf.unset(AnnIndexStore.PqMConf)
      spark.conf.unset(AnnIndexStore.PqKsubConf)
    }
    assert(AnnIndexStore.pqParams(spark, store) == ((4, 8)))
    // encode under a DIFFERENT session conf: the store's 4x8 shape wins
    // (an encoder slicing with M=16 against a 4-subspace codebook would
    // mis-index every codeword)
    try {
      spark.conf.set(AnnIndexStore.PqMConf, "16")
      AnnIndexStore.appendBatchPq(spark,
        q.select(col("vec_id"), col("qv"), col("nq")), store, "full")
    } finally spark.conf.unset(AnnIndexStore.PqMConf)
    val asg = AnnIndexStore.readPqAssignments(spark, store)
    val bad = asg.filter(size(col("codes")) =!= 4 ||
      exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad === 0, "codes must be 4 ints in [0, 8) per the store's shape")
    // probe (conf unset) ranks through the recorded shape
    assert(AnnIndexStore.probePq(spark, probes(), source(), store).count() > 0)
  }

  test("pq entry points reject a dim not divisible by PQ_M, fail-fast") {
    // slice-based subspace splitting would silently drop tail positions
    // on a non-divisible dim — both PQ entry points must refuse instead
    val store = freshStore()
    import spark.implicits._
    val oddDim = Seq((1L, Seq.fill(AnnIndexStore.PQ_M + 1)(3L), 27L),
      (2L, Seq.fill(AnnIndexStore.PQ_M + 1)(4L), 48L))
      .toDF("vec_id", "qv", "nq")
    AnnIndexStore.ensureCodebook(spark, oddDim, store)
    val e = intercept[IllegalArgumentException] {
      AnnIndexStore.ensurePqCodebook(spark, oddDim, store)
    }
    assert(e.getMessage.contains("PQ_M"))
    // and the encode path independently (a codebook trained elsewhere
    // must not let a bad batch through)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndexStore.appendBatchPq(spark, oddDim, store, "bad")
    }
    assert(e2.getMessage.contains("PQ_M"))
  }

  test("duplicate vec_id across batches cannot double-count in pq probe") {
    // replay WITHOUT a stable batchId (the failure mode the ADVICE low
    // flags): the same vectors land in the store twice; sum(adot) in
    // probePq would double every duplicate's reconstructed dot without
    // the per-vec_id dedup. Probe output must be identical to the
    // clean store's.
    val store = freshStore()
    buildPq(store)
    val clean = probePq(store)
    AnnIndexStore.appendBatchPq(spark,
      quantizedVectors().filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("qv"), col("nq")), store, "even-dup")
    val n = quantizedVectors().count()
    assert(AnnIndexStore.readPqAssignments(spark, store).count() > n,
      "precondition: the store really does contain duplicates now")
    assert(probePq(store) == clean,
      "probe must be unaffected by duplicated assignments")
  }

  test("conflicting duplicate assignments fail loudly, never partition-dependent") {
    // a vec_id re-ingested with a CHANGED vector (or appended onto a
    // store rebuilt with a different codebook) has non-identical
    // duplicate rows — any silent survivor choice would make probePq
    // partition-dependent. Since r20 (ADVICE r19 low) the INGEST gate
    // catches it, keeping the probe read path narrow
    val store = freshStore()
    buildPq(store)
    val clean = probePq(store)
    val nBefore = AnnIndexStore.readPqAssignments(spark, store).count()
    val e = intercept[IllegalStateException] {
      AnnIndexStore.appendBatchPq(spark,
        quantizedVectors().filter(col("vec_id") % 2 === 0)
          .select(col("vec_id"), expr("reverse(qv)").as("qv"),
            (col("nq") + 1).as("nq")), store, "even-conflict")
    }
    assert(e.getMessage.contains("conflicting duplicate PQ assignments"))
    assert(AnnIndexStore.readPqAssignments(spark, store).count() == nBefore)
    assert(probePq(store) == clean)
    // LEGACY store (conflicts landed before the gate existed): the
    // probe itself still raises for conflicts within probed cells —
    // land conflicting rows for EVERY cell directly as a batch dir
    val conflicted = AnnIndexStore.readPqAssignments(spark, store)
      .select(col("vec_id"), col("cell"), (col("nq") + 1).as("nq"),
        col("codes"))
    graft.operators.ManifestStore.appendAtomic(
      spark, conflicted, s"$store/pq_assign", "batch-legacy-conflict")
    val e2 = intercept[Exception] { probePq(store) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e2).exists(_.contains("conflicting duplicate PQ assignments")),
      s"expected the conflict error, got: ${messages(e2).mkString(" | ")}")
  }

  test("LEGACY PQ store with a CROSS-cell conflict raises at probe " +
    "(full-store validation; the narrowed read never co-probes the copies)") {
    val store = freshStore()
    buildPq(store)
    val asg0 = AnnIndexStore.readPqAssignments(spark, store)
    val ncells = asg0.select(col("cell")).distinct().count()
    assert(ncells > 1, "fixture needs >1 cell for a cross-cell conflict")
    val conflicted = asg0.select(col("vec_id"),
      ((col("cell") + 1) % ncells).cast(asg0.schema("cell").dataType)
        .as("cell"),
      col("nq"), col("codes"))
    graft.operators.ManifestStore.appendAtomic(
      spark, conflicted, s"$store/pq_assign", "batch-legacy-xcell")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e = intercept[Exception] { probePq(store) }
    assert(messages(e).exists(_.contains("conflicting duplicate PQ assignments")),
      s"expected the conflict error, got: ${messages(e).mkString(" | ")}")
  }

  test("pq recall >= raw-IVF recall on q_ann_recall's fixture; store measurably smaller") {
    val store = freshStore()
    buildPq(store)
    // the raw store on the same vectors, for the size comparison
    AnnIndexStore.appendBatch(spark, source(), store, "raw-full")

    // exact top-3 per probe (the same brute-force leg q_ann_recall uses)
    val corpus = quantizedVectors()
      .select(col("vec_id").as("b_id"), col("qv").as("qb"), col("nq").as("nb"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("cosine").desc, col("b_id").asc)
    val exact = corpus.crossJoin(broadcast(probes()))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        expr("round(graft_ldot(qa, qb) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 4)").as("cosine"))
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val pqHits = probePq(store)
      .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains)
    val ivfHits = SparkEntry.queries("q_ann_recall")(spark, sfDir)
      .agg(sum("n_hits")).head().getLong(0)
    assert(pqHits >= ivfHits,
      s"PQ recall ($pqHits/30) must hold the IVF floor ($ivfHits/30)")

    def dirBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum
        finally s.close()
      }
    }
    val rawBytes = dirBytes(store + "/assign")
    val pqBytes = dirBytes(store + "/pq_assign")
    assert(pqBytes > 0 && rawBytes > 0)
    assert(pqBytes * 3 < rawBytes,
      s"pq store must be measurably smaller: pq=$pqBytes raw=$rawBytes")
  }
}
