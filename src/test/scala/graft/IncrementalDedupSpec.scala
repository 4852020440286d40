package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{IncrementalDedup, ManifestStore}
import org.apache.spark.sql.functions._
import graft.operators.BatchId

/** Incremental cross-batch dedup against a persisted fingerprint store
  * (operators/IncrementalDedup): batch N+1 drops duplicates of batches
  * 1..N touching only the delta and the store — never the corpus. */
class IncrementalDedupSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def liveDirs(store: String): Seq[String] =
    ManifestStore.liveDirs(spark, store, IncrementalDedup.storeKind(store))

  test("batch N+1 drops exact dupes of batches 1..N via the store only") {
    val store = Files.createTempDirectory("graft-dedup-store")
      .resolve("store").toString
    val b1 = docs.filter(col("doc_id") < 200)
    val b2 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
    val b3 = docs.filter(col("doc_id") >= 350)

    val k1 = IncrementalDedup.dedupDelta(spark, b1, store, BatchId("b1")).collect()
    val k2 = IncrementalDedup.dedupDelta(spark, b2, store, BatchId("b2")).collect()
    val k3 = IncrementalDedup.dedupDelta(spark, b3, store, BatchId("b3")).collect()

    // equivalence with a single-pass full-corpus dedup: the union of the
    // three incremental survivor sets must equal min-doc_id-per-fp over
    // the whole corpus (batches are doc_id-ordered, so the global min id
    // of every fp lands in the earliest batch containing it)
    val full = docs
      .select(md5(col("text").cast("binary")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val incr = (k1 ++ k2 ++ k3).map(r => (r.getString(0), r.getLong(1))).toSet
    assert(incr === full)

    // the store holds exactly the admitted fingerprints, no dupes
    val stored = spark.read.option("recursiveFileLookup", "true").parquet(store)
    assert(stored.count() === full.size)
    assert(stored.select("fp").distinct().count() === full.size)

    // idempotence: re-dedup of an already-ingested batch yields nothing
    assert(IncrementalDedup.dedupDelta(spark, b2, store, BatchId("b2-again")).count() === 0)
  }

  test("the store alone governs drops (no corpus recompute involved)") {
    val store = Files.createTempDirectory("graft-dedup-store2")
      .resolve("store").toString
    val delta = docs.filter(col("doc_id") >= 100 && col("doc_id") < 110)
    // plant ONE victim fingerprint in the store by hand, as a batch dir
    // — if dedup consulted anything but the store, this row could not
    // be dropped
    val victimFp = delta.filter(col("doc_id") === 105)
      .select(md5(col("text").cast("binary"))).head().getString(0)
    import spark.implicits._
    Seq((victimFp, 9999L)).toDF("fp", "doc_id")
      .write.parquet(s"$store/batch-planted")
    val kept = IncrementalDedup.dedupDelta(spark, delta, store, BatchId("d1"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(105L))
    assert(kept === (100L until 110L).toSet - 105L)
  }

  test("near-dup store: batch 2 drops near-duplicates of batch 1's RETAINED docs only") {
    val store = Files.createTempDirectory("graft-neardup-store")
      .resolve("store").toString
    import spark.implicits._
    def doc(id: Long, text: String) = (id, text)
    val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
    // b1: 10 and 11 are exact dups (11 drops, only 10's sigs stored);
    // 12 is unrelated
    val b1 = Seq(doc(10, base), doc(11, base),
      doc(12, "completely different words about spark shuffles and parquet files here now"))
      .toDF("doc_id", "text")
    val k1 = operators.IncrementalDedup.dedupDeltaNear(spark, b1, store, BatchId("n1"))
      .collect().map(_.getLong(0)).toSet
    assert(k1 === Set(10L, 12L))
    // b2: 20 is a NEAR-dup of 10 (one word changed → shares bands);
    // 21 is novel; 22+23 are an exact pair unrelated to 21 (22 wins)
    val other = "a totally novel sentence mentioning catalyst optimizer rules and codegen stages in detail"
    val pair = "rivers wind through quiet valleys carrying cold water past tall pines and granite cliffs"
    val b2 = Seq(
      doc(20, base.replace("today", "tonight")),
      doc(21, other),
      doc(22, pair),
      doc(23, pair)).toDF("doc_id", "text")
    val k2 = operators.IncrementalDedup.dedupDeltaNear(spark, b2, store, BatchId("n2"))
      .collect().map(_.getLong(0)).toSet
    assert(!k2.contains(20L), s"near-dup of a retained doc must drop: $k2")
    assert(k2.contains(21L) && k2.contains(22L) && !k2.contains(23L), k2.toString)
    // idempotence: the whole batch is now near-dup of the store
    assert(operators.IncrementalDedup.dedupDeltaNear(spark, b2, store, BatchId("n2-again")).count() === 0)
  }

  test("store appends are atomic: batches land as whole subdirs, crashed staging is invisible") {
    val root = Files.createTempDirectory("graft-atomic-store")
    val store = root.resolve("store").toString
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") < 100), store, BatchId("a1"))
    // simulate a writer that died before its rename: a staging dir next
    // to the store with fingerprints that must NOT affect dedup
    import spark.implicits._
    Seq(("deadbeef", 1L)).toDF("fp", "doc_id")
      .write.parquet(root.resolve(".store-staging-crashed").toString)
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(store).count()
    IncrementalDedup.dedupDelta(
      spark, docs.filter(col("doc_id") >= 100 && col("doc_id") < 200), store, BatchId("a2"))
    val batches = new java.io.File(store).listFiles().filter(_.isDirectory)
    assert(batches.length === 2, batches.mkString(","))
    assert(batches.forall(_.getName.startsWith("batch-")), batches.mkString(","))
    val after = spark.read.option("recursiveFileLookup", "true")
      .parquet(store).count()
    assert(after > before) // second batch landed wholly
  }

  test("compactStore collapses batch dirs; behavior unchanged; superset-at-crash is harmless") {
    val store = Files.createTempDirectory("graft-compact-store")
      .resolve("store").toString
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") < 150), store, BatchId("c1"))
    IncrementalDedup.dedupDelta(
      spark, docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), store, BatchId("c2"))
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") >= 300), store, BatchId("c3"))
    def storeFps() = spark.read.parquet(liveDirs(store): _*)
      .select("fp").distinct().count()
    assert(liveDirs(store).length === 3)
    val fpsBefore = storeFps()
    IncrementalDedup.compactStore(spark, store)
    assert(liveDirs(store).length === 1, liveDirs(store).mkString(","))
    assert(storeFps() === fpsBefore)
    // dedup against the compacted store still drops everything ingested
    assert(IncrementalDedup.dedupDelta(spark, docs, store, BatchId("c4")).count() === 0)
    // crash-superset simulation: compact again but with the old dirs
    // still present (as after a crash between rename and deletes) —
    // duplicate rows in the store must not change dedup decisions
    IncrementalDedup.dedupDelta(spark, docs, store, BatchId("c5")) // no-op, fps all known
    val extra = Files.createTempDirectory("graft-compact-extra")
    spark.read.parquet(liveDirs(store): _*)
      .write.parquet(extra.resolve("dup").toString)
    org.apache.commons.io.FileUtils.copyDirectory(
      extra.resolve("dup").toFile,
      new java.io.File(store, "batch-duplicated"))
    assert(IncrementalDedup.dedupDelta(spark, docs, store, BatchId("c6")).count() === 0)
  }

  test("dedupDeltaNear frees its membership checkpoint once the batch lands") {
    val store = Files.createTempDirectory("graft-neardup-release")
      .resolve("store").toString
    val leaked = persistedBy {
      val kept = IncrementalDedup.dedupDeltaNear(spark,
        docs.filter(col("doc_id") < 100), store, BatchId("m1"))
      assert(kept.count() > 0)
      Checkpoints.release(kept)
    }
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }

  test("q_incr_dedup and q_incr_neardup leave only what their result reads persisted") {
    for (name <- Seq("q_incr_dedup", "q_incr_neardup")) {
      val leaked = persistedBy {
        val r = graft.queries.Pipeline.queries(name)(spark, sfDir)
        assert(r.collect().nonEmpty)
        Checkpoints.release(r)
      }
      assert(leaked.isEmpty, s"$name: still persisted: $leaked")
    }
  }

  test("compactStore frees its snapshot checkpoint once the compacted batch lands") {
    val store = Files.createTempDirectory("graft-compact-release")
      .resolve("store").toString
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") < 200), store, BatchId("r1"))
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") >= 200), store, BatchId("r2"))
    val leaked = persistedBy(IncrementalDedup.compactStore(spark, store))
    assert(liveDirs(store).length == 1)
    assert(leaked.isEmpty, s"still persisted: $leaked")
  }

  test("a batch replayed after compaction returns nothing and writes nothing") {
    val store = Files.createTempDirectory("graft-compact-replay")
      .resolve("store").toString
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") < 150), store, BatchId("c1"))
    IncrementalDedup.dedupDelta(
      spark, docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), store, BatchId("c2"))
    IncrementalDedup.dedupDelta(spark, docs.filter(col("doc_id") >= 300), store, BatchId("c3"))
    IncrementalDedup.compactStore(spark, store)
    def listing() = Files.walk(Paths.get(store)).iterator.asScala.map(_.toString).toSet
    val before = listing()
    // c1's dir was folded into the compacted generation; the manifest
    // still records the id, so the replay is a committed no-op
    val replay = IncrementalDedup.dedupDelta(
      spark, docs.filter(col("doc_id") < 150), store, BatchId("c1"))
    assert(replay.count() === 0)
    assert(replay.columns.toSeq === Seq("fp", "doc_id"))
    assert(listing() === before)
  }

  test("batch ids are checked by the shared replay lookup: '@' is rejected") {
    val store = Files.createTempDirectory("graft-dedup-at")
      .resolve("store").toString
    intercept[IllegalArgumentException](
      IncrementalDedup.dedupDelta(spark, docs, store, BatchId("a@1")))
    intercept[IllegalArgumentException](
      IncrementalDedup.dedupDeltaNear(spark, docs, store, BatchId("a@1")))
    intercept[IllegalArgumentException](
      IncrementalDedup.dedupDelta(spark, docs, store, BatchId("")))
    assert(!new java.io.File(store).exists())
  }

  test("the store protocol lives in ManifestStore alone") {
    // one commit primitive, one existence check and one crash sweep: a
    // second copy would be a second crash-safety story to prove. A
    // recursive read of a store would also pick up its manifest and
    // dirs no manifest generation names live.
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "ManifestStore.scala"),
      s"the walk from ${Paths.get("src/main/scala").toAbsolutePath} found no engine source")
    def text(f: java.nio.file.Path) = new String(Files.readAllBytes(f), "UTF-8")
    for (literal <- Seq("def appendAtomic", "def storeExists", "-staging-")) {
      val users = files.filter(text(_).contains(literal)).map(_.getFileName.toString)
      assert(users == Seq("ManifestStore.scala"), s"'$literal' in $users")
    }
    val recursive = files
      .filter(f => f.getParent.getFileName.toString == "operators")
      .filter(text(_).contains("recursiveFileLookup"))
    assert(recursive.isEmpty, recursive.mkString(", "))
  }

  test("survivors stay valid after the store files are deleted (checkpointed)") {
    val tmp = Files.createTempDirectory("graft-dedup-store3")
    val store = tmp.resolve("store").toString
    val kept = IncrementalDedup.dedupDelta(
      spark, docs.filter(col("doc_id") < 50), store, BatchId("s1"))
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    assert(kept.count() > 0) // plan no longer depends on the store files
  }
}
