package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BPE VOCABULARY (r18 — the third persisted-artifact store
  * after [[AnnIndexStore]] and [[InvertedIndexStore]]): a production
  * tokenizer trains once and ships its merge table; the apply side must
  * read the vocabulary, never retrain. The merge table
  * (step, l_tok, r_tok, merged, cnt) lands in parquet write-once
  * (atomic rename, concurrent-trainer safe), and [[applyMerges]]
  * re-tokenizes any corpus under it in ONE narrow pass.
  *
  * r19 (VERDICT r18 #1): the apply pass is the per-row RANK-MAP walk
  * below, not the r18 one-expression chained `replace(...)` fold. That
  * fold was a merges-deep expression tree — fine at 8 merges, but a
  * production 32k-merge vocabulary would blow Janino's 64KB method
  * limit (→ interpreted fallback) and risk analyzer stack overflow,
  * while doing O(merges) full-string passes per row. The walk looks up
  * only the ROW'S adjacent pairs in the broadcast rank map, so the
  * vocabulary contributes nothing to per-row cost beyond the
  * executor-shared lookup table, the plan depth is constant, and the
  * same code serves an 8-merge spec table and a 32k-merge production
  * vocab (SCALING.md "r19: BPE serving path": 0.54 / 0.62 / 0.62 s at
  * 8 / 1024 / 32768 merges over sf0.1 — flat; the first gated-probe
  * cut measured 9.2 s at 32k, the r18 fold could not run at all).
  *
  * Bit-equality: the stored table IS the trainer's output, and
  * [[BpeApply.applyAll]] applies merges in step order where each fired
  * merge is one left-to-right non-overlapping pass over the token
  * array — exactly the semantics of `replace(enc, '(l)(r)', '(lr)')`
  * on the paren encoding (tokens cannot contain parens — the r20
  * pretokenizer remaps literal parens to private-use sentinels before
  * wrapping — so string occurrences of `(l)(r)` are precisely the
  * adjacent token pairs, scanned left-to-right non-overlapping in both
  * representations). The rank-map walk visits exactly the ranks whose
  * pair is adjacent at some point, in increasing order, so gated
  * output == ungated output == the r18 chained replace == the training
  * loop's final corpus (BpeVocabStoreSpec asserts both the 8-merge
  * trainer equality and a 1024-merge driver-replace ground truth;
  * `q_bpe_apply_probe` shares `q_bpe_apply`'s oracle).
  */
object BpeVocabStore {
  import ManifestStore.{appendAtomic, storeExists}

  private def vocabPath(p: String) = p + "/vocab"

  /** Write the merge table once — no-op when one is committed. */
  def ensureVocab(spark: SparkSession,
                  merges: Seq[(Int, String, String, String, Long)],
                  storePath: String): Unit =
    if (!storeExists(spark, vocabPath(storePath))) {
      val df = spark.createDataFrame(merges)
        .toDF("step", "l_tok", "r_tok", "merged", "cnt")
      appendAtomic(spark, df, storePath, "vocab")
    }

  def readVocab(spark: SparkSession, storePath: String): DataFrame =
    spark.read.parquet(vocabPath(storePath))

  def exists(spark: SparkSession, storePath: String): Boolean =
    storeExists(spark, vocabPath(storePath))

  /** Per-(application, vocab-path) broadcast cache: a serving loop
    * calling [[applyMerges]] repeatedly would otherwise register a
    * fresh broadcast of the full merge table per call and never
    * release it (a production table is megabytes). Safe because the
    * vocab is write-once (immutable after its rename), and keyed by
    * applicationId because a broadcast belongs to one SparkContext.
    * Bounded at 64 entries; an evicted entry's broadcast is reclaimed
    * by the ContextCleaner once unreferenced. */
  private val bcCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), org.apache.spark.broadcast.Broadcast[BpeMergeTable]]()

  /** Apply the stored merge table to a paren-encoded corpus
    * (doc_id, enc): one narrow map over the corpus with the merge
    * table BROADCAST (it is vocabulary-sized by contract — the
    * driver-side read is a metadata read, not a data collect), plan
    * depth constant in |merges|. */
  def applyMerges(spark: SparkSession, encoded: DataFrame,
                  storePath: String): DataFrame = {
    val key = (spark.sparkContext.applicationId, vocabPath(storePath))
    var evicting = true
    while (evicting && bcCache.size >= 64 && !bcCache.containsKey(key)) {
      val it = bcCache.keySet.iterator
      if (it.hasNext) { bcCache.remove(it.next()); () }
      else evicting = false
    }
    val bc = bcCache.computeIfAbsent(key, { _ =>
      val merges = readVocab(spark, storePath)
        .orderBy("step")
        .collect()
        .map(r => (r.getString(1), r.getString(2)))
      spark.sparkContext.broadcast(new BpeMergeTable(merges))
    })
    val applyUdf = udf { enc: String => BpeApply.applyEncoded(enc, bc.value) }
    encoded.select(col("doc_id"), applyUdf(col("enc")).as("enc"))
  }
}

/** Broadcast form of a merge table: the step-ordered pair array plus a
  * per-executor lazy RANK MAP `"l r" → sorted ranks` (a pair can recur
  * at a later step if an intermediate merge re-creates one of its
  * tokens — rare, but step-order semantics must survive it). The map
  * is `@transient lazy`: built once per JVM on first use, never
  * serialized with the broadcast. */
private[graft] final class BpeMergeTable(
    val pairs: Array[(String, String)]) extends Serializable {
  @transient lazy val rankOf: java.util.HashMap[String, Array[Int]] = {
    val acc = new java.util.HashMap[String, java.util.ArrayList[Int]]()
    var i = 0
    while (i < pairs.length) {
      val k = pairs(i)._1 + " " + pairs(i)._2
      var l = acc.get(k)
      if (l == null) { l = new java.util.ArrayList[Int](1); acc.put(k, l) }
      l.add(i) // insertion order == step order: already sorted
      i += 1
    }
    val out = new java.util.HashMap[String, Array[Int]](acc.size() * 2)
    acc.forEach((k, v) => out.put(k, v.stream().mapToInt(_.intValue).toArray))
    out
  }
}

/** The per-row BPE apply kernel — plain Scala so the UDF closure stays
  * a thin shim over a unit-testable function. Declared imperative (a
  * stateful multi-pass scan, like the A5b/A5c fixpoint): a Catalyst
  * expression genuinely does not fit a loop whose trip count depends
  * on which merges fire. */
private[graft] object BpeApply {

  /** Apply the merge table in step order to a paren-encoded token
    * string. Equivalent by construction to folding
    * `replace(enc, '(l)(r)', '(lr)')` over the merges (see
    * [[BpeVocabStore]] scaladoc) but with constant plan/stack depth
    * and per-row cost INDEPENDENT of the vocabulary size. */
  def applyEncoded(enc: String, table: BpeMergeTable): String = {
    if (enc == null || enc.length < 2) return enc
    val toks = enc.substring(1, enc.length - 1).split("\\)\\(", -1)
    val out = applyAll(toks, table)
    val sb = new java.lang.StringBuilder(enc.length)
    var i = 0
    while (i < out.length) { sb.append('(').append(out(i)).append(')'); i += 1 }
    sb.toString
  }

  /** Step-order merge application via the RANK-MAP walk (the true
    * vocab-size-independent form — the first r19 cut gate-probed every
    * merge per row, which measured 9.2 s at a 32k-entry table where
    * 8 entries took 0.5 s; this one looks up only the ROW'S pairs):
    *
    *  1. scan the row's adjacent pairs, collect each pair's first
    *     recorded rank into an ordered worklist;
    *  2. pop ranks in increasing order; each pop runs ONE left-to-
    *     right non-overlapping pass for that rank's pair (a no-op if
    *     earlier merges destroyed every occurrence — exactly as that
    *     step no-ops in sequential order);
    *  3. after a pass that changed the row, rescan its pairs and
    *     enqueue each pair's first rank STRICTLY ABOVE the current
    *     one — a newly created occurrence of an already-passed rank
    *     is correctly dead (sequential order passed that step before
    *     the occurrence existed), while a recurring pair's later step
    *     fires via its next recorded rank.
    *
    * Bit-equal to the sequential replace chain on ANY table — no
    * trainer invariant needed. Cost: O(len) map lookups up front plus
    * O(len) per popped rank, pops bounded by pairs ever enqueued;
    * the vocabulary contributes only the executor-shared rank map. */
  def applyAll(toks0: Array[String], table: BpeMergeTable): Array[String] = {
    if (toks0.length < 2 || table.pairs.isEmpty) return toks0
    val rankOf = table.rankOf
    var cur = toks0
    val work = new java.util.TreeSet[Integer]()
    def firstAbove(key: String, floor: Int): Int = {
      val rs = rankOf.get(key)
      if (rs == null) -1
      else {
        var a = 0
        while (a < rs.length && rs(a) <= floor) a += 1
        if (a < rs.length) rs(a) else -1
      }
    }
    def enqueuePairs(floor: Int): Unit = {
      var j = 0
      while (j < cur.length - 1) {
        val r = firstAbove(cur(j) + " " + cur(j + 1), floor)
        if (r >= 0) { work.add(r); () }
        j += 1
      }
    }
    enqueuePairs(-1)
    while (!work.isEmpty && cur.length >= 2) {
      val i = work.pollFirst().intValue
      val l = table.pairs(i)._1
      val r = table.pairs(i)._2
      // one left-to-right non-overlapping pass == one string replace
      val out = new Array[String](cur.length)
      var j = 0
      var n = 0
      var changed = false
      val lr = l + r
      while (j < cur.length) {
        if (j < cur.length - 1 && cur(j) == l && cur(j + 1) == r) {
          out(n) = lr; n += 1; j += 2; changed = true
        } else { out(n) = cur(j); n += 1; j += 1 }
      }
      if (changed) {
        cur = java.util.Arrays.copyOf(out, n)
        enqueuePairs(i)
      }
    }
    cur
  }
}
