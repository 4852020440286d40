package graft.queries

import graft.Checkpoints
import graft.Tables.load
import graft.operators.AnnIndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TokenCountRewrite.tokens

/** Similarity search and near-duplicate detection (driver-mandated
  * extension surface): brute-force cosine top-k, LSH-bucketed ANN (scale
  * path), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Cross-engine determinism strategy: embeddings are quantized to
  * integers (`ROUND(x·1e8) AS BIGINT`, exact in both engines since
  * half-integers are exactly representable doubles), so dot products and
  * norms are exact integer sums — immune to summation order — and the
  * final cosine is one identical double division. MinHash uses min-of-md5
  * *strings* as the hash family (portable, no hex→int casts); SimHash
  * derives bits from md5 hex digits via `instr`.
  *
  * Scale notes: the brute-force side bounds the query set (50 vectors) so
  * the cross join is broadcast × corpus — linear in the corpus, the right
  * baseline shape. The LSH variants (`q_ann_lsh`) bucket-join instead of
  * cross-joining, which is the 100 TB path: candidates share a band
  * bucket, so the shuffle is on short signature keys, never all-pairs.
  *
  * Shared stages — each written once here, so a change to how candidates
  * are built, scored, ranked or clustered lands in one place. Each takes
  * frames that are already built and never loads or checkpoints itself,
  * so every caller keeps its own checkpoint choices:
  *  - [[pairSide]] / [[withVectors]] / [[pairCosine]]: the (a_id, qa, na)
  *    and (b_id, qb, nb) sides of a scored pair, candidates re-attached
  *    to their vectors by key, and the pair's rounded cosine — every
  *    cosine-scored query, AnnIndexStore.probe / probePq included.
  *  - [[rankPairs]]: `rn` by (cosine desc, b_id asc) — q_cosine_topk,
  *    q_ann_lsh, q_ann_lsh_det, q_ann_lsh_probes, q_ann_recall, ivfTop3,
  *    q_contrastive_pairs, q_label_prop(_multi), q_hard_negatives,
  *    q_knn_graph, AnnIndexStore.probe / probePq. [[bruteTopK]] is the
  *    exact broadcast × corpus top-k of q_cosine_topk, q_ann_recall and
  *    q_ann_lsh_probes; [[probeQueries]] the probe vectors 50–59.
  *  - [[rankCells]] (rounded cosine: ivfTop3, AnnIndexStore.assign /
  *    probe / probePq) and [[nearestCellRaw]] (raw cosine: q_kmeans_step,
  *    q_kmeans_multi, q_centroid_outlier, q_cluster_sample): cells ranked
  *    by (ccos desc, c_id asc) against a broadcast codebook; the
  *    [[seedCentroids]] are vec_id < 16.
  *  - Candidates: [[bandPairs32]] (32-plane band self-join: q_knn_graph,
  *    q_label_prop_multi, q_hard_negatives), [[nibbleBands]] (16-bit
  *    nibble bands: q_ann_lsh, q_ann_lsh_det, q_ann_lsh_probes),
  *    [[minhashBands]] / [[bandCollisions]] over [[minhashBlockSigs]]
  *    (q_minhash_dedup, q_minhash_pairs, q_minhash_est, q_dedup_audit,
  *    [[lshBuckets]], Graph.minhashBlockEdges), [[labelBlockedNear]]
  *    (q_embed_neardup, q_semdedup_cluster), [[simhashCandidates]].
  *  - Clustering: [[hashMinLabels]] → [[clusterOf]] (q_dedup_cluster),
  *    with [[pairClusters]] turning verified pairs into 2-member buckets
  *    (q_simhash_cluster, q_semdedup_cluster).
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** embedding → BIGINT-quantized vector + its squared norm. The dot
    * products use the codegen'd `graft_ldot` expression
    * (graft.functions.LongDot) — the interpreted higher-order
    * `aggregate(zip_with(...))` was the similarity bottleneck. */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame = {
    load(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("graft_quantize(embedding, 100000000)").as("qv"))
      .withColumn("nq", expr("graft_ldot(qv, qv)"))
  }

  private[graft] def dotQ(a: String, b: String): Column = expr(s"graft_ldot($a, $b)")


  /** Rounded cosine OUTPUT column. `+ 0` normalizes IEEE signed zero
    * (−0.0 + 0 = +0.0, every other value unchanged): a tiny NEGATIVE
    * cosine rounds to `-0.0` in engines whose ROUND is IEEE-native
    * (DuckDB), while Spark's BigDecimal round emits `+0.0` — numerically
    * equal but hash-distinct, which failed q_knn_graph's driver value-hash
    * in r15 (one near-orthogonal pair in 1493 rows). The oracle SQL twin
    * of every rounded-double output carries the same `+ 0`; the
    * convention is pinned by DeterminismSpec's negative-zero canary and
    * OracleSqlSpec's source guard. */
  private[graft] def cosine(dq: Column, na: Column, nb: Column): Column =
    round(dq.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))), 4) + lit(0d)

  /** One side of a scored pair: (a_id, qa, na, a_<c>…) for `side` "a",
    * (b_id, qb, nb, b_<c>…) for "b", the `carry` columns renamed alike. */
  private[graft] def pairSide(q: DataFrame, side: String, carry: String*): DataFrame =
    q.select((Seq(col("vec_id").as(s"${side}_id"), col("qv").as(s"q$side"),
      col("nq").as(s"n$side")) ++ carry.map(c => col(c).as(s"${side}_$c"))): _*)

  /** The rounded cosine of a pair whose sides are [[pairSide]]s. */
  private[graft] def pairCosine: Column =
    cosine(dotQ("qa", "qb"), col("na"), col("nb")).as("cosine")

  /** Payload-free (a_id, b_id, …) candidates with both sides' vectors
    * re-attached by keyed equi-join AFTER the candidate dedup: candidate
    * shuffles move 16-byte id pairs, not 0.5 KB quantized vectors. */
  private def withVectors(cands: DataFrame, q: DataFrame, carry: String*): DataFrame =
    cands.join(pairSide(q, "a", carry: _*), "a_id")
      .join(pairSide(q, "b", carry: _*), "b_id")

  /** Pair ranking: `rn` numbers each `by` partition's pairs by (cosine
    * desc, b_id asc) — the engine's one top-k tie-break, which the
    * oracles' `ORDER BY cosine DESC, b_id ASC` windows mirror. */
  private[graft] def rankPairs(pairs: DataFrame, by: Column*): DataFrame =
    pairs.withColumn("rn", row_number().over(
      Window.partitionBy(by: _*).orderBy(col("cosine").desc, col("b_id").asc)))

  /** Exact top-`k` (a_id, b_id, cosine, rn) of a bounded query set (a
    * [[pairSide]] "a") over the whole corpus: the query side broadcasts,
    * so the cross join is linear in the corpus; self-pairs are excluded. */
  private def bruteTopK(queries: DataFrame, q: DataFrame, k: Int): DataFrame =
    rankPairs(pairSide(q, "b").crossJoin(broadcast(queries))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"), pairCosine), col("a_id"))
      .filter(col("rn") <= k)

  /** The ANN audit's probe vectors, vec_id 50–59, as a [[pairSide]] "a". */
  private def probeQueries(q: DataFrame): DataFrame =
    pairSide(q.filter(col("vec_id") >= 50 && col("vec_id") < 60), "a")

  /** The seed codebook (c_id, qc, nc): vectors with vec_id < 16. */
  private def seedCentroids(q: DataFrame): DataFrame =
    q.filter(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("qv").as("qc"), col("nq").as("nc"))

  /** Cell ranking by ROUNDED cosine — the IVF convention shared by
    * ivfTop3 and AnnIndexStore's assign / probe / probePq, so the stored
    * index answers bit-identically to the recompute: every row of `vecs`
    * meets the broadcast codebook `cents` (c_id, qc, nc), is projected to
    * `cols` plus `ccos` = cosine of vector column `v` (norm `n`) against
    * `qc`, and `crn` numbers the cells per `key` by (ccos desc, c_id asc). */
  private[graft] def rankCells(vecs: DataFrame, cents: DataFrame, key: String,
                               v: String, n: String, cols: Column*): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(cols :+ cosine(dotQ(v, "qc"), col(n), col("nc")).as("ccos"): _*)
      .withColumn("crn", row_number().over(Window.partitionBy(col(key))
        .orderBy(col("ccos").desc, col("c_id").asc)))

  /** Nearest cell by RAW cosine — the k-means family's assignment
    * (q_kmeans_step, q_kmeans_multi, q_centroid_outlier,
    * q_cluster_sample): one (v_id, c_id, carry…, ccos) row per vector of
    * `q` against the broadcast codebook `cents`, ties to the lower c_id.
    * The key is unrounded on purpose: it only orders, and the quotient of
    * identical integer dot/norms is bit-identical IEEE math in both
    * engines — round() would reintroduce the Spark-vs-DuckDB
    * boundary-rounding risk for zero benefit. */
  private def nearestCellRaw(q: DataFrame, cents: DataFrame, carry: Column*): DataFrame =
    q.crossJoin(broadcast(cents))
      .select((Seq(col("vec_id").as("v_id"), col("c_id")) ++ carry :+
        (dotQ("qv", "qc").cast("double") /
          (sqrt(col("nq").cast("double")) * sqrt(col("nc").cast("double"))))
          .as("ccos")): _*)
      .withColumn("crn", row_number().over(Window.partitionBy(col("v_id"))
        .orderBy(col("ccos").desc, col("c_id").asc)))
      .filter(col("crn") === 1)

  /** (vec_id, band, bv) rows of the 32-plane md5-parity LSH signature
    * split into 4×8-bit bands (256 buckets per band). The signature is
    * the codegen'd row-local fold `graft_lshsig_md5`
    * (functions.LshSigMd5) — the interpreted zip_with/aggregate fold it
    * replaced was evaluated on BOTH sides of the candidate self-join and
    * dominated q_knn_graph (3.7 s → 0.8 s at sf0.1). Band rows carry
    * ONLY the id; vectors re-attach through [[withVectors]]. */
  private def lshBandRows32(q: DataFrame): DataFrame =
    q.select(col("vec_id"), expr("graft_lshsig_md5(qv, 32)").as("sig"))
      .select(col("vec_id"),
        explode(expr("transform(sequence(0, 3), b -> named_struct(" +
          "'band', b, 'bv', shiftright(sig, b * 8) % 256))")).as("bn"))
      .select(col("vec_id"), col("bn.band").as("band"), col("bn.bv").as("bv"))

  /** Corpus-wide 32-plane band-collision pairs (a_id ≠ b_id), deduped
    * payload-free: every vector a source, never all-pairs. */
  private def bandPairs32(q: DataFrame): DataFrame = {
    val bl = lshBandRows32(q)
    bl.as("a").join(bl.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
  }

  /** The 16-bit signature `sig` of each (vec_id, carry…, sig) row split
    * into four 4-bit bands: (vec_id, carry…, band, nibble). */
  private def nibbleBands(sigs: DataFrame, carry: String*): DataFrame = {
    val keep = col("vec_id") +: carry.map(col)
    sigs.select(keep :+ explode(expr("transform(sequence(0, 3), b -> named_struct(" +
        "'band', b, 'nibble', shiftright(sig, b * 4) % 16))")).as("bn"): _*)
      .select(keep ++ Seq(col("bn.band").as("band"), col("bn.nibble").as("nibble")): _*)
  }

  /** Label-blocked embedding near-dup pairs: same label, a_id < b_id,
    * cosine >= 0.35 (block-local pairs instead of all-pairs). Projects
    * `out` plus the pair's cosine. */
  private def labelBlockedNear(q: DataFrame, out: Column*): DataFrame = {
    val a = q.select(col("label").as("la"), col("vec_id").as("a_id"),
      col("qv").as("qa"), col("nq").as("na"))
    val b = q.select(col("label").as("lb"), col("vec_id").as("b_id"),
      col("qv").as("qb"), col("nq").as("nb"))
    a.join(b, col("la") === col("lb") && col("a_id") < col("b_id"))
      .select(out :+ pairCosine: _*)
      .filter(col("cosine") >= 0.35)
  }

  /** (a_id, b_id, est_bp, jac_bp) over the doc_id < 100 banded
    * candidate set — the 8-hash minhash ESTIMATE next to the exact
    * Jaccard, ONE definition shared by q_minhash_est and
    * q_dedup_audit (the audit must score exactly the frame the
    * estimate query reports). */
  private def minhashEstFrame(s: SparkSession, d: String): DataFrame = {
    val dw = docWords(s, d).filter(col("doc_id") < 100)
    val sigs = minhashBlockSigs(s, d)
    val cand = bandCollisions(sigs).select(col("a_id"), col("b_id")).distinct()
    val sa = sigs.select((col("doc_id").as("a_id") +:
      (0 until 8).map(i => col(s"m$i").as(s"a$i"))): _*)
    val sb = sigs.select((col("doc_id").as("b_id") +:
      (0 until 8).map(i => col(s"m$i").as(s"b$i"))): _*)
    val est = cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("est_bp", expr(s"CAST(10000 * (${(0 until 8)
        .map(i => s"IF(a$i = b$i, 1, 0)").mkString(" + ")}) DIV 8 AS BIGINT)"))
      .select(col("a_id"), col("b_id"), col("est_bp"))
    exactJaccardBp(est, dw)
      .select(col("a_id"), col("b_id"), col("est_bp"), col("jac_bp"))
  }

  /** distinct (doc_id, word) pairs of the corpus. Dedup is row-local
    * (`array_distinct` before the explode) — no corpus-wide shuffle. */
  private def docWords(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .select(col("doc_id"), explode(expr(s"array_distinct($tokens)")).as("word"))

  /** Per-document 8-hash MinHash signature over space-joined `gramN`-
    * grams of the whitespace tokens. The md5(i|gram) family is a pure
    * function of (i, gram), so the whole signature is ROW-LOCAL — r21
    * (guide §2.4): the r1–r20 form exploded every (doc, gram) row into
    * 8 codegen'd md5 columns and shuffled them through a groupBy(doc_id)
    * 8-way min aggregate; `graft_minhash8` (functions.TextExprs) folds
    * the identical hash family per document in one pass, so the
    * corpus-wide shuffle for signature construction DISAPPEARS
    * (measured: lshBuckets 1.9 s → row-local at sf0.1; at 100 TB the
    * saved exchange is |grams| rows). Min over the gram multiset equals
    * min over the distinct set, so skipping the exploded form's
    * array_distinct changes nothing; docs with no gram yield NULL and
    * are dropped, matching the exploded form's absence of rows
    * (TextExprsSpec pins signature equality for n = 1 and n = 4).
    * Takes the (doc_id, toks) frame of [[docToks]]. */
  private def minhashSigsLocal(toks: DataFrame, gramN: Int): DataFrame = {
    toks.select(col("doc_id"), expr(s"graft_minhash8(toks, $gramN)").as("ms"))
      .filter(col("ms").isNotNull)
      .select((col("doc_id") +: (0 until 8).map(i =>
        element_at(col("ms"), i + 1).as(s"m$i"))): _*)
  }

  /** (doc_id, toks): the whitespace tokens of each document's text. */
  private def docToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(tokens).as("toks"))

  /** 4 bands of 2 minhashes → per-band order-insensitive md5 signature. */
  private val bandSig: Seq[Column] = (0 until 4).map(b =>
    struct(lit(b).as("band"),
      md5(concat(least(col(s"m${2 * b}"), col(s"m${2 * b + 1}")),
        greatest(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))).cast("binary")).as("sig")))

  /** (doc_id, band, sig) rows of a [[minhashSigsLocal]] frame. */
  private def minhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(array(bandSig: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** Unigram minhash signatures of the doc_id < 100 block — the bounded
    * block whose band pairs the oracled minhash and graph queries share. */
  private[graft] def minhashBlockSigs(s: SparkSession, d: String): DataFrame =
    minhashSigsLocal(docToks(load(s, d, "documents").filter(col("doc_id") < 100)), 1)

  /** Band-bucket collisions of a signature frame: one (band, sig, a_id,
    * b_id) row per band two docs share, a_id < b_id. */
  private[graft] def bandCollisions(sigs: DataFrame): DataFrame = {
    val bands = minhashBands(sigs)
    bands.select(col("doc_id").as("a_id"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("b_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
  }

  /** distinct 4-token shingles per document — the near-dup unit
    * (unigram sets merge the whole corpus into one component). */
  def fourGramShingles(docs: DataFrame): DataFrame = {
    docs
      .withColumn("toks", expr(tokens))
      .select(col("doc_id"),
        explode(expr(Shingles.fourGramSql(distinct = true))).as("word"))
  }

  /** Verified SimHash band candidates `(a_id, b_id, hamming)` of
    * q_simhash_pairs and q_simhash_cluster (a shared stage, see the
    * object scaladoc). Signature is the codegen'd row-local
    * `graft_simhash` fold (functions.SimHash64); NULL (shingle-less)
    * docs are excluded exactly like the SQL formulation's absence of
    * rows.
    *
    * Banding is MULTI-PROBE over FOUR 16-bit bands (VERDICT r16 #2:
    * the r16 8×8-bit banding guaranteed recall to Hamming 7 but at
    * n/256 expected bucket occupancy — a ~n²/256 candidate envelope,
    * quadratic-at-fixed-conf and a scale-killer at 100×). Each doc's
    * PROBE side emits, per band, the exact 16-bit value plus its 16
    * one-bit flips (17 keys); the ANCHOR side emits the exact value
    * only. A probe key equals an anchor key iff that band differs in
    * AT MOST ONE bit, so the candidate set is exactly "pairs with
    * some band at Hamming ≤ 1" — and recall stays GUARANTEED through
    * the is_near ≤ 6 threshold by pigeonhole over per-band error
    * budgets: total Hamming ≤ 7 over 4 bands forces some band ≤ 1
    * (4 × 2 = 8 > 7), and that band's probe hits the anchor
    * (HammingBandRecallSpec proves this from the geometry, not from
    * data). Expected bucket occupancy is n/65536 per band; candidates
    * ~ 4 × 17 × n²/65536 ≈ n²/964 — 3.8× below the 8×8 envelope at
    * equal recall, and the envelope now scales with the 16-bit key
    * space instead of 8-bit. One probe direction suffices: XOR is
    * symmetric, so x.probe = y.anchor iff y.probe = x.anchor, and the
    * a_id < b_id join predicate picks the single surviving direction.
    * The exact 64-bit Hamming distance then verifies each candidate
    * via bit_count(xor) on the four full elements. */
  /** Pre-checkpoint signature frame (doc_id, hb0..hb3) — exposed
    * private[graft] so PlanSpec can assert the row-local `graft_simhash`
    * fold on the subtree the checkpoint otherwise hides behind a
    * `Scan ExistingRDD` in the consuming queries' plans. */
  private[graft] def simhashBandsFrame(s: SparkSession, d: String): DataFrame = {
    load(s, d, "documents")
      .select(col("doc_id"), expr("graft_simhash(text)").as("hb"))
      .filter(col("hb").isNotNull)
      .select((col("doc_id") +:
        (0 until 4).map(b => element_at(col("hb"), b + 1).as(s"hb$b"))): _*)
  }

  private def simhashCandidates(s: SparkSession, d: String): DataFrame = {
    // r21 (guide §5): this frame feeds FOUR consumers (probe explode,
    // anchor side, and both signature re-attach sides), each of which
    // re-ran the per-doc shingle simhash fold — eager-checkpoint the
    // signatures once
    val bands = graft.Checkpoints.ckpt(simhashBandsFrame(s, d))
    // anchor: one exact 16-bit band value per (doc, band)
    val anchor = bands.select(col("doc_id"),
        posexplode(array((0 until 4).map(b => col(s"hb$b")): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bv"))
    // probe: the exact value plus its 16 one-bit flips
    val probe = anchor.select(col("doc_id"), col("band"),
      explode(expr("transform(sequence(0, 16), k -> " +
        "IF(k = 0, bv, bv ^ shiftleft(CAST(1 AS BIGINT), k - 1)))")).as("bv"))
    val cand = probe.as("a").join(anchor.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id")).distinct()
    val sa = bands.select((col("doc_id").as("a_id") +:
      (0 until 4).map(b => col(s"hb$b").as(s"a$b"))): _*)
    val sb = bands.select((col("doc_id").as("b_id") +:
      (0 until 4).map(b => col(s"hb$b").as(s"b$b"))): _*)
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("hamming",
        expr((0 until 4).map(b => s"bit_count(a$b ^ b$b)").mkString(" + ")).cast("long"))
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** (doc_id, bucket) LSH band-bucket membership over 4-gram shingles,
    * computed row-locally from the docs frame (r21 — see
    * [[minhashSigsLocal]]): signature construction shuffles NOTHING;
    * the band explode and bucket concat stay row-local too, so the
    * first exchange in the dedup family is the CC loop's own. */
  def lshBuckets(docs: DataFrame): DataFrame = lshBucketsFromToks(docToks(docs))

  /** [[lshBuckets]] over a PRE-TOKENIZED (doc_id, toks) frame — r22
    * (guide §2.4 do-fewer-passes): q_pipeline_e2e already checkpoints
    * the tokenized corpus for its quality/decontamination stages, so
    * the near-dup stage must not re-read and re-tokenize raw text. */
  private[graft] def lshBucketsFromToks(toks: DataFrame): DataFrame =
    minhashBands(minhashSigsLocal(toks, 4))
      .select(col("doc_id"),
        concat(col("band").cast("string"), lit("|"), col("sig")).as("bucket"))

  /** The minhash-LSH dedup-cluster label frame (doc_id, lbl) — shared
    * kernel of q_dedup_cluster and q_dedup_survivor. */
  private def dedupLabels(s: SparkSession, d: String): DataFrame = {
    val docs = load(s, d, "documents")
    hashMinLabels(lshBuckets(docs), docs)
  }

  /** Hash-min label propagation over the BIPARTITE doc–bucket graph:
    * a hot bucket of k docs costs k rows per iteration, never k² pairs —
    * the MapReduce-CC shape that survives skewed buckets at 100 TB.
    * `docIds` is one row per doc (bucketless docs stay singletons).
    * Returns (doc_id, lbl) with lbl = component-minimum doc_id.
    * The hops run under Checkpoints.iterate (reliable checkpoints when
    * spark.graft.checkpointDir is set) so lineage stays flat; hash-min
    * labels only ever DECREASE, so the exact-decimal label sum strictly
    * decreases until the fixpoint — convergence is a metric each hop's
    * checkpoint observes, not a prev-vs-next join or a job of its own. */
  def hashMinLabels(memb0: DataFrame, docIds: DataFrame): DataFrame = {
    // Measured and rejected (bench, sf0.1): (a) pre-filtering to the
    // collision subgraph (buckets with ≥2 docs) and (b) keeping two
    // copies of the membership co-partitioned by doc and by bucket both
    // SLOWED the loop ~30-50% here — this corpus is near-dup-dense, so
    // nearly every doc collides and the extra materializations buy
    // nothing. On a sparse production corpus (a) becomes attractive;
    // it is a one-line pre-filter on memb0 if profiling shows the
    // singleton population dominating.
    val membC = Checkpoints.ckpt(memb0)
    // lazy ckpt (r21): the prevSum aggregate below is the single next
    // consumer and materializes the blocks in its own pass; membC above
    // stays EAGER — the hop reads it through two concurrent join
    // branches, which under a lazy checkpoint raced to recompute the
    // shingle/minhash upstream (measured 2.1 s → 3.2 s)
    val labels0 = Checkpoints.ckptLazy(
      docIds.select(col("doc_id"), col("doc_id").as("lbl")),
      soleConsumer = "lblSum(labels0) — the pre-loop convergence sum")
    // sum over an EMPTY doc set is NULL — map it to zero so a fully
    // filtered-out corpus (possible upstream of q_pipeline_e2e's gates)
    // converges immediately instead of NPE-ing on compareTo
    val lblSum = coalesce(sum(col("lbl").cast("decimal(38,0)")), lit(0))
    var prevSum = labels0.agg(lblSum).head().getDecimal(0)
    // diameter bound: a 64-hop chain of DISTINCT band collisions is
    // pathological for near-dup graphs; hitting it unconverged FAILS
    // LOUDLY — a silently truncated clustering would diverge from the
    // oracle's unbounded closure while looking exact. The returned round
    // is materialized and reads only its own blocks, so membC is freed
    // either way the loop ends.
    try Checkpoints.iterate(labels0, maxRounds = 64, name = "hashMinLabels") { labels =>
      val bucketMin = membC.join(labels, "doc_id")
        .groupBy(col("bucket")).agg(min(col("lbl")).as("bl"))
      val docMin = membC.join(bucketMin, "bucket")
        .groupBy(col("doc_id")).agg(min(col("bl")).as("nl"))
      labels.join(docMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
    }(lblSum) { observed =>
      val prev = prevSum
      prevSum = observed.asInstanceOf[java.math.BigDecimal]
      prevSum.compareTo(prev) == 0
    } finally Checkpoints.release(membC)
  }

  /** (doc_id, cluster, is_canon) of hash-min labels: the cluster is the
    * component-minimum doc_id, which is also its canonical member. */
  private def clusterOf(labels: DataFrame): DataFrame =
    labels.select(col("doc_id"), col("lbl").as("cluster"),
      (col("doc_id") === col("lbl")).as("is_canon"))

  /** [[clusterOf]] the connected components of verified (a_id, b_id)
    * pairs over the `ids` doc set: each pair is a 2-member bucket of the
    * bipartite [[hashMinLabels]] graph, so a hop costs |pairs| rows.
    * Both memberships of a pair-bucket come out of ONE pass (r21, guide
    * §2.4) — a union of two selects of `pairs` re-ran the candidate-pair
    * subtree per branch. */
  private def pairClusters(pairs: DataFrame, ids: DataFrame): DataFrame = {
    val memb = pairs
      .select(concat(col("a_id").cast("string"), lit("|"), col("b_id").cast("string"))
        .as("bucket"), explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .select(col("doc_id"), col("bucket"))
    clusterOf(hashMinLabels(memb, ids))
  }

  /** Exact Jaccard in basis points for candidate (a_id, b_id) pairs,
    * verified via row-local segment intersects: each pair carries both
    * docs' token arrays ONE HASH SEGMENT at a time and sums
    * `size(array_intersect)` over segments (never a pair × token
    * re-explode — that formulation multiplied candidates by the token
    * count). Hash segmenting (`seg = pmod(xxhash64(word), S)`) makes
    * the decomposition exact — a token lands in the same segment on
    * both sides, so Σ_s |A_s ∩ B_s| = |A ∩ B| — while bounding every
    * aggregation buffer and every carried array at ~n/S tokens instead
    * of a whole document (the per-DOC buffer class flagged on the
    * pre-r14 q_substring_strip: a 16 MB body is ~3 M tokens in one
    * row otherwise). S defaults to 16; a 100 TB corpus with larger
    * bodies raises `spark.graft.jaccard.segments` to keep n/S bounded.
    *
    * Token arrays are built ONLY for docs that appear in a candidate
    * pair (semi-join on the candidate id set): candidates are a
    * vanishing fraction of the corpus under prefix filtering / band
    * collision, so aggregating every doc's array — as the pre-r14
    * version did — was corpus-scaled work for candidate-scaled output.
    * `cands` is checkpointed because the rewrite references it three
    * times (id set, intersect spine, passthrough) and its upstream
    * (windowed prefix ranks / band joins) must not re-run per use.
    * Extra candidate columns pass through. Shared by q_simjoin's
    * verify stage and q_minhash_est's audit so the Jaccard-bp
    * convention lives in one place. */
  private def exactJaccardBp(cands: DataFrame, tokens: DataFrame): DataFrame = {
    val segments = tokens.sparkSession.conf
      .getOption("spark.graft.jaccard.segments").map { v =>
        val n = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.jaccard.segments must be a positive int, got '$v'")
        }
        require(n >= 1,
          s"spark.graft.jaccard.segments must be >= 1, got $n " +
            "(0 would divide by zero in the segment pmod)")
        n
      }.getOrElse(16)
    val c = graft.Checkpoints.ckpt(cands)
    // no .distinct(): left_semi ignores duplicate build rows, so the
    // dedup shuffle would be pure overhead
    val ids = c.select(col("a_id").as("doc_id"))
      .union(c.select(col("b_id").as("doc_id")))
    val segArr = tokens.join(ids, Seq("doc_id"), "left_semi")
      .withColumn("seg", pmod(xxhash64(col("word")), lit(segments.toLong)))
      .groupBy(col("doc_id"), col("seg"))
      .agg(collect_list(col("word")).as("toks"), count(lit(1)).as("sn"))
    val n = segArr.groupBy(col("doc_id")).agg(sum(col("sn")).as("n"))
    // inner join on (b_id, seg): a segment held by only one side
    // contributes 0 to the intersection and drops out here; pairs
    // sharing NO segment at all rejoin with inter = 0 below.
    val inter = c.select(col("a_id"), col("b_id"))
      .join(segArr.select(col("doc_id").as("a_id"), col("seg"),
        col("toks").as("ta")), "a_id")
      .join(segArr.select(col("doc_id").as("b_id"), col("seg"),
        col("toks").as("tb")), Seq("b_id", "seg"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(expr("size(array_intersect(ta, tb))")).as("inter"))
    c.join(inter, Seq("a_id", "b_id"), "left")
      .join(n.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(n.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("jac_bp", expr("inter * 10000 DIV (na + nb - inter)"))
      .drop("na", "nb")
  }

  /** q_ann_ivf's pipeline: broadcast-codebook assignment, top-2 probe,
    * exact re-rank — (a_id, b_id, cosine, rn≤3). Shared with the recall
    * audit. */
  private def ivfTop3(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val ranked = rankCells(q, seedCentroids(q), "v_id", "qv", "nq",
      col("vec_id").as("v_id"), col("c_id"), col("qv"), col("nq"))
    val assign = ranked.filter(col("crn") === 1)
      .select(col("v_id").as("b_id"), col("c_id").as("cell"),
        col("qv").as("qb"), col("nq").as("nb"))
    val probes = ranked.filter(col("crn") <= 2 &&
        col("v_id") >= 50 && col("v_id") < 60)
      .select(col("v_id").as("a_id"), col("c_id").as("pcell"),
        col("qv").as("qa"), col("nq").as("na"))
    rankPairs(probes.join(assign, col("pcell") === col("cell") && col("a_id") =!= col("b_id"))
        .dropDuplicates("a_id", "b_id")
        .select(col("a_id"), col("b_id"), pairCosine), col("a_id"))
      .filter(col("rn") <= 3)
      .select(col("a_id"), col("b_id"), col("cosine"), col("rn").cast("long").as("rn"))
  }

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-k: 50 query vectors × full corpus. The
    // query side is broadcast; per-pair cost is one codegen'd integer
    // fold over 64 elements.
    "q_cosine_topk" -> ((s, d) => {
      val q = quantized(s, d)
      bruteTopK(pairSide(q.filter(col("vec_id") < 50), "a"), q, 3)
        .select(col("a_id"), col("b_id"), col("cosine"), col("rn").cast("long").as("rn"))
        .orderBy("a_id", "rn")
    }),

    // INT8 SCALAR QUANTIZATION of the embedding corpus — the
    // storage/serving compression step of an embedding pipeline
    // (codebook-free counterpart of AnnIndexStore's IVF-PQ): global
    // [gmin, gmax] over all dimensions from ONE 2-scalar aggregate
    // (broadcast back), each dimension mapped to its 0..255 code, then
    // dequantized, and the per-vector squared reconstruction error
    // reported EXACTLY in the 1e8-quantized integer domain (integer
    // codes and integer error — no float rounding to diverge between
    // engines). Row-local map + scalar broadcast — corpus-linear, zero
    // data-scaled shuffles. int64 envelope: per-dim |err| ≤
    // span/255 ≲ 2e6 at unit-scale embeddings ⇒ Σerr² ≲ 64·4e12 ≈
    // 2.6e14 ≪ 2⁶³.
    "q_quantize_embed" -> ((s, d) => {
      val q = quantized(s, d)
      val scal = q.agg(min(expr("array_min(qv)")).as("gmin"),
        max(expr("array_max(qv)")).as("gmax"))
      q.crossJoin(broadcast(scal))
        .withColumn("span", expr("greatest(gmax - gmin, 1L)"))
        .withColumn("q8", expr("transform(qv, x -> ((x - gmin) * 255) DIV span)"))
        .withColumn("sse", expr(
          "aggregate(zip_with(qv, q8, (x, c) -> x - (gmin + (c * span) DIV 255))," +
            " 0L, (a, e) -> a + e * e)"))
        .select(col("vec_id"),
          md5(expr("array_join(transform(q8, x -> CAST(x AS STRING)), ',')")
            .cast("binary")).as("q8_md5"),
          col("sse"))
        .orderBy("vec_id")
    }),

    // Embedding-cosine near-dup, blocked by label (block-local pairs
    // instead of all-pairs — the blocked-dedup shape that scales).
    "q_embed_neardup" -> ((s, d) =>
      labelBlockedNear(quantized(s, d),
        col("la").cast("long").as("label"), col("a_id"), col("b_id"))
        .orderBy("a_id", "b_id")),

    // ANN via sign-random-projection LSH: 16 pseudo-random hyperplanes
    // (splitmix64-derived weights, precomputed driver-side and closed
    // over by a primitive-loop UDF — deterministic, Spark-side only, so
    // no SQL oracle; SimilaritySpec asserts recall vs brute force).
    // Candidates = pairs sharing any 4-bit band of the 16-bit signature;
    // exact cosine only on candidates. This is the 100 TB path: the join
    // is on (band, nibble) buckets, never all-pairs.
    // MULTI-PROBE (VERDICT r17 #4, the trick proven on the simhash
    // family in HammingBandRecallSpec): each QUERY band also probes its
    // 4 Hamming-1 neighbor nibbles (5 keys/band, 20 total), so any pair
    // whose 16-bit signatures differ by ≤ 7 bits is GUARANTEED a
    // candidate (pigeonhole: ≤ 7 errors over 4 bands leave a band with
    // ≤ 1, and that band's probe set covers it — LshMultiProbeSpec).
    // Cost model at 100 TB: the corpus index is UNCHANGED (one key per
    // band — the probe expansion rides the small query side), candidate
    // volume is bounded by 5× the single-probe bucket occupancy, and
    // recall strictly improves at the same index (SimilaritySpec).
    "q_ann_lsh" -> ((s, d) => {
      // graft_lshsig: codegen'd 16-hyperplane signature (VERDICT r2 #4
      // closed — the last interpreted UDF in an ANN hot path)
      val q = quantized(s, d).withColumn("sig", expr("graft_lshsig(qv)"))
      // candidate stage carries KEYS ONLY (vec ids, band, nibble) — the
      // multi-probe fan-out would otherwise shuffle ~3.4× the vector
      // payload through the pair dedup; payloads join back AFTER the
      // distinct, on the (much smaller) deduped pair set
      val bands = nibbleBands(q)
      val left = bands.filter(col("vec_id") < 50)
        .select(col("band").as("xband"), col("vec_id").as("a_id"),
          explode(expr("transform(sequence(0, 4), i -> CASE WHEN i = 0" +
            " THEN nibble ELSE nibble ^ shiftleft(CAST(1 AS BIGINT), i - 1)" +
            " END)")).as("xnibble"))
      val cands = left.join(bands,
          col("xband") === col("band") && col("xnibble") === col("nibble") &&
            col("a_id") =!= col("vec_id"))
        .select(col("a_id"), col("vec_id").as("b_id"))
        .distinct()
      rankPairs(withVectors(cands, q).select(col("a_id"), col("b_id"), pairCosine),
          col("a_id"))
        .filter(col("rn") <= 3)
        .orderBy("a_id", "rn")
    }),

    // ANN via IVF (inverted file): the first 16 vectors act as the
    // coarse codebook; every vector is assigned to its nearest cell,
    // queries probe their top-2 cells, and exact cosine re-ranks only
    // the probed cells' members. At scale the assignment is one
    // broadcast pass and the candidate join shuffles on cell ids —
    // corpus-quadratic work never happens. Fully oracled: assignment
    // and re-rank both use the exact integer dot machinery.
    "q_ann_ivf" -> ((s, d) => ivfTop3(s, d).orderBy("a_id", "rn")),

    // PERSISTED incremental ANN index (operators.AnnIndexStore): same
    // IVF semantics as q_ann_ivf, but codebook + assignments live in a
    // parquet store (fingerprint-store pattern) built lazily on first
    // call — probes READ the index instead of recomputing assignment,
    // and ingest deltas extend it per batch (replay-idempotent).
    // Output is bit-identical to q_ann_ivf by construction (shared
    // cosine/tie-break conventions), so it shares q_ann_ivf's oracle —
    // the store round-trip itself is under hash-oracle coverage.
    "q_ann_index_probe" -> ((s, d) => {
      val q = quantized(s, d)
      val store = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_ann_index",
        graft.Tables.dataFingerprint(s, d, Seq("embeddings"))).toString
      // candidates = EXACTLY ivfTop3's vec_id < 16 init (not "first 16
      // by order": with a gap or offset in the id space the two would
      // pick different centroids and the shared q_ann_ivf oracle would
      // diverge); the store's cell-count property then takes all of
      // them at the default 16
      AnnIndexStore.ensureCodebook(s,
        q.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("qv"), col("nq")), store)
      AnnIndexStore.appendBatch(s,
        q.select(col("vec_id"), col("qv"), col("nq")), store, "full")
      AnnIndexStore.probe(s, probeQueries(q), store).orderBy("a_id", "rn")
    }),

    // ANN probe over the COMPACTED index store (r20 — puts VERDICT
    // r19 #1's manifest-generation read path under the hash oracle,
    // the q_bm25_probe_compacted discipline): three incremental
    // ingest batches, one compaction (snapshot + atomic manifest
    // swap, absorbed batch ids recorded as replay rows), then the
    // probe reads generation 1. Re-runs are deterministic end-to-end:
    // the ingests replay as no-ops (stable batch ids; absorbed ids
    // answer committed from the manifest) and compact() no-ops once
    // one live dir remains. Output is bit-equal to q_ann_ivf by the
    // probe's shared cosine/tie-break conventions plus compaction's
    // row-for-row snapshot — SHARES q_ann_ivf's oracle.
    "q_ann_probe_compacted" -> ((s, d) => {
      val q = quantized(s, d)
      val store = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_ann_index_cmp",
        graft.Tables.dataFingerprint(s, d, Seq("embeddings"))).toString
      AnnIndexStore.ensureCodebook(s,
        q.filter(col("vec_id") < 16)
          .select(col("vec_id"), col("qv"), col("nq")), store)
      (0 to 2).foreach { i =>
        AnnIndexStore.appendBatch(s,
          q.filter(col("vec_id") % 3 === i)
            .select(col("vec_id"), col("qv"), col("nq")), store, s"third-$i")
      }
      AnnIndexStore.compact(s, store)
      AnnIndexStore.probe(s, probeQueries(q), store).orderBy("a_id", "rn")
    }),

    // ANN RECALL audit (third leg of the "measure, don't guess" trio
    // next to q_minhash_est and q_agg_qsketch's spec): IVF top-3 vs the
    // brute-force exact top-3 for the same 10 probe vectors — hits out
    // of 3 and recall in basis points, per probe. Both sides are
    // deterministic integer-dot pipelines, so the audit itself is
    // hash-oracled — the number a production ANN config decision needs.
    "q_ann_recall" -> ((s, d) => {
      val q = quantized(s, d)
      val probesQ = probeQueries(q)
      val brute = bruteTopK(probesQ, q, 3).select(col("a_id"), col("b_id"))
      val hits = ivfTop3(s, d).select(col("a_id"), col("b_id"))
        .join(brute, Seq("a_id", "b_id"), "left_semi")
        .groupBy(col("a_id")).agg(count(lit(1)).as("n_hits"))
      probesQ.select(col("a_id"))
        .join(hits, Seq("a_id"), "left")
        .select(col("a_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_bp", expr("n_hits * 10000 DIV 3"))
        .orderBy("a_id")
    }),

    // One Lloyd refinement step for the IVF codebook (the training
    // counterpart of q_ann_ivf): assign every vector to its nearest
    // cell, then per-(cell, dimension) member counts, sums, and integer
    // means. Assignment is the broadcast-codebook pass; the update is
    // one (cell, dim)-keyed hash agg with map-side combine — both
    // corpus-linear, the canonical distributed k-means shape.
    // Integral mean uses an explicit truncate-toward-zero CASE: Spark
    // DIV truncates, DuckDB // floors, and dimension sums go negative.
    "q_kmeans_step" -> ((s, d) => {
      val q = quantized(s, d)
      val assign = nearestCellRaw(q, seedCentroids(q), col("qv"))
        .select(col("c_id").as("cell"), col("qv"))
      assign.select(col("cell"), posexplode(col("qv")))
        .groupBy(col("cell"), col("pos"))
        .agg(count(lit(1)).as("n_members"), sum(col("col")).as("dim_sum"))
        .select(col("cell"), col("pos").cast("long").as("pos"),
          col("n_members"), col("dim_sum"),
          expr("CASE WHEN dim_sum >= 0 THEN dim_sum DIV n_members" +
            " ELSE -((-dim_sum) DIV n_members) END").as("mean_q"))
        .orderBy("cell", "pos")
    }),

    // MULTI-ITERATION Lloyd k-means to a bounded fixpoint (r17 —
    // `q_kmeans_step` above stays the oracled single step; this is the
    // SemDeDup-style clustering pass run to convergence): iteration 1
    // assigns every vector to its nearest of the 16 seed centroids
    // (vec_id < 16) by raw cosine and takes exact per-(cell, dim)
    // integer means; iteration 2 re-assigns against those UPDATED
    // centroids (cells whose mean collapsed to the zero vector drop
    // out — no NaN cosines in either engine) and reports the final
    // per-(cell, dim) member counts / sums / integer means. The oracle
    // unrolls both iterations (the q_label_prop_multi convention).
    //
    // Scale shape per iteration: centroids are a <=16-row broadcast, so
    // assignment is broadcast × corpus (linear, one pass, codegen'd
    // graft_ldot dots); the centroid update is a posexplode + ONE
    // map-side-combining aggregate on (cell, pos). The iter-1 means are
    // checkpointed before being regrouped into the iter-2 centroid
    // arrays (k·dims rows — driver never collects them).
    "q_kmeans_multi" -> ((s, d) => {
      val q = quantized(s, d)
      // raw-cosine assignment (nearestCellRaw) + integer mean: same
      // conventions as q_kmeans_step
      def assign(cents: DataFrame): DataFrame =
        nearestCellRaw(q, cents, col("qv")).select(col("c_id").as("cell"), col("qv"))
      def means(assigned: DataFrame): DataFrame =
        assigned.select(col("cell"), posexplode(col("qv")))
          .groupBy(col("cell"), col("pos"))
          .agg(count(lit(1)).as("n_members"), sum(col("col")).as("dim_sum"))
          .withColumn("mean_q",
            expr("CASE WHEN dim_sum >= 0 THEN dim_sum DIV n_members" +
              " ELSE -((-dim_sum) DIV n_members) END"))
      val m1 = Checkpoints.ckpt(means(assign(seedCentroids(q))))
      val cents1 = m1
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mean_q)))," +
          " x -> x.mean_q)").as("qc"))
        .withColumn("nc", expr("graft_ldot(qc, qc)"))
        .filter(col("nc") > 0)
        .select(col("cell").as("c_id"), col("qc"), col("nc"))
      means(assign(cents1))
        .select(col("cell"), col("pos").cast("long").as("pos"),
          col("n_members"), col("dim_sum"), col("mean_q"))
        .orderBy("cell", "pos")
    }),

    // LATE-INTERACTION MAXSIM — the ColBERT scoring shape: each
    // 64-dim vector is treated as 8 token-level sub-vectors of 8 dims,
    // and score(q, d) = Σ_i max_j dot(q_i, d_j) — the sum over query
    // tokens of the best-matching doc token. Scored on the EXACT
    // integer quantized dots (unnormalized late interaction), so both
    // engines agree bit-for-bit with no float sqrt/rounding; int64
    // envelope: 8-dim dot ≤ 8·(2e8)² ≈ 3.2e17, Σ of 8 maxes ≤ 2.6e18
    // < 2⁶³. Scale shape: the 5-query side broadcasts, scoring is one
    // linear corpus pass — the codegen'd `graft_maxsim` expression
    // (functions.MaxSim; the declarative aggregate∘array_max∘
    // zip_with∘slice chain is a nested HOF Spark never compiles —
    // 1.9 s → sub-second at sf0.1, VectorExprsSpec pins bit-equality
    // with the HOF twin) — then top-3 per query via a
    // query-partitioned window, the q_cosine_topk plan with a richer
    // row-local score.
    "q_maxsim" -> ((s, d) => {
      val q = quantized(s, d)
      val left = q.filter(col("vec_id") < 5)
        .select(col("vec_id").as("a_id"), col("qv").as("qa"))
      val right = q.select(col("vec_id").as("b_id"), col("qv").as("qb"))
      val w = Window.partitionBy(col("a_id"))
        .orderBy(col("maxsim").desc, col("b_id").asc)
      right.crossJoin(broadcast(left))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("a_id"), col("b_id"),
          expr("graft_maxsim(qa, qb, 8)").as("maxsim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), col("maxsim"),
          col("rn").cast("long").as("rn"))
        .orderBy("a_id", "rn")
    }),

    // CENTROID-DISTANCE OUTLIERS — the embedding-QA pruning step that
    // pairs with the SemDeDup clustering family: every vector is
    // assigned to its nearest of the 16 seed centroids (the exact
    // q_kmeans_step assignment conventions — raw-cosine ordering key,
    // (ccos DESC, c_id ASC) tie-break) and the 20 vectors FARTHEST
    // from their own centroid (lowest assigned cosine) are reported —
    // these are the off-manifold / junk-embedding candidates a
    // training pipeline reviews or drops. Scale shape: the ≤16-row
    // centroid table broadcasts, assignment is one linear
    // broadcast × corpus pass (codegen'd graft_ldot), and the result
    // is a 20-row TakeOrdered — no corpus-wide shuffle beyond the
    // per-vector window over the 16 broadcast candidates.
    "q_centroid_outlier" -> ((s, d) => {
      val q = quantized(s, d)
      nearestCellRaw(q, seedCentroids(q))
        .select(col("v_id").as("vec_id"), col("c_id").as("cell"),
          (round(col("ccos"), 4) + lit(0d)).as("cos_r"))
        .orderBy(col("cos_r").asc, col("vec_id").asc)
        .limit(20)
    }),

    // MinHash + LSH banding over unigram shingles: 8 min-of-md5-string
    // hashes, 4 bands of 2, bucket summary for buckets holding >1 doc.
    // The hash family is computed inline per (doc_id, word) row (see
    // minhashSigs) — no vocabulary table, no broadcast, no join; the
    // plan is explode → codegen'd md5 columns → one hash aggregate.
    "q_minhash_dedup" -> ((s, d) => {
      minhashBands(minhashSigsLocal(docToks(load(s, d, "documents")), 1))
        .groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("band", "sig")
    }),

    // The bucket-JOIN stage of minhash LSH: candidate pairs from shared
    // band signatures (bounded block so the oracle output stays small);
    // n_bands = how many of the 4 bands collide.
    "q_minhash_pairs" -> ((s, d) =>
      bandCollisions(minhashBlockSigs(s, d))
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("n_bands"))
        .orderBy("a_id", "b_id")),

    // Sketch-accuracy measurement ("measure, don't guess" applied to the
    // sketches themselves): for every band-collision candidate pair, the
    // minhash Jaccard ESTIMATE (matching signature positions / 8, basis
    // points) side-by-side with the EXACT Jaccard and the absolute
    // error. Fully deterministic (the md5 hash family is fixed), so the
    // whole accuracy audit is hash-oracled — the estimate quality a
    // production dedup threshold decision needs. Exact verification is
    // the row-local array_intersect on collected token arrays
    // (candidates only), same shape as q_simjoin.
    "q_minhash_est" -> ((s, d) =>
      minhashEstFrame(s, d)
        .withColumn("err_bp", abs(col("est_bp") - col("jac_bp")))
        .orderBy("a_id", "b_id")),

    // DEDUP AUDIT — the measure-your-dedup QA table (the counterpart
    // of q_ann_recall for the minhash family): over the banded
    // candidate set, the confusion matrix of the 8-hash minhash
    // ESTIMATE against the exact Jaccard at the 0.30 dedup threshold,
    // plus precision / recall / accuracy in ppm (recall here is
    // within-candidate — the banding's own recall is covered by
    // q_minhash_pairs' guarantees). Entirely integer (both scores are
    // already integer bp); ONE combining aggregate over the shared
    // est-vs-exact frame — the audit costs nothing beyond the
    // estimate query it audits.
    "q_dedup_audit" -> ((s, d) =>
      minhashEstFrame(s, d)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("est_bp") >= 3000 && col("jac_bp") >= 3000, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("est_bp") >= 3000 && col("jac_bp") < 3000, 1L)
            .otherwise(0L)).as("fp"),
          sum(when(col("est_bp") < 3000 && col("jac_bp") >= 3000, 1L)
            .otherwise(0L)).as("fn"),
          sum(when(col("est_bp") < 3000 && col("jac_bp") < 3000, 1L)
            .otherwise(0L)).as("tn"))
        .select(col("n_pairs"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("tp * 1000000 DIV greatest(tp + fp, 1L)").as("precision_ppm"),
          expr("tp * 1000000 DIV greatest(tp + fn, 1L)").as("recall_ppm"),
          expr("(tp + tn) * 1000000 DIV greatest(n_pairs, 1L)").as("accuracy_ppm"))),

    // SimHash: 16-bit signature from md5 hex digits, majority vote per
    // bit. Like minhash, the per-(word, j) contribution is a pure
    // function of the word, computed inline as 16 codegen'd columns on
    // the exploded rows — no vocabulary table, no broadcast; one
    // corpus-linear groupBy with map-side partial sums.
    "q_simhash" -> ((s, d) => {
      val contribCols = (0 until 16).map { j =>
        expr(s"(instr('0123456789abcdef', substr(md5(CAST(word AS BINARY)), ${j / 4 + 1}, 1)) - 1)" +
          s" DIV ${1 << (j % 4)} % 2 * 2 - 1").as(s"c$j")
      }
      val sums = docWords(s, d)
        .select((col("doc_id") +: contribCols): _*)
        .groupBy(col("doc_id"))
        .agg(sum(col("c0")).as("s0"), (1 until 16).map(j => sum(col(s"c$j")).as(s"s$j")): _*)
      sums.select(col("doc_id"),
        (0 until 16).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup candidate PAIRS — the Hamming-banding companion
    // of q_minhash_pairs, completing the simhash family (q_simhash
    // stops at the per-doc signature). 64-bit signature over the
    // 4-gram shingle set (unigrams collide the whole corpus): bit j is
    // the majority sign of md5-hex-digit bit (j/4, j%4) across
    // shingles. The signature is ONE codegen'd row-local pass
    // (graft_simhash, functions.TextExprs) — zero shuffles until the
    // 4-rows-per-doc banding; the explode + 64-column majority
    // aggregation form measured 2.1 s at sf0.1, this fold 0.6 s, and
    // at cluster scale the narrow map partitions perfectly. NULL
    // signature = no 4-token shingle, excluded exactly like the
    // explode form (whose such docs produce no rows — a zero
    // signature would instead collide every short doc into one
    // bucket). Candidates come from the multi-probe 4×16-bit banding
    // (simhashCandidates scaladoc): pairs with some band at Hamming
    // ≤ 1, recall pigeonhole-GUARANTEED to total distance 7 —
    // strictly beyond the is_near ≤ 6 threshold — at an ~n²/964
    // candidate envelope that scales with the 16-bit key space
    // (VERDICT r16 #2: the 8×8 form's ~n²/256 envelope was the one
    // fixed-conf scale-killer left in the engine). The exact 64-bit
    // Hamming distance verifies each candidate via bit_count(xor) —
    // never all-pairs, the same banded shape as the minhash and
    // dHash paths.
    "q_simhash_pairs" -> ((s, d) =>
      simhashCandidates(s, d)
        .select(col("a_id"), col("b_id"), col("hamming"),
          (col("hamming") <= 6).as("is_near"))
        .orderBy("a_id", "b_id")),

    // SimHash near-dup CLUSTERS — the third leg of the dedup-cluster
    // triangle (minhash q_dedup_cluster, embedding q_semdedup_cluster,
    // now Hamming): verified near pairs (Hamming ≤ 6) feed the SAME
    // bipartite hash-min CC kernel, each pair a 2-member bucket, so
    // the per-hop cost is |pairs| rows, checkpointed and bounded by
    // cluster diameter — identical scale posture to its two siblings.
    "q_simhash_cluster" -> ((s, d) => {
      val pairs = simhashCandidates(s, d)
        .filter(col("hamming") <= 6).select(col("a_id"), col("b_id"))
      val clusters = pairClusters(pairs, load(s, d, "documents").select(col("doc_id")))
      // the labels are materialized: the signature checkpoint has no reader left
      Checkpoints.release(pairs)
      clusters.orderBy("doc_id")
    }),

    // EDIT-DISTANCE near-dup — the character-level member of the
    // similarity family (set-based: minhash/jaccard; bit-based:
    // simhash/dHash; vector: cosine; now sequence-based Levenshtein).
    // Blocked-verify shape: candidates share an exact 8-char prefix
    // block AND a length band (sorted-neighborhood multi-blocking),
    // then the exact edit distance on the 32-char prefix verifies each
    // candidate. The secondary key is EXACTNESS-PRESERVING by the
    // length bound lev(a, b) >= |len(a) - len(b)|: dist <= 12 forces
    // |Δlen| <= 12, so with width-13 bands the band indices differ by
    // at most 1 — the probe side emits bands {b-1, b, b+1}, the anchor
    // side its own band, and every qualifying pair meets on exactly
    // one key (VERDICT r16 #5: a boilerplate-heavy corpus puts every
    // "The …" doc in one prefix bucket; the length band splits that
    // hot bucket whenever suffixes vary in length — EditSimSkewSpec
    // pins candidates sub-block-quadratic on a planted hot-prefix
    // corpus). The residual hot (prefix, band) key — identical prefix
    // AND identical length band — is a per-KEY skew that AQE's
    // skew-join split distributes across tasks; no equality key can
    // prune it further at threshold 12 on 32-char strings (the
    // threshold is 37% of the string, beyond q-gram/segment filter
    // selectivity). The cheap |Δlen| filter runs BEFORE the
    // levenshtein verify, capping the O(n·m) DP to true candidates.
    // ORACLE SEMANTICS: Spark's levenshtein counts Unicode code
    // points, DuckDB's counts BYTES — identical only on ASCII. The
    // corpus prefixes are ASCII (pinned by SimilaritySpec's ASCII
    // canary at both test SFs); non-ASCII text would need a
    // byte-level projection before the oracle could compare.
    "q_editsim" -> ((s, d) => {
      val t = load(s, d, "documents")
        .select(col("doc_id"), expr("substring(text, 1, 32)").as("sx"),
          expr("substring(text, 1, 8)").as("blk"),
          expr("CAST(length(substring(text, 1, 32)) AS INT)").as("ln"))
      val probe = t.select(col("doc_id").as("a_id"), col("sx").as("sa"),
        col("blk"), col("ln").as("la"),
        explode(expr("array(ln DIV 13 - 1, ln DIV 13, ln DIV 13 + 1)")).as("band"))
      val anchor = t.select(col("doc_id").as("b_id"), col("sx").as("sb"),
        col("blk"), col("ln").as("lb"), (col("ln") / 13).cast("int").as("band"))
      probe.join(anchor, Seq("blk", "band"))
        .filter(col("a_id") < col("b_id") &&
          abs(col("la") - col("lb")) <= 12)
        // r22 (guide §1.2 per-task work): thresholded levenshtein — the
        // built-in 3-arg form runs the BANDED O(n·k) DP with early exit
        // instead of the full O(n·m) matrix, returning the EXACT
        // distance when <= 12 and -1 otherwise; `dist BETWEEN 0 AND 12`
        // therefore keeps exactly the rows `dist <= 12` kept before,
        // with identical dist values (the -1 rows are the former
        // dist > 12 rows). Oracle SQL unchanged — DuckDB computes the
        // unbounded distance and applies the same <= 12 cut.
        .select(col("a_id"), col("b_id"),
          levenshtein(col("sa"), col("sb"), 12).cast("long").as("dist"))
        .filter(col("dist").between(0, 12))
        .orderBy("a_id", "b_id")
    }),

    // CONTRASTIVE training-pair mining (the input a triplet/InfoNCE
    // embedding-training run consumes): for each anchor, the hardest
    // positive is its most-similar SAME-label vector and the hardest
    // negative its most-similar DIFFERENT-label vector — "hard" because
    // the highest-cosine negative is exactly the pair the loss learns
    // most from. Anchors are a bounded query set (vec_id < 50), so the
    // scored pairs are broadcast × corpus — linear in the corpus like
    // q_cosine_topk, never corpus × corpus. ONE window over
    // (anchor, is-positive) ranks both sides in a single pass, then a
    // conditional aggregate pivots the two rank-1 rows per anchor into
    // one output row; anchors lacking either side (no same-label or no
    // different-label sibling) are dropped in both engines.
    "q_contrastive_pairs" -> ((s, d) => {
      val q = quantized(s, d)
      val left = q.filter(col("vec_id") < 50)
        .select(col("vec_id").as("a_id"), col("label").as("a_label"),
          col("qv").as("qa"), col("nq").as("na"))
      val right = q.select(col("vec_id").as("b_id"), col("label").as("b_label"),
        col("qv").as("qb"), col("nq").as("nb"))
      rankPairs(right.crossJoin(broadcast(left))
          .filter(col("a_id") =!= col("b_id"))
          .select(col("a_id"),
            (col("a_label") === col("b_label")).as("is_pos"), col("b_id"), pairCosine),
          col("a_id"), col("is_pos"))
        .filter(col("rn") === 1)
        .groupBy(col("a_id"))
        .agg(max(when(col("is_pos"), col("b_id"))).as("pos_id"),
          max(when(col("is_pos"), col("cosine"))).as("pos_cos"),
          max(when(!col("is_pos"), col("b_id"))).as("neg_id"),
          max(when(!col("is_pos"), col("cosine"))).as("neg_cos"))
        .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
        .orderBy("a_id")
    }),

    // Semi-supervised LABEL PROPAGATION over the banded k-NN structure
    // (the step that turns a small labeled seed set into weak labels
    // for the whole corpus — classifier-based quality filtering at
    // pretraining scale bootstraps exactly this way): vectors with
    // vec_id % 5 = 0 play the unlabeled 20%, everyone else is seed.
    // Candidates come from the 32-plane/4×8-bit band rows of
    // q_knn_graph (lshBandRows32, a shared stage), restricted to
    // unlabeled × seed pairs; each unlabeled node takes its
    // top-5 labeled candidates by exact integer-dot cosine and adopts
    // the majority label (votes DESC, label ASC tie-break). `correct`
    // compares the adopted label against the held-out truth, making
    // the query its own accuracy probe. Unlabeled nodes whose buckets
    // contain no labeled vector emit no row — identically in both
    // engines. Scale: band bucket-join (never all-pairs), payload-free
    // candidate dedup, vectors re-attached by key — q_knn_graph's
    // posture with an anchor-side filter.
    "q_label_prop" -> ((s, d) => {
      val q = quantized(s, d)
      val bl = lshBandRows32(q)
      val cands = bl.filter(col("vec_id") % 5 === 0).as("a")
        .join(bl.filter(col("vec_id") % 5 =!= 0).as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        .distinct()
      val wv = Window.partitionBy(col("a_id"))
        .orderBy(col("votes").desc, col("b_label").asc)
      rankPairs(withVectors(cands, q, "label")
          .select(col("a_id"), col("a_label"), col("b_id"), col("b_label"), pairCosine),
          col("a_id"))
        .filter(col("rn") <= 5)
        .groupBy(col("a_id"), col("a_label"), col("b_label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("pr", row_number().over(wv))
        .filter(col("pr") === 1)
        .select(col("a_id").as("vec_id"),
          col("b_label").cast("long").as("pred_label"), col("votes"),
          (col("b_label") === col("a_label")).as("correct"))
        .orderBy("vec_id")
    }),

    // MULTI-HOP label propagation to a bounded fixpoint (VERDICT r16
    // next-round #7; single-hop q_label_prop stays the oracled base).
    // The seed set is SPARSE — vec_id % 20 == 1, 5% — so propagation
    // genuinely takes multiple hops (at the driver SFs hops 1/2/3
    // label 164/274/37 of 475 unlabeled nodes; the %5 rule labels
    // everything in one hop). Per hop, each still-unlabeled node with
    // at least one labeled banded neighbor adopts the majority label
    // of its top-5 labeled candidates by exact cosine (votes DESC,
    // label ASC tie-break) — and the ADOPTED labels propagate: a
    // hop-2 node votes with its hop-1 neighbors' adopted labels, not
    // ground truth. `hop` records when each node was labeled;
    // `correct` compares against the held-out truth.
    //
    // Scale shape: the corpus-wide banded adjacency (payload-free
    // pair dedup) and the per-edge exact cosines are computed ONCE
    // and checkpointed — the CC kernel's checkpointed driver-loop
    // pattern — so each hop is two cheap equi-joins against the edge
    // table plus a bounded window, never a repeated band join. The
    // loop is capped at 3 hops and exits early at the fixpoint (a
    // hop that adopts nothing implies every later hop adopts
    // nothing, so the early exit is result-invariant — which is what
    // lets the DuckDB oracle unroll exactly 3 hops as CTEs, the
    // q_bpe_train pattern).
    "q_label_prop_multi" -> ((s, d) => {
      // r21 (guide §5): q feeds six subtrees (both band sides, both
      // vector re-attach sides, the seed set, the truth join) —
      // checkpoint the scan+quantize once
      val q = Checkpoints.ckpt(quantized(s, d))
      val adjc = Checkpoints.ckpt(withVectors(bandPairs32(q), q)
        .select(col("a_id"), col("b_id"), pairCosine))
      val wv = Window.partitionBy(col("a_id"))
        .orderBy(col("votes").desc, col("lbl").asc)
      var labeled = Checkpoints.ckpt(q.filter(col("vec_id") % 20 === 1)
        .select(col("vec_id"), col("label").as("lbl")))
      var out: Option[DataFrame] = None
      var done = false
      // each superseded label table, an empty hop's adoptions and, after
      // the last hop, adjc and the final labels are released once
      // nothing left to run reads them; the result reads only the
      // adopted rounds and q
      for (hop <- 1 to 3 if !done) {
        val adopted = Checkpoints.ckpt(rankPairs(adjc
            .join(labeled.withColumnRenamed("vec_id", "b_id"), "b_id")
            .join(labeled.select(col("vec_id").as("a_id")), Seq("a_id"), "left_anti"),
            col("a_id"))
          .filter(col("rn") <= 5)
          .groupBy(col("a_id"), col("lbl")).agg(count(lit(1)).as("votes"))
          .withColumn("pr", row_number().over(wv)).filter(col("pr") === 1)
          .select(col("a_id"), col("lbl"), col("votes"),
            lit(hop).cast("long").as("hop")))
        if (adopted.isEmpty) {
          Checkpoints.release(adopted)
          done = true
        } else {
          val next = Checkpoints.ckpt(labeled.unionByName(
            adopted.select(col("a_id").as("vec_id"), col("lbl"))))
          Checkpoints.release(labeled)
          labeled = next
          out = Some(out.map(_.unionByName(adopted)).getOrElse(adopted))
        }
      }
      Checkpoints.release(labeled)
      Checkpoints.release(adjc)
      val truth = q.select(col("vec_id").as("t_id"), col("label"))
      out.getOrElse(s.range(0).select(col("id").as("a_id"),
          col("id").cast("int").as("lbl"), col("id").as("votes"),
          col("id").as("hop")))
        .join(truth, col("a_id") === col("t_id"))
        .select(col("a_id").as("vec_id"),
          col("lbl").cast("long").as("pred_label"), col("votes"), col("hop"),
          (col("lbl") === col("label")).as("correct"))
        .orderBy("vec_id")
    }),

    // Corpus-wide HARD-NEGATIVE mining (VERDICT r16 next-round #8;
    // q_contrastive_pairs stays the bounded-anchor oracled base):
    // EVERY vector is an anchor, candidates are q_knn_graph's band
    // pairs (bandPairs32, a shared stage), the hardest positive is the
    // highest-cosine SAME-label candidate and the hardest negative the
    // highest-cosine DIFFERENT-label candidate. Anchors whose
    // buckets lack either side emit no row — identically in both
    // engines. Scale posture is q_knn_graph's: band bucket-join
    // (never all-pairs, never a broadcast of the corpus), candidate
    // pairs deduped PAYLOAD-FREE (16-byte id pairs, not 0.5 KB
    // vectors), vectors re-attached per side by keyed equi-join, ONE
    // window over (anchor, is-positive) ranks both sides in a single
    // pass, and the conditional aggregate pivots the two rank-1 rows
    // per anchor into one output row.
    "q_hard_negatives" -> ((s, d) => {
      // r21: checkpointing q (the q_knn_graph treatment) measured a
      // small LOSS here (0.66 s → 0.75 s at sf0.1) — the single
      // candidate chain pays the materialization job without a second
      // heavy consumer to amortize it, so the plain frame stays
      val q = quantized(s, d)
      rankPairs(withVectors(bandPairs32(q), q, "label")
          .select(col("a_id"),
            (col("a_label") === col("b_label")).as("is_pos"), col("b_id"), pairCosine),
          col("a_id"), col("is_pos"))
        .filter(col("rn") === 1)
        .groupBy(col("a_id"))
        .agg(max(when(col("is_pos"), col("b_id"))).as("pos_id"),
          max(when(col("is_pos"), col("cosine"))).as("pos_cos"),
          max(when(!col("is_pos"), col("b_id"))).as("neg_id"),
          max(when(!col("is_pos"), col("cosine"))).as("neg_cos"))
        .filter(col("pos_id").isNotNull && col("neg_id").isNotNull)
        .orderBy("a_id")
    }),

    // Near-dup CLUSTERS from minhash LSH: the step after
    // q_minhash_pairs that a real dedup pipeline needs — candidate
    // buckets → connected components → one canonical doc per cluster.
    // Shingles are 4-token grams (unigram sets merge everything into
    // one giant component; 4-grams give tight near-dup clusters).
    // Components via hash-min label propagation on the BIPARTITE
    // doc–bucket graph: a hot bucket of k docs costs k rows per
    // iteration, never the k² doc-doc pairs — the MapReduce-CC shape
    // that survives skewed buckets at 100 TB. Iterations are bounded
    // by the cluster diameter (tiny for near-dup graphs); each hop
    // checkpoints (Checkpoints.ckpt — reliable when
    // spark.graft.checkpointDir is set) so lineage stays flat.
    "q_dedup_cluster" -> ((s, d) => clusterOf(dedupLabels(s, d)).orderBy("doc_id")),

    // DEDUP SURVIVORSHIP + SOFT-DEDUP WEIGHTS — the policy step AFTER
    // clustering (q_dedup_cluster stops at labels): per near-dup
    // cluster, the kept canonical is the highest-QUALITY member
    // (max n_chars, doc_id tie-break) rather than the arbitrary
    // min-id, and every member also gets the SoftDeDup-style sampling
    // weight 1e6/cluster_size for pipelines that downweight duplicates
    // instead of dropping them. The quality pick is two combining
    // aggregates + hashed joins on the cluster key (max-quality, then
    // min-id among the maximal) — never a per-cluster window sort, so
    // a degenerate corpus-sized cluster costs O(members) not
    // O(members·log) through one task.
    "q_dedup_survivor" -> ((s, d) => {
      val docs = load(s, d, "documents")
      // r21 (guide §5): the membership frame feeds THREE consumers (the
      // per-cluster aggregate, the survivor pick, and the final join) —
      // eager-checkpoint it once instead of re-running the labels⋈docs
      // join per consumer (at 100 TB: one corpus-sized join, not three)
      val mem = Checkpoints.ckpt(dedupLabels(s, d)
        .join(docs.select(col("doc_id"),
          coalesce(col("n_chars").cast("long"), lit(0L)).as("nc")), "doc_id")
        .select(col("doc_id"), col("lbl").as("cluster"), col("nc")))
      val grp = mem.groupBy(col("cluster"))
        .agg(count(lit(1)).as("cluster_size"), max(col("nc")).as("maxc"))
      val surv = mem.join(grp, "cluster")
        .filter(col("nc") === col("maxc"))
        .groupBy(col("cluster")).agg(min(col("doc_id")).as("survivor_id"))
      mem.join(grp, "cluster").join(surv, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          col("survivor_id"),
          (col("doc_id") === col("survivor_id")).as("keep"),
          expr("1000000 DIV cluster_size").as("weight_ppm"))
        .orderBy("doc_id")
    }),

    // SEMANTIC dedup clusters (SemDeDup shape): the embedding-cosine
    // candidate pairs of q_embed_neardup fed into the SAME hash-min CC
    // kernel that clusters the minhash candidates — completing
    // minhash/embedding dedup symmetry. Each candidate pair acts as a
    // 2-member "bucket" of the bipartite doc–bucket graph, so the
    // iteration cost is |pairs| rows per hop, checkpointed, bounded —
    // identical scale posture to q_dedup_cluster. Blocking is by label
    // (block-local pairs, never all-pairs); at 100 TB the label blocks
    // would come from a coarse quantizer (q_ann_ivf's assignment pass).
    "q_semdedup_cluster" -> ((s, d) => {
      // r21 (guide §5): the quantized frame is read by BOTH sides of the
      // block-local pair join — checkpoint it once instead of re-running
      // the scan+quantize per side (at 100 TB: one embedding-corpus
      // pass, not two)
      val q = Checkpoints.ckpt(quantized(s, d))
      val clusters = pairClusters(
        labelBlockedNear(q, col("a_id"), col("b_id")).select(col("a_id"), col("b_id")),
        load(s, d, "embeddings").select(col("vec_id").as("doc_id")))
      Checkpoints.release(q) // the labels are materialized
      clusters.withColumnRenamed("doc_id", "vec_id").orderBy("vec_id")
    }),

    // Deterministic-hyperplane LSH ANN: q_ann_lsh's shape with the
    // splitmix64 UDF weights replaced by a pure-SQL ±1 hyperplane
    // family (md5 parity of (plane, dim)) — every stage is expressible
    // in both engines, so this variant is FULLY oracled (q_ann_lsh
    // keeps the recall-vs-brute-force spec). Signature build is
    // corpus-linear: explode to (vec, dim), 16 row-local ±1
    // contributions, two map-side-combining aggregates; candidates
    // join on (band, nibble) buckets, never all-pairs.
    "q_ann_lsh_det" -> ((s, d) => {
      val q = quantized(s, d)
      // ±1 hyperplane weights = md5 first-hex-digit parity of (plane j,
      // dim i) — a pure function of (j, i), evaluated once into the
      // codegen'd fold (functions.LshSigMd5; the r8 form embedded a
      // 16×64 literal matrix into an interpreted zip_with fold, the
      // r15 expression is the same math one JIT'd loop). The ORACLE
      // still derives identical weights from MD5 in SQL.
      val bands = nibbleBands(q.select(col("vec_id"), col("qv"), col("nq"),
        expr("graft_lshsig_md5(qv, 16)").as("sig")), "qv", "nq")
      val left = bands.filter(col("vec_id") < 50)
        .select(col("band").as("xband"), col("nibble").as("xnibble"),
          col("vec_id").as("a_id"), col("qv").as("qa"), col("nq").as("na"))
      val cands = left.join(bands,
          col("xband") === col("band") && col("xnibble") === col("nibble") &&
            col("a_id") =!= col("vec_id"))
        .select(col("a_id"), col("vec_id").as("b_id"), col("qa"), col("na"),
          col("qv").as("qb"), col("nq").as("nb"))
        .dropDuplicates("a_id", "b_id")
      rankPairs(cands.select(col("a_id"), col("b_id"), pairCosine), col("a_id"))
        .filter(col("rn") <= 3)
        .select(col("a_id"), col("b_id"), col("cosine"), col("rn").cast("long").as("rn"))
        .orderBy("a_id", "rn")
    }),

    // PROBES-VS-RECALL audit (VERDICT r17 #4's measurement leg, the
    // LSH sibling of q_ann_recall): for the SAME deterministic
    // md5-parity signature family as q_ann_lsh_det, candidate sets are
    // built two ways — 'single' (each query band probes its own nibble)
    // and 'multi' (plus the 4 Hamming-1 neighbor nibbles per band) —
    // and both are scored against the brute-force exact top-3. Output
    // per (mode, probe): candidate count AND recall, so the
    // probe-count/recall/budget trade is a hash-oracled number, not a
    // guess. multi's candidate set is a SUPERSET of single's by
    // construction (i = 0 is the own-nibble probe), so recall is
    // monotone; the data shows where it's strict, and n_cands bounds
    // the price (≤ 5× bucket occupancy, corpus index unchanged).
    "q_ann_lsh_probes" -> ((s, d) => {
      val q = quantized(s, d)
      val bands = nibbleBands(
        q.select(col("vec_id"), expr("graft_lshsig_md5(qv, 16)").as("sig")))
      val probes = bands.filter(col("vec_id") >= 50 && col("vec_id") < 60)
        .select(col("vec_id").as("a_id"), col("band").as("pband"),
          col("nibble").as("pnib0"))
        .select(col("a_id"), col("pband"),
          explode(expr("transform(sequence(0, 4), i -> named_struct('i', i," +
            " 'pnib', CASE WHEN i = 0 THEN pnib0 ELSE pnib0 ^" +
            " shiftleft(CAST(1 AS BIGINT), i - 1) END))")).as("pp"))
        .select(col("a_id"), col("pband"), col("pp.i").as("pi"), col("pp.pnib").as("pnib"))
      val modes = s.createDataFrame(Seq(("single", 0), ("multi", 4)))
        .toDF("mode", "imax")
      val cands = probes.join(broadcast(modes), col("pi") <= col("imax"))
        .join(bands, col("band") === col("pband") && col("nibble") === col("pnib") &&
          col("vec_id") =!= col("a_id"))
        .select(col("mode"), col("a_id"), col("vec_id").as("b_id"))
        .distinct()
      val top3 = rankPairs(withVectors(cands, q)
          .select(col("mode"), col("a_id"), col("b_id"), pairCosine),
          col("mode"), col("a_id"))
        .filter(col("rn") <= 3)
        .select(col("mode"), col("a_id"), col("b_id"))
      val probesQ = probeQueries(q)
      val brute = bruteTopK(probesQ, q, 3).select(col("a_id"), col("b_id"))
      val hits = top3.join(brute, Seq("a_id", "b_id"), "left_semi")
        .groupBy(col("mode"), col("a_id")).agg(count(lit(1)).as("n_hits"))
      val nc = cands.groupBy(col("mode"), col("a_id")).agg(count(lit(1)).as("n_cands"))
      probesQ.select(col("a_id"))
        .crossJoin(broadcast(modes.select(col("mode"))))
        .join(nc, Seq("mode", "a_id"), "left")
        .join(hits, Seq("mode", "a_id"), "left")
        .select(col("mode"), col("a_id"),
          coalesce(col("n_cands"), lit(0L)).as("n_cands"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_bp", expr("n_hits * 10000 DIV 3"))
        .orderBy("mode", "a_id")
    }),

    // Approximate k-NN GRAPH over the whole embedding corpus — the
    // structure SemDeDup-style semantic dedup, graph clustering, and
    // diversity sampling consume. Same deterministic md5-parity
    // hyperplane family as q_ann_lsh_det, widened to 32 planes split
    // into 4×8-bit bands (256 buckets per band): with EVERY vector as
    // a source, 4-bit nibbles would put ~1/16 of the corpus in each
    // bucket and the candidate set would grow ~n²/16 — 8-bit bands
    // keep buckets at ~n/256 so candidates stay near-linear. The
    // 32-plane signature is ONE row-local fold (the weight matrix is a
    // driver-built literal, embedded once); candidates bucket-join on
    // (band, byte), exact integer-dot cosine re-ranks, top-3 per
    // source, and a pair self-join marks MUTUAL edges (the symmetric
    // k-NN graph clustering actually wants).
    "q_knn_graph" -> ((s, d) => {
      // r21 (guide §5): q feeds four subtrees (both band sides, both
      // vector re-attach sides) — checkpoint the scan+quantize once
      val q = Checkpoints.ckpt(quantized(s, d))
      // r21 (guide §5): the top-3 edge list is read TWICE (its own rows
      // + the reversed copy probing mutuality) — without the checkpoint
      // the whole candidate-join + window subtree evaluated once per
      // branch
      val knn = Checkpoints.ckpt(rankPairs(withVectors(bandPairs32(q), q)
          .select(col("a_id"), col("b_id"), pairCosine), col("a_id"))
        .filter(col("rn") <= 3))
      Checkpoints.release(q) // knn is materialized
      val rev = knn.select(col("a_id").as("r_a"), col("b_id").as("r_b"))
      knn.join(rev, col("a_id") === col("r_b") && col("b_id") === col("r_a"), "left")
        .select(col("a_id"), col("rn").cast("long").as("rn"), col("b_id"),
          col("cosine"), col("r_a").isNotNull.as("mutual"))
        .orderBy("a_id", "rn")
    }),

    // Density-balanced CLUSTER SAMPLING (the diversity-preserving
    // downsample a pretraining corpus runs after dedup): assign every
    // embedding to its nearest codebook cell (same broadcast-codebook
    // pass as q_kmeans_step), then keep floor(sqrt(cell_n)) members
    // per cell — dense regions are cut hardest, sparse regions are
    // kept (the sqrt flattening q_mix_temperature applies to language
    // skew, applied here to embedding-space density). Selection within
    // a cell is the md5-rank convention (deterministic, never rand()).
    // Cell counts come from a 16-row aggregate joined back broadcast;
    // the per-cell rank is a window over the cell key — at 100 TB the
    // rank pass shards with the two-pass percentile-bounds kernel
    // (q_histogram_eqd), the selection rule is unchanged.
    "q_cluster_sample" -> ((s, d) => {
      val q = quantized(s, d)
      val assign = nearestCellRaw(q, seedCentroids(q))
        .select(col("v_id"), col("c_id").as("cell"))
      val sz = assign.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
      val wRank = Window.partitionBy(col("cell"))
        .orderBy(md5(col("v_id").cast("string").cast("binary")), col("v_id"))
      assign.join(broadcast(sz), "cell")
        .withColumn("rk", row_number().over(wRank))
        .filter(col("rk") <= expr("CAST(FLOOR(SQRT(CAST(cell_n AS DOUBLE))) AS BIGINT)"))
        .select(col("cell"), col("rk").cast("long").as("rk"),
          col("v_id").as("vec_id"), col("cell_n"))
        .orderBy("cell", "rk")
    }),

    // EXACT set-similarity self-join with PREFIX FILTERING (Chaudhuri
    // ICDE'06 / Bayardo AllPairs): all doc pairs with 4-gram-shingle
    // Jaccard ≥ 0.9 over the WHOLE corpus — no bounded block, no
    // probabilistic misses (the exact companion of q_minhash_pairs).
    // Under a global rare-shingle-first order, any pair with overlap
    // ≥ α must collide inside both docs' (n − α + 1)-prefixes, so the
    // join runs on ~10% of each doc's shingles (the rarest), then the
    // exact Jaccard verifies just those candidates. Set elements are
    // 4-gram SHINGLES, the repo's near-dup unit — unigram sets on a
    // small shared vocabulary are degenerate (measured at sf0.1:
    // unigram J≥0.9 holds for ~1M pairs and every "rare" word hits
    // thousands of prefixes → 11.3M candidates; shingles give 247
    // candidates = exactly the 247 true pairs, i.e. the prefix filter
    // prunes perfectly). That measurement is the 100 TB story: candidate
    // volume scales with rare-shingle collisions, never |docs|².
    "q_simjoin" -> ((s, d) => {
      // r21 (guide §5): the positioned-shingle frame feeds the df
      // count, the prefix rank join, AND the exact-Jaccard verify —
      // eager-checkpoint the explode once instead of re-tokenizing and
      // re-sharding the corpus per consumer
      val dw = graft.Checkpoints.ckpt(
        fourGramShingles(load(s, d, "documents"))) // distinct (doc_id, word=shingle)
      val dfc = dw.groupBy(col("word")).agg(count(lit(1)).as("dfc"))
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("dfc").asc, col("word").asc)
      val ranked = dw.join(dfc, "word")
        .withColumn("idx", row_number().over(wDoc))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // Jaccard ≥ 9/10 ⇒ overlap ≥ ⌈9n/10⌉ ⇒ prefix n − ⌈9n/10⌉ + 1
      val prefix = ranked.filter(expr("idx <= n - (9 * n + 9) DIV 10 + 1"))
        .select(col("doc_id"), col("word"))
      val cands = prefix.select(col("doc_id").as("a_id"), col("word"))
        .join(prefix.select(col("doc_id").as("b_id"), col("word")), "word")
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
      // verification is ROW-LOCAL via exactJaccardBp (the exploded
      // pair × token formulation multiplied candidates by ~300 token
      // rows each and took 36 s/run at sf0.1)
      exactJaccardBp(cands, dw)
        .select(col("a_id"), col("b_id"), col("inter"), col("uni"), col("jac_bp"))
        .filter(col("jac_bp") >= 9000)
        .orderBy("a_id", "b_id")
    }),

    // Word-bigram Jaccard similarity for doc pairs (bounded block),
    // integer basis points; pairs sharing no bigram drop out.
    "q_ngram_jaccard" -> ((s, d) => {
      // the size >= 2 guard matters: sequence(1, 0) runs DESCENDING in
      // Spark and element_at(toks, 0) throws (DuckDB's RANGE is just
      // empty) — a <2-token doc must yield no bigrams, not an error
      val bigrams = load(s, d, "documents")
        .filter(col("doc_id") < 40)
        .withColumn("toks", expr(tokens))
        .select(col("doc_id"),
          explode(expr("array_distinct(graft_grams(toks, 2))")).as("bg"))
      val sizes = bigrams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = bigrams.select(col("doc_id").as("a_id"), col("bg"))
        .join(bigrams.select(col("doc_id").as("b_id"), col("bg")), "bg")
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .select(col("a_id"), col("b_id"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"),
          expr("inter * 10000 DIV (na + nb - inter)").as("jac_bp"))
        .orderBy("a_id", "b_id")
    })
  )

  private val duckToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Shared oracle CTE block: quantized vectors, md5-parity 32-plane
    * signature, 4×8-bit bands, the corpus-wide banded adjacency (both
    * directions, a ≠ b), and per-edge exact cosine — the SQL twin of
    * bandPairs32 + withVectors, shared by the q_label_prop_multi and
    * q_hard_negatives oracles exactly like the Scala side shares those
    * stages. */
  private val lshAdjCtes: String =
    """WITH q AS (SELECT vec_id, label,
      |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
      |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
      |contrib AS (SELECT vec_id, j,
      |    SUM(v * ((STRPOS('0123456789abcdef', SUBSTR(MD5(j || '|' || i), 1, 1)) - 1) % 2 * 2 - 1)) AS s
      |  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS j)
      |  GROUP BY vec_id, j),
      |sig AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
      |  FROM contrib GROUP BY vec_id),
      |bd AS (SELECT vec_id, band, (sig // CAST(POW(2, band * 8) AS BIGINT)) % 256 AS bv
      |       FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band)),
      |adj AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |        FROM bd a JOIN bd b ON a.band = b.band AND a.bv = b.bv
      |          AND a.vec_id <> b.vec_id),
      |pd AS (SELECT c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
      |       FROM adj c JOIN e ea ON ea.vec_id = c.a_id
      |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
      |       GROUP BY c.a_id, c.b_id),
      |pc AS (SELECT a_id, b_id,
      |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
      |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)""".stripMargin

  /** One unrolled propagation hop against the label table `labPrev` —
    * identical text per hop, so the three unrolled hops cannot drift
    * from each other (the q_bpe_train unrolled-CTE pattern). */
  private def labelPropHopSql(labPrev: String): String =
    s"""(SELECT a_id, lbl, votes FROM (
       |    SELECT a_id, lbl, votes,
       |      ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY votes DESC, lbl ASC) AS pr
       |    FROM (SELECT t.a_id, l.lbl, COUNT(*) AS votes
       |          FROM (SELECT a_id, b_id FROM (
       |              SELECT c.a_id, c.b_id,
       |                ROW_NUMBER() OVER (PARTITION BY c.a_id ORDER BY c.cosine DESC, c.b_id ASC) AS rn
       |              FROM pc c JOIN $labPrev l0 ON l0.vec_id = c.b_id
       |              WHERE c.a_id NOT IN (SELECT vec_id FROM $labPrev)) WHERE rn <= 5) t
       |          JOIN $labPrev l ON l.vec_id = t.b_id GROUP BY 1, 2)) WHERE pr = 1)""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "q_label_prop_multi" ->
      (lshAdjCtes + s""",
        |lab0 AS (SELECT vec_id, label AS lbl FROM q WHERE vec_id % 20 = 1),
        |pred1 AS ${labelPropHopSql("lab0")},
        |lab1 AS (SELECT vec_id, lbl FROM lab0 UNION ALL SELECT a_id, lbl FROM pred1),
        |pred2 AS ${labelPropHopSql("lab1")},
        |lab2 AS (SELECT vec_id, lbl FROM lab1 UNION ALL SELECT a_id, lbl FROM pred2),
        |pred3 AS ${labelPropHopSql("lab2")}
        |SELECT p.a_id AS vec_id, CAST(p.lbl AS BIGINT) AS pred_label, p.votes, p.hop,
        |  p.lbl = qa.label AS correct
        |FROM (SELECT a_id, lbl, votes, CAST(1 AS BIGINT) AS hop FROM pred1
        |      UNION ALL SELECT a_id, lbl, votes, CAST(2 AS BIGINT) FROM pred2
        |      UNION ALL SELECT a_id, lbl, votes, CAST(3 AS BIGINT) FROM pred3) p
        |JOIN q qa ON qa.vec_id = p.a_id ORDER BY vec_id""".stripMargin),
    "q_hard_negatives" ->
      (lshAdjCtes + """,
        |pcl AS (SELECT pc.a_id, pc.b_id, pc.cosine,
        |    qa.label AS a_label, qb.label AS b_label
        |  FROM pc JOIN q qa ON qa.vec_id = pc.a_id
        |  JOIN q qb ON qb.vec_id = pc.b_id),
        |pos AS (SELECT a_id, b_id AS pos_id, cosine AS pos_cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pcl WHERE a_label = b_label) WHERE rn = 1),
        |neg AS (SELECT a_id, b_id AS neg_id, cosine AS neg_cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pcl WHERE a_label <> b_label) WHERE rn = 1)
        |SELECT pos.a_id, pos_id, pos_cos, neg_id, neg_cos
        |FROM pos JOIN neg ON neg.a_id = pos.a_id ORDER BY pos.a_id""".stripMargin),
    "q_contrastive_pairs" ->
      """WITH q AS (SELECT vec_id, label,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |d AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |      FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 50 AND a.vec_id <> b.vec_id
        |      GROUP BY 1, 2),
        |c AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine,
        |  qa.label AS a_label, qb.label AS b_label
        |  FROM d JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id
        |  JOIN q qa ON qa.vec_id = a_id JOIN q qb ON qb.vec_id = b_id),
        |pos AS (SELECT a_id, b_id AS pos_id, cosine AS pos_cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM c WHERE a_label = b_label) WHERE rn = 1),
        |neg AS (SELECT a_id, b_id AS neg_id, cosine AS neg_cos FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM c WHERE a_label <> b_label) WHERE rn = 1)
        |SELECT pos.a_id, pos_id, pos_cos, neg_id, neg_cos
        |FROM pos JOIN neg ON neg.a_id = pos.a_id ORDER BY pos.a_id""".stripMargin,
    "q_label_prop" ->
      """WITH q AS (SELECT vec_id, label,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |contrib AS (SELECT vec_id, j,
        |    SUM(v * ((STRPOS('0123456789abcdef', SUBSTR(MD5(j || '|' || i), 1, 1)) - 1) % 2 * 2 - 1)) AS s
        |  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS j)
        |  GROUP BY vec_id, j),
        |sig AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM contrib GROUP BY vec_id),
        |bd AS (SELECT vec_id, band, (sig // CAST(POW(2, band * 8) AS BIGINT)) % 256 AS bv
        |       FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band)),
        |cands AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |          FROM bd a JOIN bd b ON a.band = b.band AND a.bv = b.bv
        |            AND a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0),
        |pd AS (SELECT c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
        |       FROM cands c JOIN e ea ON ea.vec_id = c.a_id
        |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
        |       GROUP BY c.a_id, c.b_id),
        |pc AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id),
        |top AS (SELECT a_id, b_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pc) WHERE rn <= 5),
        |votes AS (SELECT t.a_id, q2.label AS lbl, COUNT(*) AS votes
        |          FROM top t JOIN q q2 ON q2.vec_id = t.b_id GROUP BY 1, 2),
        |pred AS (SELECT a_id, lbl, votes FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY votes DESC, lbl ASC) AS pr
        |  FROM votes) WHERE pr = 1)
        |SELECT p.a_id AS vec_id, CAST(p.lbl AS BIGINT) AS pred_label, p.votes,
        |  p.lbl = qa.label AS correct
        |FROM pred p JOIN q qa ON qa.vec_id = p.a_id ORDER BY vec_id""".stripMargin,
    "q_editsim" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 32) AS s,
        |    substr(text, 1, 8) AS blk FROM documents)
        |SELECT a_id, b_id, dist FROM (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |  FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id)
        |WHERE dist <= 12 ORDER BY a_id, b_id""".stripMargin,
    "q_cosine_topk" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |         FROM e a JOIN e b ON a.i = b.i AND a.vec_id < 50 AND a.vec_id <> b.vec_id
        |         GROUP BY a.vec_id, b.vec_id),
        |cos AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM dots JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)
        |SELECT a_id, b_id, cosine, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM cos) WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_maxsim" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.qv AS qa, b.qv AS qb
        |      FROM q a JOIN q b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
        |s AS (SELECT a_id, b_id, i, MAX(dot) AS md FROM (
        |   SELECT a_id, b_id, i, j,
        |     CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 9), k ->
        |       qa[CAST(i * 8 + k AS INT)] * qb[CAST(j * 8 + k AS INT)])) AS BIGINT) AS dot
        |   FROM p, UNNEST(RANGE(0, 8)) AS u(i), UNNEST(RANGE(0, 8)) AS v(j))
        |   GROUP BY a_id, b_id, i),
        |m AS (SELECT a_id, b_id, CAST(SUM(md) AS BIGINT) AS maxsim FROM s GROUP BY a_id, b_id)
        |SELECT a_id, b_id, maxsim, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY maxsim DESC, b_id ASC) AS rn
        |  FROM m) WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_centroid_outlier" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |cd AS (SELECT a.vec_id AS v_id, b.vec_id AS c_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |       FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
        |       GROUP BY a.vec_id, b.vec_id),
        |cc AS (SELECT v_id, c_id,
        |  CAST(dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.nq AS DOUBLE))) AS ccos
        |  FROM cd JOIN n nv ON nv.vec_id = v_id JOIN n nc ON nc.vec_id = c_id),
        |assign AS (SELECT v_id, c_id, ccos FROM (
        |    SELECT v_id, c_id, ccos, ROW_NUMBER() OVER (PARTITION BY v_id
        |      ORDER BY ccos DESC, c_id ASC) AS crn FROM cc) WHERE crn = 1)
        |SELECT v_id AS vec_id, c_id AS cell, ROUND(ccos, 4) + 0 AS cos_r
        |FROM assign ORDER BY cos_r ASC, vec_id ASC LIMIT 20""".stripMargin,
    "q_quantize_embed" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |s AS (SELECT MIN(LIST_MIN(qv)) AS gmin, MAX(LIST_MAX(qv)) AS gmax FROM q),
        |m AS (SELECT vec_id, qv, gmin, GREATEST(gmax - gmin, 1) AS span FROM q CROSS JOIN s),
        |c AS (SELECT vec_id, qv, gmin, span,
        |    LIST_TRANSFORM(qv, x -> ((x - gmin) * 255) // span) AS q8 FROM m)
        |SELECT vec_id, MD5(ARRAY_TO_STRING(q8, ',')) AS q8_md5,
        |  CAST(LIST_SUM(LIST_TRANSFORM(
        |    LIST_TRANSFORM(RANGE(1, LEN(qv) + 1),
        |      i -> qv[CAST(i AS INT)] - (gmin + (q8[CAST(i AS INT)] * span) // 255)),
        |    e -> e * e)) AS BIGINT) AS sse
        |FROM c ORDER BY vec_id""".stripMargin,
    "q_embed_neardup" ->
      """WITH q AS (SELECT vec_id, label,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |dots AS (SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
        |           CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |         FROM e a JOIN e b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
        |         GROUP BY a.label, a.vec_id, b.vec_id)
        |SELECT CAST(label AS BIGINT) AS label, a_id, b_id, cosine FROM (
        |  SELECT label, a_id, b_id,
        |    ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM dots JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)
        |WHERE cosine >= 0.35 ORDER BY a_id, b_id""".stripMargin,
    "q_ann_ivf" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |cd AS (SELECT a.vec_id AS v_id, b.vec_id AS c_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |       FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
        |       GROUP BY a.vec_id, b.vec_id),
        |cc AS (SELECT v_id, c_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.nq AS DOUBLE))), 4) + 0 AS ccos
        |  FROM cd JOIN n nv ON nv.vec_id = v_id JOIN n nc ON nc.vec_id = c_id),
        |ranked AS (SELECT v_id, c_id, ccos,
        |    ROW_NUMBER() OVER (PARTITION BY v_id ORDER BY ccos DESC, c_id ASC) AS crn
        |  FROM cc),
        |assign AS (SELECT v_id AS b_id, c_id AS cell FROM ranked WHERE crn = 1),
        |probes AS (SELECT v_id AS a_id, c_id AS pcell FROM ranked
        |           WHERE crn <= 2 AND v_id >= 50 AND v_id < 60),
        |cands AS (SELECT DISTINCT p.a_id, s.b_id FROM probes p
        |          JOIN assign s ON p.pcell = s.cell WHERE s.b_id <> p.a_id),
        |pd AS (SELECT c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
        |       FROM cands c JOIN e ea ON ea.vec_id = c.a_id
        |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
        |       GROUP BY c.a_id, c.b_id),
        |pc AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)
        |SELECT a_id, b_id, cosine, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pc) WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_ann_recall" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |bd AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |       FROM e a JOIN e b ON a.i = b.i AND a.vec_id >= 50 AND a.vec_id < 60
        |         AND a.vec_id <> b.vec_id
        |       GROUP BY 1, 2),
        |bc AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM bd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id),
        |brute AS (SELECT a_id, b_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM bc) WHERE rn <= 3),
        |cd AS (SELECT a.vec_id AS v_id, b.vec_id AS c_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |       FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
        |       GROUP BY a.vec_id, b.vec_id),
        |cc AS (SELECT v_id, c_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.nq AS DOUBLE))), 4) + 0 AS ccos
        |  FROM cd JOIN n nv ON nv.vec_id = v_id JOIN n nc ON nc.vec_id = c_id),
        |ranked AS (SELECT v_id, c_id, ccos,
        |    ROW_NUMBER() OVER (PARTITION BY v_id ORDER BY ccos DESC, c_id ASC) AS crn
        |  FROM cc),
        |assign AS (SELECT v_id AS b_id, c_id AS cell FROM ranked WHERE crn = 1),
        |probes AS (SELECT v_id AS a_id, c_id AS pcell FROM ranked
        |           WHERE crn <= 2 AND v_id >= 50 AND v_id < 60),
        |cands AS (SELECT DISTINCT p.a_id, s.b_id FROM probes p
        |          JOIN assign s ON p.pcell = s.cell WHERE s.b_id <> p.a_id),
        |pd AS (SELECT c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
        |       FROM cands c JOIN e ea ON ea.vec_id = c.a_id
        |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
        |       GROUP BY c.a_id, c.b_id),
        |pc AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id),
        |ivf AS (SELECT a_id, b_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pc) WHERE rn <= 3),
        |hits AS (SELECT i.a_id, COUNT(*) AS n_hits FROM ivf i
        |         JOIN brute USING (a_id, b_id) GROUP BY 1)
        |SELECT p.a_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) * 10000 // 3 AS BIGINT) AS recall_bp
        |FROM (SELECT vec_id AS a_id FROM q WHERE vec_id >= 50 AND vec_id < 60) p
        |LEFT JOIN hits h USING (a_id) ORDER BY a_id""".stripMargin,
    "q_kmeans_step" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |cd AS (SELECT a.vec_id AS v_id, b.vec_id AS c_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |       FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
        |       GROUP BY a.vec_id, b.vec_id),
        |cc AS (SELECT v_id, c_id,
        |  CAST(dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.nq AS DOUBLE))) AS ccos
        |  FROM cd JOIN n nv ON nv.vec_id = v_id JOIN n nc ON nc.vec_id = c_id),
        |assign AS (SELECT v_id, c_id AS cell FROM (
        |    SELECT v_id, c_id, ROW_NUMBER() OVER (PARTITION BY v_id
        |      ORDER BY ccos DESC, c_id ASC) AS crn FROM cc) WHERE crn = 1),
        |m AS (SELECT a.cell, e.i - 1 AS pos, e.v
        |      FROM assign a JOIN e ON e.vec_id = a.v_id)
        |SELECT cell, CAST(pos AS BIGINT) AS pos, COUNT(*) AS n_members,
        |  CAST(SUM(v) AS BIGINT) AS dim_sum,
        |  CAST(CASE WHEN SUM(v) >= 0 THEN SUM(v) // COUNT(*)
        |       ELSE -((-SUM(v)) // COUNT(*)) END AS BIGINT) AS mean_q
        |FROM m GROUP BY cell, pos ORDER BY cell, pos""".stripMargin,
    "q_kmeans_multi" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |cd1 AS (SELECT a.vec_id AS v_id, b.vec_id AS c_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |        FROM e a JOIN e b ON a.i = b.i AND b.vec_id < 16
        |        GROUP BY a.vec_id, b.vec_id),
        |cc1 AS (SELECT v_id, c_id,
        |  CAST(dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.nq AS DOUBLE))) AS ccos
        |  FROM cd1 JOIN n nv ON nv.vec_id = v_id JOIN n nc ON nc.vec_id = c_id),
        |assign1 AS (SELECT v_id, c_id AS cell FROM (
        |    SELECT v_id, c_id, ROW_NUMBER() OVER (PARTITION BY v_id
        |      ORDER BY ccos DESC, c_id ASC) AS crn FROM cc1) WHERE crn = 1),
        |m1 AS (SELECT a.cell, e.i, COUNT(*) AS n_members,
        |    CAST(SUM(e.v) AS BIGINT) AS dim_sum,
        |    CAST(CASE WHEN SUM(e.v) >= 0 THEN SUM(e.v) // COUNT(*)
        |         ELSE -((-SUM(e.v)) // COUNT(*)) END AS BIGINT) AS mean_q
        |    FROM assign1 a JOIN e ON e.vec_id = a.v_id GROUP BY a.cell, e.i),
        |nc1 AS (SELECT cell, CAST(SUM(mean_q * mean_q) AS BIGINT) AS nc
        |        FROM m1 GROUP BY cell HAVING SUM(mean_q * mean_q) > 0),
        |cd2 AS (SELECT e.vec_id AS v_id, m.cell AS c_id,
        |    CAST(SUM(e.v * m.mean_q) AS BIGINT) AS dq
        |    FROM e JOIN m1 m ON m.i = e.i
        |    JOIN nc1 ON nc1.cell = m.cell
        |    GROUP BY e.vec_id, m.cell),
        |cc2 AS (SELECT v_id, c_id,
        |  CAST(dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc1.nc AS DOUBLE))) AS ccos
        |  FROM cd2 JOIN n nv ON nv.vec_id = v_id JOIN nc1 ON nc1.cell = c_id),
        |assign2 AS (SELECT v_id, c_id AS cell FROM (
        |    SELECT v_id, c_id, ROW_NUMBER() OVER (PARTITION BY v_id
        |      ORDER BY ccos DESC, c_id ASC) AS crn FROM cc2) WHERE crn = 1)
        |SELECT a.cell, CAST(e.i - 1 AS BIGINT) AS pos, COUNT(*) AS n_members,
        |  CAST(SUM(e.v) AS BIGINT) AS dim_sum,
        |  CAST(CASE WHEN SUM(e.v) >= 0 THEN SUM(e.v) // COUNT(*)
        |       ELSE -((-SUM(e.v)) // COUNT(*)) END AS BIGINT) AS mean_q
        |FROM assign2 a JOIN e ON e.vec_id = a.v_id
        |GROUP BY a.cell, e.i ORDER BY cell, pos""".stripMargin,
    "q_minhash_dedup" ->
      s"""WITH w AS (SELECT DISTINCT doc_id, word FROM
         |  (SELECT doc_id, UNNEST($duckToks) AS word FROM documents)),
         |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
         |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
         |      GROUP BY doc_id, i),
         |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
         |      FROM h GROUP BY doc_id, i // 2)
         |SELECT band, sig, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM b GROUP BY band, sig HAVING COUNT(*) > 1 ORDER BY band, sig""".stripMargin,
    "q_minhash_pairs" ->
      s"""WITH w AS (SELECT DISTINCT doc_id, word FROM
         |  (SELECT doc_id, UNNEST($duckToks) AS word FROM documents WHERE doc_id < 100)),
         |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
         |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
         |      GROUP BY doc_id, i),
         |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
         |      FROM h GROUP BY doc_id, i // 2)
         |SELECT a.doc_id AS a_id, b2.doc_id AS b_id, COUNT(*) AS n_bands
         |FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig
         |  AND a.doc_id < b2.doc_id
         |GROUP BY a.doc_id, b2.doc_id ORDER BY a_id, b_id""".stripMargin,
    "q_minhash_est" ->
      s"""WITH w AS (SELECT DISTINCT doc_id, word FROM
         |  (SELECT doc_id, UNNEST($duckToks) AS word FROM documents WHERE doc_id < 100)),
         |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
         |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
         |      GROUP BY doc_id, i),
         |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
         |      FROM h GROUP BY doc_id, i // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id
         |         FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig
         |           AND a.doc_id < b2.doc_id),
         |est AS (SELECT c.a_id, c.b_id,
         |          CAST(10000 * COUNT(CASE WHEN ha.mh = hb.mh THEN 1 END) // 8 AS BIGINT) AS est_bp
         |        FROM cand c JOIN h ha ON ha.doc_id = c.a_id
         |        JOIN h hb ON hb.doc_id = c.b_id AND hb.i = ha.i
         |        GROUP BY 1, 2),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
         |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS i FROM cand c
         |          JOIN w wa ON wa.doc_id = c.a_id
         |          JOIN w wb ON wb.doc_id = c.b_id AND wb.word = wa.word
         |          GROUP BY 1, 2)
         |SELECT e.a_id, e.b_id, e.est_bp,
         |  i * 10000 // (na + nb - i) AS jac_bp,
         |  ABS(e.est_bp - i * 10000 // (na + nb - i)) AS err_bp
         |FROM est e JOIN inter USING (a_id, b_id)
         |JOIN (SELECT doc_id AS a_id, n AS na FROM sz) USING (a_id)
         |JOIN (SELECT doc_id AS b_id, n AS nb FROM sz) USING (b_id)
         |ORDER BY a_id, b_id""".stripMargin,
    "q_dedup_audit" ->
      s"""WITH w AS (SELECT DISTINCT doc_id, word FROM
         |  (SELECT doc_id, UNNEST($duckToks) AS word FROM documents WHERE doc_id < 100)),
         |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
         |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
         |      GROUP BY doc_id, i),
         |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
         |      FROM h GROUP BY doc_id, i // 2),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b2.doc_id AS b_id
         |         FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig
         |           AND a.doc_id < b2.doc_id),
         |est AS (SELECT c.a_id, c.b_id,
         |          CAST(10000 * COUNT(CASE WHEN ha.mh = hb.mh THEN 1 END) // 8 AS BIGINT) AS est_bp
         |        FROM cand c JOIN h ha ON ha.doc_id = c.a_id
         |        JOIN h hb ON hb.doc_id = c.b_id AND hb.i = ha.i
         |        GROUP BY 1, 2),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
         |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS i FROM cand c
         |          JOIN w wa ON wa.doc_id = c.a_id
         |          JOIN w wb ON wb.doc_id = c.b_id AND wb.word = wa.word
         |          GROUP BY 1, 2),
         |f AS (SELECT e.est_bp, i * 10000 // (na + nb - i) AS jac_bp
         |      FROM est e JOIN inter USING (a_id, b_id)
         |      JOIN (SELECT doc_id AS a_id, n AS na FROM sz) USING (a_id)
         |      JOIN (SELECT doc_id AS b_id, n AS nb FROM sz) USING (b_id)),
         |cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(COUNT(*) FILTER (WHERE est_bp >= 3000 AND jac_bp >= 3000) AS BIGINT) AS tp,
         |  CAST(COUNT(*) FILTER (WHERE est_bp >= 3000 AND jac_bp < 3000) AS BIGINT) AS fp,
         |  CAST(COUNT(*) FILTER (WHERE est_bp < 3000 AND jac_bp >= 3000) AS BIGINT) AS fn,
         |  CAST(COUNT(*) FILTER (WHERE est_bp < 3000 AND jac_bp < 3000) AS BIGINT) AS tn
         |  FROM f)
         |SELECT n_pairs, tp, fp, fn, tn,
         |  tp * 1000000 // GREATEST(tp + fp, 1) AS precision_ppm,
         |  tp * 1000000 // GREATEST(tp + fn, 1) AS recall_ppm,
         |  (tp + tn) * 1000000 // GREATEST(n_pairs, 1) AS accuracy_ppm
         |FROM cm""".stripMargin,
    "q_simhash" ->
      s"""WITH w AS (SELECT DISTINCT doc_id, word FROM
         |  (SELECT doc_id, UNNEST($duckToks) AS word FROM documents)),
         |bits AS (SELECT doc_id, j,
         |    SUM((STRPOS('0123456789abcdef', SUBSTR(MD5(word), j // 4 + 1, 1)) - 1)
         |        // CAST(POW(2, j % 4) AS INT) % 2 * 2 - 1) AS s
         |  FROM w CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS j)
         |  GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_simhash_pairs" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |bits AS (SELECT doc_id, j,
        |    SUM(((STRPOS('0123456789abcdef', SUBSTR(MD5(word), j // 4 + 1, 1)) - 1)
        |        // CAST(POW(2, j % 4) AS INT)) % 2 * 2 - 1) AS sgn
        |  FROM w CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS j)
        |  GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, j // 16 AS band,
        |    CAST(SUM(CASE WHEN sgn > 0 THEN CAST(POW(2, j % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS bv
        |  FROM bits GROUP BY doc_id, j // 16),
        |probes AS (SELECT doc_id, band,
        |    CASE WHEN k = 0 THEN bv ELSE xor(bv, CAST(POW(2, k - 1) AS BIGINT)) END AS pv
        |  FROM bands CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 16)) AS k)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM probes a JOIN bands b ON a.band = b.band AND a.pv = b.bv
        |           AND a.doc_id < b.doc_id),
        |ham AS (SELECT c.a_id, c.b_id,
        |    CAST(SUM(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
        |  FROM cand c JOIN bands ba ON ba.doc_id = c.a_id
        |  JOIN bands bb ON bb.doc_id = c.b_id AND bb.band = ba.band
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, hamming, hamming <= 6 AS is_near
        |FROM ham ORDER BY a_id, b_id""".stripMargin,
    "q_simhash_cluster" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |bits AS (SELECT doc_id, j,
        |    SUM(((STRPOS('0123456789abcdef', SUBSTR(MD5(word), j // 4 + 1, 1)) - 1)
        |        // CAST(POW(2, j % 4) AS INT)) % 2 * 2 - 1) AS sgn
        |  FROM w CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS j)
        |  GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, j // 16 AS band,
        |    CAST(SUM(CASE WHEN sgn > 0 THEN CAST(POW(2, j % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS bv
        |  FROM bits GROUP BY doc_id, j // 16),
        |probes AS (SELECT doc_id, band,
        |    CASE WHEN k = 0 THEN bv ELSE xor(bv, CAST(POW(2, k - 1) AS BIGINT)) END AS pv
        |  FROM bands CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 16)) AS k)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM probes a JOIN bands b ON a.band = b.band AND a.pv = b.bv
        |           AND a.doc_id < b.doc_id),
        |ham AS (SELECT c.a_id, c.b_id,
        |    CAST(SUM(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
        |  FROM cand c JOIN bands ba ON ba.doc_id = c.a_id
        |  JOIN bands bb ON bb.doc_id = c.b_id AND bb.band = ba.band
        |  GROUP BY 1, 2),
        |pr AS (SELECT a_id, b_id FROM ham WHERE hamming <= 6),
        |e AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
        |r AS (SELECT a AS n, a AS lbl FROM (SELECT DISTINCT a FROM e)
        |      UNION SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.n),
        |c AS (SELECT n, MIN(lbl) AS cluster FROM r GROUP BY n)
        |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
        |  d.doc_id = COALESCE(c.cluster, d.doc_id) AS is_canon
        |FROM documents d LEFT JOIN c ON c.n = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_cluster" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
        |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
        |      GROUP BY doc_id, i),
        |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
        |      FROM h GROUP BY doc_id, i // 2),
        |e AS (SELECT DISTINCT a.doc_id AS a, b2.doc_id AS b
        |      FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig),
        |r AS (SELECT a AS n, a AS lbl FROM (SELECT DISTINCT a FROM e)
        |      UNION SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.n),
        |c AS (SELECT n, MIN(lbl) AS cluster FROM r GROUP BY n)
        |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
        |  d.doc_id = COALESCE(c.cluster, d.doc_id) AS is_canon
        |FROM documents d LEFT JOIN c ON c.n = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_survivor" ->
      """WITH RECURSIVE t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
        |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
        |      GROUP BY doc_id, i),
        |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
        |      FROM h GROUP BY doc_id, i // 2),
        |e AS (SELECT DISTINCT a.doc_id AS a, b2.doc_id AS b
        |      FROM b a JOIN b b2 ON a.band = b2.band AND a.sig = b2.sig),
        |r AS (SELECT a AS n, a AS lbl FROM (SELECT DISTINCT a FROM e)
        |      UNION SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.n),
        |c AS (SELECT n, MIN(lbl) AS cluster FROM r GROUP BY n),
        |m AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster,
        |        CAST(COALESCE(d.n_chars, 0) AS BIGINT) AS nc
        |      FROM documents d LEFT JOIN c ON c.n = d.doc_id),
        |g AS (SELECT cluster, COUNT(*) AS cluster_size, MAX(nc) AS maxc
        |      FROM m GROUP BY cluster),
        |sv AS (SELECT m.cluster, MIN(m.doc_id) AS survivor_id
        |       FROM m JOIN g ON g.cluster = m.cluster AND m.nc = g.maxc
        |       GROUP BY m.cluster)
        |SELECT m.doc_id, m.cluster, g.cluster_size, sv.survivor_id,
        |  m.doc_id = sv.survivor_id AS keep,
        |  1000000 // g.cluster_size AS weight_ppm
        |FROM m JOIN g USING (cluster) JOIN sv USING (cluster)
        |ORDER BY m.doc_id""".stripMargin,
    "q_semdedup_cluster" ->
      """WITH RECURSIVE q AS (SELECT vec_id, label,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |dots AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |         FROM e a JOIN e b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
        |         GROUP BY a.vec_id, b.vec_id),
        |pr AS (SELECT a_id, b_id FROM (
        |  SELECT a_id, b_id,
        |    ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM dots JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)
        |  WHERE cosine >= 0.35),
        |ed AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
        |r AS (SELECT a AS nd, a AS lbl FROM (SELECT DISTINCT a FROM ed)
        |      UNION SELECT ed.b, r.lbl FROM r JOIN ed ON ed.a = r.nd),
        |c AS (SELECT nd, MIN(lbl) AS cluster FROM r GROUP BY nd)
        |SELECT em.vec_id, COALESCE(c.cluster, em.vec_id) AS cluster,
        |  em.vec_id = COALESCE(c.cluster, em.vec_id) AS is_canon
        |FROM embeddings em LEFT JOIN c ON c.nd = em.vec_id
        |ORDER BY em.vec_id""".stripMargin,
    "q_ann_lsh_det" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |contrib AS (SELECT vec_id, j,
        |    SUM(v * ((STRPOS('0123456789abcdef', SUBSTR(MD5(j || '|' || i), 1, 1)) - 1) % 2 * 2 - 1)) AS s
        |  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS j)
        |  GROUP BY vec_id, j),
        |sig AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM contrib GROUP BY vec_id),
        |bd AS (SELECT vec_id, band, (sig // CAST(POW(2, band * 4) AS BIGINT)) % 16 AS nibble
        |       FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band)),
        |cands AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |          FROM bd a JOIN bd b ON a.band = b.band AND a.nibble = b.nibble
        |            AND a.vec_id < 50 AND a.vec_id <> b.vec_id),
        |pd AS (SELECT c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
        |       FROM cands c JOIN e ea ON ea.vec_id = c.a_id
        |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
        |       GROUP BY c.a_id, c.b_id),
        |pc AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id)
        |SELECT a_id, b_id, cosine, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pc) WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin,
    "q_ann_lsh_probes" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |contrib AS (SELECT vec_id, j,
        |    SUM(v * ((STRPOS('0123456789abcdef', SUBSTR(MD5(j || '|' || i), 1, 1)) - 1) % 2 * 2 - 1)) AS s
        |  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS j)
        |  GROUP BY vec_id, j),
        |sig AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM contrib GROUP BY vec_id),
        |bd AS (SELECT vec_id, band, (sig // CAST(POW(2, band * 4) AS BIGINT)) % 16 AS nibble
        |       FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band)),
        |pm AS (SELECT p.vec_id AS a_id, p.band AS pband, gi.i AS pi,
        |         CASE WHEN gi.i = 0 THEN p.nibble
        |              ELSE XOR(p.nibble, CAST(POW(2, gi.i - 1) AS BIGINT)) END AS pnib
        |       FROM bd p CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 4)) AS i) gi
        |       WHERE p.vec_id >= 50 AND p.vec_id < 60),
        |modes(mode, imax) AS (VALUES ('single', 0), ('multi', 4)),
        |cands AS (SELECT DISTINCT m.mode, p.a_id, b.vec_id AS b_id
        |          FROM modes m JOIN pm p ON p.pi <= m.imax
        |          JOIN bd b ON b.band = p.pband AND b.nibble = p.pnib
        |            AND b.vec_id <> p.a_id),
        |pd AS (SELECT c.mode, c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
        |       FROM cands c JOIN e ea ON ea.vec_id = c.a_id
        |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
        |       GROUP BY c.mode, c.a_id, c.b_id),
        |pc AS (SELECT mode, a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id),
        |top3 AS (SELECT mode, a_id, b_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY mode, a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pc) WHERE rn <= 3),
        |bdot AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, CAST(SUM(a.v * b.v) AS BIGINT) AS dq
        |       FROM e a JOIN e b ON a.i = b.i AND a.vec_id >= 50 AND a.vec_id < 60
        |         AND a.vec_id <> b.vec_id
        |       GROUP BY 1, 2),
        |bcos AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM bdot JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id),
        |brute AS (SELECT a_id, b_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM bcos) WHERE rn <= 3),
        |hits AS (SELECT t.mode, t.a_id, COUNT(*) AS n_hits FROM top3 t
        |         JOIN brute b USING (a_id, b_id) GROUP BY 1, 2),
        |nc AS (SELECT mode, a_id, COUNT(*) AS n_cands FROM cands GROUP BY 1, 2)
        |SELECT m.mode, p.a_id,
        |  CAST(COALESCE(nc.n_cands, 0) AS BIGINT) AS n_cands,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) * 10000 // 3 AS BIGINT) AS recall_bp
        |FROM (SELECT vec_id AS a_id FROM q WHERE vec_id >= 50 AND vec_id < 60) p
        |CROSS JOIN (SELECT mode FROM modes) m
        |LEFT JOIN nc ON nc.mode = m.mode AND nc.a_id = p.a_id
        |LEFT JOIN hits h ON h.mode = m.mode AND h.a_id = p.a_id
        |ORDER BY m.mode, p.a_id""".stripMargin,
    "q_knn_graph" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |contrib AS (SELECT vec_id, j,
        |    SUM(v * ((STRPOS('0123456789abcdef', SUBSTR(MD5(j || '|' || i), 1, 1)) - 1) % 2 * 2 - 1)) AS s
        |  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS j)
        |  GROUP BY vec_id, j),
        |sig AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN s >= 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
        |  FROM contrib GROUP BY vec_id),
        |bd AS (SELECT vec_id, band, (sig // CAST(POW(2, band * 8) AS BIGINT)) % 256 AS bv
        |       FROM sig CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band)),
        |cands AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |          FROM bd a JOIN bd b ON a.band = b.band AND a.bv = b.bv
        |            AND a.vec_id <> b.vec_id),
        |pd AS (SELECT c.a_id, c.b_id, CAST(SUM(ea.v * eb.v) AS BIGINT) AS dq
        |       FROM cands c JOIN e ea ON ea.vec_id = c.a_id
        |       JOIN e eb ON eb.vec_id = c.b_id AND eb.i = ea.i
        |       GROUP BY c.a_id, c.b_id),
        |pc AS (SELECT a_id, b_id,
        |  ROUND(CAST(dq AS DOUBLE) / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb.nq AS DOUBLE))), 4) + 0 AS cosine
        |  FROM pd JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id),
        |knn AS (SELECT a_id, b_id, cosine, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cosine DESC, b_id ASC) AS rn
        |  FROM pc) WHERE rn <= 3)
        |SELECT k.a_id, k.rn, k.b_id, k.cosine, m.a_id IS NOT NULL AS mutual
        |FROM knn k LEFT JOIN knn m ON m.a_id = k.b_id AND m.b_id = k.a_id
        |ORDER BY k.a_id, k.rn""".stripMargin,
    "q_cluster_sample" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (SELECT vec_id, GENERATE_SUBSCRIPTS(qv, 1) AS i, UNNEST(qv) AS v FROM q),
        |n AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS nq FROM e GROUP BY vec_id),
        |dots AS (SELECT v.vec_id AS v_id, c.vec_id AS c_id, CAST(SUM(v.v * c.v) AS BIGINT) AS dq
        |         FROM e v JOIN e c ON c.i = v.i AND c.vec_id < 16 GROUP BY 1, 2),
        |assign AS (SELECT v_id, c_id AS cell FROM (
        |    SELECT d.v_id, d.c_id,
        |      ROW_NUMBER() OVER (PARTITION BY d.v_id ORDER BY
        |        CAST(d.dq AS DOUBLE) / (SQRT(CAST(nv.nq AS DOUBLE)) * SQRT(CAST(nc.nq AS DOUBLE))) DESC,
        |        d.c_id ASC) AS crn
        |    FROM dots d JOIN n nv ON nv.vec_id = d.v_id JOIN n nc ON nc.vec_id = d.c_id)
        |  WHERE crn = 1),
        |sz AS (SELECT cell, COUNT(*) AS cell_n FROM assign GROUP BY cell),
        |rk AS (SELECT a.v_id, a.cell, s.cell_n,
        |       ROW_NUMBER() OVER (PARTITION BY a.cell
        |         ORDER BY MD5(CAST(a.v_id AS VARCHAR)), a.v_id) AS rk
        |       FROM assign a JOIN sz s USING (cell))
        |SELECT cell, rk, v_id AS vec_id, cell_n FROM rk
        |WHERE rk <= CAST(FLOOR(SQRT(CAST(cell_n AS DOUBLE))) AS BIGINT)
        |ORDER BY cell, rk""".stripMargin,
    // Brute-force twin: the oracle joins on EVERY shared shingle —
    // correct, and exactly the blowup the prefix filter avoids.
    "q_simjoin" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT a_id, b_id, inter, na + nb - inter AS uni,
         |  inter * 10000 // (na + nb - inter) AS jac_bp
         |FROM inter
         |JOIN (SELECT doc_id AS a_id, n AS na FROM sz) USING (a_id)
         |JOIN (SELECT doc_id AS b_id, n AS nb FROM sz) USING (b_id)
         |WHERE inter * 10000 // (na + nb - inter) >= 9000
         |ORDER BY a_id, b_id""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents WHERE doc_id < 40),
         |bg AS (SELECT DISTINCT doc_id, bg FROM
         |  (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
         |     k -> toks[k] || ' ' || toks[k + 1])) AS bg FROM t)),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |          FROM bg a JOIN bg b ON a.bg = b.bg AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT a_id, b_id, inter, na + nb - inter AS uni,
         |  inter * 10000 // (na + nb - inter) AS jac_bp
         |FROM inter
         |JOIN (SELECT doc_id AS a_id, n AS na FROM sizes) USING (a_id)
         |JOIN (SELECT doc_id AS b_id, n AS nb FROM sizes) USING (b_id)
         |ORDER BY a_id, b_id""".stripMargin
  )

  // The store-backed probe is bit-identical to the recompute pipeline
  // by construction (shared codebook selection, cosine and tie-break
  // conventions), so it shares q_ann_ivf's oracle verbatim — putting
  // the persisted-index round-trip itself under hash-oracle coverage.
  val oracles: Map[String, String] =
    oraclesBase + ("q_ann_index_probe" -> oraclesBase("q_ann_ivf")) +
      ("q_ann_probe_compacted" -> oraclesBase("q_ann_ivf"))
}
