package graft.queries

import graft.Checkpoints
import graft.Tables.load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.BatchId
import graft.functions.TokenCountRewrite.tokens

/** Training-data pipeline operators over `documents` (round-2 extension
  * surface): deterministic sampling and dataset splits, gopher-style
  * repetition/quality filters, TF-IDF term weighting, sequence packing
  * into fixed token budgets, corpus n-gram statistics, text
  * normalization, and chunk-level exact dedup.
  *
  * Scale shapes: everything is narrow maps + hash aggregations; the only
  * window (`q_pack_greedy`) partitions by `lang` so no global sort-order
  * state exists — at 100 TB each stratum packs independently. Sampling
  * and splits hash the KEY (md5), never rand(): reproducible across
  * retries, executors, and engines.
  *
  * Cross-engine determinism: ratios in integer basis points
  * (`x * 10000 DIV n`), weights in integer arithmetic, every query
  * totally ordered.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  /** Cross-document repeated runs of >= `minShingles` consecutive
    * shared 4-gram shingles — the exact-substring-dedup kernel behind
    * q_substring_dedup (conf-thresholded) and q_substring_dedup50 (the
    * published ~50-token threshold). Shapes: checkpointed positioned
    * shingle pass, shared-gram semi-join, gaps-and-islands run grouping
    * per doc. */
  private def substringRuns(s: SparkSession, d: String,
                            minShingles: Int): DataFrame = {
    // r21: graft_gram_md5s hashes every positioned 4-gram in one pass
    // with a reused digest — bit-equal to the transform+array_join+md5
    // form (TextExprsSpec); position semantics of posexplode unchanged
    // r22 (guide §2.3 narrower types, VERDICT r21 #4): the shingle hash
    // is equality-keyed ONLY (shared-marking aggregate + join-back) and
    // never reaches any output, so carry it as the 16-BYTE unhex of the
    // same md5 instead of the 32-char hex string — a bijection, zero
    // collision change, and it halves the key bytes in the checkpoint
    // and both gh-keyed exchanges of the family's dominant stream.
    val grams0 = load(s, d, "documents")
      .withColumn("toks", expr(tokens))
      .select(col("doc_id"),
        posexplode(expr("graft_gram_md5s(toks, 4)")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        unhex(col("col")).as("gh"))
    val grams = Checkpoints.ckpt(grams0)
    val shared = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(shared, "gh")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_shingles") >= minShingles)
      .select(col("doc_id"), col("start_pos"), col("n_shingles"),
        (col("n_shingles") + 3).as("n_tokens"))
      .orderBy("doc_id", "start_pos")
  }

  /** (doc_id, chunk) rows of the fixed-stride 4-token chunking — ONE
    * definition shared by q_chunk_dedup and q_dup_histogram.
    * Size-0 guard: sequence(0, floor(-1/4.0)) = sequence(0, -1) runs
    * DESCENDING in Spark ([0, -1] → two phantom "" chunks); DuckDB's
    * RANGE is just empty — an empty/whitespace-only doc must emit no
    * chunks in both engines. */
  private def chunked(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .withColumn("toks", expr(tokens))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 1 THEN" +
          " transform(sequence(0, CAST(floor((size(toks) - 1) / 4.0) AS INT))," +
          " c -> array_join(slice(toks, c * 4 + 1, 4), ' '))" +
          " ELSE CAST(array() AS ARRAY<STRING>) END")).as("chunk"))
  private val duckToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** Reassembly segment width (tokens) for `q_substring_strip` — caps the
    * per-buffer element count of the ordered-reassembly aggregation at
    * 64 Ki positioned structs regardless of document length (the scale
    * hazard is per-DOCUMENT buffers: a 16 MB body is ~3 M tokens).
    * Package-visible so SubstringStripSpec can build documents that
    * provably span segments. */
  private[graft] val StripSegTokens = 65536L

  /** Probe count for `q_bloom_decontaminate`'s bloom bitmap. */
  private[graft] val BloomK = 3

  /** Bloom bitmap size in BITS for `q_bloom_decontaminate` — a power of
    * two >= 64 so word indexing is exact. The default 2^20 (128 KB)
    * holds ~20 Ki eval grams at FPR ~1e-4 with k=3; raising it for a
    * bigger eval set costs driver + task-broadcast memory only, never a
    * data-scaled structure. */
  private[graft] def bloomBits(s: SparkSession): Long =
    s.conf.getOption("spark.graft.bloom.bits").map { v =>
      val n =
        try v.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"spark.graft.bloom.bits must be a power-of-two long >= 64, got '$v'")
        }
      if (n < 64 || (n & (n - 1)) != 0)
        throw new IllegalArgumentException(
          s"spark.graft.bloom.bits must be a power of two >= 64, got $n")
      // the bitmap lives on the driver and in one broadcast: cap at
      // 2^33 bits (1 GiB) — beyond that (m/64) also stops fitting the
      // JVM array index space, so fail descriptively here rather than
      // with a NegativeArraySizeException at build time
      if (n > (1L << 33))
        throw new IllegalArgumentException(
          s"spark.graft.bloom.bits must be <= ${1L << 33} (1 GiB bitmap), got $n")
      n
    }.getOrElse(1L << 20)

  /** Deterministic 1/16 eval-sample membership by doc_id — ONE
    * definition shared by both decontamination variants, DSIR and
    * q_pipeline_e2e, so the sample can never drift between queries that
    * declare related oracles. */
  private def isEvalDoc =
    substring(md5(concat(col("doc_id").cast("string"),
      lit("|eval")).cast("binary")), 1, 1) < "1"

  /** Gopher-style keep rule over per-doc (n_toks, n_distinct, top_c):
    * duplicate-token share <= 45% and top-token share <= 10%, in integer
    * basis points — shared by q_gopher_quality's `keep` flag and
    * q_pipeline_e2e's quality gate. */
  private val gopherKeep = "(n_toks - n_distinct) * 10000 DIV n_toks <= 4500 AND " +
    "top_c * 10000 DIV n_toks <= 1000"

  /** One tokenize+shingle+md5 pass over the corpus, checkpointed:
    * compact (doc_id, gh) rows shared by both decontamination
    * variants. Same hazard-pinning rationale as [[Shingles]] — the two
    * variants share one oracle, so their gram definition must be one
    * place. At 100 TB the checkpoint also halves the job: both the
    * eval and train branches read the materialized rows instead of
    * re-running the dominant tokenize/shingle CPU work. */
  private def corpusGrams(s: SparkSession, d: String): DataFrame = {
    // r21: one-pass gram hashing (see substringRuns)
    Checkpoints.ckpt(load(s, d, "documents")
      .withColumn("toks", expr(tokens))
      .select(col("doc_id"),
        explode(expr("graft_gram_md5s(toks, 4)")).as("gh")))
  }

  val queries: Map[String, Q] = Map(
    // RECIPROCAL RANK FUSION (hybrid retrieval, Cormack et al.'s RRF):
    // two independent retrieval signals — lexical term frequency for a
    // fixed query ('join hash scan') and vocabulary richness (distinct
    // token count) — each rank a top-20 head, and the fused score is
    // Σ 1e6/(60+rank) over the systems that retrieved the doc, integer
    // ppm throughout (k=60 is the canonical RRF constant). Scale shape:
    // each system's head is a TakeOrderedAndProject (never a global
    // window over the corpus); ranks attach via a broadcast theta
    // self-join of the BOUNDED 20-row head against itself (rank = 1 +
    // rows strictly ahead — windowless, 400 comparisons); fusion is a
    // full outer join of two 20-row sets. At 100 TB the heads come
    // from index probes (q_bm25 / q_ann_index_probe) and fusion stays
    // O(heads) — RRF is exactly the op that merges a lexical and a
    // dense retriever.
    "q_rrf" -> ((s, d) => {
      val docs = load(s, d, "documents").withColumn("toks", expr(tokens))
      def rankedHead(scored: DataFrame, rank: String): DataFrame = {
        val h = scored.orderBy(col("s").desc, col("doc_id").asc).limit(20)
        h.as("a").join(broadcast(h.as("b")),
            col("b.s") > col("a.s") ||
              (col("b.s") === col("a.s") && col("b.doc_id") < col("a.doc_id")),
            "left")
          .groupBy(col("a.doc_id").as("doc_id"))
          .agg((count(col("b.doc_id")) + 1).as(rank))
          .select(col("doc_id"), col(rank))
      }
      val lex = rankedHead(docs.select(col("doc_id"),
        // r22: graft_count_in replaces the interpreted IN filter
        expr("graft_count_in(toks, 'join,hash,scan')").as("s")), "rank_lex")
      val voc = rankedHead(docs.select(col("doc_id"),
        expr("CAST(size(array_distinct(toks)) AS BIGINT)").as("s")), "rank_voc")
      lex.join(voc, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("rank_lex"), col("rank_voc"),
          (coalesce(expr("1000000 DIV (60 + rank_lex)"), lit(0L)) +
            coalesce(expr("1000000 DIV (60 + rank_voc)"), lit(0L))).as("rrf_ppm"))
        .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
        .limit(10)
    }),

    // Deterministic BALANCED SHARD ASSIGNMENT — the write-side op that
    // spreads token mass evenly over N output shards: docs ranked
    // globally by (n_toks DESC, doc_id) are dealt to 8 shards in a
    // SNAKE (boustrophedon) pattern — pass p assigns ascending on even
    // p, descending on odd — which bounds the token-mass gap between
    // any two shards by one doc per pass (the classic LPT-style
    // greedy without iterative state). The global rank is computed
    // WITHOUT a corpus-wide single-partition window: rank = (offset of
    // the doc's n_toks value from a values-level running sum, bounded
    // |distinct n_toks| rows, broadcast back) + (row_number within the
    // value, PARTITIONED window) — the same two-level ranking that
    // survives 100 TB, where a bare partition-less window would serialize the
    // corpus through one task.
    "q_shard_assign" -> ((s, d) => {
      val dl = load(s, d, "documents")
        .select(col("doc_id"), expr(s"CAST(size($tokens) AS BIGINT)").as("n_toks"))
      // values-level frame: one row per distinct token count (bounded —
      // token counts, not docs). The descending-rank offset of each
      // value is an O(nv²) self-join over this metadata-scale frame
      // (the q_compact_bins prefix-sum convention — NOT a partition-less
      // running-sum window), broadcast back onto the docs.
      val vals = dl.groupBy(col("n_toks")).agg(count(lit(1)).as("c"))
      val offsets = vals.as("a")
        .join(vals.as("b"), col("b.n_toks") > col("a.n_toks"), "left")
        .groupBy(col("a.n_toks").as("n_toks"))
        .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
      val wv = Window.partitionBy(col("n_toks")).orderBy(col("doc_id"))
      dl.join(broadcast(offsets), "n_toks")
        .withColumn("rn0", col("off") + row_number().over(wv) - 1)
        .withColumn("shard", expr(
          "CASE WHEN (rn0 DIV 8) % 2 = 0 THEN rn0 % 8 ELSE 7 - rn0 % 8 END"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_toks"))
        .orderBy("shard")
    }),

    // Deterministic 2/16 sample, stratified by the md5 of the key (not
    // rand() — reproducible across retries/executors; the same doc ids
    // survive in any engine). First hex digit < '2' keeps 2/16.
    "q_sample_det" -> ((s, d) =>
      load(s, d, "documents")
        .withColumn("h", substring(md5(concat(col("doc_id").cast("string"),
          lit("|s0")).cast("binary")), 1, 1))
        .filter(col("h") < "2")
        .select(col("doc_id"), col("lang"), col("h"))
        .orderBy("doc_id")),

    // Stratified downsampling with per-language rates — the corpus
    // rebalance step (q_mix_weights computes targets; this EXECUTES
    // one): dominant-language docs keep 4/16, the rest 8/16, decided by
    // the md5 hash digit so the same docs survive on any engine/retry.
    // Row-local filter — zero shuffles before the presentation sort.
    "q_sample_stratified" -> ((s, d) =>
      load(s, d, "documents")
        .withColumn("h", substring(md5(concat(col("doc_id").cast("string"),
          lit("|strat")).cast("binary")), 1, 1))
        .filter(col("h") < when(col("lang") === "en", "4").otherwise("8"))
        .select(col("doc_id"), col("lang"), col("h"))
        .orderBy("doc_id")),

    // Weighted deterministic sampling: selection priority u DIV w with
    // u a 32-bit integer from the doc's md5 and w the doc's length —
    // longer docs are proportionally likelier into the 50-doc sample,
    // yet the draw is reproducible across engines/retries like every
    // sampler here (the exact Efraimidis–Spirakis transform needs
    // u^(1/w); logs/pow aren't bit-portable across engines, so the
    // linear integer priority stands in — same top-k-by-priority
    // shape, TakeOrdered at any scale, never a global sort).
    "q_sample_weighted" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"), (col("n_chars").cast("long") + 1).as("w"),
          expr("CAST(conv(substring(md5(CAST(concat(CAST(doc_id AS STRING), '|wt')" +
            " AS BINARY)), 1, 8), 16, 10) AS BIGINT)").as("u"))
        .select(col("doc_id"), col("w"), expr("u DIV w").as("priority"))
        .orderBy(col("priority"), col("doc_id"))
        .limit(50)),

    // Record-level provenance from the scan's own metadata: source file
    // and row position inside it — the lineage columns a training-data
    // audit (which shard did this example come from?) carries through
    // the whole pipeline. Spark exposes them as the hidden `_metadata`
    // struct on any file source; zero cost beyond the two columns.
    "q_provenance" -> ((s, d) =>
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"),
          regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1).as("src_file"),
          col("_metadata.row_index").as("row_idx"))
        .orderBy("doc_id")),

    // Deterministic train/val/test assignment by hash bucket (12/2/2 of
    // 16) + per-(lang, split) counts — the split manifest a training
    // run snapshots. Hex digits order '0'<'9'<'a'<'f' in ASCII.
    "q_split_train" -> ((s, d) =>
      load(s, d, "documents")
        .withColumn("h", substring(md5(concat(col("doc_id").cast("string"),
          lit("|split")).cast("binary")), 1, 1))
        .withColumn("split",
          when(col("h") < "c", "train").when(col("h") < "e", "val")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy("lang", "split")),

    // Gopher-style repetition/quality stats, integer basis points:
    // duplicate-token ratio, most-frequent-token share, mean token
    // length (centichars), and the resulting keep flag. Two-level
    // aggregation — (doc, word) then doc — both map-side combining.
    "q_gopher_quality" -> ((s, d) => {
      val tc = load(s, d, "documents")
        .select(col("doc_id"), explode(expr(tokens)).as("word"))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("c"))
      tc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"),
          sum(col("c") * length(col("word"))).as("len_sum"))
        .select(col("doc_id"), col("n_toks"), col("n_distinct"),
          expr("(n_toks - n_distinct) * 10000 DIV n_toks").as("dup_bp"),
          expr("top_c * 10000 DIV n_toks").as("top_tok_bp"),
          expr("len_sum * 100 DIV n_toks").as("mean_len_cc"),
          expr(gopherKeep).as("keep"))
        .orderBy("doc_id")
    }),

    // TF-IDF with integer inverse-document-frequency weighting
    // (N·10⁴ DIV df — log-free so both engines agree bit-for-bit):
    // top-3 terms per document. The df side is one word-keyed shuffle;
    // N is a broadcast scalar — the classic IR shape that scales.
    // r21 (guide §2.4): df is DERIVED from the tf aggregate — tf has
    // exactly one row per (doc, word), so df = tf's row count per word;
    // the former second tokenize+explode pass and its distinct shuffle
    // are gone. The checkpoint materializes the postings-sized tf frame
    // once for its two consumers (df derivation + scoring join).
    "q_tfidf" -> ((s, d) => {
      val toks = load(s, d, "documents")
        .select(col("doc_id"), explode(expr(tokens)).as("word"))
      val tf = Checkpoints.ckpt(toks.groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).as("tf")))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val n = load(s, d, "documents").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("weight").desc, col("word").asc)
      tf.join(df, "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          expr("tf * ((n * 10000) DIV df)").as("weight"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("doc_id", "rn")
    }),

    // BM25 ranking (k1 = 1.2, b = 0.75) of the corpus against its own
    // 3 highest-df terms, entirely in integer arithmetic: the tf
    // saturation term is the exact rational 44·T·tf /
    // (20·T·tf + 6·T + 18·dl·N) in basis points (k1, b scaled to
    // twentieths so no floats appear), idf is the Robertson–
    // Spärck Jones odds (2N−2df+1)/(2df+1) in basis points — log-free,
    // so Spark and DuckDB agree bit-for-bit. Shapes: one word-keyed df
    // shuffle, the 3-row query-term side and the 1-row scalar pair
    // broadcast, per-doc tf agg map-side combining — the classic IR
    // join tree whose only data-scaled exchange is keyed by doc_id.
    // int64 headroom: the binding constraint is 44·10⁴·T·tf < 2⁶³,
    // i.e. T·tf ≲ 2·10¹³ — with top-term tf up to ~10³ in long docs,
    // keep scoring shards at T ≲ 10¹⁰ tokens (~40 GB of text each);
    // beyond that, score per mixture stratum with per-stratum scalars.
    "q_bm25" -> ((s, d) => {
      val toks = load(s, d, "documents")
        .select(col("doc_id"), explode(expr(tokens)).as("word"))
      // r21 (guide §2.4, the q_tfidf treatment): ONE tokenize+explode
      // pass builds the postings-sized (doc, word, tf) frame; df is
      // derived from it (one row per (doc, word), so df = rows per
      // word) and the query-term tf side reads the same checkpoint —
      // the former second explode pass and its distinct shuffle are
      // gone
      val tfAll = Checkpoints.ckpt(toks
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf")))
      val df = tfAll.groupBy(col("word")).agg(count(lit(1)).as("df"))
      val qterms = df.orderBy(col("df").desc, col("word").asc).limit(3)
      // dl from the row-local size() (TokenCountRewrite: one primitive
      // byte scan) and T = Σdl from the same frame
      val dl = load(s, d, "documents")
        .select(col("doc_id"), expr(s"CAST(size($tokens) AS BIGINT)").as("dl"))
      // both scalars from the one dl pass — no second documents scan
      val scal = dl.agg(sum(col("dl")).as("t"), count(lit(1)).as("n"))
      tfAll.join(broadcast(qterms.select(col("word"), col("df"))), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(scal))
        .select(col("doc_id"),
          expr("((44 * t * tf * 10000) DIV (20 * t * tf + 6 * t + 18 * dl * n))" +
            " * (((2 * n - 2 * df + 1) * 10000) DIV (2 * df + 1)) DIV 10000")
            .as("contrib"))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib")).as("bm25_bp"))
        .orderBy(col("bm25_bp").desc, col("doc_id").asc)
        .limit(10)
    }),

    // BM25 over the PERSISTED inverted index (VERDICT r17 #6 — the
    // AnnIndexStore treatment for retrieval): the index store is built
    // lazily on first call (one ingest batch, replay-idempotent via the
    // stable batch id) under the per-SF tmp path, then the probe reads
    // postings/doclens from the store — term-bucket-pruned parquet
    // reads — instead of re-tokenizing the corpus. Output is
    // bit-identical to q_bm25 by construction (same integer arithmetic,
    // same tie-breaks), so it SHARES q_bm25's oracle: the store
    // round-trip itself sits under hash-oracle coverage, exactly the
    // q_ann_index_probe pattern.
    "q_bm25_probe" -> ((s, d) => {
      val store = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_inv_index",
        graft.Tables.dataFingerprint(s, d, Seq("documents"))).toString
      graft.operators.InvertedIndexStore.appendBatch(s,
        load(s, d, "documents").select(col("doc_id"), col("text")),
        store, "full")
      graft.operators.InvertedIndexStore.bm25Probe(s, store)
    }),

    // BM25 over the COMPACTED inverted index (r19 — puts the
    // manifest-generation read path of VERDICT r18 #2 under the hash
    // oracle, not just specs): three incremental ingest batches, one
    // compaction (snapshot + atomic manifest swap, absorbed batches
    // parked as replay records), then the probe reads generation 1.
    // Re-runs are deterministic end-to-end: the ingests replay as
    // no-ops (stable batch ids, absorbed dirs count as committed) and
    // compact() no-ops once each kind has a single live dir. Output is
    // bit-equal to q_bm25 by the same argument as q_bm25_probe plus
    // compaction's row-for-row snapshot — SHARES q_bm25's oracle.
    "q_bm25_probe_compacted" -> ((s, d) => {
      val store = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_inv_index_cmp",
        graft.Tables.dataFingerprint(s, d, Seq("documents"))).toString
      val docs = load(s, d, "documents").select(col("doc_id"), col("text"))
      (0 to 2).foreach { i =>
        graft.operators.InvertedIndexStore.appendBatch(s,
          docs.filter(col("doc_id") % 3 === i), store, s"third-$i")
      }
      graft.operators.InvertedIndexStore.compact(s, store)
      graft.operators.InvertedIndexStore.bm25Probe(s, store)
    }),

    // RETRIEVAL EVALUATION (MRR / P@10 / recall@10) — the eval harness
    // every retrieval stack reports, entirely in exact rationals (MRR's
    // 1/rank is rational; nDCG's log2 is not, so it is deliberately
    // out): 5 queries = the corpus's highest-df terms, ranking = tf
    // ordering, pseudo-qrels = the md5-hex-digit deterministic sample
    // (first digit < '3' ≈ 19% — independent of the tf ranking, so the
    // first-relevant rank genuinely varies). Per query: total
    // relevant, hits@10, first relevant rank, reciprocal rank /
    // precision / recall in ppm. Scale shape: the per-term top-10
    // comes from the O(k)-state `graft_topk` aggregate (score
    // tf·10¹² − doc_id encodes the (tf DESC, doc_id ASC) order; tf ≲
    // 10⁶ keeps it in int64) — NEVER a per-term window sort of a
    // stopword term's corpus-sized posting list; relevance counts are
    // map-side-combining aggregates on the same tf frame.
    "q_eval_mrr" -> ((s, d) => {
      val tf = load(s, d, "documents")
        .select(col("doc_id"), explode(expr(tokens)).as("word"))
        .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
      val qterms = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("word").asc).limit(5).select(col("word"))
      val cand = tf.join(broadcast(qterms), "word")
        .withColumn("rel",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < "3")
      val nrel = cand.filter(col("rel"))
        .groupBy(col("word")).agg(count(lit(1)).as("n_rel"))
      val top = cand.groupBy(col("word"))
        .agg(expr("graft_topk(lpad(CAST(doc_id AS STRING), 12, '0')," +
          " tf * 1000000000000 - doc_id, 10)").as("tk"))
        .select(col("word"), posexplode(col("tk")))
        .select(col("word"), (col("pos") + 1).cast("long").as("rn"),
          expr("CAST(col.item AS BIGINT)").as("doc_id"))
        .withColumn("rel",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) < "3")
      val hits = top.groupBy(col("word"))
        .agg(sum(when(col("rel"), lit(1L)).otherwise(lit(0L))).as("hits"),
          min(when(col("rel"), col("rn"))).as("first_rel"))
      qterms.join(nrel, Seq("word"), "left").join(hits, Seq("word"), "left")
        .select(col("word"),
          coalesce(col("n_rel"), lit(0L)).as("n_rel"),
          coalesce(col("hits"), lit(0L)).as("hits_at10"),
          coalesce(col("first_rel"), lit(0L)).as("first_rel_rank"))
        .withColumn("rr_ppm", expr(
          "CASE WHEN first_rel_rank > 0 THEN 1000000 DIV first_rel_rank ELSE 0L END"))
        .withColumn("p_at10_ppm", col("hits_at10") * lit(100000L))
        .withColumn("recall_at10_ppm",
          expr("hits_at10 * 1000000 DIV greatest(n_rel, 1L)"))
        .orderBy("word")
    }),

    // Sequence packing: fill 256-token shards in deterministic doc_id
    // order WITHIN each lang stratum (running token count → the shard
    // where each doc starts). Partitioned window — no global sort
    // state, each stratum packs independently at any scale.
    "q_pack_greedy" -> ((s, d) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          expr(s"CAST(size($tokens) AS BIGINT)").as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          (col("cum") - col("n_toks")).as("start_off"),
          expr("(cum - n_toks) DIV 256").as("shard"))
        .orderBy("lang", "doc_id")
    }),

    // Corpus-level DUPLICATED-NGRAM FRACTION per document (r17 — the
    // Gopher/Dolma "fraction of n-grams appearing elsewhere in the
    // corpus" signal; `q_rep_bigram` measures WITHIN-doc repetition,
    // this measures cross-doc boilerplate): a trigram occurrence is
    // "duplicated" when its gram appears in >= 2 distinct documents;
    // per doc we report total trigram occurrences, duplicated
    // occurrences, and the integer-ppm fraction. Docs with < 3 tokens
    // have no trigrams and are excluded (no zero denominators).
    //
    // Scale shape: gram doc-frequency comes from a (doc_id, gram)
    // DISTINCT then a map-side-combining count by gram; the duplicated
    // set flows back via a LEFT SEMI join on the gram key (hashed both
    // sides, no payload); per-doc totals are two combining aggregates
    // joined on doc_id. Never a self-join of the corpus, no driver
    // state; a Zipf-heavy hot gram skews only the df aggregate, which
    // partial aggregation absorbs.
    "q_dup_ngrams" -> ((s, d) => {
      val occ = load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .select(col("doc_id"), explode(expr("graft_grams(toks, 3)")).as("g"))
      val dup = occ.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select(col("g"))
      val tot = occ.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val dc = occ.join(dup, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_grams"))
      tot.join(dc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
        .withColumn("dup_ppm", expr("dup_grams * 1000000 div n_grams"))
        .orderBy("doc_id")
    }),

    // Corpus-wide top-20 word bigrams WITH multiplicity (collocation
    // counts) — explode + one hash agg + TakeOrderedAndProject.
    "q_ngram_top" -> ((s, d) => {
      load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .select(explode(expr("graft_grams(toks, 2)")).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bg").asc)
        .limit(20)
    }),

    // Collocation mining by pointwise lift (the exponential of PMI, so
    // log-free): lift = p(xy) / (p(x)·p(y)) = c_xy·tU² / (tB·c_x·c_y),
    // in integer basis points with STAGED division — the staging text
    // is identical in both engines. Staging order divides by tB BEFORE
    // the second tU multiply, so the envelope (proved exact against
    // BigInt by IntegerStagingProps) is the JOINT bound tU ≤ ~4·10¹⁴
    // AND c_xy·tU ≤ 9·10¹⁸; any Zipf-shaped shard under ~10¹⁰ tokens
    // (top bigram ≲ tU/20) satisfies both — shard per stratum beyond.
    // (The naive ...·tU)·10⁴-last order overflowed at tU ≈ 3·10⁹ even
    // for c_xy = 1, and at ~10⁸ for rare high-lift pairs.)
    // Top-20 bigrams with support >= 5 — the merge-seed / stop-phrase
    // list a tokenizer pipeline wants. Shapes: unigram and bigram count
    // tables are both map-side-combining aggs; the bigram side joins
    // the unigram table twice on word keys; scalars broadcast.
    "q_pmi_colloc" -> ((s, d) => {
      val docs = load(s, d, "documents").withColumn("toks", expr(tokens))
      val uni = docs.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bg = docs.select(explode(expr("graft_grams(toks, 2)")).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
        .select(expr("element_at(split(bg, ' '), 1)").as("x"),
          expr("element_at(split(bg, ' '), 2)").as("y"), col("c_xy"))
      val tu = uni.agg(sum(col("c")).as("tu"))
      val tb = docs.agg(
        sum(expr("greatest(size(toks) - 1, 0)")).cast("long").as("tb"))
      bg.join(uni.select(col("w").as("x"), col("c").as("c_x")), "x")
        .join(uni.select(col("w").as("y"), col("c").as("c_y")), "y")
        .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
        .select(col("x"), col("y"), col("c_xy"),
          expr("(((c_xy * tu) DIV c_x) * 10000 DIV tb) * tu DIV c_y")
            .as("lift_bp"))
        .orderBy(col("lift_bp").desc, col("x").asc, col("y").asc)
        .limit(20)
    }),

    // Normalization pass for downstream hashing: lowercase, non-[a-z0-9]
    // runs → one space, trim. Pure codegen'd row-local string ops.
    "q_normalize_text" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("norm"))
        .orderBy("doc_id")),

    // PII redaction: emails, phone numbers, IPv4 addresses → typed
    // placeholders, with per-kind match counts. The corpus is
    // deterministically augmented with synthetic PII derived from
    // doc_id (both engines compute the same input) so the redactor has
    // real work at any SF. Pure row-local codegen'd regex — linear.
    // Patterns stay in the Java∩RE2 common subset (classes, bounded
    // repeats, \b) so Spark and DuckDB agree byte-for-byte.
    "q_pii_redact" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+\\d[\\d-]{6,}\\d"
      val ip = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"
      load(s, d, "documents")
        .withColumn("aug", concat_ws(" ", col("text"),
          concat(lit("user"), col("doc_id"), lit("@mail.example.com")),
          concat(lit("+1-555-"), lpad(expr("CAST(doc_id % 10000 AS STRING)"), 4, "0")),
          concat(lit("10."), expr("CAST(doc_id % 256 AS STRING)"), lit(".0.1"))))
        .select(col("doc_id"),
          regexp_count(col("aug"), lit(email)).cast("long").as("n_email"),
          regexp_count(col("aug"), lit(phone)).cast("long").as("n_phone"),
          regexp_replace(regexp_replace(regexp_replace(col("aug"),
            email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>").as("red"))
        .withColumn("n_ip",
          expr("CAST(size(split(red, '<IP>')) - 1 AS BIGINT)"))
        .orderBy("doc_id")
    }),

    // Eval-set decontamination: 4-token shingles of a deterministic
    // 1/16 eval sample, joined back against the train-side shingles —
    // train docs sharing any shingle with eval are contaminated (the
    // pre-training hygiene step every benchmark-safe corpus needs).
    // Join key is md5(gram), never the gram text, so the shuffle
    // carries 32-byte keys regardless of shingle width; the eval side
    // is a hash-distinct then a plain shuffle join (NOT broadcast —
    // eval grams grow with the corpus).
    "q_decontaminate" -> ((s, d) => {
      val grams = corpusGrams(s, d)
      val evalGrams = grams.filter(isEvalDoc).select(col("gh")).distinct()
      grams.filter(!isEvalDoc)
        .join(evalGrams, "gh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gh")).as("n_shared"))
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination — the 100 TB scale path for
    // q_decontaminate's train-side shuffle. The eval-side distinct
    // grams fold into a FIXED-size bloom bitmap (`spark.graft.bloom
    // .bits`, default 2^20 bits ≈ 128 KB): the driver collect is
    // bounded by the conf (m/64 longs), never by data size — it is a
    // sketch, like the ANN codebook. The bitmap ships as a ONE-ROW
    // broadcast side (not an expression literal: a literal re-
    // serializes the array into every task closure and bloats every
    // plan dump; a broadcast moves it once per executor, which is the
    // only shape that survives a 256 MB bitmap). Train grams probe it
    // row-local (k=3 xxhash64 probes, all codegen'd built-ins), so
    // only the ~FPR fraction of clean grams plus the true matches
    // ever reach the exact-verify join — the all-train-grams shuffle
    // collapses to a candidate-only shuffle. Bloom filters have no
    // false negatives and the verify join is exact, so the RESULT is
    // identical to q_decontaminate (same oracle); the bitmap only
    // changes which rows shuffle.
    "q_bloom_decontaminate" -> ((s, d) => {
      val m = bloomBits(s)
      val grams = corpusGrams(s, d)
      // the eval distinct feeds BOTH the bitmap build and the verify
      // join — checkpoint it so the second action reuses the compact
      // (~eval-gram-count) rows instead of re-shuffling the distinct
      val evalGrams =
        Checkpoints.ckpt(grams.filter(isEvalDoc).select(col("gh")).distinct())
      val words = evalGrams
        .select(explode(expr(s"transform(sequence(1, $BloomK)," +
          s" i -> pmod(xxhash64(gh, i), ${m}L))")).as("pos"))
        .groupBy(expr("pos DIV 64").as("w"))
        .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("bits"))
        .collect()
      val bits = new Array[Long]((m / 64).toInt)
      words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
      val probe = (1 to BloomK).map { i =>
        expr(s"(element_at(bloom, CAST(pmod(xxhash64(gh, $i), ${m}L)" +
          s" DIV 64 AS INT) + 1) & shiftleft(1L," +
          s" CAST(pmod(xxhash64(gh, $i), ${m}L) % 64 AS INT))) <> 0L")
      }.reduce(_ && _)
      val bitsDf = {
        import s.implicits._
        Seq(Tuple1(bits.toSeq)).toDF("bloom")
      }
      grams.filter(!isEvalDoc)
        .crossJoin(broadcast(bitsDf))
        .filter(probe)
        .drop("bloom")
        .join(evalGrams, "gh")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gh")).as("n_shared"))
        .orderBy("doc_id")
    }),

    // DSIR-style distribution-matching selection score (Xie et al.,
    // "Data Selection for Language Models via Importance Resampling",
    // public preprint), reduced to its unigram core and made log-free:
    // per-token lift of the TARGET distribution (the deterministic
    // 1/16 eval sample — same split as decontamination) over the RAW
    // corpus distribution, Laplace-smoothed ((c_t+1)/(T_t+V) vs
    // c_r/T_r), per-doc tf-weighted integer-bp mean. This is the
    // UNSUPERVISED data-selection stage; q_classifier_score is its
    // supervised sibling. Shapes: the exploded stream collapses to
    // (doc, word, tf) with map-side combine ONCE (checkpointed — it
    // feeds raw counts, target counts, and the scoring join), the
    // ratio table joins word-keyed (vocabulary-scale, NEVER broadcast),
    // scalars broadcast; scoring is one doc-keyed agg. int64 envelope
    // (proved vs BigInt by IntegerStagingProps): t_r ≤ ~4·10¹⁴ AND
    // (c_t+1)·t_r ≤ 9·10¹⁸ — any Zipf-shaped shard under ~5·10¹⁰
    // tokens; score per stratum beyond.
    "q_dsir" -> ((s, d) => {
      val tf0 = load(s, d, "documents")
        .select(col("doc_id"), isEvalDoc.as("ev"), explode(expr(tokens)).as("w"))
        .groupBy(col("doc_id"), col("ev"), col("w"))
        .agg(count(lit(1)).as("tf"))
      val tf = Checkpoints.ckpt(tf0)
      val raw = tf.groupBy(col("w")).agg(sum(col("tf")).as("c_r"))
      val tgt = tf.filter(col("ev")).groupBy(col("w"))
        .agg(sum(col("tf")).as("c_t"))
      val scal = raw.agg(sum(col("c_r")).as("t_r"), count(lit(1)).as("v"))
      // coalesce: an empty target sample must smooth to 0, not
      // NULL-poison every score (the oracle coalesces identically)
      val tt = tgt.agg(coalesce(sum(col("c_t")), lit(0L)).as("t_t"))
      val ratio = raw.join(tgt, Seq("w"), "left")
        .select(col("w"), col("c_r"), coalesce(col("c_t"), lit(0L)).as("c_t"))
      tf.filter(!col("ev"))
        .join(ratio, "w")
        .crossJoin(broadcast(scal)).crossJoin(broadcast(tt))
        .select(col("doc_id"), col("tf"),
          expr("(((c_t + 1) * t_r) DIV c_r) * 10000 DIV (t_t + v)")
            .as("lift_bp"))
        .groupBy(col("doc_id"))
        .agg(expr("sum(tf * lift_bp) DIV sum(tf)").as("dsir_bp"),
          sum(col("tf")).as("n_toks"))
        .orderBy("doc_id")
    }),

    // Domain-mixture rebalance: downsample every lang stratum to the
    // smallest stratum's size by deterministic hash rank — the kept-doc
    // manifest a mixture-weighted training run snapshots. Rank is a
    // per-lang window (no global sort state); the cap is a one-row
    // broadcast.
    "q_mix_weights" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val w = Window.partitionBy(col("lang")).orderBy(
        md5(concat(col("doc_id").cast("string"), lit("|mix")).cast("binary")).asc,
        col("doc_id").asc)
      val cap = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .agg(min(col("c")).as("cap"))
      docs.select(col("lang"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(cap))
        .filter(col("rk") <= col("cap"))
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // Corpus refresh via MERGE/upsert semantics (latest-wins):
    // base snapshot ∪ an update batch (deterministically derived —
    // revised text for doc_id % 7, brand-new docs for doc_id < 20),
    // then one row per key by (version DESC) rank. The shape Spark
    // OSS parquet lacks as a native MERGE INTO: one union + one
    // key-partitioned window — a single shuffle on the merge key, no
    // driver loop, no collect.
    "q_upsert" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val base = docs.select(col("doc_id"), lit(1L).as("version"), col("text"))
      val revised = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("version"),
          concat(lit("UPDATED "), col("text")).as("text"))
      // fresh ids live in the negative key space: real doc_ids are
      // non-negative at every SF, so inserts can never collide with an
      // existing key (doc_id + K would collide once the corpus exceeds
      // K docs, leaving a nondeterministic same-version tie)
      val fresh = docs.filter(col("doc_id") < 20)
        .select((-col("doc_id") - 1).as("doc_id"), lit(1L).as("version"),
          col("text"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("version").desc)
      base.unionByName(revised).unionByName(fresh)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("version"),
          md5(col("text").cast("binary")).as("body_md5"))
        .orderBy("doc_id")
    }),

    // SCD Type-2 history dimension from the same base+revision stream
    // as q_upsert: instead of latest-wins, EVERY version survives with
    // a validity interval (valid_to = next version, open for the
    // current row) — the warehouse shape for "what did this record say
    // when". One key-partitioned lead() window, a single shuffle on
    // the merge key, no driver loop.
    "q_scd2" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val base = docs.select(col("doc_id"), lit(1L).as("version"), col("text"))
      val revised = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), lit(2L).as("version"),
          concat(lit("UPDATED "), col("text")).as("text"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("version"))
      base.unionByName(revised)
        .select(col("doc_id"), col("version"),
          md5(col("text").cast("binary")).as("body_md5"))
        .withColumn("valid_to", lead(col("version"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .orderBy("doc_id", "version")
    }),

    // CDC changelog apply — the log-compaction shape that completes
    // the merge family (q_upsert = latest-wins two-table merge, q_scd2
    // = full history): an ordered I/U/D change stream collapses to
    // current state with ONE key-partitioned window (last op by seq
    // wins; a terminal D erases the key). Deterministic synthetic log
    // from orders: every key inserts, keys ≡0 mod 3 update (price
    // doubled — exact on doubles), keys ≡0 mod 5 delete. At 100 TB
    // this is a single shuffle on the merge key over the log — never a
    // per-change driver loop, and the same plan applies a day's delta
    // to a snapshot when the log is unioned with snapshot rows at
    // seq=0. The synthetic log derives all three op kinds from ONE
    // orders scan via a row-local explode (a 3-way union of the same
    // projection scanned the source three times).
    "q_cdc_apply" -> ((s, d) => {
      val log = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice"))
        .select(col("k"), explode(expr(
          "filter(array(" +
            "named_struct('seq', 1L, 'op', 'I', 'price', o_totalprice)," +
            "IF(k % 3 = 0, named_struct('seq', 2L, 'op', 'U', 'price', o_totalprice * CAST(2 AS DOUBLE)), NULL)," +
            "IF(k % 5 = 0, named_struct('seq', 3L, 'op', 'D', 'price', CAST(NULL AS DOUBLE)), NULL)" +
            "), x -> x IS NOT NULL)")).as("e"))
        .select(col("k"), col("e.seq").as("seq"), col("e.op").as("op"),
          col("e.price").as("price"))
      val w = Window.partitionBy(col("k")).orderBy(col("seq").desc)
      log.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select(col("k"), col("op").as("last_op"), col("price"))
        .orderBy("k")
    }),

    // Incremental cross-batch dedup (operators/IncrementalDedup): batch
    // 1 seeds a persisted fingerprint store; batch 2 is deduped by
    // anti-joining the STORE — the corpus is never recomputed, cost per
    // batch is O(|delta| + |store|). The oracle is the batch-equivalence
    // invariant: store-based delta dedup must equal a full-corpus dedup
    // restricted to batch-2 survivors. IncrementalDedupSpec proves the
    // multi-batch behavior (store growth, idempotent re-dedup,
    // store-governs-drops).
    "q_incr_dedup" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_incr_dedup")
      val store = tmp.resolve("store").toString
      // batch 1's survivors are only a store write here: free them
      Checkpoints.release(graft.operators.IncrementalDedup.dedupDelta(
        s, docs.filter(col("doc_id") < 250), store, BatchId("b1")))
      val kept2 = graft.operators.IncrementalDedup.dedupDelta(
        s, docs.filter(col("doc_id") >= 250), store, BatchId("b2"))
      // survivors are checkpointed — the store files can go away now
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      kept2.select(col("doc_id"), col("fp")).orderBy("doc_id")
    }),

    // NEAR-dup sibling of q_incr_dedup: the persisted store carries
    // minhash LSH band signatures, so batch 2 drops near-duplicates of
    // batch 1's RETAINED docs (and of smaller same-batch docs) without
    // recomputing the corpus — the minhash half of the "md5/minhash
    // fingerprint store" pair.
    "q_incr_neardup" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_incr_near")
      val store = tmp.resolve("store").toString
      Checkpoints.release(graft.operators.IncrementalDedup.dedupDeltaNear(
        s, docs.filter(col("doc_id") < 250), store, BatchId("b1")))
      val kept2 = graft.operators.IncrementalDedup.dedupDeltaNear(
        s, docs.filter(col("doc_id") >= 250), store, BatchId("b2"))
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      kept2.orderBy("doc_id")
    }),

    // Chunk-level exact dedup: non-overlapping 4-token chunks, md5
    // grouped corpus-wide, buckets with >1 occurrence — the
    // boilerplate-paragraph detector of a real pipeline (shared
    // headers/footers collapse into hot hashes).
    "q_chunk_dedup" -> ((s, d) =>
      chunked(s, d)
        .groupBy(md5(col("chunk").cast("binary")).as("h"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .filter(col("n_occ") > 1)
        .orderBy("h")),

    // DUPLICATION HISTOGRAM — the dedup-report table every corpus
    // card carries ("X% of the corpus is duplicated N times"): at
    // chunk granularity (the SAME 4-token chunking as q_chunk_dedup —
    // exact doc dups don't exist in this corpus, chunk dups do at
    // every SF), the distribution of duplicate-group sizes: for each
    // dup_count, how many distinct chunks occur exactly that often
    // and how many occurrences they account for. Two map-side-
    // combining hash aggregates (chunk-keyed then count-keyed) — the
    // canonical two-level rollup; the second agg's key domain is
    // O(max dup count), metadata-scale at any corpus size.
    "q_dup_histogram" -> ((s, d) =>
      chunked(s, d)
        .groupBy(md5(col("chunk").cast("binary")).as("h"))
        .agg(count(lit(1)).as("dup_count"))
        .groupBy(col("dup_count"))
        .agg(count(lit(1)).as("n_groups"),
          (col("dup_count") * count(lit(1))).as("n_occurrences"))
        .orderBy("dup_count")),

    // CONTENT-DEFINED chunking (the FastCDC/rsync shape): chunk
    // boundaries are set by the CONTENT — position i starts a new chunk
    // when md5 of the 8-char gram at i has a leading '0' hex digit
    // (expected 1-in-16 → ~16-char mean chunks over the 240-char
    // prefix) — so an insertion early in a document shifts only the ONE
    // chunk it lands in, and every later chunk re-aligns and re-hashes
    // identically. That re-alignment is what makes CDC the dedup
    // chunking (fixed-stride q_chunk_dedup loses every chunk after an
    // edit). Entirely ROW-LOCAL (per-row position filter + explode):
    // zero shuffles before the presentation sort; corpus-linear with a
    // per-row cost cap from the prefix bound. Boundary positions run
    // 2..len-7 (an 8-gram must fit); position 1 always starts chunk 0.
    // The boundary scan is the codegen'd `graft_cdc_starts` fold
    // (functions/TextExprs.scala) — the declarative
    // concat(array(1), filter(sequence(...), md5-leading-'0')) form
    // measured 6.1 s at sf0.1 (interpreted HOF + full hex render per
    // position), the fold sub-second; CdcSpec pins fold == HOF form.
    "q_cdc_chunks" -> ((s, d) => {
      load(s, d, "documents")
        .select(col("doc_id"), expr("substring(text, 1, 240)").as("p"))
        .filter(length(col("p")) >= 8)
        .withColumn("starts", expr("graft_cdc_starts(p, 8)"))
        .select(col("doc_id"), col("p"), col("starts"),
          posexplode(col("starts")))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_no"),
          col("col").cast("long").as("start_pos"),
          expr("CAST(IF(pos + 2 <= size(starts), element_at(starts, pos + 2)," +
            " length(p) + 1) - col AS BIGINT)").as("chunk_len"),
          expr("md5(CAST(substring(p, col, CAST(IF(pos + 2 <= size(starts)," +
            " element_at(starts, pos + 2), length(p) + 1) - col AS INT)) AS BINARY))")
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_no")
    }),

    // Per-source CONTRIBUTION CAPPING (the bounding step a
    // differential-privacy or source-debiasing pipeline runs before
    // aggregation: no single contributor may dominate the corpus): each
    // source keeps at most 5 documents, chosen by the repo's md5-rank
    // convention (deterministic, never rand(); doc_id breaks the
    // astronomically-unlikely hash tie). The kept set is computed by the
    // O(k)-state `graft_topk` aggregate (functions.TopKSketch), NOT a
    // row_number window: the window form buffers and SORTS each source's
    // FULL doc list to keep 5 — under a hot source (one domain = 10⁹
    // docs) that is the skewed-window shape q_topk_agg's scaladoc warns
    // about (VERDICT r16 #6). graft_topk holds ≤2k entries per partial
    // and combines MAP-SIDE, so a mega-source costs O(k) state per task
    // instead of a full per-key sort. Selection order is the same
    // (md5 ASC, doc_id ASC): graft_topk keeps the k smallest items under
    // (score DESC, item ASC) with a constant score, and the item string
    // `md5hex#lpad(doc_id,20)#n_chars` makes lexicographic ASC = the
    // md5-rank convention (fixed-width hex, zero-padded numeric id).
    // n_docs/total_chars are plain map-side-combining aggregates in the
    // SAME hash agg — one shuffle of ≤|sources| combined partials.
    "q_contrib_cap" -> ((s, d) => {
      load(s, d, "documents")
        .select(col("source"),
          concat(md5(col("doc_id").cast("string").cast("binary")), lit("#"),
            lpad(col("doc_id").cast("string"), 20, "0"), lit("#"),
            coalesce(col("n_chars").cast("string"), lit(""))).as("item"),
          col("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          expr("graft_topk(item, CAST(0 AS BIGINT), 5)").as("kept"),
          sum(col("n_chars")).as("total_chars"))
        .select(col("source"), col("n_docs"),
          size(col("kept")).cast("long").as("n_kept"),
          expr("aggregate(kept, CAST(0 AS BIGINT), (acc, x) -> " +
            "acc + coalesce(CAST(element_at(split(x.item, '#'), 3) AS BIGINT), CAST(0 AS BIGINT)))")
            .as("kept_chars"),
          col("total_chars"))
        .orderBy("source")
    }),

    // LEXICAL DIVERSITY per language — the corpus-health metrics a
    // data-mixing run reads before setting sampling weights: bigram
    // token count, bigram vocabulary, hapax legomena (bigrams seen
    // exactly once — the productive-vocabulary signal), type/token
    // ratio and hapax share in integer ppm. Bigrams rather than
    // unigrams because a capped generator vocabulary saturates unigram
    // TTR (the sf-series documents draw ~31 distinct words per lang —
    // every unigram hapax count is 0). Shapes: row-local bigram
    // assembly (element_at over the token array, no self-join), then
    // two map-side-combining hash aggs — (lang, gram) then lang — the
    // canonical two-level vocabulary rollup that scales to any corpus.
    "q_lexical_stats" -> ((s, d) => {
      load(s, d, "documents")
        .select(col("lang"), expr(tokens).as("toks"))
        .select(col("lang"), explode(expr("graft_grams(toks, 2)")).as("gram"))
        .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("lang"))
        .agg(sum(col("cnt")).as("grams"), count(lit(1)).as("vocab"),
          expr("count_if(cnt = 1)").as("hapax"))
        .select(col("lang"), col("grams"), col("vocab"), col("hapax"),
          expr("vocab * 1000000 DIV grams").as("ttr_ppm"),
          expr("hapax * 1000000 DIV vocab").as("hapax_ppm"))
        .orderBy("lang")
    }),

    // Cross-document repeated-substring detection — the sub-document
    // granularity the whole-body dedup family (exact md5, chunk, MinHash)
    // cannot see: boilerplate, licenses, navigation chrome repeated
    // ACROSS documents. Sorted-shingle formulation (the scalable
    // suffix-array substitute): positioned 4-token shingles → one
    // gh-keyed aggregate marks shingles appearing in ≥2 distinct docs →
    // join back on the 32-byte hash → gaps-and-islands run grouping per
    // doc. Runs of ≥4 consecutive shared shingles = repeated substrings
    // of ≥7 tokens. Shapes: explode + two hash aggs + one equi-join on
    // md5 keys + a doc-stratified window — never a self-join on raw
    // text, no cartesian. The positioned shingle stream is checkpointed
    // once (compact: id + pos + 32-byte hash) and read by both the
    // shared-marking agg and the join-back, halving the dominant
    // tokenize/shingle CPU at 100 TB (same rationale as
    // q_decontaminate's shared pass).
    // Default min-run: 4 consecutive shared shingles (>= 7 tokens),
    // conf-overridable via spark.graft.substrdedup.minrun (VERDICT r17
    // #7). The published exact-substring-dedup threshold (Lee et al.,
    // "Deduplicating Training Data Makes Language Models Better") is
    // ~50 TOKENS = 47 shingles — registered as its own oracled row
    // q_substring_dedup50 below; the FP-rate trade is documented in
    // SURVEY §2.B.1 (short runs admit coincidental collisions, long
    // runs only true duplication: 47 vs 21 runs at sf0.01).
    "q_substring_dedup" -> ((s, d) =>
      substringRuns(s, d,
        s.conf.getOption("spark.graft.substrdedup.minrun")
          .map(_.toInt).filter(_ >= 1).getOrElse(4))),

    // The 50-token published threshold, fully oracled (47-shingle runs
    // ⇒ n_tokens >= 50). Same plan; only the HAVING bound differs.
    "q_substring_dedup50" -> ((s, d) => substringRuns(s, d, 47)),

    // The REMOVAL companion of q_substring_dedup — exact substring
    // deduplication in the "Deduplicating Training Data Makes Language
    // Models Better" sense: every token covered by a cross-document
    // repeated run (≥4 consecutive shared shingles = ≥7 tokens) is
    // dropped from EVERY occurrence, and the survivors reassemble in
    // position order. Shapes: the same checkpointed shingle pass, one
    // anti-join of positioned tokens against the covered-position set,
    // and a SEGMENT-CHUNKED ordered reassembly (no collect_list-order
    // assumption): survivors aggregate per (doc_id, pos div 64Ki)
    // segment first, then the per-doc pass concatenates the handful of
    // segment strings in segment order. Both joins are therefore
    // bounded-buffer — a 16 MB mediumtext body (the reference's cap,
    // sql/init.sql:7) is ~3 M tokens, which the old single-pass
    // reassembly held as 3 M structs in ONE aggregation buffer; the
    // segmented plan's largest buffer is 64 Ki structs, and the per-doc
    // buffer holds ≤ 46 already-joined strings. Output (count + md5 of
    // the space-joined survivors) is byte-identical: segments are
    // non-empty by construction, so joining per-segment joins with " "
    // equals the flat join. The cleaned text still never hits the
    // driver.
    "q_substring_strip" -> ((s, d) => {
      // r21: one-pass gram hashing (see substringRuns)
      val docs = load(s, d, "documents").withColumn("toks", expr(tokens))
      // r22: 16-byte binary gh — same narrowing as substringRuns (the
      // hash is internal equality-only; unhex is a bijection)
      val grams0 = docs
        .select(col("doc_id"),
          posexplode(expr("graft_gram_md5s(toks, 4)")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          unhex(col("col")).as("gh"))
      val grams = Checkpoints.ckpt(grams0)
      val shared = grams.groupBy(col("gh"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("gh"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val covered = grams.join(shared, "gh")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("s"), count(lit(1)).as("L"))
        .filter(col("L") >= 4)
        .select(col("doc_id"),
          explode(expr("sequence(s, s + L + 2)")).as("pos"))
        .distinct()
      val toksPos = docs
        .select(col("doc_id"), posexplode(col("toks")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tok"))
      // r22: graft_sort_join fuses array_join∘transform∘array_sort
      // (two interpreted HOFs over up-to-64Ki-element per-group arrays)
      // into one codegen call with the identical struct ordering
      // (bit-equal; TextExprsSpec)
      val kept = toksPos.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy(col("doc_id"), expr(s"pos DIV $StripSegTokens").as("seg"))
        .agg(count(lit(1)).as("seg_n"),
          expr("graft_sort_join(collect_list(struct(pos, tok)))").as("seg_txt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("seg_n")).as("n_kept"),
          expr("graft_sort_join(collect_list(struct(seg, seg_txt)))").as("clean"))
      docs.select(col("doc_id"),
          expr("CAST(size(toks) AS BIGINT)").as("n_toks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          md5(coalesce(col("clean"), lit("")).cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Column profiler: the warehouse ANALYZE-style summary a pipeline
    // snapshots per ingest batch — one pass over the table computing
    // per-column null counts, distinct counts, and min/max, unpivoted
    // to (column, metric) rows. One hash aggregate; the unpivot is
    // row-local. `n_chars` is the one DISTINCT aggregate: two of them
    // would make an `Expand` that lists their columns in either order
    // from run to run (one plan text per run), so the low-cardinality
    // `lang` counts the set it collects instead.
    "q_dq_profile" -> ((s, d) => {
      val agg = load(s, d, "documents").agg(
        count(lit(1)).as("n_rows"),
        count_if(col("lang").isNull).as("lang_nulls"),
        size(collect_set(col("lang"))).cast("long").as("lang_distinct"),
        min(col("lang")).as("lang_min"), max(col("lang")).as("lang_max"),
        count_if(col("n_chars").isNull).as("chars_nulls"),
        countDistinct(col("n_chars")).as("chars_distinct"),
        min(col("n_chars")).cast("string").as("chars_min"),
        max(col("n_chars")).cast("string").as("chars_max"))
      agg.selectExpr("n_rows", "stack(2, " +
          "'lang', lang_nulls, lang_distinct, lang_min, lang_max, " +
          "'n_chars', chars_nulls, chars_distinct, chars_min, chars_max) " +
          "AS (col_name, n_nulls, n_distinct, min_v, max_v)")
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_v"), col("max_v"))
        .orderBy("col_name")
    }),

    // CDC EXTRACTION — the inverse of q_cdc_apply, closing the CDC
    // cycle (extract a changelog from two snapshots; apply collapses a
    // changelog onto a snapshot): one full-outer join on the key
    // classifies every row as Insert (new only), Delete (old only),
    // Update (both, value changed), with unchanged rows dropped. The
    // new snapshot derives deterministically from the old (deletes ≡0
    // mod 5, price-doubling updates ≡0 mod 3, inserts as shifted keys).
    // One key-shuffle; at 100 TB both snapshots pre-bucket on the key
    // and the join co-locates.
    "q_cdc_extract" -> ((s, d) => {
      val o = load(s, d, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val oldS = o.select(col("k").as("ok"), col("price").as("old_price"))
      val newS = o.filter(col("k") % 5 =!= 0)
        .select(col("k"),
          when(col("k") % 3 === 0, col("price") * 2).otherwise(col("price")).as("price"))
        .unionByName(o.filter(col("k") % 7 === 0)
          .select((col("k") + 10000000L).as("k"), col("price")))
        .select(col("k").as("nk"), col("price").as("new_price"))
      oldS.join(newS, col("ok") === col("nk"), "full_outer")
        .select(coalesce(col("ok"), col("nk")).as("k"),
          when(col("ok").isNull, "I")
            .when(col("nk").isNull, "D")
            .when(col("old_price") =!= col("new_price"), "U").as("op"),
          col("old_price"), col("new_price"))
        .filter(col("op").isNotNull)
        .orderBy("k")
    }),

    // POINT-IN-TIME dimension join (feature-store correctness): every
    // fact row joins the dimension version that was valid AT ITS OWN
    // time — the lookup that prevents feature leakage in training-data
    // assembly (joining current prices onto historical orders trains on
    // the future). Dimension = a deterministic 2-version SCD2 price
    // table derived from ONE part scan (row-local explode); the join is
    // an equi-join on the key with the validity window as a residual
    // predicate — one shuffle, no range blowup, each fact matches
    // exactly one version.
    "q_pit_join" -> ((s, d) => {
      val dim = load(s, d, "part")
        .select(col("p_partkey"), explode(expr(
          "array(named_struct('version', CAST(1 AS BIGINT), 'price', p_retailprice," +
            " 'valid_from', DATE'1990-01-01', 'valid_to', DATE'1995-06-01')," +
            "named_struct('version', CAST(2 AS BIGINT), 'price', p_retailprice * CAST(2 AS DOUBLE)," +
            " 'valid_from', DATE'1995-06-01', 'valid_to', DATE'9999-12-31'))")).as("v"))
        .select(col("p_partkey"), col("v.version").as("version"),
          col("v.price").as("price"), col("v.valid_from").as("valid_from"),
          col("v.valid_to").as("valid_to"))
      load(s, d, "lineitem")
        .select(col("l_partkey"), col("l_shipdate"))
        .join(dim, col("l_partkey") === col("p_partkey") &&
          col("l_shipdate") >= col("valid_from") && col("l_shipdate") < col("valid_to"))
        .groupBy(col("version"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(price * 100) AS BIGINT)")).as("price_cents"))
        .orderBy("version")
    }),

    // Constraint CHECKER (the enforcement companion of q_dq_profile's
    // profiler — the Deequ-style gate a pipeline runs before publishing
    // a batch): uniqueness, non-null, value-range, and referential
    // integrity, each as (check, violations, pass) rows. The scalar
    // checks share ONE scan/aggregate; RI is one anti-join on the key.
    // A 100 TB run adds nothing but that single pass + one shuffle.
    "q_dq_assert" -> ((s, d) => {
      val o = load(s, d, "orders")
      val c = load(s, d, "customer").select(col("c_custkey"))
      val agg = o.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpos_price"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"))
      val scalarChecks = agg.select(explode(expr(
          "array(named_struct('chk', 'dup_orderkey', 'violations', dup_orderkey)," +
            "named_struct('chk', 'nonpos_price', 'violations', nonpos_price)," +
            "named_struct('chk', 'null_custkey', 'violations', null_custkey))")).as("e"))
        .select(col("e.chk").as("chk"), col("e.violations").as("violations"))
      val ri = o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("orphan_custkey").as("chk"), col("violations"))
      scalarChecks.unionByName(ri)
        .withColumn("pass", col("violations") === 0L)
        .orderBy("chk")
    }),

    // CATEGORICAL distribution-drift monitor (the production check a
    // rolling ingest runs between corpus snapshots — did this batch's
    // class mix move?): χ²-style per-cell contributions between the
    // month's two halves and the pooled distribution, all-integer in
    // PPM basis. Per-cell: observed count o, period share p_ppm,
    // pooled share pool_ppm, signed deviation, and the squared
    // contribution (dev² / pool share — the χ² cell term on ppm
    // proportions). Envelope: o·10⁶ holds to ~9·10¹² events, dev² ≤
    // 10¹² — exact int64 throughout; pool_ppm floors at 1 (GREATEST)
    // so sub-ppm classes can't divide by zero. SHAPE: the contingency
    // table is ONE compound-key map-side-combining agg; row/column/
    // grand totals derive from the K-row table itself (never a second
    // corpus scan) and join back broadcast.
    "q_chi2_drift" -> ((s, d) => {
      val o = load(s, d, "events")
        .groupBy(expr("IF(day(ts) <= 15, 1L, 2L)").as("half"), col("event_type"))
        .agg(count(lit(1)).as("o"))
      val r = o.groupBy(col("half")).agg(sum("o").as("r"))
      val c = o.groupBy(col("event_type")).agg(sum("o").as("c"))
      val n = o.agg(sum("o").as("n"))
      o.join(broadcast(r), "half").join(broadcast(c), "event_type")
        .crossJoin(broadcast(n))
        .withColumn("p_ppm", expr("o * 1000000 DIV r"))
        .withColumn("pool_ppm", expr("c * 1000000 DIV n"))
        .withColumn("dev_ppm", col("p_ppm") - col("pool_ppm"))
        .withColumn("chi2_contrib",
          expr("dev_ppm * dev_ppm DIV GREATEST(pool_ppm, 1L)"))
        .withColumn("drifted", expr("abs(dev_ppm) > 5000"))
        .select(col("half"), col("event_type"), col("o"), col("p_ppm"),
          col("pool_ppm"), col("dev_ppm"), col("chi2_contrib"), col("drifted"))
        .orderBy("half", "event_type")
    }),

    // NUMERIC distribution-drift monitor — the Kolmogorov–Smirnov
    // companion of q_chi2_drift: max ECDF gap of the (cent-quantized)
    // event value between the month's halves. Exact integer staging:
    // at each distinct value, D = |C1·n2 − C2·n1| (cross-multiplied —
    // no proportion rounding), the statistic is max D / (n1·n2) in
    // PPM, reported with the smallest value attaining it. Envelope:
    // exact while n1·n2 < 2⁶³ (~3·10⁹ rows per side); beyond that,
    // per-stratum KS. SHAPE: values collapse to their distinct-value
    // counts first (one map-side-combining agg), and the cumulative
    // counts run as the distributed two-pass prefix sum over 32
    // value-range buckets (q_vocab_coverage's kernel) — no
    // partition-less window at any scale.
    "q_ks_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nb = 32
      val byV = load(s, d, "events")
        .select(expr("IF(day(ts) <= 15, 1, 2)").as("half"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        .groupBy(col("cents"))
        .agg(sum(expr("IF(half = 1, 1L, 0L)")).as("a1"),
          sum(expr("IF(half = 2, 1L, 0L)")).as("a2"))
      val tot = byV.agg(sum("a1").as("n1"), sum("a2").as("n2"),
        min("cents").as("vmin"), max("cents").as("vmax"))
      val bucketed = byV.crossJoin(broadcast(tot))
        .withColumn("bkt",
          expr(s"CAST(((cents - vmin) * $nb) DIV (vmax - vmin + 1) AS INT)"))
      val wIn = Window.partitionBy(col("bkt")).orderBy(col("cents").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val btot = bucketed.groupBy(col("bkt"))
        .agg(sum("a1").as("b1"), sum("a2").as("b2"))
      val offsets = btot.as("a")
        .join(btot.as("b"), col("b.bkt") < col("a.bkt"), "left")
        .groupBy(col("a.bkt").as("bkt"))
        .agg(coalesce(sum(col("b.b1")), lit(0L)).as("o1"),
          coalesce(sum(col("b.b2")), lit(0L)).as("o2"))
      val dev = bucketed
        .withColumn("r1", sum("a1").over(wIn))
        .withColumn("r2", sum("a2").over(wIn))
        .join(broadcast(offsets), "bkt")
        .select(col("cents"), col("n1"), col("n2"),
          abs((col("o1") + col("r1")) * col("n2") -
            (col("o2") + col("r2")) * col("n1")).as("dev"))
      val mx = dev.agg(max("dev").as("ksnum"))
      dev.crossJoin(broadcast(mx)).filter(col("dev") === col("ksnum"))
        .groupBy(col("n1"), col("n2"), col("ksnum"))
        .agg(min("cents").as("at_cents"))
        .select(col("n1"), col("n2"),
          // GREATEST(..., 1): if every event lands in one half, n1*n2 = 0
          // and Spark DIV would yield NULL while DuckDB // raises — the
          // guard makes both engines emit ks_ppm = 0 on degenerate input
          // (ksnum is 0 too: one empty CDF means every |dev| term is 0).
          expr("ksnum * 1000000 DIV GREATEST(n1 * n2, 1)").as("ks_ppm"),
          col("at_cents"))
    }),

    // End-to-end corpus pipeline (VERDICT r2 #7): gopher quality gate →
    // decontamination gate → near-dup cluster canon → per-lang packing,
    // composed from the SAME building blocks as the individual queries —
    // proves the operators compose, the real user story. Shapes: three
    // hash-agg gates + the bipartite CC loop + one stratified window;
    // no cartesian anywhere, no global sort except presentation.
    "q_pipeline_e2e" -> ((s, d) => {
      val docs = load(s, d, "documents")
      // r21 (guide §5): the tokenized corpus feeds THREE consumers (the
      // quality gate, the 4-gram decontamination hashes, and the final
      // packing join) — checkpoint the (doc_id, lang, toks) projection
      // once instead of re-running the tokenize scan per consumer
      val toksDf = Checkpoints.ckpt(docs
        .select(col("doc_id"), col("lang"), expr(tokens).as("toks")))
      // 1. quality: same thresholds as q_gopher_quality
      val quality = toksDf
        .select(col("doc_id"), explode(col("toks")).as("word"))
        .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .filter(expr(gopherKeep))
        .select(col("doc_id"))
      // 2. decontamination: same eval split + 4-gram hashes as
      // q_decontaminate; eval docs AND any train doc sharing a gram drop
      // r21: one-pass gram hashing (see substringRuns)
      val grams = Checkpoints.ckpt(toksDf
        .select(col("doc_id"),
          explode(expr("graft_gram_md5s(toks, 4)")).as("gh")))
      val evalGrams = grams.filter(isEvalDoc).select(col("gh")).distinct()
      val contaminated = grams.filter(!isEvalDoc).join(evalGrams, "gh")
        .select(col("doc_id")).distinct()
      val survivors = quality.filter(!isEvalDoc)
        .join(contaminated, Seq("doc_id"), "left_anti")
      // 3. near-dup canon among survivors: same LSH + hash-min CC as
      // q_dedup_cluster, restricted to the filtered doc set. r22: the
      // buckets come from the CHECKPOINTED tokenized frame
      // (lshBucketsFromToks) — the former lshBuckets(docs.join(...))
      // re-read the raw corpus and re-tokenized it a second time.
      val labels = Similarity.hashMinLabels(
        Similarity.lshBucketsFromToks(
          toksDf.join(survivors, "doc_id").select(col("doc_id"), col("toks"))),
        survivors)
      Checkpoints.release(grams) // the labels are materialized
      val canon = labels.filter(col("doc_id") === col("lbl"))
        .select(col("doc_id"))
      // 4. pack the canon set per-lang: same shard rule as q_pack_greedy
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toksDf.join(canon, "doc_id")
        .select(col("doc_id"), col("lang"),
          expr("CAST(size(toks) AS BIGINT)").as("n_toks"))
        .withColumn("cum", sum(col("n_toks")).over(w))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          expr("(cum - n_toks) DIV 256").as("shard"))
        .orderBy("lang", "doc_id")
    }),

    // Linear text-classifier INFERENCE as a scan (the fasttext/LR
    // quality-filter stage of GPT-3/CCNet-style corpus pipelines):
    // hashing-trick bag-of-words — each token hashes into one of 256
    // buckets (two md5 hex digits), the bucket's integer weight stands
    // in for a learned coefficient (at scale: a broadcast weight table
    // of O(buckets), never O(vocab)), and the doc score is the
    // tf-weighted mean bucket weight in centi-units. One explode + one
    // map-side-combining agg — model inference adds zero shuffles
    // beyond the token count itself. Weights 0..20 (shifted positive so
    // integer DIV never sees a negative numerator — truncate-vs-floor
    // division on negatives differs across engines).
    "q_classifier_score" -> ((s, d) => {
      val bucket =
        "((instr('0123456789abcdef', substr(md5(CAST(word AS BINARY)), 1, 1)) - 1) * 16" +
          " + (instr('0123456789abcdef', substr(md5(CAST(word AS BINARY)), 2, 1)) - 1))"
      load(s, d, "documents")
        .select(col("doc_id"), explode(expr(tokens)).as("word"))
        .withColumn("w", expr(s"CAST(($bucket * 37) % 21 AS BIGINT)"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), sum(col("w")).as("raw"))
        .select(col("doc_id"), col("n_toks"),
          expr("raw * 100 DIV n_toks").as("score_cw"),
          expr("raw * 100 DIV n_toks >= 1000").as("keep"))
        .orderBy("doc_id")
    }),

    // URL canonicalization + canonical-URL dedup — the crawl-frontier
    // step BEFORE any content dedup in a web corpus: unify scheme/host
    // case, strip default ports, `www.`, fragments, and utm_* tracking
    // params, then keep one doc per canonical URL. URLs are derived
    // deterministically from doc fields (the corpus has no URL column)
    // with mixed-case hosts, optional port/params/fragments, so the
    // canonicalizer has real work to do and case-variants provably
    // unify. Scale shape: canonicalization is a row-local regex chain
    // (narrow, codegen'd); the only shuffle is one map-side-combining
    // groupBy(canon_url) — at 100 TB this is the cheapest dedup axis
    // the engine has, and the variant counts are the audit trail.
    "q_url_canon" -> ((s, d) => {
      val raw =
        """CASE WHEN doc_id % 2 = 0
          |  THEN CONCAT('HTTPS://WWW.', UPPER(source), '.EXAMPLE.COM:443')
          |  ELSE CONCAT('https://', source, '.example.com') END ||
          |'/d/' || CAST(doc_id % 8 AS STRING) ||
          |CASE WHEN doc_id % 3 = 0
          |  THEN '?utm_source=feed&id=' || CAST(doc_id % 4 AS STRING) || '&utm_campaign=x'
          |  ELSE '?id=' || CAST(doc_id % 4 AS STRING) END ||
          |CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END""".stripMargin
      load(s, d, "documents")
        .withColumn("url", expr(raw))
        .withColumn("u1", expr("regexp_replace(url, '#.*', '')"))
        .withColumn("host", expr(
          "regexp_replace(regexp_replace(lower(" +
            "regexp_extract(u1, '^[A-Za-z]+://([^/?#]*)', 1))," +
            " ':443$', ''), '^www\\\\.', '')"))
        .withColumn("rest", expr(
          "regexp_replace(regexp_replace(regexp_replace(" +
            "regexp_extract(u1, '^[A-Za-z]+://[^/?#]*(.*)', 1)," +
            " '&utm_[a-z_]+=[^&#]*', '')," +
            " '\\\\?utm_[a-z_]+=[^&#]*&', '?')," +
            " '\\\\?utm_[a-z_]+=[^&#]*$', '')"))
        .withColumn("canon_url", expr(
          "lower(regexp_extract(u1, '^([A-Za-z]+)://', 1)) || '://' || host || rest"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url")).as("n_variants"),
          min(col("doc_id")).as("keep_doc"))
        .orderBy("canon_url")
    }),

    // Gopher's OTHER repetition family: duplicate n-GRAM fraction
    // (q_gopher_quality covers the token-level stats; the paper's
    // dup_2gram..dup_10gram signals catch phrase-level boilerplate
    // that token counts miss). Per doc: fraction of bigram slots
    // sitting inside a repeated bigram, integer basis points, with the
    // keep gate at <=900 bp (median 563, max 2666 on this corpus — the
    // threshold genuinely separates). Scale shape is q_gopher_quality's
    // exactly: row-local zip_with pair extraction (no self-join), then
    // two map-side-combining aggregates, (doc,gram) then doc — the only
    // wire traffic is partial counts.
    "q_rep_bigram" -> ((s, d) => {
      load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .filter(size(col("toks")) >= 2)
        // r22 (guide §1.2 per-task work): graft_grams(toks, 2) emits the
        // identical space-joined bigrams in one codegen pass — the
        // former zip_with-over-two-slices chain was an interpreted HOF
        // allocating two slice copies per document (TextExprsSpec pins
        // graft_grams == the slice/join form for n=2); the size>=2
        // guard is preserved (graft_grams is empty below n anyway).
        .select(col("doc_id"), explode(expr("graft_grams(toks, 2)")).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup_slots"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          expr("dup_slots * 10000 DIV n_grams").as("dup_bp"),
          expr("dup_slots * 10000 DIV n_grams <= 900").as("keep"))
        .orderBy("doc_id")
    }),

    // Tokenizer-vocabulary sizing: the cumulative token-coverage curve
    // by word rank — "the smallest vocab covering X% of corpus tokens",
    // the number a BPE/unigram tokenizer budget is chosen from. Scale
    // path: the corpus-size word count collapses to its COUNT-HISTOGRAM
    // (one row per distinct frequency — O(sqrt(corpus)) rows by Zipf,
    // metadata-scale at 100 TB), and the rank-cumulative sums run as
    // the distributed two-pass prefix sum (fixed count-range buckets,
    // per-bucket windows, O(nb²) offset self-join over 32 bucket
    // totals — q_compact_bins' kernel) — no partition-less window
    // anywhere. Coverage targets resolve via a 4-row broadcast join.
    "q_vocab_coverage" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nb = 32
      val wc = load(s, d, "documents")
        .select(explode(expr(tokens)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      // The histogram fans out into four branches (range agg, bucket
      // totals, offsets, cumulative windows). The static plan prints
      // the corpus scan once per branch, but AQE's ReuseExchange
      // collapses the identical word-count exchange at runtime so the
      // tokenize+count physically runs once (asserted on the executed
      // plan in PlanSpec; an explicit localCheckpoint here was A/B'd
      // 1.5x SLOWER — the eager barrier costs more than it saves).
      val h = wc.groupBy(col("c")).agg(count(lit(1)).as("n_words"))
        .withColumn("toks", col("c") * col("n_words"))
      val rng = h.agg(max("c").as("cmax"), sum("toks").as("total"))
      val bucketed = h.crossJoin(broadcast(rng))
        .withColumn("bkt", expr(s"CAST(((cmax - c) * $nb) DIV cmax AS INT)"))
      val wIn = Window.partitionBy(col("bkt")).orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val btot = bucketed.groupBy(col("bkt"))
        .agg(sum("toks").as("btoks"), sum("n_words").as("bwords"))
      val offsets = btot.as("a")
        .join(btot.as("b"), col("b.bkt") < col("a.bkt"), "left")
        .groupBy(col("a.bkt").as("bkt"))
        .agg(coalesce(sum(col("b.btoks")), lit(0L)).as("offt"),
          coalesce(sum(col("b.bwords")), lit(0L)).as("offw"))
      // Per-group cumulative words/tokens, plus the group's own (c,
      // size) so a target crossing INSIDE a tie-group interpolates to
      // the word-granular answer: groups are whole ranks only at their
      // boundaries, and the c=1 Zipf tail is one giant group — a
      // group-granular MIN would report "the whole vocabulary" for any
      // target landing in it. needed = ceil(target·total/10⁴) tokens;
      // the crossing group is the unique min-cum_toks row covering it
      // (cum_toks strictly increases), and ceil((needed−before)/c)
      // words of that group finish the budget. All-integer, so Spark
      // and DuckDB agree bit-for-bit.
      val cum = bucketed
        .withColumn("rt", sum("toks").over(wIn))
        .withColumn("rw", sum("n_words").over(wIn))
        .join(broadcast(offsets), "bkt")
        .select(col("c"), col("total"),
          (col("offt") + col("rt")).as("cum_toks"),
          (col("offw") + col("rw") - col("n_words")).as("words_before"),
          (col("offt") + col("rt") - col("toks")).as("toks_before"))
      val targets = s.range(1).select(
        explode(expr("array(5000L, 7500L, 9000L, 9900L)")).as("target_bp"))
      cum.crossJoin(broadcast(targets))
        .withColumn("needed", expr("(target_bp * total + 9999) DIV 10000"))
        .filter(col("cum_toks") >= col("needed"))
        .groupBy(col("target_bp"))
        .agg(min_by(
          expr("words_before + (needed - toks_before + c - 1) DIV c"),
          col("cum_toks")).as("vocab_size"))
        .orderBy("target_bp")
    }),

    // Temperature-scaled mixture weights (the multilingual-LM sampling
    // rule: p_l ∝ n_l^(1/T), here T=2 so w_l = floor(sqrt(n_l)) —
    // IEEE-correctly-rounded sqrt of an exact integer is bit-identical
    // across engines, and floor pins the boundary) — flattens the en
    // skew toward uniform where q_mix_weights truncates everything to
    // the smallest stratum. Output is the planner manifest: per-lang
    // rate in basis points + the resampled target size. Scale shape:
    // one map-side-combining count on a #langs-cardinality key, then a
    // one-row broadcast of the normalizer — nothing else moves.
    "q_mix_temperature" -> ((s, d) => {
      // counts feeds both the output rows and the normalizer aggregate;
      // AQE ReuseExchange dedupes the identical lang-count exchange at
      // runtime so the corpus is scanned once (PlanSpec asserts it)
      val counts = load(s, d, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", expr("CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      val tot = counts.agg(sum(col("w")).as("sum_w"),
        sum(col("n_docs")).as("n_total"))
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("w"),
          expr("w * 10000 DIV sum_w").as("rate_bp"),
          expr("n_total * (w * 10000 DIV sum_w) DIV 10000").as("target_docs"))
        .orderBy("lang")
    })
  )

  /** Shared by q_decontaminate and q_bloom_decontaminate: the bloom
    * bitmap is a pure prefilter, so both queries declare the same exact
    * result. */
  private val decontOracle: String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |g AS (SELECT doc_id, MD5(ARRAY_TO_STRING(toks[k : k + 3], ' ')) AS gh
       |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
       |ev AS (SELECT doc_id FROM documents
       |       WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|eval'), 1, 1) < '1'),
       |eg AS (SELECT DISTINCT gh FROM g JOIN ev USING (doc_id)),
       |tr AS (SELECT doc_id, gh FROM g
       |       WHERE doc_id NOT IN (SELECT doc_id FROM ev))
       |SELECT doc_id, COUNT(DISTINCT gh) AS n_shared
       |FROM tr JOIN eg USING (gh) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q_bm25_probe is bit-identical to q_bm25 by construction (persisted
    * index, same integer arithmetic/tie-breaks) — shared oracle, the
    * q_ann_index_probe pattern. */
  lazy val oracles: Map[String, String] =
    oraclesBase +
      ("q_bm25_probe" -> oraclesBase("q_bm25")) +
      ("q_bm25_probe_compacted" -> oraclesBase("q_bm25"))

  private lazy val oraclesBase: Map[String, String] = Map(
    "q_rrf" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |ra AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank_lex
         |       FROM (SELECT doc_id,
         |         CAST(LEN(LIST_FILTER(toks, x -> x IN ('join','hash','scan'))) AS BIGINT) AS s FROM t)
         |       ORDER BY s DESC, doc_id LIMIT 20),
         |rb AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank_voc
         |       FROM (SELECT doc_id,
         |         CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS s FROM t)
         |       ORDER BY s DESC, doc_id LIMIT 20)
         |SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, rank_lex, rank_voc,
         |  COALESCE(1000000 // (60 + rank_lex), 0)
         |    + COALESCE(1000000 // (60 + rank_voc), 0) AS rrf_ppm
         |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
         |ORDER BY rrf_ppm DESC, doc_id LIMIT 10""".stripMargin,
    "q_shard_assign" ->
      s"""WITH dl AS (SELECT doc_id, CAST(LEN($duckToks) AS BIGINT) AS n_toks FROM documents),
         |r AS (SELECT doc_id, n_toks,
         |        ROW_NUMBER() OVER (ORDER BY n_toks DESC, doc_id) - 1 AS rn0 FROM dl)
         |SELECT CASE WHEN (rn0 // 8) % 2 = 0 THEN rn0 % 8 ELSE 7 - rn0 % 8 END AS shard,
         |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS total_toks
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
    "q_contrib_cap" ->
      """WITH r AS (SELECT source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(COUNT(*) FILTER (WHERE rk <= 5) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(SUM(n_chars) FILTER (WHERE rk <= 5), 0) AS BIGINT) AS kept_chars,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q_lexical_stats" ->
      """WITH t AS (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |           FROM documents),
        |w AS (SELECT lang, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i + 1])) AS gram FROM t),
        |wc AS (SELECT lang, gram, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
        |agg AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS grams, COUNT(*) AS vocab,
        |    CAST(COUNT(*) FILTER (WHERE cnt = 1) AS BIGINT) AS hapax
        |  FROM wc GROUP BY lang)
        |SELECT lang, grams, vocab, hapax,
        |  vocab * 1000000 // grams AS ttr_ppm,
        |  hapax * 1000000 // vocab AS hapax_ppm
        |FROM agg ORDER BY lang""".stripMargin,
    "q_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 240) AS p FROM documents),
        |b AS (SELECT doc_id, p,
        |  list_prepend(CAST(1 AS BIGINT),
        |    list_filter(RANGE(CAST(2 AS BIGINT), CAST(GREATEST(LEN(p) - 6, 2) AS BIGINT)),
        |      i -> substr(md5(substr(p, CAST(i AS INT), 8)), 1, 1) = '0')) AS starts
        |  FROM t WHERE LEN(p) >= 8),
        |c AS (SELECT doc_id, p, starts,
        |  GENERATE_SUBSCRIPTS(starts, 1) AS k, UNNEST(starts) AS st FROM b)
        |SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_no,
        |  CAST(st AS BIGINT) AS start_pos,
        |  CAST(COALESCE(starts[k + 1], LEN(p) + 1) - st AS BIGINT) AS chunk_len,
        |  md5(substr(p, CAST(st AS INT),
        |    CAST(COALESCE(starts[k + 1], LEN(p) + 1) - st AS INT))) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_no""".stripMargin,
    "q_sample_det" ->
      """SELECT doc_id, lang, SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|s0'), 1, 1) AS h
        |FROM documents
        |WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|s0'), 1, 1) < '2'
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang,
        |  SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|strat'), 1, 1) AS h
        |FROM documents
        |WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|strat'), 1, 1)
        |      < CASE WHEN lang = 'en' THEN '4' ELSE '8' END
        |ORDER BY doc_id""".stripMargin,
    "q_sample_weighted" ->
      """WITH b AS (SELECT doc_id, CAST(n_chars AS BIGINT) + 1 AS w,
        |    MD5(CAST(doc_id AS VARCHAR) || '|wt') AS h FROM documents),
        |u AS (SELECT doc_id, w,
        |    CAST(STRPOS('0123456789abcdef', SUBSTR(h, 1, 1)) - 1 AS BIGINT) * 268435456
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 2, 1)) - 1 AS BIGINT) * 16777216
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 3, 1)) - 1 AS BIGINT) * 1048576
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 4, 1)) - 1 AS BIGINT) * 65536
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 5, 1)) - 1 AS BIGINT) * 4096
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 6, 1)) - 1 AS BIGINT) * 256
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 7, 1)) - 1 AS BIGINT) * 16
        |  + CAST(STRPOS('0123456789abcdef', SUBSTR(h, 8, 1)) - 1 AS BIGINT) AS u
        |  FROM b)
        |SELECT doc_id, w, u // w AS priority
        |FROM u ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    // documents.parquet is ONE doc_id-ordered flat file, so the file
    // row position equals the doc_id rank; Spark reads the REAL
    // _metadata.row_index and the oracle derives it from the sort
    // (DuckDB's filename/file_row_number don't survive the driver's
    // views). ProvenanceSpec asserts this precondition LOUDLY at every
    // SF — a generator layout change fails there with a pointer here,
    // not as a silent hash mismatch — and separately proves the Spark
    // side on a 4-file layout against construction-known truth.
    "q_provenance" ->
      """SELECT doc_id, 'documents.parquet' AS src_file,
        |  ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS row_idx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_split_train" ->
      """WITH t AS (SELECT doc_id, lang,
        |    SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|split'), 1, 1) AS h
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN h < 'c' THEN 'train' WHEN h < 'e' THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        |FROM t GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q_gopher_quality" ->
      s"""WITH tc AS (SELECT doc_id, word, COUNT(*) AS c FROM
         |  (SELECT doc_id, UNNEST($duckToks) AS word FROM documents)
         |  GROUP BY doc_id, word),
         |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks, COUNT(*) AS n_distinct,
         |    MAX(c) AS top_c, CAST(SUM(c * LENGTH(word)) AS BIGINT) AS len_sum
         |  FROM tc GROUP BY doc_id)
         |SELECT doc_id, n_toks, n_distinct,
         |  (n_toks - n_distinct) * 10000 // n_toks AS dup_bp,
         |  top_c * 10000 // n_toks AS top_tok_bp,
         |  len_sum * 100 // n_toks AS mean_len_cc,
         |  (n_toks - n_distinct) * 10000 // n_toks <= 4500 AND
         |    top_c * 10000 // n_toks <= 1000 AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, UNNEST($duckToks) AS word FROM documents),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |w AS (SELECT doc_id, word, tf, df, tf * ((n * 10000) // df) AS weight
         |      FROM tf JOIN df USING (word) CROSS JOIN n)
         |SELECT doc_id, word, tf, df, weight, rn FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY weight DESC, word ASC) AS rn FROM w)
         |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q_eval_mrr" ->
      s"""WITH toks AS (SELECT doc_id, UNNEST($duckToks) AS word FROM documents),
         |tf AS (SELECT word, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |qt AS (SELECT word FROM (SELECT word, COUNT(*) AS df FROM tf GROUP BY word)
         |       ORDER BY df DESC, word LIMIT 5),
         |cand AS (SELECT t.word, t.doc_id, t.tf,
         |           SUBSTR(MD5(CAST(t.doc_id AS VARCHAR)), 1, 1) < '3' AS rel
         |         FROM tf t JOIN qt USING (word)),
         |top AS (SELECT word, doc_id, rel,
         |          ROW_NUMBER() OVER (PARTITION BY word ORDER BY tf DESC, doc_id) AS rn
         |        FROM cand QUALIFY rn <= 10),
         |nr AS (SELECT word, COUNT(*) AS n_rel FROM cand WHERE rel GROUP BY word),
         |h AS (SELECT word, COUNT(*) FILTER (WHERE rel) AS hits,
         |        MIN(CASE WHEN rel THEN rn END) AS first_rel FROM top GROUP BY word)
         |SELECT q.word, CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits_at10,
         |  CAST(COALESCE(h.first_rel, 0) AS BIGINT) AS first_rel_rank,
         |  CAST(CASE WHEN COALESCE(h.first_rel, 0) > 0
         |       THEN 1000000 // h.first_rel ELSE 0 END AS BIGINT) AS rr_ppm,
         |  CAST(COALESCE(h.hits, 0) * 100000 AS BIGINT) AS p_at10_ppm,
         |  CAST(COALESCE(h.hits, 0) * 1000000
         |    // GREATEST(COALESCE(nr.n_rel, 0), 1) AS BIGINT) AS recall_at10_ppm
         |FROM qt q LEFT JOIN nr USING (word) LEFT JOIN h USING (word)
         |ORDER BY q.word""".stripMargin,
    "q_bm25" ->
      s"""WITH toks AS (SELECT doc_id, UNNEST($duckToks) AS word FROM documents),
         |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
         |q AS (SELECT word, df FROM df ORDER BY df DESC, word ASC LIMIT 3),
         |dl AS (SELECT doc_id, CAST(LEN($duckToks) AS BIGINT) AS dl
         |       FROM documents),
         |scal AS (SELECT CAST(SUM(dl) AS BIGINT) AS t, COUNT(*) AS n FROM dl),
         |tf AS (SELECT doc_id, word, df, COUNT(*) AS tf
         |       FROM toks JOIN q USING (word) GROUP BY 1, 2, 3),
         |sc AS (SELECT doc_id,
         |    ((44 * t * tf * 10000) // (20 * t * tf + 6 * t + 18 * dl * n))
         |      * (((2 * n - 2 * df + 1) * 10000) // (2 * df + 1)) // 10000
         |      AS contrib
         |  FROM tf JOIN dl USING (doc_id) CROSS JOIN scal)
         |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS bm25_bp
         |FROM sc GROUP BY doc_id
         |ORDER BY bm25_bp DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_pack_greedy" ->
      s"""WITH t AS (SELECT doc_id, lang, CAST(LEN($duckToks) AS BIGINT) AS n_toks
         |  FROM documents),
         |c AS (SELECT doc_id, lang, n_toks,
         |    SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, lang, n_toks, CAST(cum - n_toks AS BIGINT) AS start_off,
         |  CAST((cum - n_toks) // 256 AS BIGINT) AS shard
         |FROM c ORDER BY lang, doc_id""".stripMargin,
    "q_dup_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |occ AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - 1),
         |    k -> toks[k] || ' ' || toks[k + 1] || ' ' || toks[k + 2])) AS g
         |  FROM t WHERE LEN(toks) >= 3),
         |dup AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM occ)
         |        GROUP BY g HAVING COUNT(*) >= 2),
         |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM occ GROUP BY doc_id),
         |dc AS (SELECT o.doc_id, COUNT(*) AS dup_grams
         |       FROM occ o JOIN dup USING (g) GROUP BY o.doc_id)
         |SELECT t.doc_id, t.n_grams,
         |  CAST(COALESCE(dc.dup_grams, 0) AS BIGINT) AS dup_grams,
         |  CAST(COALESCE(dc.dup_grams, 0) AS BIGINT) * 1000000 // t.n_grams AS dup_ppm
         |FROM tot t LEFT JOIN dc ON dc.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q_ngram_top" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |bg AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
         |    k -> toks[k] || ' ' || toks[k + 1])) AS bg FROM t)
         |SELECT bg, COUNT(*) AS cnt FROM bg GROUP BY bg
         |ORDER BY cnt DESC, bg ASC LIMIT 20""".stripMargin,
    "q_pmi_colloc" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |bgs AS (SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
         |    k -> toks[k] || ' ' || toks[k + 1])) AS bg FROM t),
         |bgc AS (SELECT STRING_SPLIT(bg, ' ')[1] AS x,
         |    STRING_SPLIT(bg, ' ')[2] AS y, COUNT(*) AS c_xy
         |  FROM bgs GROUP BY 1, 2 HAVING COUNT(*) >= 5),
         |uni AS (SELECT word AS w, COUNT(*) AS c FROM
         |  (SELECT UNNEST($duckToks) AS word FROM documents) GROUP BY 1),
         |tu AS (SELECT CAST(SUM(c) AS BIGINT) AS tu FROM uni),
         |tb AS (SELECT CAST(SUM(GREATEST(LEN(toks) - 1, 0)) AS BIGINT) AS tb
         |       FROM t)
         |SELECT x, y, c_xy,
         |  (((c_xy * tu) // ux.c) * 10000 // tb) * tu // uy.c AS lift_bp
         |FROM bgc
         |JOIN uni ux ON ux.w = x
         |JOIN uni uy ON uy.w = y
         |CROSS JOIN tu CROSS JOIN tb
         |ORDER BY lift_bp DESC, x ASC, y ASC LIMIT 20""".stripMargin,
    "q_normalize_text" ->
      """SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_upsert" ->
      """WITH all_rows AS (
        |  SELECT doc_id, 1 AS version, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2 AS version, 'UPDATED ' || text FROM documents
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT -doc_id - 1 AS doc_id, 1 AS version, text FROM documents
        |  WHERE doc_id < 20)
        |SELECT doc_id, CAST(version AS BIGINT) AS version, MD5(text) AS body_md5
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY version DESC) AS rn FROM all_rows)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q_pii_redact" ->
      """WITH a AS (SELECT doc_id, text || ' user' || CAST(doc_id AS VARCHAR)
        |    || '@mail.example.com' || ' +1-555-'
        |    || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    || ' 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS aug
        |  FROM documents),
        |r AS (SELECT doc_id, aug,
        |    REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d[\d-]{6,}\d', '<PHONE>', 'g'),
        |      '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS red
        |  FROM a)
        |SELECT doc_id,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(aug, '\+\d[\d-]{6,}\d')) AS BIGINT) AS n_phone,
        |  red,
        |  CAST(LEN(STRING_SPLIT_REGEX(red, '<IP>')) - 1 AS BIGINT) AS n_ip
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_decontaminate" -> decontOracle,
    // bloom prefilter has no false negatives + exact verify join ⇒
    // byte-identical result, same oracle
    "q_bloom_decontaminate" -> decontOracle,
    "q_dsir" ->
      s"""WITH t AS (SELECT doc_id,
         |    SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|eval'), 1, 1) < '1' AS ev,
         |    UNNEST($duckToks) AS w FROM documents),
         |tf AS (SELECT doc_id, ev, w, COUNT(*) AS tf FROM t GROUP BY 1, 2, 3),
         |raw AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS c_r FROM tf GROUP BY 1),
         |tgt AS (SELECT w, CAST(SUM(tf) AS BIGINT) AS c_t
         |        FROM tf WHERE ev GROUP BY 1),
         |sc AS (SELECT CAST(SUM(c_r) AS BIGINT) AS t_r, COUNT(*) AS v FROM raw),
         |tt AS (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) AS t_t FROM tgt),
         |r AS (SELECT raw.w, c_r, COALESCE(c_t, 0) AS c_t
         |      FROM raw LEFT JOIN tgt ON raw.w = tgt.w),
         |l AS (SELECT doc_id, tf,
         |    (((c_t + 1) * t_r) // c_r) * 10000 // (t_t + v) AS lift_bp
         |  FROM tf JOIN r USING (w) CROSS JOIN sc CROSS JOIN tt
         |  WHERE NOT ev)
         |SELECT doc_id,
         |  CAST(SUM(tf * lift_bp) // SUM(tf) AS BIGINT) AS dsir_bp,
         |  CAST(SUM(tf) AS BIGINT) AS n_toks
         |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_cdc_extract" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
        |olds AS (SELECT k AS ok, price AS old_price FROM o),
        |news AS (SELECT k AS nk, price AS new_price FROM (
        |  SELECT k, CASE WHEN k % 3 = 0 THEN price * 2 ELSE price END AS price
        |  FROM o WHERE k % 5 <> 0
        |  UNION ALL
        |  SELECT k + 10000000, price FROM o WHERE k % 7 = 0))
        |SELECT COALESCE(ok, nk) AS k,
        |  CASE WHEN ok IS NULL THEN 'I' WHEN nk IS NULL THEN 'D'
        |       WHEN old_price <> new_price THEN 'U' END AS op,
        |  old_price, new_price
        |FROM olds FULL OUTER JOIN news ON ok = nk
        |WHERE CASE WHEN ok IS NULL THEN 'I' WHEN nk IS NULL THEN 'D'
        |           WHEN old_price <> new_price THEN 'U' END IS NOT NULL
        |ORDER BY k""".stripMargin,
    "q_pit_join" ->
      """WITH dim AS (
        |  SELECT p_partkey, CAST(1 AS BIGINT) AS version, p_retailprice AS price,
        |    DATE '1990-01-01' AS valid_from, DATE '1995-06-01' AS valid_to FROM part
        |  UNION ALL
        |  SELECT p_partkey, CAST(2 AS BIGINT), p_retailprice * 2,
        |    DATE '1995-06-01', DATE '9999-12-31' FROM part)
        |SELECT version, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem l JOIN dim d ON l.l_partkey = d.p_partkey
        |  AND l.l_shipdate >= d.valid_from AND l.l_shipdate < d.valid_to
        |GROUP BY version ORDER BY version""".stripMargin,
    "q_dq_assert" ->
      """WITH a AS (SELECT
        |    COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS nc,
        |    COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS np,
        |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup
        |  FROM orders),
        |ri AS (SELECT COUNT(*) AS v FROM orders o
        |       LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |       WHERE c.c_custkey IS NULL)
        |SELECT chk, violations, violations = 0 AS pass FROM (
        |  SELECT 'dup_orderkey' AS chk, dup AS violations FROM a
        |  UNION ALL SELECT 'nonpos_price', np FROM a
        |  UNION ALL SELECT 'null_custkey', nc FROM a
        |  UNION ALL SELECT 'orphan_custkey', v FROM ri)
        |ORDER BY chk""".stripMargin,
    "q_dq_profile" ->
      """WITH a AS (SELECT COUNT(*) AS n_rows,
        |    COUNT(*) FILTER (lang IS NULL) AS lang_nulls,
        |    COUNT(DISTINCT lang) AS lang_distinct,
        |    MIN(lang) AS lang_min, MAX(lang) AS lang_max,
        |    COUNT(*) FILTER (n_chars IS NULL) AS chars_nulls,
        |    COUNT(DISTINCT n_chars) AS chars_distinct,
        |    CAST(MIN(n_chars) AS VARCHAR) AS chars_min,
        |    CAST(MAX(n_chars) AS VARCHAR) AS chars_max
        |  FROM documents)
        |SELECT 'lang' AS col_name, n_rows, lang_nulls AS n_nulls,
        |  lang_distinct AS n_distinct, lang_min AS min_v, lang_max AS max_v FROM a
        |UNION ALL
        |SELECT 'n_chars', n_rows, chars_nulls, chars_distinct, chars_min, chars_max FROM a
        |ORDER BY col_name""".stripMargin,
    "q_chi2_drift" ->
      """WITH o AS (SELECT CAST(CASE WHEN DAY(ts) <= 15 THEN 1 ELSE 2 END AS BIGINT) AS half,
        |    event_type, CAST(COUNT(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
        |r AS (SELECT half, CAST(SUM(o) AS BIGINT) AS r FROM o GROUP BY half),
        |c AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS c FROM o GROUP BY event_type),
        |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM o),
        |j AS (SELECT o.half, o.event_type, o.o,
        |        o.o * 1000000 // r.r AS p_ppm, c.c * 1000000 // n.n AS pool_ppm
        |      FROM o JOIN r USING (half) JOIN c USING (event_type) CROSS JOIN n)
        |SELECT half, event_type, o, p_ppm, pool_ppm,
        |  p_ppm - pool_ppm AS dev_ppm,
        |  (p_ppm - pool_ppm) * (p_ppm - pool_ppm) // GREATEST(pool_ppm, 1) AS chi2_contrib,
        |  ABS(p_ppm - pool_ppm) > 5000 AS drifted
        |FROM j ORDER BY half, event_type""".stripMargin,
    // Oracle twin uses the naive partition-less cumulative window —
    // correct semantics is what's compared; the bucketed prefix-sum
    // plan is the engine's scale concern.
    "q_ks_drift" ->
      """WITH ev AS (SELECT CASE WHEN DAY(ts) <= 15 THEN 1 ELSE 2 END AS half,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
        |byv AS (SELECT cents,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2
        |  FROM ev GROUP BY cents),
        |tot AS (SELECT CAST(SUM(a1) AS BIGINT) AS n1, CAST(SUM(a2) AS BIGINT) AS n2 FROM byv),
        |cum AS (SELECT cents,
        |    CAST(SUM(a1) OVER (ORDER BY cents) AS BIGINT) AS c1,
        |    CAST(SUM(a2) OVER (ORDER BY cents) AS BIGINT) AS c2 FROM byv),
        |dev AS (SELECT cents, ABS(c1 * n2 - c2 * n1) AS dev FROM cum CROSS JOIN tot),
        |mx AS (SELECT MAX(dev) AS ksnum FROM dev)
        |SELECT n1, n2, ksnum * 1000000 // GREATEST(n1 * n2, 1) AS ks_ppm,
        |  (SELECT MIN(cents) FROM dev WHERE dev = ksnum) AS at_cents
        |FROM tot CROSS JOIN mx""".stripMargin,
    "q_pipeline_e2e" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
         |tc AS (SELECT doc_id, word, COUNT(*) AS c FROM
         |  (SELECT doc_id, UNNEST(toks) AS word FROM t) GROUP BY doc_id, word),
         |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
         |    COUNT(*) AS n_distinct, MAX(c) AS top_c FROM tc GROUP BY doc_id),
         |quality AS (SELECT doc_id FROM agg
         |  WHERE (n_toks - n_distinct) * 10000 // n_toks <= 4500
         |    AND top_c * 10000 // n_toks <= 1000),
         |g AS (SELECT doc_id, MD5(ARRAY_TO_STRING(toks[k : k + 3], ' ')) AS gh
         |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
         |ev AS (SELECT doc_id FROM documents
         |       WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '|eval'), 1, 1) < '1'),
         |eg AS (SELECT DISTINCT gh FROM g JOIN ev USING (doc_id)),
         |bad AS (SELECT DISTINCT doc_id FROM g JOIN eg USING (gh)
         |        WHERE doc_id NOT IN (SELECT doc_id FROM ev)),
         |surv AS (SELECT doc_id FROM quality
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ev)
         |    AND doc_id NOT IN (SELECT doc_id FROM bad)),
         |w AS (SELECT DISTINCT t.doc_id, ARRAY_TO_STRING(t.toks[k : k + 3], ' ') AS word
         |      FROM t JOIN surv USING (doc_id),
         |        UNNEST(RANGE(1, LEN(t.toks) - 2)) AS u(k)),
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
         |canon AS (SELECT s.doc_id FROM surv s LEFT JOIN c ON c.n = s.doc_id
         |          WHERE COALESCE(c.cluster, s.doc_id) = s.doc_id),
         |sel AS (SELECT t.doc_id, t.lang, CAST(LEN(t.toks) AS BIGINT) AS n_toks
         |        FROM t JOIN canon USING (doc_id)),
         |cum AS (SELECT doc_id, lang, n_toks,
         |    SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM sel)
         |SELECT doc_id, lang, n_toks, CAST((cum - n_toks) // 256 AS BIGINT) AS shard
         |FROM cum ORDER BY lang, doc_id""".stripMargin,
    "q_mix_weights" ->
      """WITH r AS (SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY MD5(CAST(doc_id AS VARCHAR) || '|mix') ASC, doc_id ASC) AS rk
        |  FROM documents),
        |cap AS (SELECT MIN(c) AS cap FROM
        |  (SELECT COUNT(*) AS c FROM documents GROUP BY lang))
        |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM r CROSS JOIN cap WHERE rk <= cap ORDER BY lang, rk""".stripMargin,
    "q_substring_dedup" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id, k - 1 AS pos,
         |    MD5(ARRAY_TO_STRING(toks[k : k + 3], ' ')) AS gh
         |  FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
         |shared AS (SELECT gh FROM g GROUP BY gh
         |           HAVING COUNT(DISTINCT doc_id) >= 2),
         |sp AS (SELECT doc_id, pos FROM g JOIN shared USING (gh)),
         |runs AS (SELECT doc_id, pos,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM sp)
         |SELECT doc_id, MIN(pos) AS start_pos, COUNT(*) AS n_shingles,
         |  COUNT(*) + 3 AS n_tokens
         |FROM runs GROUP BY doc_id, grp HAVING COUNT(*) >= 4
         |ORDER BY doc_id, start_pos""".stripMargin,
    "q_substring_dedup50" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id, k - 1 AS pos,
         |    MD5(ARRAY_TO_STRING(toks[k : k + 3], ' ')) AS gh
         |  FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
         |shared AS (SELECT gh FROM g GROUP BY gh
         |           HAVING COUNT(DISTINCT doc_id) >= 2),
         |sp AS (SELECT doc_id, pos FROM g JOIN shared USING (gh)),
         |runs AS (SELECT doc_id, pos,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM sp)
         |SELECT doc_id, MIN(pos) AS start_pos, COUNT(*) AS n_shingles,
         |  COUNT(*) + 3 AS n_tokens
         |FROM runs GROUP BY doc_id, grp HAVING COUNT(*) >= 47
         |ORDER BY doc_id, start_pos""".stripMargin,
    "q_scd2" ->
      """WITH all_rows AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS version, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(2 AS BIGINT) AS version, 'UPDATED ' || text
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, version, MD5(text) AS body_md5,
        |  LEAD(version, 1) OVER (PARTITION BY doc_id ORDER BY version) AS valid_to,
        |  LEAD(version, 1) OVER (PARTITION BY doc_id ORDER BY version) IS NULL AS is_current
        |FROM all_rows ORDER BY doc_id, version""".stripMargin,
    "q_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS seq, 'I' AS op,
        |    o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, CAST(2 AS BIGINT), 'U', o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, CAST(3 AS BIGINT), 'D', CAST(NULL AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |ranked AS (SELECT k, op, price,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM log)
        |SELECT k, op AS last_op, price FROM ranked
        |WHERE rn = 1 AND op <> 'D' ORDER BY k""".stripMargin,
    // Full-recompute twin of the store-based incremental dedup: batch-2
    // rows whose fp is new vs batch 1, min doc_id within batch 2.
    "q_incr_dedup" ->
      """WITH b1 AS (SELECT DISTINCT MD5(text) AS fp FROM documents WHERE doc_id < 250),
        |b2 AS (SELECT MD5(text) AS fp, MIN(doc_id) AS doc_id
        |       FROM documents WHERE doc_id >= 250 GROUP BY 1)
        |SELECT doc_id, fp FROM b2 WHERE fp NOT IN (SELECT fp FROM b1)
        |ORDER BY doc_id""".stripMargin,
    // Full-recompute twin of the minhash-store incremental near-dup:
    // batch-1 survivors' band signatures form the store; a batch-2 doc
    // survives iff no bucket collides with the store or a smaller
    // batch-2 doc.
    "q_incr_neardup" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |w AS (SELECT DISTINCT doc_id, ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |h AS (SELECT doc_id, i, MIN(MD5(CAST(i AS VARCHAR) || '|' || word)) AS mh
        |      FROM w CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS i)
        |      GROUP BY doc_id, i),
        |b AS (SELECT doc_id, i // 2 AS band, MD5(MIN(mh) || MAX(mh)) AS sig
        |      FROM h GROUP BY doc_id, i // 2),
        |b1 AS (SELECT * FROM b WHERE doc_id < 250),
        |d1 AS (SELECT DISTINCT x.doc_id FROM b1 x
        |       JOIN (SELECT band, sig, MIN(doc_id) AS mn FROM b1 GROUP BY 1, 2) m
        |         ON x.band = m.band AND x.sig = m.sig AND m.mn < x.doc_id),
        |st AS (SELECT band, sig FROM b1
        |       WHERE doc_id NOT IN (SELECT doc_id FROM d1)),
        |b2 AS (SELECT * FROM b WHERE doc_id >= 250),
        |d2 AS (SELECT DISTINCT x.doc_id FROM b2 x
        |       JOIN (SELECT band, sig, MIN(doc_id) AS mn FROM b2 GROUP BY 1, 2) m
        |         ON x.band = m.band AND x.sig = m.sig AND m.mn < x.doc_id
        |       UNION
        |       SELECT DISTINCT x.doc_id FROM b2 x
        |       JOIN st ON x.band = st.band AND x.sig = st.sig)
        |SELECT doc_id FROM documents WHERE doc_id >= 250
        |  AND doc_id NOT IN (SELECT doc_id FROM d2)
        |ORDER BY doc_id""".stripMargin,
    "q_substring_strip" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id, k - 1 AS pos,
         |    MD5(ARRAY_TO_STRING(toks[k : k + 3], ' ')) AS gh
         |  FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
         |shared AS (SELECT gh FROM g GROUP BY gh
         |           HAVING COUNT(DISTINCT doc_id) >= 2),
         |sp AS (SELECT doc_id, pos FROM g JOIN shared USING (gh)),
         |runs AS (SELECT doc_id, MIN(pos) AS s, COUNT(*) AS L
         |  FROM (SELECT doc_id, pos,
         |      pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |    FROM sp)
         |  GROUP BY doc_id, grp HAVING COUNT(*) >= 4),
         |cov AS (SELECT DISTINCT doc_id, pos FROM
         |  (SELECT doc_id, UNNEST(RANGE(s, s + L + 3)) AS pos FROM runs)),
         |tp AS (SELECT doc_id, k - 1 AS pos, toks[k] AS tok
         |       FROM t, UNNEST(RANGE(1, LEN(toks) + 1)) AS u(k)),
         |kept AS (SELECT tp.doc_id, COUNT(*) AS n_kept,
         |    STRING_AGG(tok, ' ' ORDER BY tp.pos) AS clean
         |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
         |  WHERE cov.pos IS NULL GROUP BY tp.doc_id)
         |SELECT t.doc_id, CAST(LEN(t.toks) AS BIGINT) AS n_toks,
         |  COALESCE(kept.n_kept, 0) AS n_kept,
         |  MD5(COALESCE(kept.clean, '')) AS clean_md5
         |FROM t LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_dup_histogram" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |ch AS (SELECT doc_id,
         |    ARRAY_TO_STRING(toks[c * 4 + 1 : c * 4 + 4], ' ') AS chunk
         |  FROM t, UNNEST(RANGE(0, CAST(FLOOR((LEN(toks) - 1) / 4.0) AS INT) + 1)) AS u(c)),
         |g AS (SELECT MD5(chunk) AS h, COUNT(*) AS dup_count FROM ch GROUP BY 1)
         |SELECT dup_count, COUNT(*) AS n_groups,
         |  dup_count * COUNT(*) AS n_occurrences
         |FROM g GROUP BY dup_count ORDER BY dup_count""".stripMargin,
    "q_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |ch AS (SELECT doc_id,
         |    ARRAY_TO_STRING(toks[c * 4 + 1 : c * 4 + 4], ' ') AS chunk
         |  FROM t, UNNEST(RANGE(0, CAST(FLOOR((LEN(toks) - 1) / 4.0) AS INT) + 1)) AS u(c))
         |SELECT MD5(chunk) AS h, COUNT(*) AS n_occ,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM ch GROUP BY MD5(chunk) HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,
    "q_classifier_score" ->
      s"""WITH toks AS (SELECT doc_id, UNNEST($duckToks) AS word FROM documents),
         |w AS (SELECT doc_id,
         |    (((STRPOS('0123456789abcdef', SUBSTR(MD5(word), 1, 1)) - 1) * 16
         |      + (STRPOS('0123456789abcdef', SUBSTR(MD5(word), 2, 1)) - 1)) * 37) % 21 AS w
         |  FROM toks),
         |agg AS (SELECT doc_id, COUNT(*) AS n_toks, CAST(SUM(w) AS BIGINT) AS raw
         |        FROM w GROUP BY doc_id)
         |SELECT doc_id, n_toks, raw * 100 // n_toks AS score_cw,
         |  raw * 100 // n_toks >= 1000 AS keep
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q_url_canon" ->
      """WITH u0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'HTTPS://WWW.' || UPPER(source) || '.EXAMPLE.COM:443'
        |      ELSE 'https://' || source || '.example.com' END ||
        |    '/d/' || CAST(doc_id % 8 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '?utm_source=feed&id=' || CAST(doc_id % 4 AS VARCHAR) || '&utm_campaign=x'
        |      ELSE '?id=' || CAST(doc_id % 4 AS VARCHAR) END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |u1 AS (SELECT doc_id, url, REGEXP_REPLACE(url, '#.*', '', 'g') AS u1 FROM u0),
        |parts AS (SELECT doc_id, url,
        |    LOWER(REGEXP_EXTRACT(u1, '^([A-Za-z]+)://', 1)) AS scheme,
        |    REGEXP_REPLACE(REGEXP_REPLACE(LOWER(
        |      REGEXP_EXTRACT(u1, '^[A-Za-z]+://([^/?#]*)', 1)),
        |      ':443$', '', 'g'), '^www\.', '', 'g') AS host,
        |    REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
        |      REGEXP_EXTRACT(u1, '^[A-Za-z]+://[^/?#]*(.*)', 1),
        |      '&utm_[a-z_]+=[^&#]*', '', 'g'),
        |      '\?utm_[a-z_]+=[^&#]*&', '?', 'g'),
        |      '\?utm_[a-z_]+=[^&#]*$', '', 'g') AS rest
        |  FROM u1)
        |SELECT scheme || '://' || host || rest AS canon_url,
        |  COUNT(*) AS n_docs, COUNT(DISTINCT url) AS n_variants,
        |  MIN(doc_id) AS keep_doc
        |FROM parts GROUP BY 1 ORDER BY canon_url""".stripMargin,
    "q_rep_bigram" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id, toks[k] || ' ' || toks[k + 1] AS gram
         |      FROM t, UNNEST(RANGE(1, LEN(toks))) AS u(k)
         |      WHERE LEN(toks) >= 2),
         |c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |  COUNT(*) AS n_distinct,
         |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) * 10000
         |    // CAST(SUM(c) AS BIGINT) AS dup_bp,
         |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) * 10000
         |    // CAST(SUM(c) AS BIGINT) <= 900 AS keep
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_vocab_coverage" ->
      s"""WITH wc AS (SELECT word, COUNT(*) AS c
         |  FROM (SELECT UNNEST($duckToks) AS word FROM documents)
         |  GROUP BY word),
         |h AS (SELECT c, COUNT(*) AS n_words FROM wc GROUP BY c),
         |cum AS (SELECT c,
         |    (SELECT CAST(SUM(c * n_words) AS BIGINT) FROM h) AS total,
         |    CAST(SUM(c * n_words) OVER w AS BIGINT) AS cum_toks,
         |    CAST(SUM(n_words) OVER w AS BIGINT) - n_words AS words_before,
         |    CAST(SUM(c * n_words) OVER w AS BIGINT) - c * n_words AS toks_before
         |  FROM h
         |  WINDOW w AS (ORDER BY c DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t AS (SELECT CAST(u AS BIGINT) AS target_bp
         |      FROM (SELECT UNNEST([5000, 7500, 9000, 9900]) AS u)),
         |j AS (SELECT target_bp, c, cum_toks, words_before, toks_before,
         |    (target_bp * total + 9999) // 10000 AS needed
         |  FROM cum, t)
         |SELECT target_bp,
         |  MIN_BY(words_before + (needed - toks_before + c - 1) // c,
         |         cum_toks) AS vocab_size
         |FROM j WHERE cum_toks >= needed
         |GROUP BY 1 ORDER BY target_bp""".stripMargin,
    "q_mix_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs,
        |    CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS sum_w,
        |             CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c)
        |SELECT lang, n_docs, w, w * 10000 // sum_w AS rate_bp,
        |  n_total * (w * 10000 // sum_w) // 10000 AS target_docs
        |FROM c, t ORDER BY lang""".stripMargin
  )
}
