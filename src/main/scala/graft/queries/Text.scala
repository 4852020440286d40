package graft.queries

import graft.Tables.load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TokenCountRewrite.tokens

/** Text-analysis operators over `documents` (driver-mandated extension
  * surface: tokenization/word count, per-doc stats, n-gram-heuristic
  * language ID, token counting, fingerprinting, quality scoring, and the
  * sentence-split generator).
  *
  * All computations are narrow maps + one hash aggregation — no UDFs, so
  * everything stays inside whole-stage codegen and scales linearly with
  * the corpus; the only shuffles are the groupBys and presentation sorts.
  *
  * Cross-engine determinism: every ratio is integer basis points
  * (`x * 10000 DIV n`) — floor division on integers is portable, whereas
  * `round()` of a division double can diverge between engines on
  * representation ties (e.g. 7/160 at 4 decimals).
  */
object Text {
  type Q = (SparkSession, String) => DataFrame

  /** Integer-bp quality components + combined score — the ONE scoring
    * definition shared by q_quality_score and q_ppl_bucket (so the
    * bucketing cannot drift from the reported score). Row-local. */
  private def qualityScored(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents")
      .withColumn("toks", expr(tokens))
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast("long").as("len"),
        expr("CAST(size(toks) AS BIGINT)").as("n_words"),
        // r22: graft_count_in replaces the interpreted per-token IN
        // filter (bit-equal; TextExprsSpec)
        expr("graft_count_in(toks, 'the,a,of,and,is,to,in')").as("n_stop"),
        regexp_count(col("text"), lit("[^a-z0-9 \\t\\n\\r]")).cast("long").as("n_punct"))
      .withColumn("stop_bp", expr("n_stop * 10000 DIV n_words"))
      .withColumn("punct_bp", expr("n_punct * 10000 DIV len"))
      .withColumn("len_bp", least(lit(10000L), col("len") * 20))
      .withColumn("score_bp",
        expr("(4 * stop_bp + 3 * (10000 - punct_bp) + 3 * len_bp) DIV 10"))

  val queries: Map[String, Q] = Map(
    // Word count: tokenize → explode → hash-agg; top-50 is a
    // TakeOrderedAndProject, not a global sort.
    "q_tokenize_wc" -> ((s, d) =>
      load(s, d, "documents")
        .select(explode(expr(tokens)).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(50)),

    "q_doc_stats" -> ((s, d) =>
      load(s, d, "documents")
        .withColumn("toks", expr(tokens)) // tokenize once, reuse below
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("len_chars"),
          col("n_chars"),
          expr("CAST(size(toks) AS BIGINT)").as("n_words"),
          expr("CAST(size(array_distinct(toks)) AS BIGINT)").as("n_distinct"),
          // average word length in basis points: sum(len) * 10000 DIV n
          // (r22: graft_len_sum replaces the interpreted
          // aggregate∘transform fold — bit-equal, TextExprsSpec)
          expr("CAST(graft_len_sum(toks)" +
            " * 10000 DIV size(toks) AS BIGINT)").as("awl_bp"))
        .orderBy("doc_id")),

    // Language ID by stopword-marker scoring (n-gram heuristic): integer
    // scores per language, argmax with a pinned tie order.
    "q_lang_id" -> ((s, d) =>
      load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .select(col("doc_id"), col("lang"),
          // r22: graft_count_in — see qualityScored
          expr("graft_count_in(toks, 'the,a,of,and,is')").as("s_en"),
          expr("graft_count_in(toks, 'der,die,und,das')").as("s_de"),
          expr("graft_count_in(toks, 'le,la,et,les')").as("s_fr"))
        .withColumn("lang_pred",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") >= col("s_fr"), "de")
            .otherwise("fr"))
        .orderBy("doc_id")),

    // Whitespace tokens + a BPE-ish regex token count (letters runs,
    // digit runs, single other non-space chars).
    "q_token_count" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          expr(s"CAST(size($tokens) AS BIGINT)").as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\r]"))
            .cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    // Document fingerprint: md5 over the sorted distinct vocabulary —
    // an order-insensitive content signature (bag-of-words fingerprint).
    "q_fingerprint" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          md5(expr(s"array_join(array_sort(array_distinct($tokens)), ' ')")
            .cast("binary")).as("fp"))
        .orderBy("doc_id")),

    // Outer generator: docs with no pattern match survive as a single
    // null row (explode_outer), ~10% of the corpus here.
    "q_explode_outer" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          explode_outer(expr("regexp_extract_all(text, 'v[a-z]+', 0)")).as("vword"))
        .groupBy(col("doc_id"), col("vword"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("doc_id"), col("vword").asc_nulls_first)),

    // Training-data chunking: fixed 32-token windows with stride 24
    // (8-token overlap) — the standard LLM-corpus preparation op. Chunk
    // starts at 1, 25, 49, … while a full-or-partial window remains.
    "q_chunk_docs" -> ((s, d) =>
      load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .select(col("doc_id"), col("toks"),
          explode(expr(
            "transform(sequence(0, CAST(greatest(ceil((size(toks) - 8) / 24.0) - 1, 0) AS INT))," +
              " c -> named_struct('chunk_no', CAST(c AS BIGINT)," +
              " 'chunk', array_join(slice(toks, c * 24 + 1, 32), ' ')))")).as("ch"))
        .select(col("doc_id"), col("ch.chunk_no").as("chunk_no"),
          col("ch.chunk").as("chunk"),
          expr("CAST(size(split(ch.chunk, ' ')) AS BIGINT)").as("n_tokens"))
        .orderBy("doc_id", "chunk_no")),

    // Deterministic corpus shuffle: a stable pseudo-random permutation
    // keyed by md5(doc_id + salt) — reproducible train-order shuffling.
    "q_shuffle_det" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), lit("|epoch0")).cast("binary")).as("shuffle_key"))
        .orderBy(col("shuffle_key"), col("doc_id"))
        .limit(100)),

    // Rolling-window fingerprint: min hash over all character 8-grams
    // (winnowing with a single global window) — position-insensitive
    // near-dup signature complementing the bag-of-words fingerprint.
    // The HOF form (array_min∘transform∘sequence) materialized ~|text|
    // hash strings per row and blocked codegen — slowest query in the
    // r1 bench; graft_rollminhash is the codegen'd one-loop equivalent
    // (functions/TextExprs.scala), bit-identical, short texts → NULL
    // like DuckDB's empty RANGE → LIST_MIN.
    "q_fingerprint_rolling" -> ((s, d) => {
      load(s, d, "documents")
        .select(col("doc_id"), expr("graft_rollminhash(text, 8)").as("rfp"))
        .orderBy("doc_id")
    }),

    // Quality score: stopword ratio, punctuation ratio, length factor —
    // combined in integer basis points (frame shared with q_ppl_bucket).
    "q_quality_score" -> ((s, d) =>
      qualityScored(s, d)
        .drop("lang")
        .orderBy("doc_id")),

    // CCNET-STYLE QUALITY BUCKETING — the head/middle/tail split CCNet
    // applies per language before keeping only the better tail: docs
    // rank per lang by (score_bp DESC, doc_id), bucket = rank·3/n_lang,
    // keep = head+middle. The per-lang rank uses the two-level
    // values-offset kernel (the q_shard_assign / q_compact_bins
    // convention): offsets per (lang, score) from a self-join over the
    // bounded values frame (score_bp ∈ [0, 10⁴] × #langs — metadata-
    // scale, broadcast back), row_number only within (lang, score) —
    // never a per-lang global sort through one task.
    "q_ppl_bucket" -> ((s, d) => {
      // r21 (guide §5): the scored frame feeds three consumers (the
      // values aggregate, the per-lang totals, and the final join) —
      // eager-checkpoint it once instead of re-running the
      // tokenize+regexp scoring scan per consumer
      val sc = graft.Checkpoints.ckpt(
        qualityScored(s, d).select(col("doc_id"), col("lang"), col("score_bp")))
      val vals = sc.groupBy(col("lang"), col("score_bp")).agg(count(lit(1)).as("c"))
      val offs = vals.as("a")
        .join(vals.as("b"), col("a.lang") === col("b.lang") &&
          col("b.score_bp") > col("a.score_bp"), "left")
        .groupBy(col("a.lang").as("lang"), col("a.score_bp").as("score_bp"))
        .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
      val tot = sc.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val wv = Window.partitionBy(col("lang"), col("score_bp")).orderBy(col("doc_id"))
      sc.join(broadcast(offs), Seq("lang", "score_bp"))
        .join(broadcast(tot), Seq("lang"))
        .withColumn("rn0", col("off") + row_number().over(wv) - 1)
        .withColumn("bucket", expr("(rn0 * 3) DIV n_lang"))
        .select(col("doc_id"), col("lang"), col("score_bp"), col("bucket"),
          (col("bucket") < 2).as("keep"))
        .orderBy("doc_id")
    }),

    // Bigram language-model quality scoring (the CCNet-style LM filter,
    // integer-exact): corpus-wide unigram and bigram counts give an
    // empirical conditional probability for every adjacent pair; a doc's
    // score is the mean p̂(w2|w1) over its bigrams in basis points —
    // low-probability (junky/unnatural) text scores low. Pure count
    // ratios instead of log-perplexity keep it engine-portable (DIV on
    // BIGINTs, no float log). Shapes: two map-side-combining count aggs
    // + equi-joins on short word keys — corpus-linear; the vocabulary
    // side is broadcast-able and the planner decides.
    "q_lm_score" -> ((s, d) => {
      val t = load(s, d, "documents").withColumn("toks", expr(tokens))
      // r21 (guide §5): the bigram instance stream feeds BOTH the
      // bigram-count aggregate and the scoring join — eager-checkpoint
      // it once instead of re-running the explode per consumer
      // (measured head-to-head: 0.98 s with vs 1.14 s without at
      // sf0.1); the pair structs come from one codegen scan
      // (graft_grams + a row-local split) instead of the interpreted
      // zip_with over two slice copies. Measured and REJECTED (this
      // round): pre-aggregating to (doc, w1, w2, k) before the joins —
      // bigrams inside a doc are mostly unique on this corpus, so the
      // extra shuffle+agg bought nothing and cost 0.65 s → 0.98 s.
      val inst = graft.Checkpoints.ckpt(t
        .select(col("doc_id"), explode(expr("graft_grams(toks, 2)")).as("bg"))
        .select(col("doc_id"),
          expr("element_at(split(bg, ' '), 1)").as("w1"),
          expr("element_at(split(bg, ' '), 2)").as("w2")))
      val uni = t.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      val bg = inst.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      inst.join(bg, Seq("w1", "w2"))
        .join(uni, col("w1") === col("w"))
        .select(col("doc_id"), expr("cb * 10000 DIV cu").as("p_bp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bg"),
          expr("CAST(sum(p_bp) DIV count(1) AS BIGINT)").as("score_bp"))
        .orderBy("doc_id")
    }),

    // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // algorithm): every window of 4 consecutive char-8-gram hashes
    // contributes its minimum, and the distinct selected hashes form the
    // document's fingerprint set — guaranteed to share fingerprints with
    // any copy of a ≥11-char substring, unlike the single-global-min
    // q_fingerprint_rolling. Shapes: positioned hash explode (row-local),
    // doc-stratified forward-frame window min, distinct + hash agg — the
    // only shuffle keys are doc_id, so the op scales with the corpus.
    // Winnowing is row-local by nature, so the engine form is the
    // codegen'd `graft_winnow` expression (functions/TextExprs.scala) —
    // the declarative form (positioned-hash explode + doc-stratified
    // window min + re-aggregate) paid a ~1M-row explode and a per-doc
    // sort for the same answer (6.3 s → sub-second at sf0.1). ZERO
    // shuffles before the presentation sort.
    "q_winnow" -> ((s, d) => {
      load(s, d, "documents")
        .select(col("doc_id"), expr("graft_winnow(text, 8, 4)").as("fps"))
        .filter(col("fps").isNotNull)
        .select(col("doc_id"),
          expr("CAST(size(fps) AS BIGINT)").as("n_fp"),
          md5(array_join(col("fps"), "").cast("binary")).as("fp_md5"))
        .orderBy("doc_id")
    }),

    // WINNOWING PAIR DETECTION — the MOSS copy-detection step built on
    // q_winnow's fingerprint sets: candidate document pairs share >= 3
    // DISCRIMINATIVE fingerprints, where discriminative means document
    // frequency in [2, 10] — df = 1 cannot pair, df > 10 is corpus
    // boilerplate whose posting lists go quadratic (the standard
    // stop-fingerprint filter; the guarantee that any >= 11-char shared
    // substring contributes a shared fingerprint still holds for
    // substrings rare enough to matter). Shapes: the fingerprint set is
    // one codegen'd row-local graft_winnow pass, the df filter one
    // combining agg + a payload-free LEFT SEMI, the pair count an
    // equi-join on the fingerprint key — never all-pairs; overlap is
    // reported in ppm of the smaller fingerprint set (containment).
    "q_winnow_pairs" -> ((s, d) => {
      val fps = load(s, d, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), expr("graft_winnow(text, 8, 4)").as("fps"))
        .filter(col("fps").isNotNull)
      val nf = fps.select(col("doc_id"), expr("CAST(size(fps) AS BIGINT)").as("n_fp"))
      val post = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
      val keep = post.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= 10).select(col("fp"))
      val p = post.join(keep, Seq("fp"), "left_semi")
      p.as("x").join(p.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .join(nf.select(col("doc_id").as("a"), col("n_fp").as("n_fp_a")), "a")
        .join(nf.select(col("doc_id").as("b"), col("n_fp").as("n_fp_b")), "b")
        .select(col("a"), col("b"), col("n_shared"),
          expr("n_shared * 1000000 DIV least(n_fp_a, n_fp_b)").as("overlap_ppm"))
        .orderBy("a", "b")
    }),

    // SKIPGRAM pair generation (word2vec/GloVe training input): every
    // (center, context) token pair within window ±2, distance kept, both
    // directions counted — the op that turns a corpus into
    // embedding-training examples. Pair extraction is row-local
    // (zip_with over shifted slices per offset — no self-join, no
    // explode-then-join); the only shuffle is the map-side-combining
    // count on (w, c, dist) and the top-30 is a TakeOrdered, so at
    // 100 TB only partial pair counts cross the wire. Total order:
    // (cnt desc, w, c, dist) — (w, c, dist) is the group key, unique.
    "q_skipgram" -> ((s, d) => {
      val p = load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(1, 2), k -> CASE WHEN size(toks) > k THEN" +
            " zip_with(slice(toks, 1, size(toks) - k), slice(toks, k + 1, size(toks) - k)," +
            " (a, b) -> named_struct('w', a, 'c', b, 'dist', CAST(k AS BIGINT)))" +
            " ELSE array() END))")).as("p"))
        .select(col("p.w").as("w"), col("p.c").as("c"), col("p.dist").as("dist"))
      // r21 (guide §2.4): both directions of every pair come out of ONE
      // pass — the former union of two selects of `p` re-ran the corpus
      // scan + pair explode per branch
      p.select(explode(array(
          struct(col("w"), col("c"), col("dist")),
          struct(col("c").as("w"), col("w").as("c"), col("dist")))).as("e"))
        .select(col("e.w").as("w"), col("e.c").as("c"), col("e.dist").as("dist"))
        .groupBy(col("w"), col("c"), col("dist"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w"), col("c"), col("dist"))
        .limit(30)
    }),

    // Character-level GINI–SIMPSON DIVERSITY (a repetition/quality
    // signal next to q_rep_bigram): with c_l = occurrences of letter l
    // and n = Σc_l, the probability two randomly drawn letters differ
    // is (n² − Σc_l²)/n². Unlike Shannon entropy this is exactly
    // RATIONAL, so the score is integer ppm with no float log to
    // diverge between engines (the same reason q_sample_weighted uses
    // a linear priority instead of u^(1/w)). Letter counts are
    // row-local — 26 codegen'd replace-length diffs, no explode — so
    // there are ZERO shuffles before the presentation sort. int64
    // envelope: n²·1e6 < 2⁶³ ⇔ n ≲ 3·10⁶ letters per doc — beyond
    // that, score fixed-size chunks (q_chunk_docs) instead.
    "q_char_diversity" -> ((s, d) => {
      // r21: graft_letter_counts is the one-byte-scan twin of the
      // 26× replace-diff transform (which allocated 26 full copies of
      // every document per row) — element-equal (TextExprsSpec)
      load(s, d, "documents")
        .withColumn("cnts", expr("graft_letter_counts(text)"))
        .withColumn("n_letters", expr("aggregate(cnts, 0L, (a, x) -> a + x)"))
        .withColumn("ssq", expr("aggregate(cnts, 0L, (a, x) -> a + x * x)"))
        .select(col("doc_id"), col("n_letters"),
          expr("CAST(size(filter(cnts, x -> x > 0)) AS BIGINT)").as("distinct_letters"),
          expr("(n_letters * n_letters - ssq) * 1000000" +
            " DIV greatest(n_letters * n_letters, 1)").as("simpson_ppm"))
        .orderBy("doc_id")
    }),

    // UDTF shape (one row → many with ordinal): split each document into
    // sentence-ish chunks on the word 'table', keep the ordinal.
    "q_udtf_sentences" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " table ")))
        .withColumnRenamed("pos", "sent_no")
        .withColumnRenamed("col", "sentence")
        .withColumn("sent_no", col("sent_no").cast("long"))
        .orderBy("doc_id", "sent_no")),

    // One BPE merge-selection step: count adjacent token pairs
    // corpus-wide and rank — the inner loop of byte-pair-encoding
    // vocabulary induction (each iteration merges the top pair and
    // recounts). Pair extraction is row-local (zip_with over two
    // shifted slices, no self-join), the count is one
    // map-side-combining aggregate on the pair, and the top-20 is a
    // TakeOrdered — at 100 TB the only data crossing the wire is the
    // partial pair counts.
    "q_bpe_step" -> ((s, d) => {
      load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .select(explode(expr("graft_grams(toks, 2)")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    }),

    // Iterated BPE vocabulary LEARNING — the driver-loop fixpoint over
    // the q_bpe_step kernel (same pattern as the transitive redirect
    // resolution in etl/Redirects.scala): N merge rounds, re-tokenizing
    // the corpus between rounds. Representation: the token sequence is
    // one string of individually-wrapped tokens "(a)(b)(c)" (literal
    // parens are remapped out of tokens by the pretokenizer, so the
    // wrapping is unambiguous on any alphabet); applying merge (a,b)→ab is
    // then a plain left-to-right non-overlapping `replace` of "(a)(b)"
    // with "(ab)" — IDENTICAL greedy semantics in Spark and DuckDB, and
    // the merged token re-wraps so later rounds can merge it further.
    // Scale shape: each round is one corpus-linear narrow map
    // (re-extract tokens), one map-side-combining pair count, and a
    // top-1 that is the ONLY row crossing to the driver; the corpus
    // string is checkpointed per round so lineage stays flat. At 100 TB
    // a production trainer batches several non-interacting merges per
    // pass — that path is implemented (bpeLoopBatched) behind the
    // `spark.graft.bpe.batchK` conf; the DEFAULT stays one merge per
    // pass, which keeps the oracle exactly unrollable (setting the
    // conf is an explicit opt-in to the snapshot-count approximation
    // and diverges from the strict-greedy oracle).
    "q_bpe_train" -> ((s, d) => {
      val (merges, enc) = bpeDispatch(s, d, 8)
      graft.Checkpoints.release(enc)
      s.createDataFrame(merges).toDF("step", "l_tok", "r_tok", "merged", "cnt")
    }),

    // The APPLY side of BPE: the corpus re-tokenized under the learned
    // merge table — per doc, the post-merge token count and a content
    // hash of the merged token stream. Runs the same 8-round fixpoint
    // (training and application share the encoded-corpus frame, so at
    // 100 TB the apply output falls out of the training loop's final
    // checkpoint for free — no separate pass).
    "q_bpe_apply" -> ((s, d) =>
      bpeDispatch(s, d, 8)._2
        .select(col("doc_id"),
          // r21: graft_paren_toks is the one-byte-scan twin of
          // regexp_extract_all(enc, '\(([^()]+)\)', 1) — bit-equal
          // (TextExprsSpec)
          expr("graft_paren_toks(enc)").as("toks"))
        .select(col("doc_id"),
          expr("CAST(size(toks) AS BIGINT)").as("n_tokens"),
          md5(expr("array_join(toks, ' ')").cast("binary")).as("toks_md5"))
        .orderBy("doc_id")),

    // INVERTED-INDEX BUILD — the index-construction counterpart of
    // q_bm25's query side: per term, document frequency, total term
    // frequency, and the top-3 posting entries by (tf DESC, doc_id ASC)
    // as "docid:tf" strings. The postings head uses the O(k)-state
    // `graft_topk` aggregate (map-side combining, ≤ 2k entries per
    // partial) — NEVER collect_list of the full posting list, which is
    // corpus-sized for stopword terms; df/total_tf ride the SAME hash
    // agg. Two-level rollup: (word, doc) tf first (map-side combining),
    // then the word-level agg — both shuffles on term-sized keys. At
    // 100 TB the full (uncapped) index would stream to a term-bucketed
    // sink instead of capping; the plan shape is identical.
    "q_inverted_index" -> ((s, d) => {
      val tf = load(s, d, "documents")
        .select(col("doc_id"), explode(expr(tokens)).as("word"))
        .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("word"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
          expr("graft_topk(concat(lpad(CAST(doc_id AS STRING), 12, '0')," +
            " ':', CAST(tf AS STRING)), tf, 3)").as("post"))
        .filter(col("df") >= 10)
        .select(col("word"), col("df"), col("total_tf"),
          expr("array_join(transform(post, x -> x.item), ' ')").as("postings"))
        .orderBy(col("df").desc, col("word").asc)
        .limit(50)
    }),

    // BPE APPLY over the PERSISTED vocabulary (r18 — the tokenizer-
    // serving path: a production trainer ships its merge table, and
    // every later corpus pass reads the vocab instead of retraining):
    // the store is built lazily once (write-once atomic rename, keyed
    // by (input content fingerprint, budget, batchK) so neither conf
    // changes nor regenerated test data ever read a stale vocab), then
    // the apply is the per-word rank-map pass (vocab-size independent).
    // Bit-equal to q_bpe_apply by construction → SHARES its oracle.
    "q_bpe_apply_probe" -> ((s, d) => {
      val budget = s.conf.getOption("spark.graft.bpe.merges").map(_.toInt)
        .filter(_ >= 1).getOrElse(8)
      val batchK = s.conf.getOption("spark.graft.bpe.batchK").map(_.toInt)
        .filter(_ > 1).getOrElse(1)
      val store = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_bpe_vocab",
        graft.Tables.dataFingerprint(s, d, Seq("documents")) +
          s"-m$budget-k$batchK-p${pretokMode(s)}").toString
      if (!graft.operators.BpeVocabStore.exists(s, store)) {
        val (m, enc, _) = bpeLoopBatched(s, d, budget, batchK)
        graft.Checkpoints.release(enc)
        graft.operators.BpeVocabStore.ensureVocab(s, m, store)
      }
      graft.operators.BpeVocabStore.applyMerges(s, bpeEncode(s, d), store)
        .select(col("doc_id"),
          expr("graft_paren_toks(enc)").as("toks"))
        .select(col("doc_id"),
          expr("CAST(size(toks) AS BIGINT)").as("n_tokens"),
          md5(expr("array_join(toks, ' ')").cast("binary")).as("toks_md5"))
        .orderBy("doc_id")
    }),

    // q_inverted_index over the PERSISTED store (r18 — the sibling of
    // q_bm25_probe, completing VERDICT r17 #6): identical word-level
    // rollup, but the (word, doc_id, tf) frame comes from
    // InvertedIndexStore's postings instead of a fresh corpus
    // tokenize — the store's tf is the same exact count, so the output
    // is bit-equal by construction and SHARES q_inverted_index's
    // oracle. At 100 TB the index build amortizes over every
    // retrieval/stats query that reads it; this row proves the
    // read path under the hash oracle.
    "q_inverted_index_probe" -> ((s, d) => {
      val store = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_inv_index",
        graft.Tables.dataFingerprint(s, d, Seq("documents"))).toString
      graft.operators.InvertedIndexStore.appendBatch(s,
        load(s, d, "documents").select(col("doc_id"), col("text")),
        store, "full")
      graft.operators.InvertedIndexStore.readPostings(s, store)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
          expr("graft_topk(concat(lpad(CAST(doc_id AS STRING), 12, '0')," +
            " ':', CAST(tf AS STRING)), tf, 3)").as("post"))
        .filter(col("df") >= 10)
        .select(col("word"), col("df"), col("total_tf"),
          expr("array_join(transform(post, x -> x.item), ' ')").as("postings"))
        .orderBy(col("df").desc, col("word").asc)
        .limit(50)
    }),

    // TOKENIZER FERTILITY — the vocab-quality diagnostic every
    // tokenizer report carries: BPE tokens per word (fertility, the
    // lower the better-adapted the merges) and characters per BPE token
    // (compression), both integer ppm, per doc, under the same 8-merge
    // vocabulary as q_bpe_train/apply. The per-doc word/char counts are
    // row-local; the BPE side falls out of the training loop's final
    // checkpointed corpus (shared frame — at 100 TB this adds one
    // doc-keyed equi-join to a pass that already ran, not a new corpus
    // pass). The word denominator is the PRETOKEN count — the same
    // [[pretokens]] column the encoder consumes (r20: letter runs,
    // digit runs, punctuation singletons — no longer letter-only), so
    // n_words >= 1 ⟺ the doc is in the encoded corpus and both DIVs
    // have nonzero denominators.
    "q_tok_fertility" -> ((s, d) => {
      val bpe = bpeDispatch(s, d, 8)._2
        .select(col("doc_id"), expr(
          "CAST(size(graft_paren_toks(enc)) AS BIGINT)")
          .as("n_bpe"))
      val words = load(s, d, "documents")
        .select(col("doc_id"), pretokens(s).as("ws"))
        // r22: graft_len_sum replaces the interpreted aggregate(...)
        // length fold (bit-equal; TextExprsSpec)
        .select(col("doc_id"),
          expr("CAST(size(ws) AS BIGINT)").as("n_words"),
          expr("graft_len_sum(ws)").as("n_chars"))
        .filter(col("n_words") > 0)
      words.join(bpe, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_bpe"),
          expr("n_bpe * 1000000 DIV n_words").as("fertility_ppm"),
          expr("n_chars * 1000000 DIV n_bpe").as("chars_per_tok_ppm"))
        .orderBy("doc_id")
    })
  )

  /** The trainer the registered queries run: strict greedy by default
    * (oracle-exact), batched when `spark.graft.bpe.batchK` > 1, and a
    * realistic merge budget behind `spark.graft.bpe.merges` (default is
    * the caller's budget — 8 for the oracled queries, so setting the
    * conf is the explicit opt-in that diverges from the unrolled-CTE
    * oracle). A real tokenizer trains tens of thousands of merges; the
    * loop early-exits when the corpus runs out of pairs, so any budget
    * is safe, and the pass count stays ≈ merges / batchK. */
  private def bpeDispatch(s: SparkSession, d: String, nMerges: Int)
  : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    val budget = s.conf.getOption("spark.graft.bpe.merges").map(_.toInt)
      .filter(_ >= 1).getOrElse(nMerges)
    val batchK = s.conf.getOption("spark.graft.bpe.batchK")
      .map(_.toInt).filter(_ > 1).getOrElse(1)
    val (m, e, _) = bpeLoopBatched(s, d, budget, batchK)
    (m, e)
  }

  /** GPT-2-CLASS PRETOKENIZER (r20, VERDICT r19 #3). The r19 BPE family
    * trained only on `^[a-z]+$` space-split words, so digits,
    * punctuation, case, and non-ASCII text never reached the tokenizer —
    * a fertility report over a real corpus was meaningless under that
    * filter. The default pretokenization is now class-run splitting
    * over the RAW text: letter runs (`\p{L}+`, case preserved), digit
    * runs (`\p{N}+`), and every other non-whitespace character as a
    * singleton — the simplification of GPT-2's pattern that stays
    * bit-reproducible across Spark (Java regex) and DuckDB (RE2), both
    * of which treat `\p{L}`/`\p{N}` as full Unicode categories and
    * match one CODE POINT per singleton. Whitespace is the explicit
    * ASCII set (space/tab/LF/CR — Java and RE2 disagree on `\s`'s
    * edges, so the class is spelled out). The legacy behavior stays
    * selectable via `spark.graft.bpe.pretok=letters`; the vocab store
    * and artifact-cache keys carry the mode, so the two pretokenizers
    * can never read each other's vocabularies. */
  private[graft] val PretokConf = "spark.graft.bpe.pretok"
  private[graft] val PretokRe = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N} \t\n\r]"

  /** Paren-remap sentinels: the corpus encoding wraps each token in
    * `(...)`, so literal parens INSIDE a token (punctuation singletons)
    * are remapped to private-use codepoints before wrapping — the
    * encoding stays unambiguous on ANY alphabet (VERDICT r19 #3's
    * "escaped or remapped" requirement). Input text already containing
    * a sentinel fails fast rather than aliasing with a remapped paren. */
  private[graft] val ParenL = "\uE000"
  private[graft] val ParenR = "\uE001"

  private[graft] def pretokMode(s: SparkSession): String =
    s.conf.getOption(PretokConf).getOrElse("gpt2")

  /** The pretoken array column for `text` under the session's mode —
    * shared by the encoder and q_tok_fertility's denominators so the
    * two can never disagree on what counts as a word. */
  private[graft] def pretokens(s: SparkSession)
  : org.apache.spark.sql.Column = pretokMode(s) match {
    case "letters" => expr("filter(split(text, ' '), x -> x rlike '^[a-z]+$')")
    case "gpt2" =>
      val guarded = when(
        col("text").contains(ParenL) || col("text").contains(ParenR),
        raise_error(lit("bpe pretokenizer: input text contains the " +
          "reserved paren-remap codepoints U+E000/U+E001")))
        .otherwise(col("text"))
      // r21: one-code-point-scan twin of
      // regexp_extract_all(text, PretokRe, 0) — bit-equal
      // (TextExprsSpec); the regex stays the oracle-side definition
      call_function("graft_pretok_gpt2", guarded)
    case other => throw new IllegalArgumentException(
      s"unknown $PretokConf mode '$other' (gpt2 | letters)")
  }

  /** The paren-encoded corpus the BPE fixpoint iterates over. Tokens
    * have their literal parens remapped (see [[ParenL]]); everything
    * downstream extracts tokens with the alphabet-agnostic
    * `\(([^()]+)\)` — tokens cannot contain parens by construction. */
  private[graft] def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val toks = pretokMode(s) match {
      case "letters" => pretokens(s)
      case _ => transform(pretokens(s),
        t => replace(replace(t, lit("("), lit(ParenL)), lit(")"), lit(ParenR)))
    }
    load(s, d, "documents")
      .select(col("doc_id"),
        concat_ws("", transform(toks,
          t => concat(lit("("), t, lit(")")))).as("enc"))
      .filter(length(col("enc")) > 0)
  }

  /** BATCHED BPE training — the production path a 100 TB trainer needs:
    * per round, the top pairs by (cnt DESC, pair ASC) are scanned in
    * order and a pairwise-DISJOINT subset (no shared token among any
    * {l, r, l+r} — skip-and-continue) of up to `batchK` merges is
    * applied in ONE corpus pass as a chained replace. Disjoint replaces
    * commute (a merge can create/destroy only pairs touching its own
    * tokens), so the one-pass application equals one-at-a-time
    * application of the same set — BatchedBpeSpec proves this corpus
    * equality on real data. What batching DOES approximate is the
    * greedy schedule: later batch members use the round's count
    * SNAPSHOT, not counts retrained after the earlier members (a new
    * `(x, ab)` pair can outrank a snapshot pick) — which is why the
    * oracled `q_bpe_train`/`q_bpe_apply` default to batchK = 1 (exact
    * greedy, exactly unrollable in the oracle) and batching sits behind
    * the `spark.graft.bpe.batchK` conf. Returns (merge table with
    * global step ids and snapshot counts, final corpus, per-round batch
    * sizes) — rounds ≈ nMerges / batchK corpus passes instead of
    * nMerges. */
  private[graft] def bpeLoopBatched(s: SparkSession, d: String, nMerges: Int,
                                    batchK: Int)
  : (Seq[(Int, String, String, String, Long)], DataFrame, Seq[Int]) = {
    require(batchK >= 1)
    // lazy ckpt (r21): the round's top-pair collect is the single next
    // consumer and materializes the blocks in its own pass
    var enc = graft.Checkpoints.ckptLazy(bpeEncode(s, d),
      soleConsumer = "the first round's top-pair collect")
    // `ckpt` is the checkpoint `enc` reads; `superseded` is the one
    // before it, freed once the next collect has materialized `ckpt`
    var ckpt = enc
    var superseded: Option[DataFrame] = None
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    val roundSizes = Seq.newBuilder[Int]
    var step = 1
    var rounds = 0
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      // 4× headroom so the disjoint filter usually fills the batch; a
      // short round just leaves the rest to the next snapshot
      // r21: graft_paren_pairs emits the adjacent (l, r) structs in the
      // same byte scan that extracted tokens — no intermediate array,
      // no interpreted zip_with/slice (equality pinned in TextExprsSpec;
      // docs with < 2 tokens yield an empty array, matching the old
      // size >= 2 filter)
      val top = enc
        .select(explode(expr("graft_paren_pairs(enc)")).as("p"))
        .groupBy(col("p.l").as("l_tok"), col("p.r").as("r_tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_tok"), col("r_tok"))
        .limit(math.max(1, batchK * 4)).collect()
      superseded.foreach(graft.Checkpoints.release)
      superseded = None
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val sel = top.iterator.map(t => (t.getString(0), t.getString(1), t.getLong(2)))
          .filter { case (l, r, _) =>
            val toks = Set(l, r, l + r)
            if (toks.exists(used)) false else { used ++= toks; true }
          }
          .take(math.min(batchK, nMerges - step + 1)).toSeq
        sel.foreach { case (l, r, cnt) =>
          merges += ((step, l, r, l + r, cnt)); step += 1
        }
        roundSizes += sel.length
        // Column-based fold (r20): tokens may now contain quotes or
        // backslashes (punctuation singletons), so literal-SQL
        // embedding would need per-engine escaping — lit() needs none
        val applied = sel.foldLeft(col("enc")) { case (acc, (l, r, _)) =>
          replace(acc, lit(s"($l)($r)"), lit(s"(${l + r})"))
        }
        val next = enc.select(col("doc_id"), applied.as("enc"))
        rounds += 1
        // checkpoint every SECOND round that another round follows: the
        // un-checkpointed hop is a single narrow replace chain over the
        // previous checkpoint — recompute is one cheap pass,
        // materialization cost halves. The last round stays a replace
        // chain over the kept checkpoint, so the caller's release of
        // the returned frame frees everything this loop still holds.
        enc = if (rounds % 2 == 0 && step <= nMerges) {
          superseded = Some(ckpt)
          ckpt = graft.Checkpoints.ckptLazy(next,
            soleConsumer = "the next round's top-pair collect")
          ckpt
        } else next
      }
    }
    (merges.result(), enc, roundSizes.result())
  }

  /** Unrolled N-step DuckDB twin of the BPE fixpoint: step i recounts
    * pairs from e(i-1), m(i) is the deterministic argmax (cnt DESC, pair
    * ASC), e(i) applies the replace — the exact driver loop as a CTE
    * chain. Every chained CTE is MATERIALIZED (PostgreSQL-compatible):
    * each e(i) is referenced twice (pair count + replace), so inlined
    * CTEs would expand to 2^n scans of the base table. `finalSelect`
    * chooses the output: the merge table (train) or the re-tokenized
    * corpus read from e(n) (apply). */
  /** The gpt2-mode pretokenizer in DuckDB terms: RE2's `\p{L}`/`\p{N}`
    * are the same Unicode categories as Java's, the whitespace class is
    * the same explicit ASCII set, and the paren remap is the same two
    * chained REPLACEs — so e0 equals [[bpeEncode]] character for
    * character (OracleSqlSpec-style convention pinning lives in
    * BatchedBpeSpec's extended-alphabet equality test). */
  private def duckEnc0: String =
    "SELECT doc_id, ARRAY_TO_STRING(LIST_TRANSFORM(" +
      s"REGEXP_EXTRACT_ALL(text, '$PretokRe'), " +
      s"t -> '(' || REPLACE(REPLACE(t, '(', '$ParenL'), ')', '$ParenR') || ')'" +
      "), '') AS enc FROM documents"

  private def bpeChain(n: Int, withFinalE: Boolean): String = {
    val enc0 = duckEnc0
    val steps = (1 to n).map { i =>
      val needE = withFinalE || i < n
      s"""p$i AS MATERIALIZED (SELECT toks[k] AS l_tok, toks[k + 1] AS r_tok, COUNT(*) AS cnt
         |  FROM (SELECT REGEXP_EXTRACT_ALL(enc, '\\(([^()]+)\\)', 1) AS toks FROM e${i - 1}) t,
         |       UNNEST(RANGE(1, LEN(toks))) AS u(k)
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l_tok, r_tok, l_tok || r_tok AS merged, cnt FROM p$i
         |  ORDER BY cnt DESC, l_tok, r_tok LIMIT 1)""".stripMargin +
        (if (!needE) "" else
          // the empty-m(i) guard mirrors bpeLoopBatched's `exhausted`
          // break: if pair counts run dry before round n, the scalar
          // subqueries go NULL and REPLACE(enc, NULL, ..) would
          // NULL-poison every later e(i) — carry e(i-1) unchanged instead
          s""",
             |e$i AS MATERIALIZED (SELECT doc_id,
             |  CASE WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN enc
             |       ELSE REPLACE(enc,
             |         '(' || (SELECT l_tok FROM m$i) || ')(' || (SELECT r_tok FROM m$i) || ')',
             |         '(' || (SELECT merged FROM m$i) || ')') END AS enc
             |  FROM e${i - 1})""".stripMargin)
    }
    s"WITH e0 AS MATERIALIZED (SELECT doc_id, enc FROM ($enc0) WHERE enc <> ''),\n" +
      steps.mkString(",\n") + "\n"
  }

  private def bpeTrainOracle(n: Int): String =
    bpeChain(n, withFinalE = false) +
      (1 to n).map(i => s"SELECT $i AS step, l_tok, r_tok, merged, cnt FROM m$i")
        .mkString(" UNION ALL ") + " ORDER BY step"

  private def bpeApplyOracle(n: Int): String =
    bpeChain(n, withFinalE = true) +
      s"""SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tokens,
         |  MD5(ARRAY_TO_STRING(toks, ' ')) AS toks_md5
         |FROM (SELECT doc_id, REGEXP_EXTRACT_ALL(enc, '\\(([^()]+)\\)', 1) AS toks FROM e$n)
         |ORDER BY doc_id""".stripMargin

  private def tokFertilityOracle(n: Int): String =
    bpeChain(n, withFinalE = true) +
      s""", b AS (SELECT doc_id,
         |    CAST(LEN(REGEXP_EXTRACT_ALL(enc, '\\(([^()]+)\\)', 1)) AS BIGINT) AS n_bpe
         |  FROM e$n),
         |w AS (SELECT doc_id,
         |    CAST(LEN(ws) AS BIGINT) AS n_words,
         |    CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(ws, x -> LENGTH(x))), 0) AS BIGINT) AS n_chars
         |  FROM (SELECT doc_id,
         |          REGEXP_EXTRACT_ALL(text, '$PretokRe') AS ws FROM documents))
         |SELECT doc_id, n_words, n_bpe,
         |  n_bpe * 1000000 // n_words AS fertility_ppm,
         |  n_chars * 1000000 // n_bpe AS chars_per_tok_ppm
         |FROM w JOIN b USING (doc_id) WHERE n_words > 0 ORDER BY doc_id""".stripMargin

  private val duckToks = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** q_inverted_index_probe / q_bpe_apply_probe are bit-equal to their
    * recompute twins by construction (persisted postings carry the same
    * exact tf; the persisted merge table IS the trainer's output and
    * the fold applies it in step order) — shared oracles, the
    * q_bm25_probe pattern. */
  lazy val oracles: Map[String, String] =
    oraclesBase +
      ("q_inverted_index_probe" -> oraclesBase("q_inverted_index")) +
      ("q_bpe_apply_probe" -> oraclesBase("q_bpe_apply"))

  private lazy val oraclesBase: Map[String, String] = Map(
    "q_char_diversity" ->
      """WITH c AS (SELECT doc_id, LIST_TRANSFORM(RANGE(97, 123), c ->
        |    CAST(LENGTH(text) - LENGTH(REPLACE(text, CHR(CAST(c AS INT)), '')) AS BIGINT)) AS cnts
        |  FROM documents),
        |a AS (SELECT doc_id,
        |    CAST(LIST_SUM(cnts) AS BIGINT) AS n_letters,
        |    CAST(LEN(LIST_FILTER(cnts, x -> x > 0)) AS BIGINT) AS distinct_letters,
        |    CAST(LIST_SUM(LIST_TRANSFORM(cnts, x -> x * x)) AS BIGINT) AS ssq
        |  FROM c)
        |SELECT doc_id, n_letters, distinct_letters,
        |  (n_letters * n_letters - ssq) * 1000000
        |    // GREATEST(n_letters * n_letters, 1) AS simpson_ppm
        |FROM a ORDER BY doc_id""".stripMargin,
    "q_skipgram" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |p AS (SELECT toks[CAST(i AS INT)] AS w, toks[CAST(i + k AS INT)] AS c,
         |    CAST(k AS BIGINT) AS dist
         |  FROM t, UNNEST(RANGE(1, 3)) AS u(k),
         |    UNNEST(RANGE(1, GREATEST(LEN(toks) - k + 1, 1))) AS v(i)
         |  WHERE LEN(toks) > k)
         |SELECT w, c, dist, COUNT(*) AS cnt FROM (
         |  SELECT w, c, dist FROM p UNION ALL SELECT c AS w, w AS c, dist FROM p)
         |GROUP BY w, c, dist ORDER BY cnt DESC, w, c, dist LIMIT 30""".stripMargin,
    "q_bpe_train" -> bpeTrainOracle(8),
    "q_bpe_apply" -> bpeApplyOracle(8),
    "q_tok_fertility" -> tokFertilityOracle(8),
    "q_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, UNNEST($duckToks) AS word FROM documents),
         |tf AS (SELECT word, doc_id, COUNT(*) AS tf FROM t GROUP BY word, doc_id),
         |a AS (SELECT word, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
         |      FROM tf GROUP BY word),
         |p AS (SELECT word, ARRAY_TO_STRING(
         |        (LIST(LPAD(CAST(doc_id AS VARCHAR), 12, '0') || ':' || CAST(tf AS VARCHAR)
         |          ORDER BY tf DESC, LPAD(CAST(doc_id AS VARCHAR), 12, '0') ASC))[1:3],
         |        ' ') AS postings
         |      FROM tf GROUP BY word)
         |SELECT word, df, total_tf, postings FROM a JOIN p USING (word)
         |WHERE df >= 10 ORDER BY df DESC, word LIMIT 50""".stripMargin,
    "q_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |inst AS (SELECT doc_id, toks[k] AS w1, toks[k + 1] AS w2
         |         FROM t, UNNEST(RANGE(1, LEN(toks))) AS u(k)),
         |uni AS (SELECT w, COUNT(*) AS cu FROM
         |        (SELECT UNNEST(toks) AS w FROM t) GROUP BY w),
         |bg AS (SELECT w1, w2, COUNT(*) AS cb FROM inst GROUP BY 1, 2),
         |sc AS (SELECT i.doc_id, CAST(cb * 10000 // cu AS BIGINT) AS p_bp
         |       FROM inst i JOIN bg USING (w1, w2) JOIN uni ON uni.w = i.w1)
         |SELECT doc_id, COUNT(*) AS n_bg,
         |  CAST(SUM(p_bp) // COUNT(*) AS BIGINT) AS score_bp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_winnow" ->
      """WITH g AS (SELECT doc_id, k AS pos, MD5(SUBSTR(text, k, 8)) AS h
        |           FROM documents, UNNEST(RANGE(1, LENGTH(text) - 6)) AS u(k)),
        |wm AS (SELECT doc_id, pos,
        |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |         MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
        |       FROM g),
        |sel AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= maxpos - 3)
        |SELECT doc_id, COUNT(*) AS n_fp,
        |  MD5(ARRAY_TO_STRING(LIST(wmin ORDER BY wmin), '')) AS fp_md5
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_winnow_pairs" ->
      """WITH g AS (SELECT doc_id, k AS pos, MD5(SUBSTR(text, k, 8)) AS h
        |           FROM documents, UNNEST(RANGE(1, LENGTH(text) - 6)) AS u(k)
        |           WHERE doc_id < 100),
        |wm AS (SELECT doc_id, pos,
        |         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |         MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
        |       FROM g),
        |sel AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE pos <= maxpos - 3),
        |nf AS (SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY doc_id),
        |keep AS (SELECT wmin FROM sel GROUP BY wmin
        |         HAVING COUNT(*) BETWEEN 2 AND 10),
        |p AS (SELECT s.doc_id, s.wmin FROM sel s JOIN keep USING (wmin)),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
        |       FROM p x JOIN p y ON x.wmin = y.wmin AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT a, b, n_shared,
        |  n_shared * 1000000 // LEAST(na.n_fp, nb.n_fp) AS overlap_ppm
        |FROM pr JOIN nf na ON na.doc_id = a JOIN nf nb ON nb.doc_id = b
        |ORDER BY a, b""".stripMargin,
    "q_bpe_step" ->
      s"""WITH t AS (SELECT $duckToks AS toks FROM documents),
         |pairs AS (SELECT toks[k] || ' ' || toks[k + 1] AS pair
         |          FROM t, UNNEST(RANGE(1, LEN(toks))) AS u(k))
         |SELECT pair, COUNT(*) AS cnt FROM pairs
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "q_tokenize_wc" ->
      s"""SELECT word, COUNT(*) AS cnt
         |FROM (SELECT unnest($duckToks) AS word FROM documents)
         |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50""".stripMargin,
    "q_doc_stats" ->
      s"""SELECT doc_id, lang,
         |  CAST(LENGTH(text) AS BIGINT) AS len_chars, n_chars,
         |  CAST(LEN($duckToks) AS BIGINT) AS n_words,
         |  CAST(LEN(LIST_DISTINCT($duckToks)) AS BIGINT) AS n_distinct,
         |  CAST(LIST_SUM(LIST_TRANSFORM($duckToks, x -> LENGTH(x)))
         |    * 10000 // LEN($duckToks) AS BIGINT) AS awl_bp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id, lang, s_en, s_de, s_fr,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_pred
         |FROM (SELECT doc_id, lang,
         |  CAST(LEN(LIST_FILTER($duckToks, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
         |  CAST(LEN(LIST_FILTER($duckToks, x -> x IN ('der','die','und','das'))) AS BIGINT) AS s_de,
         |  CAST(LEN(LIST_FILTER($duckToks, x -> x IN ('le','la','et','les'))) AS BIGINT) AS s_fr
         |  FROM documents) ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT doc_id,
         |  CAST(LEN($duckToks) AS BIGINT) AS ws_tokens,
         |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 \t\n\r]')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT($duckToks)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_explode_outer" ->
      """SELECT doc_id, vword, COUNT(*) AS n FROM (
        |  SELECT doc_id, UNNEST(CASE WHEN LEN(vs) = 0 THEN [CAST(NULL AS VARCHAR)]
        |                             ELSE vs END) AS vword
        |  FROM (SELECT doc_id, REGEXP_EXTRACT_ALL(text, 'v[a-z]+') AS vs FROM documents))
        |GROUP BY doc_id, vword ORDER BY doc_id, vword ASC NULLS FIRST""".stripMargin,
    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |        UNNEST(RANGE(0, CAST(GREATEST(CEIL((LEN(toks) - 8) / 24.0), 1) AS INT))) AS chunk_no
         |      FROM t)
         |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
         |  ARRAY_TO_STRING(toks[chunk_no * 24 + 1 : chunk_no * 24 + 32], ' ') AS chunk,
         |  CAST(LEN(STRING_SPLIT(ARRAY_TO_STRING(toks[chunk_no * 24 + 1 : chunk_no * 24 + 32], ' '), ' ')) AS BIGINT) AS n_tokens
         |FROM c ORDER BY doc_id, chunk_no""".stripMargin,
    "q_shuffle_det" ->
      """SELECT doc_id, MD5(CAST(doc_id AS VARCHAR) || '|epoch0') AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id LIMIT 100""".stripMargin,
    "q_fingerprint_rolling" ->
      """SELECT doc_id,
        |  LIST_MIN(LIST_TRANSFORM(RANGE(1, LENGTH(text) - 6),
        |    i -> MD5(SUBSTR(text, i, 8)))) AS rfp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      s"""SELECT doc_id, len, n_words, n_stop, n_punct,
         |  n_stop * 10000 // n_words AS stop_bp,
         |  n_punct * 10000 // len AS punct_bp,
         |  LEAST(10000, len * 20) AS len_bp,
         |  (4 * (n_stop * 10000 // n_words) + 3 * (10000 - n_punct * 10000 // len)
         |    + 3 * LEAST(10000, len * 20)) // 10 AS score_bp
         |FROM (SELECT doc_id,
         |  CAST(LENGTH(text) AS BIGINT) AS len,
         |  CAST(LEN($duckToks) AS BIGINT) AS n_words,
         |  CAST(LEN(LIST_FILTER($duckToks, x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop,
         |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9 \t\n\r]')) AS BIGINT) AS n_punct
         |  FROM documents) ORDER BY doc_id""".stripMargin,
    "q_ppl_bucket" ->
      s"""WITH sc AS (SELECT doc_id, lang,
         |  (4 * (n_stop * 10000 // n_words) + 3 * (10000 - n_punct * 10000 // len)
         |    + 3 * LEAST(10000, len * 20)) // 10 AS score_bp
         |FROM (SELECT doc_id, lang,
         |  CAST(LENGTH(text) AS BIGINT) AS len,
         |  CAST(LEN($duckToks) AS BIGINT) AS n_words,
         |  CAST(LEN(LIST_FILTER($duckToks, x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stop,
         |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9 \t\n\r]')) AS BIGINT) AS n_punct
         |  FROM documents)),
         |r AS (SELECT doc_id, lang, score_bp,
         |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_bp DESC, doc_id) - 1 AS rn0,
         |        COUNT(*) OVER (PARTITION BY lang) AS n_lang FROM sc)
         |SELECT doc_id, lang, score_bp, (rn0 * 3) // n_lang AS bucket,
         |  (rn0 * 3) // n_lang < 2 AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_udtf_sentences" ->
      """SELECT doc_id,
        |  CAST(GENERATE_SUBSCRIPTS(parts, 1) - 1 AS BIGINT) AS sent_no,
        |  UNNEST(parts) AS sentence
        |FROM (SELECT doc_id, STRING_SPLIT(text, ' table ') AS parts FROM documents)
        |ORDER BY doc_id, sent_no""".stripMargin
  )
}
