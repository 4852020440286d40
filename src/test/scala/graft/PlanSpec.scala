package graft

import graft.queries.{Relational, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import graft.operators.BatchId

/** Physical-plan assertions (SURVEY.md §4.3): the declarative queries
  * must actually get the optimizations we designed for — filters and
  * projections pushed into the parquet scan, broadcast joins where
  * hinted, whole-stage codegen on the hot paths. These are the
  * properties that carry to a 1000-executor cluster. */
class PlanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_scan_pruned pushes filters and prunes columns at the parquet scan") {
    val p = plan(Relational.queries("q_scan_pruned")(spark, sfDir))
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity"),
      s"filter not pushed:\n$p")
    // only the 3 projected columns + filter column reach the reader
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      readSchema)
  }

  test("dimension joins broadcast; fact-fact joins do not cartesian") {
    assert(plan(Relational.queries("q_join_broadcast")(spark, sfDir))
      .contains("BroadcastHashJoin"))
    val inner = plan(Relational.queries("q_join_inner")(spark, sfDir))
    assert(!inner.contains("CartesianProduct"), inner)
  }

  test("scan-heavy queries run inside whole-stage codegen") {
    // AQE only materializes codegen stages in the FINAL plan — execute
    // first, then inspect.
    val df = Relational.queries("q_project_expr")(spark, sfDir)
    df.collect()
    // formatted mode prefixes codegen stages with `*`
    val p = plan(df)
    assert(p.contains("* Project") && p.contains("* ColumnarToRow"), p)
  }

  test("ANN LSH candidate join is a bucket equi-join, not a cross join") {
    val p = plan(Similarity.queries("q_ann_lsh")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), "LSH must bucket-join, not cross-join")
  }

  test("label propagation candidates bucket-join on the shared LSH bands — no cartesian") {
    val p = plan(Similarity.queries("q_label_prop")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multi-hop label propagation: band bucket-joins only, no cartesian at any hop") {
    val p = plan(Similarity.queries("q_label_prop_multi")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hard-negative mining: payload-free banded candidates, no cartesian, no corpus broadcast-nested-loop") {
    val p = plan(Similarity.queries("q_hard_negatives")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("contrastive mining broadcasts the bounded anchor side") {
    val p = plan(Similarity.queries("q_contrastive_pairs")(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 50-anchor side must broadcast (linear in the corpus)")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graft_lshsig signature projection runs inside whole-stage codegen") {
    // VERDICT r2 #4: the LSH signature was the last interpreted UDF in
    // an ANN hot path — as a native Expression it must stay inside the
    // codegen'd Project (formatted mode stars codegen stages).
    val df = Tables.load(spark, sfDir, "embeddings")
      .selectExpr("vec_id", "graft_quantize(embedding, 100000000) AS qv")
      .selectExpr("vec_id", "graft_lshsig(qv) AS sig")
    df.collect()
    val p = plan(df)
    assert(p.contains("graft_lshsig"), p)
    assert(p.contains("* Project"), s"signature projection not codegen'd:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("hive-partitioned writes prune partitions at the scan") {
    val dir = s"/tmp/graft-part-${System.nanoTime()}"
    Tables.load(spark, sfDir, "events")
      .withColumn("day", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .write.partitionBy("day").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter("day = '2024-01-15'")
      .select("event_id", "value")
    val p = plan(pruned)
    // the day filter must become a PartitionFilter, not a data filter
    assert(p.contains("PartitionFilters: [isnotnull(day"), p)
    val expected = Tables.load(spark, sfDir, "events")
      .filter("to_date(ts) = '2024-01-15'").count()
    assert(expected > 0 && pruned.count() == expected)
  }

  test("brute-force cosine broadcasts the bounded query side") {
    val p = plan(Similarity.queries("q_cosine_topk")(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("tfidf broadcasts the corpus-count scalar, shuffles only on word/doc") {
    val p = plan(graft.queries.Pipeline.queries("q_tfidf")(spark, sfDir))
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pack_greedy window is stratified — no single-partition exchange") {
    // the running sum partitions by lang; a global (SinglePartition)
    // window would serialize the whole corpus through one task
    val p = plan(graft.queries.Pipeline.queries("q_pack_greedy")(spark, sfDir))
    assert(!p.contains("SinglePartition"), p)
  }

  test("rolling fingerprint stays inside whole-stage codegen") {
    // the r1 HOF form (array_min∘transform) broke codegen; the custom
    // expression is a static call inside the generated projection
    val df = graft.queries.Text.queries("q_fingerprint_rolling")(spark, sfDir)
    df.collect()
    val p = plan(df)
    assert(p.contains("* Project"), p)
  }

  test("decontamination joins on md5 keys, never cartesian; no vocab broadcast forced") {
    val p = plan(graft.queries.Pipeline.queries("q_decontaminate")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mixture rebalance windows per-lang and broadcasts only the 1-row cap") {
    val p = plan(graft.queries.Pipeline.queries("q_mix_weights")(spark, sfDir))
    assert(p.contains("hashpartitioning(lang"), p) // stratified window exchange
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("binned range join is a hash/merge equi-join — never nested-loop") {
    val p = plan(Relational.queries("q_join_range")(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("e2e pipeline plan: no cartesian, no nested-loop, sorts only for presentation") {
    // the composed clean → quality → decontaminate → cluster-canon →
    // pack query must keep every stage's scale shape: hash joins/aggs
    // and stratified windows only
    val df = graft.queries.Pipeline.queries("q_pipeline_e2e")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the pack window partitions by lang — never a single-partition window
    assert(!p.contains("Window [") || p.contains("hashpartitioning(lang"), p)
  }

  test("classifier inference adds no shuffle beyond the doc_id agg — map-side combine on") {
    val p = plan(graft.queries.Pipeline.queries("q_classifier_score")(spark, sfDir))
    // the hashed weight is computed row-local on exploded tokens;
    // partial sums run before the single doc_id exchange
    assert(p.contains("partial_sum"), p)
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(exchanges == 1, s"expected one doc_id exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("url canonicalization is a row-local regex chain — no join, no extra shuffle") {
    val p = plan(graft.queries.Pipeline.queries("q_url_canon")(spark, sfDir))
    assert(!p.contains("Join"), p)
    // count(distinct url) rewrites to two agg phases: at most the
    // (canon,url) exchange + the canon exchange — never more
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(exchanges <= 2, s"canonicalization must not shuffle rows extra:\n$p")
  }

  test("bigram repetition filter shuffles partial counts only — no self-join") {
    val p = plan(graft.queries.Pipeline.queries("q_rep_bigram")(spark, sfDir))
    assert(!p.contains("Join"), p)
    // row-local zip_with pair extraction, then (doc,gram) + doc aggs:
    // exactly two hash exchanges, both fed by partial aggregation
    val exchanges = p.linesIterator.count(_.contains("hashpartitioning("))
    assert(exchanges == 2, s"expected (doc,gram)+doc exchanges only, got $exchanges:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("temperature mixture planner broadcasts the one-row normalizer") {
    val p = plan(graft.queries.Pipeline.queries("q_mix_temperature")(spark, sfDir))
    // the normalizer join must be a broadcast of the 1-row aggregate,
    // never a shuffle join of the lang counts against themselves
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("vocab coverage never runs a partition-less window — bucketed prefix sum") {
    val p = plan(graft.queries.Pipeline.queries("q_vocab_coverage")(spark, sfDir))
    // every Window in the plan must be keyed on the prefix-sum bucket;
    // a global rank window over the vocabulary would be a single task
    assert(!p.contains("Window [") || p.contains("hashpartitioning(bkt"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("multi-branch histogram queries reuse the corpus exchange at runtime") {
    // the static plan prints the scan once per branch; what must be
    // true is that AQE collapses the identical exchanges so the
    // corpus-scale tokenize+count runs once (an explicit checkpoint
    // was A/B'd 1.5x slower than relying on this)
    for (q <- Seq("q_vocab_coverage", "q_mix_temperature")) {
      val df = graft.queries.Pipeline.queries(q)(spark, sfDir)
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("ReusedExchange") ||
        executed.contains("ReusedSubquery"), s"$q never reused:\n$executed")
    }
  }

  test("pii redaction is one codegen'd projection — no shuffle at all") {
    val df = graft.queries.Pipeline.queries("q_pii_redact")(spark, sfDir)
    df.collect()
    val p = plan(df)
    // a row-local redactor must not exchange anything except the final sort
    assert(!p.contains("hashpartitioning"), p)
  }

  test("SQL sessionization reuses ONE user_id shuffle for both windows and the aggregate") {
    // lag-window, running-sum window, and groupBy(user_id, sess_n) all
    // cluster by user_id; hashpartitioning(user_id) satisfies the
    // aggregate's (user_id, sess_n) distribution, so exactly one hash
    // exchange must appear (plus the presentation range sort)
    val p = plan(graft.queries.Events.queries("q_sessionize_sql")(spark, sfDir))
    val nHash = "hashpartitioning\\(".r.findAllIn(p).length
    assert(nHash == 1, s"expected exactly 1 hash exchange, got $nHash:\n$p")
  }

  test("pagerank step is the two-shuffle kernel — equi-join on src, no broadcast rank vector") {
    val p = plan(graft.queries.Graph.queries("q_pagerank_step")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // partial aggregates must combine map-side before each shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("multi-hop pagerank: equi-join hops only, no cartesian, no broadcast rank vector") {
    val p = plan(graft.queries.Graph.queries("q_pagerank_multi")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multi-iteration kmeans: the <=16-centroid side broadcasts for both assignment passes") {
    val p = plan(Similarity.queries("q_kmeans_multi")(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroids must broadcast — assignment is linear in the corpus")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("duplicated-ngram fraction: gram-keyed semi join, never a corpus self-cartesian") {
    val p = plan(graft.queries.Pipeline.queries("q_dup_ngrams")(spark, sfDir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("skyline sweep window is brand-stratified — no single-partition exchange") {
    val p = plan(Relational.queries("q_skyline")(spark, sfDir))
    assert(!p.contains("SinglePartition"), p)
  }

  test("skew probe's hot-key top-1 is a TakeOrdered, not a global sort") {
    val p = plan(graft.queries.Aggregates.queries("q_skew_probe")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("contribution cap is one hash agg — no Window over the raw doc stream") {
    // VERDICT r16 #6: the row_number form buffered and sorted each
    // source's FULL doc list; the graft_topk form must show a hash
    // aggregate with a partial_graft_topk map-side combine and no
    // Window/Sort over the documents scan.
    val p = plan(graft.queries.Pipeline.queries("q_contrib_cap")(spark, sfDir))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_graft_topk"), p)
  }

  test("substring strip: anti-join on (doc,pos), md5-keyed share marking, no cartesian") {
    val p = plan(graft.queries.Pipeline.queries("q_substring_strip")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("triangle count: oriented wedge joins are equi-joins, never nested-loop") {
    val p = plan(graft.queries.Graph.queries("q_triangles")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("substring dedup is sort/agg-shaped — md5-keyed equi-join, doc-stratified window, no self-join on text") {
    val p = plan(graft.queries.Pipeline.queries("q_substring_dedup")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the join-back keys on the 32-byte shingle hash, never raw text
    assert(p.contains("hashpartitioning(gh"), p)
    // run grouping is per-doc — a global window would serialize the corpus
    assert(!p.contains("SinglePartition"), p)
  }

  test("attribution interval join is user-keyed equi, never nested-loop") {
    val p = plan(graft.queries.Events.queries("q_attribution")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("point-in-time join is an equi-join on the key with the window as residual") {
    val p = plan(graft.queries.Pipeline.queries("q_pit_join")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("equi-depth histogram broadcasts the 1-row bounds, no single-partition sort") {
    val p = plan(graft.queries.Aggregates.queries("q_histogram_eqd")(spark, sfDir))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    // the assignment pass must not globally sort the fact table (an
    // ntile() window would); the only ordering is the presentation sort
    // on 10 rows. Word-boundary match: "percentile(" — the 1-row bounds
    // aggregate — legitimately contains the substring "ntile(".
    assert("(?i)(?<![a-z])ntile\\(".r.findFirstIn(p).isEmpty, p)
  }

  test("prefix-filtered similarity join: shingle-keyed equi-joins, no cartesian") {
    val p = plan(Similarity.queries("q_simjoin")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the exact-Jaccard verify must build token arrays only for docs in
    // a candidate pair: a LeftSemi prune against the candidate id set,
    // not a corpus-wide aggregation (r14 segmented rewrite)
    assert(p.contains("LeftSemi"), p)
  }

  test("det-LSH ANN: candidate join is a (band,nibble) equi-join, never nested-loop") {
    val p = plan(Similarity.queries("q_ann_lsh_det")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("winnowing fingerprints are row-local — codegen'd expression, zero pre-sort shuffles") {
    val p = plan(graft.queries.Text.queries("q_winnow")(spark, sfDir))
    assert(p.contains("graft_winnow"), p)
    // the only exchange is the presentation sort's range partitioning —
    // no hash shuffle, no single-partition collapse
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("incremental near-dup dedup: store check is a semi-join on the signature, no cartesian") {
    val store = java.nio.file.Files.createTempDirectory("graft-plan-near")
      .resolve("store").toString
    val docs = Tables.load(spark, sfDir, "documents")
    // seed the store so the store-check branch is in the plan
    graft.operators.IncrementalDedup.dedupDeltaNear(
      spark, docs.filter("doc_id < 50"), store, BatchId("seed"))
    // plan the second batch through the operator's OWN plan builder so
    // this assertion cannot drift from the shipped join shape
    val delta = docs.filter("doc_id >= 50")
    val memb = Similarity.lshBuckets(delta)
    val p = plan(graft.operators.IncrementalDedup
      .nearDupSurvivorPlan(spark, delta, memb, store))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("bloom decontamination probes the bitmap BEFORE the verify join") {
    val p = plan(graft.queries.Pipeline
      .queries("q_bloom_decontaminate")(spark, sfDir))
    // the k xxhash64 probes must survive as a row-local Filter — if a
    // refactor drops them the query silently degrades to the exact
    // join's full-shuffle shape while staying correct
    assert(p.contains("xxhash64"), s"bloom probe filter missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the one-row bitmap side must arrive as a broadcast, never a
    // shuffled side (BNLJ over the 1-row broadcast is the right shape)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("bm25 broadcasts the 3-term query side and both scalars") {
    val p = plan(graft.queries.Pipeline.queries("q_bm25")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p) // qterms side
    assert(!p.contains("CartesianProduct"), p)
    // only word- and doc-keyed exchanges — never a global repartition
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("dsir ratio join is equi-keyed; scoring rolls up on doc_id") {
    val p = plan(graft.queries.Pipeline.queries("q_dsir")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("pmi lift joins unigram counts by hash, never cartesian") {
    val p = plan(graft.queries.Pipeline.queries("q_pmi_colloc")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // x/y lookups are equi-joins (the tu/tb one-row sides may be BNLJ)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("partitioned source prunes directories at planning — lang never read as data") {
    val p = plan(graft.queries.Sources
      .queries("q_source_partitioned")(spark, sfDir))
    // the lang predicate must land in PartitionFilters (directory
    // pruning), NOT in PushedFilters (row-group filtering inside files
    // that should never be opened)
    val pf = p.linesIterator.find(_.trim.startsWith("PartitionFilters:"))
      .getOrElse(fail(s"no PartitionFilters line:\n$p"))
    assert(pf.contains("lang"), pf)
    val readSchema = p.linesIterator.filter(_.trim.startsWith("ReadSchema:"))
      .toSeq.lastOption.getOrElse(fail(s"no ReadSchema:\n$p"))
    assert(!readSchema.contains("lang"),
      s"partition column materialized in the data schema:\n$readSchema")
  }

  test("simhash pair candidates join on (band, value) buckets, never all-pairs") {
    val p = plan(Similarity.queries("q_simhash_pairs")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // r21: the signature frame is checkpointed once for its four
    // consumers, so the query plan reads it back as an ExistingRDD scan
    // instead of re-deriving the fold per consumer. r22 (ADVICE r21):
    // pin the scan to the SIGNATURE frame — the assertion must not be
    // satisfiable by some other checkpointed subtree.
    // formatted mode: the scan's schema is the `Output [...]` line right
    // under its `(n) Scan ExistingRDD` detail header
    val sigScan = "\\(\\d+\\) Scan ExistingRDD\\s*\\nOutput \\[\\d+\\]: \\[[^\\]]*hb0[^\\]]*hb3".r
    assert(sigScan.findFirstIn(p).isDefined,
      s"no ExistingRDD scan of the hb0..hb3 signature frame:\n$p")
    // signature build is the codegen'd row-local fold — no explode, no
    // 64-column aggregation (asserted on the pre-checkpoint subtree,
    // which the ExistingRDD scan hides from the query plan)
    val sig = plan(Similarity.simhashBandsFrame(spark, sfDir))
    assert(sig.contains("graft_simhash"),
      s"signature not the row-local fold:\n$sig")
    assert(!sig.contains("Generate"),
      s"shingle explode returned to the signature path:\n$sig")
  }

  test("kNN graph candidates bucket-join; the 32-plane signature is row-local") {
    val p = plan(Similarity.queries("q_knn_graph")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degraded to a nested loop:\n$p")
  }

  test("CM sketch aggregates with map-side partials; the one-row matrix broadcasts") {
    val p = plan(graft.queries.Aggregates.queries("q_agg_cms")(spark, sfDir))
    // TypedImperativeAggregate partials merge map-side before the
    // 1-row final — never a corpus-wide shuffle of raw gram rows into
    // a single reducer
    assert(p.contains("partial_graft_cms"), s"no partial CMS aggregation:\n$p")
    // the 24 KB matrix reaches the top-20 rows as a broadcast
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("chi2 drift: one compound-key agg; totals derive from the cell table, broadcast back") {
    val p = plan(graft.queries.Pipeline.queries("q_chi2_drift")(spark, sfDir))
    // the contingency cells partial-aggregate map-side; row/column/
    // grand totals join back as broadcasts of the K-row table — never
    // a second scan-sized exchange
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("KS drift: cumulative counts run on the bucketed prefix sum, never a global window") {
    val p = plan(graft.queries.Pipeline.queries("q_ks_drift")(spark, sfDir))
    // same contract as q_vocab_coverage: every Window keyed on the
    // prefix-sum bucket; a partition-less ECDF window is a single task
    assert(!p.contains("Window [") || p.contains("hashpartitioning(bkt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster sampling: codebook and cell counts broadcast, assignment is one pass") {
    val p = plan(Similarity.queries("q_cluster_sample")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the rank window is cell-partitioned, never partition-less
    assert(!p.matches("(?s).*Window.*partitionBy: \\[\\].*"), p)
  }

  test("shard assignment: global rank via value-partitioned window + broadcast offsets") {
    val p = plan(graft.queries.Pipeline.queries("q_shard_assign")(spark, sfDir))
    // the only window is partitioned by the token-count value — the
    // corpus never serializes through a partition-less global rank
    assert(!p.contains("Window [") || p.contains("hashpartitioning(n_toks"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("inverted index: postings via partial graft_topk, never a full posting collect") {
    val p = plan(graft.queries.Text.queries("q_inverted_index")(spark, sfDir))
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.toLowerCase.contains("collect_list"), p)
    assert(!p.contains("Window ["), p)
  }

  test("k-core peel round: left-semi joins against the keep set, nothing cartesian") {
    // the loop checkpoints between rounds, so the full query's final
    // plan only shows the last aggregate — assert the round itself
    val e = graft.queries.Graph.minhashBlockEdges(spark, sfDir)
    val p = plan(graft.queries.Graph.kcorePeelRound(e))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window ["), p)
  }

  test("RRF: retrieval heads end in TakeOrdered, no global rank window") {
    val p = plan(graft.queries.Pipeline.queries("q_rrf")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    // ranks come from the bounded head self-join, never a corpus window
    // (the 20x20 fusion join itself may plan as a tiny SortMergeJoin)
    assert(!p.contains("Window ["), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
