package graft.queries

import graft.Tables.load
import graft.Det._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.functions.TokenCountRewrite.tokens

/** Aggregations and window functions (SURVEY.md §2.B).
  *
  * The reference computes no aggregates at all (SURVEY.md §2.A) — this is
  * the engine's generalized capability surface. Money-like double sums go
  * through exact decimal arithmetic (graft.Det.dsum) so partial/final
  * aggregation order (map-side combine, AQE re-partitioning) can never
  * perturb the result vs the single-threaded DuckDB oracle — a property
  * that holds identically on a 1000-executor shuffle.
  */
object Aggregates {
  type Q = (SparkSession, String) => DataFrame

  /** Scale-safe `RANGE BETWEEN range PRECEDING AND CURRENT ROW` sum over a
    * LOW-cardinality partition key (the q_win_range shape: o_orderstatus has
    * 3 values, so `Window.partitionBy(partKey)` sorts a third of the table
    * in ONE task at any scale).
    *
    * Two-pass bucketed rewrite: the order key is bucketed into fixed-width
    * buckets; each row whose key lies within `range` of the NEXT bucket's
    * start is additionally emitted as a "ghost" contributor to that bucket,
    * so every (partKey, bucket) partition holds every row any of its real
    * rows' frames [k-range, k] can reach — the frame never spans more than
    * one boundary because bucketWidth > range. The range window then runs
    * over fine-grained (partKey, bucket) partitions (parallelism scales with
    * the key domain, not the partition-key cardinality) and ghosts are
    * dropped after contributing. Duplication overhead = range/bucketWidth.
    * Row-identical to the single-partition window — oracle unchanged;
    * WinRangeBucketedSpec proves equality vs the naive plan on data
    * straddling many bucket boundaries. */
  def bucketedRangeSum(df: DataFrame, partKey: String, orderKey: String,
      value: org.apache.spark.sql.Column, range: Long, bucketWidth: Long,
      out: String): DataFrame = {
    require(bucketWidth > range, "bucketWidth must exceed the frame range")
    val base = df.withColumn("__bkt", floor(col(orderKey) / bucketWidth))
    val ghosts = base
      .filter(col(orderKey) >= (col("__bkt") + 1) * bucketWidth - range)
      .withColumn("__bkt", col("__bkt") + 1)
      .withColumn("__ghost", lit(true))
    val w = Window.partitionBy(col(partKey), col("__bkt"))
      .orderBy(col(orderKey).asc)
      .rangeBetween(-range, Window.currentRow)
    base.withColumn("__ghost", lit(false)).unionByName(ghosts)
      .withColumn(out, sum(value).over(w))
      .filter(!col("__ghost"))
      .drop("__bkt", "__ghost")
  }

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: partial+final hash aggregate, map-side combine.
    "q_agg_hash" -> ((s, d) =>
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(24, 6))).cast("double").as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_agg_distinct" -> ((s, d) =>
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("dist_parts"),
          countDistinct(col("l_suppkey")).as("dist_supps"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // Join-key skew probe — the diagnostic you run BEFORE deciding
    // between a plain join, AQE, and explicit salting
    // (operators/JoinStrategies): key cardinality, row count, the
    // hottest key and its share in basis points. One groupBy (the same
    // shuffle the join would do) + a top-1 TakeOrdered + two scalar
    // aggregates; the 1×1 cross join is broadcast-trivial.
    "q_skew_probe" -> ((s, d) => {
      val counts = load(s, d, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
      val summary = counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      val hot = counts.orderBy(col("cnt").desc, col("l_orderkey").asc)
        .limit(1).select(col("l_orderkey").as("hot_key"))
      summary.crossJoin(hot)
        .select(col("n_keys"), col("n_rows"), col("max_cnt"),
          expr("max_cnt * 10000 div n_rows").as("max_share_bp"), col("hot_key"))
    }),

    // Value-distribution histogram with explicit integer bucket math
    // (identical floor/clamp in both engines — no engine-specific
    // width_bucket semantics). One map-side-combining aggregate.
    "q_histogram" -> ((s, d) =>
      load(s, d, "lineitem")
        .withColumn("bucket",
          least(lit(9L), floor(col("l_extendedprice") / 10000).cast("long")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy("bucket")),

    // FILTER-clause aggregates: several conditional aggregations in ONE
    // pass over the fact — the idiom that replaces N self-joins or a
    // CASE-WHEN forest in reporting queries.
    "q_agg_filter" -> ((s, d) =>
      load(s, d, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("count(*)").as("n_all"),
          expr("count(*) FILTER (WHERE o_totalprice > 200000)").as("n_big"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) " +
            "FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE)").as("urgent_total"),
          expr("min(o_orderdate) FILTER (WHERE o_totalprice > 200000)").as("first_big"))
        .orderBy("o_orderstatus")),

    "q_agg_rollup" -> ((s, d) =>
      load(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"),
          count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    "q_agg_cube" -> ((s, d) =>
      load(s, d, "orders")
        .withColumn("yr", year(col("o_orderdate")).cast("long"))
        .cube(col("o_orderstatus"), col("yr"))
        .agg(grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping(col("yr")).cast("long").as("g_yr"),
          count(lit(1)).as("cnt"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("yr").asc_nulls_first)),

    "q_agg_gsets" -> ((s, d) => {
      load(s, d, "orders").createOrReplaceTempView("graft_orders_gsets")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
          |  COUNT(*) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM graft_orders_gsets
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    "q_agg_stats" -> ((s, d) =>
      load(s, d, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"),
          graft.Det.q4(stddev_samp(col("c_acctbal"))).as("sd_bal"),
          graft.Det.q4(var_samp(col("c_acctbal"))).as("var_bal"),
          count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")),

    // HLL sketch — algorithm-specific, no cross-engine oracle; the
    // scalatest suite asserts ±5% of the exact count instead.
    "q_agg_approx" -> ((s, d) =>
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          count(lit(1)).as("cnt"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median"))
        .orderBy("l_returnflag")),

    // mode(): most frequent value per group (per-flag line numbers
    // have a unique max in this data, so the result is deterministic
    // and oracle-able; on ties both engines' choices would be
    // implementation-defined).
    "q_agg_mode" -> ((s, d) =>
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("mode(l_linenumber)").cast("long").as("mode_line"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // MERGEABLE distinct-count sketches (DataSketches HLL): monthly
    // partial sketches unioned per flag — the incremental-aggregation
    // shape a warehouse runs (sketch each day once, union forever, never
    // rescan history). Algorithm-specific bytes, so no cross-engine
    // oracle; the spec asserts ±5% of exact AND that the merged estimate
    // equals a one-shot global sketch exactly (the union is lossless).
    "q_agg_hll_merge" -> ((s, d) => {
      val monthly = load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), month(col("l_shipdate")).as("m"))
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk"))
      monthly.groupBy(col("l_returnflag"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_parts"),
          count(lit(1)).as("n_sketches"))
        .orderBy("l_returnflag")
    }),

    // EXACT mergeable distinct counts via bitmaps (the precise sibling
    // of the HLL sketch): monthly partials build per-bucket bitmaps
    // (bitmap_construct_agg over bit positions), buckets OR-merge
    // across months, popcounts sum per group. Unlike HLL the merged
    // answer is exact, so it oracles directly against COUNT(DISTINCT).
    "q_agg_bitmap" -> ((s, d) =>
      load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), month(col("l_shipdate")).as("m"),
          expr("bitmap_bucket_number(l_partkey)").as("bkt"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(l_partkey))").as("bm"))
        .groupBy(col("l_returnflag"), col("bkt"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy(col("l_returnflag"))
        .agg(sum(expr("bitmap_count(bm)")).as("dist_parts"))
        .orderBy("l_returnflag")),

    // Mergeable COUNT-MIN frequency sketch (graft.functions
    // .CountMinSketch, a TypedImperativeAggregate): the
    // frequency-estimation member of the sketch family (HLL distinct,
    // exact bitmap, Misra–Gries heavy hitters, DDSketch quantiles).
    // Sketches the corpus 4-gram frequencies — the "how often does this
    // n-gram repeat across shards" question behind repetition filters
    // and substring dedup at 100 TB, where the exact (gram, count)
    // table is corpus-sized but a 3×1024 counter matrix is 24 KB.
    // Element-wise-addition merge is commutative + associative, so the
    // matrix is bit-identical under any partial-aggregation tree
    // (CmsSpec asserts; DeterminismSpec pins it). The md5-hex hash
    // family is portable arithmetic, so unlike the HLL sketch the
    // WHOLE matrix hash-oracles against a relational DuckDB twin:
    // top-20 exact grams, their min-of-3-cells estimates (never
    // under-estimates, over_bp is the audited collision error).
    "q_agg_cms" -> ((s, d) => {
      val grams = load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .select(explode(expr(Shingles.fourGramSql(distinct = false))).as("word"))
      val sk = grams.agg(expr("graft_cms(word, CAST(1 AS BIGINT), 3, 1024)").as("cms"))
      val top = grams.groupBy(col("word")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word").asc).limit(20)
      def hexDigit(k: Int) =
        s"(instr('0123456789abcdef', substr(md5(CAST(concat(CAST(s AS STRING), '|', word) AS BINARY)), $k, 1)) - 1)"
      top.crossJoin(broadcast(sk))
        .withColumn("est_cnt", expr(
          "array_min(transform(sequence(0, 2), s -> element_at(cms, s * 1024 + " +
            s"(${hexDigit(1)} * 256 + ${hexDigit(2)} * 16 + ${hexDigit(3)}) % 1024 + 1)))"))
        .withColumn("over_bp", expr("(est_cnt - exact_cnt) * 10000 DIV exact_cnt"))
        .select(col("word"), col("exact_cnt"), col("est_cnt"), col("over_bp"))
        .orderBy(col("exact_cnt").desc, col("word").asc)
    }),

    // Content-hash dedup (extension; the reference dedups only via the
    // redirect graph, SURVEY.md §2.A A6 — no content hashing anywhere).
    "q_dedup_exact" -> ((s, d) =>
      load(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy("h")),

    // Conditional/boolean aggregates: count_if, bool_or/bool_and.
    "q_agg_bool" -> ((s, d) =>
      load(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(expr("count_if(o_totalprice > 300000)").as("n_big"),
          expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
          expr("bool_and(o_totalprice > 0)").as("all_positive"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),

    // Misra–Gries heavy hitters (graft.functions.FreqItemsSketch, a
    // TypedImperativeAggregate). k=8 exceeds the 5 distinct event
    // types, so no eviction happens and the sketch is exact →
    // oracle-able; eviction behavior is spec-tested separately.
    "q_freq_items" -> ((s, d) => {
      load(s, d, "events")
        .agg(expr("graft_freq_items(event_type, 8)").as("sk"))
        .select(posexplode(col("sk")))
        .select(col("pos").cast("long").as("pos"),
          col("col.item").as("item"), col("col.cnt").as("cnt"))
        .orderBy("pos")
    }),

    // Exact interpolated percentiles over integer cents: (n-1)*q
    // interpolation on integers with quarter fractions is bit-exact in
    // both engines (no decimal-representation ties).
    // EQUI-DEPTH histogram (the planner-statistics companion of the
    // equi-width q_histogram): decile boundaries from ONE exact
    // interpolated-percentile aggregate (single row, broadcast), then
    // row-local bucket assignment by comparison — the scalable 2-pass
    // formulation; the ntile() alternative is a single-partition global
    // sort, exactly the exchange the plan hygiene rules forbid.
    "q_histogram_eqd" -> ((s, d) => {
      val o = load(s, d, "orders")
        .withColumn("cents", expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
      val bounds = o.agg(expr(
        "percentile(cents, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))").as("bs"))
      o.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          expr("CAST(1 + aggregate(bs, 0, (acc, b) -> acc + IF(cents > b, 1, 0)) AS BIGINT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("min_c"),
          max(col("cents")).as("max_c"))
        .orderBy("bucket")
    }),

    "q_agg_median" -> ((s, d) =>
      load(s, d, "lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
        .groupBy(col("l_returnflag"))
        // one percentile buffer for all three quantiles (three separate
        // percentile() calls each kept their own counts map — 3× the
        // aggregation state for identical results)
        .agg(expr("percentile(cents, array(0.25, 0.5, 0.75))").as("ps"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("median"),
          element_at(col("ps"), 3).as("p75"),
          col("cnt"))
        .orderBy("l_returnflag")),

    // Mergeable quantile sketch (graft.functions.QuantileSketch, a
    // log-bucketed DDSketch-style TypedImperativeAggregate): per-flag
    // p25/p50/p75 over the same integer cents as q_agg_median, α = 1%.
    // The exact companion IS q_agg_median — QuantileSketchSpec pins
    // merged-partials == one-shot bit-equality and the ≤α relative
    // error against exact rank elements; no oracle by design (the
    // estimate is the sketch's, not SQL-expressible).
    "q_agg_qsketch" -> ((s, d) => {
      load(s, d, "lineitem")
        .withColumn("cents", expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
        .groupBy(col("l_returnflag"))
        .agg(expr("graft_qsketch(cents, 100, array(2500, 5000, 7500))").as("ps"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          element_at(col("ps"), 1).as("p25_est"),
          element_at(col("ps"), 2).as("p50_est"),
          element_at(col("ps"), 3).as("p75_est"),
          col("cnt"))
        .orderBy("l_returnflag")
    }),

    // Exact mergeable top-k per group (graft.functions.TopKSketch):
    // the aggregation-based top-k — O(k) state per group combining
    // map-side, vs the window formulation (q_topk_group) that sorts
    // every group's full row set. Oracled against the window form:
    // identical rows, different physical shape.
    "q_topk_agg" -> ((s, d) => {
      load(s, d, "customer")
        .withColumn("cents", expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)"))
        .groupBy(col("c_mktsegment"))
        .agg(expr("graft_topk(c_name, cents, 5)").as("tk"))
        .select(col("c_mktsegment"), posexplode(col("tk")))
        .select(col("c_mktsegment"), (col("pos") + 1).cast("long").as("rk"),
          col("col.item").as("c_name"), col("col.score").as("cents"))
        .orderBy("c_mktsegment", "rk")
    }),

    "q_win_rank" -> ((s, d) => {
      val wTotal = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      val wTies = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc)
      load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          row_number().over(wTotal).as("rn"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"))
        .orderBy("c_custkey")
    }),

    // ntile/percent_rank/cume_dist battery; the fractional ranks leave
    // as floor(x*10000) integers (identical doubles → identical floors,
    // no cross-engine round() tie exposure).
    "q_win_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("quartile"),
          floor(percent_rank().over(w) * 10000).cast("long").as("pr_bp"),
          floor(cume_dist().over(w) * 10000).cast("long").as("cd_bp"))
        .orderBy("c_custkey")
    }),

    // first_value/last_value/nth_value over a full frame with total
    // ordering (ties impossible: c_custkey is unique).
    "q_win_firstlast" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          first(col("c_custkey")).over(w).as("richest"),
          last(col("c_custkey")).over(w).as("poorest"),
          nth_value(col("c_custkey"), 2).over(w).as("second"))
        .orderBy("c_custkey")
    }),

    // Ordered list aggregation + arg-max: sorted group concat (order
    // pinned so collect_list's partition nondeterminism cancels out)
    // and the latest order per customer keyed by unique o_orderkey.
    "q_agg_listagg" -> ((s, d) =>
      load(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          array_join(array_sort(collect_list(col("o_orderpriority"))), ",").as("prios"),
          size(collect_set(col("o_orderstatus"))).cast("long").as("n_statuses"),
          max_by(col("o_orderdate"), col("o_orderkey")).cast("date").cast("string").as("latest_date"),
          max(col("o_orderkey")).as("latest_key"))
        .orderBy("o_custkey")),

    "q_win_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("running"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_win_leadlag" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      load(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          lead(col("value"), 1, -1.0).over(w).as("nxt"),
          lag(col("value"), 1, -1.0).over(w).as("prv"))
        .orderBy("user_id", "event_id")
    }),

    // Range frame over a 3-value partition key, scale-safe via the
    // two-pass bucketed rewrite (see bucketedRangeSum above).
    "q_win_range" -> ((s, d) =>
      bucketedRangeSum(
        load(s, d, "orders")
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice")),
        partKey = "o_orderstatus", orderKey = "o_orderkey",
        value = col("o_totalprice").cast(DecimalType(18, 2)),
        range = 100L, bucketWidth = 65536L, out = "wsum_dec")
        .select(col("o_orderstatus"), col("o_orderkey"),
          col("wsum_dec").cast("double").as("wsum"))
        .orderBy("o_orderstatus", "o_orderkey")),

    "q_topk_group" -> ((s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      load(s, d, "part")
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("p_brand", "rn")
    }),

    // Incremental aggregate maintenance: historical months live as
    // pre-aggregated partials (count + exact decimal sum per
    // flag × month); a new day's delta aggregates the same way and the
    // two partial sets merge by re-aggregation — sum of counts, sum of
    // decimal sums — into per-flag totals identical to a full
    // recompute (the oracle IS the full recompute). This demonstrates
    // the MERGE ALGEBRA of the materialized-view pattern (partials
    // re-aggregate losslessly over |flags| × |months| rows instead of
    // the raw table); both partial sets here still scan the same
    // source — delta-only I/O is the persisted-store variant proven by
    // IncrementalIngestSpec/IncrementalDedupSpec. Decimal partials
    // keep the merge lossless; cast to double only at the final
    // select. The split is history = (shipdate < cutoff), delta =
    // everything else INCLUDING NULL shipdates — complementary
    // predicates would silently drop null-key rows from both sides on
    // nullable data (TPC-H shipdate is non-null, but the pattern must
    // not depend on that).
    "q_incr_agg" -> ((s, d) => {
      val li = load(s, d, "lineitem")
        .withColumn("mon", trunc(col("l_shipdate"), "month"))
      val cutoff = "1998-06-01"
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"), col("mon"))
        .agg(count(lit(1)).as("part_n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("part_sum"))
      val isHist = coalesce(col("l_shipdate") < lit(cutoff), lit(false))
      partials(li.filter(isHist))
        .unionByName(partials(li.filter(!isHist)))
        .groupBy(col("l_returnflag"))
        .agg(sum(col("part_n")).as("n"),
          sum(col("part_sum")).cast("double").as("total"))
        .orderBy("l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(
    // Full recompute — the invariant q_incr_agg's partial-merge must
    // reproduce exactly.
    "q_incr_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) * 10000) AS BIGINT) / 10000.0 AS avg_qty,
        |  CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) * 10000) AS BIGINT) / 10000.0 AS avg_price,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dist_parts,
        |  COUNT(DISTINCT l_suppkey) AS dist_supps, COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_skew_probe" ->
      """WITH counts AS (
        |  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey),
        |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |        MAX(cnt) AS max_cnt FROM counts),
        |hot AS (SELECT l_orderkey AS hot_key FROM counts
        |        ORDER BY cnt DESC, l_orderkey ASC LIMIT 1)
        |SELECT n_keys, n_rows, max_cnt,
        |  max_cnt * 10000 // n_rows AS max_share_bp, hot_key
        |FROM s CROSS JOIN hot""".stripMargin,
    "q_histogram" ->
      """SELECT LEAST(9, CAST(FLOOR(l_extendedprice / 10000) AS BIGINT)) AS bucket,
        |  COUNT(*) AS cnt, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_agg_filter" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       FILTER (WHERE o_orderpriority = '1-URGENT') AS DOUBLE) AS urgent_total,
        |  MIN(o_orderdate) FILTER (WHERE o_totalprice > 200000) AS first_big
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, yr,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(yr) AS BIGINT) AS g_yr,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT *, CAST(YEAR(o_orderdate) AS BIGINT) AS yr FROM orders)
        |GROUP BY CUBE (o_orderstatus, yr)
        |ORDER BY o_orderstatus ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,
    "q_agg_gsets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_agg_stats" ->
      """SELECT c_mktsegment, MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        |  CAST(ROUND(STDDEV_SAMP(c_acctbal) * 10000) AS BIGINT) / 10000.0 AS sd_bal,
        |  CAST(ROUND(VAR_SAMP(c_acctbal) * 10000) AS BIGINT) / 10000.0 AS var_bal, COUNT(*) AS cnt
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "q_win_rank" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
        |  RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
        |  DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS drnk
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_agg_bitmap" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dist_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Relational CM twin: the counter matrix is exact integer sums per
    // (row, cell), so DuckDB rebuilds it from the same md5-hex-digit
    // positions and must agree cell-for-cell with the sketch's
    // min-of-cells reads.
    "q_agg_cms" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
        |g AS (SELECT ARRAY_TO_STRING(toks[k : k + 3], ' ') AS word
        |      FROM t, UNNEST(RANGE(1, LEN(toks) - 2)) AS u(k)),
        |cnt AS (SELECT word, COUNT(*) AS exact_cnt FROM g GROUP BY word),
        |pos AS (SELECT s, word, exact_cnt,
        |    ((STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(s AS VARCHAR) || '|' || word), 1, 1)) - 1) * 256
        |    +(STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(s AS VARCHAR) || '|' || word), 2, 1)) - 1) * 16
        |    +(STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(s AS VARCHAR) || '|' || word), 3, 1)) - 1)) % 1024 AS p
        |  FROM cnt CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS s)),
        |cell AS (SELECT s, p, SUM(exact_cnt) AS c FROM pos GROUP BY s, p),
        |top AS (SELECT word, exact_cnt FROM cnt ORDER BY exact_cnt DESC, word LIMIT 20),
        |est AS (SELECT t2.word, t2.exact_cnt, CAST(MIN(cell.c) AS BIGINT) AS est_cnt
        |        FROM top t2 JOIN pos ON pos.word = t2.word
        |        JOIN cell ON cell.s = pos.s AND cell.p = pos.p GROUP BY 1, 2)
        |SELECT word, exact_cnt, est_cnt,
        |  (est_cnt - exact_cnt) * 10000 // exact_cnt AS over_bp
        |FROM est ORDER BY exact_cnt DESC, word""".stripMargin,
    "q_agg_mode" ->
      """SELECT l_returnflag, CAST(MODE(l_linenumber) AS BIGINT) AS mode_line,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_agg_bool" ->
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (o_totalprice > 300000) AS n_big,
        |  BOOL_OR(o_orderpriority = '1-URGENT') AS any_urgent,
        |  BOOL_AND(o_totalprice > 0) AS all_positive,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_freq_items" ->
      """SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, item ASC) - 1 AS BIGINT) AS pos,
        |  item, cnt
        |FROM (SELECT event_type AS item, COUNT(*) AS cnt FROM events GROUP BY 1)
        |ORDER BY pos""".stripMargin,
    "q_topk_agg" ->
      """SELECT c_mktsegment, CAST(rk AS BIGINT) AS rk, c_name, cents FROM (
        |  SELECT c_mktsegment, c_name,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC, c_name ASC) AS rk
        |  FROM customer)
        |WHERE rk <= 5 ORDER BY c_mktsegment, rk""".stripMargin,
    "q_histogram_eqd" ->
      """WITH o AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT QUANTILE_CONT(cents,
        |        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM o)
        |SELECT bucket, COUNT(*) AS n, MIN(cents) AS min_c, MAX(cents) AS max_c
        |FROM (SELECT cents,
        |        CAST(1 + LEN(LIST_FILTER(bs, x -> cents > x)) AS BIGINT) AS bucket
        |      FROM o CROSS JOIN b)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_agg_median" ->
      """SELECT l_returnflag,
        |  QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.25) AS p25,
        |  QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5) AS median,
        |  QUANTILE_CONT(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.75) AS p75,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_win_ntile" ->
      """SELECT c_custkey, c_mktsegment,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CAST(FLOOR(PERCENT_RANK() OVER w * 10000) AS BIGINT) AS pr_bp,
        |  CAST(FLOOR(CUME_DIST() OVER w * 10000) AS BIGINT) AS cd_bp
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,
    "q_win_firstlast" ->
      """SELECT c_custkey, c_mktsegment,
        |  FIRST_VALUE(c_custkey) OVER w AS richest,
        |  LAST_VALUE(c_custkey) OVER w AS poorest,
        |  NTH_VALUE(c_custkey, 2) OVER w AS second
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_listagg" ->
      """SELECT o_custkey,
        |  ARRAY_TO_STRING(LIST_SORT(LIST(o_orderpriority)), ',') AS prios,
        |  CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
        |  CAST(CAST(ARG_MAX(o_orderdate, o_orderkey) AS DATE) AS VARCHAR) AS latest_date,
        |  MAX(o_orderkey) AS latest_key
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_win_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_win_leadlag" ->
      """SELECT user_id, event_id, value,
        |  LEAD(value, 1, CAST(-1.0 AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS nxt,
        |  LAG(value, 1, CAST(-1.0 AS DOUBLE)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prv
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_win_range" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_orderstatus ORDER BY o_orderkey ASC
        |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE) AS wsum
        |FROM orders ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "q_topk_group" ->
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part) WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin
  )
}
