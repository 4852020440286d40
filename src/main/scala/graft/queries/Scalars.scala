package graft.queries

import graft.Tables.load
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TokenCountRewrite.tokens

/** Scalar-function batteries (SURVEY.md §2.B): string, regex, date, math,
  * array, JSON, map. All row-wise, narrow, and whole-stage-codegen'd —
  * no shuffle except the final presentation sort.
  *
  * Cross-engine determinism: regexes stay inside the Java∩RE2 common
  * subset (char classes, groups, alternation — no lookaround, no \s whose
  * definition differs between engines); integer-valued outputs are cast
  * to BIGINT on both sides; timestamps are formatted to second-resolution
  * strings (graft.Det.tstr).
  */
object Scalars {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q_str_funcs" -> ((s, d) =>
      load(s, d, "customer")
        .select(col("c_custkey"),
          length(col("c_name")).cast("long").as("name_len"),
          upper(col("c_mktsegment")).as("seg_up"),
          lower(col("c_name")).as("name_lo"),
          trim(col("c_name")).as("name_trim"),
          substring(col("c_name"), 1, 8).as("name_pre"),
          concat(col("c_mktsegment"), lit("#"), col("c_custkey").cast("string")).as("tagged"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("pad"),
          regexp_replace(col("c_name"), "Customer", "Cust").as("repl"),
          array_join(split(col("c_name"), "#"), "|").as("parts"))
        .orderBy("c_custkey")),

    // The cleaning stages A5d/A5e verbatim as SQL regexes
    // (/root/reference/filters.py:32,44,48): whitelist char-class delete,
    // then first-whitespace-wins collapse.
    // Error-tolerant arithmetic/casts (ANSI-safe ingestion): try_divide
    // nulls on zero, graft_try_long nulls on malformed input — the
    // dirty-input behavior a pipeline wants instead of a failed job.
    // NOT Spark's try_cast for the string→long legs: TRY-mode cast
    // constructs a full SparkNumberFormatException per failing row
    // (measured 6.7 s/600 k invalid rows at sf0.1, 30× the valid path —
    // VERDICT r3 #1); graft_try_long (functions/TryExprs.scala) parses
    // with the non-throwing UTF8String.toLong scanner inside whole-stage
    // codegen, so dirty rows cost the same as clean ones. Oracled via
    // DuckDB's NULLIF/TRY_CAST equivalents.
    "q_try_funcs" -> ((s, d) => {
      // r21: sort the raw scan, project above the Sort (q_project_expr
      // pattern) — the range exchange's sampling pass no longer
      // evaluates the try/parse expressions twice
      load(s, d, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          expr("try_divide(l_extendedprice, l_quantity - 25)").as("per_unit_off25"),
          expr("graft_try_long(concat('x', CAST(l_partkey AS STRING)))").as("bad_cast"),
          expr("graft_try_long(CAST(l_partkey AS STRING))").as("good_cast"))
    }),

    // Fuzzy matching via edit distance (data-cleaning staple): bounded
    // block of customer names × same-segment names, levenshtein ≤ 4
    // candidate pairs. Both engines implement the same integer DP, so
    // the distances are exactly comparable. The block bound keeps the
    // pair count fixed; at scale the blocking key is the join key (the
    // q_embed_neardup pattern).
    "q_fuzzy_match" -> ((s, d) => {
      val a = load(s, d, "customer").filter(col("c_custkey") <= 60)
        .select(col("c_custkey").as("a_id"), col("c_name").as("a_name"),
          col("c_mktsegment").as("seg"))
      val b = load(s, d, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey").as("b_id"), col("c_name").as("b_name"),
          col("c_mktsegment").as("seg"))
      a.join(b, Seq("seg"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_name"), col("b_name")).cast("long").as("dist"))
        .filter(col("dist") <= 4)
        .orderBy("a_id", "b_id")
    }),

    "q_str_regex" -> ((s, d) =>
      load(s, d, "documents")
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), "[^\\x20-\\x7e]", ""),
            "([ \\t\\n\\r])[ \\t\\n\\r]*", "$1").as("cleaned"))
        .orderBy("doc_id")),

    "q_date_funcs" -> ((s, d) =>
      // r21: sort first, project above (q_project_expr pattern)
      load(s, d, "orders")
        .orderBy("o_orderkey")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mo"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("mon_start"),
          date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus30"),
          datediff(lit("1999-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_99"))),

    "q_math_funcs" -> ((s, d) =>
      load(s, d, "part")
        .select(col("p_partkey"),
          round(col("p_retailprice"), 1).as("r1"),
          abs(col("p_size") - 25).cast("long").as("size_dev"),
          ceil(col("p_retailprice")).cast("long").as("ceil_p"),
          floor(col("p_retailprice")).cast("long").as("floor_p"),
          round(log(col("p_retailprice")), 4).as("ln_p"),
          pow(col("p_size"), 2).as("size_sq"),
          (col("p_partkey") % 7).cast("long").as("mod7"),
          signum(col("p_retailprice") - 1000).cast("long").as("sgn"))
        .orderBy("p_partkey")),

    "q_array_funcs" -> ((s, d) =>
      load(s, d, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("first_e"),
          round(sqrt(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2"),
          round(array_max(col("embedding")).cast("double"), 4).as("max_e"))
        .orderBy("vec_id")),

    // Second array battery: slice/flatten/zip/position/remove/reverse
    // over integer arrays derived from the embedding quantization.
    // Array-typed outputs are exported through array_join — the driver's
    // pandas-side hash compare can't sort ndarray cells (r1 red row).
    "q_array_funcs2" -> ((s, d) =>
      load(s, d, "embeddings")
        .withColumn("q", expr(
          "graft_quantize(embedding, 1000)"))
        .select(col("vec_id"),
          expr("array_join(transform(slice(q, 1, 4), x -> CAST(x AS STRING)), ',')").as("head4"),
          expr("CAST(aggregate(zip_with(slice(q, 1, 8), slice(q, 9, 8), (a, b) -> a + b)," +
            " 0L, (acc, v) -> acc + v) AS BIGINT)").as("zipsum"),
          expr("CAST(array_position(q, array_max(q)) AS BIGINT)").as("argmax_pos"),
          expr("CAST(size(array_remove(q, 0)) AS BIGINT)").as("n_nonzero"),
          expr("array_join(transform(slice(reverse(q), 1, 2), x -> CAST(x AS STRING)), ',')").as("last2_rev"),
          expr("CAST(size(flatten(array(slice(q, 1, 3), slice(q, 4, 3)))) AS BIGINT)").as("flat6"))
        .orderBy("vec_id")),

    "q_json_funcs" -> ((s, d) =>
      // r21: sort first, project above (q_project_expr pattern) — the
      // JSON parse no longer runs in the range-sampling pass too
      load(s, d, "events")
        .orderBy("event_id")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          get_json_object(col("props"), "$.k").as("k_str"))),

    // Null-handling battery: coalesce/nullif/nvl2/IS DISTINCT FROM over
    // the outer-join null pattern (customers without orders).
    "q_null_funcs" -> ((s, d) =>
      load(s, d, "customer")
        .join(load(s, d, "orders").filter(col("o_totalprice") > 400000)
          .select(col("o_custkey"), col("o_totalprice")),
          col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("o_totalprice"), lit(-1.0)).as("price_or_default"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_nullable"),
          expr("nvl2(o_custkey, 'has_big_order', 'none')").as("order_flag"),
          col("o_custkey").isNotNull.as("matched"),
          expr("c_acctbal IS DISTINCT FROM o_totalprice").as("distinct_vals"))
        .orderBy(col("c_custkey"), col("price_or_default"))),

    // Scalar + correlated subqueries through the SQL surface.
    "q_scalar_subq" -> ((s, d) => {
      load(s, d, "orders").createOrReplaceTempView("g_orders")
      load(s, d, "customer").createOrReplaceTempView("g_customer")
      // "price > 1.5×avg" stated as count·price > 1.5·sum with an exact
      // decimal sum — bit-identical threshold in both engines (a double
      // AVG could differ in the last ulp and flip boundary rows)
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM g_orders
          |WHERE o_totalprice * (SELECT COUNT(*) FROM g_orders)
          |      > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM g_orders)
          |  AND o_custkey IN (SELECT c_custkey FROM g_customer WHERE c_acctbal > 0)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // Correlated scalar subqueries (Catalyst decorrelates into an
    // aggregate + join): orders above their own customer's average,
    // with the threshold in exact-decimal form (see q_scalar_subq).
    "q_corr_subq" -> ((s, d) => {
      load(s, d, "orders").createOrReplaceTempView("g_orders2")
      s.sql(
        """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
          |FROM g_orders2 o
          |WHERE o.o_totalprice * (SELECT COUNT(*) FROM g_orders2 i
          |                        WHERE i.o_custkey = o.o_custkey)
          |    > (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |       FROM g_orders2 i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o.o_orderkey""".stripMargin)
    }),

    // Map higher-order functions: build a word→count map per doc from
    // the token array, filter/transform it, export as sorted entry
    // strings (DuckDB's map type differs — equivalence is on the
    // exported entries, like q_map_funcs).
    "q_map_hof" -> ((s, d) => {
      // r21: graft_word_counts builds the same (first-occurrence-
      // ordered, INT-valued) word-count map in one hash pass instead of
      // rescanning the token array per distinct token (TextExprsSpec
      // pins output equality); the map HOF consumers below are the
      // query's declared surface and stay untouched
      load(s, d, "documents")
        .withColumn("toks", expr(tokens))
        .withColumn("wc", expr("graft_word_counts(toks)"))
        .select(col("doc_id"),
          expr("CAST(size(map_filter(wc, (k, v) -> v >= 3)) AS BIGINT)").as("n_frequent"),
          expr("array_join(array_sort(transform(map_entries(map_filter(wc, (k, v) -> v >= 5))," +
            " e -> concat(e.key, ':', CAST(e.value AS STRING)))), ',')").as("top_entries"),
          expr("CAST(aggregate(map_values(transform_values(wc, (k, v) -> v * v))," +
            " 0L, (a, x) -> a + x) AS BIGINT)").as("sum_sq_counts"))
        .orderBy("doc_id")
    }),

    // Spark-side exercises map construction/lookup; the oracle checks the
    // extracted values (DuckDB's MAP literal syntax differs, so the
    // equivalence is on results, not construction).
    "q_map_funcs" -> ((s, d) => {
      val m = map(lit("seg"), col("c_mktsegment"), lit("name"), col("c_name"))
      load(s, d, "customer")
        .select(col("c_custkey"),
          array_join(map_keys(m), ",").as("keys"),
          element_at(m, "seg").as("segv"),
          size(map_values(m)).cast("long").as("nvals"))
        .orderBy("c_custkey")
    })
  )

  private val duckToksScalars = "list_filter(string_split(text, ' '), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "q_str_funcs" ->
      """SELECT c_custkey,
        |  CAST(LENGTH(c_name) AS BIGINT) AS name_len,
        |  UPPER(c_mktsegment) AS seg_up,
        |  LOWER(c_name) AS name_lo,
        |  TRIM(c_name) AS name_trim,
        |  SUBSTRING(c_name, 1, 8) AS name_pre,
        |  c_mktsegment || '#' || CAST(c_custkey AS VARCHAR) AS tagged,
        |  LPAD(CAST(c_custkey AS VARCHAR), 12, '0') AS pad,
        |  REGEXP_REPLACE(c_name, 'Customer', 'Cust', 'g') AS repl,
        |  ARRAY_TO_STRING(STRING_SPLIT(c_name, '#'), '|') AS parts
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_try_funcs" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_extendedprice / NULLIF(l_quantity - 25, 0) AS per_unit_off25,
        |  TRY_CAST('x' || CAST(l_partkey AS VARCHAR) AS BIGINT) AS bad_cast,
        |  TRY_CAST(CAST(l_partkey AS VARCHAR) AS BIGINT) AS good_cast
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_fuzzy_match" ->
      """WITH a AS (SELECT c_custkey AS a_id, c_name AS a_name, c_mktsegment AS seg
        |           FROM customer WHERE c_custkey <= 60),
        |     b AS (SELECT c_custkey AS b_id, c_name AS b_name, c_mktsegment AS seg
        |           FROM customer WHERE c_custkey <= 300)
        |SELECT a_id, b_id, CAST(LEVENSHTEIN(a_name, b_name) AS BIGINT) AS dist
        |FROM a JOIN b USING (seg)
        |WHERE a_id < b_id AND LEVENSHTEIN(a_name, b_name) <= 4
        |ORDER BY a_id, b_id""".stripMargin,
    "q_str_regex" ->
      """SELECT doc_id,
        |  REGEXP_REPLACE(REGEXP_REPLACE(text, '[^\x20-\x7e]', '', 'g'),
        |                 '([ \t\n\r])[ \t\n\r]*', '\1', 'g') AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |  CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
        |  STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS mon_start,
        |  CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus30,
        |  DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_99
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT p_partkey,
        |  ROUND(p_retailprice, 1) + 0 AS r1,
        |  CAST(ABS(p_size - 25) AS BIGINT) AS size_dev,
        |  CAST(CEIL(p_retailprice) AS BIGINT) AS ceil_p,
        |  CAST(FLOOR(p_retailprice) AS BIGINT) AS floor_p,
        |  ROUND(LN(p_retailprice), 4) + 0 AS ln_p,
        |  POW(p_size, 2) AS size_sq,
        |  CAST(p_partkey % 7 AS BIGINT) AS mod7,
        |  CAST(SIGN(p_retailprice - 1000) AS BIGINT) AS sgn
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id,
        |  CAST(LEN(embedding) AS BIGINT) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 4) + 0 AS first_e,
        |  ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) + 0 AS l2,
        |  ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 4) + 0 AS max_e
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_array_funcs2" ->
      """WITH q AS (SELECT vec_id,
        |  LIST_TRANSFORM(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings)
        |SELECT vec_id,
        |  ARRAY_TO_STRING(q[1:4], ',') AS head4,
        |  CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 9), i -> q[i] + q[i + 8])) AS BIGINT) AS zipsum,
        |  CAST(LIST_POSITION(q, LIST_MAX(q)) AS BIGINT) AS argmax_pos,
        |  CAST(LEN(LIST_FILTER(q, x -> x <> 0)) AS BIGINT) AS n_nonzero,
        |  ARRAY_TO_STRING(LIST_REVERSE(q)[1:2], ',') AS last2_rev,
        |  CAST(LEN(FLATTEN([q[1:3], q[4:6]])) AS BIGINT) AS flat6
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id,
        |  CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k,
        |  JSON_EXTRACT_STRING(props, '$.k') AS k_str
        |FROM events ORDER BY event_id""".stripMargin,
    "q_null_funcs" ->
      """SELECT c_custkey,
        |  COALESCE(o_totalprice, -1.0) AS price_or_default,
        |  NULLIF(c_mktsegment, 'BUILDING') AS seg_nullable,
        |  CASE WHEN o_custkey IS NOT NULL THEN 'has_big_order' ELSE 'none' END AS order_flag,
        |  o_custkey IS NOT NULL AS matched,
        |  c_acctbal IS DISTINCT FROM o_totalprice AS distinct_vals
        |FROM customer LEFT JOIN
        |  (SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey, price_or_default""".stripMargin,
    "q_scalar_subq" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice * (SELECT COUNT(*) FROM orders)
        |      > 1.5 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        |ORDER BY o_orderkey""".stripMargin,
    "q_map_hof" ->
      s"""WITH t AS (SELECT doc_id, $duckToksScalars AS toks FROM documents),
         |wc AS (SELECT doc_id, word, COUNT(*) AS c FROM
         |  (SELECT doc_id, UNNEST(toks) AS word FROM t) GROUP BY doc_id, word)
         |SELECT doc_id,
         |  CAST(COUNT(*) FILTER (c >= 3) AS BIGINT) AS n_frequent,
         |  COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST(word || ':' || CAST(c AS VARCHAR))
         |    FILTER (c >= 5)), ','), '') AS top_entries,
         |  CAST(SUM(c * c) AS BIGINT) AS sum_sq_counts
         |FROM wc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_corr_subq" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        |FROM orders o
        |WHERE o.o_totalprice * (SELECT COUNT(*) FROM orders i
        |                        WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o.o_orderkey""".stripMargin,
    "q_map_funcs" ->
      """SELECT c_custkey, 'seg,name' AS keys, c_mktsegment AS segv,
        |  CAST(2 AS BIGINT) AS nvals
        |FROM customer ORDER BY c_custkey""".stripMargin
  )
}
