package graft

import org.apache.spark.sql.functions.{col, element_at, explode, expr, lit, md5, regexp_extract_all, sum, when}

/** graft_rollminhash must be bit-identical to the higher-order form it
  * replaced (`array_min(transform(sequence(1, len-w+1), i ->
  * md5(CAST(substring(text, i, w) AS BINARY))))`) — including on
  * supplementary-plane input, where Spark's substring counts CODE
  * POINTS (a UTF-16 implementation would split surrogate pairs). */
class TextExprsSpec extends SparkTestBase {

  test("rolling minhash == HOF form on ASCII, non-ASCII, and astral input") {
    import spark.implicits._
    val fixtures = Seq(
      "the quick brown fox jumps",
      "héllo wörld with ünïcode",
      "emoji 😀 inside 🚀 the text",   // astral: surrogate pairs
      "𝕊𝕦𝕡𝕡𝕝𝕖𝕞𝕖𝕟𝕥𝕒𝕣𝕪 𝕡𝕝𝕒𝕟𝕖",       // all-astral
      "exactly8!", "short", "12345678")
    val df = fixtures.toDF("t").repartition(2)
      .select(col("t"),
        expr("graft_rollminhash(t, 8)").as("fast"),
        expr("array_min(transform(sequence(1, length(t) - 7)," +
          " i -> md5(CAST(substring(t, i, 8) AS BINARY))))").as("ref"))
    df.collect().foreach { r =>
      val (t, fast, ref) = (r.getString(0), r.getString(1), r.getString(2))
      if (t.codePointCount(0, t.length) < 8) assert(fast == null, t)
      else assert(fast == ref, s"mismatch on '$t': $fast vs $ref")
    }
  }

  test("graft_winnow == declarative window-min form, incl. astral input and short-text null") {
    import spark.implicits._
    val fixtures = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaa",               // degenerate: all grams equal
      "héllo wörld with ünïcode and more text here",
      "emoji 😀 inside 🚀 the text goes on for a while",
      "exactly11ch",                        // exactly one full window
      "tenchars10",                         // one gram short of a window
      "short")
    // reference: min over each window of 4 consecutive 8-gram hashes,
    // distinct, sorted — the formulation the DuckDB oracle uses
    val ref = fixtures.toDF("t").select(col("t"), expr(
      "CASE WHEN length(t) >= 11 THEN array_sort(array_distinct(" +
        "transform(sequence(1, length(t) - 10), a -> " +
        " array_min(transform(sequence(a, a + 3), i -> md5(CAST(substring(t, i, 8) AS BINARY)))))))" +
        " ELSE NULL END").as("ref"))
    val fast = fixtures.toDF("t").select(col("t"),
      expr("graft_winnow(t, 8, 4)").as("fast"))
    val refM = ref.collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    fast.collect().foreach { r =>
      val t = r.getString(0)
      val f = Option(r.getSeq[String](1))
      assert(f.map(_.toList) === refM(t).map(_.toList), s"mismatch on '$t'")
    }
  }

  test("graft_dhash_text == declarative double-substring form on the real corpus") {
    // the exact SQL it replaced in imageNearDupDet, over every document's
    // rpad'd 72-byte pseudo-raster at sf0.001 (pure-ASCII corpus — the
    // expression's documented precondition)
    val mismatches = Tables.load(spark, sfDir, "documents")
      .select(expr("rpad(substring(text, 1, 72), 72, ' ')").as("p"))
      .select(expr("graft_dhash_text(p)").as("fast"),
        expr("""array_join(transform(sequence(0, 63), k ->
          IF(ascii(substring(p, CAST((k DIV 8) * 9 + (k % 8) + 2 AS INT), 1)) >
             ascii(substring(p, CAST((k DIV 8) * 9 + (k % 8) + 1 AS INT), 1)),
             '1', '0')), '')""").as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(mismatches === 0L)
    // past-end positions mirror ascii('') = 0 (short input, no rpad)
    val short = spark.sql("SELECT graft_dhash_text('ba') AS h").head().getString(0)
    assert(short.length === 64 && short.startsWith("0") && short.drop(1) == "0" * 63)
  }

  test("graft_hamming64 == aggregate(sequence) form, incl. unequal lengths") {
    import spark.implicits._
    val pairs = Seq(
      ("0" * 64, "0" * 64), ("0" * 64, "1" * 64),
      ("01" * 32, "10" * 32), ("0" * 64, "0" * 63 + "1"),
      ("0" * 10, "0" * 64),                  // short left: tail counts
      ("", ""))                              // both empty: distance 0
    val df = pairs.toDF("a", "b").select(
      expr("graft_hamming64(a, b)").as("fast"),
      expr("""CAST(aggregate(sequence(1, 64), 0, (acc, i) ->
        acc + IF(substring(a, CAST(i AS INT), 1) <> substring(b, CAST(i AS INT), 1), 1, 0)) AS BIGINT)""").as("ref"))
    df.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("graft_simhash == the explode + 64-column majority formulation on the real corpus") {
    // reference: the SQL-expressible formulation q_simhash_pairs shipped
    // before the fold (and that its DuckDB oracle still mirrors) —
    // distinct 4-token shingles, ±1 by md5-hex-digit bit (j/4, j%4),
    // strict sum > 0 majority, 4×16-bit bands low-to-high
    val sh = Tables.load(spark, sfDir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(col("doc_id"),
        explode(expr(graft.queries.Shingles.fourGramSql(distinct = true))).as("word"))
    val digitCols = (0 until 16).map { k =>
      expr(s"instr('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1").as(s"d$k")
    }
    val ref = sh.select(col("doc_id"), md5(col("word").cast("binary")).as("h"))
      .select((col("doc_id") +: digitCols): _*)
      .groupBy(col("doc_id"))
      .agg(sum(expr("d0 % 2 * 2 - 1")).as("s0"),
        (1 until 64).map(j =>
          sum(expr(s"(d${j / 4} DIV ${1 << (j % 4)}) % 2 * 2 - 1")).as(s"s$j")): _*)
      .select((col("doc_id") +: (0 until 4).map { b =>
        (16 * b until 16 * b + 16)
          .map(j => when(col(s"s$j") > 0, lit(1L << (j - 16 * b))).otherwise(0L))
          .reduce(_ + _).as(s"r$b")
      }): _*)
    val fast = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr("graft_simhash(text)").as("hb"))
      .filter(col("hb").isNotNull)
      .select((col("doc_id") +:
        (0 until 4).map(b => element_at(col("hb"), b + 1).as(s"f$b"))): _*)
    // same doc coverage (shingle-less docs NULL out of both paths)...
    assert(ref.count() === fast.count())
    // ...and bit-identical band values everywhere
    val mismatches = ref.join(fast, "doc_id")
      .where((0 until 4).map(b => col(s"r$b") =!= col(s"f$b")).reduce(_ || _))
      .count()
    assert(mismatches === 0L)
    // short text → NULL, like the explode form's absence of rows
    assert(spark.sql("SELECT graft_simhash('a b c') AS h").head().isNullAt(0))
  }

  test("graft_collapse_ws through the SQL/codegen path == the Scala scan " +
    "== the reference regex, on the real corpus") {
    val got = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), expr("graft_collapse_ws(text)").as("c"))
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1))
    val want = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        graft.etl.WikiText.collapseWhitespaceRegex(r.getString(1)))
    assert(got.length == want.length && got.sameElements(want))
    // NBSP is (?U)\s: the codegen path must collapse it too
    assert(spark.sql("SELECT graft_collapse_ws('a   b') AS c")
      .head().getString(0) == "a b")
  }

  test("graft_char_filter through the SQL/codegen path == WikiText.filterChars") {
    val whitelist = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr("graft_char_filter(text, '97-122,32-32', true)").as("c"))
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(1))
    val wantW = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> graft.etl.WikiText.filterChars(
        r.getString(1), Seq((97, 122), (32, 32)), keepInside = true))
    assert(whitelist.sameElements(wantW))
    // blacklist mode via SQL, astral-safe
    assert(spark.sql("SELECT graft_char_filter('a😀b', '128512-128512', false) AS c")
      .head().getString(0) == "ab")
    // non-literal spec must fail resolution, not NPE at execution
    intercept[Exception] {
      spark.sql("SELECT graft_char_filter('x', CAST(rand() AS STRING), true)").collect()
    }
  }

  test("graft_paren_toks == regexp_extract_all on well-formed AND degenerate input") {
    import spark.implicits._
    val fixtures = Seq(
      "(a)(b)(c)",                       // canonical encoding
      "(ab)(c" + "" + "d)",        // remapped-paren sentinel inside a token
      "(héllo)(wörld)(😀)",              // multi-byte + astral tokens
      "()",                              // empty group — no match
      "((a))",                           // nested — inner only
      "(()a)",                           // '(' inside — no match
      "(a",                              // unterminated — no match
      ")a(bc)",                          // leading junk
      "x(a)y(b)z",                       // interleaved junk
      "",                                // empty string
      "(a)(b",                           // trailing unterminated
      "((((zz))))")                      // deep nesting — inner only
    val df = fixtures.toDF("e").select(col("e"),
      expr("graft_paren_toks(e)").as("fast"),
      expr("regexp_extract_all(e, '\\\\(([^()]+)\\\\)', 1)").as("ref"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch on '${r.getString(0)}'")
    }
    // real encoded corpus: both forms identical end to end
    val enc = graft.queries.Text.bpeEncode(spark, sfDir)
    val diff = enc.select(
        expr("graft_paren_toks(enc)").as("fast"),
        expr("regexp_extract_all(enc, '\\\\(([^()]+)\\\\)', 1)").as("ref"))
      .filter(expr("fast <> ref")).count()
    assert(diff == 0)
  }

  test("graft_pretok_gpt2 == regexp_extract_all(PretokRe) incl. unicode classes") {
    import spark.implicits._
    val fixtures = Seq(
      "Hello, World! 42 times",
      "héllo WÖRLD ünïcode",
      "digits123mixed456runs",
      "\ttabs\nand\rreturns mixed   spaces",
      "Ⅷ roman ² super ½ vulgar",         // Nl and No number categories
      "emoji 😀 astral 𝕊𝕦𝕡 letters 𝟘𝟙𝟚", // astral letters + astral Nd digits
      "non breaking　spaces",     // unicode ws NOT in the ASCII set
      "a(b)c{d}e",                         // parens/punct singletons
      "", " \t\n\r", "日本語テキスト中文")
    val df = fixtures.toDF("t").select(col("t"),
      expr("graft_pretok_gpt2(t)").as("fast"),
      regexp_extract_all(col("t"),
        lit(graft.queries.Text.PretokRe), lit(0)).as("ref"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch on '${r.getString(0)}'")
    }
    // whole corpus: zero divergent rows
    val diff = Tables.load(spark, sfDir, "documents").select(
        expr("graft_pretok_gpt2(text)").as("fast"),
        regexp_extract_all(col("text"),
          lit(graft.queries.Text.PretokRe), lit(0)).as("ref"))
      .filter(expr("fast <> ref")).count()
    assert(diff == 0)
  }

  test("graft_paren_pairs == zip_with-over-slices pair extraction") {
    val enc = graft.queries.Text.bpeEncode(spark, sfDir)
    val zipForm = "CASE WHEN size(toks) >= 2 THEN" +
      " zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1)," +
      " (a, b) -> named_struct('l', a, 'r', b)) ELSE" +
      " CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END"
    val diff = enc
      .select(col("enc"), expr("graft_paren_toks(enc)").as("toks"))
      .select(expr("graft_paren_pairs(enc)").as("fast"), expr(zipForm).as("ref"))
      .filter(expr("fast <> ref")).count()
    assert(diff == 0)
    // degenerate: empty / one-token / junk inputs
    import spark.implicits._
    val edge = Seq("", "(a)", "x", "(a)(b)", "(a)junk(b)(c)").toDF("enc")
      .select(col("enc"), expr("graft_paren_toks(enc)").as("toks"))
      .select(col("enc"), expr("graft_paren_pairs(enc)").as("fast"),
        expr(zipForm).as("ref"))
    edge.collect().foreach { r =>
      assert(r.getSeq[AnyRef](1) == r.getSeq[AnyRef](2),
        s"mismatch on '${r.getString(0)}'")
    }
  }

  test("graft_gram_md5s == transform+array_join+md5 on the real corpus") {
    val refExpr = "CASE WHEN size(toks) >= 4 THEN " +
      "transform(transform(sequence(1, size(toks) - 3)," +
      " k -> array_join(slice(toks, k, 4), ' ')), g -> md5(CAST(g AS BINARY)))" +
      " ELSE CAST(array() AS ARRAY<STRING>) END"
    val diff = Tables.load(spark, sfDir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(expr("graft_gram_md5s(toks, 4)").as("fast"), expr(refExpr).as("ref"))
      .filter(expr("fast <> ref")).count()
    assert(diff == 0)
    // sub-gram-length docs yield the empty array, like the CASE guard
    import spark.implicits._
    val short = Seq("a b c", "", "one").toDF("text")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(expr("size(graft_gram_md5s(toks, 4))")).collect()
    assert(short.forall(_.getInt(0) == 0))
  }

  test("graft_minhash8 == exploded 8-column min-aggregate signature, n=1 and n=4") {
    val docs = Tables.load(spark, sfDir, "documents")
    def refSigs(gramElems: String): Map[Long, Seq[String]] = {
      val dw = docs
        .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
        .select(col("doc_id"), explode(expr(gramElems)).as("word"))
      val hashCols = (0 until 8).map(i =>
        md5(org.apache.spark.sql.functions.concat(
          lit(i.toString), lit("|"), col("word")).cast("binary")).as(s"h$i"))
      dw.select((col("doc_id") +: hashCols): _*)
        .groupBy(col("doc_id"))
        .agg(org.apache.spark.sql.functions.min(col("h0")).as("m0"),
          (1 until 8).map(i =>
            org.apache.spark.sql.functions.min(col(s"h$i")).as(s"m$i")): _*)
        .collect().map(r => r.getLong(0) ->
          (1 to 8).map(r.getString)).toMap
    }
    def fastSigs(n: Int): Map[Long, Seq[String]] = docs
      .select(col("doc_id"),
        expr(s"graft_minhash8(filter(split(text, ' '), x -> x <> ''), $n)").as("ms"))
      .filter(col("ms").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    // n = 1: the exploded form used array_distinct'd unigrams — min is
    // distinct-insensitive, so the signatures must agree
    assert(fastSigs(1) ==
      refSigs("array_distinct(filter(split(text, ' '), x -> x <> ''))"))
    // n = 4: the 4-gram shingle family of the dedup clusters (ref is
    // the pre-r21 transform+slice SQL, NOT Shingles.fourGramSql, which
    // now routes through graft_grams itself)
    assert(fastSigs(4) == refSigs(
      "CASE WHEN size(toks) >= 4 THEN array_distinct(" +
        "transform(sequence(1, size(toks) - 3), k -> array_join(slice(toks, k, 4), ' ')))" +
        " ELSE CAST(array() AS ARRAY<STRING>) END"))
  }

  test("graft_grams == transform+array_join(slice) for n = 2, 3, 4") {
    val docs = Tables.load(spark, sfDir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
    for (n <- Seq(2, 3, 4)) {
      val ref = s"CASE WHEN size(toks) >= $n THEN " +
        s"transform(sequence(1, size(toks) - ${n - 1}), k -> array_join(slice(toks, k, $n), ' '))" +
        " ELSE CAST(array() AS ARRAY<STRING>) END"
      val diff = docs.select(
          expr(s"graft_grams(toks, $n)").as("fast"), expr(ref).as("ref"))
        .filter(expr("fast <> ref")).count()
      assert(diff == 0, s"n=$n")
    }
    // short/empty inputs yield the empty array
    import spark.implicits._
    val short = Seq("a", "", "x y").toDF("text")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(expr("size(graft_grams(toks, 3))")).collect()
    assert(short.forall(_.getInt(0) == 0))
  }

  test("graft_toks == filter(split(t, ' '), x -> x <> '') on corpus and edge fixtures") {
    import spark.implicits._
    // Reference computed DRIVER-side (Java split semantics are the
    // HOF form's exactly: regex-split on the literal space, limit -1,
    // empties dropped) — the in-engine HOF form is itself rewritten to
    // Toks by TokenCountRewrite in this session, so it can't serve as
    // the reference.
    val fixtures = Seq(
      "", " ", "   ", "a", " a ", "a b", "a  b", "  x   y  z ",
      "a\tb", "a\nb", "héllo wörld", "日本 語  テスト ",
      "emoji 😀 inside 🚀 the text", "𝕊𝕦𝕡𝕡𝕝𝕖𝕞𝕖𝕟𝕥𝕒𝕣𝕪 𝕡𝕝𝕒𝕟𝕖", "a ", " a")
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val rows = (fixtures ++ corpus).toDF("t").repartition(2)
      .select(col("t"), expr("graft_toks(t)").as("toks")).collect()
    assert(rows.length == fixtures.length + corpus.length)
    rows.foreach { r =>
      val t = r.getString(0)
      assert(r.getSeq[String](1).toList == t.split(" ", -1).filter(_.nonEmpty).toList,
        s"mismatch on '${t.take(60)}'")
    }
    // null in → null out, matching the HOF form
    assert(spark.sql("SELECT graft_toks(CAST(NULL AS STRING))").head().isNullAt(0))
  }

  test("graft_len_sum == aggregate length fold, incl. astral (code-point) lengths") {
    import spark.implicits._
    val fixtures = Seq(
      "the quick brown fox", "", " ", "héllo wörld",
      "emoji 😀 inside 🚀 the text", "𝕊𝕦𝕡𝕡𝕝𝕖𝕞𝕖𝕟𝕥𝕒𝕣𝕪 𝕡𝕝𝕒𝕟𝕖")
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0)).toSeq
    (fixtures ++ corpus).toDF("t").repartition(2)
      .select(expr("filter(split(t, ' '), x -> x <> '')").as("toks"))
      .select(expr("graft_len_sum(toks)").as("fast"),
        expr("aggregate(toks, 0L, (a, x) -> a + length(x))").as("ref"),
        expr("CAST(aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x) AS BIGINT)").as("ref2"))
      .collect().foreach { r =>
        assert(r.getLong(0) === r.getLong(1) && r.getLong(0) === r.getLong(2))
      }
  }

  test("graft_sort_join == array_join(transform(array_sort(collect_list(struct))))") {
    import spark.implicits._
    // adversarial: out-of-order keys, duplicate keys (tie broken by the
    // string in unsigned byte order), empty strings, non-ASCII, one
    // group with a single element, one empty-string-only group, NULL
    // values (skipped) and NULL keys (sorted first)
    val rows = Seq[(Long, java.lang.Long, String)](
      (1L, 5L, "e"), (1L, 1L, "a"), (1L, 3L, "c"), (1L, 3L, "b"),
      (1L, 2L, ""), (1L, 4L, "déjà"),
      (2L, 10L, "solo"),
      (3L, 1L, ""), (3L, 2L, ""),
      (4L, 2L, "x"), (4L, 1L, null), (4L, 3L, "y"),
      (5L, null, "n"), (5L, 0L, "m"), (5L, -1L, null))
    val df = rows.toDF("g", "k", "v").repartition(2).groupBy("g")
      .agg(expr("graft_sort_join(collect_list(struct(k, v)))").as("fast"),
        expr("array_join(transform(array_sort(collect_list(struct(k, v)))," +
          " x -> x.v), ' ')").as("ref"))
    df.collect().foreach(r => assert(r.getString(1) === r.getString(2), r.getLong(0)))
    // a NULL array element
    val arr = "array(named_struct('k', 2L, 'v', 'b'), NULL, named_struct('k', 1L, 'v', 'a'))"
    val one = spark.sql(s"SELECT graft_sort_join($arr), " +
      s"array_join(transform(array_sort($arr), x -> x.v), ' ')").head()
    assert(one.getString(0) === "a b")
    assert(one.getString(0) === one.getString(1))
    // and on the real corpus through the exact q_substring_strip shape
    val toks = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.posexplode(
          expr("filter(split(text, ' '), x -> x <> '')")))
    val both = toks.groupBy("doc_id")
      .agg(expr("graft_sort_join(collect_list(struct(CAST(pos AS BIGINT), col)))").as("fast"),
        expr("array_join(transform(array_sort(collect_list(struct(CAST(pos AS BIGINT), col)))," +
          " x -> x.col), ' ')").as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(both === 0L)
  }

  test("graft_count_in == size(filter(toks, x IN set)) on the corpus") {
    import spark.implicits._
    val fixtures = Seq("the a the of xx", "", "  ", "thea the THE the")
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("text")).collect().map(_.getString(0)).toSeq
    (fixtures ++ corpus).toDF("t").repartition(2)
      .select(expr("filter(split(t, ' '), x -> x <> '')").as("toks"))
      .select(expr("graft_count_in(toks, 'the,a,of,and,is,to,in')").as("fast"),
        expr("CAST(size(filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS BIGINT)").as("ref"))
      .collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("graft_word_counts == map_from_arrays(array_distinct, per-word rescan) form") {
    val hofWc = "map_from_arrays(array_distinct(toks)," +
      " transform(array_distinct(toks), w -> size(filter(toks, x -> x = w))))"
    def derived(wc: String) = Seq(
      s"CAST(size(map_filter($wc, (k, v) -> v >= 3)) AS BIGINT)",
      s"array_join(array_sort(transform(map_entries(map_filter($wc, (k, v) -> v >= 5))," +
        s" e -> concat(e.key, ':', CAST(e.value AS STRING)))), ',')",
      s"CAST(aggregate(map_values(transform_values($wc, (k, v) -> v * v))," +
        s" 0L, (a, x) -> a + x) AS BIGINT)",
      // key ORDER must match array_distinct's first-occurrence order too
      s"array_join(map_keys($wc), '')")
    val base = Tables.load(spark, sfDir, "documents")
      .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
    val fast = base.select(col("doc_id") +: derived("graft_word_counts(toks)")
      .map(expr): _*).orderBy("doc_id").collect().map(_.toSeq)
    val ref = base.select(col("doc_id") +: derived(hofWc).map(expr): _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(fast.length == ref.length)
    fast.zip(ref).foreach { case (f, r) => assert(f == r) }
  }

  test("graft_letter_counts == 26x replace-diff transform") {
    import spark.implicits._
    val refExpr = "transform(sequence(97, 122)," +
      " c -> CAST(length(t) - length(replace(t, char(c), '')) AS BIGINT))"
    val fixtures = Seq(
      "abcxyz", "aaa bbb zzz", "UPPER lower 123", "", "héllo wörld",
      "emoji 😀 and ascii az", "a" * 100 + "z")
    val df = fixtures.toDF("t").select(col("t"),
      expr("graft_letter_counts(t)").as("fast"), expr(refExpr).as("ref"))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"mismatch on '${r.getString(0)}'")
    }
    val diff = Tables.load(spark, sfDir, "documents")
      .withColumnRenamed("text", "t").select(
        expr("graft_letter_counts(t)").as("fast"), expr(refExpr).as("ref"))
      .filter(expr("fast <> ref")).count()
    assert(diff == 0)
  }
}
