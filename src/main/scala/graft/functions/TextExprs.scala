package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the rolling-fingerprint hot path
  * (SURVEY.md §4.3 escalation rule, same story as [[LongDot]]).
  *
  * The bench demanded: `array_min(transform(sequence(...), i ->
  * md5(substring(text, i, 8))))` materializes ~|text| 32-char hash
  * strings per row, instantiates a fresh MessageDigest per window, and
  * the higher-order lambda keeps the projection out of whole-stage
  * codegen (4.4 s at sf0.1 — the slowest query in the engine).
  * `graft_rollminhash` is one primitive loop per row: a single reused
  * MessageDigest, digests compared as unsigned bytes (same order as
  * comparing the lowercase-hex strings, since hex digits are
  * monotonically ordered in ASCII), only the winner rendered to hex.
  * Result is bit-identical to the HOF form and its DuckDB oracle.
  */
case class RollingMinHash(child: Expression, width: Int)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true // short texts yield NULL
  override def prettyName: String = "graft_rollminhash"

  override def nullSafeEval(input: Any): Any =
    TextExprs.rollMinHash(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // one static call per row; the surrounding stage stays codegen'd
      s"""
         |${ev.value} = graft.functions.TextExprs.rollMinHash($c, $width);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken) as one
  * primitive loop per row — the same escalation story as
  * [[RollingMinHash]]: the declarative form (explode ~|text| hash rows,
  * doc-stratified window min, re-aggregate) pays a million-row explode
  * plus a per-doc sort at sf0.1 (~6 s) for an operation that is
  * inherently row-local. `graft_winnow(text, width, window)` returns the
  * SORTED distinct selected hashes (min md5 of each `window` of
  * consecutive `width`-char grams) — bit-identical to the windowed SQL
  * form and its DuckDB oracle; NULL when no full window exists. */
case class WinnowFingerprints(child: Expression, width: Int, window: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // short texts yield NULL
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    TextExprs.winnow(input.asInstanceOf[UTF8String], width, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextExprs.winnow($c, $width, $window);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Text-raster dHash (the `q_image_neardup_det` hash) as one primitive
  * loop per row — same escalation story as [[RollingMinHash]]: the
  * declarative form is `transform(sequence(0, 63), k -> ...)` with TWO
  * interpreted `substring`+`ascii` calls per element (128 per row), a
  * higher-order lambda that stays out of whole-stage codegen.
  * `graft_dhash_text(p)` emits the identical 64-char '0'/'1' string:
  * bit k compares raster bytes (k div 8)*9+(k mod 8)+1 vs +0
  * (0-based). ASCII-only precondition (asserted for the corpus at both
  * SFs): `ascii(substring(...))` reads code points, this reads bytes —
  * equal iff the input is pure ASCII. Positions past the string mirror
  * `ascii('') = 0`. */
case class DHashText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_dhash_text"

  override def nullSafeEval(input: Any): Any =
    TextExprs.dhashText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.dhashText($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hamming distance over the first 64 positions of two '0'/'1' hash
  * strings — the codegen'd replacement for the per-pair
  * `aggregate(sequence(1, 64), ...)` verify (128 interpreted substring
  * calls per candidate). Matches the SQL form exactly for single-byte
  * input (the '0'/'1' hash strings it serves), including the edge
  * semantics: a position past a string's end reads as '' (counts as a
  * difference iff the other string still has a char there). Compares
  * BYTES, not code points — multi-byte input diverges from the SQL
  * form by design; see [[TextExprs.hamming64]]. */
case class Hamming64(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_hamming64"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextExprs.hamming64(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.TextExprs.hamming64((UTF8String) $a, (UTF8String) $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash over a document's distinct 4-token shingles as ONE
  * row-local pass — the codegen'd replacement for q_simhash_pairs'
  * explode + 64-column majority-vote aggregation (the explode form
  * shuffles nothing either, but pays the per-(shingle, bit) column
  * machinery; this fold is a plain byte loop). Returns the 4×16-bit
  * BAND values (array<long>, bands low-to-high) so banding is an
  * `element_at`, and NULL when the text has no 4-token shingle —
  * matching the SQL formulation, where such docs contribute no rows
  * and thus no signature (a zero signature would instead collide all
  * short docs into one bucket). Bit math is pinned to the SQL twin:
  * bit j = majority over shingles of md5-hex-digit (j/4)'s bit (j%4),
  * strict `sum > 0` majority, identical md5-of-UTF-8 family. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = true // shingle-less texts yield NULL
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    TextExprs.simhash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextExprs.simhash64($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Content-defined chunk START positions (q_cdc_chunks' boundary scan)
  * as one primitive loop per row — same escalation story as
  * [[RollingMinHash]]: the declarative form
  * `concat(array(1), filter(sequence(2, len-gram+1), i ->
  * substring(md5(CAST(substring(p, i, gram) AS BINARY)), 1, 1) = '0'))`
  * pays an interpreted higher-order lambda with a full 32-char hex
  * render per position (6.1 s at sf0.1 — the slowest query in the
  * engine). This loop reuses one MessageDigest and tests the boundary
  * nibble directly on the digest byte ((d(0) & 0xf0) == 0 ⇔ leading
  * hex digit '0') — bit-identical to the HOF form and its DuckDB
  * oracle (CdcSpec pins the equality on the corpus). NULL when the
  * text is shorter than one gram. */
/** A5e whitespace-run collapse (`/root/reference/filters.py:48-50,63`:
  * `re.sub(r"(\s)\s*", r"\g<1>", text)`) as one primitive scan per row —
  * VERDICT r17 #5: the reference pipeline's collapse stage was a Java
  * regex `replaceAll("(?U)(\\s)\\s*", "$1")` inside the interpreted
  * cleanWikiBody UDF, the engine's last interpreted hot ETL path. The
  * scan keeps the FIRST whitespace char of each run, with the EXACT
  * `(?U)\s` predicate (Unicode White_Space=Yes — NBSP collapses, as in
  * Python 3); WikiTextProps proves bit-equality against the regex form
  * on arbitrary input AND the predicate exhaustively over the BMP. */
case class CollapseWs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_collapse_ws"

  override def nullSafeEval(input: Any): Any =
    TextExprs.collapseWs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.collapseWs($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** A5d unicode range filter (`/root/reference/filters.py:25-46`) as one
  * primitive codepoint scan per row — `graft_char_filter(s, '48-57,97-122',
  * keep)`: keep = true whitelists (delete codepoints OUTSIDE the
  * ranges), false blacklists (delete members). Empty spec is a no-op in
  * BOTH modes, matching `WikiText.filterChars` (the reference skips the
  * pass when no ranges are configured — an empty whitelist must not
  * delete the document). Ranges are parsed once at plan time and
  * embedded as reference objects, so the per-row loop is branch + array
  * probe, fully inside whole-stage codegen. */
case class CharFilter(child: Expression, spec: String, keepInside: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_char_filter"

  private lazy val (los, his) = TextExprs.parseRanges(spec)

  override def nullSafeEval(input: Any): Any =
    TextExprs.charFilter(input.asInstanceOf[UTF8String], los, his, keepInside)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val losRef = ctx.addReferenceObj("los", los, "int[]")
    val hisRef = ctx.addReferenceObj("his", his, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.charFilter($c, $losRef, $hisRef, $keepInside);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Paren-encoded token extraction (`(a)(b)(c)` → [a, b, c]) as one
  * byte scan per row — the codegen'd replacement for
  * `regexp_extract_all(enc, '\(([^()]+)\)', 1)` on the BPE corpus
  * encoding, which ran the regex machinery over the whole encoded
  * corpus once per training round (8×) plus once per consumer
  * (apply/fertility/probe). The scan implements the EXACT regex
  * semantics (leftmost non-overlapping matches of `\(([^()]+)\)`),
  * including degenerate inputs the encoder never produces — `()`,
  * nested `((a))`, unterminated `(a` — so equality holds on ANY
  * string, not just well-formed encodings (TextExprsSpec pins it).
  * Parens are ASCII bytes, which never occur inside UTF-8 multi-byte
  * sequences, so the byte scan is code-point safe. */
case class ParenToks(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_paren_toks"

  override def nullSafeEval(input: Any): Any =
    TextExprs.parenToks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.parenToks($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** GPT-2-class pretokenization (`\p{L}+|\p{N}+|[^\p{L}\p{N} \t\n\r]`)
  * as one code-point scan per row — the codegen'd replacement for
  * `regexp_extract_all(text, PretokRe, 0)`, the entry pass of the BPE
  * family (encoder + fertility denominators). The scan replicates the
  * regex's alternative order exactly: maximal letter runs (Unicode
  * category L — `Character.isLetter` is the same getType data Java's
  * `\p{L}` reads), maximal number runs (Nd|Nl|No), every other
  * non-{space, tab, LF, CR} code point as a singleton. Supplementary
  * code points are walked whole, so no mid-surrogate starts can arise
  * (the only unmatched positions are the 4 single-unit ASCII
  * whitespace chars). TextExprsSpec pins equality vs the regex on
  * mixed-alphabet and astral input. */
case class PretokGpt2(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_pretok_gpt2"

  override def nullSafeEval(input: Any): Any =
    TextExprs.pretokGpt2(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.pretokGpt2($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Adjacent paren-encoded token PAIRS (`(a)(b)(c)` → [(a,b), (b,c)])
  * in one byte scan — the BPE training round's pair extraction without
  * the intermediate token array, the two `slice` copies, and the
  * interpreted `zip_with` lambda (HOFs are CodegenFallback). Element
  * struct is (l, r), matching the named_struct the zip_with form
  * produced; the token boundary scan is [[ParenToks]]'s. */
case class ParenPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l", StringType, nullable = false),
        org.apache.spark.sql.types.StructField("r", StringType, nullable = false))),
      containsNull = false)
  override def prettyName: String = "graft_paren_pairs"

  override def nullSafeEval(input: Any): Any =
    TextExprs.parenPairs(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.parenPairs($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** md5 hex of every positioned space-joined `n`-token gram of a token
  * array, in one pass with a reused MessageDigest — the codegen'd
  * replacement for `transform(sequence(1, size(toks) - (n-1)), k ->
  * array_join(slice(toks, k, n), ' '))` followed by `md5(CAST(gram AS
  * BINARY))`, which allocated every gram string and a fresh digest per
  * gram. Returns the empty array when fewer than n tokens (matching
  * the CASE guard); element i = md5 of the UTF-8 bytes of
  * `toks[i] || ' ' || … || toks[i+n-1]`. TextExprsSpec pins equality
  * on the real corpus. */
case class GramMd5s(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_gram_md5s"

  override def nullSafeEval(input: Any): Any =
    TextExprs.gramMd5s(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.gramMd5s($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The 8-hash MinHash signature of a token array's space-joined
  * `n`-grams in ONE row-local pass — the codegen'd replacement for the
  * explode → 8 md5 columns → groupBy(doc_id) 8-way min aggregate
  * (minhashSigs), which shuffled every (doc, gram) row to compute a
  * per-DOC signature. Element i = MIN over grams g of
  * `md5hex(i || '|' || g)` — the identical hash family, and min over
  * the gram MULTISET equals min over the distinct set, so the
  * `array_distinct` the exploded form applied is unnecessary here.
  * Hex strings compare like their digests (hex digits are
  * monotonically ordered in ASCII), so mins are taken on raw digests
  * and only the 8 winners are rendered. NULL when the array has no
  * n-gram — matching the exploded form, where such docs contribute no
  * rows and thus no signature. TextExprsSpec pins equality on the
  * real corpus for n = 1 and n = 4. */
case class MinHash8(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash8"

  override def nullSafeEval(input: Any): Any =
    TextExprs.minhash8(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextExprs.minhash8($c, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Space-joined n-grams of a token array in one pass — the codegen'd
  * replacement for the interpreted
  * `transform(sequence(1, size(toks) - (n-1)), k ->
  * array_join(slice(toks, k, n), ' '))` chain (and for the bigram
  * special case `concat(element_at(toks, k), ' ',
  * element_at(toks, k+1))`), which allocated a lambda invocation and a
  * slice copy per position. Returns the empty array when fewer than n
  * tokens, matching the CASE guards at every call site. TextExprsSpec
  * pins equality on the real corpus for n = 2, 3, 4. */
case class Grams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_grams"

  override def nullSafeEval(input: Any): Any =
    TextExprs.grams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.grams($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word-count map (token → occurrences) in ONE hash pass — the
  * codegen'd replacement for q_map_hof's
  * `map_from_arrays(array_distinct(toks), transform(array_distinct(
  * toks), w -> size(filter(toks, x -> x = w))))`, which rescanned the
  * whole token array once per DISTINCT token (O(n·distinct) per row,
  * all interpreted HOFs). Keys come out in first-occurrence order —
  * exactly array_distinct's order — with INT counts, so the map is
  * entry-for-entry the one the HOF form built; the map HOF consumers
  * (map_filter / transform_values / map_entries) are untouched.
  * TextExprsSpec pins equality of the derived outputs on the corpus. */
case class WordCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.MapType(StringType,
      org.apache.spark.sql.types.IntegerType, valueContainsNull = false)
  override def prettyName: String = "graft_word_counts"

  override def nullSafeEval(input: Any): Any =
    TextExprs.wordCounts(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.wordCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-letter occurrence counts (a–z) in ONE byte scan — the codegen'd
  * replacement for q_char_diversity's
  * `transform(sequence(97, 122), c -> length(text) -
  * length(replace(text, char(c), '')))`, which allocated 26 full
  * replaced copies of every document per row. Counting ASCII bytes
  * 0x61–0x7a equals counting those CODE POINTS (UTF-8 continuation
  * bytes are >= 0x80), so the result is element-for-element equal to
  * the replace-diff form on any input (TextExprsSpec pins it). */
case class LetterCounts(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_letter_counts"

  override def nullSafeEval(input: Any): Any =
    TextExprs.letterCounts(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.letterCounts($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-space tokenization in ONE byte scan — the codegen'd
  * replacement for the engine's canonical tokenizer
  * `filter(split(text, ' '), x -> x <> '')` (ArrayFilter is a
  * CodegenFallback HOF, so the whole subtree — regex split included —
  * evaluated interpreted at every one of its ~35 call sites). `split`
  * on the single-space regex with limit -1 yields one empty string per
  * extra separator and the filter drops them, so the result is exactly
  * the maximal runs of non-0x20 bytes, in order (no UTF-8 continuation
  * byte equals 0x20, so a byte scan is code-point-safe — the
  * TokenCountRewrite argument). Tokens are zero-copy views over one
  * byte array obtained via `getBytes` (which copies out of any shared
  * row buffer). dataType matches the replaced chain bit-for-bit:
  * StringSplit declares ArrayType(StringType, containsNull = false)
  * and ArrayFilter preserves it. TextExprsSpec pins equality on the
  * real corpus plus degenerate fixtures (empty, all-space, leading/
  * trailing/multi-space, astral). Installed two ways: callable as
  * `graft_toks(text)`, and injected by [[TokenCountRewrite]] over the
  * analyzed HOF form so every existing call site gets it. */
case class Toks(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_toks"

  override def nullSafeEval(input: Any): Any =
    TextExprs.toks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextExprs.toks($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Ordered reassembly `array_join(transform(array_sort(
  * collect_list(struct(k BIGINT, v STRING))), x -> x.v), ' ')` as ONE
  * codegen call — the chain it replaces runs TWO CodegenFallback HOFs
  * (array_sort's default-comparator lambda and the field-extraction
  * transform) over up-to-64Ki-element per-group arrays in
  * q_substring_strip's segment reassembly. Ordering matches
  * array_sort's default struct comparator exactly: by k, ties by v in
  * unsigned byte order (UTF8String.compareTo — Spark's string
  * ordering); the served keys are distinct positions, so ties cannot
  * occur, but the comparator is matched anyway. TextExprsSpec pins
  * bit-equality against the chain on adversarial fixtures. */
case class SortJoin(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_sort_join"

  override def nullSafeEval(input: Any): Any =
    TextExprs.sortJoin(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.sortJoin($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** COUNT of elements equal to any member of a small LITERAL set — the
  * codegen'd replacement for the interpreted
  * `CAST(size(filter(toks, x -> x IN ('a','b',...))) AS BIGINT)`
  * stopword/marker counters (ArrayFilter is a CodegenFallback HOF, so
  * the per-token IN scan ran interpreted at every quality/lang-id call
  * site). `members` is the comma-split of the literal spec — the served
  * sets are single words, never containing commas. Equality is
  * UTF8String equality, exactly the IN-list's; the token arrays carry
  * no null elements. TextExprsSpec pins bit-equality on the corpus. */
case class CountIn(child: Expression, spec: String) extends UnaryExpression {
  private val members: Array[UTF8String] =
    spec.split(',').map(UTF8String.fromString)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_count_in"

  override def nullSafeEval(input: Any): Any =
    TextExprs.countIn(input.asInstanceOf[ArrayData], members)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("inset", members,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.countIn($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Σ length(element) over a string array in one pass — the codegen'd
  * replacement for the interpreted
  * `aggregate(arr, 0L, (a, x) -> a + length(x))` fold (and its
  * `aggregate(transform(arr, length), ...)` variant): ArrayAggregate is
  * a CodegenFallback HOF, so each per-row fold ran interpreted with a
  * lambda invocation per element. length() counts code POINTS
  * (UTF8String.numChars) — matched exactly. Empty array → 0, matching
  * the fold's seed; the token arrays it serves never contain null
  * elements (containsNull = false upstream). TextExprsSpec pins
  * bit-equality on the corpus + astral fixtures. */
case class LenSum(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_len_sum"

  override def nullSafeEval(input: Any): Any =
    TextExprs.lenSum(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprs.lenSum($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class CdcStarts(child: Expression, gram: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true // sub-gram texts yield NULL
  override def prettyName: String = "graft_cdc_starts"

  override def nullSafeEval(input: Any): Any =
    TextExprs.cdcStarts(input.asInstanceOf[UTF8String], gram)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.TextExprs.cdcStarts($c, $gram);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExprs {
  private val HexDigits = "0123456789abcdef".toCharArray

  /** See [[DHashText]]. */
  def dhashText(p: UTF8String): UTF8String = {
    val b = p.getBytes
    val out = new Array[Byte](64)
    var k = 0
    while (k < 64) {
      val i = (k >> 3) * 9 + (k & 7) // 0-based index of the left cell
      val c0 = if (i < b.length) b(i) & 0xff else 0
      val c1 = if (i + 1 < b.length) b(i + 1) & 0xff else 0
      out(k) = if (c1 > c0) '1' else '0'
      k += 1
    }
    UTF8String.fromBytes(out)
  }

  /** See [[Hamming64]]. Bytes compare as unsigned so the past-end
    * sentinel (-1) can never collide with a real byte (0xFF reads as
    * 255). Comparison is byte-wise: exact vs the SQL form for 1-byte
    * chars (the '0'/'1' hash strings it serves), byte- not char-wise
    * for multi-byte input. */
  def hamming64(a: UTF8String, b: UTF8String): Long = {
    val ab = a.getBytes
    val bb = b.getBytes
    var d = 0L
    var i = 0
    while (i < 64) {
      val x = if (i < ab.length) ab(i) & 0xff else -1
      val y = if (i < bb.length) bb(i) & 0xff else -1
      if (x != y) d += 1
      i += 1
    }
    d
  }

  /** min over all `width`-char windows of lowercase-hex md5(window),
    * equal to `array_min(transform(sequence(1, len-w+1), i ->
    * md5(CAST(substring(text, i, w) AS BINARY))))`; null when
    * `length < width`. Exposed as a static JVM method so generated
    * code can call it. */
  /** BYTE offset where code point i starts, computed directly over the
    * UTF-8 bytes (r21): a UTF-8 slice taken at code-point boundaries IS
    * the UTF-8 encoding of that substring, so the digest loops can feed
    * `md.update(bytes, off, len)` instead of allocating
    * `String.substring(...).getBytes(UTF_8)` per gram — same windows,
    * same digests, zero per-gram allocations. Leading-byte dispatch:
    * 0xxxxxxx=1, 110xxxxx=2, 1110xxxx=3, 11110xxx=4. */
  private def cpByteOffsets(b: Array[Byte]): Array[Int] = {
    var n = 0
    var i = 0
    while (i < b.length) {
      val x = b(i) & 0xff
      i += (if (x < 0x80) 1 else if (x < 0xe0) 2 else if (x < 0xf0) 3 else 4)
      n += 1
    }
    val offs = new Array[Int](n + 1)
    i = 0
    var cp = 0
    while (i < b.length) {
      offs(cp) = i
      val x = b(i) & 0xff
      i += (if (x < 0x80) 1 else if (x < 0xe0) 2 else if (x < 0xf0) 3 else 4)
      cp += 1
    }
    offs(n) = b.length
    offs
  }

  private def hexEncode(d: Array[Byte]): UTF8String = {
    val hex = new Array[Char](32)
    var j = 0
    while (j < 16) {
      hex(2 * j) = HexDigits((d(j) >> 4) & 0xf)
      hex(2 * j + 1) = HexDigits(d(j) & 0xf)
      j += 1
    }
    UTF8String.fromString(new String(hex))
  }

  def rollMinHash(text: UTF8String, width: Int): UTF8String = {
    val bytes = text.getBytes
    val offs = cpByteOffsets(bytes)
    val n = offs.length - width
    if (n <= 0) return null
    val md = Md5.get()
    var best: Array[Byte] = null
    var i = 0
    while (i < n) {
      md.reset()
      md.update(bytes, offs(i), offs(i + width) - offs(i))
      val d = md.digest()
      if (best == null || unsignedLt(d, best)) best = d
      i += 1
    }
    hexEncode(best)
  }

  /** Sorted distinct winnowing fingerprints: min digest of every full
    * `win`-length window of consecutive `width`-code-point gram hashes;
    * null when no full window exists. Equal to the windowed-SQL form
    * (window min over positioned gram hashes, distinct, sort).
    * Static so generated code can call it. */
  def winnow(text: UTF8String, width: Int, win: Int)
  : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bytes = text.getBytes
    val offs = cpByteOffsets(bytes)
    val nGrams = offs.length - width
    val nAnchors = nGrams - win + 1
    if (nAnchors <= 0) return null
    val md = Md5.get()
    val digests = new Array[Array[Byte]](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      md.update(bytes, offs(i), offs(i + width) - offs(i))
      digests(i) = md.digest()
      i += 1
    }
    val sel = new java.util.TreeSet[Array[Byte]](
      new java.util.Comparator[Array[Byte]] {
        override def compare(a: Array[Byte], b: Array[Byte]): Int = {
          var k = 0
          while (k < 16) {
            val c = (a(k) & 0xff) - (b(k) & 0xff)
            if (c != 0) return c
            k += 1
          }
          0
        }
      })
    // consecutive windows usually share their min (the classic winnowing
    // dedup): reference equality on the shared digest object skips the
    // TreeSet probe for those — equal-but-distinct digests still dedup
    // inside the set
    var lastAdded: Array[Byte] = null
    var a = 0
    while (a < nAnchors) {
      var best = digests(a)
      var j = 1
      while (j < win) {
        if (unsignedLt(digests(a + j), best)) best = digests(a + j)
        j += 1
      }
      if (best ne lastAdded) {
        sel.add(best)
        lastAdded = best
      }
      a += 1
    }
    val out = new Array[AnyRef](sel.size)
    val it = sel.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = hexEncode(it.next())
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[CdcStarts]]. 1-based code-point positions: position 1 always
    * opens chunk 0; position i in [2, n-gram+1] opens a chunk when
    * md5 of the gram starting there leads with hex '0'. Code-point
    * walk matches `substring`'s char semantics for non-ASCII input. */
  def cdcStarts(text: UTF8String, gram: Int): ArrayData = {
    val bytes = text.getBytes
    val offs = cpByteOffsets(bytes)
    val n = offs.length - 1
    if (n < gram) return null
    val md = Md5.get()
    val buf = new scala.collection.mutable.ArrayBuffer[Int](n / 12 + 2)
    buf += 1
    var i = 2
    val last = n - gram + 1
    while (i <= last) {
      md.reset()
      md.update(bytes, offs(i - 1), offs(i - 1 + gram) - offs(i - 1))
      val d = md.digest()
      if ((d(0) & 0xf0) == 0) buf += i
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(buf.toArray)
  }

  /** See [[ParenToks]]: exact automaton twin of leftmost
    * non-overlapping `\(([^()]+)\)` matching. On a failed attempt the
    * regex engine's next POSSIBLE match start is the next '(' (no other
    * byte can begin a match), which is where the scan resumes. */
  def parenToks(enc: UTF8String): ArrayData = {
    val b = enc.getBytes
    val n = b.length
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      if (b(i) == '(') {
        var j = i + 1
        while (j < n && b(j) != '(' && b(j) != ')') j += 1
        if (j < n && b(j) == ')' && j > i + 1) {
          out.add(UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(b, i + 1, j)))
          i = j + 1
        } else if (j < n && b(j) == '(') i = j
        else i = j + 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** See [[ParenPairs]]: the [[parenToks]] scan, emitting adjacent
    * (l, r) structs instead of the token array. */
  def parenPairs(enc: UTF8String): ArrayData = {
    val b = enc.getBytes
    val n = b.length
    val out = new java.util.ArrayList[AnyRef]()
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      if (b(i) == '(') {
        var j = i + 1
        while (j < n && b(j) != '(' && b(j) != ')') j += 1
        if (j < n && b(j) == ')' && j > i + 1) {
          val tok = UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(b, i + 1, j))
          if (prev != null) {
            out.add(new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(Array[Any](prev, tok)))
          }
          prev = tok
          i = j + 1
        } else if (j < n && b(j) == '(') i = j
        else i = j + 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** See [[GramMd5s]]. */
  def gramMd5s(toks: ArrayData, n: Int): ArrayData = {
    val count = toks.numElements() - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[AnyRef](0))
    val bytes = new Array[Array[Byte]](toks.numElements())
    var i = 0
    while (i < bytes.length) {
      bytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = Md5.get()
    val out = new Array[AnyRef](count)
    var k = 0
    while (k < count) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(bytes(k + j))
        j += 1
      }
      out(k) = hexEncode(md.digest())
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** `\p{N}` = Nd | Nl | No — the exact category set Java's regex
    * reads from the same Character data. */
  private def isNumCat(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** See [[PretokGpt2]]. */
  def pretokGpt2(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    val out = new java.util.ArrayList[AnyRef]()
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (Character.isLetter(cp)) {
        val start = i
        i += Character.charCount(cp)
        while (i < n && Character.isLetter(s.codePointAt(i)))
          i += Character.charCount(s.codePointAt(i))
        out.add(UTF8String.fromString(s.substring(start, i)))
      } else if (isNumCat(cp)) {
        val start = i
        i += Character.charCount(cp)
        while (i < n && isNumCat(s.codePointAt(i)))
          i += Character.charCount(s.codePointAt(i))
        out.add(UTF8String.fromString(s.substring(start, i)))
      } else if (cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r') {
        i += 1
      } else {
        val w = Character.charCount(cp)
        out.add(UTF8String.fromString(s.substring(i, i + w)))
        i += w
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size)))
  }

  /** See [[MinHash8]]. Duplicate grams are hashed ONCE (the min over
    * the multiset equals the min over the set): with a small
    * vocabulary a document repeats most grams, and hashing every
    * occurrence 8× regressed the unigram family 1.3× vs the exploded
    * form, whose array_distinct had the same effect. */
  def minhash8(toks: ArrayData, n: Int): ArrayData = {
    val count = toks.numElements() - n + 1
    if (count <= 0) return null
    val bytes = new Array[Array[Byte]](toks.numElements())
    var i = 0
    while (i < bytes.length) {
      bytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = Md5.get()
    val best = new Array[Array[Byte]](8)
    val prefix = new Array[Byte](2)
    prefix(1) = '|'
    val seen = new java.util.HashSet[UTF8String](count * 2)
    var k = 0
    while (k < count) {
      var len = n - 1
      var j = 0
      while (j < n) { len += bytes(k + j).length; j += 1 }
      val gram = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { gram(pos) = ' '; pos += 1 }
        val b = bytes(k + j)
        System.arraycopy(b, 0, gram, pos, b.length)
        pos += b.length
        j += 1
      }
      if (seen.add(UTF8String.fromBytes(gram))) {
        var h = 0
        while (h < 8) {
          prefix(0) = ('0' + h).toByte
          md.reset()
          md.update(prefix)
          md.update(gram)
          val d = md.digest()
          if (best(h) == null || unsignedLt(d, best(h))) best(h) = d
          h += 1
        }
      }
      k += 1
    }
    val out = new Array[AnyRef](8)
    var h = 0
    while (h < 8) { out(h) = hexEncode(best(h)); h += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[Grams]]. */
  def grams(toks: ArrayData, n: Int): ArrayData = {
    val count = toks.numElements() - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[AnyRef](0))
    val bytes = new Array[Array[Byte]](toks.numElements())
    var i = 0
    while (i < bytes.length) {
      bytes(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[AnyRef](count)
    var k = 0
    while (k < count) {
      var len = n - 1
      var j = 0
      while (j < n) { len += bytes(k + j).length; j += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val b = bytes(k + j)
        System.arraycopy(b, 0, buf, pos, b.length)
        pos += b.length
        j += 1
      }
      out(k) = UTF8String.fromBytes(buf)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[SortJoin]]. NULL elements and NULL `v`s are skipped, as
    * array_join skips them; a NULL `k` sorts first, as in array_sort. */
  def sortJoin(arr: ArrayData): UTF8String = {
    val n0 = arr.numElements()
    val kNull = new Array[Boolean](n0)
    val ks = new Array[Long](n0)
    val vs = new Array[UTF8String](n0)
    var n = 0
    var bytes = 0
    var i = 0
    while (i < n0) {
      if (!arr.isNullAt(i)) {
        val st = arr.getStruct(i, 2)
        if (!st.isNullAt(1)) {
          kNull(n) = st.isNullAt(0)
          ks(n) = if (kNull(n)) 0L else st.getLong(0)
          vs(n) = st.getUTF8String(1)
          bytes += vs(n).numBytes()
          n += 1
        }
      }
      i += 1
    }
    if (n > 0) bytes += n - 1
    val idx = new Array[Integer](n)
    i = 0
    while (i < n) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c =
        if (kNull(a) || kNull(b)) java.lang.Boolean.compare(kNull(b), kNull(a))
        else java.lang.Long.compare(ks(a), ks(b))
      if (c != 0) c else vs(a).compareTo(vs(b))
    })
    val out = new Array[Byte](bytes)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { out(pos) = ' '; pos += 1 }
      val v = vs(idx(i))
      v.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += v.numBytes()
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** See [[CountIn]]. Linear membership scan — the sets are ≤ 7
    * entries, below any hash-set crossover. */
  def countIn(arr: ArrayData, members: Array[UTF8String]): Long = {
    val n = arr.numElements()
    var i = 0
    var c = 0L
    while (i < n) {
      val w = arr.getUTF8String(i)
      var k = 0
      while (k < members.length) {
        if (members(k).equals(w)) { c += 1; k = members.length }
        else k += 1
      }
      i += 1
    }
    c
  }

  /** See [[LenSum]]. */
  def lenSum(arr: ArrayData): Long = {
    val n = arr.numElements()
    var i = 0
    var s = 0L
    while (i < n) {
      s += arr.getUTF8String(i).numChars()
      i += 1
    }
    s
  }

  /** See [[Toks]]. One `getBytes` (copies out of shared row buffers;
    * an exactly-sized owned array is returned as-is, which is safe —
    * owned arrays are never mutated), then zero-copy token views. */
  def toks(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val n = b.length
    var i = 0
    var cnt = 0
    var in = false
    while (i < n) {
      if (b(i) == 0x20) in = false
      else { if (!in) cnt += 1; in = true }
      i += 1
    }
    val out = new Array[AnyRef](cnt)
    var k = 0
    i = 0
    while (i < n) {
      if (b(i) == 0x20) i += 1
      else {
        val start = i
        while (i < n && b(i) != 0x20) i += 1
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** See [[WordCounts]]. LinkedHashMap keeps first-occurrence order =
    * array_distinct's key order. */
  def wordCounts(toks: ArrayData)
  : org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
    val n = toks.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Int](n * 2)
    var i = 0
    while (i < n) {
      val w = toks.getUTF8String(i)
      counts.put(w, counts.getOrDefault(w, 0) + 1)
      i += 1
    }
    val keys = new Array[AnyRef](counts.size)
    val vals = new Array[Any](counts.size)
    var k = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys(k) = e.getKey
      vals(k) = e.getValue
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }

  /** See [[LetterCounts]]. */
  def letterCounts(text: UTF8String): ArrayData = {
    val b = text.getBytes
    val counts = new Array[Long](26)
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= 'a' && c <= 'z') counts(c - 'a') += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(counts)
  }

  private def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Unicode White_Space=Yes — the exact predicate of `(?U)\s` (Java
    * UNICODE_CHARACTER_CLASS mode), NOT `Character.isWhitespace` (which
    * excludes NBSP/NNBSP) and NOT `isSpaceChar` (which excludes \t\n).
    * Exhaustively checked against the regex over the whole BMP in
    * WikiTextProps. */
  def isWsU(cp: Int): Boolean =
    (cp >= 0x9 && cp <= 0xd) || cp == 0x20 || cp == 0x85 || cp == 0xa0 ||
      cp == 0x1680 || (cp >= 0x2000 && cp <= 0x200a) || cp == 0x2028 ||
      cp == 0x2029 || cp == 0x202f || cp == 0x205f || cp == 0x3000

  /** See [[CollapseWs]]: first whitespace char of each run wins. */
  def collapseWs(text: UTF8String): UTF8String = {
    val s = text.toString
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    var inRun = false
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isWsU(cp)) {
        if (!inRun) out.appendCodePoint(cp)
        inRun = true
      } else {
        out.appendCodePoint(cp)
        inRun = false
      }
      i += Character.charCount(cp)
    }
    UTF8String.fromString(out.toString)
  }

  /** Parse a '48-57,97-122' range spec (empty → no ranges). */
  def parseRanges(spec: String): (Array[Int], Array[Int]) = {
    val parts = spec.split(',').map(_.trim).filter(_.nonEmpty)
    val pairs = parts.map { p =>
      val Array(lo, hi) = p.split('-').map(_.trim.toInt)
      require(lo <= hi, s"graft_char_filter: bad range $p")
      (lo, hi)
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** See [[CharFilter]]: empty ranges are a NO-OP in both modes
    * (matching etl.WikiText.filterChars). */
  def charFilter(text: UTF8String, los: Array[Int], his: Array[Int],
                 keepInside: Boolean): UTF8String = {
    if (los.length == 0) return text
    val s = text.toString
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      var inside = false
      var k = 0
      while (!inside && k < los.length) {
        inside = cp >= los(k) && cp <= his(k)
        k += 1
      }
      if (inside == keepInside) out.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    UTF8String.fromString(out.toString)
  }

  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** See [[SimHash64]]. Tokenization matches
    * `filter(split(text, ' '), x -> x <> '')` (single-space split,
    * empties dropped), shingles are DISTINCT 4-token windows joined by
    * one space, and the bit/digit mapping is the portable SQL twin's:
    * contribution of shingle s to bit j is ±1 by bit (j%4) of
    * md5-hex-digit (j/4), band b = bits [16b, 16b+16) low-to-high. */
  def simhash64(text: UTF8String): ArrayData = {
    val toks = text.toString.split(' ').filter(_.nonEmpty)
    if (toks.length < 4) return null
    val seen = new java.util.HashSet[String]()
    val sums = new Array[Int](64)
    val md = Md5.get()
    var k = 0
    while (k <= toks.length - 4) {
      val shingle = s"${toks(k)} ${toks(k + 1)} ${toks(k + 2)} ${toks(k + 3)}"
      if (seen.add(shingle)) {
        md.reset()
        val dig = md.digest(shingle.getBytes("UTF-8"))
        var i = 0
        while (i < 8) { // first 16 hex digits = first 8 md5 bytes
          val hi = (dig(i) >> 4) & 0xf
          val lo = dig(i) & 0xf
          val base = i * 8
          sums(base) += (hi & 1) * 2 - 1
          sums(base + 1) += ((hi >> 1) & 1) * 2 - 1
          sums(base + 2) += ((hi >> 2) & 1) * 2 - 1
          sums(base + 3) += ((hi >> 3) & 1) * 2 - 1
          sums(base + 4) += (lo & 1) * 2 - 1
          sums(base + 5) += ((lo >> 1) & 1) * 2 - 1
          sums(base + 6) += ((lo >> 2) & 1) * 2 - 1
          sums(base + 7) += ((lo >> 3) & 1) * 2 - 1
          i += 1
        }
      }
      k += 1
    }
    val bands = new Array[Long](4)
    var b = 0
    while (b < 4) {
      var v = 0L
      var i = 0
      while (i < 16) {
        if (sums(b * 16 + i) > 0) v |= 1L << i
        i += 1
      }
      bands(b) = v
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(bands)
  }
}
