package graft.etl

import scala.annotation.tailrec

/** Wiki-markup text cleaning — the Spark-side port of the reference's
  * `WikiBodyFilter` pipeline (`/root/reference/filters.py:52-64`) plus the
  * gensim `remove_markup` semantics it delegates to
  * (`/root/reference/filters.py:58`; pass order per SURVEY.md §7.6).
  *
  * Pure `String => String` functions: registered as a Scala UDF for
  * `q_wiki_clean`, unit-tested against golden fixtures (FIXTURES.md §3).
  * Kept allocation-light (single StringBuilder passes for the scanner
  * stages) so the UDF stays cheap inside a narrow map at scale — the one
  * non-codegen'd hot-path op in the engine.
  */
object WikiText {

  /** Full cleaning pipeline, mirroring `WikiBodyFilter.__call__`
    * (`/root/reference/filters.py:52-64`):
    *   1. lossy utf-8 decode — a no-op on JVM Strings (done at source read)
    *   2. HTML-entity decode (if `removeHtml`) — `filters.py:55-56`
    *   3. markup removal to fixpoint — `filters.py:58`
    *   4. unicode whitelist then blacklist delete — `filters.py:60-61`
    *   5. whitespace collapse, first char wins — `filters.py:48-50,63`
    */
  def cleanWikiBody(
      text: String,
      removeHtml: Boolean = true,
      valid: Seq[(Int, Int)] = Nil,
      invalid: Seq[(Int, Int)] = Nil): String =
    collapseWhitespace(cleanWikiBodyPreCollapse(text, removeHtml, valid, invalid))

  /** Stages 1–4 only (everything before the A5e collapse) — exposed so
    * `q_wiki_clean` can run the collapse as the codegen'd
    * `graft_collapse_ws` expression instead of inside the interpreted
    * UDF (VERDICT r17 #5); `cleanWikiBody == collapseWhitespace ∘ this`
    * by construction. */
  def cleanWikiBodyPreCollapse(
      text: String,
      removeHtml: Boolean = true,
      valid: Seq[(Int, Int)] = Nil,
      invalid: Seq[(Int, Int)] = Nil): String = {
    val t0 = if (text == null) "" else text
    val t1 = if (removeHtml) decodeHtmlEntities(t0) else t0
    val t2 = removeMarkup(t1)
    filterChars(filterChars(t2, valid, keepInside = true), invalid, keepInside = false)
  }

  /** `#REDIRECT [[target]]` — anchored at the start and case-sensitive,
    * preserving the reference's quirks (its `dbfy.py:105,129`):
    * group 1 of a `regexp_extract` is the target, "" for no redirect. The
    * ETL detects redirects with it in `WikiEtl.splitAndClean`. */
  val RedirectRegexSql: String = """^#REDIRECT \[\[([^\]]*)\]\]"""

  // ---------------------------------------------------------------- A5b

  private val NamedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "ndash" -> "–", "mdash" -> "—",
    "hellip" -> "…", "deg" -> "°", "plusmn" -> "±",
    "times" -> "×", "divide" -> "÷", "frac12" -> "½",
    "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "laquo" -> "«", "raquo" -> "»", "middot" -> "·",
    "bull" -> "•", "dagger" -> "†", "sect" -> "§",
    "para" -> "¶", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "prime" -> "′",
    "minus" -> "−", "pound" -> "£", "euro" -> "€",
    "cent" -> "¢", "yen" -> "¥", "szlig" -> "ß",
    "eacute" -> "é", "egrave" -> "è", "agrave" -> "à",
    "ccedil" -> "ç", "ouml" -> "ö", "uuml" -> "ü",
    "auml" -> "ä", "aring" -> "å", "oslash" -> "ø",
    "ntilde" -> "ñ")

  private val EntityPat = """&(#x[0-9a-fA-F]+|#[0-9]+|[a-zA-Z][a-zA-Z0-9]*);""".r

  /** Named + decimal + hex entities → code points; invalid entities are
    * left as-is (gensim `decode_htmlentities` behavior, SURVEY.md §2.3). */
  def decodeHtmlEntities(text: String): String =
    EntityPat.replaceAllIn(text, m => {
      val body = m.group(1)
      val repl: Option[String] =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try {
            val cp = Integer.parseInt(body.substring(2), 16)
            if (Character.isValidCodePoint(cp)) Some(new String(Character.toChars(cp))) else None
          } catch { case _: Exception => None }
        else if (body.startsWith("#"))
          try {
            val cp = Integer.parseInt(body.substring(1))
            if (Character.isValidCodePoint(cp)) Some(new String(Character.toChars(cp))) else None
          } catch { case _: Exception => None }
        else NamedEntities.get(body)
      java.util.regex.Matcher.quoteReplacement(repl.getOrElse(m.matched))
    })

  // ---------------------------------------------------------------- A5c

  private val CommentPat = """(?s)<!--.*?-->""".r
  private val RefPat = """(?s)<ref(\s[^>]*)?>.*?</ref>|<ref(\s[^>]*)?/>""".r
  private val MathPat = """(?s)<math(\s[^>]*)?>.*?</math>""".r
  private val ExtLinkPat = """\[\w+://[^\s\]]*( ([^\]]*))?\]""".r
  private val PipeLinkPat = """\[\[([^\[\]|]*)\|([^\[\]|]*)\]\]""".r
  private val BareLinkPat = """\[\[([^\[\]|]*)\]\]""".r
  private val TagPat = """(?s)<[^<>]*>""".r
  // gensim RE_P14: categories removed ANYWHERE, [cC] only; interlang
  // links are NOT removed inline (they survive as literal `fr:Chose`
  // text via the bare-link pass) — only the trailing footer block goes.
  private val CategoryPat = """\[\[[cC]ategory:[^\]\[]*\]\]""".r
  // gensim RE_P2: the trailing "last list" of language links — one or
  // more lowercase-prefixed `[[xx:Target]]` lines anchored at EOF,
  // removed ONCE before the fixpoint loop.
  private val LangFooterPat = """(\n\[\[[a-z][a-z][\w-]*:[^:\]]+\]\])+$""".r
  private val EmphasisPat = """'{2,}""".r
  private val TableRowPat = """(?m)^\s*(\{\||\|\}|\|-|[|!]).*$""".r

  /** Iterated markup-removal passes until fixpoint (capped), per gensim
    * `remove_markup` called at `/root/reference/filters.py:58` — handles
    * nested templates/file-links via depth scanners, simple constructs
    * via regexes, SURVEY.md §7.6 pass order. */
  def removeMarkup(text: String): String = {
    @tailrec def loop(t: String, iters: Int): String = {
      if (iters >= 30) t
      else {
        val x = markupPass(t)
        if (x == t) t else loop(x, iters + 1)
      }
    }
    // footer first, once — gensim applies RE_P2 before its loop
    loop(LangFooterPat.replaceAllIn(text, ""), 0)
  }

  /** One pass of the markup pipeline (exposed for tests/diagnostics). */
  private[graft] def markupPass(t: String): String = {
    var x = t
    x = CommentPat.replaceAllIn(x, "")
    x = RefPat.replaceAllIn(x, "")
    x = removeBraces(x, "{{", "}}")                 // templates (nested)
    x = removeTables(x)                             // {| ... |} blocks
    x = removeFileLinks(x)                          // [[File:..[[..]]..]]
    x = ExtLinkPat.replaceAllIn(x, m =>
      java.util.regex.Matcher.quoteReplacement(Option(m.group(2)).getOrElse("")))
    x = CategoryPat.replaceAllIn(x, "")
    x = PipeLinkPat.replaceAllIn(x, m =>
      java.util.regex.Matcher.quoteReplacement(m.group(2)))
    x = BareLinkPat.replaceAllIn(x, m =>
      java.util.regex.Matcher.quoteReplacement(m.group(1)))
    x = MathPat.replaceAllIn(x, "")
    x = TagPat.replaceAllIn(x, "")
    x = EmphasisPat.replaceAllIn(x, "")
    x
  }

  /** Completed `open…close` spans of `s` (nesting allowed), merged.
    * Unmatched openers produce NO span — a malformed `{{unclosed` page
    * must not swallow the rest of the article (real dumps contain
    * unbalanced markup; a completed inner pair under an unmatched outer
    * is still removed, converging over the fixpoint loop). */
  private def completedSpans(s: String, open: String, close: String): List[(Int, Int)] = {
    var stack = List.empty[Int]
    var spans = List.empty[(Int, Int)]
    var i = 0
    while (i < s.length) {
      if (s.startsWith(open, i)) { stack ::= i; i += open.length }
      else if (stack.nonEmpty && s.startsWith(close, i)) {
        spans ::= (stack.head, i + close.length)
        stack = stack.tail
        i += close.length
      } else i += 1
    }
    // merge nested/overlapping spans into maximal regions
    spans.sortBy(_._1).foldLeft(List.empty[(Int, Int)]) {
      case ((ps, pe) :: rest, (cs, ce)) if cs <= pe => (ps, math.max(pe, ce)) :: rest
      case (acc, span) => span :: acc
    }.reverse
  }

  private def dropSpans(s: String, spans: List[(Int, Int)], repl: String): String = {
    if (spans.isEmpty) return s
    val out = new StringBuilder(s.length)
    var i = 0
    spans.foreach { case (a, b) =>
      // NB substring, not append(s, i, a): scala.StringBuilder has no
      // 3-arg append — that call auto-tuples into append(Any)
      out.append(s.substring(i, a)).append(repl)
      i = b
    }
    out.append(s.substring(i))
    out.toString
  }

  /** Depth-balanced `open…close` removal (templates `{{…}}` with nesting
    * `{{a|{{b}}}}` — the scanner the reference gets from gensim's
    * `remove_template`, cited at SURVEY.md §7.3). */
  private[etl] def removeBraces(s: String, open: String, close: String): String =
    dropSpans(s, completedSpans(s, open, close), "")

  /** `{| … |}` table blocks → single newline; leftover row/cell markers
    * on their own lines dropped by TableRowPat afterwards. */
  private[etl] def removeTables(s: String): String = {
    val noBlocks = removeBlock(s, "{|", "|}", "\n")
    TableRowPat.replaceAllIn(noBlocks, "")
  }

  private def removeBlock(s: String, open: String, close: String, repl: String): String =
    dropSpans(s, completedSpans(s, open, close), repl)

  /** `[[File:…]]` / `[[Image:…]]` with nested `[[links]]` inside — the
    * bracket-depth scanner of SURVEY.md §7.6 step 3. Only COMPLETED
    * file links are removed; an unterminated `[[File:` stays literal
    * (and the generic tag/link passes clean up what they can). */
  private[etl] def removeFileLinks(s: String): String = {
    var spans = List.empty[(Int, Int)]
    var i = 0
    while (i < s.length) {
      if (s.startsWith("[[", i) &&
          (s.regionMatches(true, i + 2, "File:", 0, 5) ||
            s.regionMatches(true, i + 2, "Image:", 0, 6))) {
        var depth = 1
        var j = i + 2
        while (j < s.length && depth > 0) {
          if (s.startsWith("[[", j)) { depth += 1; j += 2 }
          else if (s.startsWith("]]", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        if (depth == 0) { spans ::= (i, j); i = j }
        else i += 2 // unterminated: keep literal, continue after `[[`
      } else i += 1
    }
    dropSpans(s, spans.reverse, "")
  }

  // ---------------------------------------------------------------- A5d

  /** Unicode range filter. `keepInside=true` = whitelist (delete chars
    * OUTSIDE the ranges); `false` = blacklist (delete members). Empty
    * ranges → no-op, matching `/root/reference/filters.py:25-46`. */
  def filterChars(text: String, ranges: Seq[(Int, Int)], keepInside: Boolean): String = {
    if (ranges.isEmpty) return text
    val out = new StringBuilder(text.length)
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val inside = ranges.exists { case (lo, hi) => cp >= lo && cp <= hi }
      if (inside == keepInside) out.appendAll(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.toString
  }

  // ---------------------------------------------------------------- A5e

  /** Whitespace-run collapse where the FIRST whitespace char wins:
    * `re.sub(r"(\s)\s*", r"\g<1>", text)` — so `"a\n  b"` → `"a\nb"` but
    * `"a \nb"` → `"a b"` (`/root/reference/filters.py:48-50,63`).
    * Single primitive scan with the exact `(?U)\s` predicate
    * (Unicode White_Space=Yes, so NBSP collapses like in Python 3) —
    * bit-equal to [[collapseWhitespaceRegex]] on arbitrary input
    * (WikiTextProps) and shared with the codegen'd `graft_collapse_ws`
    * expression via [[graft.functions.TextExprs.isWsU]]. */
  def collapseWhitespace(text: String): String = {
    val out = new java.lang.StringBuilder(text.length)
    var i = 0
    var inRun = false
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (graft.functions.TextExprs.isWsU(cp)) {
        if (!inRun) out.appendCodePoint(cp)
        inRun = true
      } else {
        out.appendCodePoint(cp)
        inRun = false
      }
      i += Character.charCount(cp)
    }
    out.toString
  }

  /** The reference regex form of [[collapseWhitespace]] — kept as the
    * property-test twin pinning the scan's semantics. */
  private[graft] def collapseWhitespaceRegex(text: String): String =
    text.replaceAll("(?U)(\\s)\\s*", "$1")
}
