package graft

import graft.etl.{WikiEtl, WikiText}
import org.scalacheck.{Gen, Prop, Properties}

/** Property-based cleaning invariants (SURVEY.md §5.2.3), run by sbt's
  * native scalacheck support: cleaning is a fixpoint, leaves no markup,
  * and the whitelist filter's output stays inside the allowed ranges. */
object WikiTextProps extends Properties("WikiText") {

  private val word: Gen[String] = Gen.alphaLowerStr.map(_.take(8)).suchThat(_.nonEmpty)

  private val markupAtom: Gen[String] = Gen.oneOf(
    word,
    word.map(w => s"{{$w}}"),
    Gen.zip(word, word).map { case (a, b) => s"{{$a|x={{$b}}}}" },
    Gen.zip(word, word).map { case (a, b) => s"[[$a|$b]]" },
    word.map(w => s"[[$w]]"),
    word.map(w => s"<ref>$w</ref>"),
    word.map(w => s"<!--$w-->"),
    word.map(w => s"'''$w'''"),
    word.map(w => s"[http://e.io/$w label]"),
    word.map(w => s"[[File:$w.png|thumb|[[x]] cap]]"),
    Gen.const("&amp;"), Gen.const("&#65;"), Gen.const("\n"), Gen.const("  "),
    word.map(w => s"<math>$w^2</math>"),
    word.map(w => s"{|\n|$w\n|}"))

  private val markupText: Gen[String] =
    Gen.listOfN(10, markupAtom).map(_.mkString(" "))

  property("cleaning is idempotent (fixpoint)") = Prop.forAll(markupText) { s =>
    val once = WikiText.cleanWikiBody(s)
    WikiText.cleanWikiBody(once) == once
  }

  property("no template/ref/link markup survives") = Prop.forAll(markupText) { s =>
    val out = WikiText.cleanWikiBody(s)
    !out.contains("{{") && !out.contains("<ref") && !out.contains("[[") &&
      !out.contains("-->") && !out.contains("'''")
  }

  property("whitelist output stays inside allowed ranges") =
    Prop.forAll(Gen.listOf(Gen.choose(0x20, 0x2FF)).map(_.map(_.toChar).mkString)) { s =>
      val out = WikiText.cleanWikiBody(s, valid = Seq((0x20, 0x7e)))
      out.forall(c => c >= 0x20 && c <= 0x7e)
    }

  property("whitespace collapse keeps the first char and never grows") =
    Prop.forAll(Gen.listOf(Gen.oneOf('a', 'b', ' ', '\n', '\t')).map(_.mkString)) { s =>
      val out = WikiText.collapseWhitespace(s)
      out.length <= s.length &&
        !out.sliding(2).exists(p => p.length == 2 &&
          p.forall(_.isWhitespace))
    }

  /** The redirect target the ETL's split (`WikiEtl.splitAndClean`)
    * finds in each page text, in order; None for a content page. */
  private[graft] def redirects(texts: String*): Seq[Option[String]] = {
    val spark = SparkTestBase.session
    import spark.implicits._
    val pages = texts.zipWithIndex.map { case (t, i) => (i.toLong, "t", t) }
    val rdr = WikiEtl.splitAndClean(pages.toDF("aid", "title", "text"),
        removeHtml = true, Nil, Nil).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2)).filter(_.nonEmpty)).toMap
    texts.indices.map(i => rdr(i.toLong))
  }

  property("redirect detection is anchored") = Prop.forAll(word) { w =>
    redirects(s"#REDIRECT [[$w]]", s"x #REDIRECT [[$w]]") == Seq(Some(w), None)
  }

  // ---- recursive bracket-nesting generator (VERDICT r13 #4): arbitrary
  // template/file-link/pipe-link/table nesting INCLUDING unbalanced
  // openers/closers — the shapes real dump pathologies take. Atoms are
  // whole (no split entities), so full-pipeline idempotence is the
  // reference contract and must hold.
  private def nestedGen(depth: Int): Gen[String] =
    if (depth <= 0) word
    else {
      val sub = Gen.lzy(nestedGen(depth - 1))
      Gen.frequency(
        2 -> word,
        2 -> Gen.zip(word, sub).map { case (w, in) => s"{{$w|$in}}" },
        1 -> sub.map(in => s"[[File:f.png|$in]]"),
        1 -> Gen.zip(word, sub).map { case (w, in) => s"[[$w|$in]]" },
        1 -> Gen.zip(word, sub).map { case (w, in) => s"[[$in|$w]]" },
        1 -> sub.map(in => s"<ref>$in</ref>"),
        1 -> sub.map(in => s"'''$in'''"),
        1 -> sub.map(in => s"{|\n|$in\n|}"),
        2 -> Gen.zip(sub, sub).map { case (a, b) => s"$a $b" },
        // unbalanced: stray opener / closer around real content
        1 -> sub.map(in => s"{{$in"),
        1 -> sub.map(in => s"$in}}"),
        1 -> sub.map(in => s"[[File:f.png|$in"),
        1 -> sub.map(in => s"[[$in"))
    }

  private val bracketNested: Gen[String] = Gen.choose(1, 5).flatMap(nestedGen)

  property("bracket-nesting: cleaning is idempotent and never grows") =
    Prop.forAll(bracketNested) { s =>
      val once = WikiText.cleanWikiBody(s)
      WikiText.cleanWikiBody(once) == once && once.length <= s.length
    }

  property("bracket-nesting: balanced markup never survives") =
    Prop.forAll(bracketNested) { s =>
      // completed pairs must always be removed even under stray
      // openers/closers; only the strays themselves may remain
      val out = WikiText.cleanWikiBody(s)
      !out.contains("}}") || !out.contains("{{") ||
        out.lastIndexOf("}}") < out.indexOf("{{")
    }

  // ---- r18: the codegen'd A5e/A5d promotions (VERDICT r17 #5) must be
  // bit-equal to the reference regex/Seq forms on arbitrary input.

  /** arbitrary unicode-ish text heavy in whitespace variety, including
    * the (?U)-only members (NBSP, NNBSP, ideographic space) and
    * supplementary-plane codepoints */
  private val wsHeavy: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\u000b", "\u0085", "\u00a0",
      "\u2007", "\u202f", "\u205f", "\u3000", "\u2028", "\u2029", "\u1680"),
    1 -> Gen.oneOf("é", "Ω", "中", "😀", "𝕏"))).map(_.mkString)

  property("scan collapse == reference regex collapse on arbitrary input") =
    Prop.forAll(wsHeavy) { s =>
      WikiText.collapseWhitespace(s) == WikiText.collapseWhitespaceRegex(s)
    }

  property("isWsU == (?U)\\s exhaustively over the BMP") = Prop {
    val p = java.util.regex.Pattern.compile("(?U)\\s")
    (0 to 0xffff).filterNot(cp => cp >= 0xd800 && cp <= 0xdfff).forall { cp =>
      graft.functions.TextExprs.isWsU(cp) ==
        p.matcher(String.valueOf(cp.toChar)).matches()
    }
  }

  property("charFilter static == WikiText.filterChars, both modes + empty") =
    Prop.forAll(wsHeavy, Gen.oneOf(true, false)) { (s, keep) =>
      import org.apache.spark.unsafe.types.UTF8String
      val ranges = Seq((0x20, 0x7e), (0x2000, 0x206f))
      val (los, his) = (ranges.map(_._1).toArray, ranges.map(_._2).toArray)
      val viaExpr = graft.functions.TextExprs
        .charFilter(UTF8String.fromString(s), los, his, keep).toString
      val viaEtl = WikiText.filterChars(s, ranges, keepInside = keep)
      val emptyNoop = graft.functions.TextExprs
        .charFilter(UTF8String.fromString(s), Array.empty, Array.empty, keep)
        .toString == s
      viaExpr == viaEtl && emptyNoop
    }

  property("cleanWikiBody == collapse ∘ preCollapse (the q_wiki_clean split)") =
    Prop.forAll(markupText) { s =>
      WikiText.cleanWikiBody(s) ==
        WikiText.collapseWhitespace(WikiText.cleanWikiBodyPreCollapse(s))
    }
}
