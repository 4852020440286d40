package graft

import graft.etl.WikiText._
import org.scalatest.funsuite.AnyFunSuite

/** Golden cases from FIXTURES.md §3 pinning the reference semantics
  * (`/root/reference/filters.py:52-64`, `dbfy.py:105,129`), plus
  * idempotence over generated markup (cleaning is a fixpoint). */
class WikiTextSpec extends AnyFunSuite {

  test("template removal, nested") {
    assert(cleanWikiBody("a {{tmpl|x={{inner}}}} b") == "a b")
  }

  test("pipe link keeps label") {
    assert(cleanWikiBody("[[target|label]]") == "label")
  }

  test("bare link keeps target") {
    assert(cleanWikiBody("[[target]]") == "target")
  }

  test("file link with nested link removed entirely") {
    assert(cleanWikiBody("x[[File:x.png|thumb|[[y]] cap]]y") == "xy")
    assert(cleanWikiBody("x[[Image:i.jpg|a|b]]y") == "xy")
  }

  test("external link keeps description") {
    assert(cleanWikiBody("[http://e.com label]") == "label")
    assert(cleanWikiBody("[https://e.com/a_b?q=1 multi word label]") == "multi word label")
  }

  test("ref and comment removal") {
    assert(cleanWikiBody("a<ref name=\"r\">c</ref>b") == "ab")
    assert(cleanWikiBody("a<ref>c</ref>b") == "ab")
    assert(cleanWikiBody("a<ref name=\"x\"/>b") == "ab")
    assert(cleanWikiBody("a<!-- hidden -->b") == "ab")
  }

  test("table block becomes a newline") {
    assert(cleanWikiBody("{| class=\"x\"\n|-\n|cell\n|}") == "\n")
  }

  test("math and leftover tags removed") {
    assert(cleanWikiBody("a<math>x^2</math>b") == "ab")
    assert(cleanWikiBody("a<span class=\"x\">t</span>b") == "atb")
  }

  test("emphasis quotes stripped") {
    assert(cleanWikiBody("'''bold''' and ''italic''") == "bold and italic")
  }

  test("category links removed anywhere, [cC] only (gensim RE_P14)") {
    assert(cleanWikiBody("text [[Category:Letters]]").trim == "text")
    assert(cleanWikiBody("a [[category:letters]] b") == "a b")
    // NOT a category per gensim: uppercase-only match is [cC]ategory
    assert(cleanWikiBody("a [[CATEGORY:letters]] b") == "a CATEGORY:letters b")
  }

  test("interlang links: trailing footer block removed, inline kept (gensim RE_P2)") {
    // the trailing "last list" of language links goes as a block
    assert(cleanWikiBody("text\n[[de:Titel]]\n[[fr:Lettre]]") == "text")
    // inline language links are NOT removed — they survive as literal
    // text once the bare-link pass strips the brackets
    assert(cleanWikiBody("see [[fr:Chose]] here") == "see fr:Chose here")
    // footer targets with a second colon don't match RE_P2 (quirk kept)
    assert(cleanWikiBody("t\n[[de:Wikipedia:X]]") == "t\nde:Wikipedia:X")
  }

  test("entities decode only when removeHtml") {
    assert(cleanWikiBody("&amp; &#65; &#x42;") == "& A B")
    assert(cleanWikiBody("&amp; &#65;", removeHtml = false) == "&amp; &#65;")
    // invalid entities left as-is
    assert(cleanWikiBody("&notareal; x") == "&notareal; x")
  }

  test("whitelist then blacklist order (A5d)") {
    assert(cleanWikiBody("abcλd", valid = Seq((0x20, 0x7e))) == "abcd")
    assert(cleanWikiBody("abc", invalid = Seq((0x00, 0x1f))) == "abc")
    // blacklist applies after whitelist
    assert(cleanWikiBody("abXcd", valid = Seq((0x20, 0x7e)), invalid = Seq(('X'.toInt, 'X'.toInt))) == "abcd")
  }

  test("whitespace collapse keeps FIRST char (A5e quirk)") {
    assert(collapseWhitespace("a\n  b") == "a\nb")
    assert(collapseWhitespace("a \nb") == "a b")
    assert(cleanWikiBody("a\n \t b") == "a\nb")
  }

  test("whitespace collapse is Unicode-aware like Python's \\s (NBSP runs)") {
    // Python 3 re \s matches U+00A0; Java needs (?U) for the same
    assert(collapseWhitespace("a   b") == "a b")
    assert(collapseWhitespace("a  \nb") == "a b")
    // &nbsp; decodes to U+00A0 (name2codepoint), then collapses as ws
    assert(cleanWikiBody("a&nbsp;&nbsp;b") == "a b")
  }

  test("redirect detect: anchored and case-sensitive (A4 quirks)") {
    // through the ETL's redirect split, WikiEtl.splitAndClean
    val Seq(target, midText, lower) = WikiTextProps.redirects(
      "#REDIRECT [[Target]]", "text #REDIRECT [[X]]", "#redirect [[X]]")
    assert(target.contains("Target"))
    assert(midText.isEmpty)
    assert(lower.isEmpty)
  }

  test("unclosed markup never swallows the rest of the article") {
    // malformed dumps are real; an unmatched opener must stay literal
    // (minus what the later tag/emphasis passes legitimately remove),
    // not truncate the text
    assert(cleanWikiBody("a {{unclosed template b c").contains("b c"))
    assert(cleanWikiBody("a {{outer {{inner}} b").contains("b"))
    assert(cleanWikiBody("a {{outer {{inner}} b") == "a {{outer b")
    assert(cleanWikiBody("x [[File:img.png|cap y z").contains("y z"))
    assert(cleanWikiBody("t {| unclosed table u").contains("u"))
  }

  // ---- adversarial goldens from real dump pathologies (VERDICT r13 #4)

  test("template-in-file-in-template removed as one span") {
    assert(cleanWikiBody("a {{t|[[File:x.png|{{inner}}]]}} b") == "a b")
  }

  test("file-in-template-in-file removed across pass interleaving") {
    // the braces scanner fires first ({{t|..}} goes, leaving an empty
    // file-link caption), then the file-link scanner removes the rest
    assert(cleanWikiBody("x[[File:a.png|{{t|[[File:b.png|c]]}}]]y") == "xy")
  }

  test("unclosed <ref ...> tag drops the tag, keeps the text (real dump breakage)") {
    // no </ref> anywhere: RefPat can't match, the generic tag pass
    // removes just the opener — the article text must survive
    assert(cleanWikiBody("a<ref name=\"r\">b c") == "ab c")
    // ref body containing markup still removed when properly closed
    assert(cleanWikiBody("a<ref>{{cite web|url=x}}</ref>b") == "ab")
    assert(cleanWikiBody("a<ref>x<ref/>y</ref>b") == "ab")
  }

  test("unclosed <ref without > stays fully literal") {
    assert(cleanWikiBody("a <ref name=\"r b c") == "a <ref name=\"r b c")
  }

  test("mixed-entity runs decode exactly once (reference order: decode then markup)") {
    // double-encoded entities decode ONE level, like gensim's single
    // decode_htmlentities pass before remove_markup
    assert(cleanWikiBody("&amp;amp;") == "&amp;")
    assert(cleanWikiBody("&#38;#65;") == "&#65;")
    // decode output that FORMS an entity is not re-decoded
    assert(cleanWikiBody("&am&#112;;") == "&amp;")
    // entity-encoded markup becomes real markup and is then removed —
    // the decode-before-markup pass order is observable
    assert(cleanWikiBody("a &lt;ref&gt;x&lt;/ref&gt; b") == "a b")
    // adjacent named entities decode independently
    assert(cleanWikiBody("&times;&divide;&frac12;") == "×÷½")
    // astral-plane numeric entity yields a surrogate pair, not garbage
    assert(cleanWikiBody("&#x1F600;").codePointAt(0) == 0x1F600)
  }

  test("40-deep nested template removes in one scanner pass") {
    val deep = ("{{a|" * 40) + "x" + ("}}" * 40)
    assert(cleanWikiBody(s"pre $deep post") == "pre post")
  }

  test("interleaved unbalanced braces: completed pair goes, strays stay literal") {
    assert(cleanWikiBody("}} {{ }} {{") == "}} {{")
  }

  test("cleaning is idempotent over generated markup (fixpoint property)") {
    val rnd = new scala.util.Random(42)
    val atoms = Vector("word", "x y", "{{t|v}}", "[[a|b]]", "[[c]]", "<ref>r</ref>",
      "<!--c-->", "'''b'''", "&amp;", "&#65;", "[http://u.io lbl]",
      "[[File:f.png|cap]]", "\n", "  ", "{{o|{{i}}}}", "<math>m</math>", "{|\n|c\n|}")
    (1 to 300).foreach { _ =>
      val s = (1 to rnd.nextInt(12) + 1).map(_ => atoms(rnd.nextInt(atoms.size))).mkString(" ")
      val once = cleanWikiBody(s)
      assert(cleanWikiBody(once) == once, s"not idempotent for: $s")
      assert(!once.contains("{{") && !once.contains("<ref") && !once.contains("[["),
        s"markup survived for: $s -> $once")
    }
  }
}
