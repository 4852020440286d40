package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded MediaWiki `pages-articles` dump generator.
  *
  * Writes `dump.xml` plus the outcome the ETL must produce on it,
  * computed by the generator's own walk of the redirect graph with the
  * same 20-hop budget `Redirects.resolveTransitive` uses:
  *   - `expected.json`: body/article counts, resolved redirects, dropped
  *     redirects per cause, dropped (malformed) records;
  *   - `redirect_classes.tsv`: `title \t class` per namespace-0 redirect,
  *     class one of `resolved`, `cycle`, `dead_end`, `budget`.
  */
object DumpGen {

  /** @param pages         namespace-0 pages (content + redirects)
    * @param redirectShare share of namespace-0 pages that are redirects
    * @param chainDepth    weights for the length of a resolving chain,
    *                      index 0 = one hop
    * @param cycleShare    share of redirect pages that sit on a cycle
    * @param deadEndShare  share of redirect pages whose walk ends at a
    *                      title that is not a namespace-0 content page
    * @param beyondShare   share of redirect pages placed on chains longer
    *                      than the hop budget
    * @param bodyChars     mean wikitext size of a content page
    * @param markup        probability per paragraph of each markup kind
    * @param otherNs       pages outside namespace 0
    * @param malformed     `<page>` records without title, id or numeric ns
    */
  final case class Params(
      pages: Int,
      redirectShare: Double,
      chainDepth: Seq[Double] = Seq(1.0),
      cycleShare: Double = 0.0,
      deadEndShare: Double = 0.0,
      beyondShare: Double = 0.0,
      bodyChars: Int = 5000,
      markup: Markup = Markup(),
      otherNs: Int = 20,
      malformed: Int = 10)

  final case class Markup(
      template: Double = 0.35, nestedTemplate: Double = 0.25,
      ref: Double = 0.4, table: Double = 0.08, file: Double = 0.1,
      pipeLink: Double = 0.6, entity: Double = 0.3, emphasis: Double = 0.5)

  final case class Expect(
      bodies: Long, articles: Long, redirects: Long, resolved: Long,
      droppedCycle: Long, droppedDeadEnd: Long, droppedBudget: Long,
      droppedRecords: Long, dumpBytes: Long) {
    def toJson: String =
      s"""{"bodies":$bodies,"articles":$articles,"redirects":$redirects,""" +
        s""""resolved":$resolved,"dropped_cycle":$droppedCycle,""" +
        s""""dropped_dead_end":$droppedDeadEnd,"dropped_budget":$droppedBudget,""" +
        s""""dropped_records":$droppedRecords,"dump_bytes":$dumpBytes}"""
  }

  val HopBudget = 20

  private final case class Page(title: String, ns: Int, id: Long, text: String,
                                redirectTo: Option[String])

  /** The whole namespace-0 title graph plus the pages in dump order. */
  private final class Build(p: Params, seed: Long) {
    val rnd = new SplittableRandom(seed)
    val vocab: Array[String] = Array.tabulate(3000)(i => word(new SplittableRandom(seed * 31 + i)))
    var nextId = 10L
    private val used = mutable.HashSet.empty[String]

    def word(r: SplittableRandom): String = {
      val syl = Array("ka", "lo", "mi", "ster", "an", "ve", "ru", "tion", "pa", "del",
        "or", "en", "is", "gra", "mon", "te", "bu", "qui", "nor", "al")
      (0 until 1 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    def w(): String = vocab(rnd.nextInt(vocab.length))
    def title(kind: String): String = {
      var t = ""
      while ({ t = s"${w().capitalize} ${w()} $kind${rnd.nextInt(1000000)}"; used.contains(t) }) ()
      used += t
      t
    }
    def id(): Long = { nextId += 1 + rnd.nextInt(3); nextId }

    def sentence(n: Int): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < n) { if (i > 0) sb.append(' '); sb.append(w()); i += 1 }
      sb.append('.').toString
    }

    def paragraph(links: IndexedSeq[String]): String = {
      val m = p.markup
      val sb = new StringBuilder
      def link(): String = if (links.isEmpty) w() else links(rnd.nextInt(links.length))
      if (rnd.nextDouble() < m.emphasis) sb.append(s"'''${w()} ${w()}''' ")
      sb.append(sentence(8 + rnd.nextInt(14))).append(' ')
      if (rnd.nextDouble() < m.pipeLink) sb.append(s"See [[${link()}|${w()} ${w()}]] and [[${link()}]]. ")
      if (rnd.nextDouble() < m.template) {
        val inner = if (rnd.nextDouble() < m.nestedTemplate)
          s"{{convert|${rnd.nextInt(900)}|km|mi|abbr={{lang|en|${w()}}}}}" else w()
        sb.append(s"{{Infobox ${w()}|name=${w()}|value=$inner|year=${1800 + rnd.nextInt(220)}}} ")
      }
      sb.append(sentence(6 + rnd.nextInt(12))).append(' ')
      if (rnd.nextDouble() < m.ref)
        sb.append(s"""<ref name="r${rnd.nextInt(50)}">{{cite web|url=http://example.org/${w()}|title=${w()} ${w()}}}</ref> """)
      if (rnd.nextDouble() < m.entity)
        sb.append(s"${w()}&nbsp;${w()} &ndash; ${w()} &#233;t&eacute; &amp; ${w()} ")
      if (rnd.nextDouble() < m.file)
        sb.append(s"[[File:${w().capitalize}_${rnd.nextInt(999)}.jpg|thumb|220px|${w()} of [[${link()}]]]] ")
      if (rnd.nextDouble() < m.table)
        sb.append(s"\n{| class=\"wikitable\"\n! ${w()} !! ${w()}\n|-\n| ${w()} || ${rnd.nextInt(9999)}\n|-\n| ${w()} || ${rnd.nextInt(9999)}\n|}\n")
      if (rnd.nextDouble() < 0.1) sb.append(s"<!-- ${w()} ${w()} --> ")
      sb.append(s"[http://example.org/${w()} ${w()} ${w()}] ")
      sb.toString
    }

    def body(chars: Int, links: IndexedSeq[String]): String = {
      val sb = new StringBuilder
      sb.append(s"'''${w().capitalize}''' is a ${w()} ${w()}.\n")
      var sec = 0
      while (sb.length < chars) {
        if (sb.length > chars * sec / 3 && sec < 3) {
          sb.append(s"\n== ${w().capitalize} ${w()} ==\n"); sec += 1
        }
        sb.append(paragraph(links)).append('\n')
      }
      sb.append(s"[[Category:${w().capitalize}]]\n")
      sb.toString
    }
  }

  def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Class of every namespace-0 redirect, by walking its chain the way
    * the reference resolves it: follow targets until a content title is
    * hit; more than `HopBudget` hops, a revisited title, or a title that
    * is neither content nor redirect drops the redirect. */
  def classify(redirects: collection.Map[String, String],
               content: collection.Set[String]): Map[String, String] =
    redirects.keys.map { src =>
      val seen = mutable.HashSet(src)
      var cur = redirects(src)
      var depth = 1
      var cls = ""
      while (cls.isEmpty) {
        if (depth > HopBudget) cls = "budget"
        else if (content.contains(cur)) cls = "resolved"
        else if (seen.contains(cur)) cls = "cycle"
        else redirects.get(cur) match {
          case Some(next) => seen += cur; cur = next; depth += 1
          case None => cls = "dead_end"
        }
      }
      src -> cls
    }.toMap

  def write(p: Params, seed: Long, dir: Path): Expect = {
    Files.createDirectories(dir)
    val b = new Build(p, seed)
    val rnd = b.rnd
    val nRedirects = math.round(p.pages * p.redirectShare).toInt
    val nContent = p.pages - nRedirects
    val contentTitles = Array.fill(nContent)(b.title("a"))
    val otherTitles = Array.tabulate(p.otherNs) { i =>
      Seq("Talk:", "Wikipedia:", "Template:", "Category:")(i % 4) + b.title("o")
    }

    // Redirect groups, drawn until the redirect budget is spent.
    val redirects = mutable.LinkedHashMap.empty[String, String]
    def chain(len: Int, end: String): Unit = {
      val ts = Array.fill(len)(b.title("r"))
      ts.indices.foreach(i => redirects(ts(i)) = if (i + 1 < len) ts(i + 1) else end)
    }
    val depthTotal = p.chainDepth.sum
    def depth(): Int = {
      var x = rnd.nextDouble() * depthTotal
      var i = 0
      while (i < p.chainDepth.length - 1 && x >= p.chainDepth(i)) { x -= p.chainDepth(i); i += 1 }
      i + 1
    }
    while (redirects.size < nRedirects) {
      val left = nRedirects - redirects.size
      val x = rnd.nextDouble()
      if (x < p.cycleShare) {
        val len = math.min(left, 1 + rnd.nextInt(4))
        val ts = Array.fill(len)(b.title("c"))
        ts.indices.foreach(i => redirects(ts(i)) = ts((i + 1) % len))
      } else if (x < p.cycleShare + p.deadEndShare) {
        val end = if (rnd.nextBoolean()) otherTitles(rnd.nextInt(math.max(1, otherTitles.length)))
          else s"Missing ${b.w()} ${rnd.nextInt(1000000)}"
        chain(math.min(left, 1 + rnd.nextInt(3)), end)
      } else if (x < p.cycleShare + p.deadEndShare + p.beyondShare) {
        chain(math.min(left, HopBudget + 1 + rnd.nextInt(10)),
          contentTitles(rnd.nextInt(nContent)))
      } else chain(math.min(left, depth()), contentTitles(rnd.nextInt(nContent)))
    }

    // Pages in dump order: titles shuffled so chains are not adjacent.
    val kinds: Array[(String, Int)] =
      contentTitles.map(_ -> 0) ++ redirects.keys.map(_ -> 1) ++ otherTitles.map(_ -> 2)
    var i = kinds.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1); val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t; i -= 1
    }
    val malformedAt = Array.fill(p.malformed)(rnd.nextInt(kinds.length + 1)).sorted
    val links: IndexedSeq[String] = contentTitles.take(2000).toIndexedSeq

    val dump = dir.resolve("dump.xml")
    val out: Writer = new OutputStreamWriter(
      new BufferedOutputStream(new FileOutputStream(dump.toFile), 1 << 20), StandardCharsets.UTF_8)
    try {
      out.write("<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.10/\" xml:lang=\"en\">\n")
      out.write("  <siteinfo>\n    <sitename>Perfbench</sitename>\n  </siteinfo>\n")
      def page(title: Option[String], ns: String, id: Option[Long], text: String,
               redirect: Option[String]): Unit = {
        out.write("  <page>\n")
        title.foreach(t => out.write(s"    <title>${xmlEscape(t)}</title>\n"))
        out.write(s"    <ns>$ns</ns>\n")
        id.foreach(x => out.write(s"    <id>$x</id>\n"))
        redirect.foreach(r => out.write(s"    <redirect title=\"${xmlEscape(r)}\" />\n"))
        out.write("    <revision>\n")
        id.foreach(x => out.write(s"      <id>${x * 7 + 100000}</id>\n"))
        out.write(s"      <timestamp>2020-01-01T00:00:00Z</timestamp>\n")
        val esc = xmlEscape(text)
        out.write(s"""      <text bytes="${esc.length}" xml:space="preserve">""")
        out.write(esc)
        out.write("</text>\n    </revision>\n  </page>\n")
      }
      def malformed(k: Int): Unit = k % 3 match {
        case 0 => page(None, "0", Some(b.id()), b.sentence(20), None)
        case 1 => page(Some(b.title("m")), "main", Some(b.id()), b.sentence(20), None)
        case _ => page(Some(b.title("m")), "0", None, b.sentence(20), None)
      }
      var m = 0
      kinds.indices.foreach { k =>
        while (m < malformedAt.length && malformedAt(m) == k) { malformed(m); m += 1 }
        val (t, kind) = kinds(k)
        kind match {
          case 0 =>
            val chars = (p.bodyChars * (0.5 + rnd.nextDouble())).toInt
            page(Some(t), "0", Some(b.id()), b.body(chars, links), None)
          case 1 =>
            val dst = redirects(t)
            page(Some(t), "0", Some(b.id()), s"#REDIRECT [[$dst]]\n\n{{R from ${b.w()}}}", Some(dst))
          case _ =>
            val ns = t.takeWhile(_ != ':') match {
              case "Talk" => "1"; case "Wikipedia" => "4"; case "Template" => "10"; case _ => "14"
            }
            page(Some(t), ns, Some(b.id()), b.body(300, links), None)
        }
      }
      while (m < malformedAt.length) { malformed(m); m += 1 }
      out.write("</mediawiki>\n")
    } finally out.close()

    val classes = classify(redirects, contentTitles.toSet)
    val tsv = redirects.keys.map(t => s"$t\t${classes(t)}").mkString("", "\n", "\n")
    Files.write(dir.resolve("redirect_classes.tsv"), tsv.getBytes(StandardCharsets.UTF_8))
    def n(c: String) = classes.count(_._2 == c).toLong
    val e = Expect(
      bodies = nContent, articles = nContent + n("resolved"), redirects = redirects.size,
      resolved = n("resolved"), droppedCycle = n("cycle"), droppedDeadEnd = n("dead_end"),
      droppedBudget = n("budget"), droppedRecords = p.malformed, dumpBytes = Files.size(dump))
    Files.write(dir.resolve("expected.json"), e.toJson.getBytes(StandardCharsets.UTF_8))
    e
  }
}
