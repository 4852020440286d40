package graft

import graft.etl.{WikiEtl, WikiXml}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** End-to-end ETL over the mini dump fixture (FIXTURES.md §2): XML →
  * ns-0 filter → redirect split → clean → deterministic ids → resolved
  * articles/bodies matching `/root/reference/sql/init.sql:5-19` shapes. */
class EtlPipelineSpec extends SparkTestBase {
  private lazy val xml = getClass.getResource("/mini-wiki.xml").getPath

  test("page extraction filters namespaces, keeps redirect text, unescapes XML") {
    val all = WikiXml.allPages(spark, xml).collect()
    assert(all.length == 7)
    val pages = WikiXml.pages(spark, xml).collect().map(r => r.getString(0) -> r).toMap
    assert(pages.size == 6 && !pages.contains("Talk:Alpha"))
    assert(pages("Alif").getString(2) == "#REDIRECT [[Alpha]]")
    val alpha = pages("Alpha").getString(2)
    assert(alpha.contains("<ref>cite</ref>")) // XML layer unescaped &lt; → <
    assert(alpha.contains("&amp;co."))        // but &amp;amp; → &amp; only
    assert(pages("Alpha").getLong(1) == 1L)   // page id, not revision id
  }

  test("the dump scan yields at least one input partition per core") {
    // the mini dump is far below Spark's 4 MB minimum file split
    val parts = WikiXml.pages(spark, xml).rdd.getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism, s"$parts partitions")
  }

  test("each ingestion stage is written once in main source") {
    // a second page parser, cleaner call or JDBC plumbing copy drifts
    // from the first silently (two parsers once disagreed on `<ns>0\n</ns>`);
    // comment lines do not count
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "WikiXml.scala"),
      s"the walk from ${Paths.get("src/main/scala").toAbsolutePath} found no engine source")
    val code = files.flatMap(f => Files.readAllLines(f).asScala).filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") || t.startsWith("|")
    }
    def copies(frag: String): Int =
      code.map(l => l.sliding(frag.length).count(_ == frag)).sum
    val once = Seq(
      "(?s)<title>(.*?)</title>", "(?s)<ns>(.*?)</ns>",
      "(?s)<id>([0-9]+)</id>", "(?s)<text[^>]*>(.*?)</text>",
      "WikiText.cleanWikiBody(",
      "WHERE target = ? AND batch_id = ?", "e.addSuppressed(re)")
    once.foreach(frag => assert(copies(frag) == 1, s"$frag: ${copies(frag)} copies, want 1"))
    Seq("def fromRaw", "def toJdbc", "def parseRecord").foreach(frag =>
      assert(copies(frag) == 0, s"$frag: ${copies(frag)} copies, want none"))
  }

  test("bodies: one clean per content page, inside the cached pages, no round-robin shuffle") {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = WikiEtl.run(spark, xml)
    try {
      assert(out.bodies.count() == 1)
      org.apache.spark.SparkTestHooks.drainListenerBus(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      out.cleanup()
    }
    // every node of every executed plan, flagged when it computes a
    // persisted frame's blocks
    def nodes(p: SparkPlan, cached: Boolean): Seq[(SparkPlan, Boolean)] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> cached)
        case q: QueryStageExec => Seq(q.plan -> cached)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan -> true)
        case _ => Nil
      }
      (p -> cached) +: (p.children.map(_ -> cached) ++ inner)
        .flatMap { case (c, k) => nodes(c, k) }
    }
    def cleans(n: SparkPlan): Int = n.expressions
      .map(_.collect { case u: ScalaUDF if u.udfName.contains("cleanWikiBody") => u }.size).sum
    val all = plans.asScala.toSeq.flatMap(nodes(_, cached = false))
    assert(all.exists(_._2) && all.forall { case (n, c) => c || cleans(n) == 0 },
      "a body is cleaned above the persisted pages")
    val perCache = all.collect { case (m: InMemoryTableScanExec, _) =>
      nodes(m.relation.cachedPlan, cached = true).map(n => cleans(n._1)).sum
    }
    assert(perCache.contains(1) && perCache.forall(_ <= 1), perCache)
    assert(!all.exists { case (n, _) => n match {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
      case _ => false
    } }, "the pages are redistributed")
  }

  test("full pipeline: shared bodies, resolved chains, dropped cycles/dead-ends") {
    val out = WikiEtl.run(spark, xml)
    val bodies = out.bodies.collect()
    assert(bodies.length == 1)
    val body = bodies.head.getString(1)
    assert(body.startsWith("Alpha is a letter."))
    assert(body.contains("the next one"))
    assert(body.contains("&co."))
    assert(!body.contains("{{") && !body.contains("[[") && !body.contains("<ref"))

    val articles = out.articles.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // Alpha(aid 1), Alif(aid 2), Aleph(aid 3) share body 1; dense ids by (aid, title)
    assert(articles.toSeq == Seq((1L, 1L, "Alpha", 1L), (2L, 2L, "Alif", 1L), (3L, 3L, "Aleph", 1L)))
  }

  test("redirect pages that share a title each get their own walk's body") {
    // Alpha (1) and Beta (2) are content; two pages titled X (aids 3
    // and 4) redirect to Alpha and Beta
    def page(title: String, id: Int, text: String) =
      s"<page><title>$title</title><ns>0</ns><id>$id</id>" +
        s"<revision><text>$text</text></revision></page>\n"
    val dump = Files.createTempFile("graft-dup-title", ".xml")
    Files.write(dump, ("<mediawiki>\n" + page("Alpha", 1, "Alpha is a letter.") +
      page("Beta", 2, "Beta is a letter.") + page("X", 3, "#REDIRECT [[Alpha]]") +
      page("X", 4, "#REDIRECT [[Beta]]") + "</mediawiki>\n").getBytes("UTF-8"))
    val out = WikiEtl.run(spark, dump.toString)
    try {
      val redirects = out.articles.collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3))).filter(_._2 == "X")
      assert(redirects.toSeq.sorted == Seq((3L, "X", 1L), (4L, "X", 2L)))
    } finally {
      out.cleanup()
      Files.delete(dump)
    }
  }

  test("unicode filter flags flow through the pipeline") {
    val out = WikiEtl.run(spark, xml, removeHtml = true, valid = Seq((0x20, 0x7e)))
    assert(out.bodies.collect().head.getString(1).forall(c => c >= 0x20 && c <= 0x7e))
  }

  test("cleanup releases every block the run persisted, redirect rounds included") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = WikiEtl.run(spark, xml)
    assert(out.bodies.count() == 1 && out.articles.count() == 3)
    out.cleanup()
    // a subset, not equality: the context cleaner may drop an earlier
    // suite's garbage-collected blocks while this test runs
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"still persisted after cleanup: ${leaked.map(sc.getPersistentRDDs)}")
  }

}
