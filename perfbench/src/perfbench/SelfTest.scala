package perfbench

import graft.etl.WikiEtl
import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal

/** The benchmark's own tests. Run through `python3 perfbench/test.py`;
  * exits non-zero when any test fails. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case NonFatal(e) => failures += 1; println(s"FAIL $name: $e")
      case e: AssertionError => failures += 1; println(s"FAIL $name: ${e.getMessage}")
    }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  /** Every redirect class and record kind, small enough for a unit test. */
  val Tiny = DumpGen.Params(pages = 400, redirectShare = 0.5,
    chainDepth = Seq(5, 2, 1, 1), cycleShare = 0.1, deadEndShare = 0.1, beyondShare = 0.1,
    bodyChars = 300, otherNs = 6, malformed = 6)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val cores = Runtime.getRuntime.availableProcessors()

    test("same seed gives identical dump bytes, another seed does not") {
      val a = DumpGen.write(Tiny, 7, work.resolve("a"))
      DumpGen.write(Tiny, 7, work.resolve("b"))
      DumpGen.write(Tiny, 8, work.resolve("c"))
      def bytes(d: String) = Files.readAllBytes(work.resolve(d).resolve("dump.xml"))
      check(java.util.Arrays.equals(bytes("a"), bytes("b")), "seed 7 twice gave different dumps")
      check(!java.util.Arrays.equals(bytes("a"), bytes("c")), "seeds 7 and 8 gave the same dump")
      check(a.droppedCycle > 0 && a.droppedDeadEnd > 0 && a.droppedBudget > 0,
        s"tiny dump lacks a drop cause: ${a.toJson}")
    }

    test("self time subtracts the union of direct children") {
      def sp(id: Int, parent: Int, s: Long, e: Long) =
        Span(id, s"s$id", parent, 1, s, e, s * 1000000000L, e * 1000000000L, Counters())
      val spans = Seq(sp(1, 0, 0, 10), sp(2, 1, 1, 3), sp(3, 1, 2, 5), sp(4, 1, 7, 8),
        sp(5, 3, 2, 4))
      val self = Trace.selfSeconds(spans)
      check(self(1) == 5.0, s"parent self ${self(1)} != 5")
      check(self(3) == 1.0, s"child self ${self(3)} != 1")
      check(self(5) == 2.0, s"leaf self ${self(5)} != 2")
      check(Trace.covered(0, 10, Seq((1L, 3L), (2L, 5L), (7L, 8L))) == 5, "union of intervals")
    }

    test("a job's layer comes from its call site") {
      val bodies = "graft.etl.WikiEtl$.withDenseId(WikiEtl.scala:33)\n" +
        "graft.etl.WikiEtl$.run(WikiEtl.scala:69)\nperfbench.Driver$.main(Driver.scala:1)"
      val articles = bodies.replace(":69)", ":86)")
      val hop = "graft.Checkpoints$.ckpt(Checkpoints.scala:78)\n" +
        "graft.etl.Redirects$.resolveTransitive(Redirects.scala:74)\n" +
        "graft.etl.WikiEtl$.run(WikiEtl.scala:78)"
      check(Trace.layerOf(bodies).contains("WikiEtl.withDenseId@69"), s"${Trace.layerOf(bodies)}")
      check(Trace.layerOf(hop).contains("Redirects"), s"${Trace.layerOf(hop)}")
      check(Trace.layerOf("perfbench.Driver$.main(Driver.scala:1)").isEmpty, "a stack outside the layers")
      val run = Span(1, "WikiEtl.run", 0, 2, 100, 200, 100000000L, 200000000L, Counters())
      def job(id: Int, l: String, s: Long, e: Long) =
        JobRec(id, Trace.layerOf(l), s, e, Counters(jobs = 1, taskCpuNs = 1000))
      val got = Trace.attribute(run, Seq(job(1, bodies, 100, 120), job(2, hop, 125, 130),
        job(3, hop, 135, 160), job(4, articles, 165, 190), job(5, bodies, 210, 220)))
        .map(s => (s.name, s.startMs, s.endMs, s.counters.jobs, s.parent))
      check(got == Seq(("WikiEtl.withDenseId.bodies", 100L, 120L, 1L, 1),
        ("Redirects", 125L, 160L, 2L, 1), ("WikiEtl.withDenseId.articles", 165L, 190L, 1L, 1)),
        s"attributed spans $got")
    }

    val spark = Driver.session(cores, work)
    try {
      test("generator's expected counts equal WikiEtl.run's output on a tiny dump") {
        val e = DumpGen.write(Tiny, 11, work.resolve("tiny"))
        val o = WikiEtl.run(spark, work.resolve("tiny").resolve("dump.xml").toString)
        val (b, a) = (o.bodies.count(), o.articles.count())
        o.cleanup()
        check(b == e.bodies, s"bodies $b != expected ${e.bodies}")
        check(a == e.articles, s"articles $a != expected ${e.articles}")
      }

      test("a wrong expected count makes failed_ratio non-zero") {
        val e = DumpGen.write(Tiny, 11, work.resolve("tiny"))
        val out = new Driver.Outcome
        val etl = new Driver.Etl(work.resolve("tiny"), e.copy(articles = e.articles + 1), out)
        etl.spark = spark
        etl.tr = new Tracer(spark.sparkContext, new BenchListener, enabled = false)
        graft.etl.MySqlSink.derbyReset(Driver.DerbyUrl, Driver.DerbyUser, Driver.DerbyPassword)
        check(etl.pass().isEmpty, "a pass with a wrong count reported a time")
        val m = PerLayer.metrics(PerLayer.Run(cores, Nil, Nil, Map.empty, Some(e), 1L,
          Seq(1.0), Seq(1.0), Nil, out.attempted, out.failed))
        val ratio = m.collectFirst { case ("failed_ratio", v, _) => v }.get
        check(ratio > 0, s"failed_ratio $ratio with a wrong expected count")
      }
    } finally Driver.stop(spark)

    println(if (failures == 0) "all tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
