package graft

import graft.etl.Redirects
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.rng.Seed

/** `Redirects.resolveTransitive` against a driver-side reference walk:
  * the reference's `resolve()` (`dbfy.py:108-121`) over the dicts it
  * resolves through, with the hop budget in the role of Python's
  * recursion limit. Results are compared as multisets, so duplicate
  * `src` rows, self-loop rows and null `src` rows must come out exactly
  * as often as the walk produces them.
  *
  * The dicts are built the way `resolveTransitive` documents them:
  * `min(dst)` per src over non-self edges, `min(bid)` per content title,
  * null keys and null bids left out. Every start row `(src, dst)` walks
  * from its own `dst`. */
object RedirectsProps extends Properties("Redirects") {

  private lazy val spark = SparkTestBase.session

  // every sample runs real Spark jobs: fewer samples than the default,
  // and a fixed seed so a failure reproduces
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30).withInitialSeed(Seed(3L))

  private type Edge = (Option[String], Option[String])
  private type Content = (Option[String], Option[Long])
  private type Out = (Option[String], Long)

  /** The reference walk: a hit is a title in the content dict, reached
    * in at most `maxIters` hops counting the row's own edge. */
  private def walk(edges: Seq[Edge], content: Seq[Content], maxIters: Int): Seq[Out] = {
    val ttl2bid = content.collect { case (Some(t), Some(b)) => t -> b }
      .groupMapReduce(_._1)(_._2)(math.min)
    val next = edges.collect { case (Some(s), Some(d)) if s != d => s -> d }
      .groupMapReduce(_._1)(_._2)((a, b) => if (a < b) a else b)
    @annotation.tailrec
    def resolve(ttl: String, hopsLeft: Int): Option[Long] = ttl2bid.get(ttl) match {
      case hit @ Some(_) => hit
      case None if hopsLeft == 0 => None
      case None => next.get(ttl) match {
        case Some(n) => resolve(n, hopsLeft - 1)
        case None => None
      }
    }
    if (maxIters < 1) Nil
    else edges.flatMap { case (src, dst) => dst.flatMap(resolve(_, maxIters - 1)).map(src -> _) }
  }

  private def resolved(edges: Seq[Edge], content: Seq[Content], maxIters: Int): Seq[Out] = {
    val s = spark
    import s.implicits._
    Redirects.resolveTransitive(edges.toDF("src", "dst"), content.toDF("title", "bid"), maxIters)
      .collect().toSeq.map(r => (Option(r.getString(0)), r.getLong(1)))
  }

  private def matchesWalk(got: Seq[Out], edges: Seq[Edge], content: Seq[Content],
                          maxIters: Int): Prop = {
    val want = walk(edges, content, maxIters).sorted
    Prop(got.sorted == want) :| s"maxIters=$maxIters\n got: ${got.sorted}\nwant: $want"
  }

  /** `hops` edges `name.0 → … → name.<hops>`, the last title content. */
  private def chain(name: String, hops: Int, bid: Long): (Seq[Edge], Seq[Content]) =
    ((0 until hops).map(i => (Some(s"$name.$i"), Some(s"$name.${i + 1}"))),
      Seq((Some(s"$name.$hops"), Some(bid))))

  // a small title universe, so collisions, cycles and self-loops are common
  private val title: Gen[Option[String]] =
    Gen.frequency(12 -> Gen.choose(0, 9).map(i => Some(s"t$i")), 1 -> Gen.const(None))
  private val graph: Gen[(List[Edge], List[Content])] = for {
    ne <- Gen.choose(0, 24)
    edges <- Gen.listOfN(ne, Gen.zip(title, title))
    nc <- Gen.choose(0, 5)
    content <- Gen.listOfN(nc, Gen.zip(title,
      Gen.frequency(8 -> Gen.choose(0L, 20L).map(Some(_)), 1 -> Gen.const(None))))
  } yield (edges, content)

  property("random graphs: same multiset as the reference walk") =
    Prop.forAllNoShrink(graph, Gen.oneOf(0, 1, 2, 3, 4, 10, 20, 28)) {
      case ((edges, content), maxIters) =>
        matchesWalk(resolved(edges, content, maxIters), edges, content, maxIters)
    }

  // fixed graphs run once, when the property is checked (Prop.lzy)
  property("edge cases: budget boundary, cycles, self-loops, duplicates, nulls") =
    Prop.lzy(Prop.all(Seq(0, 1, 2, 4, 10, 20, 28).map { m =>
      val chains = Seq(m - 1, m, m + 1).filter(_ >= 1)
        .map(h => chain(s"c$h", h, 100L + h))
      val edges: Seq[Edge] = chains.flatMap(_._1) ++ Seq(
        // a cycle, and a walk into it
        Some("cyc.a") -> Some("cyc.b"), Some("cyc.b") -> Some("cyc.c"),
        Some("cyc.c") -> Some("cyc.a"), Some("into") -> Some("cyc.a"),
        // self-loops: on a plain title, on content, and beside a real
        // edge whose dst sorts after ("other") and before ("both") the
        // looping title: min(dst) is taken over non-self edges only
        Some("self") -> Some("self"), Some("both") -> Some("both"),
        Some("loop") -> Some("loop"), Some("loop") -> Some("other"),
        Some("to.loop") -> Some("loop"),
        Some("self2") -> Some("self2"), Some("self2") -> Some("both"),
        Some("to.self2") -> Some("self2"),
        // duplicate src rows: each walks its own dst, later hops take
        // the min dst ("dead" < "other"), and an exact duplicate counts twice
        Some("dup") -> Some("other"), Some("dup") -> Some("dead"),
        Some("dup") -> Some("other"), Some("to.dup") -> Some("dup"),
        // content and redirect at once: content wins mid-walk
        Some("both") -> Some("other"), Some("to.both") -> Some("both"),
        // duplicate content titles and a null bid
        Some("to.twice") -> Some("twice"), Some("to.nullbid") -> Some("nullbid"),
        Some("nullbid") -> Some("other"),
        // null src and null dst
        None -> Some("other"), Some("nodst") -> None, None -> None)
      val content: Seq[Content] = chains.flatMap(_._2) ++ Seq(
        Some("both") -> Some(5L), Some("other") -> Some(6L),
        Some("twice") -> Some(9L), Some("twice") -> Some(3L), Some("twice") -> None,
        Some("nullbid") -> None, None -> Some(7L))
      val got = resolved(edges, content, m)
      def hit(src: String) = got.exists(_._1.contains(src))
      matchesWalk(got, edges, content, m) &&
        Prop(m < 1 || hit(s"c$m.0")) :| s"a $m-hop chain resolves at maxIters=$m" &&
        Prop(!hit(s"c${m + 1}.0")) :| s"a ${m + 1}-hop chain drops at maxIters=$m"
    }: _*))

  property("a 1000-hop chain resolves at maxIters = 1000, a 1001-hop chain drops") = Prop.lzy {
    val (e1, c1) = chain("k", 1000, 1L)
    val (e2, c2) = chain("l", 1001, 2L)
    val got = resolved(e1 ++ e2, c1 ++ c2, 1000)
    matchesWalk(got, e1 ++ e2, c1 ++ c2, 1000) &&
      Prop(got.contains(Some("k.0") -> 1L)) :| "k.0 resolves" &&
      Prop(!got.exists(_._1.contains("l.0"))) :| "l.0 drops" &&
      Prop(got.size == 1000 + 1000) :| s"${got.size} rows"
  }
}
