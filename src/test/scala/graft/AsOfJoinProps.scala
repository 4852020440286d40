package graft

import graft.plans.AsOfJoin
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties}

/** The native as-of exec against an independent in-memory model on
  * ARBITRARY inputs: few keys (forcing collisions), duplicate (key,
  * time) right rows (forcing the tie-break), null keys and times, all
  * three directions, with and without tolerance. Each sample runs a
  * real multi-partition Spark job, so the distribution + ordering
  * requirements and the per-partition merge are what's exercised —
  * not a single-threaded shortcut. */
object AsOfJoinProps extends Properties("AsOfJoin") {

  private lazy val spark = SparkTestBase.session

  case class L(k: Option[Long], t: Option[Long], lid: Long)
  case class R(k: Option[Long], t: Option[Long], rid: Long)

  private val keyGen: Gen[Option[Long]] =
    Gen.frequency(9 -> Gen.chooseNum(0L, 3L).map(Some(_)), 1 -> Gen.const(None))
  // a tight time domain makes exact ties and equal-distance ties common
  private val timeGen: Gen[Option[Long]] =
    Gen.frequency(9 -> Gen.chooseNum(0L, 12L).map(Some(_)), 1 -> Gen.const(None))

  private val rowsGen: Gen[(List[L], List[R])] = for {
    nl <- Gen.chooseNum(0, 25)
    nr <- Gen.chooseNum(0, 25)
    lks <- Gen.listOfN(nl, keyGen); lts <- Gen.listOfN(nl, timeGen)
    rks <- Gen.listOfN(nr, keyGen); rts <- Gen.listOfN(nr, timeGen)
  } yield (
    lks.zip(lts).zipWithIndex.map { case ((k, t), i) => L(k, t, i.toLong) },
    rks.zip(rts).zipWithIndex.map { case ((k, t), i) => R(k, t, i.toLong) })

  /** The semantics, written independently of the exec: right rows with
    * null key/time never match; backward = max (t, rid) among t ≤ lt,
    * forward = min (t, rid) among t ≥ lt, nearest = closer side with
    * exact-distance ties resolving backward; tolerance bounds each
    * side. Returns the matched rid, or None. */
  private def model(l: L, rs: List[R], dir: String, tol: Long): Option[Long] = {
    val cands = for {
      r <- rs; rk <- r.k; rt <- r.t; lk <- l.k; lt <- l.t; if rk == lk
    } yield (rt, r.rid, lt)
    def inTol(d: Long) = tol < 0 || d <= tol
    val bwd = cands.filter { case (rt, _, lt) => rt <= lt && inTol(lt - rt) }
      .sortBy { case (rt, rid, _) => (rt, rid) }.lastOption
    val fwd = cands.filter { case (rt, _, lt) => rt >= lt && inTol(rt - lt) }
      .sortBy { case (rt, rid, _) => (rt, rid) }.headOption
    dir match {
      case "backward" => bwd.map(_._2)
      case "forward"  => fwd.map(_._2)
      case "nearest" => (bwd, fwd) match {
        case (Some((bt, bid, lt)), Some((ft, fid, _))) =>
          Some(if (lt - bt <= ft - lt) bid else fid)
        case (b, f) => b.orElse(f).map(_._2)
      }
    }
  }

  property("native exec == independent model: all directions, ties, nulls, tolerance") =
    Prop.forAll(rowsGen, Gen.oneOf(-1L, 0L, 2L, 5L)) { case ((ls, rs), tol) =>
      import spark.implicits._
      val ldf = ls.toDF("k", "t", "lid").repartition(3)
      val rdf = rs.toDF("rk", "rt", "rid").repartition(3)
      Seq("backward", "forward", "nearest").forall { dir =>
        val got = AsOfJoin.asof(ldf, rdf, "k", "rk", "t", "rt", tol, dir, Seq("rid"))
          .select(col("lid"), col("rid")).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        val want = ls.map(l => l.lid -> model(l, rs, dir, tol)).toMap
        val ok = got == want
        if (!ok) println(s"MISMATCH dir=$dir tol=$tol\n ls=$ls\n rs=$rs\n got=$got\n want=$want")
        ok
      }
    }
}
