package graft

import graft.functions.QuantileSketch
import org.apache.spark.sql.functions._

/** Log-bucketed mergeable quantile sketch: merge-order invariance
  * (merged partials == one sequential pass, bit-exact — the property
  * that makes it an incremental-aggregation citizen), the ≤α relative
  * error guarantee against exact rank elements, and sign/zero/empty
  * edge handling. */
class QuantileSketchSpec extends SparkTestBase {

  private val qexpr = "graft_qsketch(cents, 100, array(2500, 5000, 7500, 9500))"

  private def cents = Tables.load(spark, sfDir, "lineitem")
    .selectExpr("l_returnflag", "CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents")

  test("merged partials == one-shot sketch, bit-exact, any partitioning") {
    QuantileSketch.register(spark)
    // one partition = a single sequential update stream; 32 partitions =
    // a full partial-aggregation merge tree. Counter-addition merge must
    // make them identical to the last bit.
    val one = cents.repartition(1).groupBy("l_returnflag")
      .agg(expr(qexpr).as("ps")).orderBy("l_returnflag")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1))
    val many = cents.repartition(32).groupBy("l_returnflag")
      .agg(expr(qexpr).as("ps")).orderBy("l_returnflag")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1))
    assert(one.toSeq == many.toSeq)
  }

  test("estimates within alpha relative error of exact rank elements") {
    QuantileSketch.register(spark)
    val got = cents.groupBy("l_returnflag").agg(expr(qexpr).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val byFlag = cents.collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((flag, vals) <- byFlag; (qBp, i) <- Seq(2500, 5000, 7500, 9500).zipWithIndex) {
      // same rank convention as the sketch: 0-indexed floor(q*(n-1))
      val exact = vals((qBp.toLong * (vals.length - 1) / 10000L).toInt).toDouble
      val est = got(flag)(i)
      assert(math.abs(est - exact) <= 0.01 * math.abs(exact),
        s"$flag q$qBp: est=$est exact=$exact")
    }
  }

  test("negative values, zeros, and empty input") {
    QuantileSketch.register(spark)
    val df = spark.range(0, 201)
      .selectExpr("'k' AS g", "CAST(id - 100 AS BIGINT) AS cents") // -100..100
    val ps = df.groupBy("g")
      .agg(expr("graft_qsketch(cents, 100, array(0, 2500, 5000, 7500, 10000))").as("ps"))
      .collect().head.getSeq[Double](1)
    // exact elements at those ranks: -100, -50, 0, 50, 100
    val exp = Seq(-100.0, -50.0, 0.0, 50.0, 100.0)
    ps.zip(exp).foreach { case (est, exact) =>
      assert(math.abs(est - exact) <= 0.01 * math.abs(exact) + 1e-9,
        s"est=$est exact=$exact")
    }
    // empty group: NaN per requested quantile, not a crash
    val empty = df.filter("cents > 1000").agg(expr(qexpr).as("ps"))
      .collect().head.getSeq[Double](0)
    assert(empty.length == 4 && empty.forall(_.isNaN))
  }

  test("registered via spark.sql.extensions conf too") {
    // Verify/Bench sessions install GraftExtensions by conf — the
    // builder must resolve there without the explicit register() call.
    val ps = spark.sql(
      "SELECT graft_qsketch(c, 100, array(5000)) FROM VALUES (1L), (2L), (3L) AS t(c)")
      .collect().head.getSeq[Double](0)
    assert(math.abs(ps.head - 2.0) <= 0.02 + 1e-9, ps.mkString(","))
  }

  test("a NULL or non-literal alpha_bp or quantile array is a readable IllegalArgumentException") {
    for (call <- Seq("graft_qsketch(c, NULL, NULL)", "graft_qsketch(c, NULL, array(5000))",
        "graft_qsketch(c, 100, NULL)", "graft_qsketch(c, 100, array(5000, NULL))",
        "graft_qsketch(c, c, array(5000))", "graft_qsketch(c, 100, array(c))")) {
      val e = intercept[IllegalArgumentException] {
        spark.sql(s"SELECT $call FROM VALUES (1), (2) AS t(c)").collect()
      }
      assert(e.getMessage.startsWith("graft_qsketch: "), s"$call: ${e.getMessage}")
    }
  }
}
