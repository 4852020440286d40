package graft

import graft.functions.CountMinSketch
import graft.queries.Shingles
import org.apache.spark.sql.functions._

/** Count-Min sketch (graft_cms): merge-order invariance (the property
  * that makes per-shard sketches safe to combine on any cluster
  * topology), conservation, the one-sided error guarantee with the
  * classic e·N/width bound, JVM-vs-SQL hash agreement (the contract the
  * oracle rides on), and serialization. q_agg_cms's DuckDB oracle
  * covers the relational twin; this spec covers what SQL can't see. */
class CmsSpec extends SparkTestBase {

  private def grams = Tables.load(spark, sfDir, "documents")
    .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
    .selectExpr(s"explode(${Shingles.fourGramSql(distinct = false)}) AS word")

  private def sketch(depth: Int, width: Int, parts: Int): Seq[Long] = {
    val g = if (parts == 1) grams.coalesce(1) else grams.repartition(parts)
    g.agg(expr(s"graft_cms(word, CAST(1 AS BIGINT), $depth, $width)").as("m"))
      .head().getSeq[Long](0)
  }

  test("merge is order-invariant: every partition tree yields the identical matrix") {
    val m1 = sketch(3, 256, 1) // sequential single pass
    val m3 = sketch(3, 256, 3)
    val m11 = sketch(3, 256, 11)
    assert(m1 == m3 && m3 == m11,
      "counter matrix depends on the partial-aggregation tree")
  }

  test("every row conserves the total update mass") {
    val n = grams.count()
    val m = sketch(3, 256, 5)
    (0 until 3).foreach { s =>
      assert(m.slice(s * 256, (s + 1) * 256).sum === n, s"row $s lost mass")
    }
  }

  test("estimates never under-estimate; collision error stays under e*N/width") {
    val width = 256
    val m = sketch(3, width, 7)
    val exact = grams.groupBy("word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = math.ceil(math.E * n / width).toLong
    var overCount = 0
    exact.foreach { case (w, c) =>
      val est = (0 until 3)
        .map(s => m(s * width + CountMinSketch.position(s, w, width))).min
      assert(est >= c, s"under-estimate for '$w': $est < $c")
      assert(est - c <= bound, s"'$w' over-estimates by ${est - c} > e*N/W = $bound")
      if (est > c) overCount += 1
    }
    // the test must actually exercise collisions, not vacuously pass
    assert(overCount > 0, s"width $width produced zero collisions — widen the corpus")
  }

  test("JVM position matches the portable SQL md5 digit arithmetic") {
    val words = grams.limit(50).collect().map(_.getString(0)).distinct
    val sqlPos = spark.sql(
      words.map(w => s"'${w.replace("'", "''")}'").mkString(
        "SELECT word, s, ((instr('0123456789abcdef', substr(md5(CAST(concat(CAST(s AS STRING), '|', word) AS BINARY)), 1, 1)) - 1) * 256 + " +
          "(instr('0123456789abcdef', substr(md5(CAST(concat(CAST(s AS STRING), '|', word) AS BINARY)), 2, 1)) - 1) * 16 + " +
          "(instr('0123456789abcdef', substr(md5(CAST(concat(CAST(s AS STRING), '|', word) AS BINARY)), 3, 1)) - 1)) % 1024 AS p " +
          "FROM (SELECT explode(array(", ",", ")) AS word) CROSS JOIN (SELECT explode(sequence(0, 2)) AS s)"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    words.foreach { w =>
      (0 until 3).foreach { s =>
        assert(CountMinSketch.position(s, w, 1024) === sqlPos((w, s)),
          s"JVM/SQL hash divergence for ($s, '$w')")
      }
    }
  }

  test("serialization roundtrips the buffer losslessly") {
    val agg = CountMinSketch(
      org.apache.spark.sql.catalyst.expressions.Literal("x"),
      org.apache.spark.sql.catalyst.expressions.Literal(1L), 2, 64)
    val buf = agg.createAggregationBuffer()
    buf(0) = 42L; buf(63) = Long.MaxValue; buf(64) = -7L; buf(127) = 1L
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.toSeq === buf.toSeq)
  }

  test("width must divide 4096 and depth must be sane") {
    intercept[IllegalArgumentException] {
      CountMinSketch(
        org.apache.spark.sql.catalyst.expressions.Literal("x"),
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 3, 1000)
    }
    intercept[IllegalArgumentException] {
      CountMinSketch(
        org.apache.spark.sql.catalyst.expressions.Literal("x"),
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 0, 1024)
    }
  }

  test("wrongly-typed arguments fail at analysis, not mid-task (ADVICE r15)") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("k", "c")
    df.createOrReplaceTempView("cms_in")
    // integer key: analysis-time type-check failure, not a task CCE
    val eKey = intercept[Exception] {
      spark.sql("SELECT graft_cms(c, c, 2, 64) FROM cms_in").collect()
    }
    assert(eKey.getMessage.toLowerCase.contains("graft_cms") ||
      eKey.getMessage.toLowerCase.contains("data type"), eKey.getMessage)
    // string count: same
    val eCnt = intercept[Exception] {
      spark.sql("SELECT graft_cms(k, k, 2, 64) FROM cms_in").collect()
    }
    assert(eCnt.getMessage.toLowerCase.contains("graft_cms") ||
      eCnt.getMessage.toLowerCase.contains("data type"), eCnt.getMessage)
    // non-literal depth: rejected at registration with a named argument
    val eDepth = intercept[Exception] {
      spark.sql("SELECT graft_cms(k, c, CAST(c AS INT), 64) FROM cms_in").collect()
    }
    assert(eDepth.getMessage.contains("depth"), eDepth.getMessage)
    // INT count still accepted (integral family)
    val ok = spark.sql(
      "SELECT graft_cms(k, CAST(c AS INT), 2, 64) AS m FROM cms_in").collect()
    assert(ok.length == 1)
  }
}
