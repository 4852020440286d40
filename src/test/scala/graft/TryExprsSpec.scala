package graft

import org.apache.spark.sql.functions._

/** `graft_try_long` — the non-throwing STRING→BIGINT parse that replaces
  * `try_cast` in q_try_funcs (VERDICT r3 #1: TRY-mode cast constructs a
  * SparkNumberFormatException per failing row, a measured 30× penalty on
  * invalid input). Asserts value-compatibility with try_cast on integral
  * strings, the documented legacy-truncation difference on fractional
  * strings, NULL on overflow/garbage, and that the projection stays
  * inside whole-stage codegen. */
class TryExprsSpec extends SparkTestBase {

  private def tryLong(s: String): Option[Long] = {
    import spark.implicits._
    val r = Seq(Option(s)).toDF("s")
      .select(expr("graft_try_long(s)").as("v")).collect()(0)
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("parses integral strings like try_cast: sign, whitespace, bounds") {
    assert(tryLong("42") == Some(42L))
    assert(tryLong("-42") == Some(-42L))
    assert(tryLong("+7") == Some(7L))
    assert(tryLong("  123  ") == Some(123L))
    assert(tryLong(Long.MaxValue.toString) == Some(Long.MaxValue))
    assert(tryLong(Long.MinValue.toString) == Some(Long.MinValue))
  }

  test("NULL on malformed input, overflow, empty, and null propagates") {
    assert(tryLong("x123") == None)
    assert(tryLong("") == None)
    assert(tryLong("12x3") == None)
    assert(tryLong("9223372036854775808") == None)  // MaxValue + 1
    assert(tryLong("-9223372036854775809") == None) // MinValue - 1
    assert(tryLong(null) == None)
  }

  test("documented legacy-cast difference: fractional strings truncate toward zero") {
    assert(tryLong("42.9") == Some(42L))
    assert(tryLong("-42.9") == Some(-42L))
    assert(tryLong("3.") == Some(3L))
    assert(tryLong("1.2.3") == None) // still validated, not just split on '.'
  }

  test("agrees with try_cast on every integral-or-garbage lineitem value") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(concat(lit("x"), col("l_partkey").cast("string")).as("bad"),
        col("l_partkey").cast("string").as("good"))
    val diff = li.select(
        expr("graft_try_long(bad)").as("gb"),
        expr("try_cast(bad AS BIGINT)").as("tb"),
        expr("graft_try_long(good)").as("gg"),
        expr("try_cast(good AS BIGINT)").as("tg"))
      .filter(!(col("gb") <=> col("tb")) || !(col("gg") <=> col("tg")))
    assert(diff.count() == 0)
  }

  test("projection stays inside whole-stage codegen") {
    // over a parquet scan, not a literal relation — ConvertToLocalRelation
    // would pre-evaluate the latter on the driver and hide the plan
    val df = Tables.load(spark, sfDir, "lineitem")
      .select(expr("graft_try_long(concat('x', CAST(l_partkey AS STRING)))").as("v"))
    val plan = df.queryExecution.executedPlan.toString
    // the Project carrying graft_try_long must sit under a WholeStageCodegen
    // span ("*(n) Project"), not fall back to interpreted eval
    assert(plan.contains("*(1) Project"), plan)
    assert(df.filter(col("v").isNotNull).count() == 0)
  }

  test("non-string input fails analysis with a clear message") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(1L).toDF("n").select(expr("graft_try_long(n)")).collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_try_long")
      || e.getMessage.toLowerCase.contains("data type mismatch"), e.getMessage)
  }
}
