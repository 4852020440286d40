package graft

import org.apache.spark.sql.functions._

/** Misra–Gries sketch: exactness when k ≥ distinct values, the heavy-
  * hitter guarantee under eviction, and distributed merge correctness. */
class FreqItemsSpec extends SparkTestBase {
  import spark.implicits._

  test("exact when k >= distinct values, sorted count-desc") {
    val got = Tables.load(spark, sfDir, "events")
      .agg(expr("graft_freq_items(event_type, 8)").as("sk"))
      .select(explode(col("sk"))).select("col.item", "col.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val exact = Tables.load(spark, sfDir, "events")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.toMap == exact)
    assert(got.sortBy { case (s, c) => (-c, s) }.toSeq == got.toSeq)
  }

  test("heavy hitters survive eviction across many partitions") {
    // 10k rows: 'hot' 40%, 'warm' 25%, and 35% spread over 700 cold keys
    val df = spark.range(10000).repartition(16)
      .selectExpr("CASE WHEN id % 10 < 4 THEN 'hot' WHEN id % 10 < 6 THEN 'warm' " +
        "ELSE concat('cold', id % 700) END AS k")
    val items = df.agg(expr("graft_freq_items(k, 4)").as("sk"))
      .select(explode(col("sk"))).select("col.item", "col.cnt")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // guarantee: anything with freq > n/(k+1) = 2000 must be present
    assert(items.map(_._1).contains("hot"), items.mkString(","))
    assert(items.map(_._1).contains("warm"), items.mkString(","))
    assert(items.length <= 4)
    // counts are lower bounds
    val m = items.toMap
    assert(m("hot") <= 4000 && m("warm") <= 2000)
  }
}
