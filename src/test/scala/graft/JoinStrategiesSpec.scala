package graft

import graft.operators.JoinStrategies
import org.apache.spark.sql.functions._

/** Bucketed co-location and skew salting: correctness (identical rows
  * to the plain join) AND the plan property that makes them matter at
  * scale (no shuffle exchange between bucketed tables). */
class JoinStrategiesSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    JoinStrategies.writeBucketed(
      Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 4)
    JoinStrategies.writeBucketed(
      Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 4)
    // disable auto-broadcast: at real scale neither side broadcasts —
    // the point of bucketing is the shuffle-free sort-merge join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = JoinStrategies.bucketedJoin(spark, "b_orders", "b_lineitem", "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() ==
        Tables.load(spark, sfDir, "lineitem").count()) // FK: every line has an order
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE b_orders"); spark.sql("DROP TABLE b_lineitem")
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    // Salting (below) is the static skew strategy; this pins the
    // DYNAMIC one — AQE's OptimizeSkewedJoin re-plans an oversized
    // partition into parallel sub-reads. One hot key carries ~90% of
    // the left side; thresholds are lowered so the test-scale shuffle
    // qualifies as skewed exactly like a hot key would at 100 TB.
    import spark.implicits._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // payload derives from id (not a constant): it cannot be
      // projected above the join, and md5 text is incompressible, so
      // the hot partition's MapStatus bytes actually read as skewed
      val left = spark.range(100000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          md5(concat(col("id").cast("string"), lit("|pad"))).as("payload"))
      val right = spark.range(20000).select(col("id").as("k"), lit(1L).as("v"))
      // no same-key operator above the join: reusing the join's output
      // partitioning would forbid the skew split (AQE never adds a
      // shuffle to fix skew)
      val joined = left.join(right, "k")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not split the skewed side:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salting shrinks the largest join task under constant-key skew") {
    // the case AQE can NOT fix: a constant hot-key column compresses so
    // well that MapStatus under-reports the partition size, so the skew
    // split never fires (r2 skew spec needed incompressible payloads to
    // make it fire). Static salting is the tool here — measure the
    // actual per-task shuffle-read row counts with a listener and
    // require the hot task to shrink.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.enabled" -> "false",        // no AQE rescue
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000).select(
        when(col("id") % 2 === 0, lit(1L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val right = spark.range(1000).select(col("id").as("k"), lit(1L).as("v"))
      def maxTaskShuffleRecords(df: org.apache.spark.sql.DataFrame): Long = {
        val max = new java.util.concurrent.atomic.AtomicLong(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null)
              max.getAndAccumulate(m.shuffleReadMetrics.recordsRead, math.max)
          }
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          df.write.mode("overwrite").format("noop").save()
          org.apache.spark.SparkTestHooks.drainListenerBus(spark.sparkContext)
        } finally spark.sparkContext.removeSparkListener(listener)
        max.get
      }
      val plainMax = maxTaskShuffleRecords(left.join(right, "k"))
      val saltedMax = maxTaskShuffleRecords(
        JoinStrategies.saltedJoin(left, right, "k", col("payload"), 8))
      // plain: the hot key's 100k rows land in ONE task
      assert(plainMax >= 100000L, s"plain max-task read $plainMax")
      // salted: spread over 8 sub-keys — the hot task must at least halve
      assert(saltedMax * 2 <= plainMax,
        s"salting did not shrink the hot task: salted=$saltedMax plain=$plainMax")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("salted join returns exactly the rows of the plain join") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_linenumber"), col("l_quantity"))
    val o = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    val plain = li.join(o, "k")
    val salted = JoinStrategies.saltedJoin(li, o, "k", col("l_linenumber"), 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }
}
