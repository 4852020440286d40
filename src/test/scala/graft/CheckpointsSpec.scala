package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkTestHooks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

/** Reliable-checkpoint path (VERDICT r2 "what's missing" #3): when
  * `spark.graft.checkpointDir` is set, the iterative operators truncate
  * lineage via HDFS-style `checkpoint()` instead of executor-local
  * blocks, so a 100 TB run survives executor loss. The spec runs the
  * heaviest iterative query both ways and requires identical results.
  */
class CheckpointsSpec extends SparkTestBase {

  test("q_dedup_cluster is identical under reliable checkpointing, and " +
    "checkpoint files actually land in spark.graft.checkpointDir") {
    val q = SparkEntry.queries("q_dedup_cluster")
    val baseline = q(spark, sfDir).collect().toSeq

    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(Checkpoints.ConfKey, dir.getAbsolutePath)
    try {
      val reliable = q(spark, sfDir).collect().toSeq
      assert(reliable == baseline)
      // checkpoint() must have written RDD block files under the dir
      def countFiles(f: java.io.File): Int =
        if (f.isFile) 1 else Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0)
      assert(countFiles(dir) > 0, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset(Checkpoints.ConfKey)
    }
  }

  test("chaos: lost cached blocks kill localCheckpoint, reliable checkpoint recovers") {
    // the 100 TB failure mode this conf exists for: localCheckpoint
    // truncates lineage AND stores blocks only on executor local store,
    // so losing an executor makes the data non-recomputable. Simulate
    // the loss by unpersisting the checkpointed blocks (the local-mode
    // equivalent of the executor dying) and require the documented
    // behaviors on both paths.
    val df = spark.range(0, 10000, 1, 8).toDF("id")

    val lc = df.localCheckpoint()
    assert(lc.count() == 10000L)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val e = intercept[org.apache.spark.SparkException] { lc.count() }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(chain.contains("Checkpoint block") || chain.contains("not found"),
      s"expected the designed non-recoverable localCheckpoint failure, got:\n$chain")

    // reliable path: blocks gone → recompute reads the checkpoint FILES
    val dir = Files.createTempDirectory("graft-ckpt-chaos").toFile
    spark.conf.set(Checkpoints.ConfKey, dir.getAbsolutePath)
    try {
      val rc = Checkpoints.ckpt(df)
      assert(rc.count() == 10000L)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(rc.count() == 10000L,
        "reliable checkpoint must survive losing every cached block")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("chaos: the CC loop's result survives block loss mid-iteration on the reliable path") {
    // same failure injected INSIDE an iterative operator: run
    // q_dedup_cluster with reliable checkpointing while a background
    // thread repeatedly drops every cached block — per-hop checkpoint
    // files must keep every hop recomputable and the result identical.
    val q = SparkEntry.queries("q_dedup_cluster")
    val baseline = q(spark, sfDir).collect().toSeq
    val dir = Files.createTempDirectory("graft-ckpt-chaos-cc").toFile
    spark.conf.set(Checkpoints.ConfKey, dir.getAbsolutePath)
    @volatile var stop = false
    val chaos = new Thread(() => {
      while (!stop) {
        spark.sparkContext.getPersistentRDDs.values
          .foreach(r => try r.unpersist(blocking = false) catch { case _: Exception => () })
        Thread.sleep(50)
      }
    })
    chaos.setDaemon(true)
    try {
      chaos.start()
      val chaosed = q(spark, sfDir).collect().toSeq
      assert(chaosed == baseline,
        "CC result must be identical under continuous cached-block loss")
    } finally {
      stop = true
      chaos.join()
      spark.conf.unset(Checkpoints.ConfKey)
    }
  }

  test("ckptLazy: lazy persistence with a named sole consumer; raw lazy " +
    "call sites are confined to Checkpoints (VERDICT r21 #7 tripwire)") {
    // semantics: identical frame, blocks persisted by the FIRST action
    // rather than a dedicated job (storage level registered at call time)
    val df = spark.range(0, 1000, 1, 4).toDF("id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lazyDf = Checkpoints.ckptLazy(df, soleConsumer = "the count below")
    val newIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(newIds.nonEmpty, "lazy ckpt must register its RDD at call time")
    assert(lazyDf.count() == 1000L)
    newIds.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    intercept[IllegalArgumentException] { Checkpoints.ckptLazy(df, "") }

    // the single-dependency-branch contract of lazy checkpointing is
    // enforced by the compiler: ckptLazy (which names the sole
    // consumer) is the only way to reach the lazy mode
    assertTypeError("Checkpoints.ckpt(df, eager = false)")
    assertTypeError("Checkpoints.truncate(df, eager = false)")
  }

  test("redirect resolution works under reliable checkpointing") {
    import spark.implicits._
    // a cycle, a dead end, and a chain P0 → … → P21 one hop past the
    // default 20-hop budget: P0 drops, P1..P20 resolve. The chain keeps
    // rows open through all three rounds, each a reliable checkpoint.
    val chain = (0 until 21).map(i => (s"P$i", s"P${i + 1}"))
    val redirects = (Seq(("A", "B"), ("B", "C"), ("L1", "L2"), ("L2", "L1"),
      ("G", "Nowhere")) ++ chain).toDF("src", "dst")
    val content = Seq(("C", 7L), ("P21", 8L)).toDF("title", "bid")
    val dir = Files.createTempDirectory("graft-ckpt2").toFile
    spark.conf.set(Checkpoints.ConfKey, dir.getAbsolutePath)
    try {
      val out = etl.Redirects.resolveTransitive(redirects, content)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(out == (Seq("A" -> 7L, "B" -> 7L) ++ (1 to 20).map(i => s"P$i" -> 8L)).sorted)
    } finally {
      spark.conf.unset(Checkpoints.ConfKey)
    }
  }

  private def rddId(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
  private def isPersisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))
  // halves every value per round: the max of 0..99 reaches 0 in 7 rounds
  private def halve(df: DataFrame): DataFrame =
    df.select((col("v") / 2).cast("long").as("v"))
  private def allZero(df: DataFrame): Boolean = df.agg(max("v")).head().getLong(0) == 0L
  // the same test as a loop's observed metric and its settled check
  private val maxV = max("v")
  private def isZero(observed: Any): Boolean = observed == 0L

  test("iterate keeps only the last round persisted; release frees it") {
    val seed = spark.range(0, 100, 1, 4).toDF("v")
    var rounds = 0
    var last: DataFrame = null
    val kept = persistedBy {
      last = Checkpoints.iterate(seed, maxRounds = 10, name = "halving") { df =>
        rounds += 1
        halve(df)
      }(maxV)(isZero)
    }
    assert(rounds == 7)
    assert(kept == Set(rddId(last)))
    assert(last.count() == 100L && allZero(last))
    Checkpoints.release(last)
    assert(!isPersisted(last))
  }

  test("an iterate round is one checkpoint action, with no separate convergence action") {
    val seed = spark.range(0, 100, 1, 4).toDF("v")
    val actions = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(funcName)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        actions.add(s"failed $funcName")
    }
    SparkTestHooks.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    var rounds = 0
    val last = try {
      val out = Checkpoints.iterate(seed, maxRounds = 10, name = "halving") { df =>
        rounds += 1
        halve(df)
      }(maxV)(isZero)
      SparkTestHooks.drainListenerBus(spark.sparkContext)
      out
    } finally spark.listenerManager.unregister(listener)
    assert(rounds == 7)
    assert(actions.asScala.toSeq == Seq.fill(7)("localCheckpoint"))
    Checkpoints.release(last)
  }

  test("iterate settles an empty loop on its null metric") {
    // an empty plan still delivers its observed row: max over no rows
    import spark.implicits._
    val last = Checkpoints.iterate(Seq.empty[Long].toDF("v"), maxRounds = 1,
      name = "empty")(halve)(maxV)(_ == null)
    assert(last.isEmpty)
    Checkpoints.release(last)
  }

  test("iterate releases a checkpoint seed but not a checkpoint upstream of " +
    "its seed; a loop settling at round maxRounds returns") {
    val upstream = Checkpoints.ckpt(spark.range(0, 8, 1, 2).toDF("v"))
    // 7 → 3 → 1 → 0: settles at round 3
    val last = Checkpoints.iterate(upstream.select(col("v")), maxRounds = 3,
      name = "upstream")(halve)(maxV)(isZero)
    assert(isPersisted(upstream), "the caller's checkpoint was freed")
    Checkpoints.release(last)

    val last2 = Checkpoints.iterate(upstream, maxRounds = 3,
      name = "seeded")(halve)(maxV)(isZero)
    assert(!isPersisted(upstream), "a checkpoint seed is the loop's to free")
    Checkpoints.release(last2)
  }

  test("iterate throws, naming the loop, when round maxRounds is unsettled") {
    val seed = spark.range(0, 100, 1, 4).toDF("v")
    val leaked = persistedBy {
      val e = intercept[IllegalStateException] {
        Checkpoints.iterate(seed, maxRounds = 6, name = "halving to zero")(halve)(maxV)(isZero)
      }
      assert(e.getMessage == "halving to zero: not converged after 6 hops")
    }
    assert(leaked.isEmpty, s"the unsettled rounds leaked: $leaked")
  }

  test("iterate and release under reliable checkpointing") {
    val dir = Files.createTempDirectory("graft-ckpt-iterate").toFile
    spark.conf.set(Checkpoints.ConfKey, dir.getAbsolutePath)
    try {
      val seed = spark.range(0, 100, 1, 4).toDF("v")
      var rounds = 0
      val leaked = persistedBy {
        val last = Checkpoints.iterate(seed, maxRounds = 7, name = "halving") { df =>
          rounds += 1
          halve(df)
        }(maxV)(isZero)
        assert(last.count() == 100L && allZero(last))
        Checkpoints.release(last)
      }
      assert(rounds == 7)
      assert(leaked.isEmpty, s"still persisted: $leaked")
      assert(Files.walk(dir.toPath).iterator.asScala.exists(Files.isRegularFile(_)),
        s"no checkpoint files under $dir")
    } finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("getPersistentRDDs appears in main source only in Bench.scala") {
    // checkpoint blocks are freed through Checkpoints.release, never by
    // diffing the context's persisted-RDD set
    val files = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Checkpoints.scala"),
      s"the walk from ${Paths.get("src/main/scala").toAbsolutePath} found no engine source")
    val users = files.filter(f => new String(Files.readAllBytes(f), "UTF-8")
      .contains("getPersistentRDDs")).map(_.getFileName.toString)
    assert(users == Seq("Bench.scala"))
  }
}
