package graft

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage truncation for iterative operators (connected-components,
  * transitive redirect resolution, shared-scan decontamination).
  *
  *   - [[ckpt]] truncates eagerly, [[ckptLazy]] during the first
  *     consuming action; both return a frame whose plan is one
  *     `LogicalRDD` over the persisted blocks.
  *   - [[iterate]] runs a checkpointed loop: each round is one eager
  *     checkpoint that also yields the round's convergence metric, it
  *     frees each superseded round and returns the last one, still
  *     persisted.
  *   - [[release]] frees the checkpoint blocks a frame reads.
  *     `Dataset.unpersist` does not: it is a cache-manager call, and a
  *     checkpoint is not in the cache manager.
  *
  * Who frees what: whoever holds the last frame that reads a checkpoint
  * releases it, once its consumers have run. [[iterate]] frees every
  * round but the last; the caller of `iterate` (or of the operator that
  * returns its result) frees that one, as `WikiEtl.run`'s cleanup does
  * for `Redirects`; a function that checkpoints a frame, writes it and
  * returns `Unit` releases it after the write.
  *
  * Default is `localCheckpoint()`: no HDFS round-trip — right for the
  * single-JVM sandbox. But localCheckpoint stores blocks on executor
  * local store; on a real cluster one lost executor kills the job
  * NON-recoverably because lineage was truncated. At 100 TB, set
  * `spark.graft.checkpointDir` to a reliable (HDFS/S3) path and every
  * iterative operator switches to `checkpoint()` — blocks survive
  * executor loss and the job recomputes nothing on failure.
  *
  * Retention: each hop writes a full dataset copy under the dir, and
  * Spark does NOT delete superseded checkpoints by default. Set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
  * SparkConf, at session build) so the ContextCleaner removes a hop's
  * files once its RDD is unreferenced, or point the dir at
  * lifecycle-managed storage — otherwise a long-running workload grows
  * the dir without bound.
  */
object Checkpoints {
  val ConfKey = "spark.graft.checkpointDir"

  /** Truncate lineage, EAGERLY: one materialization job per call, so
    * every consumer reads the persisted blocks. */
  def ckpt(df: DataFrame): DataFrame = truncate(df, eager = true)

  /** LAZY checkpoint with a NAMED sole consumer (r21/r22, guide
    * §1.2/§2.4): the blocks are persisted DURING the first consuming
    * action instead of by a dedicated materialization job, saving one
    * full pass over the frame per checkpoint (measured 0.26 s per call
    * on the BPE fixpoint corpus at sf0.1). Correct only when that
    * action is the frame's sole consumer and reads it through a SINGLE
    * dependency branch (a count, a sum, a collect): with several
    * concurrent consumer stages in one job — a self-join of the frame,
    * say — the racing map stages each recompute the un-materialized
    * upstream (measured: q_dedup_cluster 2.1 s → 3.2 s when its
    * membership checkpoint went lazy); such a frame needs [[ckpt]]. The
    * direct callers are hashMinLabels' seed, whose label sum (`lblSum`,
    * run on the seed only) materializes it, and the BPE round's top-pair
    * collect. `soleConsumer` names the single consuming action, so a
    * refactor that adds a second concurrent consumer has to touch this
    * call and its named contract.
    * Semantics are unchanged either way: persist() registers the RDD at
    * call time and LocalRDDCheckpointData fills any partitions a
    * partial first action skipped before truncating lineage. */
  def ckptLazy(df: DataFrame, soleConsumer: String): DataFrame = {
    require(soleConsumer.nonEmpty, "ckptLazy requires the sole consumer's name")
    truncate(df, eager = false)
  }

  /** Frees the blocks of every checkpoint `df`'s plan reads: it
    * unpersists the RDD of each `LogicalRDD` leaf (for a frame built
    * from an RDD that was never persisted, a no-op). Call it once every
    * consumer of those blocks has run; a later action on a frame that
    * reads them fails (local checkpoint) or re-reads the files
    * (reliable checkpoint). */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves()
      .collect { case r: LogicalRDD => r.rdd }.foreach(_.unpersist(blocking = false))

  /** A checkpointed loop: round k is `step(round k−1)`, round 0 being
    * `seed`, and it stops at the first round for which `settled` holds.
    * Returns that round, still persisted: the caller [[release]]s it
    * once its consumers have run.
    *
    * A round is ONE action: the stepped frame observes `metric` (an
    * aggregate column, through `Dataset.observe`) and is materialized
    * by an eager checkpoint, and `settled` is handed the value that
    * checkpoint's job observed. There is no separate convergence count
    * or sum, with its own exchange and result jobs. `step` may read the
    * previous round through any number of branches (join it with
    * itself, say): that round is materialized by then.
    *
    * Once a round is materialized, the round it supersedes is released.
    * The seed is released too, but only when it is itself a checkpoint
    * (its plan is one `LogicalRDD`); a seed that merely reads
    * checkpoints leaves them to the caller.
    *
    * @param metric an aggregate over a round's rows, e.g. `count(p)`; a
    *   round's value is `settled`'s argument (null for a null aggregate)
    * @param maxRounds the most rounds the loop may take; if round
    *   `maxRounds` is not settled, its blocks are released and an
    *   IllegalStateException naming `name` is thrown
    */
  def iterate(seed: DataFrame, maxRounds: Int, name: String)(
      step: DataFrame => DataFrame)(metric: Column)(settled: Any => Boolean): DataFrame = {
    require(maxRounds >= 1, s"$name: maxRounds must be at least 1, got $maxRounds")
    val seedIsCheckpoint = seed.queryExecution.logical.isInstanceOf[LogicalRDD]
    @tailrec def loop(prev: DataFrame, round: Int): DataFrame = {
      val seen = Observation(s"$name round $round")
      val next = ckpt(step(prev).observe(seen, metric.as("metric")))
      val done = settled(seen.get("metric"))
      if (round > 1 || seedIsCheckpoint) release(prev)
      if (done) next
      else if (round == maxRounds) {
        release(next)
        throw new IllegalStateException(s"$name: not converged after $maxRounds hops")
      } else loop(next, round + 1)
    }
    loop(seed, 1)
  }

  private def truncate(df: DataFrame, eager: Boolean): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir mints a fresh subdirectory per call — set once.
        if (!sc.getCheckpointDir.exists(_.contains(dir)))
          sc.setCheckpointDir(dir)
        df.checkpoint()
      case None =>
        df.localCheckpoint(eager = eager)
    }
  }
}
