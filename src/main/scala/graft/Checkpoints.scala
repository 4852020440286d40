package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative operators (connected-components,
  * transitive redirect resolution, shared-scan decontamination).
  *
  * Default is `localCheckpoint()`: eager, no HDFS round-trip — right for
  * the single-JVM sandbox. But localCheckpoint stores blocks on executor
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
    * on the BPE fixpoint corpus at sf0.1; at 100 TB the saved pass is a
    * full corpus write+re-read). Correct ONLY where the first consuming
    * job reads the frame through a SINGLE dependency branch (a loop hop
    * whose convergence action follows immediately, e.g. hashMinLabels'
    * lblSum, the BPE round's top-pair collect, Redirects' open-row
    * count): with several concurrent consumer stages in one job —
    * q_triangles' 3-way self-join, hashMinLabels' membership read by
    * both sides of the hop — the racing map stages each recompute the
    * un-materialized upstream (measured: q_dedup_cluster 2.1 s → 3.2 s
    * when its membership checkpoint went lazy), so multi-consumer sites
    * use [[ckpt]]. This helper is the ONLY way to reach the lazy mode,
    * and `soleConsumer` names the single consuming action, so a
    * refactor that adds a second concurrent consumer has to touch this
    * call and its named contract. Semantics are unchanged either way:
    * persist() registers the RDD at call time (getPersistentRDDs
    * bookkeeping still sees it) and LocalRDDCheckpointData fills any
    * partitions a partial first action skipped before truncating
    * lineage. */
  def ckptLazy(df: DataFrame, soleConsumer: String): DataFrame = {
    require(soleConsumer.nonEmpty, "ckptLazy requires the sole consumer's name")
    truncate(df, eager = false)
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
