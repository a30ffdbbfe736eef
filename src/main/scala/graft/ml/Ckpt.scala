package graft.ml

import org.apache.spark.sql.DataFrame

/** Lineage cut for iterative / multi-consumer intermediates — the policy
  * seam the round-9 executor-kill experiments forced into the open.
  *
  * Two mechanisms cut lineage, with opposite failure modes:
  *
  *  - `localCheckpoint()`: blocks live on executors with NO lineage —
  *    fast (no files), but an executor death makes every dependent task
  *    fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND and aborts the job
  *    (measured: StreamBench `drift_killexec`, and the batch executor-kill
  *    A/B in SCALING.md "The BATCH surface under executor loss").
  *  - `checkpoint(eager = true)`: materializes to the session's
  *    CHECKPOINT DIRECTORY (HDFS/object store on a cluster) — blocks
  *    rebuild from files on any executor, surviving process death, at
  *    the cost of writing the cut relation out once.
  *
  * [[cut]] picks by deployment: reliable when the session has a
  * checkpoint dir configured, local otherwise. Short-lived single-box
  * runs (the sf oracle gates, local benches) stay on the fast path
  * unchanged; any long-running job sets a checkpoint dir
  * (`spark.sparkContext.setCheckpointDir`, or SPARK_GRAFT_CHECKPOINT_DIR
  * under Bench) and every lineage cut in the library becomes
  * executor-loss-safe — the A/B recorded in SCALING.md "The BATCH
  * surface under executor loss".
  *
  * Reliable-checkpoint files accumulate for the session's lifetime;
  * enable `spark.cleaner.referenceTracking.cleanCheckpoints` (or clear
  * the directory between jobs) in a long-lived deployment.
  *
  * CALLER CONTRACT (block lifetime): a cut relation's blocks back the
  * RETURNED DataFrame, so the operator that cut it cannot free them —
  * they are released only when the caller unpersists them after
  * consuming the result. `Dataset.unpersist` does NOT reach them (the
  * SQL CacheManager never tracked checkpoint RDDs); sweep
  * `spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(...))`
  * once the result is materialized, as Bench.cleanup and Verify do after
  * every query. A long-lived session that calls checkpointing operators
  * (tfidfTerms, perplexity, bigramLm, dsirWeights, the retrieval
  * builds...) without that sweep accumulates localCheckpoint blocks
  * until a driver GC happens to run — the measured 2-3× cross-query
  * drift of OPTIMIZATION_r15.md.
  */
object Ckpt {
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint()

  implicit final class CutOps(private val df: DataFrame) extends AnyVal {
    /** `df.lineageCut` — see [[Ckpt.cut]]. */
    def lineageCut: DataFrame = cut(df)
  }
}
