package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Shared eager, lineage-truncating materialization (VERDICT r18 #8 —
  * one helper instead of per-file copies that had started to drift:
  * rfmSegments used a bare `localCheckpoint()` that makes the job
  * unrecoverable to executor loss on a cluster even when a reliable
  * checkpoint dir is configured).
  *
  * Semantics: reliable `checkpoint(eager = true)` when the context has
  * a checkpoint directory (`sc.setCheckpointDir` — files survive
  * executor loss, the posture cluster runs should ALWAYS configure),
  * else `localCheckpoint(eager = true)` (executor-local blocks;
  * cheaper, context-cleaned when the frame is unreferenced, but an
  * executor loss kills the job).
  *
  * Reliable checkpoint files are removed by the context cleaner once the
  * frame is unreferenced: the [[graft.Session]] profile sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (Spark's
  * default keeps them forever). Sessions built elsewhere keep Spark's
  * default.
  *
  * Used when a frame feeds MULTIPLE differently-keyed consumers
  * (exchange reuse cannot dedupe them — dbscan's pair frame, chrF's
  * staged char arrays, the delta of every incremental merge in
  * `SparkDatabase.mergeQuery` and `CopyTask`) or when an iterative loop
  * would otherwise grow an unbounded logical plan (dupClusters, graph
  * rounds).
  */
private[graft] object Stage {
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
