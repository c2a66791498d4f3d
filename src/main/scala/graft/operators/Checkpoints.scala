package graft.operators

import org.apache.spark.sql.DataFrame

/** Explicit release of superseded `localCheckpoint` snapshots. Iterative
  * operators (BPE training, PageRank, connected components) checkpoint
  * per round to keep lineage flat; without an explicit drop every
  * superseded snapshot stays pinned in the block manager until the
  * ContextCleaner happens to GC it — one corpus/vocab/node-sized RDD per
  * round (the leak BpeSpec's bound pins to zero).
  */
object Checkpoints {

  /** Unpersist the checkpointed RDD(s) backing `df` (no-op on frames that
    * are not local checkpoints). `Dataset.unpersist` cannot do this: it only
    * routes through the CacheManager, where `localCheckpoint` never
    * registers, so the RDD inside the frame's `LogicalRDD` is what must be
    * unpersisted. Only call once nothing will read `df` again — a consumer
    * evaluated after the drop recomputes from a missing block and fails.
    * Blocking: the blocks are gone when the call returns, so no removal
    * outlives it and overlaps the caller's next jobs (an ETL batch's flagged
    * frame is the whole batch's rows).
    */
  def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = true)
    }
}
