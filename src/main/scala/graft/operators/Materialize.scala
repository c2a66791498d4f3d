package graft.operators

import scala.collection.mutable.ListBuffer
import scala.util.DynamicVariable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one module that takes and releases checkpoints, in one of two roles:
  *
  *  - [[frame]]: a SHARED frame, consumed more than once downstream. Spark
  *    has no cross-branch common-subexpression elimination, so a subtree
  *    read by several branches (the LSH shingle sets feed the signature
  *    branch and both verification-join sides; a gate's survivors feed the
  *    output and the index append) would otherwise run once per consumer.
  *    Unlike `persist`, a checkpoint does not register with the cache
  *    manager, so a repeated benchmark epoch cannot hit a stale
  *    cross-query cache. The store is deployment-pluggable through ONE
  *    conf:
  *
  *      spark.graft.materialize.mode = local     (default; localCheckpoint)
  *      spark.graft.materialize.mode = reliable  (Dataset.checkpoint to the
  *        sparkContext checkpoint dir — set it to HDFS/object storage first)
  *
  *    `localCheckpoint` is the right default on local[n] and on clusters
  *    that accept the fault-tolerance trade, but it pins NON-replicated
  *    executor-local blocks with the lineage cut: on a real cluster one
  *    lost executor fails the whole query with no recompute path. Reliable
  *    mode regains that path at the cost of a distributed write+read per
  *    frame — affordable where these sites sit (each frame is consumed 2-4
  *    times, so the write amortizes against the saved recomputes; measure
  *    per deployment).
  *  - [[round]]: a per-round fixpoint snapshot (connected components, BPE,
  *    PageRank) that truncates the loop's lineage. Always `localCheckpoint`,
  *    whatever the mode: a round is superseded within the same query, and
  *    a reliable snapshot per round would write one corpus-sized directory
  *    per round. An executor loss mid-fixpoint still only fails the query —
  *    the driver retries it from the last reliable frame upstream.
  *
  * Both roles are EAGER (construction-time execution — consumers, including
  * plan-only ones like explain, see a materialized scan) and both freeze
  * the producing plan's partition layout; results are identical across
  * modes.
  *
  * Release contract: a checkpoint is released ONLY once nothing reads it
  * again — a consumer evaluated after the release recomputes from a missing
  * block (or deleted file) and fails. An unreleased checkpoint stays pinned
  * until the ContextCleaner happens to GC its RDD, and a reliable one's
  * files stay on disk (Spark deletes them only under
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, after that GC).
  * A batch body runs in [[scoped]], which releases every checkpoint taken
  * inside it, the operators' internal ones included. An explicit [[release]]
  * is left for the two cases a scope cannot express: a loop that frees its
  * superseded rounds, and a function that returns one of its own
  * checkpoints.
  */
object Materialize {
  private[graft] val ModeKey = "spark.graft.materialize.mode"

  /** The checkpoints taken in the innermost open [[scoped]] block. */
  private val scope = new DynamicVariable[Option[ListBuffer[DataFrame]]](None)

  private def taken(df: DataFrame): DataFrame = {
    scope.value.foreach(_ += df)
    df
  }

  def frame(df: DataFrame): DataFrame = taken(
    df.sparkSession.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"$ModeKey=reliable requires sparkContext.setCheckpointDir(<reliable storage>)")
        df.checkpoint()
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be 'local' or 'reliable', got '$other'")
    })

  def round(df: DataFrame): DataFrame = taken(df.localCheckpoint())

  /** Run `body` and then [[release]] every [[frame]] and [[round]] this
    * thread took while it ran, whether it returns or throws. A nested scope
    * releases only its own checkpoints; those taken outside any scope are
    * left alone. A `Dataset` result is refused: it would read checkpoints
    * released on the way out.
    */
  def scoped[T](body: => T): T = {
    val mine = ListBuffer.empty[DataFrame]
    try {
      val out = scope.withValue(Some(mine))(body)
      require(!out.isInstanceOf[Dataset[_]],
        "Materialize.scoped: a Dataset result would outlive its checkpoints")
      out
    } finally mine.foreach(release)
  }

  /** Free the checkpointed RDD(s) behind `df` (no-op on frames that read no
    * checkpoint). `Dataset.unpersist` cannot do this: it only routes through
    * the CacheManager, where a checkpoint never registers, so the RDD inside
    * the frame's `LogicalRDD` is what must be unpersisted. Blocking: the
    * blocks are gone when the call returns, so no removal outlives it and
    * overlaps the caller's next jobs (an ETL batch's flagged frame is the
    * whole batch's rows). A reliable checkpoint's files are deleted too;
    * a local checkpoint names no file, so local mode makes no FS call.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.foreach { rdd =>
      rdd.unpersist(blocking = true)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
}
