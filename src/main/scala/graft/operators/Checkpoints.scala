package graft.operators

import org.apache.spark.sql.DataFrame

/** Deterministic release for iterative localCheckpoints.
  *
  * `Dataset.localCheckpoint(eager)` persists the materialized blocks
  * but exposes no unpersist handle; a Pregel-style loop therefore
  * accumulates one checkpointed copy of its working set PER ROUND
  * until the ContextCleaner notices the unreferenced RDDs at some
  * future driver GC — nondeterministic, and in practice far too late:
  * the round-6 100× k-core measurement spent 352s vs 216s thrashing R
  * rounds of retained edge-list blocks. Iterative operators instead
  * take a tracked checkpoint and release round t−1 deterministically
  * once round t has materialized.
  *
  * The handle is the checkpointed frame's OWN backing RDD (the
  * LogicalRDD leaf the checkpoint plan consists of, via the
  * graftbridge) — exact even under concurrent checkpointing elsewhere
  * on the SparkContext (e.g. gateway statements), unlike a
  * getPersistentRDDs before/after diff which would capture and later
  * destroy a concurrent computation's unrecomputable blocks.
  */
private[graft] object Checkpoints {

  /** Lazy localCheckpoint plus ONE caller-supplied action over it:
    * the action's job is the first over the marked RDD, so it computes
    * and persists the blocks and yields the result in one pass (k-core's
    * degree histogram, HITS's normalizer). The action must read every
    * partition, or be a no-op that leaves the materializing to the
    * first job reading the frame. release() unpersists exactly this
    * checkpoint's blocks; call it only once nothing will read the frame
    * again (the next iterate is itself materialized, not just derived). */
  def trackedWith[A](df: DataFrame)(action: DataFrame => A)
      : (DataFrame, A, () => Unit) = {
    val out = df.localCheckpoint(false)
    val rdd = org.apache.spark.sql.graftbridge.ColumnBridge.backingRdd(out)
    val result = action(out)
    (out, result, () => rdd.foreach(_.unpersist(blocking = false)))
  }

  /** [[trackedWith]] whose action only materializes: the count of the
    * backing RDD, the same single job an eager localCheckpoint runs. */
  def tracked(df: DataFrame): (DataFrame, () => Unit) = {
    val (out, _, release) = trackedWith(df)(
      org.apache.spark.sql.graftbridge.ColumnBridge.backingRdd(_).foreach(_.count()))
    (out, release)
  }
}
