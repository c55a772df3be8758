package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation shared by the engine's round-based operators
  * ([[Dedup.connectedComponents]]'s star rounds, [[LinkGraph]]'s pointer
  * doubling and PageRank, [[Bpe]]'s merge rounds): ONE definition of the
  * checkpoint policy, so a change to it cannot silently diverge the
  * loops. Each graph operator iterates as DataFrame rounds, truncated
  * here so recovery DAGs stay bounded however many rounds run. */
private[graft] object IterSupport {

  /** Truncate an RDD round's lineage: reliable `checkpoint` when the
    * session has a checkpoint dir (cluster posture — survives executor
    * loss), else `localCheckpoint`. Persist first on the reliable path: a
    * reliable checkpoint otherwise recomputes the round in a second job
    * when it writes the checkpoint files. Materializes in the caller's
    * next action. */
  def truncateRdd[T](rdd: RDD[T], reliable: Boolean): RDD[T] = {
    if (reliable) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd
  }

  /** The DataFrame twin of [[truncateRdd]] (non-eager: execution rides
    * the caller's next action — plan COMPILATION still happens at call
    * time, so each truncation costs one driver-side plan compile). Persist
    * first on the reliable path for the same reason truncateRdd does: a
    * reliable checkpoint otherwise recomputes the lineage a second time
    * when it writes the checkpoint files, and with the default
    * checkpointAllMarkedAncestors=false an INTERMEDIATE marked level that
    * the outermost checkpoint shadows would stay unmaterialized entirely —
    * every later read of a stored PageRank level would then re-run its
    * lineage back to the raw edges (localCheckpoint persists on its own). */
  def truncateDf(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df.checkpoint(eager = false)
    } else df.localCheckpoint(eager = false)
}
