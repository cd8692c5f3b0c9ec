package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Per-iteration lineage truncation for the iterative operators
  * (connected-components label propagation in [[DedupOps.duplicateGroups]]
  * and [[DedupOps.dupClusters]]).
  *
  * Default is `localCheckpoint()` — fast, no configuration — but its
  * blocks are NON-REPLICATED executor memory/disk: on a real cluster,
  * losing one executor mid-iteration kills the whole job because the
  * truncated lineage can't be recomputed. Setting
  * `graft.iter.checkpoint-dir` to a durable path (HDFS/object store)
  * switches every iteration boundary to a RELIABLE `checkpoint()`, the
  * production-grade spelling at 100 TB: any executor can re-read the
  * checkpointed blocks, so iteration state survives node loss. Local
  * runs keep the zero-config fast path.
  *
  * The reliable path persists (DISK_ONLY) before checkpointing so the
  * iteration's lineage is computed ONCE — `checkpoint()` alone runs
  * the plan a second time to write the checkpoint files — and drops
  * the scratch blocks right after. Old per-round checkpoint files are
  * reclaimed by Spark's own
  * `spark.cleaner.referenceTracking.cleanCheckpoints` when enabled;
  * they are bounded per query either way (one labels-frame per round).
  */
private[graft] object IterCheckpoint {

  /** The checkpoint base this object last configured on the context —
    * compared EXACTLY (not by substring) so switching the conf to a
    * parent/sibling path re-points the context. */
  @volatile private var configuredBase: Option[String] = None

  /** Truncate `df`'s lineage eagerly, reliably iff the session sets
    * `graft.iter.checkpoint-dir`. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("graft.iter.checkpoint-dir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        synchronized {
          if (!configuredBase.contains(dir) || sc.getCheckpointDir.isEmpty) {
            sc.setCheckpointDir(dir)
            configuredBase = Some(dir)
          }
        }
        val persisted = df.persist(StorageLevel.DISK_ONLY)
        try persisted.checkpoint()
        finally persisted.unpersist(blocking = false)
      case None => df.localCheckpoint()
    }
  }
}
