package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one materialization point: every materialization in `src/main`
  * (lineage truncation, compute-once reuse, pre-commit pinning) goes
  * through [[truncate]].
  *
  * The mode is decided by the session's checkpoint dir — one deployment
  * flag, no per-operator API change:
  *
  *  - dir UNSET (the default; local[...] runs and the test suite):
  *    `localCheckpoint` — blocks live in executor storage and are
  *    released by the ContextCleaner as soon as the caller drops the
  *    result. An executor loss makes them UNRECOMPUTABLE (the lineage
  *    was truncated), which kills the job — acceptable in a single-JVM
  *    deployment where executor loss means the whole process died
  *    anyway.
  *
  *  - dir SET (`sc.setCheckpointDir(...)` — the cluster deployment):
  *    reliable `checkpoint` — blocks are written to the dir (HDFS /
  *    object store) and survive executor loss, at the cost of one
  *    write+read round-trip per truncation. On a 1000-executor run of
  *    an iterative job this is the difference between "a lost executor
  *    costs one re-read" and "a lost executor kills hour N of N".
  *    NOTE: unlike localCheckpoint blocks, reliable checkpoint FILES
  *    are not reclaimed by the ContextCleaner unless
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true` — an
  *    iterative job leaves one file-set per truncation in the dir, so
  *    the deployment either sets that conf or manages the dir's
  *    lifecycle (both standard cluster practice).
  *
  * Both arms are eager.
  */
object Checkpointing {
  def truncate[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist around the reliable checkpoint: Dataset.checkpoint()'s
      // eager materialization runs the plan once for the count job and
      // then AGAIN inside the checkpoint-file write job — without a
      // persist every truncation pays ~2× the upstream compute (per CC
      // iteration, per index build). The blocks are dropped as soon as
      // the files are written; afterwards reads come from the dir. A
      // dataset the caller already cached keeps its cache.
      val fresh = ds.storageLevel == StorageLevel.NONE
      if (fresh) ds.persist(StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint() finally if (fresh) ds.unpersist()
    } else ds.localCheckpoint()
}
