package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative operators, with a RELIABILITY dial.
  *
  * Every iterative operator here ([[graft.operators.DedupClusters]],
  * [[graft.operators.Graph]], [[graft.operators.Bpe]]) must truncate
  * lineage as it loops or the plan grows by a few shuffles per round.
  * `localCheckpoint` does that by storing blocks on EXECUTORS — cheapest,
  * but on a real cluster an executor loss mid-iteration kills the job
  * (the blocks are the only copy of the truncated history). The
  * deployment answer is a reliable `checkpoint` to a fault-tolerant
  * directory (HDFS/object store): slower per round, survives any
  * executor loss. Which one is a per-call choice, not a code change —
  * pass `checkpointDir = Some(dir)` to any iterative operator and every
  * in-loop truncation goes through the reliable path.
  *
  * DataFrame loops truncate eagerly by default; the RDD form is lazy
  * and the round's own action materializes it. Either way a round is
  * materialized before the driver reads it, so the two modes produce
  * bit-identical results — asserted by CheckpointDialSpec.
  */
object IterCheckpoint {

  /** The raw dir last installed per context — getCheckpointDir can't
    * serve as the idempotence guard because setCheckpointDir stores a
    * fs-qualified, UUID-suffixed path that never equals the caller's
    * string; comparing against it would re-install (a mkdirs RPC + a
    * fresh UUID subdirectory) on every truncation. */
  private val installed =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, String]()

  /** Truncate `df`'s lineage: reliable `checkpoint()` into `dir` when
    * set (idempotently installing it as the context's checkpoint dir),
    * else `localCheckpoint()`.
    *
    * `eager = true` (the default) materializes NOW — required inside
    * DataFrame iteration loops, where the driver must see the round's
    * result. `eager = false` defers materialization to the first
    * action: the right mode for up-front INPUT truncation (e.g. the
    * graph operators' edge lists), where an eager call would run a
    * full Spark job at DataFrame-CONSTRUCTION time — surprising a
    * caller that only wanted `explain()`. For `localCheckpoint` the
    * blocks live until the wrapping RDD is garbage collected
    * (ContextCleaner then drops them), so repeated constructions are
    * bounded by driver GC. Reliable checkpoint FILES (the Some(dir)
    * branch) are only reclaimed by ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
    * false) — otherwise they accumulate under `dir` until external
    * cleanup, the usual operational contract for checkpoint dirs. */
  def truncate(
      df: DataFrame,
      dir: Option[String],
      eager: Boolean = true): DataFrame = dir match {
    case Some(d) =>
      install(df.sparkSession.sparkContext, d)
      df.checkpoint(eager)
    case None => df.localCheckpoint(eager)
  }

  /** The RDD form of [[truncate]], LAZY: the caller's next action on
    * `rdd` materializes it. The reliable path persists first, so the
    * file write that follows the action reads blocks, not the round. */
  def truncate[T](rdd: RDD[T], dir: Option[String]): RDD[T] = dir match {
    case Some(d) =>
      install(rdd.sparkContext, d)
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
      rdd
    case None => rdd.localCheckpoint()
  }

  private def install(sc: org.apache.spark.SparkContext, dir: String): Unit =
    if (installed.put(sc, dir) != dir) sc.setCheckpointDir(dir)

  /** Release the executor blocks behind a DataFrame previously returned
    * by [[truncate]], once the caller KNOWS the data is dead (a newer
    * round has been eagerly materialized from it and nothing else
    * references it). Without this, an iterative loop leaks one
    * localCheckpoint's blocks per round until driver GC notices — at
    * the 100× soak that accumulation (tens of rounds × corpus-sized
    * edge lists, MEMORY_AND_DISK) is what drove TaskMemoryManager page
    * thrash and a 460 s `dedup_clusters_merge` wall. Walks the plan for
    * the checkpoint-backed RDD and unpersists it (non-blocking);
    * reliable-checkpoint DataFrames are untouched by unpersist (their
    * blocks are files, reclaimed per the cleanCheckpoints contract).
    *
    * DANGER: a localCheckpointed RDD cannot recompute after unpersist
    * (its lineage is gone) — only call on a frame no plan will read
    * again. To make misuse loud instead of corrupting OTHER live
    * checkpoints, this accepts ONLY a bare truncate() result (a plan
    * that IS a single LogicalRDD leaf): a derived frame
    * (`checkpointed.where(...)`) or one whose plan joins a shared
    * truncated input would otherwise unpersist every checkpoint in its
    * tree, and the failure ('Checkpoint block not found') would
    * surface rounds later, far from the bad release call. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    case other => throw new IllegalArgumentException(
      "IterCheckpoint.release expects a bare truncate() result (a single " +
        s"LogicalRDD leaf); got a ${other.nodeName}-rooted plan — releasing " +
        "a derived frame would unpersist every checkpoint in its tree")
  }
}
