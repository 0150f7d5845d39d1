package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Process-wide registry for operator-persisted intermediates.
  *
  * Several operators (near-dup detection, k-means) persist
  * linear-in-corpus intermediates their plans consume multiple times;
  * persist() is lazy, so a returned-DataFrame API cannot unpersist before
  * the caller's action. Every persisted intermediate registers here and the
  * caller releases them AFTER consuming the result — narrow (touches only
  * graft's caches), unlike `spark.catalog.clearCache()`.
  *
  * CONTRACT: the registry is process-global, so build-then-release cycles
  * must not interleave — two CONCURRENT graft queries would unpersist each
  * other's in-flight intermediates (correct results, silent recomputation).
  * The sequential Bench/Verify drivers satisfy this; concurrent callers
  * should scope their own lifecycle instead of sharing this registry.
  */
object Caches {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
  private val liveRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]

  /** Persist at MEMORY_AND_DISK (evicted blocks spill rather than
    * recompute) and register for [[releaseAll]]. */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live.add(p)
    p
  }

  /** [[persistTracked]] + EAGER materialization (one count over the
    * persisted plan before it is handed to consumers).
    *
    * Why eager (r18, measured): AQE materializes a plan's INDEPENDENT
    * shuffle stages concurrently (they are submitted as parallel jobs), so
    * a lazily persisted intermediate that feeds several of them is computed
    * once PER CONSUMER STAGE on first use — the block store keeps one copy
    * ("Block rdd_N already exists; not re-adding") but every racing stage
    * pays the full upstream pipeline. JobProbe on the sf0.1 containment
    * gate showed the shingle scan+distinct evaluated three times in
    * parallel (~13 s of task time each) before this fix; at 10M docs the
    * same race re-runs a corpus-sized pipeline per stage. The extra job is
    * one cache-backed count — noise next to the duplicated pipeline.
    * Use for intermediates consumed by ≥ 2 independent downstream stages;
    * keep plain [[persistTracked]] for single-consumer/loop frames where
    * the count job would be pure added latency. */
  def persistEagerTracked(df: DataFrame): DataFrame = {
    val p = persistTracked(df)
    p.count()
    p
  }

  /** Register a persisted RDD (e.g. a `localCheckpoint`'s backing storage,
    * which lives below the CacheManager) for [[releaseAll]]. */
  def trackRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit = liveRdds.add(rdd)

  /** The backing RDD of a `localCheckpoint`ed DataFrame — the handle its
    * block storage is freed through (checkpoint storage lives below the
    * CacheManager, so `unpersist` must hit the RDD itself). Probes the
    * internal LogicalRDD plan node; if a Spark upgrade changes the
    * checkpoint's plan shape this warns LOUDLY instead of silently leaking
    * executor storage for every iterative round (shared by the
    * DedupOps/VectorOps checkpoint loops — keep the probe in one place). */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] = {
    val rdd = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    if (rdd.isEmpty) System.err.println(
      "[graft.Caches] WARNING: no LogicalRDD under a localCheckpoint plan — " +
        "checkpoint block storage will NOT be released (plan shape changed?)")
    rdd
  }

  /** Unpersist every registered intermediate. Plans built from the released
    * DataFrames stay correct (they recompute); a released CHECKPOINT cannot
    * recompute (its lineage is gone), so tracked checkpoint RDDs must only
    * be released after their consumer has materialized — the same
    * consume-then-release contract the DataFrame caches already have. */
  def releaseAll(): Unit = {
    var df = live.poll()
    while (df != null) { df.unpersist(blocking = false); df = live.poll() }
    var rdd = liveRdds.poll()
    while (rdd != null) { rdd.unpersist(blocking = false); rdd = liveRdds.poll() }
  }

  /** Scoped lifecycle: `body` must consume its result eagerly; all
    * registered caches are released on the way out, success or failure. */
  def scoped[T](body: => T): T =
    try body finally releaseAll()
}
