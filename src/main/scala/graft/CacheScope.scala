package graft

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Explicit release handle for the frames operators persist for
  * intra-query reuse (LSH signatures, shingle sets, edge lists …).
  *
  * The dedup/similarity operators persist a frame when two consumers in
  * the SAME query plan read it (e.g. both sides of a candidate self-join);
  * the cache must outlive plan CONSTRUCTION and drain during the caller's
  * materializing action, so the operator itself can never unpersist.
  * Verify/Bench release with a blanket `spark.catalog.clearCache()` per
  * query, but a library consumer embedding one operator in a larger job
  * must not nuke the whole application cache. This is the scoped
  * alternative:
  *
  * {{{
  *   val pairs = CacheScope.withScope {
  *     Dedup.ppjoin(spark, dir).collect()   // sized-frame cache drains here
  *   }                                       // … and is unpersisted here
  * }}}
  *
  * Outside any scope, `tracked` is persist-only — exactly the old
  * behavior, with the session owner's clearCache as the release. Scopes
  * nest (a scope releases only its own frames) and are thread-local,
  * matching Spark's thread-confined plan construction.
  */
object CacheScope {

  private val active = new ThreadLocal[mutable.Buffer[Dataset[_]]]

  /** Persist `ds` (MEMORY_AND_DISK — every tracked frame is an
    * intermediate far smaller than its input, but "memory only" would
    * silently recompute under pressure) and register it with the
    * innermost scope, if one is open. Designed for `.transform(...)`
    * chaining. */
  def tracked[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    Option(active.get()).foreach(_ += p)
    p
  }

  /** Persist `ds` AND truncate its logical lineage (eager
    * `localCheckpoint`). The staged pipelines chain 12+ stages where
    * almost every seam has two consumers (self-joins, audit counts), so
    * the LOGICAL tree doubles per stage — by the pack commit the plan
    * held >300k operator nodes and every action paid 15-50 s of pure
    * driver-side analysis/canonicalization on a plan whose data was
    * already cached (round-17 profile: staging a 150-row frame =
    * 35 s). Guide §3.3: materialize an intermediate to truncate the
    * plan. Downstream plans see a leaf scan of the materialized
    * partitions — same rows, same partitioning as the cache, O(stage)
    * plan size instead of O(2^stages).
    *
    * Release at scope exit unpersists the checkpointed RDD (reached
    * through the LogicalRDD leaf); Spark's ContextCleaner remains the
    * backstop for anchors created outside any scope. */
  def anchored[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    Option(active.get()).foreach(_ += cp)
    cp
  }

  /** Free the storage a tracked or anchored frame owns: its cache, or
    * the checkpointed RDD at the root of its plan. A LogicalRDD deeper
    * in the plan is another frame's anchor — possibly one an enclosing
    * scope still reads — and is left to its owner. */
  private def release(ds: Dataset[_]): Unit = {
    try ds.unpersist() catch { case _: Throwable => () }
    try ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case _ => ()
    } catch { case _: Throwable => () }
  }

  /** Run `body`; afterwards unpersist every frame tracked inside it
    * (blocking=false: release is async, correctness never depends on it).
    * Unpersisting a frame the body already released is a harmless
    * no-op, so iterative operators may still unpersist superseded
    * intermediates eagerly inside a scope.
    *
    * Release order is REVERSE registration order — dependents before
    * their inputs. Operators tracked frames in build order, and each
    * later frame's plan reads the earlier caches; Spark's non-cascading
    * uncache (SPARK-24596) re-compiles every still-cached plan that
    * references the one being dropped, so FIFO release re-canonicalized
    * and re-built the InMemoryRelations of an N-deep chain N²/2 times —
    * measured at 16-23 s of pure driver work per e23 wave (round 17).
    * LIFO release finds zero cached dependents at every step. */
  def withScope[T](body: => T): T = {
    val outer = active.get()
    val buf = mutable.Buffer.empty[Dataset[_]]
    active.set(buf)
    try body
    finally {
      buf.reverseIterator.foreach(release)
      active.set(outer)
    }
  }
}
