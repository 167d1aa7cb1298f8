package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Tracks intermediates a query `persist()`ed so the session can release
  * them deterministically once the query's action completes.
  *
  * Why: several queries pin a multi-consumer subtree (the shingle-hash
  * sketch table, the LSH signature index) because column pruning
  * specializes each consumer branch and defeats exchange reuse. A bare
  * `persist()` with no owner leaks executor memory across a long-lived
  * session — round 1's bench only stayed flat because it called
  * `spark.catalog.clearCache()` between queries, which an embedding
  * caller has no reason to do. Queries register pinned relations here;
  * [[SparkEntry.releaseCaches]] (called by Verify/Bench after each
  * query, and available to any library user) frees them.
  */
object CacheRegistry {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
  private val broadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()

  /** persist() + register for later release. */
  def persistTracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    tracked.add(ds)
    ds
  }

  /** `localCheckpoint(eager = true)` + register the checkpointed RDD
    * for later release. The cut relation's plan is a scan of blocks
    * the block manager holds — not a cache-manager entry, so
    * `unpersist` on the Dataset would not free them; `releaseAll`
    * unpersists the RDD itself. Same contract as [[persistTracked]]:
    * a released relation's blocks are gone, so release only between
    * queries. */
  def checkpointTracked[T](ds: Dataset[T]): Dataset[T] = {
    val cut = ds.localCheckpoint(eager = true)
    cut.queryExecution.logical.foreach {
      case r: LogicalRDD => checkpoints.add(r.rdd)
      case _ =>
    }
    cut
  }

  /** Register a per-query broadcast (bloom filters, lookup sets) so it is
    * destroyed — not just dereferenced — once the query's action
    * completes. Repeated invocations would otherwise accumulate
    * driver+executor copies for the life of the session.
    *
    * Contract (same as [[persistTracked]], but harder): `releaseAll`
    * INVALIDATES every DataFrame whose plan captured a tracked
    * broadcast — executing one afterwards fails with "Broadcast ...
    * destroyed". Release only between queries, never between building
    * a query and running it; rebuild (`SparkEntry.queries(name)(...)`)
    * after a release instead of reusing a stale DataFrame. */
  def broadcastTracked[T](bc: org.apache.spark.broadcast.Broadcast[T]): org.apache.spark.broadcast.Broadcast[T] = {
    broadcasts.add(bc)
    bc
  }

  /** Unpersist everything registered since the last release: persist
    * pins, checkpoint blocks and broadcasts. */
  def releaseAll(): Unit = {
    drain(tracked)(_.unpersist(blocking = false))
    drain(checkpoints)(_.unpersist(blocking = false))
    drain(broadcasts)(_.destroy())
  }

  private def drain[A](q: java.util.concurrent.ConcurrentLinkedQueue[A])(release: A => Unit): Unit = {
    var x = q.poll()
    while (x != null) {
      release(x)
      x = q.poll()
    }
  }
}
