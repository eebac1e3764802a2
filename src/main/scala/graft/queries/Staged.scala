package graft.queries

import java.lang.ref.WeakReference

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one memo for state shared across queries: loaded tables
  * ([[graft.Tables]]), derived tables (an ANN graph's adjacency, an LSH
  * model's hash tables), learned parameters (quantizer centroids, a PCA
  * direction, a BPE merge table) and staged file layouts (spools, spills,
  * partitioned or bucketed copies). A production deployment builds these
  * ONCE and then queries them many times. The staging rule:
  *
  *   - Key: (session, data dir, key). The session is identified by its
  *     `sessionUUID` (stable, never reused after GC, unlike an
  *     `identityHashCode`), so a fresh session rebuilds everything it
  *     reads, and scale-factor dirs never cross.
  *   - Lifetime: an entry lives until its session dies (its context stops
  *     or the session object is collected) or [[invalidate]] retires it.
  *     Dead entries are swept on every miss and when an application ends.
  *     An evicted entry releases the blocks it holds: a checkpointed frame
  *     unpersists its RDD, a cached frame uncaches unless another live
  *     session's entry shares the same cached plan. A staged path is a
  *     [[Scratch.path]], private to its session; Scratch's Scaladoc states
  *     where it lives and when it is deleted.
  *   - At most once: the map stores a holder whose `lazy val` guards the
  *     build, so concurrent first access runs it once and every racer
  *     shares the winner's value. A build that throws is retried on the
  *     next access.
  *   - Determinism: a staged value must be a pure function of the files
  *     under `dir` and `key`. Only STAGING may live here; a query's own
  *     iterative state or final answer is never memoized. The data dir is
  *     assumed immutable while a session reads it: regenerating a table in
  *     place mid-session serves the values staged from the old files.
  */
private[graft] object Staged {

  private type Key = (String, String, String)

  /** One staged value. The session is held weakly so the holder itself
    * never keeps a retired session reachable.
    */
  private final class Holder(s: SparkSession, build: () => AnyRef) {
    val session = new WeakReference[SparkSession](s)
    val built = new java.util.concurrent.atomic.AtomicReference[AnyRef]()
    lazy val value: AnyRef = { val v = build(); built.set(v); v }
    def dead: Boolean = session.get match {
      case null => true
      case ss => ss.sparkContext.isStopped
    }
  }

  private val cache = scala.collection.concurrent.TrieMap.empty[Key, Holder]

  /** Contexts that already carry the application-end sweep listener. */
  private val listening = scala.collection.concurrent.TrieMap.empty[String, Unit]

  private def uuidOf(s: SparkSession): String =
    org.apache.spark.sql.graft.GraftSqlBridge.sessionUUID(s)

  /** Free the blocks an evicted entry created (best-effort: on a stopped
    * context they are already gone). Called after the entry left the map.
    */
  private def release(k: Key, h: Holder): Unit = h.built.get match {
    case d: Dataset[_] =>
      try d.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ if !cache.keys.exists(o => o._2 == k._2 && o._3 == k._3) =>
          d.unpersist(blocking = false)
        case _ => ()
      } catch { case _: Throwable => () }
    case _ => ()
  }

  private def evictWhere(p: (Key, Holder) => Boolean): Int = {
    var n = 0
    cache.foreach { case (k, h) =>
      if (p(k, h) && cache.remove(k, h)) { release(k, h); n += 1 }
    }
    n
  }

  /** Evict every entry whose session is dead; returns how many dropped. */
  private[graft] def sweep(): Int = evictWhere((_, h) => h.dead)

  /** Deterministic eviction of one session's entries — the hook an
    * embedding application (or StagedSpec) uses to retire a child
    * `newSession` whose shared context stays live.
    */
  private[graft] def invalidate(s: SparkSession): Int = {
    val uuid = uuidOf(s)
    evictWhere((k, _) => k._1 == uuid)
  }

  private[graft] def size: Int = cache.size

  /** The value staged under (`s`, `dir`, `key`), built by `build` on the
    * first access. Keys are one namespace across all callers.
    */
  def memo[T <: AnyRef](s: SparkSession, dir: String, key: String)(
      build: => T): T = {
    val k = (uuidOf(s), dir, key)
    val h = cache.get(k) match {
      case Some(h0) => h0
      case None =>
        sweep()
        val sc = s.sparkContext
        if (listening.putIfAbsent(sc.applicationId, ()).isEmpty)
          sc.addSparkListener(new SparkListener {
            override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
              sweep(); listening.remove(sc.applicationId)
            }
          })
        val h0 = new Holder(s, () => build)
        cache.putIfAbsent(k, h0).getOrElse(h0)
    }
    h.value.asInstanceOf[T]
  }

  /** A staged derived table: `build`, then `localCheckpoint` (truncated
    * lineage, in-memory blocks); every later call reads the checkpoint.
    */
  def apply(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    memo(s, dir, key)(build.localCheckpoint())
}
