package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}

/** Session-scoped cache of query results and corpus artifacts. Entries
  * are keyed by the owning session's id (added here, so no caller
  * builds it into `K`) plus a caller-chosen `K`, and live for the JVM
  * until invalidated. The id, not the session object: a cached
  * DataFrame strongly references its session, so a weak-keyed map would
  * never collect.
  *
  * Every cache declares one [[SessionCache.Kind]]:
  *  - [[SessionCache.Result]]: a query's own output (a rank frame, a
  *    cluster table, a trained model that IS the measured operator).
  *    The bench must recompute it, so it drops every Result before each
  *    timed run.
  *  - [[SessionCache.Artifact]]: a compute-once-per-corpus input that
  *    several queries read (edge tables, shingle arrays, inverted
  *    indexes, published codebooks). It stays across queries, so each
  *    query is timed on its own work, not on rebuilding shared inputs.
  * The rule: if some registry query returns the cached value (or only a
  * projection of it), it is a Result; otherwise it is an Artifact.
  *
  * Why not bare `TrieMap.getOrElseUpdate`: it may evaluate the builder
  * CONCURRENTLY on first access, and the loser's corpus-sized persisted
  * value (count() already forced) would be discarded without unpersist —
  * leaking executor cache blocks for the JVM lifetime. Here the race is
  * resolved with `putIfAbsent` and the loser is explicitly `release`d: a
  * racing build costs duplicate compute once, never leaked storage.
  */
final class SessionCache[K, V](
    private val kind: SessionCache.Kind, release: V => Unit) {
  private val cache = TrieMap.empty[(String, K), V]
  // registration is the LAST initializer: register(this) publishes the
  // instance to the global registry, and invalidateAll() on another
  // thread would NPE on `cache` if it saw a half-constructed instance
  SessionCache.register(this)

  /** `spark`'s cached value for `key`, building (and keeping) it if
    * absent. Persisted resources in `build`'s result must be releasable
    * by this cache's `release` function. */
  def get(spark: SparkSession, key: K)(build: => V): V = {
    val k = (GraftShim.sessionId(spark), key)
    cache.get(k) match {
      case Some(v) => v
      case None =>
        val built = build
        cache.putIfAbsent(k, built) match {
          case None => built
          case Some(winner) =>
            release(built)
            winner
        }
    }
  }

  /** Release and drop every entry whose session id matches. */
  private def drop(session: String => Boolean): Unit =
    cache.filterInPlace { case ((sid, _), v) =>
      if (session(sid)) { release(v); false } else true
    }
}

object SessionCache {
  sealed trait Kind
  case object Result extends Kind
  case object Artifact extends Kind

  /** The common case: cached DataFrames, each either persisted or a
    * [[Cut]] leaf (or a projection of one); dropping one releases both. */
  def frames[K](kind: Kind): SessionCache[K, DataFrame] =
    new SessionCache[K, DataFrame](kind, { df =>
      df.unpersist(blocking = false)
      Cut.release(df)
    })

  // Every instance self-registers (object-field instances: a few dozen
  // for the JVM's life), so one call can reach every cache.
  private val instances =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_, _]]()

  private def register(c: SessionCache[_, _]): Unit = instances.add(c)

  /** Release and drop `spark`'s entries in every cache of the given
    * kinds: `Result` before a timed run, `Result, Artifact` after
    * rewriting the data under a cached dir. Other sessions' entries
    * stay. */
  def invalidate(spark: SparkSession, kinds: Kind*): Unit = {
    val sid = GraftShim.sessionId(spark)
    instances.forEach(c => if (kinds.contains(c.kind)) c.drop(_ == sid))
  }

  /** Release and drop every entry of every cache, for every session. The
    * bench's sf1 scale leg uses this between entries so each is FULLY
    * cold and entries cannot couple through shared residents (eviction
    * pressure from earlier entries' 10×-sized leftovers). */
  def invalidateAll(): Unit = instances.forEach(_.drop(_ => true))
}
