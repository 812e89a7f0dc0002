package graft.engine

import org.apache.spark.sql.SparkSession

/** The engine's one per-session memo: an LRU map from
  * (session identity, string key) to a value the session would
  * otherwise re-derive per call — loaded table frames, counts,
  * partition probes, centroids, codebooks, shard cuts and persisted
  * working sets. A key derived from input files embeds
  * [[Tables.fileId]], so an input that changed within the session
  * misses instead of serving a stale value; that staleness rule lives
  * in Tables, not in each memo.
  *
  * Lifecycle: a memoized value may reference its session (a
  * DataFrame always does), so weak keys could never collect it.
  * Instead every access sweeps the entries of stopped contexts, and
  * an insert past `cap` drops the least recently used entries.
  * `onEvict` runs on every entry dropped while its context is alive —
  * by the cap or by [[clear]] — and `onAccess` on every value handed
  * out, both under the lock so they stay ordered with each other
  * (the working-set memo persists in one and unpersists in the other).
  * `build` runs OUTSIDE the lock, since planning, file listing and
  * collect jobs can take seconds; when two builds of one key race,
  * the first put wins, both callers receive the winner, and the
  * loser is dropped without ever reaching `onAccess`. */
final class SessionMemo[V](cap: Int,
    onAccess: V => Unit = (_: V) => (),
    onEvict: V => Unit = (_: V) => ()) {
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, String), V]

  // under the lock: sweep stopped sessions, then move `k` to the
  // most-recently-used end (LinkedHashMap keeps insertion order)
  private def touch(k: (SparkSession, String)): Option[V] = {
    entries.filterInPlace((kk, _) => !kk._1.sparkContext.isStopped)
    entries.remove(k).map { v => entries.put(k, v); v }
  }

  /** The entry for `key`, touched, without building or `onAccess`. */
  def get(spark: SparkSession, key: String): Option[V] =
    synchronized(touch((spark, key)))

  /** The memoized value for `key`, else `build`'s, memoized. */
  def apply(spark: SparkSession, key: String)(build: => V): V = {
    val k = (spark, key)
    synchronized(touch(k).map { v => onAccess(v); v }).getOrElse {
      val built = build
      synchronized {
        val winner = touch(k).getOrElse { entries.put(k, built); built }
        onAccess(winner)
        while (entries.size > cap) {
          val (ek, ev) = entries.head
          entries.remove(ek)
          if (!ek._1.sparkContext.isStopped) onEvict(ev)
        }
        winner
      }
    }
  }

  /** Drop every entry of `spark` (not of its sibling sessions) — the
    * cold-measurement reset. */
  def clear(spark: SparkSession): Unit = synchronized {
    entries.filterInPlace { (k, v) =>
      val mine = k._1 eq spark
      if (mine && !spark.sparkContext.isStopped) onEvict(v)
      !mine
    }
  }
}
