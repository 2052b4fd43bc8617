package graft

import org.apache.spark.sql.SparkSession

/** A per-session memo of derived state, keyed by a typed key and held
  * one entry per slot. The slot names what the state is derived from
  * (a canonical corpus path); the key names which version of it (its
  * `Tables.contentKey`). A lookup whose key differs from the slot's
  * entry evicts that entry, `release`s its value and builds anew, so an
  * in-place rewrite never leaves stale state behind and a per-call
  * unique key (an unlistable path) never grows the memo.
  *
  * The build runs outside the map lock, as in `Tables.rowCount`: it may
  * run Spark jobs and touch other memos. Concurrent lookups of one key
  * share one build through the entry's lazy cell. A failed build leaves
  * no entry behind. Eviction releases the old value under the lock,
  * before the new build starts, so a value whose cache Spark matches by
  * plan (a re-read of the same path) is never served from the old cache.
  *
  * `SessionMemo.clearAll()` releases and drops every entry of every
  * memo; the harness mains call it at pass boundaries and after a failed
  * query. */
final class SessionMemo[K, V](release: V => Unit) {
  private final class Cell(val key: K, build: () => V) {
    @volatile var built = false
    lazy val value: V = { val v = build(); built = true; v }
  }

  private val bySession = new java.util.WeakHashMap[
    SparkSession, java.util.HashMap[String, Cell]]()

  /** Number of builds started (misses) — spec instrumentation. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong(0)

  private def slots(spark: SparkSession) = {
    var m = bySession.get(spark)
    if (m == null) {
      m = new java.util.HashMap[String, Cell]()
      bySession.put(spark, m)
    }
    m
  }

  private def dispose(c: Cell): Unit = if (c.built) release(c.value)

  def getOrBuild(spark: SparkSession, slot: String, key: K)(build: => V): V = {
    val cell = bySession.synchronized {
      val m = slots(spark)
      val old = m.get(slot)
      if (old != null && old.key == key) old
      else {
        if (old != null) dispose(old)
        val c = new Cell(key, () => { builds.incrementAndGet(); build })
        m.put(slot, c)
        c
      }
    }
    try cell.value catch { case e: Throwable =>
      bySession.synchronized { slots(spark).remove(slot, cell) }
      throw e
    }
  }

  /** Entries held across all sessions — spec instrumentation. */
  private[graft] def size: Int = bySession.synchronized {
    var n = 0
    bySession.values.forEach(m => n += m.size)
    n
  }

  def clear(): Unit = bySession.synchronized {
    bySession.values.forEach(_.values.forEach(dispose))
    bySession.clear()
  }

  SessionMemo.all.add(this)
}

object SessionMemo {
  private val all =
    new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_, _]]()

  /** Release and drop every entry of every memo. */
  def clearAll(): Unit = all.forEach(_.clear())
}
