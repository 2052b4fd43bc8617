package graft

import org.apache.spark.sql.SparkSession

/** A per-session memo of derived state, keyed by a typed key and held
  * one entry per slot. The slot names what the state is derived from
  * (a canonical corpus path, plus a variant tag when one source yields
  * several values); the key names which version of it (its
  * `Tables.contentKey`). A lookup whose key differs from the slot's
  * entry evicts that entry, `release`s its value and builds anew, so an
  * in-place rewrite never leaves stale state behind and a per-call
  * unique key (an unlistable path) never grows the memo.
  *
  * The build runs outside the map lock: it may run Spark jobs and look
  * up other entries, of this memo or another. Concurrent lookups of one
  * key share one build through the entry's lazy cell. A failed build
  * leaves no entry behind. Eviction releases the old value under the
  * lock, before the new build starts, so a value whose cache Spark
  * matches by plan (a re-read of the same path) is never served from
  * the old cache.
  *
  * Lifetime. Every memo is either pass-scoped or per-model (`perModel`):
  *   - pass-scoped state (signatures, pair graphs, indexes, tokenizers)
  *     is what a query derives on the way to its answer. A bench pass
  *     bills it to its first consumer, so `SessionMemo.clearPass()` drops
  *     it at every pass boundary;
  *   - per-model state (trained codebooks and centroids, corpus row
  *     counts, staged stream lakes) is built once per corpus and served
  *     to every query, as a vector store trains once. It survives a pass
  *     boundary; the PQ model-build entry evicts its own codebooks inside
  *     its timed window.
  * `SessionMemo.clearAll()` releases both kinds. The harness mains call
  * it after a failed query, which can leave a value half materialized.
  *
  * Temp-dir values release as a no-op: a lazy frame already handed out
  * may still read the dir, which `Replay.cleanupAtExit` removes at JVM
  * exit. */
final class SessionMemo[K, V](release: V => Unit,
                              private val perModel: Boolean = false) {
  private final class Cell(val key: K, build: () => V) {
    @volatile var built = false
    lazy val value: V = { val v = build(); built = true; v }
  }

  private val bySession = new java.util.WeakHashMap[
    SparkSession, java.util.HashMap[String, Cell]]()

  /** Number of builds started (misses) — spec instrumentation. */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong(0)
  /** Number of lookups served by the slot's entry — spec instrumentation. */
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong(0)

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
      if (old != null && old.key == key) { hits.incrementAndGet(); old }
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

  def getOrBuild(spark: SparkSession, at: SessionMemo.Address[K])(build: => V): V =
    getOrBuild(spark, at.slot, at.key)(build)

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

  /** A memo entry's slot and key. */
  final case class Address[K](slot: String, key: K) {
    /** The same source's `variant` (a threshold, a model config). */
    def /(variant: Any): Address[K] = copy(slot = s"$slot|$variant")
  }

  /** The address of state derived from the table or corpus at `path`:
    * its canonical path and its contents fingerprint. */
  def of(path: String): Address[String] =
    Address(Tables.canonical(path), Tables.contentKey(path))

  /** Release and drop every entry of every memo. */
  def clearAll(): Unit = all.forEach(_.clear())

  /** Release and drop every entry of the pass-scoped memos; per-model
    * state stays. */
  def clearPass(): Unit = all.forEach(m => if (!m.perModel) m.clear())
}
