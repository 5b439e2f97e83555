package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one session-keyed memo: a per-substrate map from (session, key) to
  * a value built at most once, shared by every later call in that session.
  * Every session-scoped substrate (fixture relations, persisted helper
  * relations, staged layouts, trained models) owns one instance; there is
  * deliberately no shared global map, because some builders call another
  * memo while building.
  *
  *  - Keyed by session: a DataFrame or scratch path is only valid in the
  *    session that built it. Path keys go through [[SessionMemo.dir]], so
  *    two spellings of one fixture directory share one entry.
  *  - Build once: the map holds a lazy cell, inserted by
  *    `computeIfAbsent` and forced OUTSIDE the map's bin lock, so a long
  *    build never blocks unrelated keys and a builder may call another
  *    memo. Concurrent callers of one key wait for the single build.
  *  - A build that throws is not cached: the cell is dropped and the next
  *    caller retries.
  *  - A cached value failing `healthy` is dropped and rebuilt. Path-valued
  *    memos over pid-keyed scratch need this: another session's
  *    application-end hook, or any external delete, can remove (or
  *    partially remove) a directory a live entry still points at.
  *  - When an entry is first built, one application-end hook per
  *    (SparkContext, memo) is registered; it drops the entries of every
  *    session of that context, so a session-cycling harness cannot pin
  *    dead sessions. */
final class SessionMemo[K, V](name: String,
    healthy: V => Boolean = (_: V) => true) {
  private final class Cell(build: => V) {
    @volatile var built = false
    lazy val value: V = { val v = build; built = true; v }
  }

  private val cells = new ConcurrentHashMap[(SparkSession, K), Cell]

  def apply(s: SparkSession, key: K)(build: => V): V = {
    val k = (s, key)
    val old = cells.get(k)
    if (old != null && old.built && !healthy(old.value)) cells.remove(k, old)
    val cell = cells.computeIfAbsent(k, _ => new Cell({
      SessionHooks.onApplicationEnd(s, s"memo-$name") { () =>
        cells.keySet.removeIf(_._1.sparkContext eq s.sparkContext); ()
      }
      build
    }))
    try cell.value
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  /** Drop session `s`'s entries whose key matches `p`, returning the
    * values that had finished building. */
  def evict(s: SparkSession)(p: K => Boolean): Seq[V] = {
    val out = Seq.newBuilder[V]
    cells.forEach { (k, cell) =>
      if ((k._1 eq s) && p(k._2) && cells.remove(k, cell) && cell.built)
        out += cell.value
    }
    out.result()
  }
}

object SessionMemo {
  /** Canonical directory key: absolute and normalized. */
  def dir(d: String): String =
    java.nio.file.Paths.get(d).toAbsolutePath.normalize.toString
}
