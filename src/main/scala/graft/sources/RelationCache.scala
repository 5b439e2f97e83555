package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-keyed memo for PERSISTED helper relations.
  *
  * Several operators materialize a small derived relation that more than
  * one part of their plan consumes — `llm_lm_score`'s bigram LM table,
  * `join_fuzzy`'s name dictionary, `win_ntile`'s range-partitioned rank
  * keys. Calling `.persist()` ad hoc is correct (CacheManager dedups
  * repeat invocations by analyzed plan) but unaccounted: the entry lives
  * for the whole session even after a multi-sf test moved on to another
  * sfDir, and nothing can enumerate or release what an sfDir has pinned.
  * This memo gives those persists one home on a [[SessionMemo]]:
  *
  *  - keyed by (session, op, absolutized sfDir) — an entry is only ever
  *    reused by the session that built it against the same fixture path;
  *  - [[evictSfDir]] unpersists and drops every entry an sfDir pinned, so
  *    a multi-sf run (tests; a future multi-corpus driver) can assert
  *    nothing outlives the dir's last use — `graft.Verify` calls it on
  *    exit, and EdgeCasesSpec's evictSfDir test asserts the plan leaves
  *    the CacheManager;
  *  - application-end eviction drops a stopped session's entries (no
  *    unpersist there — the dying context is already releasing its
  *    blocks).
  *
  * At 100 TB the entries stay driver-cheap: each is a logical plan plus a
  * persisted footprint the OPERATOR chose (two columns of rank keys, a
  * vocab²-bounded LM table, a dictionary column — never the corpus).
  */
object RelationCache {
  private val memo = new SessionMemo[(String, String), DataFrame]("relations")

  /** Build-once-then-persist `df` for (`s`, `op`, `sfDir`). The builder
    * runs only on miss; the persisted DataFrame is shared by every later
    * call with the same key. */
  def getOrPersist(s: SparkSession, op: String, sfDir: String,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      (build: => DataFrame): DataFrame =
    memo(s, (op, SessionMemo.dir(sfDir)))(build.persist(level))

  /** Unpersist and forget every relation `sfDir` pinned in session `s`.
    * Blocking=false: block release is asynchronous and the entries are
    * already unreachable through the cache. */
  def evictSfDir(s: SparkSession, sfDir: String): Unit = {
    val abs = SessionMemo.dir(sfDir)
    memo.evict(s)(_._2 == abs).foreach(_.unpersist(blocking = false))
  }
}
