package graft.sources

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Shared run-once-per-(context, tag) application-end hook: [[SessionMemo]]
  * evicts a stopped context's entries through it, and scratch directories
  * register their deletion with it, so a session-cycling harness cannot
  * accumulate strong references to dead sessions or their files. Keyed by
  * the SparkContext, not the session: application end is a context event,
  * and every session of the context dies with it. */
object SessionHooks {
  private val hooked =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[(SparkContext, String),
        java.lang.Boolean])

  /** Register `cleanup` to run when `s`'s SparkContext ends. Idempotent
    * per (context, tag): callers may invoke this on every access. */
  def onApplicationEnd(s: SparkSession, tag: String)(cleanup: () => Unit)
      : Unit = {
    val sc = s.sparkContext
    if (hooked.add((sc, tag))) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd)
            : Unit = {
          cleanup()
          hooked.remove((sc, tag))
          ()
        }
      })
    }
  }
}
