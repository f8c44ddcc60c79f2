package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** A session-keyed memo: one value per (session, key), built at most once
  * per session and shared by every later call in that session. The
  * library's four memos are instances: [[graft.queries.Tables]]' shared
  * test-table frames, [[graft.operators.Similarity.corpusCount]]'s count,
  * [[graft.queries.DatasetQueries.nearDupClusters]]' clustering chain and
  * the tokenizer-trainer chains in [[graft.queries.SelectionQueries]].
  *
  * INVARIANT: inputs are immutable within a session. A memo never sees an
  * external write; a caller that changes files under a memoized path
  * calls [[clear]].
  *
  * Lifetime: entries strongly key on the SparkSession, so without a hook a
  * long-lived multi-session service (one JVM, sessions created and stopped
  * per tenant/job) would pin every stopped session's plans and
  * checkpointed frames forever. The first call for a session attaches ONE
  * SparkListener that drops that session's entries when its SparkContext
  * ends — the only end-of-life signal Spark exposes (there is no public
  * per-`SparkSession.stop()` hook), so sessions sharing one context
  * (`newSession()`) are all dropped when the context stops.
  *
  * Keep one instance per memo: builds nest (the clustering chain and the
  * trainers read [[graft.queries.Tables.table]] inside their build), and
  * a `ConcurrentHashMap` rejects a `computeIfAbsent` that re-enters its
  * own map ("Recursive update"). */
final class SessionMemo[K, V] {

  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** The memoized value for (session, key), running `build` on a miss. A
    * build that throws stores nothing, so the next call builds again. */
  def apply(session: SparkSession, key: K)(build: => V): V = {
    if (hooked.add(session))
      session.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          entries.keySet.removeIf(_._1 eq session)
          hooked.remove(session)
        }
      })
    entries.computeIfAbsent((session, key), _ => build)
  }

  /** Drop every entry of every session. */
  def clear(): Unit = entries.clear()
}
