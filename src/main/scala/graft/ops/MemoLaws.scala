package graft.ops

import org.apache.spark.sql.SparkSession

/** The [[SessionMemo]] isolation law, shared verbatim by the
  * single-JVM spec (DatasetOpsSpec) and the multi-process probe
  * ([[graft.MemoProbe]]): a multi-tenant service runs one session per
  * job on a shared context, and a cross-session cache hit would hand
  * tenant B frames resolved under tenant A's session state. The law
  * pins per-session isolation, within-session re-hit, AND content
  * equality of the per-session rebuilds — on a local-cluster master the
  * content check additionally exercises executor-side fetches of both
  * sessions' checkpoint blocks. */
object MemoLaws {

  def sessionIsolation(spark: SparkSession, sf: String): Unit = {
    val s2 = spark.newSession()
    // Tables frame cache: per-session entries, not shared across sessions
    val t1 = graft.queries.Tables.table(spark, sf, "documents")
    val t2 = graft.queries.Tables.table(s2, sf, "documents")
    require(!(t2 eq t1), "frame cache leaked a frame across sessions")
    require(t2.sparkSession eq s2, "frame bound to the wrong session")
    require(graft.queries.Tables.table(s2, sf, "documents") eq t2,
      "second lookup in the same session must re-hit the memo")
    // corpusCount memo: same plan, different session → independent
    // entries that agree on the value
    val n1 = graft.operators.Similarity.corpusCount(t1)
    val n2 = graft.operators.Similarity.corpusCount(t2)
    require(n1 == n2 && n1 > 0, s"corpusCount disagrees across sessions: $n1 vs $n2")
    // near-dup chain memo: the expensive checkpointed chain is rebuilt
    // for the new session (memoized frames must belong to the session
    // that resolves them), then re-hit on the second call
    val (wk1, cp1) = graft.queries.DatasetQueries.nearDupClusters(spark, sf)
    val (wk2, cp2) = graft.queries.DatasetQueries.nearDupClusters(s2, sf)
    require(!((wk2: AnyRef) eq wk1) && !((cp2: AnyRef) eq cp1),
      "chain memo leaked frames across sessions")
    require(wk2.sparkSession eq s2, "memoized chain bound to the wrong session")
    val (wk3, cp3) = graft.queries.DatasetQueries.nearDupClusters(s2, sf)
    require(((wk3: AnyRef) eq wk2) && ((cp3: AnyRef) eq cp2),
      "per-session memo must re-hit within its own session")
    // and the re-resolved frames carry the same CONTENT — the memo layer
    // is transparent to query results (on local-cluster this fetches both
    // sessions' checkpoint blocks from executor JVMs)
    val a = wk1.orderBy("doc_id").collect().toSeq // bounded: sf0.001 chain, ≤ #docs rows
    val b = wk2.orderBy("doc_id").collect().toSeq // bounded: sf0.001 chain, ≤ #docs rows
    require(a == b, "per-session rebuilds disagree on chain content")
  }
}
