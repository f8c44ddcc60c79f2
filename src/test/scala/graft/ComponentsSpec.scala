package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check => scCheck, Parameters}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Components
import graft.operators.Components.{LabelPropagation, StarContraction}

/** Connected components: both algorithms against a driver-side union-find
  * reference, plus the long-chain case star contraction exists for. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Union-find reference: comp = min reachable id. */
  private def reference(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def run(algo: Components.CcAlgorithm, nodes: Seq[Long],
                  edges: Seq[(Long, Long)], maxRounds: Int = 25): Map[Long, Long] = {
    val n = nodes.toDF("id")
    val e = edges.toDF("src", "dst")
    Components.connectedComponents(n, e, maxRounds, algo)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star contraction handles a chain longer than the round budget") {
    val nodes = (0L to 60L).toSeq
    val edges = (0L until 60L).map(i => (i, i + 1))
    // diameter 60 > 25 rounds: label propagation fails LOUDLY...
    val err = intercept[IllegalArgumentException](run(LabelPropagation, nodes, edges))
    assert(err.getMessage.contains("StarContraction"))
    // ...and star contraction converges (O(log n) rounds), same answer.
    assert(run(StarContraction, nodes, edges) === nodes.map(_ -> 0L).toMap)
  }

  test("label propagation: an edge endpoint missing from the nodes never reaches the output") {
    // 99 and 0 are edge endpoints only; neither may surface as a row, and
    // neither joins 2 or 3 to anything
    val got = run(LabelPropagation, Seq(1L, 2L, 3L), Seq((1L, 2L), (2L, 99L), (0L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("both algorithms match union-find on random graphs (incl. isolated nodes)") {
    val genCase = for {
      nNodes <- Gen.choose(1, 40)
      nEdges <- Gen.choose(0, 60)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, nNodes - 1L); b <- Gen.choose(0L, nNodes - 1L)
      } yield (a, b))
    } yield ((0L until nNodes).toSeq, edges)
    val prop = Prop.forAll(genCase) { case (nodes, edges) =>
      val ref = reference(nodes, edges.filter(e => e._1 != e._2))
      run(StarContraction, nodes, edges) == ref &&
        run(LabelPropagation, nodes, edges) == ref
    }
    val res = scCheck(Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.toString)
  }

  test("star contraction: empty edge set leaves every node its own component") {
    assert(run(StarContraction, Seq(1L, 5L, 9L), Seq.empty) ===
      Map(1L -> 1L, 5L -> 5L, 9L -> 9L))
  }

  test("link_pagerank matches an independent integer power iteration; hub ranks #1") {
    val sf = "/root/testdata/sf0.001"
    val n = graft.queries.Tables.table(spark, sf, "documents").count()
    // independent reference: same graph recipe, same integer arithmetic,
    // computed with plain Scala maps
    val scale = 1000000000000L
    val edges = (0L until n).flatMap { v =>
      Seq(v -> (v * 31 + 7) % n, v -> (v * 17 + 3) % n, v -> 0L)
    }.distinct.filter { case (s, d) => s != d }
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = (0L until n).map(v => v -> scale / n).toMap
    val base = (15L * (scale / n)) / 100L
    for (_ <- 1 to 3) {
      val sums = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / out(s) }.sum }
      r = (0L until n).map(v => v -> (base + (85L * sums.getOrElse(v, 0L)) / 100L)).toMap
    }
    val want = r.toSeq.sortBy { case (id, rk) => (-rk, id) }.take(20)
    val got = graft.queries.MiscQueries.linkPagerank.spark(spark, sf)
      .select("id", "rank_scaled").as[(Long, Long)].collect().toSeq
    assert(got == want, s"pagerank mismatch:\n got $got\nwant $want")
    // the planted hub (every page links to doc 0) must dominate
    assert(got.head._1 == 0L, s"hub is not rank #1: ${got.head}")
    assert(got.head._2 > got(1)._2 * 2, "hub rank should dominate by construction")
    // mass conservation up to floor losses: total ≤ scale, and within
    // n·(iters+1) units of it (each div loses < 1 unit per node/edge)
    val total = r.values.sum
    assert(total <= scale && scale - total < 100L * n * 4,
      s"rank mass $total drifted too far from $scale")
  }

  test("hits_scores matches an independent integer HITS reference; hub dominates authority") {
    val spark = TestSpark.spark
    val n = 97L
    val ids = spark.range(n).select(org.apache.spark.sql.functions.col("id").as("doc_id"))
    val got = graft.queries.MiscQueries.hitsScored(ids)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // plain-Scala reference on the same formula graph
    val S = 1000000000L
    val edges = (0L until n).flatMap(u =>
        Seq(u -> (u * 31 + 7) % n, u -> (u * 17 + 3) % n, u -> 0L))
      .filter { case (s, d) => s != d }.distinct
    var a = Map.empty[Long, Long].withDefaultValue(0L) ++ (0L until n).map(_ -> S)
    var h = Map.empty[Long, Long].withDefaultValue(0L)
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = math.max(m.values.max / S, 1L)
      (0L until n).map(i => i -> m.getOrElse(i, 0L) / mx).toMap
    }
    for (_ <- 1 to 2) {
      h = norm(edges.groupBy(_._1).map { case (u, es) => u -> es.map(e => a(e._2)).sum })
      a = norm(edges.groupBy(_._2).map { case (v, es) => v -> es.map(e => h(e._1)).sum })
    }
    got.foreach { case (id, (as, hs)) =>
      assert(as == a(id) && hs == h(id), s"node $id: ($as,$hs) != (${a(id)},${h(id)})")
    }
    // the planted hub is the top authority, strictly
    val top = a.maxBy { case (id, v) => (v, -id) }
    assert(top._1 == 0L && got.contains(0L))
    assert(a(0L) > a.filter(_._1 != 0L).values.max, "hub must strictly dominate authority")
  }

  test("link graph on non-dense ids: pagerank and hits score exactly the input ids") {
    // ids 0, 3, 6, ...: most affine out-link targets (id·31+7) mod n are
    // not documents and must not surface as nodes
    val ids = spark.range(97L).select((col("id") * 3).as("doc_id"))
    val want = (0L until 97L).map(_ * 3).toSet
    val pr = graft.queries.MiscQueries.pagerankRanked(ids).select("id").as[Long].collect()
    val hits = graft.queries.MiscQueries.hitsScored(ids).select("id").as[Long].collect()
    assert(pr.length == want.size && pr.toSet == want,
      s"pagerank ids outside the input: ${(pr.toSet -- want).toSeq.sorted.take(10)}")
    assert(hits.length == want.size && hits.toSet == want,
      s"hits ids outside the input: ${(hits.toSet -- want).toSeq.sorted.take(10)}")
  }
}
