package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Skew, Tiling}

/** Plan-hygiene evidence: the scale claims in the scaladocs, asserted
  * against the actual physical plans (pushdown reaches parquet, small
  * sides broadcast, narrow operators stay shuffle-free, native
  * expressions are actually in the plan). */
class PlansSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and column pruning reach the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") < 10)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("LessThan(l_quantity"))
    assert(p.contains("ReadSchema") &&
      !p.substring(p.indexOf("ReadSchema")).takeWhile(_ != '\n').contains("l_extendedprice"))
  }

  test("dimension joins broadcast (no big-side shuffle)") {
    val p = plan(SparkEntry.queries("join_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("tiling/explode generators are shuffle-free narrow maps") {
    val manifest = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id").as("video_id"), (col("value") * 60).as("total_duration"))
    val p = plan(Tiling.tileSegments(manifest, "total_duration", 300.0, 60.0))
    assert(!p.contains("Exchange"), s"unexpected shuffle in tiling plan:\n$p")
  }

  test("native expressions are in the executed plans") {
    assert(plan(SparkEntry.queries("cosine_topk")(spark, sf)).contains("graft_cosine"))
    assert(plan(SparkEntry.queries("dedup_ngram_jaccard")(spark, sf))
      .contains("graft_sorted_intersect_count"))
  }

  test("sortedIntersectCount equals size(array_intersect), nulls included") {
    import spark.implicits._
    import graft.operators.Dedup.sortedIntersectCount
    // parquet-backed, so the kernel runs in generated code (a literal
    // frame would be evaluated on the driver instead)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val df = docs.select(col("doc_id"), sortedIntersectCount(
        array_sort(array_distinct(split(col("text"), " "))),
        array_sort(array_distinct(split(col("source"), "c")))).as("n"))
    val builtinEquiv = docs.select(col("doc_id"), size(array_intersect(
        array_distinct(split(col("text"), " ")),
        array_distinct(split(col("source"), "c")))).as("n"))
    assert(df.orderBy("doc_id").as[(Long, Int)].collect().toSeq ==
      builtinEquiv.orderBy("doc_id").as[(Long, Int)].collect().toSeq)
    // null elements: the kernel must match array_intersect semantics
    // (null kept iff BOTH sides contain it), not NPE on the null slot
    val withNulls = docs.limit(8).select(col("doc_id"),
      concat(split(col("text"), " "),
        when(col("doc_id") % 2 === 0, array(lit(null).cast("string")))
          .otherwise(array().cast("array<string>"))).as("ta"),
      concat(split(col("source"), "c"), array(lit(null).cast("string"))).as("sa"))
    val nulled = withNulls.select(col("doc_id"), sortedIntersectCount(
      array_sort(array_distinct(col("ta"))), array_sort(array_distinct(col("sa")))).as("n"))
    val nulledBuiltin = withNulls.select(col("doc_id"), size(array_intersect(
      array_distinct(col("ta")), array_distinct(col("sa")))).as("n"))
    assert(nulled.orderBy("doc_id").as[(Long, Int)].collect().toSeq ==
      nulledBuiltin.orderBy("doc_id").as[(Long, Int)].collect().toSeq)
  }

  test("flagship aggregation does map-side partial aggregation") {
    val p = plan(SparkEntry.queries("q1_agg")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
  }

  test("ANN top-k ranks via the bounded-heap aggregate, partial before the exchange") {
    // The window-rank idiom pays two full local sorts + a Window pass even
    // with InferWindowGroupLimit pruning; the plan must instead show
    // graft_topk in partial mode (map side) and final mode after one
    // exchange, and no Window node.
    val p = plan(SparkEntry.queries("cosine_topk")(spark, sf))
    assert(p.contains("partial_graft_topk"), s"no partial topk in:\n$p")
    assert("graft_topk".r.findAllIn(p).size >= 2, s"no final topk in:\n$p")
    assert(!p.contains("Window"), s"window rank survived in:\n$p")
  }

  test("range join plans as a bin equi-join, not a nested loop") {
    val p = plan(SparkEntry.queries("join_range")(spark, sf))
    assert(!p.contains("NestedLoop"), s"range join fell back to nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), s"no equi-join in:\n$p")
  }

  test("binned range join equals the naive BETWEEN join (boundaries included)") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val points = Seq.tabulate(500)(i => (i.toLong, rng.nextInt(1000) / 7.0)).toDF("pid", "v")
    val intervals = (Seq.tabulate(40) { j =>
        val lo = rng.nextInt(900) / 7.0
        (j.toLong, lo, lo + rng.nextInt(200) / 7.0)
      } :+ ((98L, 50.0, 40.0))   // degenerate hi < lo: matches nothing
        :+ ((99L, 10.0, 10.0)))  // zero-width: only exact hits
      .toDF("interval_id", "lo", "hi")
    val binned = graft.operators.RangeJoin.pointInInterval(points, intervals, binWidth = 13.0)
      .select("interval_id", "pid", "v").as[(Long, Long, Double)].collect().toSet
    val naive = points.join(intervals, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("interval_id", "pid", "v").as[(Long, Long, Double)].collect().toSet
    assert(binned == naive)
    assert(naive.nonEmpty)
  }

  test("curation pipeline scans the documents parquet exactly once") {
    // The scrub→gates→dedup prefix executes once into the decontamination
    // checkpoint (that subtree holds the single parquet scan); every
    // downstream branch (gram join, mix-sample counts, split/chunk) reads
    // the checkpoint, so the final plan must contain NO parquet re-scan.
    val p = plan(new graft.pipelines.CorpusCuration()
      .curate(graft.queries.Tables.table(spark, sf, "documents")))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"downstream of the checkpoint nothing may re-read the corpus:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).nonEmpty,
      s"expected the checkpoint boundary in the plan:\n$p")
  }

  test("narrow-map minhash signature hashes each shingle once (no CollapseProject inlining)") {
    val docs = graft.queries.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.wordShingles(col("text"), 2).as("sh"))
    // one MinHashMd5 kernel per row, which digests each shingle once; with
    // the hashed set requested, the kernel's struct feeds both output
    // columns from one projection (inlined, it would run twice per row)
    Seq(None, Some("shh")).foreach { hashed =>
      val sig = graft.operators.Dedup.withMinhashSignatureMd5(docs, col("sh"), 32,
          hashedName = hashed)
        .select((col("doc_id") +: col("sig") +: hashed.map(col).toSeq): _*)
      val p = plan(sig)
      val nKernel = "graft_minhash_md5\\(".r.findAllIn(p).size
      assert(nKernel == 1, s"expected 1 MinHash kernel in the plan, got $nKernel:\n$p")
      assert("(?i)(?<!\\w)md5\\(".r.findFirstIn(p).isEmpty, s"md5 expression in the plan:\n$p")
      assert(!p.contains("Exchange"), "signature must stay a narrow map (no shuffle)")
    }
  }

  test("LSH candidate pairs keep the session's shuffle width under AQE") {
    import spark.implicits._
    // a pair shuffle this small is what AQE coalesces to ONE partition;
    // the explicit-count exchange keeps the per-pair stages (estimate
    // screen, verify joins, edge checkpoint) at full width
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(width > 1, "the check needs more than one shuffle partition")
    val docs = spark.sparkContext.parallelize((0 until 60).map(i =>
      (i.toLong, Seq("a b", "b c", s"c d${i % 4}", s"d${i % 3} e")))).toDF("doc_id", "sh")
    val sigs = graft.operators.Dedup.withMinhashSignatureMd5(docs, col("sh"), 8)
    val pairs = graft.operators.Dedup.lshPairs(sigs, sigs, Seq((4, 2)))
    assert(pairs.queryExecution.toRdd.getNumPartitions == width,
      s"candidate pairs coalesced:\n${pairs.queryExecution.executedPlan}")
    assert(pairs.count() > 0)
    // the distinct reuses the hash exchange: one exchange on (id_a, id_b)
    val finalPlan = pairs.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning\\(id_a".r.findAllIn(finalPlan).size
    assert(exchanges == 1, s"expected one pair exchange:\n$finalPlan")
  }

  test("dedup_incremental candidate pairs keep the session's shuffle width under AQE") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(width > 1, "the check needs more than one shuffle partition")
    val verdicts = graft.queries.TextQueries.incrementalVerdicts(graft.ops.Parallelism.ensure(
      graft.queries.Tables.table(spark, sf, "documents")))
    assert(verdicts.queryExecution.toRdd.count() > 0)
    val helper = new AdaptiveSparkPlanHelper {}
    def pairStage(s: ShuffleQueryStageExec) = s.shuffle.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } == Seq("id_a", "id_b")
      case _ => false
    }
    val plan = verdicts.queryExecution.executedPlan
    val stages = helper.collect(plan) { case s: ShuffleQueryStageExec if pairStage(s) => s }
    assert(stages.size == 1, s"expected one pair exchange:\n$plan")
    assert(stages.head.shuffle.numPartitions == width, s"pair exchange narrowed:\n$plan")
    val reads = helper.collect(plan) {
      case r: AQEShuffleReadExec if r.child.isInstanceOf[ShuffleQueryStageExec] &&
          pairStage(r.child.asInstanceOf[ShuffleQueryStageExec]) => r.partitionSpecs.size
    }
    assert(reads.forall(_ == width), s"candidate pairs coalesced to $reads partitions:\n$plan")
  }

  test("semantic-dedup candidate generation is a bucket equi-join, never a nested loop") {
    import spark.implicits._
    val corpus = (0 until 60)
      .map(i => (i.toLong, Seq.fill(16)((i % 7).toFloat + 0.25f)))
      .toDF("vec_id", "embedding")
    val pairs = graft.operators.Similarity.lshNearDupPairs(corpus, 0.99,
      graft.operators.Similarity.md5Planes(8, 4, 16, "graft-semdedup-spec"))
    val p = plan(pairs)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degenerated to an all-pairs join:\n$p")
  }

  test("salted aggregation equals direct aggregation on skewed data") {
    import spark.implicits._
    // 10k rows of one hot key + scattered tail
    val skewed = (1 to 10000).map(i => ("hot", i.toLong)) ++
      (1 to 500).map(i => (s"k${i % 50}", i.toLong))
    val df = skewed.toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .as[(String, Long, Long)].collect().toSet
    val salted = Skew.saltedAgg(df, Seq("k"), col("v"), "v", 8, col("v"))
      .select(col("k"), col("sum_v"), col("cnt_v"))
      .as[(String, Long, Long)].collect().toSet
    assert(salted == direct)
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = ((1 to 5000).map(i => (1L, i.toLong)) ++ (1 to 100).map(i => (2L, i.toLong)))
      .toDF("key", "payload")
    val small = Seq((1L, "a"), (2L, "b")).toDF("key", "tag")
    val direct = big.join(small, "key").groupBy("tag").count()
      .as[(String, Long)].collect().toSet
    val salted = Skew.saltedJoin(big, small, "key", 8, col("payload"))
      .groupBy("tag").count().as[(String, Long)].collect().toSet
    assert(salted == direct)
  }

  test("persisted IVF probe dynamically prunes list_id partition directories") {
    // the build-once/probe-many deployment shape: save → load → probe must
    // read only probed list directories, i.e. the loaded scan's
    // PartitionFilters carries a dynamicpruningexpression on list_id fed
    // by the broadcast probe side — NOT a full-index scan
    val p = plan(SparkEntry.queries("ann_ivf_persisted")(spark, sf))
    assert(p.toLowerCase.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the persisted-index scan:\n$p")
    assert(p.contains("PartitionFilters"), s"scan is not partition-filtered:\n$p")
  }

  test("selection-family plans: no nested loops, thresholds broadcast, scoring rides the scan") {
    // cluster_assign: the argmax is one narrow pass — no join-shaped node
    // before the size rollup, and never a cartesian/nested loop
    val ca = plan(SparkEntry.queries("cluster_assign")(spark, sf))
    assert(!ca.contains("CartesianProduct") && !ca.contains("BroadcastNestedLoop"),
      s"nested loop in cluster_assign:\n$ca")
    assert(ca.contains("graft_cosine"), "native cosine missing from cluster_assign")
    // pipeline_select / sample_temperature: per-source thresholds join the
    // corpus via broadcast (a 20-row dim must never shuffle the big side)
    Seq("pipeline_select", "sample_temperature").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(p.contains("BroadcastHashJoin"), s"$q thresholds not broadcast:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    }
    // dsir_weights / quality_gopher / html_strip: narrow scoring over the
    // scan — the only exchange is the final presentation sort
    Seq("dsir_weights", "quality_gopher", "html_strip").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges <= 2, s"$q grew ${exchanges} exchanges (narrow map + sort expected):\n$p")
    }
    // span_corruption_mask: the ideal 100 TB operator shape — a pure
    // narrow map; the ONLY exchange is the presentation sort
    val scp = plan(SparkEntry.queries("span_corruption_mask")(spark, sf))
    assert("Exchange".r.findAllIn(scp).size <= 1,
      s"span_corruption_mask must be shuffle-free except the sort:\n$scp")
    // rrf_fusion: both arms broadcast their small side (stats row /
    // query vector); no cartesian anywhere
    val rrf = plan(SparkEntry.queries("rrf_fusion")(spark, sf))
    assert(rrf.contains("BroadcastHashJoin") || rrf.contains("BroadcastExchange"),
      s"rrf_fusion arms should broadcast small sides:\n$rrf")
    assert(!rrf.contains("CartesianProduct"), s"cartesian in rrf_fusion:\n$rrf")
  }

  test("GateHoist: a declared gate written after an opaque barrier slides below it") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
    def barrier(in: org.apache.spark.sql.DataFrame) =
      in.as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) => (id, n, n * 2) })
        .toDF("doc_id", "n_chars", "expensive")
    val declared = graft.plans.GateHoist.declarePassthrough(barrier(docs), "doc_id")
    // deliberately MIS-ORDERED chain: the gate is written after the stage
    val q = declared.filter(col("doc_id") % 2 === 0)
    val opt = q.queryExecution.optimizedPlan
    val mp = opt.collectFirst { case m: MapPartitions => m }.get
    assert(mp.collectFirst { case f: Filter => f }.isDefined,
      s"gate not hoisted below the barrier:\n$opt")
    // no residual filter remains ABOVE the barrier (a Filter whose
    // subtree still contains the MapPartitions node)
    assert(!opt.collect { case f: Filter => f }
        .exists(_.collectFirst { case m: MapPartitions => m }.isDefined),
      s"gate still above the barrier:\n$opt")
    // identical rows to the well-ordered chain
    assert(q.orderBy("doc_id").collect().toSeq ==
      barrier(docs.filter(col("doc_id") % 2 === 0)).orderBy("doc_id").collect().toSeq)
    // a gate on a NON-passthrough column must NOT hoist
    val q2 = declared.filter(col("expensive") > 100)
    val mp2 = q2.queryExecution.optimizedPlan.collectFirst { case m: MapPartitions => m }.get
    assert(mp2.collectFirst { case f: Filter => f }.isEmpty,
      "non-declared gate must stay above the barrier")
    // an UNDECLARED barrier is untouched even for same-named columns
    val q3 = barrier(docs).filter(col("doc_id") % 2 === 0)
    val mp3 = q3.queryExecution.optimizedPlan.collectFirst { case m: MapPartitions => m }.get
    assert(mp3.collectFirst { case f: Filter => f }.isEmpty,
      "undeclared barrier must not be touched")
  }

  test("GateHoist: a mixed conjunction hoists the declared conjunct, keeps the computed one above") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
    def barrier(in: org.apache.spark.sql.DataFrame) =
      in.as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) => (id, n, n * 2) })
        .toDF("doc_id", "n_chars", "expensive")
    val declared = graft.plans.GateHoist.declarePassthrough(barrier(docs), "doc_id")
    // ONE filter mixing a declared gate with a barrier-computed gate —
    // the shape Catalyst's own pushdown produces when it merges adjacent
    // gates. All-or-nothing hoisting would strand the cheap conjunct
    // above the models; the rule must split.
    val q = declared.filter(col("doc_id") % 2 === 0 && col("expensive") > 100)
    val opt = q.queryExecution.optimizedPlan
    val mp = opt.collectFirst { case m: MapPartitions => m }.get
    assert(mp.collectFirst {
        case f: Filter if f.condition.sql.contains("% 2") => f }.isDefined,
      s"declared conjunct not hoisted below the barrier:\n$opt")
    // the computed conjunct (`> 100`; its attr reads `_3` below the
    // rename Project) must stay ABOVE the barrier, never below it
    assert(mp.collectFirst {
        case f: Filter if f.condition.sql.contains("> 100") => f }.isEmpty,
      s"computed conjunct leaked below the barrier:\n$opt")
    assert(opt.collect { case f: Filter => f }.exists(f =>
        f.condition.sql.contains("> 100") &&
          f.collectFirst { case m: MapPartitions => m }.isDefined),
      s"computed conjunct lost above the barrier:\n$opt")
    // identical rows to the well-ordered chain
    assert(q.orderBy("doc_id").collect().toSeq ==
      barrier(docs.filter(col("doc_id") % 2 === 0))
        .filter(col("expensive") > 100).orderBy("doc_id").collect().toSeq)
  }

  test("GateHoist: the gate still hoists through an interposed Project (withColumn)") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
    def barrier(in: org.apache.spark.sql.DataFrame) =
      in.as[(Long, Long)]
        .mapPartitions(_.map { case (id, n) => (id, n, n * 2) })
        .toDF("doc_id", "n_chars", "expensive")
    val declared = graft.plans.GateHoist.declarePassthrough(barrier(docs), "doc_id")
    // the real-world mis-ordered shape: a derived column BETWEEN the model
    // stage and the gate — analyzes as Filter(Project(Serialize(...)))
    val q = declared.withColumn("flag", col("expensive") > 50)
      .filter(col("doc_id") % 2 === 0)
    val opt = q.queryExecution.optimizedPlan
    val mp = opt.collectFirst { case m: MapPartitions => m }.get
    assert(mp.collectFirst { case f: Filter => f }.isDefined,
      s"gate behind a Project not hoisted below the barrier:\n$opt")
    assert(!opt.collect { case f: Filter => f }
        .exists(_.collectFirst { case m: MapPartitions => m }.isDefined),
      s"gate still above the barrier:\n$opt")
    // identical rows to the well-ordered chain
    assert(q.orderBy("doc_id").collect().toSeq ==
      barrier(docs.filter(col("doc_id") % 2 === 0))
        .withColumn("flag", col("expensive") > 50)
        .orderBy("doc_id").collect().toSeq)
    // a derived gate that still references a BARRIER-COMPUTED column must
    // NOT hoist (Catalyst inlines the alias, so the condition reads
    // `expensive > 100` — an undeclared column). A derived gate over a
    // DECLARED column (e.g. flag = doc_id % 2 = 0) does hoist after the
    // same inlining — that is correct, not a leak: the inlined predicate
    // references only passthrough columns.
    val q2 = declared.withColumn("flag", col("expensive") > 100).filter(col("flag"))
    val mp2 = q2.queryExecution.optimizedPlan
      .collectFirst { case m: MapPartitions => m }.get
    assert(mp2.collectFirst { case f: Filter => f }.isEmpty,
      "barrier-computed gate must stay above the barrier")
  }

  test("GateHoist: refuses to hoist when the below-barrier name is ambiguous") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
    // duplicate the n_chars NAME below the barrier (the self-join shape,
    // minus Spark's self-join detector) — name-based rebinding there
    // could silently pick either twin
    val joined = docs.select(col("doc_id"), col("n_chars"),
      (col("n_chars") * 2).as("n_chars"))
    val barrier = joined.as[(Long, Long, Long)]
      .mapPartitions(_.map { case (id, a, _) => (id, a) })
      .toDF("doc_id", "n_chars")
    val declared = graft.plans.GateHoist.declarePassthrough(barrier, "doc_id", "n_chars")
    // the ambiguous-named gate must stay ABOVE the barrier — no guess
    val qAmb = declared.filter(col("n_chars") > 0)
    val mpAmb = qAmb.queryExecution.optimizedPlan
      .collectFirst { case m: MapPartitions => m }.get
    assert(mpAmb.collectFirst { case f: Filter => f }.isEmpty,
      "gate bound to an ambiguous below-barrier name must not hoist")
    // a gate over the UNambiguous declared column still hoists
    val qOk = declared.filter(col("doc_id") % 2 === 0)
    val mpOk = qOk.queryExecution.optimizedPlan
      .collectFirst { case m: MapPartitions => m }.get
    assert(mpOk.collectFirst { case f: Filter => f }.isDefined,
      "unambiguous gate should still hoist below the barrier")
  }

  test("misordered pipeline gate: plan collapses to the well-ordered shape, same job profile") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    def jobsDuring(f: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(1000) } finally spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    // building the frames executes phase 1 (localCheckpoint) — count that too.
    // One untimed warm run first: session-shared memo jobs (table load,
    // parallelism count) otherwise bill to whichever side runs first.
    graft.queries.PipelineQueries.pipelineFrameMiningOracle.spark(spark, sf).collect()
    var misDf: org.apache.spark.sql.DataFrame = null
    var ordDf: org.apache.spark.sql.DataFrame = null
    val ordJobs = jobsDuring {
      ordDf = graft.queries.PipelineQueries.pipelineFrameMiningOracle.spark(spark, sf)
      ordDf.collect()
    }
    val misJobs = jobsDuring {
      misDf = graft.queries.PipelineQueries.pipelineFrameMiningMisordered.spark(spark, sf)
      misDf.collect()
    }
    // identical rows...
    assert(misDf.collect().toSeq == ordDf.collect().toSeq,
      "misordered gate changed the pipeline output")
    // ...same job profile (phase structure identical; only phase-1 bytes
    // differ). r16: the well-ordered run() checkpoints the selected set
    // before its output sort (one extra job) — the misordered variant must
    // stay a single optimizable plan for the gate to hoist, so it runs
    // exactly that one job fewer, and must never run MORE than ordered.
    assert(misJobs == ordJobs || misJobs == ordJobs - 1,
      s"job profile diverged: misordered=$misJobs ordered=$ordJobs")
    // ...and the end-written gate sits BELOW the phase-2 model barrier in
    // the optimized plan: some MapPartitions subtree contains a Filter on
    // the gate's modulus, and no Filter above any barrier remains
    val opt = misDf.queryExecution.optimizedPlan
    val hoisted = opt.collect { case m: MapPartitions => m }
      .exists(_.collectFirst { case f: Filter if f.condition.sql.contains("% 200") => f }.isDefined)
    assert(hoisted, s"end-written gate not hoisted below the model barrier:\n$opt")
    assert(!opt.collect { case f: Filter if f.condition.sql.contains("% 200") => f }
        .exists(_.collectFirst { case m: MapPartitions => m }.isDefined),
      s"gate still above a model barrier:\n$opt")
  }

  test("misordered E4 gate: resolution gate hoists below the detect barrier, same rows") {
    val mis = graft.queries.PipelineQueries.pipelineBgCurationMisordered.spark(spark, sf)
    val ord = graft.queries.PipelineQueries.pipelineBgCurationOracle.spark(spark, sf)
    // identical rows to the well-ordered pipeline (same oracle SQL
    // certifies both orderings in CORRECTNESS)
    assert(mis.collect().toSeq == ord.collect().toSeq,
      "misordered resolution gate changed the pipeline output")
    // the end-written h/w gate sits BELOW the detect model barrier in the
    // optimized plan (GateHoist splits it out of the computed-column gate
    // conjunction Catalyst merges it into), and no h/w gate remains above
    // any barrier — sub-resolution images never reach the detector
    assertResolutionGateHoisted(mis.queryExecution.optimizedPlan)
  }

  private def assertResolutionGateHoisted(
      opt: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val hoisted = opt.collect { case m: MapPartitions => m }
      .exists(_.collectFirst {
        case f: Filter if f.condition.sql.contains("1000") => f }.isDefined)
    assert(hoisted, s"resolution gate not hoisted below the detect barrier:\n$opt")
    assert(!opt.collect { case f: Filter if f.condition.sql.contains("1000") => f }
        .exists(_.collectFirst { case m: MapPartitions => m }.isDefined),
      s"resolution gate still above a model barrier:\n$opt")
  }

  test("GateHoist reaches a fresh newSession() through Tables.table") {
    // GraftFunctions.register is the only path that installs the rule; a
    // newSession() child starts without it, and the first Tables.table
    // call (inside the pipeline build) must install it
    val fresh = GraftSession.local(4).newSession()
    assert(!fresh.experimental.extraOptimizations.contains(graft.plans.GateHoist))
    assertResolutionGateHoisted(graft.queries.PipelineQueries
      .pipelineBgCurationMisordered.spark(fresh, sf).queryExecution.optimizedPlan)
  }

  test("misordered E2 gate: validity gate hoists below the VLM barrier, same rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, MapPartitions}
    val mis = graft.queries.PipelineQueries.pipelineCaptionMisordered.spark(spark, sf)
    val ord = graft.queries.PipelineQueries.pipelineCaption.spark(spark, sf)
    // identical rows to the well-ordered pipeline (same oracle SQL
    // certifies both orderings in CORRECTNESS)
    assert(mis.collect().toSeq == ord.collect().toSeq,
      "misordered validity gate changed the pipeline output")
    // the end-written output_image gate sits BELOW the VLM barrier in the
    // optimized plan (GateHoist carries it through the record Project and
    // the declared passthrough), and no such gate remains above any
    // barrier — invalid records never reach the captioner
    val opt = mis.queryExecution.optimizedPlan
    val hoisted = opt.collect { case m: MapPartitions => m }
      .exists(_.collectFirst {
        case f: Filter if f.condition.sql.contains("/out/") => f }.isDefined)
    assert(hoisted, s"validity gate not hoisted below the VLM barrier:\n$opt")
    assert(!opt.collect { case f: Filter if f.condition.sql.contains("/out/") => f }
        .exists(_.collectFirst { case m: MapPartitions => m }.isDefined),
      s"validity gate still above the VLM barrier:\n$opt")
    // ...and it lands ABOVE the widened union, so every invalid record is
    // discarded between the scan and the model (GateHoist runs in the
    // user-provided batch after Catalyst's pushdown, so the branch is cut
    // at runtime by the filter rather than pruned at plan time — the same
    // guarantee level as the E3/E4 pins: no gated-out row reaches a model)
    val gateOverUnion = opt.collect {
      case f: Filter if f.condition.sql.contains("/out/") => f }
      .exists(_.collectFirst {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isDefined)
    assert(gateOverUnion, s"hoisted gate does not guard the widened union:\n$opt")
  }

  test("misordered E1 gate: duration gate pushes below the tile Generate, same rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, MapPartitions}
    val mis = graft.queries.PipelineQueries.pipelineE1Misordered.spark(spark, sf)
    val ord = graft.queries.PipelineQueries.pipelineE1.spark(spark, sf)
    // identical rows to the well-ordered pipeline (same oracle SQL
    // certifies both orderings in CORRECTNESS)
    assert(mis.collect().toSeq == ord.collect().toSeq,
      "misordered duration gate changed the pipeline output")
    // E1 has NO model barrier between the late gate and the scan, so
    // plain Catalyst predicate pushdown alone must collapse the plan
    // (this is the boundary where GateHoist is NOT needed): inside the
    // cut barrier's subtree, a total_duration gate sits BELOW the tile
    // Generate — too-short videos produce no segments and never reach
    // the cut stage
    // NB: projection collapse rewrites the gate's total_duration reference
    // into the scan-side expression (value * 60.0 in this testdata's
    // manifest), so the pin is structural: the only Filter that CAN sit
    // below the Generate is the pushed duration gate (the tile's own
    // seg-length filter references the generated column and must stay
    // above), so `some Filter below the Generate` pins exactly it.
    val opt = mis.queryExecution.optimizedPlan
    val pushed = opt.collect { case m: MapPartitions => m }.exists(
      _.collectFirst { case g: Generate => g }.exists(
        _.child.collectFirst { case f: Filter => f }.isDefined))
    assert(pushed, s"duration gate not pushed below the tile Generate:\n$opt")
  }

  test("vocab_coverage ranks over a TakeOrdered top-30, not the full vocabulary") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = SparkEntry.queries("vocab_coverage")(spark, sf).queryExecution.sparkPlan
    // the top-30 lands via the bounded per-partition heap
    assert(p.collectFirst { case t: TakeOrderedAndProjectExec => t }.isDefined,
      s"no TakeOrderedAndProject in:\n$p")
    // and no single-partition exchange feeds any Window: the rank/cumsum
    // window's input is the 30-row TakeOrdered result, never the vocabulary
    p.collect { case w: WindowExec => w }.foreach { w =>
      assert(w.collectFirst {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.numPartitions == 1 => e
        }.isEmpty,
        s"single-partition exchange feeds a Window in:\n$p")
      assert(w.collectFirst { case t: TakeOrderedAndProjectExec => t }.isDefined,
        s"Window input not bounded by TakeOrdered in:\n$p")
    }
  }

  test("plan audit: no registered query has an unpartitioned Window over unbounded input") {
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
      LocalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // vocab_coverage's full-vocab single-partition rank+cumsum window was
    // found by hand in round 8 (a one-task sort of the 10⁸–10⁹-row
    // vocabulary on a web corpus). This audit makes the CLASS impossible:
    // every unpartitioned Window in every registered query's physical
    // plan must have a limit-class node (TakeOrdered / Global / Local /
    // CollectLimit — all bounded per-partition heaps or row caps) in its
    // input subtree, or carry a documented bounded-cardinality
    // justification below. A whitelist entry that stops matching an
    // actual unpartitioned window FAILS the audit (stale entries rot).
    // Scope: the plan each query RETURNS; eagerly-materialized interior
    // stages (memoized chains, checkpoints) are pinned by their own
    // dedicated plan tests above.
    val boundedByConstruction: Map[String, String] = Map(
      "bt_rating" -> "#player-row frame: rank window over the event-type vocabulary (AlignmentQueries.btRatings)",
      "funnel_steps" -> "3-row steps frame: lag window over the view/click/purchase union (MiscQueries.funnelSteps)",
      "mix_epochs" -> "per-source aggregate (~#sources rows): corpus-total window (SelectionQueries.mixEpochs)",
      "mix_doremi" -> "per-source aggregate (~#sources rows): weight-normalization windows (SelectionQueries.mixDoremi)",
      "mix_anneal" -> "per-source aggregate (~#sources rows): corpus-total + pool windows (SelectionQueries.mixAnneal)",
      "pipeline_select" -> "per-source aggregate: temperatureThresholds' min window (SelectionQueries.temperatureThresholds)",
      "sample_temperature" -> "per-source aggregate: temperatureThresholds' min window (SelectionQueries.temperatureThresholds)",
      "sample_weighted" -> "per-source counts aggregate (~20 rows): min window (CurationQueries.sampleWeightedQ)",
      "unigram_train_oracle" -> "pruned tokenizer vocabulary (singles + top-40 multi, ≤ ~76 rows): rank window; the bounding TakeOrdered prune sits behind the trainer's localCheckpoint (SelectionQueries.unigramTrainOracle)",
      "unigram_train_em_oracle" -> "pruned tokenizer vocabulary (singles + top-40 multi, ≤ ~76 rows): rank window over the full-EM trainer's pruned vocab; the bounding TakeOrdered prune sits behind the trainer's localCheckpoint (SelectionQueries.unigramTrainEmOracle)")
    val offenders = collection.mutable.ArrayBuffer[String]()
    val hits = collection.mutable.Set[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val plan = build(spark, sf).queryExecution.sparkPlan
      val unbounded = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty &&
          w.collectFirst {
            case t: TakeOrderedAndProjectExec => t: Any
            case g: GlobalLimitExec => g: Any
            case l: LocalLimitExec => l: Any
            case c: CollectLimitExec => c: Any
          }.isEmpty => w
      }
      if (unbounded.nonEmpty) {
        if (boundedByConstruction.contains(name)) hits += name
        else offenders += name
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window over unbounded input in: ${offenders.mkString(", ")}")
    assert(hits == boundedByConstruction.keySet,
      "stale whitelist entries (no unpartitioned window in plan): " +
        (boundedByConstruction.keySet -- hits).mkString(", "))
  }

  test("unpartitioned-window warnings are muted, and such a window stays visible to the audit") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.spark.sql.execution.window.WindowExec
    assert(LogManager.getLogger(GraftSession.WindowExecLogger).getLevel == Level.ERROR)
    // the registry-wide audit above reads the physical plan, not the log:
    // a genuinely unbounded window still plans as a WindowExec with no
    // partition spec over the whole scan
    val ranked = spark.read.parquet(s"$sf/documents.parquet").withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("doc_id")))
    val windows = ranked.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.exists(_.partitionSpec.isEmpty),
      s"expected an unpartitioned Window:\n${ranked.queryExecution.sparkPlan}")
  }

  test("plan audit: no registered query nests two unbounded sides in a loop join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
      LocalLimitExec, TakeOrderedAndProjectExec}
    // The window audit's sibling for the OTHER classic scale-killer: a
    // nested-loop join (Cartesian or BroadcastNestedLoop) whose sides
    // BOTH grow with the corpus is O(n·m) comparisons and a driver-OOM
    // broadcast at 100 TB. A loop join is legitimate only when one side
    // is structurally bounded — a grouping-free (1-row) aggregate or a
    // limit-class node below it (the `crossJoin(broadcast(totals))`
    // report shape) — or when the query is a DOCUMENTED bounded-by-data
    // design, whitelisted below with its bound. Stale entries fail.
    def bounded(p: SparkPlan): Boolean = p.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a: Any
      case t: TakeOrderedAndProjectExec => t: Any
      case g: GlobalLimitExec => g: Any
      case l: LocalLimitExec => l: Any
      case c: CollectLimitExec => c: Any
    }.isDefined
    val boundedByDesign: Map[String, String] = Map(
      "cosine_topk" -> "brute-force cosine BASELINE by design (query arm = 1% id filter); the ANN tiers are the scale path",
      "ann_binary_topk" -> "Hamming prefilter arm joins the deterministic bounded query sample (SimilarityQueries)",
      "ann_matryoshka_topk" -> "prefix funnel joins the deterministic bounded query sample (SimilarityQueries)",
      "ann_recall_tiers" -> "per-tier brute-force TRUTH arms over the bounded query sample — the recall denominator",
      "dedup_embedding_cosine" -> "embedding near-dup joins the bounded query/anchor sample (SimilarityQueries)",
      "rrf_fusion" -> "dense arm query = single vec_id 0 row (filter, not aggregate); lexical arm is TakeOrdered-bounded",
      "corpus_overlap" -> "source-pair frame: non-equi join over the #source vocabulary (~20 rows/side), never documents",
      "dedup_levenshtein" -> "bounded pairwise design: doc_id < 100 prefix pairs, broadcast side ≤ 100 rows",
      "dedup_ngram_jaccard" -> "bounded pairwise design: doc_id < 200 shingle pairs (the dedup_components fixture)")
    val offenders = collection.mutable.ArrayBuffer[String]()
    val hits = collection.mutable.Set[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val plan = build(spark, sf).queryExecution.sparkPlan
      val unbounded = plan.collect {
        case j: BroadcastNestedLoopJoinExec if !bounded(j.left) && !bounded(j.right) => j: Any
        case j: CartesianProductExec if !bounded(j.left) && !bounded(j.right) => j: Any
      }
      if (unbounded.nonEmpty) {
        if (boundedByDesign.contains(name)) hits += name else offenders += name
      }
    }
    assert(offenders.isEmpty,
      s"loop join with two unbounded sides in: ${offenders.mkString(", ")}")
    assert(hits == boundedByDesign.keySet,
      "stale whitelist entries (no unbounded loop join in plan): " +
        (boundedByDesign.keySet -- hits).mkString(", "))
  }

  test("nearDupClusters memo: the second policy query launches zero chain-build jobs") {
    // dedup_representative and dedup_soft_weights share one clustering
    // build per (session, dir): the memoized chain is fully checkpointed,
    // so the SECOND invocation must return without launching a job.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val (wk1, cp1) = graft.queries.DatasetQueries.nearDupClusters(spark, sf) // warm the memo
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(1000) // drain straggling listener events from the warm build
      val before = jobs.get()
      val (wk2, cp2) = graft.queries.DatasetQueries.nearDupClusters(spark, sf)
      assert((wk2: AnyRef).eq(wk1) && (cp2: AnyRef).eq(cp1),
        "memo must return the same frames")
      Thread.sleep(1000)
      assert(jobs.get() == before,
        s"memoized chain launched ${jobs.get() - before} jobs on the second call")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("near-dup policy layers: one membership join, no aggregate, one comp exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // dedup_soft_weights and dedup_representative are windows over comp on
    // the memoized frames: no per-comp aggregate joined back, so the only
    // join left is keep_id = id, and the windows share one exchange
    Seq("dedup_soft_weights", "dedup_representative").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val opt = df.queryExecution.optimizedPlan
      val joins = opt.collect { case j: Join => j }
      assert(joins.size == 1 && joins.head.condition.exists(_.sql.contains("keep_id")),
        s"$q: expected the membership join alone:\n$opt")
      assert(opt.collect { case a: Aggregate => a }.isEmpty, s"$q: aggregate in:\n$opt")
      df.collect()
      val fin = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
        .executedPlan.toString
      val n = "hashpartitioning\\(comp#".r.findAllIn(fin).size
      assert(n == 1, s"$q: $n comp exchanges in the final plan:\n$fin")
    }
  }

  test("decontaminate counts distinct grams and test docs without an Expand") {
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    val opt = SparkEntry.queries("decontaminate")(spark, sf).queryExecution.optimizedPlan
    assert(opt.collect { case e: Expand => e }.isEmpty, s"Expand in:\n$opt")
  }

  test("trainer memo: the fertility twin of each tokenizer family builds with zero training jobs") {
    // The _oracle and _fertility twins share one trained chain per
    // (session, dir, family): the trainers' unrolled-DP localCheckpoints
    // execute at DataFrame-BUILD time, so after the oracle twin has
    // trained, BUILDING the fertility twin's frame must launch no job at
    // all — its reporting layer is pure lazy plan on the memoized
    // checkpointed frames.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    for ((first, second) <- Seq(
        "bpe_train_oracle" -> "bpe_train_fertility",
        "wordpiece_train_oracle" -> "wordpiece_train_fertility",
        "unigram_train_oracle" -> "unigram_train_fertility",
        "unigram_train_em_oracle" -> "unigram_train_em_fertility")) {
      SparkEntry.queries(first)(spark, sf) // build = train once, memoized
      spark.sparkContext.addSparkListener(listener)
      try {
        Thread.sleep(1000) // drain straggling listener events from the train
        val before = jobs.get()
        SparkEntry.queries(second)(spark, sf) // build only — no action
        Thread.sleep(1000)
        assert(jobs.get() == before,
          s"$second launched ${jobs.get() - before} jobs at build time " +
            s"after $first had trained (memo miss)")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
