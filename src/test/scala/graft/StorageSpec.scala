package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Storage

class StorageSpec extends AnyFunSuite {
  import TestSpark.spark

  test("partitioned write: reads prune partitions at the directory level") {
    val dir = TestDirs.create("graft_part").toString + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("lang") === "de")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected partition pruning in:\n$plan")
    assert(read.count() == docs.filter(col("lang") === "de").count())
  }

  test("compaction: many small files become few range-clustered files") {
    import spark.implicits._
    val inDir = TestDirs.create("graft_small").toString
    val outDir = TestDirs.create("graft_compact").toString + "/out"
    // 40 tiny files, keys shuffled across them (worst-case clustering)
    (0L until 4000L).map(i => (i * 2654435761L % 4000L, s"payload_$i"))
      .toDF("k", "v").repartition(40).write.mode("overwrite").parquet(inDir)
    val (before, after) = Storage.compact(spark, inDir, outDir, targetFileMB = 1, "k")
    assert(before == 40L && after < before)
    // same rows survive
    assert(spark.read.parquet(outDir).count() == 4000L)
    // clustering: per-file key ranges are disjoint (footer-stat skipping)
    val ranges = spark.read.parquet(outDir)
      .select(col("k"), input_file_name().as("f"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"overlapping file ranges $a $b")
      case _ => ()
    }
  }

  test("Ivf.compact: per-list file count drops to ceil(bytes/target); probe bit-identical") {
    import graft.operators.{Ivf, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val centers = Similarity.md5PlaneInts(8, 1, 64, "graft-ivf-oracle")(0)
      .map(_.map(h => h.toDouble / (1L << 60).toDouble * 2.0 - 1.0))
    val path = TestDirs.create("graft_ivf_cmp").toString + "/ix"
    Ivf.save(Ivf.fromCenters(emb.filter(col("vec_id") % 5 =!= 0), centers), path)
    Ivf.appendSave(path, emb.filter(col("vec_id") % 10 === 0))
    Ivf.appendSave(path, emb.filter(col("vec_id") % 10 === 5))
    def filesPerList(): Map[Int, (Long, Long)] = {
      val root = new java.io.File(s"$path/assigned")
      root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("list_id="))
        .map { d =>
          val fs = d.listFiles().filter(_.getName.endsWith(".parquet"))
          d.getName.stripPrefix("list_id=").toInt -> (fs.length.toLong, fs.map(_.length).sum)
        }.toMap
    }
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def probe() = Ivf.topK(Ivf.load(spark, path), q, k = 5, nProbe = 2)
      .orderBy("qid", "rank").collect().toSeq
    val beforeFiles = filesPerList()
    val beforeRows = probe()
    // append touched lists carry one extra file per batch
    assert(beforeFiles.values.exists(_._1 >= 3),
      s"expected appended small files, got $beforeFiles")
    val report = Ivf.compact(spark, path, targetFileMB = 1)
    val afterFiles = filesPerList()
    afterFiles.foreach { case (list, (nf, bytes)) =>
      val want = math.max(1L, (bytes + (1L << 20) - 1) / (1L << 20))
      assert(nf == want, s"list $list: $nf files, want ceil($bytes/1MB)=$want")
    }
    assert(report.map(r => r._1 -> r._2).toMap == beforeFiles.map { case (k, v) => k -> v._1 })
    assert(probe() == beforeRows, "probe results changed across compaction")

    // crash-recovery protocol: every interruption point of the swap
    // (tmp written; live renamed aside; old delete skipped) must leave a
    // state the NEXT compact() self-heals — no data loss, probe identical.
    val root = new java.io.File(s"$path/assigned")
    val anyList = root.listFiles().filter(_.getName.startsWith("list_id=")).head
    val lid = anyList.getName.stripPrefix("list_id=")
    // crash between the two renames: live dir moved aside, tmp missing
    assert(anyList.renameTo(new java.io.File(root, s".compact_old_list_id=$lid")))
    Ivf.compact(spark, path, targetFileMB = 1)
    assert(probe() == beforeRows, "rows lost after rename-aside crash recovery")
    // crash after the swap, before the old copy's delete: both dirs exist
    val live = new java.io.File(root, s"list_id=$lid")
    val oldCopy = new java.io.File(root, s".compact_old_list_id=$lid")
    org.apache.commons.io.FileUtils.copyDirectory(live, oldCopy)
    // and a stale tmp from an incomplete compacted copy
    val staleTmp = new java.io.File(root, s".compact_tmp_list_id=$lid")
    org.apache.commons.io.FileUtils.copyDirectory(live, staleTmp)
    Ivf.compact(spark, path, targetFileMB = 1)
    assert(!oldCopy.exists() && !staleTmp.exists(), "leftover swap dirs not healed")
    assert(probe() == beforeRows, "rows changed after completed-swap recovery")
  }

  test("IVF lifecycle queries register their index directories for deletion at JVM exit") {
    // SimilarityQueries.indexScratchPath's naming, rebuilt here so the
    // check does not itself register the paths
    val sf = "/root/testdata/sf0.001"
    Seq("ann_ivf_persisted" -> "persisted", "ann_ivf_incremental" -> "incr",
        "ann_ivf_compact" -> "compact").foreach { case (query, kind) =>
      val rows = SparkEntry.queries(query)(spark, sf).count()
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_ivf_${kind}_${spark.sparkContext.applicationId}_sf0.001")
      assert(rows > 0 && dir.isDirectory, s"$query: index at $dir not readable")
      assert(org.apache.spark.sql.graft.ShutdownDeleteProbe.registered(dir),
        s"$query: $dir is not deleted at JVM exit")
    }
  }

  test("zOrderKey: matches scalar Morton interleave; locality beats 1-D sort") {
    import spark.implicits._
    def morton(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val got = pts.toDF("x", "y")
      .withColumn("z", Storage.zOrderKey(col("x"), col("y")))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == morton(x, y), s"($x,$y)") }
    // locality: within any 64-key z-range, the x/y bounding box is small
    // (a 1-D sort by x would put all 32 y-values in every x-slice)
    val byZ = got.sortBy(_._3).grouped(64).toSeq
    val avgBox = byZ.map { g =>
      (g.map(_._1).max - g.map(_._1).min + 1) * (g.map(_._2).max - g.map(_._2).min + 1)
    }.sum.toDouble / byZ.size
    assert(avgBox <= 256.0, s"z-order locality too weak: avg bounding box $avgBox")
  }

  test("bucketed tables: co-located join runs without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      li.select("l_orderkey", "l_quantity").write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").format("parquet").saveAsTable("li_bucketed")
      o.select("o_orderkey", "o_totalprice").write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").format("parquet").saveAsTable("o_bucketed")
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }
}
