package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** IVF (inverted-file) approximate nearest neighbour — the coarse-
  * quantizer scale path next to [[Similarity.lshTopKPlanes]]: k-means centroids
  * partition the corpus into `nLists` inverted lists; a query probes its
  * `nProbe` nearest centroids and ranks exactly within those lists only.
  *
  * Scale shape — the standard billion-vector recipe:
  *  - the quantizer fits on a BOUNDED sample (default 100×nLists rows):
  *    centroid quality converges long before the full corpus is seen, so
  *    the sample collects to the driver (≤ ~10⁵ small vectors) and Lloyd
  *    iterations run locally — zero distributed jobs per iteration,
  *    against Spark ML's one-job-per-iteration KMeans;
  *  - assignment is a narrow map over the full scan: the centroid set
  *    (nLists × dim doubles) broadcasts as plan literals and `list_id` is
  *    a pure argmin expression — codegen'd, no model object, no shuffle;
  *  - search is an equi-join on `list_id` (one shuffle keyed by list), so
  *    per-query work is `nProbe/nLists` of the corpus instead of all of it.
  */
object Ivf {

  final case class Index(centers: Array[Array[Double]], assigned: DataFrame)

  /** Deterministic k-means++ seeding + Lloyd iterations over an in-memory
    * sample (all math in double; ties break to the lowest index). */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int, seed: Long,
                           maxIter: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train a quantizer on an empty sample")
    val dim = points(0).length
    val rng = new scala.util.Random(seed)
    val n = points.length

    def d2(a: Array[Array[Double]], ci: Int, p: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val c = a(ci)
      while (i < dim) { val d = p(i) - c(i); s += d * d; i += 1 }
      s
    }

    // k-means++: first center uniform, then proportional to squared distance
    val centers = Array.ofDim[Double](k, dim)
    centers(0) = points(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var total = 0.0
      var i = 0
      while (i < n) {
        val d = d2(centers, c - 1, points(i))
        if (d < minD(i)) minD(i) = d
        total += minD(i); i += 1
      }
      var pick = rng.nextDouble() * total
      var j = 0
      while (j < n - 1 && pick > minD(j)) { pick -= minD(j); j += 1 }
      centers(c) = points(j).clone()
      c += 1
    }
    lloydIterations(points, centers, maxIter)
  }

  /** The Lloyd UPDATE machinery, factored out of [[lloyd]] so it can run
    * from GIVEN initial centers: alternate nearest-center assignment
    * (squared L2, ties to the lowest index) and per-cluster means, up to
    * `maxIter` rounds or until no assignment changes; an empty cluster
    * keeps its previous center. Every op is deterministic given
    * (points, init) — assignment argmin is exact when coordinates are
    * exact, and the update step SUMS THE POINTS, so with integer-valued
    * coordinates every per-cluster sum is an exact integer regardless of
    * accumulation order and every center a single IEEE division. That is
    * the property `kmeans_train_oracle` exploits to replay this exact
    * code path in external SQL — leaving the k-means++ SEEDING (above,
    * Random-driven) as the only unreplayed piece of quantizer training. */
  private[graft] def lloydIterations(points: Array[Array[Double]],
                                     init: Array[Array[Double]],
                                     maxIter: Int): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train a quantizer on an empty sample")
    val dim = points(0).length
    val k = init.length
    val n = points.length
    val centers = init.map(_.clone())

    def d2(ci: Int, p: Array[Double]): Double = {
      var s = 0.0; var i = 0
      val c = centers(ci)
      while (i < dim) { val d = p(i) - c(i); s += d * d; i += 1 }
      s
    }

    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) { // assignment step
        var best = 0; var bestD = Double.MaxValue
        var ci = 0
        while (ci < k) {
          val d = d2(ci, points(i))
          if (d < bestD) { bestD = d; best = ci }
          ci += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Int](k)
      i = 0
      while (i < n) { // update step
        val a = assign(i); counts(a) += 1
        var t = 0
        while (t < dim) { sums(a)(t) += points(i)(t); t += 1 }
        i += 1
      }
      var ci = 0
      while (ci < k) {
        if (counts(ci) > 0) {
          var t = 0
          while (t < dim) { centers(ci)(t) = sums(ci)(t) / counts(ci); t += 1 }
        } // empty cluster: keep the old center (deterministic)
        ci += 1
      }
      iter += 1
    }
    centers
  }

  /** The `nProbe` nearest centroid ids for a vector column (distance
    * asc, id asc): one fused native kernel with the centroids baked in —
    * O(1) planning and a tight primitive loop. (An argmin over literal
    * structs costs seconds of Catalyst analysis per query — measured 5.9 s
    * planning at nLists=32/dim=64.) `nProbe` must lie in [1, #centers]. */
  private def probes(vec: Column, centers: Array[Array[Double]], nProbe: Int): Column =
    ColumnBridge.column(
      graft.plans.CentroidProbes(ColumnBridge.expression(vec), centers, nProbe))

  /** Nearest-centroid id as a pure expression. */
  private def nearestList(vec: Column, centers: Array[Array[Double]]): Column =
    element_at(probes(vec, centers, 1), 1)

  /** Index from a GIVEN codebook — externally trained centers, or fixed
    * replayable ones (e.g. [[Similarity.md5Planes]]): every vector is
    * assigned to its nearest center by the SAME argmin expression `build`
    * uses, minus the Lloyd loop. With an md5 codebook the whole search
    * path (assignment, probe ordering, in-list re-rank) becomes
    * engine-replayable — `ann_ivf_topk_oracle` pins it against DuckDB,
    * leaving only k-means training as unverifiable driver state. */
  def fromCenters(vectors: DataFrame, centers: Array[Array[Double]],
                  vecCol: String = "embedding"): Index =
    Index(centers, vectors.withColumn("list_id", nearestList(col(vecCol), centers)))

  /** Train the coarse quantizer on a bounded sample and assign every
    * vector to its list. `assigned` = input columns + `list_id`.
    * Deterministic via seed. */
  def build(vectors: DataFrame, nLists: Int, seed: Long = 42L,
            vecCol: String = "embedding", maxIter: Int = 8,
            sampleCap: Long = 0L): Index = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cap = if (sampleCap > 0) sampleCap else 100L * nLists
    // Size the sample fraction from plan statistics instead of an exact
    // count() — at corpus scale the count is a full extra pass over the
    // vectors. rowCount when CBO has it; else file bytes / schema default
    // row size. The estimate only STEERS the fraction — it is never
    // trusted for boundedness or sufficiency:
    //  - every collect below is capped by limit(cap) pushed into the
    //    scan, so a low estimate can never collect the whole corpus;
    //  - schema default sizes undercount array columns (Spark assumes
    //    one element per array), inflating `est` ~dim× for embedding
    //    rows and starving the fraction — so any realized sample under
    //    cap/2 triggers ONE bounded hash-spread re-read (cap-row heap
    //    per partition, never scans past one pass).
    val stats = vectors.queryExecution.optimizedPlan.stats
    val defaultRow = math.max(1, vectors.schema.map(_.dataType.defaultSize).sum)
    val est = stats.rowCount.map(_.toLong)
      .getOrElse((stats.sizeInBytes / defaultRow).toLong).max(1L)
    // Bounded read that stays UNIFORM even when stats lie: order by a
    // deterministic hash of the vector before the limit. Plans as
    // TakeOrderedAndProject — one pass, a cap-row heap per partition,
    // never a full sort — so if `est <= cap` underestimated a huge corpus
    // (compressed parquet sizeInBytes, no CBO rowCount) the quantizer
    // still trains on a hash-spread slice, not the first file's rows.
    def hashSpreadRead(): Array[Array[Double]] =
      vectors.select(col(vecCol))
        .orderBy(xxhash64(col(vecCol)))
        .limit(cap.toInt).as[Seq[Float]]
        .collect().map(_.toArray.map(_.toDouble)) // bounded: ≤ cap sample rows
    var points =
      if (est <= cap) hashSpreadRead()
      // oversample so the realized sample rarely undershoots cap
      else vectors.sample(withReplacement = false, math.min(1.0, 1.5 * cap / est), seed)
        .select(col(vecCol)).limit(cap.toInt).as[Seq[Float]]
        .collect().map(_.toArray.map(_.toDouble)) // bounded: ≤ cap sample rows
    if (points.length < cap / 2)
      points = hashSpreadRead()
    val centers = lloyd(points, nLists, seed, maxIter)
    val assigned = vectors.withColumn("list_id", nearestList(col(vecCol), centers))
    Index(centers, assigned)
  }

  /** Persist a built index: centroids + the list-assigned corpus as
    * parquet, the assigned side PARTITIONED BY list_id — so a later
    * search session loads only the probed lists from disk (directory
    * pruning), the build-once/probe-many shape a production ANN service
    * needs. At 100 TB, re-deriving assignments per query session is the
    * cost being avoided. */
  def save(index: Index, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    // files under `path` change on disk — a corpus count memoized from a
    // previous load of this path would be stale after the overwrite
    graft.operators.Similarity.countMemo.clear()
    index.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/assigned")
  }

  /** Incremental maintenance: assign NEW vectors to the existing
    * quantizer's lists and append them to the index — the daily-ingest
    * path (retrain only when drift degrades recall; assignment is the
    * same fused CentroidProbes narrow map as at build time, so appending
    * a batch costs one scan of the batch, never a retrain). */
  def addVectors(index: Index, newVectors: DataFrame,
                 vecCol: String = "embedding"): Index = {
    val assigned = newVectors.withColumn("list_id", nearestList(col(vecCol), index.centers))
    Index(index.centers, index.assigned.unionByName(assigned))
  }

  /** Persisted incremental maintenance — the on-disk form of
    * [[addVectors]], the daily-ingest write path: assign the new batch
    * with the SAVED quantizer (one narrow scan of the batch) and APPEND
    * the rows into the existing `list_id`-partitioned layout. Existing
    * files are untouched; only the partitions the batch lands in gain a
    * file, and a later search session still directory-prunes to its
    * probed lists. No rebuild, no retrain — and because assignment is
    * center-deterministic, the appended index answers queries exactly as
    * a full rebuild over base ∪ batch would, which is what
    * `ann_ivf_incremental`'s oracle certifies hash-exactly. */
  def appendSave(path: String, newVectors: DataFrame,
                 vecCol: String = "embedding"): Unit = {
    graft.operators.Similarity.countMemo.clear() // path gains files on disk
    val centers = load(newVectors.sparkSession, path).centers
    newVectors.withColumn("list_id", nearestList(col(vecCol), centers))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/assigned")
  }

  /** Index-maintenance compaction — the counterpart to [[appendSave]]'s
    * one-file-per-touched-partition-per-batch write pattern: after months
    * of daily ingest a probed list directory is hundreds of KB-files, and
    * every probe pays per-file open cost. Rewrite EACH `list_id=`
    * partition into ≈`targetFileMB`-sized files sorted on the id column
    * ([[graft.sources.Storage.compact]] per partition — so parquet footer
    * min/max id stats also cluster), then swap the compacted files in
    * place. Swap protocol (no crash point loses data): compacted files
    * are written to a dot-prefixed `.compact_tmp_` sibling (invisible to
    * partition discovery), the live dir is renamed aside to a
    * dot-prefixed `.compact_old_` sibling, tmp renames into the live
    * name, and only then is the old copy deleted — so every crash point
    * leaves EITHER the old or the new row set on disk (never a
    * delete-before-rename hole), and the next compact() run self-heals:
    * a leftover `.compact_old_` with no live dir renames back (crash
    * between the two renames), one WITH a live dir is a completed swap
    * whose delete didn't run, and stale `.compact_tmp_` dirs are
    * discarded. Renames are atomic on HDFS-like filesystems; on object
    * stores (s3a) a "rename" is copy+delete, so the swap window is
    * wider there and a Hive/Iceberg-style metadata commit is the real
    * production answer — this protocol is still crash-SAFE (no data
    * loss), just not crash-INVISIBLE. Row SET is untouched — a probe
    * after compaction answers bit-identically to one before, which is
    * what `ann_ivf_compact`'s shared oracle certifies hash-exactly.
    * Returns (list_id, filesBefore, filesAfter) per partition. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileMB: Int = 128,
              idCol: String = "vec_id"): Seq[(Int, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val assignedDir = new org.apache.hadoop.fs.Path(s"$path/assigned")
    val fs = assignedDir.getFileSystem(conf)
    // self-heal from a previous crashed compact before listing live dirs
    fs.listStatus(assignedDir).toSeq.foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(".compact_old_")) {
        val live = new org.apache.hadoop.fs.Path(assignedDir,
          nm.stripPrefix(".compact_old_"))
        if (fs.exists(live)) fs.delete(st.getPath, true) // swap done, delete skipped
        else fs.rename(st.getPath, live)                 // crashed between renames
      } else if (nm.startsWith(".compact_tmp_")) {
        fs.delete(st.getPath, true) // incomplete compacted copy — old dir is live
      }
    }
    graft.operators.Similarity.countMemo.clear() // index files change on disk
    fs.listStatus(assignedDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("list_id="))
      .sortBy(_.getPath.getName)
      .map { st =>
        val dir = st.getPath
        val listId = dir.getName.stripPrefix("list_id=").toInt
        val tmp = new org.apache.hadoop.fs.Path(dir.getParent,
          s".compact_tmp_list_id=$listId")
        val old = new org.apache.hadoop.fs.Path(dir.getParent,
          s".compact_old_list_id=$listId")
        val (before, after) =
          graft.sources.Storage.compact(spark, dir.toString, tmp.toString,
            targetFileMB, idCol)
        fs.rename(dir, old)
        fs.rename(tmp, dir)
        fs.delete(old, true)
        (listId, before, after)
      }
  }

  /** Load a persisted index. The assigned frame reads lazily — a probe
    * query's `list_id` equi-join prunes unprobed list directories. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    import spark.implicits._
    val centers = spark.read.parquet(s"$path/centroids")
      .select(col("list_id"), col("center"))
      .as[(Int, Seq[Double])].collect() // bounded: #lists centroid rows
      .sortBy(_._1).map(_._2.toArray)
    Index(centers, spark.read.parquet(s"$path/assigned"))
  }

  /** The `nProbe` nearest list ids for each query vector. */
  private[operators] def probeLists(qvec: Column, centers: Array[Array[Double]], nProbe: Int): Column =
    probes(qvec, centers, nProbe)

  /** Approximate top-k: probe `nProbe` lists per query, exact cosine rank
    * within the probed lists (bounded-heap top-k — see
    * [[Similarity.rankTopK]]). */
  def topK(index: Index, queries: DataFrame, k: Int, nProbe: Int,
           idCol: String = "vec_id", vecCol: String = "embedding",
           qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val probed = queries
      .withColumn("list_id", explode(probeLists(col(qvecCol), index.centers, nProbe)))
    val paired = index.assigned.join(broadcast(probed), Seq("list_id"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", Similarity.cosine(col(vecCol), col(qvecCol)))
    Similarity.rankTopK(paired, k, qidCol, idCol)
  }

  /** Per-query PROBED-CANDIDATE mass — the measured scan-fraction
    * evidence for the recall-at-scale probe (r14 verdict task 1): how
    * many corpus rows land in each query's `nProbe` probed lists, i.e.
    * the rows [[topK]] actually scores. Measured from the real
    * assignment (one narrow per-list count + a tiny probe join), not a
    * balanced-lists assumption — md5 centers over clustered corpora can
    * skew, and a law graded on nProbe/nLists alone would hide it.
    * Returns one row per query: (qidCol, cand_rows). */
  def probedCandidateCounts(index: Index, queries: DataFrame, nProbe: Int,
                            qidCol: String = "qid",
                            qvecCol: String = "qvec"): DataFrame = {
    val sizes = index.assigned.groupBy("list_id")
      .agg(count(lit(1)).as("list_rows"))
    queries
      .withColumn("list_id", explode(probeLists(col(qvecCol), index.centers, nProbe)))
      .join(sizes, Seq("list_id"), "left")
      .groupBy(qidCol)
      .agg(sum(coalesce(col("list_rows"), lit(0L))).as("cand_rows"))
  }

  /** METADATA-FILTERED approximate top-k — the filtered-vector-search
    * shape every retrieval service needs (search only docs matching a
    * predicate: a source, a language, a date range). The predicate
    * arrives as an `allowed`-ids frame and semi-joins the assigned corpus
    * BEFORE the probe join, so disallowed vectors never reach the
    * distance kernel and — on a list_id-partitioned persisted index —
    * the filter composes with partition pruning. One shared index serves
    * every predicate (pre-filtering at query time, not per-predicate
    * index builds); because assignment is per-vector under a fixed
    * codebook, the result is EXACTLY what an index built over only the
    * allowed vectors would return (DedupSimilaritySpec pins the law).
    * With selective predicates widen `nProbe` — probed-list occupancy
    * after the filter is what bounds recall. */
  def topKFiltered(index: Index, queries: DataFrame, allowed: DataFrame,
                   k: Int, nProbe: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val probed = queries
      .withColumn("list_id", explode(probeLists(col(qvecCol), index.centers, nProbe)))
    val paired = index.assigned
      .join(allowed.select(col(idCol)), Seq(idCol), "left_semi")
      .join(broadcast(probed), Seq("list_id"))
      .filter(col(idCol) =!= col(qidCol))
      .withColumn("sim", Similarity.cosine(col(vecCol), col(qvecCol)))
    Similarity.rankTopK(paired, k, qidCol, idCol)
  }
}
