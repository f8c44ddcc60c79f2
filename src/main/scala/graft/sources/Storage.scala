package graft.sources

import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout helpers for the 100 TB path: small-file compaction
  * into range-clustered files, and a Z-order clustering key, so parquet
  * footer stats let readers skip whole files.
  */
object Storage {

  /** Small-file compaction with clustering: rewrite a parquet directory
    * into ≈`targetFileMB`-sized files, range-partitioned AND sorted on
    * `sortCols` — so after the rewrite, every file owns a disjoint key
    * range and parquet footer min/max stats let readers skip whole files
    * for selective predicates. Returns (filesBefore, filesAfter).
    *
    * The streaming-ingest antidote: a 100 TB table accreted from
    * micro-batches is thousands of KB-files per partition; scans pay
    * per-file open cost and no stat clusters. Run this as the
    * maintenance pass (Delta OPTIMIZE's moral equivalent on raw parquet). */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileMB: Int, sortCols: String*): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    def parquetFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      fs.listStatus(path).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(inPath)
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetFileMB * 1048576L - 1) / (targetFileMB * 1048576L)).toInt
    val df = spark.read.parquet(inPath)
    df.repartitionByRange(nFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    (before.size.toLong, parquetFiles(outPath).size.toLong)
  }

  /** Z-order (Morton) clustering key: interleave the low `bits` bits of
    * two non-negative dimension columns so rows close in BOTH dimensions
    * get close keys — sort/range-partition by this before writing and
    * parquet min/max stats prune on either dimension, not just the
    * leading sort column. Pure bitwise Catalyst ops (codegen'd, and
    * exactly reproducible in any engine with integer shifts). */
  def zOrderKey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      val aBit = shiftleft(shiftrightunsigned(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
      val bBit = shiftleft(shiftrightunsigned(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      aBit.bitwiseOR(bBit)
    }.reduce(_.bitwiseOR(_))
}
