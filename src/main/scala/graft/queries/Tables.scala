package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test-table loaders + the synthetic "video manifest" view used to exercise
  * the video-pipeline operators on the driver testdata (TESTDATA.md): the
  * `events` table stands in for a video manifest — `value * 60` seconds of
  * footage per row, a deterministic `/data/videos/video_<id>.mp4` path.
  * Every query's DuckDB oracle builds the identical view from the same
  * parquet, so both sides see byte-identical inputs.
  */
object Tables {

  /** One DataFrame per (session, table path): every query reading a test
    * table through [[table]] shares the SAME analyzed plan, so (a) file
    * listing/schema inference runs once, and (b) the plan-keyed
    * [[graft.operators.Similarity.corpusCount]] memo hits across queries
    * — a Verify/Bench session invoking several auto-depth stages pays ONE
    * count job for the shared corpus instead of one per stage. Safe for
    * the read-only testdata contract; frames are immutable. The memo holds
    * one entry per (session, table) for as long as the SparkContext runs:
    * [[graft.ops.SessionMemo]] drops entries only when the context stops,
    * so every `newSession()` that reads a table keeps its frames alive
    * until then. */
  private val frames = new graft.ops.SessionMemo[String, DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frames(spark, s"$sfDir/$name.parquet")(load(spark, sfDir, name))

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet has carried TIMESTAMP(NANOS) (readable only as a
    // nanosecond-epoch LongType under this legacy flag) and TIMESTAMP(MICROS)
    // (read natively as TIMESTAMP_NTZ) across testdata generations. Set the
    // flag lazily so it holds in whatever session the harness hands us, then
    // normalize below so every consumer sees one canonical shape.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The ns-epoch view of a naive timestamp is its UTC reading (DuckDB's
    // epoch_ns does the same), so the NTZ→instant cast must run under UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // The GateHoist optimizer rule into the harness-provided session.
    graft.plans.GraftFunctions.register(spark)
    // NOTE on input parallelism: the driver testdata is one file with ONE
    // row group per table (the atomic split unit), so scan-rooted narrow
    // stages run on a single core. A blanket repartition floor here was
    // measured a NET LOSS at bench scale — the extra full-table shuffle
    // costs more than the parallelism gains on small data, and doubles up
    // with the keyed exchange of window/agg queries. The floor is applied
    // surgically instead, at CPU-heavy pipeline stage entrances
    // (graft.ops.Parallelism.ensure), where fan-out/model work dominates.
    normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  /** Canonicalize an event-time `ts` column to a NANOSECOND-EPOCH LONG —
    * the shape every downstream query and oracle assumes — regardless of
    * the physical parquet type (ns-long under nanosAsLong, µs
    * TIMESTAMP_NTZ, or instant TIMESTAMP). Integer µs→ns scaling only;
    * no floating point can perturb an event time. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * 1000L)
      case _ => df // already a long (or absent)
    }
  }

  /** Synthetic video manifest from `events` (video_id, file_path, total_duration). */
  def manifest(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").select(
      col("event_id").as("video_id"),
      format_string("/data/videos/video_%d.mp4", col("event_id")).as("file_path"),
      (col("value") * 60).as("total_duration"))

  /** [[manifest]] with the video_id RANGE partitioning established first,
    * on the bare events scan columns (r15 sort-early shape): consumers
    * that fan out (tiling, samplers) and end in a `(video_id, ...)` total
    * order finish with `sortWithinPartitions` over the disjoint video_id
    * ranges instead of a final global sort — so the explode and any
    * derived strings run ONCE, distributed, rather than twice (range
    * sampling re-executes the sort child) on the single scan core. The
    * file_path/total_duration projection sits ABOVE the exchange: only
    * (event_id, value) cross the wire. */
  def manifestRanged(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").select(col("event_id"), col("value"))
      .transform(df => graft.ops.Parallelism.byRange(df, col("event_id")))
      .select(
        col("event_id").as("video_id"),
        format_string("/data/videos/video_%d.mp4", col("event_id")).as("file_path"),
        (col("value") * 60).as("total_duration"))

  /** The documents scan with the doc_id RANGE partitioning established
    * first (r15 sort-early shape — see [[manifestRanged]]): the shared
    * base for narrow per-doc queries that end in a doc_id total order.
    * Column pruning inserts the needed-columns projection BELOW the
    * exchange, so each consumer shuffles only what it reads. */
  def documentsRanged(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Parallelism.byRange(table(spark, sfDir, "documents"), col("doc_id"))

  /** DuckDB CTE body equivalent to [[manifest]] — prepend as
    * `WITH manifest AS (<this>) ...` in oracle SQL. */
  val manifestSql: String =
    "SELECT event_id AS video_id, " +
      "printf('/data/videos/video_%d.mp4', event_id) AS file_path, " +
      "value * 60 AS total_duration FROM events"
}
