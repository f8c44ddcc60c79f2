package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central registry + read seam for the `SPARK_GRAFT_*` MEASUREMENT
  * knobs — environment switches that exist only so probes can A/B a
  * plan mechanism (today: slice bounds). The defining contract of every
  * knob in [[valueIdentity]]: flipping it changes HOW a registered query
  * executes, never WHAT it returns — rows are identical either way.
  *
  * Why a registry instead of per-knob pins (r13 verdict task 8): each
  * knob used to carry its own ad-hoc identity test, so nothing stopped
  * the next knob author from shipping an unpinned one. Now
  * (1) every knob's value-identity is asserted by ONE spec law that
  * iterates this registry (ScaleOpsSpec "measurement-knob registry
  * law"), and (2) a source scan in the same law extracts every
  * `SPARK_GRAFT_[A-Z_]+` token from `src/main` and requires it to be
  * either a registered identity knob or in [[excluded]] with a reason —
  * an unclassified knob fails the build.
  *
  * Read sites go through [[get]], which consults the test-only
  * [[overrides]] map before the real environment — the seam that lets
  * the law flip knobs in-JVM (`sys.env` is immutable from Scala).
  * Production behavior is byte-identical: overrides is empty outside
  * tests, and `get` then IS `sys.env.get`.
  */
object MeasurementKnobs {

  /** Test-only override map; production code never writes it. */
  @volatile private[graft] var overrides: Map[String, String] = Map.empty

  /** The knob read used by every gated site (overrides, then env). */
  def get(name: String): Option[String] =
    overrides.get(name).orElse(sys.env.get(name))

  /** A value-identity measurement knob: running `probe` with
    * `name=measurementValue` must return exactly the rows the unset run
    * returns. `probe` builds through the GATED code path on the small
    * fixed corpus at `sfDir` — the law executes it on both sides. */
  final case class Knob(name: String, measurementValue: String, why: String,
                        probe: (SparkSession, String) => DataFrame)

  /** Every measurement knob whose contract is value-identity. */
  def valueIdentity: Seq[Knob] = Seq(
    Knob("SPARK_GRAFT_KNN_CHUNK_PROPOSALS", "100000",
      "forces multi-slice NN-descent rounds on the fixed corpus (vs one slice)",
      (s, dir) => graft.queries.SimilarityQueries.knnGraphEdges(
        graft.queries.Tables.table(s, dir, "embeddings")
          .select("vec_id", "embedding"))))

  /** `SPARK_GRAFT_*` names that are NOT value-identity knobs, with the
    * reason the law exempts each. Session/harness configuration changes
    * the execution ENVIRONMENT (topology, scale, output paths) — a
    * different experiment, not a gated plan mechanism inside one query;
    * the one corpus knob changes the probe INPUT by design. */
  val excluded: Map[String, String] = Map(
    "SPARK_GRAFT_MASTER" -> "topology selection (session config, not a plan gate)",
    "SPARK_GRAFT_EXEC_MEM" -> "executor sizing (session config)",
    "SPARK_GRAFT_SHUFFLE" -> "shuffle-partition sizing (session config)",
    "SPARK_GRAFT_CPUS" -> "local core count (session config)",
    "SPARK_GRAFT_SF_DIR" -> "bench input directory (harness config)",
    "SPARK_GRAFT_WARM_DIR" -> "bench warmup directory (harness config)",
    "SPARK_GRAFT_ONLY" -> "bench query filter (harness config)",
    "SPARK_GRAFT_REPEATS" -> "bench repeat count (harness config)",
    "SPARK_GRAFT_BENCH_OUT" -> "bench artifact path (harness config)",
    "SPARK_GRAFT_SALT_ALIASED" ->
      "swaps in the deliberately period-aliased probe corpus — changes the INPUT by design (negative-control geometry), so value-identity cannot apply")
}
