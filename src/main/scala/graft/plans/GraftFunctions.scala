package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** Registration of graft's native Catalyst expressions and optimizer
  * rules. [[GraftFunctions.register]] is the one path: `GraftSession`
  * calls it on every session it builds, and `Tables.table` calls it
  * lazily on any session a caller hands in (including `newSession()`
  * children, which start with an empty rule list). The rules land in
  * the optimizer's "User Provided Optimizers" batch.
  */
object GraftFunctions {

  /** Whether THIS thread's active session has the native expressions —
    * decided per session via its function registry, never via JVM-global
    * state: a second SparkSession that skipped [[register]] must get the
    * declarative HOF fallback, or its analysis fails on the unresolved
    * `graft_*` call. No active session → fall back (always correct). */
  def nativeAvailable: Boolean =
    SparkSession.getActiveSession.exists { s =>
      try s.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_cosine"))
      catch { case _: Throwable => false }
    }

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> { children =>
      require(children.length == 2, "graft_cosine expects exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    },
    "graft_simhash" -> { children =>
      require(children.length == 1, "graft_simhash expects exactly 1 argument")
      SimHash64(children.head)
    },
    "graft_sorted_intersect_count" -> { children =>
      require(children.length == 2, "graft_sorted_intersect_count expects exactly 2 arguments")
      SortedIntersectCount(children.head, children(1))
    },
    "graft_fingerprint" -> { children =>
      require(children.length == 1, "graft_fingerprint expects exactly 1 argument")
      Fingerprint64(children.head)
    },
    "graft_topk" -> { children =>
      require(children.length == 3, "graft_topk expects (score, id, k)")
      TopKAgg(children(0), children(1), children(2))
    })

  /** Registered native function names (diagnostics / A-B tooling). */
  def names: Seq[String] = builders.map(_._1)

  /** Idempotent per-session registration (the registry itself is the
    * book-keeping — no identity-hash session keying, which can collide).
    * Returns true when the native expressions are available in the
    * session. */
  def register(spark: SparkSession): Boolean =
    try {
      val reg = spark.sessionState.functionRegistry
      if (!reg.functionExists(FunctionIdentifier("graft_cosine")))
        builders.foreach { case (name, b) =>
          reg.createOrReplaceTempFunction(name, b, "built-in")
        }
      if (!spark.experimental.extraOptimizations.contains(IntersectCountRewrite))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ IntersectCountRewrite
      if (!spark.experimental.extraOptimizations.contains(GateHoist))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ GateHoist
      true
    } catch { case _: Throwable => false }
}
