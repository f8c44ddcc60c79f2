package graft

/** Run the session-keyed memo isolation law ([[graft.ops.MemoLaws]])
  * under the master chosen by SPARK_GRAFT_MASTER — the ScaleProbe/Verify
  * convention. On `local-cluster[2,16,...]` this pins that the
  * checkpoint-backed memo layer survives executor-side block fetches
  * across sessions (two sessions' chains living in two executor JVMs),
  * which local[n] structurally cannot exercise. Prints one OK line;
  * any violated law throws. */
object MemoProbe {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.fromEnv(defaultCores = 32)
    graft.ops.MemoLaws.sessionIsolation(spark, sf)
    println(s"MEMO LAW OK (master=${spark.sparkContext.master}, sf=$sf)")
    spark.stop()
  }
}
