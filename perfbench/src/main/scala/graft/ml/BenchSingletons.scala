package graft.ml

/** Lets the benchmark drop the executor-side model instances when it
  * switches between the registered units and their counting variants.
  * `graft.pipelines.VideoSlicing` and `Captioning` key their model by a
  * fixed name, so without this the variant that ran first would serve both
  * and the counting wrappers would see no calls. */
object BenchSingletons {
  def clear(): Unit = ExecutorSingleton.clear()
}
