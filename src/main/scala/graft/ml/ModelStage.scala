package graft.ml

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}

/** Executor-side model lifecycle — the Spark analog of the reference's
  * per-worker lazy model init (Ray actor state): models load ONCE per
  * executor JVM and are shared by every task/partition on that executor,
  * never serialized with the job. Only [[ModelStage.Model]] reads it, so
  * every key is a factory digest, never a caller-chosen name.
  * Ref: pipeline/caption.py:31-56 (lazy `_loaded` latch),
  * pipeline/video_extract_frame.py:55-87 (init_models_in_worker),
  * pipeline/cut_30min.py:68-85 (_ensure_ops).
  */
object ExecutorSingleton {
  private val cache = new ConcurrentHashMap[String, AnyRef]()

  /** Get-or-create the executor-local instance for `key`. `init` runs at
    * most once per JVM (computeIfAbsent), concurrent tasks share it. */
  private[ml] def getOrCreate[T <: AnyRef](key: String)(init: => T): T =
    cache.computeIfAbsent(key, _ => init).asInstanceOf[T]

  /** Test hooks. */
  private[graft] def clear(): Unit = cache.clear()
  private[graft] def instances: Seq[AnyRef] = cache.values.asScala.toSeq
}

/** The one model-stage operator of the media pipelines: an opaque
  * partition map that feeds its input to the stage's per-batch model code
  * `batchSize` rows at a time, every model an executor singleton. The
  * model call is one fusion boundary with one contract (PAPERS.md,
  * *Machine Learning Inference Pipeline Execution Using Pure SQL Based on
  * Operator Fusion*, ICDE 2025). It decides two things for every stage:
  *
  *  - the singleton key: a digest of the factory's Java-serialized bytes,
  *    taken on the driver when the [[Model]] handle is built. Different
  *    factories never share a model; the same factory — or the same lambda
  *    built again — reused across passes or sessions loads one instance per
  *    JVM, so the cache does not grow with each pass;
  *  - the streaming `grouped(batchSize)` loop (memory O(batchSize), never
  *    the partition) and the optional [[graft.plans.GateHoist]] passthrough
  *    declaration on its output.
  *
  * The per-batch body stays the stage's own: gates between model tiers,
  * errors-as-data columns, the retry envelope. The plan is
  * `SerializeFromObject(MapPartitions(DeserializeToObject(...)))` under the
  * `toDF` rename — the barrier shape GateHoist matches.
  */
object ModelStage {

  /** A model factory with its executor-singleton key. */
  final class Model[T <: AnyRef] private[ModelStage] (factory: () => T, key: String)
    extends Serializable {
    /** This executor's instance, built by the factory on first use. */
    def get: T = ExecutorSingleton.getOrCreate(key)(factory())
  }

  /** Wrap `factory`; its key is digested here, on the driver. */
  def model[T <: AnyRef](factory: () => T): Model[T] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    try out.writeObject(factory) finally out.close()
    val digest = MessageDigest.getInstance("SHA-256").digest(bytes.toByteArray)
    new Model(factory, digest.map("%02x".format(_)).mkString)
  }

  /** Run `batch` over `input` in `batchSize` chunks inside one partition
    * map; the output frame is named `columns`, and `passthrough` (names
    * among them) declares the columns every output row copies verbatim
    * from its source row. */
  def apply[I, O: Encoder](input: Dataset[I], batchSize: Int, columns: Seq[String],
                           passthrough: Seq[String] = Nil)
                          (batch: Seq[I] => IterableOnce[O]): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val out = input.mapPartitions(_.grouped(batchSize).flatMap(batch)).toDF(columns: _*)
    if (passthrough.isEmpty) out
    else graft.plans.GateHoist.declarePassthrough(out, passthrough: _*)
  }

  /** `inputs` paired in order with the `results` of one batched model
    * `call` on them. A model that returns a different number of results
    * fails the task, naming the call and both lengths — a plain `zip`
    * would drop rows without an error. */
  def aligned[I, R](call: String, inputs: Seq[I], results: Seq[R]): Seq[(I, R)] = {
    if (results.length != inputs.length)
      throw new IllegalStateException(
        s"$call returned ${results.length} results for ${inputs.length} inputs")
    inputs.zip(results)
  }
}

/** Bounded retry with exponential backoff + deterministic jitter — the
  * reference's ffmpeg retry envelope (common/video/ffmpeg_cut_op.py:16,40-59:
  * max 3 attempts, sleep 2^n + jitter) with the RNG seeded per item so the
  * data plane stays deterministic (SURVEY §7 "what's hard" #5). */
object Retry {
  def withRetry[T](maxAttempts: Int, baseBackoffMs: Long, jitterSeed: Long)
                  (attempt: Int => Either[String, T]): Either[String, T] = {
    val rng = new scala.util.Random(jitterSeed)
    var last: Either[String, T] = Left("no attempts made")
    var i = 0
    while (i < maxAttempts) {
      last = attempt(i)
      if (last.isRight) return last
      i += 1
      if (i < maxAttempts && baseBackoffMs > 0) {
        val sleepMs = (math.pow(2, i) * baseBackoffMs).toLong + rng.nextInt(100)
        Thread.sleep(sleepMs)
      }
    }
    last
  }
}
