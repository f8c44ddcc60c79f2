package perfbench

import java.util.concurrent.atomic.LongAdder

import graft.ml.Models._

/** Model-call counters fed by the counting wrappers below. Local mode runs
  * every executor thread in the driver JVM, so plain JVM-global adders see
  * all calls. */
object ModelCounters {
  val items = new LongAdder
  val batches = new LongAdder
  val nanos = new LongAdder

  def reset(): Unit = { items.reset(); batches.reset(); nanos.reset() }

  /** (records passed to models, model invocations, seconds inside models
    * summed over executor threads). */
  def snapshot(): (Long, Long, Double) = (items.sum, batches.sum, nanos.sum / 1e9)

  def timed[T](n: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      nanos.add(System.nanoTime() - t0)
      items.add(n)
      batches.increment()
    }
  }
}

/* Counting wrappers around the model fakes the `graft.pipelines` classes
 * take as factories. Batched hooks delegate to the wrapped model's own
 * batched hook, so results are bit-identical to the unwrapped fake. */
import ModelCounters.timed

final class CountingPersonDetector(m: PersonDetector) extends PersonDetector {
  def detect(v: Long, f: Long): Seq[Box] = timed(1)(m.detect(v, f))
  override def detectBatch(items: Seq[(Long, Long)]): Seq[Seq[Box]] =
    timed(items.size)(m.detectBatch(items))
}

final class CountingFaceDetector(m: FaceDetector) extends FaceDetector {
  def detect(v: Long, f: Long, slot: Int): Seq[Face] = timed(1)(m.detect(v, f, slot))
  override def detectBatch(items: Seq[(Long, Long, Int)]): Seq[Seq[Face]] =
    timed(items.size)(m.detectBatch(items))
}

final class CountingQualityScorer(m: FaceQualityScorer) extends FaceQualityScorer {
  def score(v: Long, f: Long, slot: Int): Double = timed(1)(m.score(v, f, slot))
  override def scoreBatch(items: Seq[(Long, Long, Int)]): Seq[Double] =
    timed(items.size)(m.scoreBatch(items))
}

final class CountingEmbedder(m: FaceEmbedder) extends FaceEmbedder {
  def embed(v: Long, f: Long, slot: Int): Array[Float] = timed(1)(m.embed(v, f, slot))
  override def embedBatch(items: Seq[(Long, Long, Int)]): Seq[Array[Float]] =
    timed(items.size)(m.embedBatch(items))
}

final class CountingCaptioner(m: Captioner) extends Captioner {
  def caption(prompt: String, imgs: Seq[String]): String = timed(1)(m.caption(prompt, imgs))
  override def captionBatch(batch: Seq[(String, Seq[String])]): Seq[String] =
    timed(batch.size)(m.captionBatch(batch))
}

final class CountingMasker(m: GroundingMasker) extends GroundingMasker {
  def maskRect(id: Long, b: Box, h: Long, w: Long): Option[Box] = timed(1)(m.maskRect(id, b, h, w))
  override def maskRectBatch(items: Seq[(Long, Box, Long, Long)]): Seq[Option[Box]] =
    timed(items.size)(m.maskRectBatch(items))
}

final class CountingMatting(m: Matting) extends Matting {
  def removeBackground(id: Long, i: Int): Option[Array[Byte]] = timed(1)(m.removeBackground(id, i))
  override def removeBackgroundBatch(items: Seq[(Long, Int)]): Seq[Option[Array[Byte]]] =
    timed(items.size)(m.removeBackgroundBatch(items))
}

final class CountingRelighter(m: Relighter) extends Relighter {
  def relight(id: Long, i: Int): Option[Array[Byte]] = timed(1)(m.relight(id, i))
  override def relightBatch(items: Seq[(Long, Int)]): Seq[Option[Array[Byte]]] =
    timed(items.size)(m.relightBatch(items))
}

final class CountingVideoTool(m: VideoTool) extends VideoTool {
  def probe(path: String): Either[String, (Double, Double)] = timed(1)(m.probe(path))
  def cut(src: String, dst: String, start: Double, dur: Double, attempt: Int): Either[String, Unit] =
    timed(1)(m.cut(src, dst, start, dur, attempt))
}
