package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call: which op, which layer it calls into, its wall time,
  * and the trace op id when it ran traced (0 otherwise).
  */
final case class Sample(kind: String, layer: String, secs: Double, op: Long)

/** State shared by a run's workload: the session, the failure ledger,
  * the timed samples and the optional tracer.
  */
final class Run(val spark: SparkSession, val cpus: Int, val tracer: Option[Tracer]) {
  val samples = ArrayBuffer.empty[Sample]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  /** JVM-clock millis of the first timed call; the end of set-up. */
  var firstTimedMs: Option[Long] = None

  def tracing: Boolean = tracer.exists(_.tracing)

  /** Step `k` of a timed phase of `total` steps. A traced run traces the
    * first and last quarter of the steps and leaves the middle half
    * untraced, so warm-up over the phase weighs on both sides alike.
    */
  def traceStep(k: Int, total: Int): Unit = tracer.foreach { t =>
    val quarter = 4 * k / total
    if (quarter == 0 || quarter == 3) t.start() else t.stop()
  }

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** An untimed call (set-up, warm-up, correctness checks). A throw is a
    * failed op.
    */
  def untimed[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch { case NonFatal(e) => fail(s"$what: $e"); None }
  }

  /** A timed call. A throw is a failed op and is never recorded as a time. */
  def timed[T](kind: String, layer: String)(f: => T): Option[T] = {
    if (firstTimedMs.isEmpty) firstTimedMs = Some(System.currentTimeMillis())
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val (r, op) = tracer match {
        case Some(t) => t.op(s"$layer.$kind")(f)
        case None => (f, 0L)
      }
      samples += Sample(kind, layer, (System.nanoTime() - t0) / 1e9, op)
      Some(r)
    } catch { case NonFatal(e) => fail(s"$kind: $e"); None }
  }
}

/** A workload: untimed set-up, then a fixed number of timed laps in a
  * closed loop.
  */
trait Workload {
  /** Median seconds per op group over the given samples. */
  def medians(samples: Seq[Sample]): Map[String, Double] =
    samples.groupBy(s => group(s.kind)).map { case (g, s) => g -> Stats.median(s.map(_.secs)) }

  def setup(): Unit
  /** Timed laps per run. */
  def laps: Int
  /** Timed lap `i` of [[laps]]. */
  def lap(i: Int): Unit
  /** The op a sample's kind is summarised under. */
  def group(kind: String): String = kind
  /** The groups whose latency a user of the workload waits on. */
  def latencyGroups(groups: Set[String]): Set[String] = groups
  /** Seconds per pass over the workload's op list, from each group's
    * median time.
    */
  def passSeconds(median: Map[String, Double]): Double
  /** Number of passes the given (traced) samples make up. */
  def passes(traced: Seq[Sample]): Double
  /** Workload-specific per-layer metrics, from a traced run. */
  def layerMetrics(tracer: Tracer): Map[String, Double]
}
