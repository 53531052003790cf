package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one traced op, summed over its jobs, stages and
  * tasks. Written from the listener-bus thread, read after [[Tracer.drain]].
  */
final class OpCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var peakMem = 0L
  var exchanges, broadcasts, reused, broadcastBytes = 0L
  var filesRead = 0L
}

/** One recorded interval. Times are epoch milliseconds; `parent` is 0 for
  * an op span, the op span for a job, the job span for a stage.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Double, end: Double)

/** Final-plan shape counts: exchanges, broadcasts, reused exchanges and
  * the files the scans read, looking through adaptive query stages and
  * subqueries.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  def count(p: SparkPlan, c: OpCounts): Unit =
    collectWithSubqueries(p) { case n => n }.foreach {
      case _: ShuffleExchangeLike => c.exchanges += 1
      case b: BroadcastExchangeLike =>
        c.broadcasts += 1
        c.broadcastBytes += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      case _: ReusedExchangeExec => c.reused += 1
      case f: FileSourceScanExec => c.filesRead += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ =>
    }
}

/** The traced run's recorder. It registers a SparkListener and a
  * QueryExecutionListener (the library is not changed) and links every
  * Spark job, stage and task to the op that caused it through a local
  * property set around each op. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  import Tracer.OpKey

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val counts = new ConcurrentHashMap[Long, OpCounts]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  /** Op of the latest traced job start. The plan listener runs on the
    * same listener-bus queue, after every job of the execution it reports
    * on, and ops run one at a time, so this is the op that ran the plan.
    */
  @volatile private var lastJobOp: java.lang.Long = null
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long, Double)]()
  private val spans = ArrayBuffer.empty[Span]
  private val lastEvent = new AtomicLong(System.nanoTime())
  @volatile private var on = false

  private def touch(): Unit = lastEvent.set(System.nanoTime())
  private def addSpan(s: Span): Unit = spans.synchronized { spans += s }
  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong)
  private def withCounts(op: java.lang.Long)(f: OpCounts => Unit): Unit =
    if (op != null) Option(counts.get(op.longValue)).foreach(c => c.synchronized(f(c)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      opOf(e.properties).foreach { op =>
        val spanId = ids.getAndIncrement()
        openJobs.put(e.jobId, (op, spanId, e.time.toDouble))
        e.stageInfos.foreach { si =>
          stageOp.put(si.stageId, op)
          stageJobSpan.put(si.stageId, spanId)
        }
        lastJobOp = op
        withCounts(op)(_.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      Option(openJobs.remove(e.jobId)).foreach { case (op, spanId, t0) =>
        addSpan(Span(spanId, op, op, s"job ${e.jobId}", t0, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val si = e.stageInfo
      val op = stageOp.get(si.stageId)
      if (op != null) {
        withCounts(op)(_.stages += 1)
        for (a <- si.submissionTime; b <- si.completionTime)
          addSpan(Span(ids.getAndIncrement(), Option(stageJobSpan.get(si.stageId))
            .map(_.longValue).getOrElse(0L), op, s"stage ${si.stageId}", a.toDouble, b.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      val m = e.taskMetrics
      if (m != null) withCounts(stageOp.get(e.stageId)) { c =>
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      touch()
      withCounts(lastJobOp)(c => PlanShape.count(qe.executedPlan, c))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  /** Register the listeners; ops run while off are timed but not traced. */
  def start(): Unit = if (!on) {
    lastJobOp = null
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  /** Wait for the listener bus to deliver this run's events, then
    * unregister, so the next untraced stretch carries no listener cost.
    */
  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  def tracing: Boolean = on

  /** Block until no job is open and the bus has been quiet for 300 ms. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (!openJobs.isEmpty || System.nanoTime() - lastEvent.get() < 300000000L))
      Thread.sleep(20)
  }

  /** Run `f` as one traced op; returns its op id, or 0 while off. */
  def op[T](name: String)(f: => T): (T, Long) = {
    if (!on) return (f, 0L)
    val id = ids.getAndIncrement()
    counts.put(id, new OpCounts)
    sc.setLocalProperty(OpKey, id.toString)
    val t0 = System.nanoTime() / 1e6
    val wall0 = System.currentTimeMillis().toDouble
    try (f, id)
    finally {
      sc.setLocalProperty(OpKey, null)
      addSpan(Span(id, 0L, id, name, wall0, wall0 + (System.nanoTime() / 1e6 - t0)))
    }
  }

  def countsOf(op: Long): OpCounts = counts.get(op)

  /** Self time of each op span and each job span, in seconds: the span's
    * length minus the part its child spans cover.
    */
  def selfTimes(): (Map[Long, Double], Map[Long, Double]) = {
    val all = spans.synchronized(spans.toVector)
    val byParent = all.groupBy(_.parent)
    def self(s: Span): Double =
      ((s.end - s.start) - Stats.covered(
        byParent.getOrElse(s.id, Vector.empty).map(c => (c.start, c.end)), s.start, s.end)) / 1e3
    val opSpans = all.filter(_.parent == 0L)
    val opIds = opSpans.map(_.id).toSet
    val jobSpans = all.filter(s => opIds.contains(s.parent) && s.name.startsWith("job"))
    (opSpans.map(s => s.id -> self(s)).toMap, jobSpans.map(s => s.op -> self(s))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toVector).map { s =>
      Stats.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Stats.q(s.name),
        "start_ms" -> Stats.num(s.start), "end_ms" -> Stats.num(s.end)))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}
