package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.{MetricStore, StoreParams}

/** The kadiyadb core through `MetricStore`: one client tracks the next
  * four hours of points, then fetches recent windows back, in a closed loop.
  *
  * A seeded generator makes (host, metric) points with Zipf-skewed host
  * popularity, in time order, so each track appends a segment to the
  * newest day epoch. It keeps its own tally per (prefix, bucket); every
  * fetch's rows, totals and counts are checked against it. Values are
  * whole numbers, so sums are exact in any order. When a new day starts
  * the closed day is compacted and the store expired to two epochs.
  */
final class MetricLoad(run: Run, root: String, seed: Long) extends Workload {
  private val spark = run.spark
  private val params = StoreParams(resolution = "minute", epochDuration = "day",
    retentionEpochs = 2, fields = Seq("host", "metric"))
  private val dir = s"$root/metricstore"
  private val store = new MetricStore(spark, dir, params)
  private val rnd = new java.util.Random(seed)

  private val PointsPerHour = 5000
  private val HoursPerTrack = 4
  private val CyclesPerEpoch = 24 / HoursPerTrack
  private val WarmupCycles = 1
  /** Set-up (back-fill, then warm-up cycles) ends as the third day
    * starts, so the timed laps make up one whole day and the first timed
    * cycle always holds the rollover with its compaction and expiry.
    */
  private val BackfillHours = 48 - WarmupCycles * HoursPerTrack
  private val hosts = {
    val hs = Array.tabulate(48)(i => f"h$i%02d")
    // Fisher-Yates with the workload's own generator: the seed picks
    // which hosts are popular
    for (i <- hs.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = hs(i); hs(i) = hs(j); hs(j) = t
    }
    hs.toVector
  }
  private val metrics = Vector("cpu", "mem", "disk", "net", "load", "iops")
  private val zipfCdf = {
    val w = hosts.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def pickHost(): String = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    hosts(math.min(if (i >= 0) i else -i - 1, hosts.size - 1))
  }

  private val t0 = LocalDateTime.of(2024, 3, 1, 0, 0)
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def stamp(minute: Long): String = t0.plusMinutes(minute).format(tsFmt)
  private def epochOfDay(day: Long): String = t0.plusDays(day).toLocalDate.toString

  private val schema = StructType(Seq(
    StructField("ts", TimestampNTZType), StructField("host", StringType),
    StructField("metric", StringType), StructField("value", DoubleType)))

  /** minute → (depth, host, metric) → (total, count). */
  private val tally = mutable.HashMap.empty[Long, mutable.HashMap[(Int, String, String), Array[Long]]]
  private val pointsPerDay = mutable.HashMap.empty[Long, Long]
  /** The first day holds only its last track of points: enough for the
    * timed expiry to drop, and older than any timed fetch reaches.
    */
  private var hour = 24L - HoursPerTrack
  private var trackedPoints = 0L
  private var tracedTrackPoints = 0L
  private var tracedRowsReturned = 0L
  private val bytesPerPoint = mutable.ArrayBuffer.empty[Double]
  private val segmentsPerEpoch = mutable.ArrayBuffer.empty[Double]

  /** The next `hours` of points, time-ordered, added to the tally. */
  private def nextSlice(hours: Int): (org.apache.spark.sql.DataFrame, Int) = {
    val n = PointsPerHour * hours
    val startSec = hour * 3600
    val secs = Array.fill(n)(startSec + (rnd.nextDouble() * hours * 3600).toLong).sorted
    val rows = new java.util.ArrayList[Row](n)
    secs.foreach { s =>
      val host = pickHost()
      val metric = metrics(rnd.nextInt(metrics.size))
      val v = rnd.nextInt(1000).toLong
      val minute = s / 60
      val m = tally.getOrElseUpdate(minute, mutable.HashMap.empty)
      Seq((1, host, null: String), (2, host, metric)).foreach { k =>
        val a = m.getOrElseUpdate(k, Array(0L, 0L)); a(0) += v; a(1) += 1
      }
      rows.add(Row(t0.plusSeconds(s), host, metric, v.toDouble))
    }
    (hour until hour + hours).foreach(h => pointsPerDay(h / 24) = pointsPerDay.getOrElse(h / 24, 0L) + PointsPerHour)
    hour += hours
    (spark.createDataFrame(rows, schema), n)
  }

  private def track(hours: Int, timed: Boolean): Unit = {
    val (df, n) = nextSlice(hours)
    if (timed) {
      val traced = run.tracing
      run.timed("track", "MetricStore")(store.track(df)).foreach { _ =>
        trackedPoints += n
        if (traced) tracedTrackPoints += n
      }
    } else run.untimed("track")(store.track(df))
  }

  /** Fetch one window and check it against the tally. */
  private def fetch(kind: String, pattern: Seq[Option[String]], window: Long,
      timed: Boolean): Unit = {
    val to = hour * 60
    val from = math.max(0L, to - window)
    def call() = store.fetch(stamp(from), stamp(to), pattern).collect()
    val rows = if (timed) run.timed(kind, "MetricStore")(call()) else run.untimed(kind)(call())
    rows.foreach { rs =>
      val got = rs.map { r =>
        val minute = ChronoUnit.MINUTES.between(t0, r.getAs[LocalDateTime]("bucket"))
        (r.getAs[Int]("depth"), r.getAs[String]("host"), r.getAs[String]("metric"), minute) ->
          (r.getAs[Double]("total"), r.getAs[Long]("cnt"))
      }.toMap
      val want = (from until to).flatMap { m =>
        tally.getOrElse(m, Map.empty).collect {
          case ((d, h, mt), a) if d == pattern.length &&
              pattern.zip(Seq(h, mt)).forall { case (p, v) => p.forall(_ == v) } =>
            (d, h, mt, m) -> (a(0).toDouble, a(1))
        }
      }.toMap
      if (got.size != rs.length || got != want)
        run.fail(s"$kind ${pattern.mkString("/")} [$from, $to): ${rs.length} rows, " +
          s"expected ${want.size}; ${(got.toSet diff want.toSet).take(3)}")
      if (timed && run.tracing) tracedRowsReturned += rs.length
    }
  }

  private def epochDirs(): Seq[(String, Path)] = {
    val root = Paths.get(dir, "points")
    if (!Files.exists(root)) return Seq.empty
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("epoch="))
        .map(p => p.getFileName.toString.stripPrefix("epoch=") -> p).toVector
    } finally s.close()
  }

  private def parquetFiles(p: Path): Int = {
    val s = Files.list(p)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).count().toInt
    finally s.close()
  }

  /** Track `hours`; at a day rollover, compact the closed day first and
    * expire after.
    */
  private def ingest(hours: Int, timed: Boolean): Unit = {
    def maint[T](kind: String)(f: => T): Unit =
      if (timed) run.timed(kind, "MetricStore")(f) else run.untimed(kind)(f)
    val newDay = hour % 24 == 0 && hour > 0
    if (newDay) maint("compact")(store.compact(epochOfDay(hour / 24 - 1)))
    track(hours, timed)
    if (newDay) {
      maint("expire")(store.expire())
      val cutoffDay = hour / 24 - (params.retentionEpochs - 1)
      tally.keys.filter(_ < cutoffDay * 1440).toSeq.foreach(tally.remove)
      pointsPerDay.keys.filter(_ < cutoffDay).toSeq.foreach(pointsPerDay.remove)
    }
  }

  /** One track of the next hours, then four fetches of recent windows. */
  private def cycle(timed: Boolean): Unit = {
    ingest(HoursPerTrack, timed)
    fetch("fetch_exact", Seq(Some(pickHost()), Some(metrics(rnd.nextInt(metrics.size)))), 360, timed)
    fetch("fetch_metric", Seq(None, Some(metrics(rnd.nextInt(metrics.size)))), 60, timed)
    fetch("fetch_host", Seq(Some(pickHost()), None), 180, timed)
    fetch("fetch_prefix", Seq(Some(pickHost())), 720, timed)
  }

  def setup(): Unit = {
    while (hour < BackfillHours)
      ingest(math.min(24 - hour % 24, BackfillHours - hour).toInt, timed = false)
    (0 until WarmupCycles).foreach(_ => cycle(timed = false))
  }

  def laps: Int = CyclesPerEpoch

  def lap(i: Int): Unit = {
    run.traceStep(i, laps)
    cycle(timed = true)
    if (run.tracing) {
      val epochs = epochDirs()
      val files = epochs.map(e => parquetFiles(e._2)).sum
      segmentsPerEpoch += files.toDouble / math.max(1, epochs.size)
      bytesPerPoint += Stores.treeBytes(Paths.get(dir, "points")).toDouble /
        math.max(1L, pointsPerDay.values.sum)
    }
  }

  /** The four fetch patterns are summarised as one op. */
  override def group(kind: String): String = if (kind.startsWith("fetch")) "fetch" else kind

  override def latencyGroups(groups: Set[String]): Set[String] =
    groups.intersect(Set("track", "fetch"))

  /** Busy seconds per cycle: the track, four fetches, and compact +
    * expire shared over the cycles of a day.
    */
  def passSeconds(median: Map[String, Double]): Double =
    median.getOrElse("track", 0.0) + 4 * median.getOrElse("fetch", 0.0) +
      (median.getOrElse("compact", 0.0) + median.getOrElse("expire", 0.0)) / CyclesPerEpoch

  def passes(traced: Seq[Sample]): Double = traced.count(_.kind == "track").toDouble

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    val all = run.samples.toSeq
    val cycles = math.max(1, all.count(_.kind == "track"))
    def busy(p: Sample => Boolean) = all.filter(p).map(_.secs).sum / cycles
    def tracedSum(kind: String => Boolean)(f: OpCounts => Long): Double =
      all.filter(s => s.op != 0 && kind(s.kind)).map(s => f(tracer.countsOf(s.op))).sum.toDouble
    val trackSecs = all.filter(_.kind == "track").map(_.secs).sum
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Map(
      "MetricStore.track.busy_s" -> busy(_.kind == "track"),
      "MetricStore.track.points_per_s" -> (if (trackSecs > 0) trackedPoints / trackSecs else 0.0),
      "MetricStore.write_bytes_per_point" ->
        tracedSum(_ == "track")(_.outputBytes) / math.max(1L, tracedTrackPoints),
      "MetricStore.fetch.busy_s" -> busy(_.kind.startsWith("fetch")),
      "MetricStore.fetch.files_read" -> tracedSum(_.startsWith("fetch"))(_.filesRead) /
        math.max(1, all.count(s => s.op != 0 && s.kind.startsWith("fetch"))),
      "MetricStore.fetch.rows_scanned_per_row_returned" ->
        tracedSum(_.startsWith("fetch"))(_.inputRecords) / math.max(1L, tracedRowsReturned),
      "MetricStore.expire.busy_s" -> busy(_.kind == "expire"),
      "MetricStore.compact.busy_s" -> busy(_.kind == "compact"),
      "MetricStore.segments_per_epoch" -> med(segmentsPerEpoch.toSeq),
      "MetricStore.store_bytes_per_point" -> med(bytesPerPoint.toSeq))
  }
}
