package perfbench

import java.math.MathContext
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.core.SharedViews
import graft.operators.{DocPairsStore, EmbPairsStore, QuantizerStore, TokenizerStore}

/** A query's expected output at the benchmark's data: its row count and an
  * order-insensitive checksum, plus the graft module it exercises.
  */
final case class Expected(name: String, layer: String, rows: Long, checksum: String)

object Expected {
  /** Reads `expected.tsv`: name, layer, rows, checksum; `#` starts a comment. */
  def load(path: String): Map[String, Expected] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, layer, rows, sum) = l.split("\t")
        n -> Expected(n, layer, rows.toLong, sum)
      }.toMap
  }
}

/** A query workload's list: one query name a line; `#` starts a comment. */
object QueryList {
  def load(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(l => l.takeWhile(_ != '#').trim).filter(_.nonEmpty)
  }
}

/** Row count plus an order-insensitive checksum of a query result. Each
  * row is rendered canonically (doubles to 6 significant digits, values
  * within 1e-9 of zero as 0, map entries sorted), hashed to 64 bits, and
  * the hashes are summed, so row order does not matter but every row does.
  */
object Checksum {
  private val Digits = new MathContext(6)

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  def of(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = canon(r)
      acc += (MurmurHash3.stringHash(s, 0x2f1b).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x51ed).toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }
}

/** The standing stores the curation queries read, built through their
  * public readers. Builds go to `java.io.tmpdir`, which the launcher points
  * at a directory private to the run.
  */
object Stores {
  val readers: Seq[(String, (SparkSession, String) => Long)] = Seq(
    "DocPairsStore" -> ((s, d) => DocPairsStore.lshPairs(s, d).count()),
    "EmbPairsStore" -> ((s, d) => EmbPairsStore.pairs(s, d).count()),
    "TokenizerStore" -> ((s, d) => TokenizerStore.merges(s, d, 8).count()),
    "QuantizerStore" -> ((s, d) =>
      QuantizerStore.kmeans(s, d)._1.count() + QuantizerStore.kmeansPp(s, d)._1.count()))

  def bytesOnDisk(): Long = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    val s = Files.list(tmp)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_"))
        .map(treeBytes).sum
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    } finally w.close()
  }
}

/** The two query workloads: a fixed query list run in a seed-permuted
  * order, for a fixed number of laps. Set-up optionally builds the
  * standing stores cold, then runs every query once, collecting its full
  * result and checking it against `expected.tsv`. Timed laps write every
  * row and column of each query to the noop sink. Each lap starts by
  * dropping the shared views, so a shared build is paid inside the lap.
  */
final class QueryLoad(run: Run, dataDir: String, expected: Map[String, Expected],
    names: Seq[String], seed: Long, buildStores: Boolean, timedLaps: Int) extends Workload {

  private val spark = run.spark
  private val order = new scala.util.Random(seed).shuffle(names)
  private val layerOf = names.map(n => n -> expected.get(n).map(_.layer).getOrElse("unknown")).toMap
  private val storeBuild = mutable.LinkedHashMap.empty[String, Double]
  private var storeOpenS = 0.0
  private var storeBytes = 0L
  private var cachedPeak = 0L

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def setup(): Unit = {
    if (buildStores) {
      Stores.readers.foreach { case (store, read) =>
        run.untimed(s"build $store")(storeBuild(store) = secs(read(spark, dataDir)))
      }
      storeOpenS = secs(Stores.readers.foreach { case (store, read) =>
        run.untimed(s"open $store")(read(spark, dataDir))
      })
      storeBytes = Stores.bytesOnDisk()
      System.err.println(f"[perfbench] stores built in ${storeBuild.values.sum}%.2f s")
    }
    order.foreach { n =>
      run.untimed(s"check $n") {
        val rows = SparkEntry.queries(n)(spark, dataDir).collect()
        val got = Checksum.of(rows)
        expected.get(n) match {
          case None => run.fail(s"$n: no expected output")
          case Some(e) if e.rows != rows.length || e.checksum != got =>
            run.fail(s"$n: ${rows.length} rows, checksum $got; expected ${e.rows} rows, ${e.checksum}")
          case _ =>
        }
      }
      spark.catalog.clearCache()
    }
  }

  def laps: Int = timedLaps

  def lap(i: Int): Unit = {
    SharedViews.reclaimEverything(spark)
    order.zipWithIndex.foreach { case (q, j) =>
      run.traceStep(i * order.size + j, laps * order.size)
      run.timed(q, layerOf(q)) {
        SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
      }
      if (run.tracing)
        cachedPeak = math.max(cachedPeak,
          spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
      spark.catalog.clearCache()
    }
  }

  /** Sum over the queries of each one's median time: one pass, whatever
    * the order the seed chose.
    */
  def passSeconds(median: Map[String, Double]): Double = median.values.sum

  def passes(traced: Seq[Sample]): Double = traced.size.toDouble / names.size

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    val byLayer = run.samples.groupBy(_.layer).map { case (l, s) => l -> medians(s.toSeq).values.sum }
    val layers = Seq("Tsdb", "Analytics", "Dedup", "Similarity", "TextAnalysis",
      "Curation", "Multimodal").map(l => s"$l.busy_s" -> byLayer.getOrElse(l, 0.0))
    val stores = Stores.readers.map { case (s, _) => s"$s.build_s" -> storeBuild.getOrElse(s, 0.0) }
    (layers ++ stores ++ Seq(
      "stores.build_s" -> storeBuild.values.sum,
      "stores.open_s" -> storeOpenS,
      "stores.bytes_on_disk" -> storeBytes.toDouble,
      "SharedViews.cached_bytes_peak" -> cachedPeak.toDouble)).toMap
  }
}

/** Expected-output generation: every query once, its row count and
  * checksum, one TSV line each (name, rows, checksum). It also times every
  * query alone at full output: shared views dropped, then every row and
  * column written to the noop sink, twice; the faster of the two goes to
  * `times` (name, seconds). The benchmark's query lists are chosen from
  * these times.
  */
object Bless {
  def apply(spark: SparkSession, dataDir: String, out: String, times: String): Int = {
    Stores.readers.foreach { case (_, read) => read(spark, dataDir) }
    var failed = 0
    val names = SparkEntry.queries.keys.toSeq.sorted
    val lines = names.map { n =>
      try {
        val rows = SparkEntry.queries(n)(spark, dataDir).collect()
        spark.catalog.clearCache()
        s"$n\t${rows.length}\t${Checksum.of(rows)}"
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] bless $n failed: $e")
          s"$n\tFAILED\t-"
      }
    }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    def alone(n: String): Double = {
      SharedViews.reclaimEverything(spark)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val secs = (1 to 2).map(_ => names.map(n => n -> (try alone(n) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] timing $n failed: $e")
        Double.NaN
    })).toMap)
    val timeLines = names.map(n => f"$n\t${math.min(secs(0)(n), secs(1)(n))}%.3f")
    Files.write(Paths.get(times), (timeLines.mkString("\n") + "\n").getBytes("UTF-8"))
    SharedViews.reclaimEverything(spark)
    failed
  }
}
