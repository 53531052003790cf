package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py`:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cpus <n> --data <dir> --expected <tsv> --run-dir <dir> --out <prefix>
  *                [--queries <list>]
  * perfbench.Main --bless <tsv> --times <tsv> --cpus <n> --data <dir> --run-dir <dir>
  * }}}
  * Prints one JSON result as the last line of standard output.
  */
object Main {

  /** Timed laps of a query workload. A traced run makes two, so that
    * every query is timed both traced and untraced.
    */
  def queryLaps(trace: Boolean): Int = if (trace) 2 else 1

  val Workloads: Seq[String] = Seq("metric-store", "series-analytics", "curation-pipeline")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_geomean_ms" -> "ms")

  /** `<prefix>.<suffix>`, with the prefix's directory created. */
  private def outFile(prefix: String, suffix: String): java.nio.file.Path = {
    val p = Paths.get(s"$prefix.$suffix")
    Files.createDirectories(p.toAbsolutePath.getParent)
    p
  }

  private def session(cpus: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val runDir = opt("run-dir")
    val dataDir = opt("data")
    val spark = session(cpus, runDir)
    try {
      opt.get("bless") match {
        case Some(out) =>
          sys.exit(if (Bless(spark, dataDir, out, opt("times")) == 0) 0 else 1)
        case None => println(bench(spark, opt, cpus, runDir, dataDir))
      }
    } finally spark.stop()
  }

  private def bench(spark: SparkSession, opt: Map[String, String], cpus: Int,
      runDir: String, dataDir: String): String = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val run = new Run(spark, cpus, tracer)
    lazy val expected = Expected.load(opt("expected"))
    lazy val queries = QueryList.load(opt("queries"))
    val w: Workload = workload match {
      case "metric-store" => new MetricLoad(run, runDir, seed)
      case "series-analytics" =>
        new QueryLoad(run, dataDir, expected, queries, seed, buildStores = false, queryLaps(trace))
      case "curation-pipeline" =>
        new QueryLoad(run, dataDir, expected, queries, seed, buildStores = true, queryLaps(trace))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
    }

    def phase(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f s")
    phase("session up")
    w.setup()
    phase("set-up done")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // a fixed number of whole laps, so every run measures the same work at
    // the same warmth; `--seconds` only caps a run that has become slow
    val lapSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (lapSecs.isEmpty || (lapSecs.size < w.laps && System.nanoTime() < deadline)) {
      val t0 = System.nanoTime()
      w.lap(lapSecs.size)
      lapSecs += (System.nanoTime() - t0) / 1e9
    }
    val lap = lapSecs.size
    tracer.foreach(_.stop())
    phase(s"timed phase done after $lap laps")
    val setupS = (run.firstTimedMs.getOrElse(System.currentTimeMillis()) -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val host = Probes.take(spark, cpus)
    phase("probes done")

    val samples = run.samples.toSeq
    val med = w.medians(samples)
    val lat = w.latencyGroups(med.keySet).toSeq.map(med)
    val e2e: Map[String, Double] = Map(
      "setup_s" -> setupS,
      "pass_s" -> (if (med.isEmpty) Double.NaN else w.passSeconds(med)),
      "op_geomean_ms" -> (if (lat.isEmpty) Double.NaN
        else 1e3 * math.exp(lat.map(math.log).sum / lat.size)))
    val layers: Map[String, Double] = tracer.map { t =>
      val out = outFile(opt("out"), "spans.jsonl")
      t.write(out)
      Layers.metrics(t, w, run, host) ++ w.layerMetrics(t)
    }.getOrElse(Map.empty)

    val units = EndToEnd.toMap ++ Layers.units
    val shown = if (trace) Layers.names.map(n => n -> layers.getOrElse(n, 0.0))
      else EndToEnd.map { case (n, _) => n -> e2e(n) }
    val metricsJson = Stats.obj(shown.map { case (n, v) =>
      n -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.q(units(n))))
    })
    val failed = run.failures.size.toLong
    val correct = failed == 0 && shown.forall { case (_, v) => !v.isNaN }
    // the full record of the run, host-noise readings included
    val record = Stats.obj(Seq(
      "workload" -> Stats.q(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "cpus" -> cpus.toString, "laps" -> lap.toString, "timed_ops" -> samples.size.toString,
      "lap_s" -> lapSecs.map(Stats.num).mkString("[", ",", "]"),
      "host" -> Stats.obj(Seq("cpu_probe_s" -> Stats.num(host.cpuS),
        "mem_probe_s" -> Stats.num(host.memS), "stage_floor_s" -> Stats.num(host.stageFloorS))),
      "end_to_end" -> Stats.obj(e2e.toSeq.sorted.map { case (k, v) => k -> Stats.num(v) }),
      "per_layer" -> Stats.obj(layers.toSeq.sorted.map { case (k, v) => k -> Stats.num(v) }),
      "per_op_median_s" -> Stats.obj(med.toSeq.sorted.map { case (k, v) => k -> Stats.num(v) }),
      "samples" -> Stats.obj(samples.groupBy(s => w.group(s.kind)).toSeq.sortBy(_._1).map {
        case (k, s) => k -> s.size.toString }),
      "failures" -> run.failures.map(Stats.q).mkString("[", ",", "]")))
    Files.write(outFile(opt("out"), "record.json"), (record + "\n").getBytes("UTF-8"))
    System.err.println(s"[perfbench] host $host")
    Stats.obj(Seq("correct" -> correct.toString, "attempted" -> run.attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsJson))
  }
}
