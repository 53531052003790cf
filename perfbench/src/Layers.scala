package perfbench

/** The per-layer metrics a traced run prints, every one on every workload
  * (0 where the workload does not call the layer), and the Spark-engine
  * and tracing metrics shared by all workloads. Counts are per pass over
  * the workload's op list, from the traced ops only.
  */
object Layers {
  val units: Map[String, String] = Map(
    "MetricStore.track.busy_s" -> "s",
    "MetricStore.track.points_per_s" -> "1/s",
    "MetricStore.write_bytes_per_point" -> "bytes",
    "MetricStore.fetch.busy_s" -> "s",
    "MetricStore.fetch.files_read" -> "count",
    "MetricStore.fetch.rows_scanned_per_row_returned" -> "ratio",
    "MetricStore.expire.busy_s" -> "s",
    "MetricStore.compact.busy_s" -> "s",
    "MetricStore.segments_per_epoch" -> "count",
    "MetricStore.store_bytes_per_point" -> "bytes",
    "Tsdb.busy_s" -> "s",
    "Analytics.busy_s" -> "s",
    "Dedup.busy_s" -> "s",
    "Similarity.busy_s" -> "s",
    "TextAnalysis.busy_s" -> "s",
    "Curation.busy_s" -> "s",
    "Multimodal.busy_s" -> "s",
    "DocPairsStore.build_s" -> "s",
    "EmbPairsStore.build_s" -> "s",
    "TokenizerStore.build_s" -> "s",
    "QuantizerStore.build_s" -> "s",
    "stores.build_s" -> "s",
    "stores.open_s" -> "s",
    "stores.bytes_on_disk" -> "bytes",
    "SharedViews.cached_bytes_peak" -> "bytes",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.floor_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.core_busy_frac" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_s" -> "s",
    "spark.spill_bytes" -> "bytes",
    "spark.broadcast_bytes" -> "bytes",
    "spark.exchanges" -> "count",
    "spark.broadcasts" -> "count",
    "spark.reused_exchanges" -> "count",
    "spark.peak_exec_memory_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes",
    "trace.op_self_s" -> "s",
    "trace.job_self_s" -> "s",
    "trace.overhead_frac" -> "ratio",
    "host.cpu_probe_s" -> "s",
    "host.mem_probe_s" -> "s",
    "host.stage_floor_s" -> "s")

  val names: Seq[String] = units.keys.toSeq.sorted

  def metrics(t: Tracer, w: Workload, run: Run, host: Probes.Reading): Map[String, Double] = {
    val all = run.samples.toSeq
    val traced = all.filter(_.op != 0)
    val passes = math.max(w.passes(traced), 1e-9)
    val cs = traced.map(s => t.countsOf(s.op))
    def perPass(f: OpCounts => Double): Double = cs.map(f).sum / passes
    val (opSelf, jobSelf) = t.selfTimes()
    val tracedWall = traced.map(_.secs).sum
    val stagesPerPass = perPass(_.stages.toDouble)
    // overhead: per op kind, median traced time over median untraced time
    val pairs = all.groupBy(_.kind).values.flatMap { s =>
      val (on, off) = s.partition(_.op != 0)
      if (on.isEmpty || off.isEmpty) None
      else Some((Stats.median(on.map(_.secs)), Stats.median(off.map(_.secs))))
    }
    val overhead =
      if (pairs.isEmpty) Double.NaN else pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0
    Map(
      "spark.jobs" -> perPass(_.jobs.toDouble),
      "spark.stages" -> stagesPerPass,
      "spark.tasks" -> perPass(_.tasks.toDouble),
      "spark.floor_s" -> stagesPerPass * host.stageFloorS,
      "spark.executor_cpu_s" -> perPass(_.cpuNs / 1e9),
      "spark.gc_s" -> perPass(_.gcMs / 1e3),
      "spark.core_busy_frac" ->
        (if (tracedWall > 0) cs.map(_.runMs / 1e3).sum / (tracedWall * run.cpus) else 0.0),
      "spark.shuffle_write_bytes" -> perPass(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> perPass(_.shuffleRead.toDouble),
      "spark.shuffle_fetch_wait_s" -> perPass(_.fetchWaitMs / 1e3),
      "spark.spill_bytes" -> perPass(_.spillBytes.toDouble),
      "spark.broadcast_bytes" -> perPass(_.broadcastBytes.toDouble),
      "spark.exchanges" -> perPass(_.exchanges.toDouble),
      "spark.broadcasts" -> perPass(_.broadcasts.toDouble),
      "spark.reused_exchanges" -> perPass(_.reused.toDouble),
      "spark.peak_exec_memory_bytes" -> (if (cs.isEmpty) 0.0 else cs.map(_.peakMem).max.toDouble),
      "spark.input_bytes" -> perPass(_.inputBytes.toDouble),
      "trace.op_self_s" -> traced.map(s => opSelf.getOrElse(s.op, 0.0)).sum / passes,
      "trace.job_self_s" -> traced.map(s => jobSelf.getOrElse(s.op, 0.0)).sum / passes,
      "trace.overhead_frac" -> overhead,
      "host.cpu_probe_s" -> host.cpuS,
      "host.mem_probe_s" -> host.memS,
      "host.stage_floor_s" -> host.stageFloorS)
  }
}
