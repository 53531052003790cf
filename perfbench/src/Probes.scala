package perfbench

import org.apache.spark.sql.SparkSession

/** Host-noise probes, taken once per run after the timed phase so that a
  * reader can tell a slow box from slow code: fixed CPU work, a memory
  * bandwidth sweep, and the per-stage scheduling floor. Each is the
  * median of three after one untimed warm-up.
  */
object Probes {
  final case class Reading(cpuS: Double, memS: Double, stageFloorS: Double)

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def med3(f: => Double): Double = { f; Seq(f, f, f).sorted.apply(1) }

  def take(spark: SparkSession, cpus: Int): Reading = {
    // CPU: a modular sum over a generated range; no IO, no data.
    val cpu = med3(secs(spark.range(0L, 16000000L, 1L, cpus)
      .selectExpr("sum(id % 1000003)").collect()))
    // Memory bandwidth: a STREAM-triad sweep over three 4M-double arrays.
    val n = 4 << 20
    val a = new Array[Double](n)
    val b = Array.fill(n)(1.5)
    val c = Array.fill(n)(2.5)
    val threads = math.max(1, math.min(cpus, 8))
    def sweep(): Double = secs {
      val chunk = n / threads
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var i = t * chunk
          val end = if (t == threads - 1) n else i + chunk
          while (i < end) { a(i) = b(i) + 0.5 * c(i); i += 1 }
        })
        th.start(); th
      }
      ts.foreach(_.join())
    }
    val mem = med3(sweep())
    if (a(n - 1) != 2.75) throw new IllegalStateException("memory probe miscomputed")
    // Stage floor: a three-stage plan over 32 rows, divided by its stages.
    val floor = med3(secs(spark.range(0L, 32L, 1L, cpus).selectExpr("id % 4 AS k")
      .groupBy("k").count().groupBy().sum("count").collect())) / 3.0
    Reading(cpu, mem, floor)
  }
}
