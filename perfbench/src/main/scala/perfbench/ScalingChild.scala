package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.pipeline.GeoPipeline

/**
 * The N side of `pipeline.scaling_efficiency_n_to_4n`: a separate JVM that
 * the launcher pins to N CPUs after the parent has exited. It runs the same
 * pipeline passes on the same input as the parent's 4N measurement, and
 * reports the CPUs it was actually given so the launcher can refuse a level
 * the host did not supply.
 */
object ScalingChild {
  val Reps = 3
  def pagesFor(tiny: Boolean): Long = if (tiny) 3000L else 100000L

  /** Median pages/s over `reps` passes (plan build + execute), after one
   *  warm-up pass on a quarter of the input. */
  def throughput(spark: SparkSession, pages: Long, seed: Long, parts: Int, reps: Int): Double = {
    Timing.force(GeoPipeline.build(spark, math.max(1L, pages / 4), seed + 1, parts))
    Stats.median((1 to reps).map { _ =>
      pages / Timing.timed(Timing.force(GeoPipeline.build(spark, pages, seed, parts)))._2
    })
  }

  /** CPUs in this process's affinity mask (`Cpus_allowed_list`). */
  def cpusAllowed(): Int = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("Cpus_allowed_list:")).getOrElse(sys.error("no Cpus_allowed_list"))
    line.split(":")(1).trim.split(",").map { r =>
      r.split("-") match {
        case Array(x) => 1
        case Array(lo, hi) => hi.toInt - lo.toInt + 1
      }
    }.sum
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, m("work"))
    val pps = throughput(spark, pagesFor(m("size") == "tiny"), m("seed").toLong, m("parts").toInt,
      Reps)
    val out = Json(Map("pages_per_sec" -> pps, "cpus_allowed" -> cpusAllowed(),
      "available_processors" -> cores, "peak_rss_mb" -> Timing.peakRssMb()))
    Files.write(Paths.get(m("out")), out.getBytes("UTF-8"))
    spark.stop()
  }
}
