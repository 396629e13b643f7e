package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** Command-line options the launcher (`perfbench/run.py`) passes in. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      tiny: Boolean, corrupt: Boolean, work: String, out: String,
                      spans: String, tables: String, launchMs: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      m.get("size").contains("tiny"), m.get("corrupt").contains("1"), get("work"),
      get("out"), get("spans"), m.getOrElse("tables", ""), get("launch-ms").toLong)
  }
}

/** Everything a workload needs: the session, its options, where to report. */
final class Ctx(val spark: SparkSession, val a: Args, val cores: Int, val counters: Counters,
                val tracer: Tracer, val report: Report) {
  val off = new Tracer(spark, counters, tracer.runId, enabled = false)
  val parts: Int = 4 * cores
  private var spanLayers = Map.empty[String, Any]

  /** Input set-up, run `reps` times (each rebuilding the inputs anew) so the
   *  reported set-up time is a median; returns the last build. */
  def setupInputs[T](reps: Int)(build: => T): T = {
    val runs = (1 to reps).map(_ => Timing.timed(build))
    report.inputSetupSeconds = runs.map(_._2)
    report.note(s"input set-up ${runs.map(r => f"${r._2}%.2f").mkString(", ")} s")
    runs.last._1
  }

  /** The untimed run before the rounds (each workload's checked run). */
  def warmup(body: => Any): Unit = {
    val (_, s) = Timing.timed(body)
    report.warmupSeconds = s
    report.note(f"warm-up $s%.2f s")
  }

  /**
   * The timed section. Untraced runs measure rounds for `seconds`. Traced
   * runs measure half of that untraced (the reference for the tracing
   * overhead and for the end-to-end detail), then half with spans on.
   * Spark counters over the untraced rounds become the `spark.*` layer,
   * normalised per round.
   */
  def measure(minRounds: Int)(round: Tracer => Option[Double]): Unit = {
    val untracedSecs = if (a.trace) a.seconds / 2 else a.seconds
    tracer.drain()
    val before = counters.snapshot()
    val t0 = Timing.now()
    val rs = Timing.rounds(untracedSecs, minRounds)(round(off).getOrElse(Double.NaN))
    val wall = Timing.secs(t0)
    tracer.drain()
    val diff = Counters.diff(before, counters.snapshot())
    report.roundSeconds = rs.filterNot(_.isNaN)
    report.note(s"rounds ${rs.map(r => f"$r%.2f").mkString(", ")} s")
    report.peakRssMb = Timing.peakRssMb()
    report.layer("jvm.live_heap_peak_mb", GcWatch.peakLiveMb, "MB")
    val n = rs.size.toDouble
    Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
      "executor_run_s", "executor_cpu_s", "gc_s", "scheduler_delay_s", "task_retries")
      .foreach { k =>
        val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B" else "count"
        report.layer(s"spark.$k", diff(k) / n, unit)
      }
    report.layer("spark.cpu_utilization", diff("executor_cpu_s") / (wall * cores), "ratio")
    if (a.trace && report.roundSeconds.nonEmpty) {
      val traced = Timing.rounds(a.seconds / 2, 1)(tracer.span("round")(round(tracer))
        .getOrElse(Double.NaN)).filterNot(_.isNaN)
      if (traced.nonEmpty)
        report.layer("trace.overhead_s",
          Stats.median(traced) - Stats.median(report.roundSeconds), "s")
    }
  }

  /** Prefix timing: each layer's prefix plan is run `reps` times; a layer's
   *  self time is the median of its prefix minus the median of the prefix it
   *  extends. Returns layer -> self seconds, and records the structure in the
   *  span file. */
  def prefixes(reps: Int)(chain: (String, () => Unit)*): Map[String, Double] = {
    var prev: Option[(String, Double)] = None
    val out = chain.map { case (name, run) =>
      val samples = (1 to reps).map(_ => Timing.timed(tracer.span(s"prefix:$name")(run()))._2)
      report.note(s"prefix $name ${samples.map(x => f"$x%.2f").mkString(", ")} s")
      val med = Stats.median(samples)
      val self = med - prev.map(_._2).getOrElse(0.0)
      spanLayers += name -> Map("prefix_median_s" -> med, "prefix_samples_s" -> samples,
        "extends" -> prev.map(_._1).getOrElse(""), "self_s" -> self)
      prev = Some(name -> med)
      name -> self
    }
    out.toMap
  }

  def spanJson: Map[String, Any] = tracer.toJson + ("layers" -> spanLayers)
}

object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the engine's own bench settings (graft.Bench.session)
      .config("spark.sql.shuffle.partitions", math.max(cores, 32))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def runWorkload(spark: SparkSession, a: Args, counters: Counters): Ctx = {
    val cores = Runtime.getRuntime.availableProcessors
    val report = new Report(a.workload)
    val ctx = new Ctx(spark, a, cores, counters,
      new Tracer(spark, counters, s"${a.workload}-seed${a.seed}", enabled = a.trace), report)
    try {
      a.workload match {
        case "pages_pipeline" => PagesPipeline.run(ctx)
        case "spatial_join" => SpatialJoinBench.run(ctx)
        case "query_block" => QueryBlock.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
    } catch { case e: Throwable => report.fail("workload", e) }
    ctx
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--scaling-child")) { ScalingChild.main(argv.tail); return }
    val a = Args.parse(argv)
    val spark = session(Runtime.getRuntime.availableProcessors, a.work)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1e3
    GcWatch.install()
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val ctx = runWorkload(spark, a, counters)
    // after every timed section, so the full collection it forces times nothing
    if (a.trace) ctx.report.layer("jvm.retained_heap_mb", GcWatch.retainedMb(), "MB")
    Json.write(Paths.get(a.out), ctx.report.toJson(Map("session_s" -> sessionS, "cores" -> ctx.cores)))
    if (a.trace) Json.write(Paths.get(a.spans), ctx.spanJson)
    spark.stop()
  }
}
