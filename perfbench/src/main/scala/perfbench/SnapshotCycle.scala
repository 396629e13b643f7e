package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.pipeline.GeoPipeline
import graft.snapshot.Snapshot

/**
 * The snapshot half of a `pages_pipeline` round: `GeoPipeline.build` with a
 * fresh `snapshotRoot`, run cold (it computes and writes the `geocode` and
 * `spatial_join` stage snapshots as parquet) and then again on the same root
 * (it resumes from them). Each cycle uses a new directory under the run's
 * work directory and deletes it afterwards. Writes go through the OS page
 * cache and neither side calls fsync.
 */
final class SnapshotCycle(ctx: Ctx) {
  import ctx._
  val pages: Long = if (a.tiny) 2000L else 30000L
  private var next = 0
  private val cold = ArrayBuffer.empty[Double]
  private val resume = ArrayBuffer.empty[Double]
  private val written = ArrayBuffer.empty[(Long, Long)]
  private val resumeCounters = ArrayBuffer.empty[Map[String, Double]]

  private def freshRoot(): Path = {
    next += 1
    Paths.get(a.work, s"snapshots-$next").toAbsolutePath
  }

  private def build(root: Option[Path]): DataFrame =
    GeoPipeline.build(spark, pages, a.seed, parts, snapshotRoot = root.map(_.toString))

  def clear(): Unit = { cold.clear(); resume.clear(); written.clear(); resumeCounters.clear() }

  /** One cold run + one resumed run; seconds of both, or None if either failed. */
  def cycle(t: Tracer): Option[Double] = {
    val root = freshRoot()
    try {
      val c = report.op("snapshot_cold") {
        Timing.timed(t.span("snapshot.cold")(Timing.force(build(Some(root)))))._2
      }
      val bytesFiles = Frames.dirBytesAndFiles(root)
      val r = report.op("snapshot_resume") {
        Timing.timed(t.span("snapshot.resume")(Timing.force(build(Some(root)))))._2
      }
      if (t.enabled) resumeCounters += t.all.last.counters
      for (x <- c; y <- r) yield {
        if (!t.enabled) { cold += x; resume += y; written += bytesFiles }
        x + y
      }
    } finally Frames.deleteTree(root)
  }

  def reportMetrics(): Unit = if (cold.nonEmpty) {
    report.metric("snapshot_cold_s", Stats.median(cold.toSeq), "s")
    report.metric("snapshot_resume_s", Stats.median(resume.toSeq), "s")
    report.metric("snapshot_bytes_per_page", written.head._1.toDouble / pages, "B/page")
  }

  /** Materialisation cost = traced cold run - the same pipeline without
   *  snapshots; bytes and files from the cold run's directory; read bytes and
   *  jobs from the resumed run's span. */
  def layers(reps: Int): Unit = {
    val compute = Stats.median((1 to reps).map(_ =>
      Timing.timed(tracer.span("prefix:snapshot.compute")(Timing.force(build(None))))._2))
    val tracedCold = tracer.all.filter(_.name == "snapshot.cold").map(_.seconds)
    if (tracedCold.nonEmpty && written.nonEmpty && resumeCounters.nonEmpty) {
      report.layer("snapshot.write.s", Stats.median(tracedCold) - compute, "s")
      report.layer("snapshot.bytes_written", written.head._1.toDouble, "B")
      report.layer("snapshot.files_written", written.head._2.toDouble, "count")
      report.layer("snapshot.read_bytes",
        Stats.median(resumeCounters.map(_("input_bytes")).toSeq), "B")
      report.layer("snapshot.resume_jobs", Stats.median(resumeCounters.map(_("jobs")).toSeq),
        "count")
    }
  }

  def check(): Unit = report.check("snapshot_resume_equals_computed_and_current_fixed") {
    val root = freshRoot()
    try {
      Timing.force(build(Some(root)))
      val idCold = Snapshot.currentId(root.toString)
      val resumed = build(Some(root))
      val idResume = Snapshot.currentId(root.toString)
      val computed = build(None)
      val expected = if (a.corrupt) computed.union(computed.limit(1)) else computed
      val n = resumed.count()
      val bad = Frames.multisetDiff(resumed, expected, resumed.columns.toSeq)
      (n > 0 && bad == 0 && idCold.isDefined && idCold == idResume,
        s"$n rows, $bad rows differ from the computed output; CURRENT cold=$idCold " +
          s"after resume=$idResume")
    } finally Frames.deleteTree(root)
  }
}
