package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.io.WKBReader

import graft.join.SpatialJoin
import graft.pages.Pages
import graft.pipeline.GeoPipeline

/**
 * `pages_pipeline`: `GeoPipeline.build` end to end on synthetic pages into
 * the no-op sink, and the same pipeline snapshotted and resumed. One round =
 * one pipeline pass (build the plan + execute it) + one [[SnapshotCycle]].
 */
object PagesPipeline {
  val NormalPages = 120000L
  // the correctness check runs on the first pages of the same seeded input
  val CheckPages = 30000L
  val TinyPages = 4000L
  // GeoPipeline.build's defaults, which the layer prefixes must reproduce
  val S2Level: Int = SpatialJoin.DefaultCellLevel
  val Zooms = Seq(4, 8, 12)
  val JoinCellLevel = 5
  private val PointCols = Seq("url", "warc_ts", "lang", "geometry", "s2_cell") ++
    Zooms.map(z => s"tile_z$z")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val pages = if (a.tiny) TinyPages else NormalPages
    def build(): DataFrame = GeoPipeline.build(spark, pages, a.seed, parts)
    val snap = new SnapshotCycle(ctx)
    val passes = ArrayBuffer.empty[Double]

    setupInputs(3)(build())
    def round(t: Tracer): Option[Double] = {
      val p = report.op("pipeline_pass") {
        Timing.timed(t.span("pipeline.force")(Timing.force(t.span("pipeline.build")(build()))))._2
      }
      val s = snap.cycle(t)
      for (x <- p; y <- s) yield {
        if (!t.enabled) passes += x
        x + y
      }
    }
    // the warm-up is the checked run (both checks execute the code paths the
    // rounds time, on smaller inputs) and one untimed round at full size, so
    // the first timed round does not pay for first-time compilation
    warmup { check(ctx, math.min(pages, CheckPages)); snap.check(); round(off) }
    passes.clear()
    snap.clear()
    measure(minRounds = 3)(round)
    if (passes.nonEmpty)
      report.metric("pages_per_sec", pages / Stats.median(passes.toSeq), "pages/s")
    snap.reportMetrics()

    if (a.trace) {
      layers(ctx, pages, passes.toSeq)
      snap.layers(if (a.tiny) 1 else 2)
    }
  }

  private def layers(ctx: Ctx, pages: Long, passes: Seq[Double]): Unit = {
    import ctx._
    val gaz = Pages.gazetteer(spark)
    def generated = Pages.generate(spark, pages, a.seed, parts)
    // each prefix projects exactly what the next stage consumes
    def genPrefix = generated.select("url", "warc_ts", "lang", "text")
    def geoPrefix = Pages.geocode(generated, gaz, S2Level, Zooms).select(PointCols.map(col): _*)
    val reps = if (a.tiny) 1 else 2
    val self = tracer.span("layers") {
      prefixes(reps)(
        "pages.generate" -> (() => Timing.force(genPrefix)),
        "pages.geocode" -> (() => Timing.force(geoPrefix)),
        "join.pipeline" -> (() => Timing.force(GeoPipeline.build(spark, pages, a.seed, parts))))
    }
    val (nGen, nGeo, nCover, nCand, nOut) = tracer.span("counts") {
      val cover = GeoPipeline.adminLayer(spark)
        .select(explode(SpatialJoin.cellsFor(col("geometry"), JoinCellLevel)).as("__cell_r"))
      val counts = (generated.count(), geoPrefix.count(), cover.count(),
        geoPrefix.withColumn("__cell", SpatialJoin.pointCell(col("geometry"), JoinCellLevel))
          .join(broadcast(cover), col("__cell") === col("__cell_r")).count(),
        GeoPipeline.build(spark, pages, a.seed, parts).count())
      tracer.attr("generated_rows", counts._1.toDouble)
      tracer.attr("geocoded_rows", counts._2.toDouble)
      tracer.attr("covering_rows", counts._3.toDouble)
      tracer.attr("candidate_pairs", counts._4.toDouble)
      tracer.attr("output_rows", counts._5.toDouble)
      counts
    }
    report.layer("pages.generate.s", self("pages.generate"), "s")
    report.layer("pages.generate.rows_per_s", nGen / self("pages.generate"), "rows/s")
    report.layer("pages.geocode.s", self("pages.geocode"), "s")
    report.layer("pages.geocode.hit_ratio", nGeo.toDouble / nGen, "ratio")
    report.layer("join.pipeline.s", self("join.pipeline"), "s")
    report.layer("join.pipeline.covering_rows", nCover.toDouble, "count")
    report.layer("join.pipeline.candidate_pairs", nCand.toDouble, "count")
    report.layer("join.pipeline.output_rows", nOut.toDouble, "count")
    report.layer("join.pipeline.refine_yield", nOut.toDouble / nCand, "ratio")
    if (passes.nonEmpty)
      report.layer("pipeline.layer_coverage", self.values.sum / Stats.median(passes), "ratio")

    // the 4N side of the scaling pair: this JVM at local[nproc] on the input
    // the pinned N-core child will run (ScalingChild), same passes
    val scalePages = ScalingChild.pagesFor(a.tiny)
    val pps = ScalingChild.throughput(spark, scalePages, a.seed, parts, ScalingChild.Reps)
    report.layer("pipeline.pages_per_sec_4n", pps, "pages/s")
  }

  /** (url, admin_id) of the pipeline output against an arithmetic oracle:
   *  the geocoded points compared with each admin rectangle's bounds in plain
   *  Spark, with no spatial join involved. */
  private def check(ctx: Ctx, pages: Long): Unit = {
    import ctx._
    report.check("pipeline_vs_bounds_oracle") {
      val reader = new WKBReader()
      val rects = GeoPipeline.adminLayer(spark).collect().map { r =>
        val g = reader.read(r.getAs[Array[Byte]]("geometry"))
        require(g.isRectangle, s"admin ${r.getAs[Long]("admin_id")} is not a rectangle")
        val e = g.getEnvelopeInternal
        (r.getAs[Long]("admin_id"), e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      }
      val bounds = spark.createDataFrame(rects.toSeq)
        .toDF("admin_id", "minx", "miny", "maxx", "maxy")
      val points = Pages.geocode(Pages.generate(spark, pages, a.seed, parts),
        Pages.gazetteer(spark)).select("url", "lat", "lon")
      val oracle0 = points.crossJoin(broadcast(bounds))
        .filter(col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
        .select("url", "admin_id")
      val oracle = if (a.corrupt) oracle0.union(oracle0.limit(1)) else oracle0
      val got = GeoPipeline.build(spark, pages, a.seed, parts)
        .select(col("url_left").as("url"), col("admin_id_right").as("admin_id"))
      val n = got.count()
      val bad = Frames.multisetDiff(got, oracle, Seq("url", "admin_id"))
      (n > 0 && bad == 0, s"$n output rows, $bad (url, admin_id) keys differ from the oracle")
    }
  }
}
