package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.locationtech.jts.geom.Coordinate

import graft.functions.st
import graft.geom.Wkb
import graft.join.{SpatialJoin, SpatialPredicate}

/**
 * `spatial_join`: uniformly spread points and small boxes joined against a
 * layer of 2,048 jittered star-shaped polygons (32 vertices each), so refine
 * does real point-in-polygon and polygon-polygon work. One round = the point
 * fast path at a fixed fine level + the generic path with the engine's own
 * level and broadcast decisions (`joinAutoBroadcast(cellLevel = AutoLevel)`).
 */
object SpatialJoinBench {
  val PointLevel = 8
  private val Intersects = SpatialPredicate.Intersects
  // joinAutoBroadcast's default broadcast budget, to replay its decision
  private val MaxBroadcastBytes = 128L << 20

  final case class Inputs(points: DataFrame, boxes: DataFrame, polys: DataFrame) {
    def unpersist(): Unit = Seq(points, boxes, polys).foreach(_.unpersist())
  }

  private def uniform(id: Column, seed: Long, k: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(k)), lit(1L << 53)).cast("double") / (1L << 53).toDouble

  // the layer and the left inputs share this extent: 64 x 32 grid cells of
  // 1.25 degrees, one polygon of up to ~1 degree across per cell
  private val MinLon = -40.0
  private val MinLat = -20.0
  private val SpanLon = 80.0
  private val SpanLat = 40.0

  /** Star-shaped rings, one per grid cell: centre and radii jittered per
   *  polygon, 32 vertices at increasing angles, so each ring is simple and
   *  none is a rectangle. */
  def polygonRows(seed: Long): Seq[(Long, Array[Byte])] = {
    val rnd = new scala.util.Random(seed)
    val (nx, ny) = (64, 32)
    val (w, h) = (SpanLon / nx, SpanLat / ny)
    for (i <- 0 until nx; j <- 0 until ny) yield {
      val cx = MinLon + (i + 0.5) * w + (rnd.nextDouble() - 0.5) * w * 0.3
      val cy = MinLat + (j + 0.5) * h + (rnd.nextDouble() - 0.5) * h * 0.3
      val r = math.min(w, h) * 0.4 * (0.7 + 0.3 * rnd.nextDouble())
      val ring = (0 until 32).map { k =>
        val ang = 2 * math.Pi * (k + 0.5 * (rnd.nextDouble() - 0.5)) / 32
        val rk = r * (0.55 + 0.45 * rnd.nextDouble())
        new Coordinate(cx + rk * math.cos(ang), cy + rk * math.sin(ang))
      }
      val poly = Wkb.factory.createPolygon((ring :+ ring.head).toArray)
      ((i * ny + j).toLong, Wkb.write(poly))
    }
  }

  def inputs(ctx: Ctx, nPoints: Long, nBoxes: Long): Inputs = {
    import ctx._
    val pts = spark.range(0, nPoints, 1, parts).select(col("id").as("pid"),
      st.st_point(uniform(col("id"), a.seed, 1) * SpanLon + MinLon,
        uniform(col("id"), a.seed, 2) * SpanLat + MinLat).as("geometry"))
    val x0 = uniform(col("id"), a.seed, 3) * (SpanLon - 1) + MinLon
    val y0 = uniform(col("id"), a.seed, 4) * (SpanLat - 1) + MinLat
    val boxes = spark.range(0, nBoxes, 1, parts).select(col("id").as("bid"),
      st.st_makeBox(x0, y0, x0 + lit(0.2) + uniform(col("id"), a.seed, 5) * 0.8,
        y0 + lit(0.2) + uniform(col("id"), a.seed, 6) * 0.8).as("geometry"))
    val polys = spark.createDataFrame(polygonRows(a.seed)).toDF("poly_id", "geometry")
      .repartition(1)
    val in = Inputs(pts.persist(StorageLevel.MEMORY_ONLY), boxes.persist(StorageLevel.MEMORY_ONLY),
      polys.persist(StorageLevel.MEMORY_ONLY))
    in.points.count(); in.boxes.count(); in.polys.count()
    in
  }

  def pointJoin(in: Inputs): DataFrame =
    SpatialJoin.join(in.points, in.polys, Intersects, "inner", cellLevel = PointLevel,
      broadcastRight = true, leftPointsOnly = true)

  def genericJoin(in: Inputs): DataFrame =
    SpatialJoin.joinAutoBroadcast(in.boxes, in.polys, Intersects, "inner",
      cellLevel = SpatialJoin.AutoLevel)

  def run(ctx: Ctx): Unit = {
    import ctx._
    val (nPoints, nBoxes) = if (a.tiny) (4000L, 1000L) else (80000L, 3000L)
    var prev: Option[Inputs] = None
    val in = setupInputs(3) {
      prev.foreach(_.unpersist())
      val i = inputs(ctx, nPoints, nBoxes)
      prev = Some(i)
      i
    }
    val point = collection.mutable.ArrayBuffer.empty[Double]
    val generic = collection.mutable.ArrayBuffer.empty[Double]
    def round(t: Tracer): Option[Double] = {
      val p = report.op("point_join") {
        Timing.timed(t.span("join.point.call")(Timing.force(pointJoin(in))))._2
      }
      val g = report.op("generic_join") {
        Timing.timed(t.span("join.generic.call")(Timing.force(genericJoin(in))))._2
      }
      for (x <- p; y <- g) yield {
        if (!t.enabled) { point += x; generic += y }
        x + y
      }
    }
    // the warm-up is the checked run (both join paths on seeded subsets) and
    // one untimed round at full size, so the first timed round does not pay
    // for first-time compilation
    warmup { check(ctx, in); round(off) }
    point.clear()
    generic.clear()
    measure(minRounds = 3)(round)
    if (point.nonEmpty) {
      report.metric("point_join_s", Stats.median(point.toSeq), "s")
      report.metric("generic_join_s", Stats.median(generic.toSeq), "s")
    }
    if (a.trace) layers(ctx, in)
  }

  private def suffixed(df: DataFrame, s: String): DataFrame =
    df.toDF(df.columns.map(_ + s).toIndexedSeq: _*)

  /** Layer prefixes replaying each join path's plan with the public join
   *  functions: covering -> cell equi-join (filter) -> + exact refine
   *  (-> + pair dedupe on the generic path). Counts come from the same
   *  prefixes. */
  private def layers(ctx: Ctx, in: Inputs): Unit = {
    import ctx._
    val reps = if (a.tiny) 1 else 2
    val lg = col("geometry_left")
    val rg = col("geometry_right")
    val refine = st.st_joinRefine(lg, rg, lit(Intersects.id))

    // point fast path
    val pCover = suffixed(in.polys, "_right")
      .withColumn("__cell_r", explode(SpatialJoin.cellsFor(rg, PointLevel)))
    val pLeft = suffixed(in.points, "_left")
      .withColumn("__cell", SpatialJoin.pointCell(lg, PointLevel))
    val pFilter = pLeft.join(broadcast(pCover), col("__cell") === col("__cell_r"))
    val pRefine = pLeft.join(broadcast(pCover), col("__cell") === col("__cell_r") && refine)
    val ps = tracer.span("join.point") {
      prefixes(reps)(
        "join.point.covering" -> (() => Timing.force(pCover)),
        "join.point.filter" -> (() => Timing.force(pFilter)),
        "join.point.refine" -> (() => Timing.force(pRefine)))
    }
    ps.foreach { case (k, v) => report.layer(s"$k.s", v, "s") }
    tracer.span("join.point.counts") {
      val cover = pCover.count()
      val cand = pFilter.count()
      val out = pointJoin(in).count()
      Seq("covering_rows" -> cover, "candidate_pairs" -> cand, "output_rows" -> out)
        .foreach { case (k, v) =>
          tracer.attr(k, v.toDouble); report.layer(s"join.point.$k", v.toDouble, "count")
        }
      report.layer("join.point.refine_yield", out.toDouble / cand, "ratio")
    }

    // generic path: the decision, then its plan prefixes
    val (level, est) = tracer.span("join.auto.decide") {
      val l = SpatialJoin.autoCellLevel(in.polys)
      val e = SpatialJoin.estimateCoveringBytes(in.polys, l)
      tracer.attr("cell_level", l); tracer.attr("est_covering_bytes", e.toDouble)
      (l, e)
    }
    val bcast = est <= MaxBroadcastBytes
    report.layer("join.auto.cell_level", level, "level")
    report.layer("join.auto.est_covering_bytes", est.toDouble, "B")
    report.layer("join.auto.broadcast", if (bcast) 1 else 0, "bool")
    val gCover0 = suffixed(in.polys, "_right").withColumn("__ridx", monotonically_increasing_id())
      .withColumn("__cell_r", explode(SpatialJoin.cellsFor(rg, level)))
    val gCover = if (bcast) broadcast(gCover0) else gCover0
    val gLeft = suffixed(in.boxes, "_left").withColumn("__lidx", monotonically_increasing_id())
      .withColumn("__cell", explode(SpatialJoin.cellsFor(lg, level)))
    val gFilter = gLeft.join(gCover, col("__cell") === col("__cell_r"))
    val gRefine = gFilter.filter(refine)
    def gFull = SpatialJoin.join(in.boxes, in.polys, Intersects, "inner", cellLevel = level,
      broadcastRight = bcast)
    val gs = tracer.span("join.generic") {
      prefixes(reps)(
        "join.generic.covering" -> (() => Timing.force(gCover0)),
        "join.generic.filter" -> (() => Timing.force(gFilter)),
        "join.generic.refine" -> (() => Timing.force(gRefine)),
        "join.generic.dedupe" -> (() => Timing.force(gFull)))
    }
    gs.foreach { case (k, v) => report.layer(s"$k.s", v, "s") }
    tracer.span("join.generic.counts") {
      val leftCells = gLeft.count()
      val cover = gCover0.count()
      val cand = gFilter.count()
      val refined = gRefine.count()
      val out = gFull.count()
      Seq("left_cell_rows" -> leftCells, "covering_rows" -> cover, "candidate_pairs" -> cand,
        "refined_pairs" -> refined, "duplicate_pairs" -> (refined - out), "output_rows" -> out)
        .foreach { case (k, v) =>
          tracer.attr(k, v.toDouble); report.layer(s"join.generic.$k", v.toDouble, "count")
        }
    }
  }

  /** Both paths against a brute-force crossJoin + st_intersects on a seeded
   *  subset of the left inputs (a per-row bbox overlap test only skips pairs
   *  that cannot intersect). */
  private def check(ctx: Ctx, in: Inputs): Unit = {
    import ctx._
    def bruteForce(left: DataFrame, id: String): Seq[(Long, Long)] = {
      val l = left.select(col(id).as("lid"), col("geometry").as("gl"),
        st.st_bounds(col("geometry")).as("bl"))
      val r = in.polys.select(col("poly_id").as("rid"), col("geometry").as("gr"),
        st.st_bounds(col("geometry")).as("br"))
      pairs(l.crossJoin(r).filter(
        col("bl.minx") <= col("br.maxx") && col("br.minx") <= col("bl.maxx") &&
          col("bl.miny") <= col("br.maxy") && col("br.miny") <= col("bl.maxy") &&
          st.st_intersects(col("gl"), col("gr")))
        .select("lid", "rid"))
    }
    def pairs(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def compare(got: Seq[(Long, Long)], exp0: Seq[(Long, Long)]) = {
      val exp = if (a.corrupt) exp0.drop(1) else exp0
      (got.nonEmpty && got == exp, s"${got.size} pairs, brute force ${exp.size}")
    }
    val every = if (a.tiny) 4 else 50
    val subPts = Frames.subset(in.points, col("pid"), a.seed, every).persist()
    val subBoxes = Frames.subset(in.boxes, col("bid"), a.seed, every / 2).persist()
    report.check("point_path_vs_brute_force") {
      val got = pairs(SpatialJoin.join(subPts, in.polys, Intersects, "inner",
        cellLevel = PointLevel, broadcastRight = true, leftPointsOnly = true)
        .select("pid_left", "poly_id_right"))
      compare(got, bruteForce(subPts, "pid"))
    }
    report.check("generic_path_vs_brute_force") {
      val got = pairs(SpatialJoin.joinAutoBroadcast(subBoxes, in.polys, Intersects, "inner",
        cellLevel = SpatialJoin.AutoLevel).select("bid_left", "poly_id_right"))
      compare(got, bruteForce(subBoxes, "bid"))
    }
    subPts.unpersist(); subBoxes.unpersist()
  }

}
