package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.SparkEntry

/**
 * `query_block`: the 20 headline `SparkEntry.queries` (graft.Bench's list)
 * over the engine's recorded gate tables (the seed does not apply), each
 * forced into the no-op sink. One round = one pass over the 20 queries in a fixed order.
 */
object QueryBlock {
  val Headline = Seq(
    "q1_agg", "q3_revenue", "q_window_topn", "q_st_distance", "q_box_ops",
    "q_affine", "q_geodesic", "q_tile", "q_mercator", "q_spatial_join",
    "q_knn_points", "q_dedup_exact", "q_token_stats", "q_quality",
    "q_lsh_dup_pairs", "q_embed_norm", "q_knn_embed", "q_simplify",
    "q_hull_area", "q_s2_cells")
  // 2 passes x 20 queries = 40 samples, so p75 has 10 samples beyond it
  val MinPasses = 2

  def run(ctx: Ctx): Unit = {
    import ctx._
    val dir = a.tables
    val missing = Headline.filterNot(q => SparkEntry.queries.contains(q) &&
      SparkEntry.oracleSql.contains(q))
    require(missing.isEmpty, s"headline queries without a query or an oracle: $missing")
    setupInputs(1)(())
    val perQuery = mutable.LinkedHashMap(Headline.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    def pass(t: Tracer): Option[Double] = {
      val times = Headline.map { q =>
        report.op(q) {
          val s = Timing.timed(t.span(s"sparkentry.$q")(
            Timing.force(SparkEntry.queries(q)(spark, dir))))._2
          if (!t.enabled) perQuery(q) += s
          s
        }
      }
      if (times.forall(_.isDefined)) Some(times.flatten.sum) else None
    }
    // warm-up: the pass whose rows the oracle check reads; it plans and runs
    // every query once before the two timed passes
    warmup { dumpForOracle(ctx) }
    perQuery.values.foreach(_.clear())
    measure(MinPasses)(pass)
    val samples = perQuery.values.flatten.toSeq
    if (report.roundSeconds.nonEmpty) {
      report.metric("query_block_s", Stats.median(report.roundSeconds), "s")
      report.metric("query_p50_s", Stats.pct(samples, 0.5), "s")
      report.metric("query_p75_s", Stats.pct(samples, 0.75), "s")
      report.metric("query_samples", samples.size, "count")
    }
    if (a.trace) layers(ctx, perQuery.map { case (q, xs) => q -> xs.toSeq })
  }

  /** Per-query spans: the plan prefix (build the frame and its executed
   *  plan) and the full forced run; exec = run - plan. */
  private def layers(ctx: Ctx, perQuery: collection.Map[String, Seq[Double]]): Unit = {
    import ctx._
    Headline.foreach(q => report.layer(s"sparkentry.$q.s", Stats.median(perQuery(q)), "s"))
    val passes = 1
    val runs = (1 to passes).map { _ =>
      Headline.map { q =>
        val plan = tracer.span(s"prefix:sparkentry.$q.plan") {
          Timing.timed(SparkEntry.queries(q)(spark, a.tables).queryExecution.executedPlan)._2
        }
        tracer.span(s"prefix:sparkentry.$q.run") {
          Timing.force(SparkEntry.queries(q)(spark, a.tables))
        }
        val run = tracer.all.last
        (q, plan, run.seconds, run.counters)
      }
    }
    def med(f: Seq[(String, Double, Double, Map[String, Double])] => Double) =
      Stats.median(runs.map(f))
    report.layer("sparkentry.plan_s", med(_.map(_._2).sum), "s")
    report.layer("sparkentry.exec_s", med(_.map(r => r._3 - r._2).sum), "s")
    report.layer("sparkentry.jobs", med(_.map(_._4("jobs")).sum), "count")
    report.layer("sparkentry.stages", med(_.map(_._4("stages")).sum), "count")
    Headline.foreach { q =>
      report.layer(s"sparkentry.$q.shuffle_bytes",
        med(_.filter(_._1 == q).map(_._4("shuffle_write_bytes")).sum), "B")
    }
  }

  /** Each query's rows as parquet (in the query's own partitioning, so this
   *  pass also warms up the plans the rounds run), plus its oracle SQL; the
   *  launcher compares them in DuckDB after this JVM exits. */
  private def dumpForOracle(ctx: Ctx): Unit = {
    import ctx._
    val out = Paths.get(a.work, "oracle")
    // a failed write is printed here and counted by the launcher's check
    Headline.foreach { q =>
      try SparkEntry.queries(q)(spark, a.tables).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] FAILED workload=query_block operation=write:$q " +
          s"cause=${e.getClass.getName}: ${e.getMessage}")
      }
    }
    Json.write(out.resolve("oracle_sql.json"), Headline.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}
