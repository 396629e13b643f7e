package graft

import org.apache.spark.sql.functions._

import graft.join.SpatialJoin

/** r6 (VERDICT r5 nit): `joinAutoBroadcast`'s size estimate ran a full
 *  `right.count()` on every call — a second complete pass when the right
 *  side is computed rather than a parquet scan. With a caller-supplied row
 *  count the estimate must (a) run one fewer Spark job (the bounded sample
 *  job only) and (b) produce the identical estimate. */
class AutoBroadcastCountSpec extends SparkSpec {

  // a COMPUTED, storage-backed right side — the scenario the fix targets: a
  // local relation's count() is served driver-side without a job, so it
  // would not exercise the second-pass cost at all
  private def boxes = {
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    c.select(col("c_custkey").as("id"),
      graft.functions.st.st_point(
        (col("c_custkey") % 80 - 40).cast("double"),
        (col("c_custkey") % 60 - 30).cast("double")).as("geometry"))
  }

  private def jobsFor(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    // the status store is fed asynchronously; poll briefly until stable
    var n = -1
    var stable = 0
    var spins = 0
    while (stable < 3 && spins < 100) {
      val cur = sc.statusTracker.getJobIdsForGroup(group).length
      if (cur == n) stable += 1 else { n = cur; stable = 0 }
      Thread.sleep(20); spins += 1
    }
    n
  }

  test("caller-supplied rightRows skips the count job and matches the counted estimate") {
    val right = boxes
    val n = right.count()
    var estCounted = 0L
    var estSupplied = 0L
    val withCount = jobsFor("acb-counted") {
      estCounted = SpatialJoin.estimateCoveringBytes(right, cellLevel = 4)
    }
    val withRows = jobsFor("acb-supplied") {
      estSupplied = SpatialJoin.estimateCoveringBytes(right, cellLevel = 4,
        rightRows = Some(n))
    }
    assert(estSupplied == estCounted,
      s"estimates differ: supplied=$estSupplied counted=$estCounted")
    assert(withRows < withCount,
      s"expected fewer jobs with rightRows supplied " +
        s"(counted=$withCount, supplied=$withRows)")
  }

  test("planning joinAutoBroadcast(AutoLevel) is one sample job, plus count() " +
    "only without rightRows") {
    val right = boxes
    val n = right.count()
    val left = right.limit(10)
    val supplied = jobsFor("acb-auto-supplied") {
      SpatialJoin.joinAutoBroadcast(left, right, cellLevel = SpatialJoin.AutoLevel,
        rightRows = Some(n))
    }
    val counted = jobsFor("acb-auto-counted") {
      SpatialJoin.joinAutoBroadcast(left, right, cellLevel = SpatialJoin.AutoLevel)
    }
    // count() is itself two jobs under adaptive execution (its aggregate's
    // exchange runs as a separate map-stage job), so measure it, not assume it
    val countJobs = jobsFor("acb-count-only")(right.count())
    assert(supplied == 1, s"planning with rightRows ran $supplied jobs")
    assert(counted == 1 + countJobs,
      s"planning without rightRows ran $counted jobs, count() alone $countJobs")
  }
}
