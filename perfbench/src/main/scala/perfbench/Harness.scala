package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the result and span files (numbers keep every
 *  digit; NaN and infinities are refused rather than written as invalid JSON). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON output: $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => sys.error(s"cannot write ${other.getClass} as JSON")
  }

  def write(path: Path, v: Any): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, apply(v).getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Timing {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[T](body: => T): (T, Double) = {
    val t0 = now()
    val r = body
    (r, secs(t0))
  }

  /** Runs `round` until `seconds` of measured time have elapsed and at least
   *  `minRounds` rounds ran; returns each round's seconds. */
  def rounds(seconds: Double, minRounds: Int)(round: => Double): Seq[Double] = {
    val out = ArrayBuffer.empty[Double]
    val t0 = now()
    while (out.size < minRounds || secs(t0) < seconds) out += round
    out.toSeq
  }

  /** Executes every row of the plan into Spark's no-op sink: `count()` would
   *  let the optimizer prune the very projections under test. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Peak resident set size of this JVM in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/**
 * Heap the program keeps, which the collector's heap sizing does not decide
 * (unlike the resident set): the largest occupancy left after any
 * collection, and what is left after a full collection at the end.
 */
object GcWatch {
  private val peakBytes = new AtomicLong(0L)

  def install(): Unit = {
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        peakBytes.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakLiveMb: Double = peakBytes.get / (1024.0 * 1024.0)

  /** Heap still in use after a full collection: what the program keeps. */
  def retainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/**
 * Cumulative Spark runtime counters from the public listener API. Readers
 * call [[snapshot]] after draining the listener bus, and diff two snapshots
 * to attribute counters to a span or a timed section.
 */
final class Counters extends SparkListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) = c.getOrElse(k, 0.0) + v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    add("tasks", 1)
    if (i.attemptNumber > 0) add("task_retries", 1)
    if (e.reason != Success) add("task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("executor_run_s", m.executorRunTime / 1e3)
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("gc_s", m.jvmGCTime / 1e3)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      // the scheduler-delay formula of Spark's own UI
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      add("scheduler_delay_s", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult) / 1e3)
    }
  }

  def snapshot(): Map[String, Double] = c.synchronized(c.toMap)
}

object Counters {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
    "scheduler_delay_s", "task_retries", "task_failures", "input_bytes", "output_bytes")

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    Names.map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      counters: Map[String, Double], attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. A span wraps one call into a layer; on close it
 * drains the listener bus (after its end time is taken, so the drain is not
 * billed to the layer) and stores the Spark counters that accrued inside it.
 * When disabled, [[span]] runs its body and records nothing.
 */
final class Tracer(spark: SparkSession, counters: Counters, val runId: String,
                   val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private val t0 = System.nanoTime()

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    drain()
    val before = counters.snapshot()
    stack = id :: stack
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      drain()
      spans += Span(id, name, parent, start, end, Counters.diff(before, counters.snapshot()),
        pendingAttrs.remove(id).getOrElse(Map.empty))
    }
  }

  private val pendingAttrs = mutable.Map.empty[Int, Map[String, Double]]

  /** Attaches a named count to the innermost open span. */
  def attr(name: String, value: Double): Unit =
    if (enabled && stack.nonEmpty) {
      val id = stack.head
      pendingAttrs(id) = pendingAttrs.getOrElse(id, Map.empty) + (name -> value)
    }

  def all: Seq[Span] = spans.toSeq

  /** Seconds of the span's interval not covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var cursor = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, cursor)
      if (b > lo) { covered += b - lo; cursor = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> runId,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "duration_s" -> s.seconds, "self_s" -> selfSeconds(s),
      "counters" -> s.counters, "attrs" -> s.attrs)))
}

/** What one workload run reports back to the launcher. */
final class Report(val workload: String) {
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val failures = ArrayBuffer.empty[Map[String, String]]
  var attempted = 0L
  var roundSeconds: Seq[Double] = Nil
  var inputSetupSeconds: Seq[Double] = Nil
  var warmupSeconds = 0.0
  var peakRssMb = 0.0
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the run started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $workload: $msg")

  /** Runs one timed operation; an exception counts it as failed and is
   *  reported with its cause instead of being swallowed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable => fail(name, e); None }
  }

  def fail(name: String, e: Throwable): Unit = {
    val cause = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(2000)
    failures += Map("workload" -> workload, "operation" -> name, "cause" -> cause)
    System.err.println(s"[perfbench] FAILED workload=$workload operation=$name cause=$cause")
  }

  /** A correctness check: counted as an attempted operation, and as a failed
   *  one when `ok` is false or the check itself throws. */
  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, info) = try body catch {
      case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}")
    }
    if (!ok) {
      failures += Map("workload" -> workload, "operation" -> s"check:$name", "cause" -> info)
      System.err.println(s"[perfbench] CHECK FAILED workload=$workload check=$name: $info")
    } else System.err.println(s"[perfbench] check ok: $name ($info)")
  }

  def metric(name: String, v: Double, unit: String): Unit = detail(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def toJson(extra: Map[String, Any]): Map[String, Any] = Map(
    "workload" -> workload,
    "attempted" -> attempted,
    "failed" -> failures.size,
    "failures" -> failures.toSeq,
    "round_s" -> roundSeconds,
    "input_setup_s" -> inputSetupSeconds,
    "warmup_s" -> warmupSeconds,
    "peak_rss_mb" -> peakRssMb,
    "detail" -> detail.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
  ) ++ extra
}

object Frames {
  /** Rows present a different number of times in `a` and `b` (0 = equal
   *  multisets) over the columns `cols`, compared as 64-bit hashes of whole
   *  rows brought back with `collect()`. */
  def multisetDiff(a: DataFrame, b: DataFrame, cols: Seq[String]): Long = {
    def digest(df: DataFrame): Map[Long, Int] =
      df.select(xxhash64(cols.map(col): _*)).collect().toSeq
        .groupMapReduce(_.getLong(0))(_ => 1)(_ + _)
    val (da, db) = (digest(a), digest(b))
    (da.keySet ++ db.keySet).toSeq
      .map(k => math.abs(da.getOrElse(k, 0) - db.getOrElse(k, 0)).toLong).sum
  }

  /** Deterministic ~1/`every` subset keyed on a row id and the seed. */
  def subset(df: DataFrame, id: Column, seed: Long, every: Int): DataFrame =
    df.filter(pmod(xxhash64(id, lit(seed)), lit(every.toLong)) === 0)

  def dirBytesAndFiles(root: Path): (Long, Long) = {
    val s = Files.walk(root)
    try {
      val files = s.filter(p => Files.isRegularFile(p)).toArray.map(_.asInstanceOf[Path])
      (files.map(Files.size).sum, files.length.toLong)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}
