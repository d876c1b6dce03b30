package perfbench

import graft.Bench
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    data: String,
    work: String,
    spans: String)

/** Metrics of one run by name, each with its unit, in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def writeObject(path: String, fields: Iterable[(String, String)]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), obj(fields))
}

/** Highest heap in use right after a garbage collection, over the
  * collections that ran between construction and [[finish]]: live data and
  * what the collector kept, not garbage that a collection has yet to
  * reclaim, so the figure does not depend on when G1 happens to collect.
  */
final class LiveHeap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private val heapPoolNames = heapPools.map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }.toSeq
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** stops listening; returns the peak in bytes, counting the last
    * collection of each pool too in case its notification is still queued
    */
  def finish(): Long = {
    emitters.foreach(_.removeNotificationListener(listener))
    val last = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    math.max(peak.get, last)
  }
}

/** Benchmark runner for one workload run.
  *
  * {{{
  * perfbench.Main --workload <deid_write|curation> --seed <n>
  *   --seconds <s> --trace <0|1> --data <input tables> --work <scratch dir>
  *   --spans <trace json path>
  * }}}
  *
  * Set-up starts the session, builds the input three times and warms up.
  * The run then repeats the workload's op, one in flight, until
  * `--seconds` have passed, and checks the output. With
  * `--trace 1` it spends half the time untraced and half traced, and
  * reports per-layer metrics instead of end-to-end ones. The result is
  * one line `PERFBENCH_RESULT {...}` on standard output.
  */
object Main {
  private val PrepareReps = 3

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("spans"))
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** runs `f`, logging how long it took under `label` on standard error */
  private def seconds[T](label: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $label%s took $s%.3f s")
    (v, s)
  }

  /** Runs ops back to back until `budget` seconds have passed and at
    * least `minOps` ran. Ops that fail are counted, not timed.
    */
  private def loop(w: Workload, budget: Double, minOps: Int, clock: Clock, first: Int)(
      wrap: (=> OpResult) => OpResult): Seq[OpResult] = {
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[OpResult]
    while (done.length < minOps || (System.nanoTime() - t0) / 1e9 < budget) {
      val i = first + done.length
      done += (try wrap(w.op(i, clock)) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i failed: $e")
          OpResult(Double.NaN, 1, 1)
      })
    }
    done.toSeq
  }

  private def timeOf(ops: Seq[OpResult]): Double =
    Stats.median(ops.filter(o => o.failed == 0 && !o.seconds.isNaN).map(_.seconds))

  def run(o: Opts): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val probeBefore = Bench.quickProbe()
    val (spark, sessionS) = seconds("session start")(session(cores, o.work))
    val w: Workload = o.workload match {
      case "deid_write" => new DeidWrite(spark, o)
      case "curation" => new Curation(spark, o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepareS = (1 to PrepareReps).map(_ => seconds("input")(w.prepare())._2)
    val (_, warmS) = seconds("warm-up")(w.warmUp())
    val setupS = sessionS + Stats.median(prepareS) + warmS

    val m = new Metrics
    val untracedBudget = if (o.trace) o.seconds / 2 else o.seconds
    val heap = new LiveHeap
    val minOps = if (o.trace) 2 else 3
    val untraced = loop(w, untracedBudget, minOps, new Clock(None), 0)(op => op)
    val peakHeapMb = heap.finish() / 1e6
    val wallS = timeOf(untraced)
    var ops = untraced

    if (o.trace) {
      val tracer = new Tracer(spark.sparkContext)
      val clock = new Clock(Some(tracer))
      var last: Span = null
      val traced = loop(w, o.seconds / 2, minOps, clock, untraced.length) { op =>
        val (r, s) = tracer.span("op")(op)
        last = s
        r
      }
      ops ++= traced
      seconds("per-layer measures")(w.layers(m, tracer, last))
      m("trace.overhead_ratio", timeOf(traced) / wallS - 1, "ratio")
      m("trace.max_task_over_wall_cores", tracer.all.filter(_.wallS > 0.05)
        .map(s => s.taskS / (s.wallS * cores)).max, "ratio")
      m("trace.spans", tracer.all.length.toDouble, "count")
      tracer.stop()
      tracer.writeJson(o.spans)
      m("jvm.peak_heap_mb", peakHeapMb, "MB")
      m("host.nproc", cores.toDouble, "count")
      m("host.probe_before_mops", probeBefore, "Mops")
    } else {
      m("wall_s", wallS, "s")
      m("rows_per_s", w.inputRows / wallS, "rows/s")
      m("setup_s", setupS, "s")
    }

    val (checked, _) = seconds("output check")(w.check())
    checked.problems.foreach(p => System.err.println(s"[perfbench] check: $p"))
    val probeAfter = Bench.quickProbe()
    if (o.trace) m("host.probe_after_mops", probeAfter, "Mops")
    spark.stop()

    val host = Json.obj(Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "nproc" -> cores.toString, "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "java" -> Json.str(System.getProperty("java.version")),
      "probe_before_mops" -> Json.num(probeBefore), "probe_after_mops" -> Json.num(probeAfter),
      "input_rows" -> w.inputRows.toString,
      "setup_parts_s" -> Json.obj(Seq("session" -> Json.num(sessionS),
        "prepare_median" -> Json.num(Stats.median(prepareS)), "warm_up" -> Json.num(warmS))),
      "op_seconds" -> ops.map(r => Json.num(r.seconds)).mkString("[", ",", "]"),
      "peak_heap_mb" -> Json.num(peakHeapMb)))
    val metrics = Json.obj(m.values.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val result = Json.obj(Seq(
      "attempted" -> (ops.map(_.attempted).sum + checked.attempted).toString,
      "failed" -> (ops.map(_.failed).sum + checked.failed).toString,
      "problems" -> checked.problems.map(Json.str).mkString("[", ",", "]"),
      "host" -> host,
      "metrics" -> metrics))
    println(s"PERFBENCH_RESULT $result")
    0
  }
}
