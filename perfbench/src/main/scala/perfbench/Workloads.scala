package perfbench

import graft.{Bench, SparkEntry}
import graft.extract.HtmlExtract
import graft.pipeline.{Deid, DeidCore, TurnsGen}
import graft.plans.CheckpointedRun
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** What one timed op did: its wall seconds, how many engine ops it
  * attempted, and how many of those failed.
  */
final case class OpResult(seconds: Double, attempted: Int, failed: Int)

/** What the output check found: the ops it checked that no timed op
  * counts already, how many of the checked ops failed, and why.
  */
final case class CheckResult(attempted: Int, failed: Int, problems: Seq[String])

/** Times a call into the engine: through a [[Tracer]] span when the run is
  * traced, with a bare clock when it is not.
  */
final class Clock(val tracer: Option[Tracer]) {
  def apply[T](name: String)(f: => T): (T, Double) = tracer match {
    case Some(t) =>
      val (v, s) = t.span(name)(f)
      (v, s.wallS)
    case None =>
      val t0 = System.nanoTime()
      val v = f
      (v, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark workload: a closed loop of ops, one in flight, each
  * waiting for the previous to finish.
  */
abstract class Workload(val spark: SparkSession, val opts: Opts) {
  /** input rows one op reads */
  def inputRows: Long
  /** builds the op's input; run several times during set-up */
  def prepare(): Unit
  /** warms the JIT and Spark's code caches before the timed ops */
  def warmUp(): Unit
  /** one op; `i` numbers the op within the run */
  def op(i: Int, clock: Clock): OpResult
  /** checks outputs outside timing; a failed check fails the op it checked */
  def check(): CheckResult
  /** per-layer metrics of a traced run; `last` is the span of the last op */
  def layers(m: Metrics, tracer: Tracer, last: Span): Unit

  protected def fs = new Path(opts.work).getFileSystem(spark.sparkContext.hadoopConfiguration)
  protected def delete(path: String): Unit = fs.delete(new Path(path), true)
  protected def bytesUnder(path: String): Long =
    fs.getContentSummary(new Path(path)).getLength
}

/** `Deid.run` in replace mode into a fresh directory per op.
  *
  * Input: the engine's synthetic turns, replicated and regrouped into
  * heavy-tailed conversations. Every turn's text, and every conversation's
  * name and size, is the same for every seed, so per-row work and the
  * write stage's skew do not depend on it; the seed decides which turns
  * share a conversation.
  *
  * The traced run also exercises the bucketed writer on the same input
  * (the plans layer): a cold `CheckpointedRun` in blackbox mode, a
  * simulated crash that loses the lineage of the last two bucket groups,
  * the resume that redoes them, and a no-op resume.
  */
final class DeidWrite(spark: SparkSession, opts: Opts) extends Workload(spark, opts) {
  import DeidWrite._

  val inputPath = s"${opts.work}/turns"
  private var nIn = 0L
  private var inBytes = 0L
  private var lastOut: Option[String] = None
  /** whether the traced run's resume exercise ran, and what it found */
  private var resumeRan = false
  private val resumeProblems = mutable.ArrayBuffer.empty[String]
  lazy val turns: DataFrame = spark.read.parquet(inputPath)
  def inputRows: Long = nIn

  def prepare(): Unit = {
    val base = TurnsGen.turns(spark, opts.data)
    // Original conversation i (of m) gets the slot (a·i + b) mod m of a
    // seeded permutation, u = (slot + 0.5) / m, and moves to conversation
    // floor(Convs · u^Alpha): most land on the smallest ids, and the
    // largest conversation holds about Convs^(-1/Alpha) of all turns. The
    // conversation sizes and names are the same for every seed; the seed
    // decides which turns share a conversation.
    val m = spark.read.parquet(s"${opts.data}/orders.parquet").count() * Replicas
    val rnd = new scala.util.Random(opts.seed)
    val a = Iterator.continually(1L + rnd.nextLong(m - 1)).find(x => BigInt(x).gcd(m) == 1).get
    val b = rnd.nextLong(m)
    val slot = pmod(col("conv_id").cast("long") * Replicas + col("rep"), lit(m)) * a + b
    val u = (pmod(slot, lit(m)) + 0.5) / lit(m.toDouble)
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy("new_conv").orderBy("conv_id", "turn_idx")
    base
      .crossJoin(spark.range(Replicas).select(col("id").as("rep")))
      .withColumn("new_conv",
        concat(lit("c"), floor(pow(u, lit(Alpha)) * lit(Convs)).cast("string")))
      .withColumn("conv_id", concat_ws("-", col("conv_id"), col("rep")))
      .withColumn("turn_idx", (row_number().over(order) - 1).cast("int"))
      .withColumn("conv_id", col("new_conv"))
      .drop("new_conv", "rep")
      // two files per core, each one parquet row group of about 0.8 MB, so
      // the scan runs one task per file: two waves, so that a core the host
      // slows holds up less of the stage. Files under half the 1 MiB split
      // size would be bin-packed two or more to a task, by byte size, and
      // the ±1% size difference between seeds could then move the count
      .repartition(FilesPerCore * spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(inputPath)
    nIn = spark.read.parquet(inputPath).count()
    inBytes = bytesUnder(inputPath)
    val files = fs.listStatus(new Path(inputPath)).count(_.getPath.getName.endsWith(".parquet"))
    System.err.println(s"[perfbench] input: $nIn rows, $inBytes bytes in $files files")
  }

  /** one untimed op; the first timed op can still read up to about 10%
    * slower, which the run's median over three or more ops absorbs
    */
  def warmUp(): Unit = {
    val out = s"${opts.work}/out/warm-up"
    Deid.run(spark, turns, out)
    delete(out)
  }

  def op(i: Int, clock: Clock): OpResult = {
    val out = s"${opts.work}/out/write-$i"
    val (_, s) = clock("Deid.run")(Deid.run(spark, turns, out))
    lastOut.foreach(delete)
    lastOut = Some(out)
    OpResult(s, 1, 0)
  }

  /** Checks the last successful op's output, and in a traced run the
    * resume exercise, which no timed op counts.
    */
  def check(): CheckResult = {
    val write = lastOut match {
      case None => Nil // every op failed, and each is counted already
      case Some(out) =>
        val rows = spark.read.parquet(out)
        val n = rows.count()
        val count = if (n == inputRows) Nil else Seq(s"rows out $n != rows in $inputRows")
        count ++ unsortedFiles(out) ++ checkSample(rows, "replace")
    }
    val resumed = if (resumeRan) 1 else 0
    CheckResult(resumed, (if (write.nonEmpty) 1 else 0) + (if (resumeProblems.nonEmpty) 1 else 0),
      write ++ resumeProblems)
  }

  /** part files whose rows are not sorted by (conv_id, turn_idx) */
  private def unsortedFiles(out: String): Seq[String] = {
    val files = fs.listStatus(new Path(out)).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    files.toSeq.flatMap { f =>
      val keys = spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        .map(r => (r.getString(0), r.getInt(1)))
      val sorted = keys.sliding(2).forall {
        case Array(a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
        case _ => true
      }
      if (sorted) None else Some(s"$f is not sorted by (conv_id, turn_idx)")
    }
  }

  /** a seeded sample of about `n` input rows, for the output check and
    * the per-row layers
    */
  private def sample(n: Long): Array[Row] =
    turns.where(pmod(xxhash64(lit(opts.seed), col("conv_id"), col("turn_idx")),
        lit(math.max(inputRows / n, 1L))) === 0)
      .select("conv_id", "turn_idx", "text").collect()

  /** problems in `out` rows (keyed by conv_id, turn_idx) for the sample */
  private def checkSample(out: DataFrame, mode: String): Seq[String] = {
    val want = sample(CheckSample)
    val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(want.toSeq.map(r => Row(r.getString(0), r.getInt(1)))),
        out.select("conv_id", "turn_idx").schema)
    val got = out.join(broadcast(keys), Seq("conv_id", "turn_idx"))
      .select("conv_id", "turn_idx", "text", "entities", "events", "replacement_map")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val bad = want.flatMap { w =>
      val k = (w.getString(0), w.getInt(1))
      got.get(k) match {
        case None => Some(s"sampled row $k missing from $mode output")
        case Some(r) if !sameResult(r, expected(w.getString(2), mode)) =>
          Some(s"sampled row $k differs from DeidCore.process in $mode mode")
        case _ => None
      }
    }
    if (want.isEmpty) Seq("output check sampled no rows") else bad.take(5).toSeq
  }

  def layers(m: Metrics, tracer: Tracer, last: Span): Unit = {
    val rows = RowLayers.measure(sample(RowSample).map(_.getString(2)))
    rows.foreach { case (k, (v, u)) => m(k, v, u) }
    SparkLayer.report(m, last, spark.sparkContext.defaultParallelism)
    m("write.out_bytes_per_in_byte", bytesUnder(lastOut.get).toDouble / inBytes, "ratio")
    val redacted = Deid.redact(turns)
    val (_, r) = tracer.span("pipeline.redact")(Bench.force(redacted))
    val (_, c) = tracer.span("pipeline.cluster")(Bench.force(Deid.clusterForWrite(redacted)))
    m("pipeline.redact_s", r.wallS, "s")
    m("pipeline.cluster_s", c.wallS, "s")
    m("functions.expr_overhead_ratio",
      r.taskNs.toDouble / inputRows / rows("pipeline.core_ns_per_turn")._1, "ratio")
    resumeLayers(m, tracer)
  }

  /** the plans layer: cold run, crash, resume and no-op resume of a
    * bucketed `CheckpointedRun`, with its output checked
    */
  private def resumeLayers(m: Metrics, tracer: Tracer): Unit = {
    val out = s"${opts.work}/out/resume"
    val inputFp = s"perfbench-seed-${opts.seed}"
    def runOnce() = CheckpointedRun.run(spark, Deid.redact(turns, "blackbox"), out,
      inputFp, RuleFp, nBuckets = Buckets, groupSize = GroupSize)
    resumeRan = true
    val (cold, coldSpan) = tracer.span("resume.cold")(runOnce())
    val lineageFiles = crash(out)
    val (resumed, resumeSpan) = tracer.span("resume.resume")(runOnce())
    val (noop, noopSpan) = tracer.span("resume.noop")(runOnce())
    if (cold.processed != Buckets || resumed.processed != Lost.size || noop.processed != 0)
      resumeProblems += s"buckets processed cold/resume/no-op: ${cold.processed}/" +
        s"${resumed.processed}/${noop.processed}, want $Buckets/${Lost.size}/0"

    val lineage = spark.read.parquet(s"$out/_lineage")
    val done = lineage.where(col("status") === "done" &&
        col("run_id") === CheckpointedRun.runId(inputFp, RuleFp, Buckets))
      .select("bucket", "turns").collect()
    val buckets = done.map(_.getInt(0)).distinct.length
    if (buckets != Buckets) resumeProblems += s"$buckets of $Buckets buckets marked done"
    val turnsDone = done.map(_.getLong(1)).sum
    if (turnsDone != inputRows) resumeProblems += s"lineage turns $turnsDone != rows in $inputRows"
    resumeProblems ++= checkSample(spark.read.parquet(s"$out/data"), "blackbox")

    m("plans.groups", lineageFiles.toDouble, "count")
    m("plans.group_s_max", coldSpan.jobMs.maxOption.getOrElse(0L) / 1e3, "s")
    m("plans.input_scans", coldSpan.inputRecords.toDouble / inputRows, "ratio")
    m("plans.cold_s", coldSpan.wallS, "s")
    m("plans.resume_s", resumeSpan.wallS, "s")
    m("plans.noop_resume_s", noopSpan.wallS, "s")
    m("plans.lineage_rows", lineage.count().toDouble, "count")
    m("plans.task_over_wall_cores",
      coldSpan.taskS / (coldSpan.wallS * spark.sparkContext.defaultParallelism), "ratio")
    m("plans.out_bytes_per_in_byte", bytesUnder(s"$out/data").toDouble / inBytes, "ratio")
  }

  /** Deletes the lineage files that record the last two groups' buckets;
    * returns how many lineage files the cold run wrote.
    */
  private def crash(out: String): Int = {
    val byFile = spark.read.parquet(s"$out/_lineage")
      .select(input_file_name(), col("bucket")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    byFile.collect { case (f, bs) if bs.subsetOf(Lost) => f }
      .foreach(f => fs.delete(new Path(f), false))
    byFile.size
  }
}

object DeidWrite {
  /** copies of the generated turns, conv_id suffixed per copy */
  val Replicas = 4
  /** input files per core; see `prepare` */
  val FilesPerCore = 2
  /** new conversation ids the copies are regrouped into */
  val Convs = 20000
  val Alpha = 4.0
  /** about this many input rows are checked against the per-row path */
  val CheckSample = 300L
  /** and this many are timed in the per-row layer loops */
  val RowSample = 1000L

  /** the bucketed writer's layout: 4 groups of 16 buckets */
  val Buckets = 64
  val GroupSize = 16
  val RuleFp = "blackbox-zh"
  /** buckets of the last two groups, whose lineage the crash loses */
  val Lost: Set[Int] = (0 until Buckets).grouped(GroupSize).toSeq.takeRight(2).flatten.toSet

  /** what the engine's per-row path returns for one input text */
  def expected(text: String, mode: String): DeidCore.Result = {
    val t = if (HtmlExtract.looksLikeHtml(text)) HtmlExtract.getText(text) else text
    DeidCore.process(t, mode)
  }

  def sameResult(r: Row, e: DeidCore.Result): Boolean = {
    val ents = r.getSeq[Row](3).map(x => (x.getAs[String]("typ"),
      x.getAs[Double]("confidence"), x.getAs[Double]("score"), x.getAs[String]("source"),
      x.getAs[String]("language"), x.getAs[Int]("start"), x.getAs[Int]("end"),
      x.getAs[String]("text")))
    val wantEnts = e.entities.map(x =>
      (x.typ, x.confidence, x.score, x.source, x.language, x.start, x.end, x.text))
    val evs = r.getSeq[Row](4).map(x => (x.getAs[String]("entity_type"),
      x.getAs[String]("original"), x.getAs[String]("replacement"),
      x.getAs[Int]("start"), x.getAs[Int]("end"), x.getAs[String]("source")))
    val wantEvs = e.events.map(x =>
      (x.entity_type, x.original, x.replacement, x.start, x.end, x.source))
    r.getString(2) == e.text && ents == wantEnts && evs == wantEvs &&
      r.getMap[String, String](5).toMap == e.replacementMap
  }
}

/** Corpus-curation queries of `SparkEntry.queries`, run in order,
  * each forced through the noop sink, caches released after each. The
  * warm-up pass writes each result for the oracle comparison.
  */
final class Curation(spark: SparkSession, opts: Opts) extends Workload(spark, opts) {
  import Curation._

  private val queries = SparkEntry.queries
  private var nIn = 0L
  /** block-manager bytes still cached when each query of the last op returned */
  private val cachedAfter = mutable.LinkedHashMap.empty[String, Long]

  def inputRows: Long = nIn

  def prepare(): Unit =
    nIn = Tables.map(t => spark.read.parquet(s"${opts.data}/$t.parquet").count()).sum

  def op(i: Int, clock: Clock): OpResult = {
    var failed = 0
    val (_, s) = clock("sequence") {
      Names.foreach { q =>
        try {
          val (_, qs) = clock(s"ops.$q")(Bench.force(queries(q)(spark, opts.data)))
          System.err.println(f"[perfbench] $q%s took $qs%.3f s")
        }
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          failed += 1
        }
        cachedAfter(q) = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum
        spark.catalog.clearCache()
      }
    }
    OpResult(s, Names.size, failed)
  }

  /** Runs each query once, writing its result and its DuckDB oracle SQL
    * under `<work>/check` for the caller to compare, then runs the sequence
    * [[WarmPasses]] more times: Catalyst's planning code, which dominates
    * these queries at this input size, takes about ten passes to compile,
    * and ops timed before then read up to twice as slow.
    */
  def warmUp(): Unit = {
    val dir = s"${opts.work}/check"
    val written = Names.filter { q =>
      try {
        queries(q)(spark, opts.data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
        true
      } catch { case e: Exception =>
        warmUpProblems += s"$q failed on the check pass: $e"
        false
      } finally spark.catalog.clearCache()
    }
    // only the queries that wrote a result go to the oracle comparison, so
    // a query that fails here is counted once
    val sql = SparkEntry.oracleSql
    Json.writeObject(s"$dir/oracle_sql.json", written.map(q => q -> Json.str(sql(q))))
    (1 to WarmPasses).foreach(_ => Names.foreach { q =>
      Bench.force(queries(q)(spark, opts.data))
      spark.catalog.clearCache()
    })
  }

  private val warmUpProblems = mutable.ArrayBuffer.empty[String]

  /** The check pass ran every query once more than the timed ops; the
    * queries that failed on it are counted here, and the caller adds the
    * written results that differ from their oracles.
    */
  def check(): CheckResult = CheckResult(Names.size, warmUpProblems.length, warmUpProblems.toSeq)

  def layers(m: Metrics, tracer: Tracer, last: Span): Unit = {
    SparkLayer.report(m, last, spark.sparkContext.defaultParallelism)
    val perQuery = tracer.all.filter(s => s.parent.exists(p =>
      tracer.all(p).parent.contains(last.id))).map(s => s.name -> s).toMap
    Names.foreach { q =>
      val s = perQuery(s"ops.$q")
      m(s"ops.$q.s", s.wallS, "s")
      m(s"ops.$q.jobs", s.jobs.toDouble, "count")
      m(s"ops.$q.shuffle_mb", s.shuffleWriteBytes / 1e6, "MB")
      m(s"ops.$q.cached_mb_after", cachedAfter(q) / 1e6, "MB")
      m(s"ops.$q.skew", s.lastStageSkew, "ratio")
    }
  }
}

object Curation {
  val Names: Seq[String] = Seq(
    "percentile_exact", "domain_cap_exact")
  val WarmPasses = 12
  val Tables: Seq[String] = Seq("documents", "events")
}

/** Spark-layer counters of one span. */
object SparkLayer {
  def report(m: Metrics, s: Span, cores: Int): Unit = {
    m("spark.jobs", s.jobs.toDouble, "count")
    m("spark.stages", s.stages.toDouble, "count")
    m("spark.task_s", s.taskS, "s")
    m("spark.task_over_wall_cores", s.taskS / (s.wallS * cores), "ratio")
    m("spark.shuffle_write_mb", s.shuffleWriteBytes / 1e6, "MB")
    m("spark.spill_mb", s.spillBytes / 1e6, "MB")
    m("spark.input_read_mb", s.inputBytes / 1e6, "MB")
    m("spark.input_rows", s.inputRecords.toDouble, "count")
    m("spark.output_mb", s.outputBytes / 1e6, "MB")
    m("spark.last_stage_max_over_median", s.lastStageSkew, "ratio")
  }
}
