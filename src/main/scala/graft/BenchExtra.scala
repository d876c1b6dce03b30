package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round measurement harness (guide §1.4): times individual
  * declared queries through the noop sink with the SAME session config as
  * [[Bench]], prints one JSON line per query, and can dump
  * `.explain("formatted")` plans to `plans/r08/`. Bench.scala itself is
  * frozen for measurement; this main exists so per-query isolation and plan
  * capture never touch the driver contract.
  *
  * Usage: `sbt "runMain graft.BenchExtra [runs=N] [plans] [query ...]"`
  * (no query args = the full heavy set). Every listed query runs once
  * untimed before any query is timed (a JVM's first query otherwise pays
  * the JIT warm-up in its timed runs), then each runs `runs` times, with
  * the cache cleared before every timed run. `profile` warms the same way.
  */
object BenchExtra {

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Single-thread microbenchmark of the per-row PDF chain (synth → redact →
    * re-extract) — attributes the per-document cost outside Spark.
    */
  def pdfMicro(): Unit = {
    val src = "id A123456789 here\ncall 0912-345-678 now\n" + ("lorem ipsum dolor sit amet " * 3).take(80)
    def time(label: String, n: Int)(f: => Any): Unit = {
      (1 to 200).foreach(_ => f) // warmup
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"$label: ${(System.nanoTime() - t0) / 1e3 / n}%.1f us/op")
    }
    val pdf = graft.extract.PdfBuilder.singlePage(src)
    val (red, _) = graft.extract.PdfRedact.redact(pdf)
    time("pdfSynth", 2000)(graft.extract.PdfBuilder.singlePage(src))
    time("pageBlocks", 2000)(graft.extract.PdfExtract.pageBlocks(pdf))
    time("detect(block)", 2000)(
      graft.pipeline.DeidCore.detect(src, "zh", withStub = false))
    time("redact(full)", 1000)(graft.extract.PdfRedact.redact(pdf))
    time("extractText(redacted)", 2000)(graft.extract.PdfExtract.extractText(red))
    time("rewrite(full)", 1000)(graft.extract.PdfRewrite.redact(pdf))
  }

  /** Runs every query once untimed and clears the cache: the JVM is warm
    * before the first timed query, and an eager operator's cached result
    * from building a frame never serves a timed run.
    */
  private def warm(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    names.foreach(name => force(SparkEntry.queries(name)(spark, sfDir)))
    spark.catalog.clearCache()
  }

  /** Per-stage wall/task-time attribution for one query (guide §1.1): runs
    * the query once with a listener, printing its wall time and job count,
    * then each stage's task-time sum and row counts.
    */
  def profile(spark: SparkSession, sfDir: String, name: String): Unit = {
    val stages = scala.collection.mutable.LinkedHashMap.empty[Int, (String, Long, Long, Int)]
    val stageJob = scala.collection.mutable.HashMap.empty[Int, String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val cs = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        stageJob.synchronized {
          j.stageIds.foreach(sid => stageJob(sid) = s"job${j.jobId}[$cs]")
        }
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val graftLine = si.details.linesIterator
          .filter(l => l.contains("graft") && !l.contains("BenchExtra"))
          .take(2).mkString(" <- ").trim.take(120)
        val job = stageJob.synchronized(stageJob.getOrElse(si.stageId, "?"))
        val tm = si.taskMetrics
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name)
          .distinct.mkString(",").take(120)
        val extra = f"cpu ${tm.executorCpuTime / 1e9}%6.2f deser ${tm.executorDeserializeTime / 1000.0}%5.2f gc ${tm.jvmGCTime / 1000.0}%5.2f in ${tm.inputMetrics.bytesRead / 1e6}%6.1fMB/${tm.inputMetrics.recordsRead}%d"
        stages.synchronized {
          stages(si.stageId) = (s"$extra  $job {$scopes} [${si.name.take(30)}] $graftLine",
            si.taskMetrics.executorRunTime,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten,
            si.numTasks)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    try force(SparkEntry.queries(name)(spark, sfDir))
    finally {
      org.apache.spark.sql.graftshim.Bridge.waitListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    println(f"== $name wall ${(System.nanoTime() - t0) / 1e9}%.3f s jobs ${stageJob.values.toSet.size}")
    stages.toSeq.sortBy(-_._2._2).take(25).foreach { case (id, (nm, rt, sw, nt)) =>
      println(f"  stage $id%4d  runTime ${rt / 1000.0}%8.2f s  shufWrite ${sw / 1e6}%8.1f MB  tasks $nt%4d  $nm")
    }
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("pdfmicro")) { pdfMicro(); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (args.headOption.contains("oplans")) {
      // operator-level plans for frames whose declared-query plan is
      // truncated by an eager checkpoint (the battery executes during
      // construction and the query plan shows only the checkpoint scan)
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      val dir = new java.io.File("plans/r08"); dir.mkdirs()
      def dump(name: String, df: DataFrame): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"plans/r08/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dump("op_repetition_signals_full_after",
        graft.ops.TextStats.repetitionSignalsFull(d))
      dump("op_repetition_signals_after", graft.ops.TextStats.repetitionSignals(d))
      dump("op_keepers_by_key_exact_after", graft.ops.Dedup.exact(d))
      spark.stop(); return
    }
    if (args.headOption.contains("profile")) {
      warm(spark, sfDir, args.drop(1).toSeq)
      args.drop(1).foreach(n => profile(spark, sfDir, n))
      spark.stop(); return
    }
    val runs = args.collectFirst { case s if s.startsWith("runs=") =>
      s.stripPrefix("runs=").toInt }.getOrElse(3)
    val dumpPlans = args.contains("plans")
    val names0 = args.filterNot(a => a.startsWith("runs=") || a == "plans")
    val names = if (names0.nonEmpty) names0.toSeq else Seq(
      "pdf_redact", "pdf_rewrite_redact", "repetition_filter_full",
      "domain_cap_exact", "knn_lsh", "dedup_minhash_pairs",
      "dedup_simhash_pairs", "bm25_topk", "dsir_importance",
      "crawl_curation_pipeline", "dedup_keepers", "corpus_build_decision",
      "sentence_span_dedup", "dedup_substring_merged", "semantic_dedup_pairs",
      "url_dedup", "decontamination_scrub", "c4_filter", "hashed_quality",
      "knn_pq", "lm_quality_buckets", "repetition_filter")

    warm(spark, sfDir, names)
    names.foreach { name =>
      if (dumpPlans) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val dir = new java.io.File("plans/r08")
        dir.mkdirs()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"plans/r08/${name}_current.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        force(SparkEntry.queries(name)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"""{"query":"$name","best":${times.min}%.3f,"runs":${times.map(t => f"$t%.3f").mkString("[", ",", "]")}}""")
    }
    spark.stop()
  }
}
