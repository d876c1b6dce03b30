package graft.plans

import graft.functions.Digests
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed, idempotently-resumable bucketed writes (north rule;
  * SURVEY §7.5).
  *
  * Layout:
  * {{{
  *   <out>/data/bucket=<b>/part-*.parquet   -- hash(conv_id) % nBuckets
  *   <out>/_lineage/part-*.parquet          -- (run_id, bucket, status,
  *                                              turns, rule_fp, input_fp,
  *                                              finished_unix_ms)
  * }}}
  *
  * A run processes only buckets without a `done` lineage row for its
  * `run_id`. Each bucket directory is replaced atomically via dynamic
  * partition overwrite, so a task/driver retry cannot half-write a bucket
  * that is marked done: the lineage row is appended only after the write
  * commits. Pending buckets are processed in GROUPS of `groupSize`, with
  * lineage committed after each group — a driver crash mid-run loses at
  * most the in-flight group, and the next invocation (same fingerprints)
  * skips every group already marked done. At 10^12-turn scale the unit of
  * resume is the bucket (set `nBuckets` ≈ cluster cores × 4, `groupSize`
  * to taste: smaller = finer resume, more write jobs); re-running a
  * completed job is a no-op.
  *
  * This is the parquet-native analogue of Iceberg snapshot+manifest
  * semantics; swapping the writer for an Iceberg table keeps the interface.
  */
object CheckpointedRun {

  final case class RunStatus(runId: String, total: Int, processed: Int, skipped: Int)

  def runId(inputFingerprint: String, ruleFingerprint: String, nBuckets: Int): String =
    Digests.sha256Hex(s"$inputFingerprint:$ruleFingerprint:$nBuckets").substring(0, 16)

  /** Execute (or resume) a bucketed materialization of `df`.
    *
    * @param df          rows including a `conv_id` column; all columns are written
    * @param outPath     output root
    * @param inputFingerprint stable fingerprint of the input snapshot
    * @param ruleFingerprint  stable fingerprint of the job config/rules
    */
  def run(
      spark: SparkSession,
      df: DataFrame,
      outPath: String,
      inputFingerprint: String,
      ruleFingerprint: String,
      nBuckets: Int = 64,
      groupSize: Int = 16
  ): RunStatus = {
    require(groupSize > 0)
    val id = runId(inputFingerprint, ruleFingerprint, nBuckets)
    val lineagePath = s"$outPath/_lineage"
    val dataPath = s"$outPath/data"

    val done: Set[Int] =
      if (pathExists(spark, lineagePath)) {
        spark.read.parquet(lineagePath)
          .where(col("run_id") === id && col("status") === "done")
          .select("bucket").distinct()
          .collect().map(_.getInt(0)).toSet
      } else Set.empty

    val pending = (0 until nBuckets).filterNot(done)
    if (pending.isEmpty) return RunStatus(id, nBuckets, 0, nBuckets)

    // each group's job filters on the bucket hash BEFORE the expensive
    // per-row work (Catalyst pushes the filter under the projection), so a
    // data-dependent failure in one bucket aborts only its own group and
    // the earlier groups' lineage survives — the class's incremental-
    // progress guarantee
    val bucketed = df.withColumn("bucket", pmod(hash(col("conv_id")), lit(nBuckets)))
      .where(col("bucket").isin(pending: _*))

    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      pending.grouped(groupSize).foreach { group =>
        val g = bucketed.where(col("bucket").isin(group: _*))
        g // salted clustering + stable in-partition order (north rule O7)
          .repartition(col("bucket"))
          .sortWithinPartitions(col("conv_id"), col("turn_idx"))
          .write
          .mode(SaveMode.Overwrite)
          .partitionBy("bucket")
          .parquet(dataPath)

        // lineage rows appended AFTER this group's data commit — a crash
        // before this point loses only the in-flight group; already-
        // committed groups are skipped by the next invocation. Counts come
        // from the COMMITTED parquet footers (metadata only, no data scan,
        // no Spark job): recomputing them by re-running the upstream would
        // let a nondeterministic input record audit numbers that disagree
        // with the bytes actually on disk. A bucket whose directory is
        // absent wrote zero rows (dynamic overwrite emits no directory for
        // an empty partition) and still gets its `done` row with turns=0,
        // so empty buckets are not retried forever — and no DataFrame
        // read-back touches the (possibly fileless) directory, which
        // schema inference would crash on.
        val counts: Map[Int, Long] = group.map { b =>
          b -> bucketRowCount(spark, s"$dataPath/bucket=$b")
        }.toMap
        val now = System.currentTimeMillis()
        import spark.implicits._
        group.map(b => (id, b, "done", counts.getOrElse(b, 0L),
            inputFingerprint, ruleFingerprint, now))
          .toDF("run_id", "bucket", "status", "turns", "input_fp", "rule_fp",
            "finished_unix_ms")
          .coalesce(1).write.mode(SaveMode.Append).parquet(lineagePath)
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }

    RunStatus(id, nBuckets, pending.size, done.size)
  }

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Committed row count for one bucket directory, from parquet footer
    * metadata (driver-side, no job). Missing directory = empty bucket = 0.
    */
  private def bucketRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0L
    fs.listStatus(root)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }
}
