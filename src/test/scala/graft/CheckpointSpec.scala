package graft

import graft.pipeline.{Deid, TurnsGen}
import graft.plans.CheckpointedRun
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("checkpointed run completes, resumes as no-op, and reprocesses only missing buckets") {
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val redacted = Deid.redact(TurnsGen.turns(spark, sfDir))

    // first run: everything pending
    val s1 = CheckpointedRun.run(spark, redacted, out, "sf0.001", "rules-v1", nBuckets = 8)
    assert(s1.processed == 8 && s1.skipped == 0)
    val full = spark.read.parquet(s"$out/data")
    val totalRows = full.count()
    assert(totalRows == spark.read.parquet(s"$sfDir/orders.parquet").count() * 3)

    // re-run: pure no-op
    val s2 = CheckpointedRun.run(spark, redacted, out, "sf0.001", "rules-v1", nBuckets = 8)
    assert(s2.processed == 0 && s2.skipped == 8)

    // simulate a crash: drop lineage rows for 3 buckets (keep the data —
    // idempotent overwrite must regenerate identical content)
    val lineage = spark.read.parquet(s"$out/_lineage").cache()
    lineage.count()
    lineage.where(col("bucket") >= 3)
      .write.mode("overwrite").parquet(s"$out/_lineage_tmp")
    spark.read.parquet(s"$out/_lineage_tmp").write.mode("overwrite")
      .parquet(s"$out/_lineage")
    val s3 = CheckpointedRun.run(spark, redacted, out, "sf0.001", "rules-v1", nBuckets = 8)
    assert(s3.processed == 3 && s3.skipped == 5, s"got $s3")

    // content identical to a fresh full run
    val after = spark.read.parquet(s"$out/data")
    assert(after.count() == totalRows)
    val h1 = after.selectExpr("sum(hash(conv_id, turn_idx, text))").first().getLong(0)
    val out2 = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    CheckpointedRun.run(spark, redacted, out2, "sf0.001", "rules-v1", nBuckets = 8)
    val h2 = spark.read.parquet(s"$out2/data")
      .selectExpr("sum(hash(conv_id, turn_idx, text))").first().getLong(0)
    assert(h1 == h2)
  }

  test("kill mid-run and resume: committed groups skip, only the rest reprocess") {
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_kill").toString
    val redacted = Deid.redact(TurnsGen.turns(spark, sfDir))

    // simulate a driver death between group commits: run fully (groups of 2
    // over buckets 0..7), then erase the LAST group's lineage rows and data
    // dirs — exactly the on-disk state a crash during group (6,7) leaves
    CheckpointedRun.run(spark, redacted, out, "sf0.001", "rules-v1",
      nBuckets = 8, groupSize = 2)
    val lineage = spark.read.parquet(s"$out/_lineage").cache()
    lineage.count()
    lineage.where(col("bucket") < 6)
      .write.mode("overwrite").parquet(s"$out/_lineage_tmp")
    spark.read.parquet(s"$out/_lineage_tmp").write.mode("overwrite")
      .parquet(s"$out/_lineage")
    Seq(6, 7).foreach { b =>
      val dir = new java.io.File(s"$out/data/bucket=$b")
      dir.listFiles().foreach(_.delete()); dir.delete()
    }

    // snapshot a committed bucket's files: resume must NOT rewrite them
    val b0 = new java.io.File(s"$out/data/bucket=0")
    val before = b0.listFiles().map(f => f.getName -> f.lastModified()).toMap

    val resumed = CheckpointedRun.run(spark, redacted, out, "sf0.001", "rules-v1",
      nBuckets = 8, groupSize = 2)
    assert(resumed.processed == 2 && resumed.skipped == 6, s"got $resumed")
    val after = b0.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "resume rewrote an already-committed bucket")

    // final content identical to a clean full run
    val out2 = java.nio.file.Files.createTempDirectory("graft_ckpt_kill2").toString
    CheckpointedRun.run(spark, redacted, out2, "sf0.001", "rules-v1", nBuckets = 8)
    val h = (p: String) => spark.read.parquet(p)
      .selectExpr("sum(hash(conv_id, turn_idx, text))").first().getLong(0)
    assert(h(s"$out/data") == h(s"$out2/data"))
    assert(spark.read.parquet(s"$out/data").count() ==
      spark.read.parquet(s"$out2/data").count())
  }

  test("data-dependent crash mid-run (default): earlier groups' lineage survives") {
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_fail").toString
    val redacted = Deid.redact(TurnsGen.turns(spark, sfDir))
    // poison any row hashing to bucket 7: with the default (unpersisted)
    // input, each group's job filters on the bucket BEFORE evaluating the
    // poisoned column, so groups (0,1),(2,3),(4,5) commit and only the
    // in-flight group (6,7) is lost — incremental progress under organic
    // data-dependent failures
    val poisoned = redacted.withColumn("text",
      when(pmod(hash(col("conv_id")), lit(8)) === 7,
        raise_error(lit("injected crash"))).otherwise(col("text")))
    intercept[Exception] {
      CheckpointedRun.run(spark, poisoned, out, "sf0.001", "rules-v1",
        nBuckets = 8, groupSize = 2)
    }
    val doneAfterCrash = spark.read.parquet(s"$out/_lineage")
      .where(col("status") === "done").select("bucket")
      .collect().map(_.getInt(0)).toSet
    assert(doneAfterCrash == Set(0, 1, 2, 3, 4, 5), doneAfterCrash)

    // resume with the clean frame: only the lost group reprocesses
    val resumed = CheckpointedRun.run(spark, redacted, out, "sf0.001", "rules-v1",
      nBuckets = 8, groupSize = 2)
    assert(resumed.processed == 2 && resumed.skipped == 6, s"got $resumed")
    assert(spark.read.parquet(s"$out/data").count() ==
      spark.read.parquet(s"$sfDir/orders.parquet").count() * 3)
  }

  test("empty buckets get lineage rows (no retry-forever) and empty groups don't crash") {
    val out = java.nio.file.Files.createTempDirectory("graft_ckpt_empty").toString
    // 2 conversations over 64 buckets with groups of 4: most groups write
    // ZERO rows — the dataPath read-back shape crashed here (no parquet
    // files to infer a schema from) and empty buckets never got done rows
    val tiny = Deid.redact(TurnsGen.turns(spark, sfDir)
      .where(col("conv_id").isin("1", "2")))
    val s1 = CheckpointedRun.run(spark, tiny, out, "tiny", "rules-v1",
      nBuckets = 64, groupSize = 4)
    assert(s1.processed == 64 && s1.skipped == 0)
    val doneRows = spark.read.parquet(s"$out/_lineage")
      .where(col("status") === "done").count()
    assert(doneRows == 64, s"$doneRows lineage rows — empty buckets skipped")
    val s2 = CheckpointedRun.run(spark, tiny, out, "tiny", "rules-v1",
      nBuckets = 64, groupSize = 4)
    assert(s2.processed == 0 && s2.skipped == 64, s"got $s2")
  }

  test("different rule fingerprint gets a different run id (no false resume)") {
    val a = CheckpointedRun.runId("in", "rules-v1", 8)
    val b = CheckpointedRun.runId("in", "rules-v2", 8)
    val c = CheckpointedRun.runId("in", "rules-v1", 16)
    assert(a != b && a != c)
  }
}
