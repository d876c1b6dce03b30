package graft

import graft.pipeline.{Deid, TurnsGen}
import graft.streaming.DeidStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("streaming redaction over a file source matches the batch transform") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val turns = TurnsGen.turns(spark, "/root/testdata/sf0.001").limit(300)
    turns.write.mode("overwrite").parquet(s"$dir/in")

    val streamed = DeidStream.redact(DeidStream.readTurns(spark, s"$dir/in"))
    val q = DeidStream.writer(streamed, s"$dir/out", s"$dir/ckpt").start()
    q.awaitTermination(120000)
    // the micro-batches run the block operator of GraftExtensions
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    assert(plan.collectFirst { case d: graft.plans.DeidBlockExec => d }.nonEmpty, s"$plan")

    val got = spark.read.parquet(s"$dir/out")
    val want = Deid.redact(spark.read.parquet(s"$dir/in"))
    assert(got.count() == want.count())
    // agreement over the FULL projection: redacted text, entities, events,
    // replacement map — stream == batch row for row
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("sum(hash(conv_id, turn_idx, text, " +
        "to_json(struct(entities, events, replacement_map))))").first().getLong(0)
    assert(h(got) == h(want))

    // restart with the same checkpoint: no new files -> no new rows
    val q2 = DeidStream.writer(streamed, s"$dir/out", s"$dir/ckpt").start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$dir/out").count() == want.count())
  }

  test("streaming stratified sampling makes the identical keep/drop decisions as batch") {
    // the map-only hash-holdout needs no state, so the SAME transform runs
    // unchanged on a stream — and because the decision is a pure function
    // of the id, the streamed multiset equals the batch multiset even
    // across restarts/retries (the property rand() sampling loses)
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_samp").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source")
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val rates = Map("src0" -> 900, "src1" -> 100)
    val streamed = graft.ops.Sampling.stratifiedSample(
      spark.readStream.schema(docs.schema).parquet(s"$dir/in"),
      "source", col("doc_id"), rates, defaultPermille = 500)
    val q = streamed.writeStream
      .format("memory").queryName("samp_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT * FROM samp_stream WHERE kept")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val want = graft.ops.Sampling.stratifiedSample(
        docs, "source", col("doc_id"), rates, defaultPermille = 500)
      .where(col("kept")).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.sameElements(want) && want.nonEmpty)
  }

  test("streaming C4 battery + hashed classifier: stateless scan-stage twins agree with batch") {
    // both operators are pure per-row projections (no state, no shuffle),
    // so the SAME expressions run unchanged on a stream; decisions are pure
    // functions of the text, so the streamed multiset equals the batch
    // multiset even across retries
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_c4").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // manufacture line/sentence structure so the gates actually fire
    val toks = split(trim(col("text")), "\\s+")
    def sl(s: Int) = array_join(slice(toks, s, 6), " ")
    val pages = docs.select(col("doc_id"), concat_ws("\n",
      concat(sl(1), lit(".")), sl(8),
      when(col("doc_id") % 2 === 0, concat(sl(15), lit(" fine! just fine?"))),
      when(col("doc_id") % 13 === 0, lit("lorem ipsum dolor sit amet."))).as("text"))
    pages.write.mode("overwrite").parquet(s"$dir/in")
    def battery(df: org.apache.spark.sql.DataFrame) =
      graft.ops.WebClean.c4Signals(
          graft.ops.WebClean.hashedLinearScore(df), badWords = Seq("vector"))
        .withColumn("c4_keep", graft.ops.WebClean.c4Keep())
    val q = battery(spark.readStream.schema(pages.schema).parquet(s"$dir/in"))
      .writeStream.format("memory").queryName("c4_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("sum(hash(doc_id, n_tokens, score_sum, keep, n_lines, " +
        "n_kept_lines, cleaned_text, n_sentences, has_lorem, c4_keep))")
        .first().getLong(0)
    val got = spark.sql("SELECT * FROM c4_stream")
    val want = battery(spark.read.parquet(s"$dir/in"))
    assert(got.count() == want.count() && want.count() > 0)
    assert(h(got) == h(want))
    // every gate visibly fires in the twin corpus
    assert(want.where(col("c4_keep")).count() > 0)
    assert(want.where(!col("c4_keep")).count() > 0)
    assert(want.where(col("has_lorem")).count() > 0)
  }

  test("streaming URL canonicalization: stateless scan-stage twin agrees with batch") {
    // canonicalize + registeredDomain are pure per-row projections — the
    // continuous crawl-ingest shape normalizes URLs on the stream and only
    // the keeper/cap aggregations run batchwise downstream
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_url").toString
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 19 === 0, lit("garbage not a url"))
          .otherwise(concat(
            when(col("doc_id") % 2 === 0, lit("HTTP://www.")).otherwise(lit("https://")),
            lit("Site-"), pmod(col("doc_id"), lit(7L)), lit(".example.co.uk"),
            when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
            lit("/p/"), col("doc_id") % 50,
            when(col("doc_id") % 3 === 0, lit("/?utm_source=x&b=1#f"))
              .otherwise(lit("?b=1")))).as("url"))
    raw.write.mode("overwrite").parquet(s"$dir/in")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("c", graft.ops.UrlOps.canonicalizeUrl(col("url")))
        .withColumn("domain", graft.ops.UrlOps.registeredDomain(col("c")))
    val q = canon(spark.readStream.schema(raw.schema).parquet(s"$dir/in"))
      .writeStream.format("memory").queryName("url_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("sum(hash(doc_id, url, c, domain))").first().getLong(0)
    val got = spark.sql("SELECT * FROM url_stream")
    val want = canon(spark.read.parquet(s"$dir/in"))
    assert(got.count() == want.count() && want.count() > 0)
    assert(h(got) == h(want))
    assert(want.where(col("c").isNull).count() > 0)    // garbage branch fired
    assert(want.where(col("domain") === "example.co.uk").count() > 0)
  }

  test("streaming drift histograms: complete-mode bucket counts equal the batch histogram") {
    // the drift monitor's streaming half: bucket counts accumulate over
    // the stream (complete output mode — state is <= nBuckets rows), so a
    // continuous-ingest job can chi-square every increment against a
    // static reference snapshot without rescanning anything
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_drift").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val hist = spark.readStream.schema(docs.schema).parquet(s"$dir/in")
      .select(explode(graft.ops.Dsir.featureArray(col("text"))).as("feat"))
      .select(graft.ops.Dsir.featureBucket(col("feat"), 512).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val q = hist.writeStream.format("memory").queryName("drift_hist")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT * FROM drift_hist")
    val want = graft.ops.Dsir.bucketHistogram(
      spark.read.parquet(s"$dir/in"), nBuckets = 512)
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    // χ² of the streamed histogram against the batch one is exactly zero
    val tot = graft.ops.Drift.chiSquareTotal(
      graft.ops.Drift.chiSquareDrift(got, want)).collect()(0)
    assert(tot.getDouble(0) === 0.0)
  }

  test("streaming PQ encode: stateless scan-stage twin agrees with batch codes") {
    // encode is a pure projection, so the incremental pipeline must emit
    // byte-identical codes — the shape a continuous embedding-ingest job
    // uses to keep an ANN index's code table current
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_pq").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.write.mode("overwrite").parquet(s"$dir/in")
    val cb = graft.ops.Pq.fixedCodebook()
    val q = graft.ops.Pq.encode(
        spark.readStream.schema(emb.schema).parquet(s"$dir/in"), cb)
      .writeStream.format("memory").queryName("pq_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("sum(hash(n_id, codes))").first().getLong(0)
    val got = spark.sql("SELECT * FROM pq_stream")
    val want = graft.ops.Pq.encode(spark.read.parquet(s"$dir/in"), cb)
    assert(got.count() == want.count() && want.count() > 0)
    assert(h(got) == h(want))
  }

  test("windowed entity counts with watermark produce rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    TurnsGen.turns(spark, "/root/testdata/sf0.001").limit(200)
      .write.mode("overwrite").parquet(s"$dir/in")
    val counts = DeidStream.entityCountsByWindow(DeidStream.readTurns(spark, s"$dir/in"))
    val q = counts.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.sql("SELECT * FROM win_counts")
    assert(rows.count() > 0)
    assert(rows.columns.toSet == Set("window", "typ", "count"))
  }
  test("streaming exact dedup: duplicate texts collapse to one survivor") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    // 40 docs where ids sharing id % 10 share TEXT => 10 distinct texts
    val docs = spark.range(40).select(
      col("id").as("doc_id"),
      concat(lit("document body "), (col("id") % 10).cast("string")).as("text"),
      timestamp_seconds(lit(1767225600L) + col("id")).as("ts"))
    docs.write.mode("overwrite").parquet(s"$dir/in")

    val in = spark.readStream
      .schema("doc_id bigint, text string, ts timestamp")
      .parquet(s"$dir/in")
    val q = graft.streaming.DeidStream.dedupExact(in)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() == 10, s"got ${got.count()} survivors")
    assert(got.select("text").distinct().count() == 10)
    // agreement with the batch twin's survivor SET (one doc per text)
    val batch = graft.ops.Dedup.exact(docs).where(!col("is_dup"))
    assert(batch.count() == 10)
  }

  test("streaming decontamination agrees with the batch scrub") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream4").toString
    // corpus docs embed an 8-token benchmark sentence at varying offsets
    val bench = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = spark.range(30).select(
      col("id").as("doc_id"),
      concat(lit("u"), col("id"), lit("a u"), col("id"), lit("b "),
        when(col("id") % 3 === 0, lit(bench + " ")).otherwise(lit("")),
        lit("tail"), col("id")).as("text"))
    docs.write.mode("overwrite").parquet(s"$dir/in")
    val reference = spark.range(1).select(lit(0L).as("doc_id"),
      lit("prefix " + bench + " suffix").as("text"))

    val in = spark.readStream.schema("doc_id bigint, text string")
      .parquet(s"$dir/in")
    val q = DeidStream.decontaminateSpans(in, reference, k = 8)
      .writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val got = spark.read.parquet(s"$dir/out")
    val want = graft.ops.Dedup.contaminatedSpans(
      spark.read.parquet(s"$dir/in"), reference, k = 8)
    // only the id % 3 == 0 docs carry the benchmark window
    assert(got.select("doc_id").distinct().count() == 10)
    // batch-twin agreement over the FULL span projection
    val h = (df: org.apache.spark.sql.DataFrame) =>
      df.selectExpr("sum(hash(doc_id, tok_start, tok_end, start, `end`))")
        .first().getLong(0)
    assert(got.count() == want.count() && h(got) == h(want))
    // per-batch merge in foreachBatch equals the batch merge (docs arrive
    // whole within a batch)
    val mGot = graft.ops.Dedup.mergeTokenSpans(got)
    val mWant = graft.ops.Dedup.mergeTokenSpans(want)
    assert(mGot.count() == mWant.count() && h(mGot) == h(mWant))
  }

  test("streaming conversation fingerprints: incremental state across batches == batch aggregation") {
    import org.apache.spark.sql.functions._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_stream5").toString
    val turns = TurnsGen.turns(spark, "/root/testdata/sf0.001")
      .where(col("conv_id").cast("long") < 900)
      .select("conv_id", "turn_idx", "text").cache()

    // batch 1: turns 0-1 of every conversation; batch 2: turn 2 — every
    // conversation SPANS both micro-batches, so the fold must carry state
    // through the checkpoint across two separate availableNow drains
    turns.where(col("turn_idx") < 2).write.mode("overwrite").parquet(s"$dir/in")
    val in = spark.readStream.schema("conv_id string, turn_idx int, text string")
      .parquet(s"$dir/in")
    def drain(): Unit = {
      val q = DeidStream.conversationFingerprints(in)
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    drain()
    turns.where(col("turn_idx") === 2).write.mode("append").parquet(s"$dir/in")
    drain()

    // n_turns is monotone: the final signature per conversation is its
    // max-n emission ("latest wins")
    val got = spark.read.parquet(s"$dir/out")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("conv_id")
          .orderBy(desc("n_turns"))))
      .where(col("rk") === 1)
      .select("conv_id", "fp", "fp2", "n_turns")
    val want = turns.groupBy("conv_id").agg(
      graft.ops.TextStats.multisetFingerprint128(col("turn_idx"), col("text")).as("fp128"),
      count(lit(1)).as("n_turns"))
      .select(col("conv_id"), col("fp128.fp_lo").as("fp"),
        col("fp128.fp_hi").as("fp2"), col("n_turns"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed conversation fingerprints must be bit-equal to the batch aggregation")
    // partial emissions from batch 1 exist (n=2) — the stream really did
    // fold incrementally rather than seeing each conversation whole
    assert(spark.read.parquet(s"$dir/out").where(col("n_turns") === 2).count() > 0)
    turns.unpersist()
  }

  test("streaming conversation fingerprints: null text matches batch (XxHash64 null-skip)") {
    import org.apache.spark.sql.functions._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream6").toString
    // conversation "a" has a NULL-text turn; batch xxhash64 skips the null
    // child (contribution = hashInt(turn_idx) only) and the stream must
    // match bit-for-bit instead of NPE-ing the query
    val turns = Seq(
      ("a", 0, "hello"), ("a", 1, null.asInstanceOf[String]), ("a", 2, "bye"),
      ("b", 0, "hello"), ("b", 1, ""), ("b", 2, "bye"))
      .toDF("conv_id", "turn_idx", "text")
    turns.write.mode("overwrite").parquet(s"$dir/in")
    val in = spark.readStream.schema("conv_id string, turn_idx int, text string")
      .parquet(s"$dir/in")
    val q = DeidStream.conversationFingerprints(in)
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$dir/out").select("conv_id", "fp", "fp2", "n_turns")
    val want = turns.groupBy("conv_id").agg(
      graft.ops.TextStats.multisetFingerprint128(col("turn_idx"), col("text")).as("fp128"),
      count(lit(1)).as("n_turns"))
      .select(col("conv_id"), col("fp128.fp_lo").as("fp"),
        col("fp128.fp_hi").as("fp2"), col("n_turns"))
    assert(got.count() == 2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "null-text turn must hash as hashInt(turn_idx) alone, like batch xxhash64")
    // and null ≠ empty string: the two conversations' fingerprints differ
    val fps = got.select("fp").collect().map(_.getLong(0)).toSet
    assert(fps.size == 2)
  }

  test("streaming context pairs agree with batch contextPairs across a checkpoint resume") {
    import org.apache.spark.sql.functions._
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_stream7").toString
    val turns = TurnsGen.turns(spark, "/root/testdata/sf0.001")
      .where(col("conv_id").cast("long") % 11 === 0)
      .select("conv_id", "turn_idx", "role", "text").cache()
    // first drain sees only turn 0; assistant turns (turn_idx 1) and the
    // rest arrive in a SECOND drain so the nContext ring state must carry
    // through the checkpoint for the context to include turn 0
    turns.where(col("turn_idx") < 1).write.mode("overwrite").parquet(s"$dir/in")
    val in = spark.readStream
      .schema("conv_id string, turn_idx int, role string, text string")
      .parquet(s"$dir/in")
    def drain(): Unit = {
      val q = DeidStream.contextPairsStream(in, nContext = 3)
        .writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    drain()
    turns.where(col("turn_idx") >= 1).write.mode("append").parquet(s"$dir/in")
    drain()
    val got = spark.read.parquet(s"$dir/out")
      .select("conv_id", "turn_idx", "context", "target")
    val want = graft.ops.Conversations.contextPairs(turns, nContext = 3)
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed (context, target) pairs must be byte-equal to the batch window form")
    turns.unpersist()
  }
}