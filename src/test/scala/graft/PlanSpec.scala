package graft

import graft.ops.Similarity
import graft.pipeline.{Deid, TurnsGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make the engine scale are
  * pinned here so a refactor can't silently regress them (SURVEY §4).
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    TurnsGen.turns(spark, sfDir).write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .where(col("conv_id") === "42")
      .select("conv_id", "turn_idx")
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,42)]"), p)
    assert(p.contains("ReadSchema: struct<conv_id:string,turn_idx:int>"), p)
  }

  test("redact is whole-stage-codegen'd with zero exchanges over a file scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan2").toString
    TurnsGen.turns(spark, sfDir).write.mode("overwrite").parquet(dir)
    val p = plan(Deid.redact(spark.read.parquet(dir)))
    assert(!p.contains("Exchange"), p)
    // `*(n)` prefixes mark WholeStageCodegen stages in the plan string; the
    // CodegenFallback deid projection sits between codegen'd stages
    assert(p.contains("*("), p)
    assert(p.contains("ReadSchema: struct<conv_id:string,turn_idx:int,text:string>"), p)
  }

  test("brute-force ANN broadcasts the query side, never the corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("PQ top-k: queries broadcast, corpus codes never shuffle before the rank window") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(graft.ops.Pq.topK(emb, emb.where(col("vec_id") < 5),
      graft.ops.Pq.fixedCodebook(), k = 3))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the ONLY hash exchange is the per-query rank window's q_id one — the
    // corpus side reaches the join as a scan projection (encode is
    // zero-shuffle), so at 10^12 vectors the codes stream straight through
    val hashExchanges = "hashpartitioning".r.findAllIn(p).size
    assert(p.contains("hashpartitioning(q_id"), p)
    assert(hashExchanges == 1, s"expected 1 hash exchange (q_id window), plan:\n$p")
  }

  test("IVF-PQ: probe filter is a broadcast hash join on cid; only q-side/window exchanges") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(graft.ops.Pq.ivfPqTopK(emb, emb.where(col("vec_id") < 5),
      graft.ops.Pq.fixedCodebook(1, 16, 64).head, graft.ops.Pq.fixedCodebook(),
      k = 3, nprobe = 2))
    assert(p.contains("BroadcastHashJoin") && p.contains("BroadcastExchange"), p)
    // every hash exchange keys on q_id (the tiny query side's cell-rank
    // window + the final rank window) — the corpus reaches the candidate
    // join as a scan projection and never shuffles
    val hashKeys = "hashpartitioning\\(([a-z_]+)".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(hashKeys.nonEmpty && hashKeys.forall(_ == "q_id"),
      s"corpus-side exchange leaked: $hashKeys\n$p")
  }

  test("salted write clustering splits a mega-conversation across partitions") {
    val mega = TurnsGen.turns(spark, sfDir)
      .withColumn("conv_id", lit("mega"))
      .withColumn("turn_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("conv_id")).cast("int"))
    // AQE would (correctly) coalesce this tiny shuffle; disable it so the
    // test observes the salting mechanism itself
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val clustered = Deid.clusterForWrite(Deid.redact(mega), saltBucket = 512)
      val nParts = clustered
        .select(spark_partition_id().as("pid")).distinct().count()
      assert(nParts > 1, s"mega-conversation pinned to $nParts partition(s)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dimension joins broadcast; fact-table filter pushes to the scan") {
    val p = plan(SparkEntry.queries("orders_by_nation")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
    val q1 = plan(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    assert(q1.contains("PushedFilters") && q1.contains("LessThanOrEqual(l_shipdate"), q1)
    // partial (map-side) aggregation before the exchange
    assert(q1.contains("HashAggregate") && q1.contains("partial_sum"), q1)
  }

  test("dedup/ANN jobs shuffle on bucket keys only (no cartesian)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val p = plan(Similarity.lshTopK(emb, k = 3, bits = 4, tables = 4))
    assert(!p.contains("CartesianProduct"), p)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pm = plan(graft.ops.Dedup.minhashNearDups(docs, threshold = 0.5))
    assert(!pm.contains("CartesianProduct"), pm)
    // the candidate pairs and both verify joins read PERSISTED frames —
    // signatures and shingles compute once
    assert(pm.contains("InMemoryTableScan"), pm)
    val centroids = graft.ops.Ivf.train(emb, k = 8, iters = 1)
    val pi = plan(graft.ops.Ivf.topK(emb, emb.limit(5), centroids, k = 3, nprobe = 2))
    assert(!pi.contains("CartesianProduct"), pi)
  }

  test("format rewrite jobs are single narrow projections over the scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val q = docs.select(col("doc_id"),
      graft.functions.gf.csvDeid(concat(lit("a,b\n"), col("text"))).as("r"))
    val p = plan(q)
    assert(!p.contains("Exchange"), p)
  }
  test("pdf rewrite + anchored extract are narrow per-row projections") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pdfQ = docs.select(col("doc_id"),
      graft.functions.gf.pdfRewrite(graft.functions.gf.pdfSynth(
        substring(col("text"), 1, 100))).getField("n_rects").as("n"))
    val p1 = plan(pdfQ)
    // r8: DistributeExpensiveProjections fans the sub-split-size scan out
    // round-robin before the ~1 ms/row synth+rewrite chain — exactly ONE
    // exchange, round-robin (never a key shuffle), feeding the projection
    assert("Exchange".r.findAllIn(p1).size == 1, p1)
    assert(p1.contains("RoundRobinPartitioning"), p1)
    assert(!p1.contains("hashpartitioning") && !p1.contains("rangepartitioning"), p1)
    val anchored = SparkEntry.queries("anchored_extract")(spark, sfDir)
    val p2 = plan(anchored)
    // exactly the contract orderBy's range exchange; detection+anchoring add none
    assert("Exchange".r.findAllIn(p2).size <= 2, p2)
  }

  test("training-dataflow queries run UDF-free (Catalyst expressions only)") {
    // D10/D11/A1/P6 promoted from driver udf()s to expressions: no ScalaUDF
    // (Row<->case-class codec) may appear in their physical plans
    Seq("pii_markup_extract", "masked_pair_recovery", "anchored_extract",
        "canonical_types").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sfDir))
      assert(!p.contains("UDF"), s"$name plan still contains a UDF:\n$p")
    }
  }

  test("decontamination broadcasts the benchmark digests; substring dedup has no cartesian") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.ops.Dedup.contaminatedSpans(
      docs, docs.where(col("doc_id") % 7 === 3)))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    val ps = plan(graft.ops.Dedup.duplicatedWindowSpans(docs))
    assert(!ps.contains("CartesianProduct"), ps)
  }

  test("decontamination broadcast-size guard: oversized reference hint falls back to shuffle join") {
    // a reference whose size estimate exceeds the broadcast gate must NOT
    // be planned as a broadcast build (driver-memory safety at huge
    // benchmark suites) — the semi-join keys on the digest instead. AQE can
    // still re-plan a small shuffle at runtime, so pin the STATIC plan.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val ref = docs.where(col("doc_id") % 7 === 3)
      val pBig = plan(graft.plans.Gate.overriding("decontamination.broadcast" -> 0L)(
        graft.ops.Dedup.contaminatedSpans(docs, ref)))
      assert(!pBig.contains("BroadcastHashJoin"), pBig)
      assert(pBig.contains("ShuffledHashJoin") && pBig.contains("LeftSemi"), pBig)
      // under the gate the reference keeps the broadcast path
      val pSmall = plan(graft.ops.Dedup.contaminatedSpans(docs, ref))
      assert(pSmall.contains("BroadcastHashJoin") || pSmall.contains("BroadcastExchange"), pSmall)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("round-5 ops: keeper family window-free (agg + join-back); sub-split and verified simhash no cartesian") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // qualityKeepers: id join + agg-and-join-back on component — NO Window
    // anywhere (a window would sort each million-member component in one
    // task; the agg form partial-aggregates map-side and the join back is
    // an AQE-skew-splittable stateless probe)
    val comps = Seq(1L -> 1L, 2L -> 1L).toDF("doc_id", "component")
    val qual = Seq(1L -> 0.5, 2L -> 1.0).toDF("doc_id", "quality_score")
    val pk = plan(graft.ops.Dedup.qualityKeepers(comps, qual))
    assert(!pk.contains("CartesianProduct") && !pk.contains("BroadcastNestedLoopJoin"), pk)
    assert(!pk.contains("Window"), pk)
    // the shared keeper body (exact/multiset/shingle keepers): same contract
    val kdocs = Seq(1L -> "a b", 2L -> "a b", 3L -> "c").toDF("doc_id", "text")
    for (kf <- Seq(graft.ops.Dedup.exact(kdocs),
        graft.ops.Dedup.multisetKeepers(kdocs),
        graft.ops.Dedup.shingleSetKeepers(kdocs))) {
      val p = plan(kf)
      assert(!p.contains("Window"), p)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    }
    // simhash at distance 0: the (lazy) pigeonhole path keys the self-join
    // on the full signature — no cartesian (the VERIFIED operator
    // simhashExactDups is eager, so its shape is pinned here through the
    // lazy sibling + empirically by the OpsSpec occupancy/oracle gates)
    val psim = plan(graft.ops.Dedup.simhashNearDups(docs.limit(200), maxDist = 0))
    assert(!psim.contains("CartesianProduct") && !psim.contains("BroadcastNestedLoopJoin"), psim)
  }

  test("round-6 ops: sampling map-only in the scan stage; ccnet has no window; bigram window stays inside the doc") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // hash-holdout decision: ZERO exchanges — it runs inside the scan stage
    val ps = plan(graft.ops.Sampling.stratifiedSample(
      docs.select("doc_id", "source"), "source", col("doc_id"),
      Map("src0" -> 500), defaultPermille = 250))
    assert(!ps.contains("Exchange"), ps)
    // copy fan-out: a Generate, still no exchange
    val pr = plan(graft.ops.Sampling.resampleCopies(
      docs.select("doc_id", "source"), "source", col("doc_id"),
      Map("src0" -> 2500)))
    assert(!pr.contains("Exchange"), pr)
    assert(pr.contains("Generate"), pr)
    // ccnet dedup: agg + unique-key join back — NO Window anywhere (a
    // window would sort each boilerplate-sized class in one task)
    val pc = plan(graft.ops.Dedup.ccnetDedup(
      docs.select("doc_id", "text"), Seq("doc_id" -> col("doc_id"))))
    assert(!pc.contains("Window"), pc)
    assert(!pc.contains("CartesianProduct") && !pc.contains("BroadcastNestedLoopJoin"), pc)
    // repetition bigrams (r8): adjacent pairs come from a scan-stage
    // zip_with over the token array — NO window, no doc-keyed
    // exchange+sort before the bigram aggregation, never a global range sort
    val pb = plan(graft.ops.TextStats.repetitionSignals(
      docs.select("doc_id", "text")))
    assert(!pb.contains("Window"), pb)
    assert(!pb.contains("rangepartitioning"), pb)
  }

  test("round-7 ops: full repetition battery stays doc-keyed (no global sort, no cartesian)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.ops.TextStats.repetitionSignalsFull(
      docs.select("doc_id", "text")))
    // every exchange/window is keyed with the doc id — nothing range-sorts
    // the corpus and no join degenerates to a cartesian
    assert(!p.contains("rangepartitioning"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the n-gram lead window partitions on the doc id
    assert(p.contains("Window"), p)
  }

  test("corpus-build decision: five signal frames join on the doc key, no cartesian") {
    val p = plan(SparkEntry.queries("corpus_build_decision")(spark, sfDir))
    assert(!p.contains("CartesianProduct"), p)
    // the one nested-loop join allowed is the turns generator's cross join
    // with its 9-row literal turn-index table — absent here (documents only)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("C4 battery and hashed classifier are zero-exchange scan-stage projections") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p1 = plan(graft.ops.WebClean.c4Signals(docs.select("doc_id", "text"),
      badWords = Seq("vector"))
      .withColumn("keep", graft.ops.WebClean.c4Keep()))
    assert(!p1.contains("Exchange"), p1)
    val p2 = plan(graft.ops.WebClean.hashedLinearScore(docs.select("doc_id", "text")))
    assert(!p2.contains("Exchange"), p2)
  }

  test("sentence-span dedup: digest-keyed joins only — no cartesian, doc-local window only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(graft.ops.WebClean.sentenceSpanDedup(docs.select("doc_id", "text")))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the (id, idx, digest) span frame feeds both the owner agg and the
    // loser probe — the persist must make the sentence explode + doc-local
    // lead window a shared scan, not a double execution
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("round-7 fourth half: URL keepers window-free; DSIR broadcasts histograms, one (id,bucket) agg exchange") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // URL keeper dedup: agg + null-safe join back — NO window, no cartesian
    val urls = docs.select(col("doc_id"),
      concat(lit("https://s"), pmod(col("doc_id"), lit(7L)),
        lit(".net/p"), pmod(col("doc_id"), lit(50L))).as("url"))
    val pu = plan(graft.ops.UrlOps.urlKeepers(urls))
    assert(!pu.contains("Window"), pu)
    assert(!pu.contains("CartesianProduct") && !pu.contains("BroadcastNestedLoopJoin"), pu)
    // domain cap: ONE count agg + a null-safe equi-join back (EqualNullSafe
    // extracts as join keys — never a nested-loop join)
    val pd = plan(graft.ops.UrlOps.domainCapSample(
      docs.select(col("doc_id"), col("source").as("domain")), "domain", cap = 10))
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"), pd)
    assert(!pd.contains("Window"), pd)
    // DSIR scoring: both histograms broadcast (bounded by nBuckets); the
    // corpus side shuffles ONLY on (id, bucket) — no window, no cartesian
    // beyond the one-row totals crossJoin (an explicit broadcast)
    val target = docs.select("doc_id", "text").where(col("doc_id") % 10 === 0)
    val ps = plan(graft.ops.Dsir.importanceScores(
      docs.select("doc_id", "text"), target, nBuckets = 1024))
    assert(!ps.contains("Window"), ps)
    assert(!ps.contains("CartesianProduct"), ps)
    assert(ps.contains("BroadcastHashJoin") || ps.contains("BroadcastExchange"), ps)
  }

  test("connected components shuffles on the id key only (no cartesian)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val out = graft.ops.Dedup.connectedComponents(edges, nodes)
    val p = plan(out)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }
}