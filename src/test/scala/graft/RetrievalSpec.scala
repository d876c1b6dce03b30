package graft

import graft.ops.Retrieval
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Sparse retrieval + rank fusion (ops/Retrieval.scala): BM25 under the
  * integer-exact contract (hand-computed rational scores), the prune path's
  * equivalence to the plain window, the exactness-domain guard, df-based
  * common-term pruning, and RRF's fixed-order exact arithmetic.
  */
class RetrievalSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** 4-doc corpus with one null-text doc (excluded from N and S by the
    * no-tokens contract): S = 3 + 2 + 4 = 9 tokens, N = 3 docs.
    */
  private lazy val corpus = Seq(
    (1L, "a b a"),
    (2L, "a c"),
    (3L, "d d d d"),
    (4L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("queryTerms: first-n DISTINCT tokens in first-occurrence order") {
    val d = Seq((1L, "b a b c a d e f"), (2L, " \t ")).toDF("doc_id", "text")
    val q = Retrieval.queryTerms(d, nTerms = 4).orderBy("q_id", "term").collect()
    // doc 1 first-occurrence order: b a c d (e/f cut by nTerms); doc 2 has
    // no tokens and contributes no query rows
    assert(q.map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d")))
    intercept[IllegalArgumentException](Retrieval.queryTerms(d, nTerms = 0))
  }

  test("bm25TopK: scores equal the hand-derived BIGINT rationals exactly") {
    // query {a, b} = the first two distinct tokens of doc 1
    val queries = Retrieval.queryTerms(corpus.where($"doc_id" === 1), nTerms = 6)
    val out = Retrieval.bm25TopK(corpus, queries, k = 5)
      .orderBy("rank").collect()
    // num = 22·tf·S·(2(N−df)+1); den = (10·tf·S + 3·S + 9·dl·N)·(2df+1)
    // doc 1: a(tf=2,dl=3,df=2) = 1188/1440; b(tf=1,df=1) = 990/594
    // doc 2: a(tf=1,dl=2)      = 594/855
    // doc 3: no matching term → absent; doc 4: no tokens → absent
    val d1 = 1188.0 / 1440.0 + 990.0 / 594.0 // term-sorted fold: a then b
    val d2 = 594.0 / 855.0
    assert(out.map(r => (r.getInt(1), r.getLong(2))).toSeq === Seq((1, 1L), (2, 2L)))
    assert(out(0).getDouble(3) === d1) // bit-exact, not approx
    assert(out(1).getDouble(3) === d2)
  }

  test("bm25TopK: bucketed prune == plain ranking; k truncates; doc_id tie-break") {
    // every doc identical → all scores equal, rank purely by doc_id asc
    val ties = (1L to 20L).map(i => (i, "x y")).toDF("doc_id", "text")
    val q = Seq((0L, "x")).toDF("q_id", "term")
    val r1 = Retrieval.bm25TopK(ties, q, k = 3, buckets = 1).orderBy("rank").collect()
    val r7 = Retrieval.bm25TopK(ties, q, k = 3, buckets = 7).orderBy("rank").collect()
    assert(r1.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq ===
      r7.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
    assert(r1.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))
  }

  test("bm25TopK: maxDfFrac drops common terms at match time") {
    // 'a' appears in 2 of 3 docs (df/N = 0.667) — pruned at 0.5, so only
    // 'b' scores and doc 2 (which matched only via 'a') disappears
    val queries = Retrieval.queryTerms(corpus.where($"doc_id" === 1), nTerms = 6)
    val out = Retrieval.bm25TopK(corpus, queries, k = 5, maxDfFrac = 0.5).collect()
    assert(out.map(_.getLong(2)).toSeq === Seq(1L))
    assert(out(0).getDouble(3) === 990.0 / 594.0)
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(corpus, queries, maxDfFrac = 0.0))
  }

  test("bm25TopK: exactness-domain guard fails loudly, naming the fix") {
    val queries = Retrieval.queryTerms(corpus.where($"doc_id" === 1), nTerms = 6)
    val e = intercept[Exception] {
      Retrieval.bm25TopK(corpus, queries, k = 5, safeBound = 100.0).collect()
    }
    assert(e.getMessage.contains("exactness domain") ||
      Option(e.getCause).exists(_.getMessage.contains("exactness domain")))
  }

  test("rrfFuse: fixed-order exact sums, missing docs contribute 0.0, doc_id tie-break") {
    val run1 = Seq((1L, 1, 10L), (1L, 2, 11L)).toDF("q_id", "rank", "doc_id")
    val run2 = Seq((1L, 1, 11L), (1L, 2, 12L)).toDF("q_id", "rank", "doc_id")
    val out = Retrieval.rrfFuse(Seq(run1, run2), k = 10).orderBy("rank").collect()
    // doc 11: 1/62 + 1/61 (run order); doc 10: 1/61 + 0; doc 12: 0 + 1/62
    val d11 = 1.0 / 62.0 + 1.0 / 61.0
    assert(out.map(r => (r.getInt(1), r.getLong(2))).toSeq ===
      Seq((1, 11L), (2, 10L), (3, 12L)))
    assert(out(0).getDouble(3) === d11)
    assert(out(1).getDouble(3) === 1.0 / 61.0)
    assert(out(2).getDouble(3) === 1.0 / 62.0)
    // equal rrf (same single-run rank) → doc_id ascending
    val tie = Seq((1L, 1, 7L), (1L, 1, 3L)).toDF("q_id", "rank", "doc_id")
    // two docs at rank 1 is not a legal run, but fusion only reads ranks:
    // both get 1/61 and the tie breaks 3 before 7
    val t = Retrieval.rrfFuse(Seq(tie), k = 2).orderBy("rank").collect()
    assert(t.map(_.getLong(2)).toSeq === Seq(3L, 7L))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq.empty))
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Seq(run1), kRrf = 0))
  }

  test("evalRun: trec_eval semantics with hand-computed exact metrics") {
    // q1: rel {10, 11, 12}; run top-5 hits 11 at rank 2, 12 at rank 4
    // q2: rel {20}; run has no relevant docs → rr 0, recall 0
    // q3: rel {30, 31}; missing from the run entirely → rr 0, recall 0
    // run-only query 9 (no qrels) must be ignored
    val run = Seq(
      (1L, 1, 99L), (1L, 2, 11L), (1L, 3, 98L), (1L, 4, 12L), (1L, 5, 97L),
      (2L, 1, 50L), (2L, 2, 51L),
      (9L, 1, 10L)
    ).toDF("q_id", "rank", "doc_id")
    val qrels = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (3L, 30L), (3L, 31L))
      .toDF("q_id", "doc_id")
    val out = Retrieval.evalRun(run, qrels, k = 5).orderBy("q_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val q1 = out(0)
    assert((q1.getLong(1), q1.getLong(2), q1.getInt(3)) === ((3L, 2L, 2)))
    assert(q1.getDouble(4) === 0.5) // rr = 1/2
    assert(q1.getDouble(5) === 2.0 / 3.0) // recall = 2/3, one exact division
    Seq(out(1), out(2)).foreach { r =>
      assert(r.getLong(2) === 0L && r.isNullAt(3))
      assert(r.getDouble(4) === 0.0 && r.getDouble(5) === 0.0)
    }
    // k truncation: at k=1 the rank-2 hit no longer counts
    val k1 = Retrieval.evalRun(run, qrels, k = 1).where($"q_id" === 1).collect()(0)
    assert(k1.getLong(2) === 0L && k1.getDouble(4) === 0.0)
  }

  test("evalSummary: lcm-rationalized MRR equals the per-query mean exactly") {
    val perQ = Seq(
      ("a", 1L, 3L, 2L, Some(2)), // rr 1/2
      ("a", 2L, 1L, 1L, Some(3)), // rr 1/3
      ("a", 3L, 2L, 0L, None),    // rr 0
      ("b", 1L, 1L, 1L, Some(1))  // rr 1
    ).toDF("run", "q_id", "n_rel", "hits_at_k", "first_rel_rank")
    val m = Retrieval.evalSummary(perQ, k = 5, groupCols = Seq("run"))
      .orderBy("run").collect()
    // run a: lcm(1..5)=60; Σ 60/rank = 30+20+0 = 50 → mrr = 50/180
    assert(m(0).getLong(1) === 3L)
    assert(m(0).getDouble(2) === 50.0 / 180.0)
    assert(m(0).getDouble(3) === 2.0 / 3.0)       // 2 of 3 queries hit
    assert(m(0).getDouble(4) === 3.0 / 6.0)       // micro recall Σhits/Σrel
    assert(m(1).getDouble(2) === 1.0 && m(1).getDouble(3) === 1.0)
    // global (ungrouped) row covers the empty-groupCols path
    val g = Retrieval.evalSummary(perQ, k = 5).collect()(0)
    assert(g.getLong(0) === 4L && g.getDouble(1) === 110.0 / 240.0)
    intercept[IllegalArgumentException](Retrieval.evalSummary(perQ, k = 43))
    assert(Retrieval.lcmTo(5) === 60L)
    assert(Retrieval.lcmTo(10) === 2520L)
    assert(Retrieval.lcmTo(42) === 219060189739591200L) // last k that fits int64
  }

  test("bm25MaxP: a long doc's relevant passage escapes the length penalty; lift guard fires") {
    // doc 1: short, one hit. doc 2: LONG (one dense relevant chunk + much
    // padding): doc-level BM25 dl-penalizes it below doc 1; chunk-level
    // MaxP scores its relevant chunk on that chunk's own length
    val pad = (1 to 60).map(i => s"pad$i").mkString(" ")
    val corpus = Seq(
      (1L, "needle haystack filler words here"),
      (2L, s"needle needle needle relevant passage close $pad")
    ).toDF("doc_id", "text")
    val queries = Seq((9L, "needle")).toDF("q_id", "term")
    val docLevel = Retrieval.bm25TopK(corpus, queries, k = 2)
      .orderBy("rank").collect().map(_.getLong(2))
    val maxp = Retrieval.bm25MaxP(corpus, queries, chunkTokens = 8,
        stride = 8, kChunks = 10, k = 2, liftBase = 1024L)
      .orderBy("rank").collect().map(_.getLong(2))
    assert(docLevel.toSeq === Seq(1L, 2L)) // length penalty wins at doc level
    assert(maxp.toSeq === Seq(2L, 1L))     // MaxP recovers the passage
    // lift guard: chunkTokens 1 over a 70-token doc with liftBase 4 blows up
    val e = intercept[Exception](Retrieval.bm25MaxP(corpus, queries,
      chunkTokens = 1, stride = 1, kChunks = 10, k = 1, liftBase = 4L).collect())
    assert(e.getMessage.contains("liftBase") ||
      (e.getCause != null && e.getCause.getMessage.contains("liftBase")))
    intercept[IllegalArgumentException](Retrieval.bm25MaxP(corpus, queries,
      kChunks = 1, k = 5))
  }

  test("prfExpandedTopK: expansion retrieves a doc sharing NO original term; m=0 degrades to plain bm25") {
    // query: "alpha". doc 1 (feedback) pairs alpha with "bridge"; doc 3
    // contains ONLY "bridge" — invisible to the original query, reachable
    // only through expansion
    val c = Seq(
      (1L, "alpha bridge bridge"),
      (2L, "alpha filler words"),
      (3L, "bridge bridge bridge unrelated"),
      (4L, "nothing relevant here at all")
    ).toDF("doc_id", "text")
    val q = Seq((9L, "alpha")).toDF("q_id", "term")
    val expanded = Retrieval.prfExpandedTopK(c, q, kFeedback = 2,
      mExpansion = 1, k = 4).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expanded.contains(3L), s"expansion should reach doc 3, got $expanded")
    val plain = Retrieval.bm25TopK(c, q, k = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!plain.contains(3L))
    // mExpansion = 0: identical to the plain run (schema and content)
    val zero = Retrieval.prfExpandedTopK(c, q, kFeedback = 2, mExpansion = 0, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val plainFull = Retrieval.bm25TopK(c, q, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(zero === plainFull)
    intercept[IllegalArgumentException](
      Retrieval.prfExpandedTopK(c, q, kFeedback = 0))
  }

  /** Broadcast exchanges in the plan that carry un-aggregated rows: a path
    * from the exchange to a leaf scan passes no aggregate.
    */
  private def rawBroadcasts(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    def raw(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case _ if p.children.isEmpty => true
      case _ => p.children.exists(raw)
    }
    plans.collect(df.queryExecution.executedPlan) { case b: BroadcastExchangeExec => b }
      .filter(b => raw(b.child))
  }
  private val plans = new AdaptiveSparkPlanHelper {}

  test("bm25TopK plan: corpus is never broadcast; query-side joins are") {
    val queries = Retrieval.queryTerms(corpus.where($"doc_id" === 1), nTerms = 6)
    for (df <- Seq(Retrieval.bm25TopK(corpus, queries, k = 5),
        Retrieval.prfExpandedTopK(corpus, queries, kFeedback = 2, mExpansion = 1, k = 3))) {
      val plan = df.queryExecution.executedPlan.toString
      // query terms, df, per-query terms, the one-row stats frame and the
      // feedback docs all arrive via broadcast, each an aggregate's output
      // bounded by the query workload — never the corpus rows themselves
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
      assert(rawBroadcasts(df).isEmpty, plan)
    }
  }

  test("prfExpandedTopK tokenizes its corpus once; its postings fan out") {
    val dir = java.nio.file.Files.createTempDirectory("prf-corpus").toString
    Seq((1L, "alpha bridge bridge"), (2L, "alpha filler words"),
        (3L, "bridge bridge bridge unrelated"), (4L, "nothing relevant here at all"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val c = spark.read.parquet(dir)
    val q = Seq((9L, "alpha")).toDF("q_id", "term")
    val executed = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.synchronized(executed += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // building runs the postings checkpoint; collecting runs the rest
      Retrieval.prfExpandedTopK(c, q, kFeedback = 2, mExpansion = 1, k = 4).collect()
      org.apache.spark.sql.graftshim.Bridge.waitListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // every explode of the corpus text: a Generate whose subtree scans the
    // parquet corpus (the queries are a local frame and explode nothing)
    val tokenizes = executed.toSeq.flatMap(p => plans.collectWithSubqueries(p) {
      case g: GenerateExec if plans.find(g)(_.isInstanceOf[FileSourceScanExec]).isDefined => g
    })
    assert(tokenizes.size === 1, executed.mkString("\n"))

    // one corpus-side exchange: tf and dl reuse its doc_id partitioning
    val built = Retrieval.postings(c)
    assert(plans.collect(built.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }.size === 1)
    val p = built.localCheckpoint(true)
    assert(p.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(p.as[(Long, String, Long, Long)].collect().toSet === Set(
      (1L, "alpha", 1L, 3L), (1L, "bridge", 2L, 3L), (2L, "alpha", 1L, 3L),
      (2L, "filler", 1L, 3L), (2L, "words", 1L, 3L), (3L, "bridge", 3L, 4L),
      (3L, "unrelated", 1L, 4L), (4L, "nothing", 1L, 5L), (4L, "relevant", 1L, 5L),
      (4L, "here", 1L, 5L), (4L, "at", 1L, 5L), (4L, "all", 1L, 5L)))
  }
}
