// dev tool: near-linearity probe for the bucketed dedup/ANN paths —
// sbt "runMain graft.tools.ScaleProbe <sfDir>"
// Replicates documents/embeddings ×1/×4/×8 (fresh ids, near-dup structure
// preserved) and times each operator; a quadratic candidate space would show
// ~x² growth, the bucketed designs should stay ~linear.
package graft.tools

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def best3(f: => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); dt
      }.min

    def replicate(df: DataFrame, idCol: String, times: Int): DataFrame = {
      val path = s"/tmp/graft_scaleprobe_${idCol}_$times"
      df.crossJoin(spark.range(times).select(col("id").as("rep")))
        .withColumn(idCol, col(idCol) + col("rep") * 10000000L)
        .drop("rep")
        .repartition(64)
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

    Seq(1, 4, 8).foreach { x =>
      val d = replicate(docs, "doc_id", x)
      val e = replicate(embs, "vec_id", x)
      val n = d.count()
      val m = e.count()
      val tMin = best3(force(Dedup.minhashNearDups(d, threshold = 0.5)))
      val tSim = best3(force(Dedup.simhashNearDups(d, maxDist = 3)))
      val tLsh = best3(force(Similarity.lshTopK(e, k = 5, nHint = m)))
      // cluster assignment over the simhash pair graph: per-round shuffles
      // are keyed on ids, so time should track the (linear) pair volume
      val tCc = best3 {
        val pairs = Dedup.simhashNearDups(d, maxDist = 3).select("a", "b")
        force(Dedup.connectedComponents(pairs, d.select("doc_id")))
      }
      val tCcLs = best3 {
        val pairs = Dedup.simhashNearDups(d, maxDist = 3).select("a", "b")
        force(Dedup.connectedComponentsAlternating(pairs, d.select("doc_id")))
      }
      val tSub = best3 {
        val spans = Dedup.duplicatedWindowSpans(d, k = 8)
        force(Dedup.mergeTokenSpans(spans))
        spans.unpersist()
      }
      val tDecon = best3(force(Dedup.mergeTokenSpans(
        Dedup.contaminatedSpans(d, d.where(col("doc_id") % 7 === 3), k = 8))))
      // sampled centroid training: cost must stay FLAT in corpus size
      // (one sample scan + Lloyd over the fixed-cap sample)
      val tTrain = best3 {
        graft.ops.Ivf.train(e, k = 16, iters = 2, sampleCap = 4096); ()
      }
      // linear keeper forms: one digest-keyed window shuffle each
      val tKeepM = best3(force(Dedup.multisetKeepers(d)))
      val tKeepS = best3(force(Dedup.shingleSetKeepers(d)))
      // conversation near-dup over a synthetic turns view of the doc corpus
      // (3 turns per doc): aggregation + band join, no text roll-up
      val tConv = best3 {
        val t = d.crossJoin(spark.range(3).select(col("id").cast("int").as("turn_idx")))
          .select(col("doc_id").cast("string").as("conv_id"), col("turn_idx"),
            concat(col("text"), lit(" t"), col("turn_idx")).as("text"))
        val pairs = Dedup.conversationDupPairs(t)
        force(pairs)
        pairs.unpersist()
      }
      // CCNet turn dedup: two digest-keyed shuffles (agg + unique-key join
      // back); hot boilerplate classes must be absorbed map-side
      val tCcnet = best3(force(Dedup.ccnetDedup(d,
        Seq("doc_id" -> col("doc_id"), "z" -> lit(0)))))
      // tf·idf: two partial-agg shuffles + term join + doc window
      val tTfidf = best3(force(graft.ops.TextStats.tfIdfTopTerms(d, nDocs = n, k = 3)))
      // unigram LM score: two explode passes + per-doc agg
      val tUni = best3(force(graft.ops.TextStats.unigramFreqScore(d)))
      // contamination report: window digests + broadcast ref + per-doc agg
      val tGopherFull = best3(force(graft.ops.TextStats.repetitionSignalsFull(d)))
      val tBloom = best3 {
        val b = Dedup.contaminatedSpansBloom(d, d.where(col("doc_id") % 1000 === 7),
          k = 8, expectedRefWindows = 100000L)
        force(b); b.unpersist()
      }
      val tRep = best3(force(Dedup.contaminationReport(d,
        d.where(col("doc_id") % 7 === 3).select("doc_id", "text"), k = 8)))
      // C4 family (round 7): two scan-stage projections + the span dedup
      // over manufactured 4-sentence pages — the ×N replicas are exact
      // page copies, so every span is a size-N duplicate class and the
      // min-agg/join-back path is exercised under real dup pressure
      val pages = {
        val toks = split(trim(col("text")), "\\s+")
        def sl(s: Int) = array_join(slice(toks, s, 5), " ")
        d.select(col("doc_id"), concat(sl(1), lit(". "), sl(6), lit(". "),
          sl(11), lit(". "), sl(16), lit(".")).as("text"))
      }
      val tC4 = best3(force(graft.ops.WebClean.c4Signals(pages)
        .withColumn("keep", graft.ops.WebClean.c4Keep())))
      val tHq = best3(force(graft.ops.WebClean.hashedLinearScore(d)))
      val tSpan = best3(force(graft.ops.WebClean.sentenceSpanDedup(pages)))
      // round-7 third half: PQ ADC top-k and IVF-PQ (corpus scales ×N,
      // query side fixed — the rank-window candidate volume is the linear
      // term; IVF-PQ's should stay ~nprobe/ncoarse of PQ's), two-pass
      // heavy hitters (two scans + candidate-bounded agg), and the
      // counting-bisection quantiles (log-range × one counting scan —
      // near-flat in ×N since passes don't grow with rows)
      val cbP = graft.ops.Pq.fixedCodebook()
      val qv = embs.where(col("vec_id") < 20)
      val tPq = best3(force(graft.ops.Pq.topK(e, qv, cbP, k = 5)))
      val tIvfpq = best3(force(graft.ops.Pq.ivfPqTopK(e, qv,
        graft.ops.Pq.fixedCodebook(1, 16, 64).head, cbP, k = 5, nprobe = 2)))
      val hhToks = d.select(explode(graft.functions.Tokens.terms(col("text"))).as("tok"))
        .unionAll(d.select(concat(lit("u"), col("doc_id")).as("tok")))
      val tHh = best3(force(
        graft.ops.TextStats.heavyHittersExact(hhToks, "tok", k = 20, counters = 256)))
      val tQb = best3(force(graft.metrics.Metrics.exactQuantiles(
        d.select(length(col("text")).as("len")), "len")))
      // BM25: query side fixed (20 queries × 6 terms) while the corpus
      // scales ×N — tf/dl shuffles are linear in tokens, the match join is
      // bounded by postings of the 120-term query vocabulary
      val tBm25 = best3(force(graft.ops.Retrieval.bm25TopK(d,
        graft.ops.Retrieval.queryTerms(d.where(col("doc_id") < 20)), k = 5)))
      // fourth half: DSIR scoring (bounded-key histograms scale ~linear in
      // tokens; target side fixed) and URL keeper dedup (scan-stage chain +
      // agg/join-back — the replicas share canonical URLs, so dup classes
      // are size-N and the keeper path sees real dup pressure)
      val tDsir = best3(force(graft.ops.Dsir.importanceScores(d,
        docs.where(col("doc_id") % 10 === 0), nBuckets = 4096)))
      val urld = d.select(col("doc_id"),
        concat(lit("https://site-"), pmod(col("doc_id"), lit(97L)),
          lit(".example.com/page-"), pmod(col("doc_id"), lit(1000L)),
          lit("/?utm_source=x&b=2&a=1#f")).as("url"))
      val tUrl = best3(force(graft.ops.UrlOps.urlKeepers(urld)))
      // exact cap: one in-buffer threshold pass while every domain is at
      // most 2^20 docs, log(range) counting passes over larger domains ->
      // expect near-linear
      val capd = d.select(col("doc_id"),
        concat(lit("dom-"), pmod(col("doc_id"), lit(23L))).as("domain"))
      val tCapX = best3(force(
        graft.ops.UrlOps.domainCapExact(capd, "domain", cap = 50)))
      println(f"[scale] x$x docs=$n vecs=$m minhash=$tMin%.2fs simhash=$tSim%.2fs knn_lsh=$tLsh%.2fs cc=$tCc%.2fs cc_ls=$tCcLs%.2fs substr=$tSub%.2fs decon=$tDecon%.2fs ivf_train=$tTrain%.2fs keep_ms=$tKeepM%.2fs keep_sh=$tKeepS%.2fs conv_dup=$tConv%.2fs ccnet=$tCcnet%.2fs tfidf=$tTfidf%.2fs unigram=$tUni%.2fs conrep=$tRep%.2fs gopher_full=$tGopherFull%.2fs bloom_decon=$tBloom%.2fs c4=$tC4%.2fs hashq=$tHq%.2fs spandd=$tSpan%.2fs knn_pq=$tPq%.2fs ivfpq=$tIvfpq%.2fs heavy_hitters=$tHh%.2fs quantiles_bisect=$tQb%.2fs bm25=$tBm25%.2fs dsir=$tDsir%.2fs url_dedup=$tUrl%.2fs cap_exact=$tCapX%.2fs")
    }
    spark.stop()
  }
}
