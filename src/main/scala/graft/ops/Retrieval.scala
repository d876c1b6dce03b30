package graft.ops

import graft.functions.Tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval (BM25) and rank fusion — the retrieval half a
  * RAG / retrieval-training data pipeline runs next to the dense ANN family
  * ([[Similarity.bruteForceTopK]], [[Pq]], [[Ivf]]): build postings stats
  * over the corpus, score keyword queries with BM25, and fuse sparse +
  * dense runs with reciprocal-rank fusion (hybrid search).
  *
  * Exactness contract (what makes the whole ranking — and the score column
  * itself — replayable in a DuckDB oracle, which generic float BM25 is
  * not):
  *
  *  - BM25 constants are exact rationals: k1 = 1.2 = 6/5, b = 0.75 = 3/4.
  *    With `avgdl = S/N` (S = corpus token count, N = docs), the per-term
  *    contribution rewrites to a ratio of two BIGINT products:
  *    {{{
  *      tfNorm = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *             = 22·tf·S / (10·tf·S + 3·S + 9·dl·N)
  *      idf    = (N − df + 0.5)/(df + 0.5) = (2·(N − df) + 1)/(2·df + 1)
  *    }}}
  *    (division idf — the transcendental-free variant of Robertson's
  *    log-idf, the [[TextStats.tfIdfTopTerms]] precedent: `ln` is not
  *    bit-stable across engines, integer ratios are. Monotone in df, so
  *    single-term rankings agree with the log form; multi-term sums are
  *    the documented variant.)
  *  - Each contribution is ONE double division of two exact BIGINTs
  *    (correctly rounded ⇒ bit-identical in both engines), and the
  *    per-(query, doc) sum folds contributions in TERM-SORTED order
  *    (Spark `aggregate` over `sort_array(collect_list(...))`; DuckDB
  *    `list_reduce` over `list(... ORDER BY term)`) — float addition is
  *    order-sensitive, a fixed fold order makes the sum bit-identical
  *    too. Group state is bounded by the query's term count.
  *  - A fail-loud exactness-domain guard: the BIGINT products stay exact
  *    only below 2^63; the guard evaluates both products in DOUBLE first
  *    and `raise_error`s (naming the fix) before Spark's non-ANSI int64
  *    arithmetic could wrap silently where DuckDB would error loudly.
  *
  * Scale shape (10^12-doc corpus): the corpus is NEVER broadcast and never
  * sees a corpus-wide window — its one exchange builds the [[postings]]
  * (tf and dl both reuse that doc-keyed partitioning), which each call
  * tokenizes and materializes once for all its consumers; query terms and
  * their df rows are broadcast (both bounded by the query workload, not
  * the corpus), one (q, doc) partial-agg shuffle for scoring, and a
  * two-stage top-k (per-bucket row_number, then a global window over ≤
  * buckets·k rows per query) so no single task ever sorts a query's full
  * candidate set. A stopword-dense
  * query term turns the candidate set into a corpus scan — `maxDfFrac`
  * drops terms with df > maxDfFrac·N at match time (WAND-style common-term
  * pruning; default 1.0 = off, and the driver oracle runs with it off).
  *
  * Robertson & Zaragoza 2009 (BM25); Cormack, Clarke & Buettcher 2009
  * (reciprocal-rank fusion).
  */
object Retrieval {

  /** Deterministic keyword-query derivation: the first `nTerms` DISTINCT
    * tokens of each selected doc, in first-occurrence order (position ties
    * impossible — positions are unique). Output (q_id, term); the window
    * partitions by q_id over one doc's distinct tokens, bounded by doc
    * length, and the query set is small by contract.
    */
  def queryTerms(
      docs: DataFrame,
      nTerms: Int = 6,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(nTerms > 0, s"nTerms must be positive, got $nTerms")
    // filtering before posexplode only drops an edge "", which shifts
    // every position by the same constant: first-occurrence order holds
    docs.select(col(idCol).as("q_id"),
        posexplode(Tokens.terms(col(textCol))).as(Seq("pos", "term")))
      .groupBy("q_id", "term").agg(min("pos").as("fpos"))
      .withColumn("qrank",
        row_number().over(Window.partitionBy("q_id").orderBy("fpos")))
      .where(col("qrank") <= nTerms)
      .select("q_id", "term")
  }

  /** BM25 top-k: queries as (q_id, term) rows (multi-query term sharing
    * fans out at the broadcast join). Returns (q_id, rank, doc_id, score)
    * with rank 1..k by (score DESC, doc_id ASC); `score` is bit-exact
    * cross-engine under the contract above. Documents with no matching
    * term are absent (BM25 of an empty match set is 0 — emitting every
    * corpus doc per query would be a cartesian at scale); docs with null /
    * whitespace-only text have no tokens and join nothing. N counts docs
    * with at least one token.
    */
  def bm25TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 64,
      maxDfFrac: Double = 1.0,
      safeBound: Double = 9.2e18
  ): DataFrame = {
    require(k > 0 && buckets > 0, s"k and buckets must be positive, got k=$k buckets=$buckets")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    topK(postings(corpus, idCol, textCol).localCheckpoint(true), queries, k, buckets,
      maxDfFrac, safeBound)
  }

  /** The corpus postings, one row per (doc, distinct term): (doc_id, term,
    * tf, dl), with tf the term's count in the doc and dl the doc's token
    * count, Σ tf over its rows (the oracle's definition, so rows sharing
    * an id count as one doc). Tokens are [[Tokens.terms]]; a doc with null
    * or whitespace-only text has no rows.
    *
    * Scale shape: ONE corpus-side exchange hash-partitions the narrow (id,
    * text) rows on doc_id into `defaultParallelism` partitions (AQE never
    * coalesces an explicit count); the (doc, term) aggregate and the
    * doc-keyed dl window reuse that partitioning. Lazy: a caller that
    * reads the postings more than once materializes them first, since
    * each consumer's column pruning would otherwise plan its own scan and
    * tokenize.
    */
  def postings(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"), explode(Tokens.terms(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))

  /** [[bm25TopK]]'s scoring over materialized [[postings]] `tf`. */
  private def topK(
      tf: DataFrame,
      queries: DataFrame,
      k: Int,
      buckets: Int = 64,
      maxDfFrac: Double = 1.0,
      safeBound: Double = 9.2e18
  ): DataFrame = {
    // one-row corpus stats carried as a broadcast literal frame (no driver
    // action; the SQL twin is a CROSS JOIN on a count(*) CTE): s_tokens =
    // ΣΣtf and n_docs = docs holding ≥1 distinct term
    val st = tf.agg(sum("tf").as("s_tokens"), countDistinct("doc_id").as("n_docs"))
    // df over query terms only: tf filtered to a term still holds EVERY doc
    // containing it, so the per-term count is the true corpus df — and the
    // frame is bounded by the query vocabulary, hence broadcastable
    val tfq = tf.join(broadcast(queries.select("term").distinct()), Seq("term"))
    val dfq = tfq.groupBy("term").agg(count(lit(1)).as("df"))
    val matched = tfq
      .join(broadcast(queries.select("q_id", "term")), Seq("term"))
      .join(broadcast(dfq), Seq("term"))
      .crossJoin(broadcast(st))
      .where(col("df").cast("double") <= lit(maxDfFrac) * col("n_docs").cast("double"))

    val numApprox = lit(22.0d) * col("tf").cast("double") * col("s_tokens").cast("double") *
      (lit(2.0d) * (col("n_docs") - col("df")).cast("double") + lit(1.0d))
    val denApprox = (lit(10.0d) * col("tf").cast("double") * col("s_tokens").cast("double") +
      lit(3.0d) * col("s_tokens").cast("double") +
      lit(9.0d) * col("dl").cast("double") * col("n_docs").cast("double")) *
      (lit(2.0d) * col("df").cast("double") + lit(1.0d))
    val num = lit(22L) * col("tf") * col("s_tokens") *
      (lit(2L) * (col("n_docs") - col("df")) + lit(1L))
    val den = (lit(10L) * col("tf") * col("s_tokens") + lit(3L) * col("s_tokens") +
      lit(9L) * col("dl") * col("n_docs")) * (lit(2L) * col("df") + lit(1L))
    val guardedNum = when(numApprox >= lit(safeBound) || denApprox >= lit(safeBound),
        raise_error(concat(lit("bm25TopK: 64-bit exactness domain exceeded (corpus tokens x "),
          lit("docs too large for BIGINT-exact contributions); shard the corpus or "),
          lit("accept float BM25 outside the oracle contract"))).cast("long"))
      .otherwise(num)

    val perPair = matched
      .select(col("q_id"), col("doc_id"),
        struct(col("term"), guardedNum.as("num"), den.as("den")).as("c"))
      .groupBy("q_id", "doc_id")
      .agg(sort_array(collect_list(col("c"))).as("arr"))
    val scored = perPair.withColumn("score",
        aggregate(col("arr"), lit(0.0d),
          (acc, x) => acc + x.getField("num").cast("double") / x.getField("den").cast("double")))
      .drop("arr")
    val pruned = scored
      .withColumn("bkt", pmod(xxhash64(col("doc_id")), lit(buckets.toLong)))
      .withColumn("rn1", row_number().over(
        Window.partitionBy("q_id", "bkt").orderBy(desc("score"), asc("doc_id"))))
      .where(col("rn1") <= k)
    pruned
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("score"), asc("doc_id"))).cast("int"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Long-document retrieval via chunk-level BM25 + MaxP doc aggregation
    * (Dai & Callan 2019, "Deeper Text Understanding for IR with Contextual
    * Neural Language Modeling" — the max-passage-score rule, applied to
    * the lexical scorer): the corpus is split into `chunkTokens`-token
    * chunks ([[TextStats.chunkDocs]]), [[bm25TopK]] retrieves the top
    * `kChunks` CHUNKS per query, and each document scores as the MAX of
    * its retrieved chunks' scores — the standard fix for BM25's
    * long-document length penalty when only a passage is relevant.
    *
    * Chunk ids lift into the doc-id space as `doc_id·liftBase +
    * chunk_idx`; a doc with ≥ liftBase chunks fails LOUDLY (raise_error)
    * rather than aliasing into a neighbor's id space. max() of the
    * bit-exact chunk scores is itself bit-exact, so the whole pipeline
    * stays inside the SQL-oracle contract. Output (q_id, rank, doc_id,
    * score) with rank 1..k by (score DESC, doc_id ASC).
    *
    * Scale shape: chunking is a scan-stage explode; everything after is
    * [[bm25TopK]]'s shape over ~len/stride× more, proportionally shorter
    * rows (same token volume); the MaxP rollup groups the top-kChunks
    * frame — bounded by queries × kChunks, not by the corpus.
    */
  def bm25MaxP(
      corpus: DataFrame,
      queries: DataFrame,
      chunkTokens: Int = 128,
      stride: Int = 128,
      kChunks: Int = 100,
      k: Int = 10,
      liftBase: Long = 1L << 20,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(k > 0 && kChunks >= k,
      s"need 0 < k <= kChunks, got k=$k kChunks=$kChunks")
    val chunks = TextStats.chunkDocs(corpus, chunkTokens, stride, idCol, textCol)
      .select(
        when(col("chunk_idx") >= liftBase,
          raise_error(lit(s"bm25MaxP: a document has >= $liftBase chunks; " +
            "raise liftBase (and mind the id-space headroom) or chunk coarser")))
          .otherwise(col(idCol) * lit(liftBase) + col("chunk_idx")).as(idCol),
        col("chunk_text").as(textCol))
    val perChunk = bm25TopK(chunks, queries, k = kChunks, idCol = idCol,
      textCol = textCol)
    perChunk
      // BIGINT `div`, not `/`: float division loses exactness above 2^53,
      // which real doc-id spaces exceed once lifted by 2^20
      .groupBy(col("q_id"), expr(s"$idCol div ${liftBase}L").as("maxp_doc"))
      .agg(max("score").as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("score"), asc("maxp_doc")))
        .cast("int"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("maxp_doc").as(idCol), col("score"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM3 shape — Lavrenko &
    * Croft 2001 relevance models as popularized by Abdul-Jaleel 2004 —
    * with UNWEIGHTED expanded queries, since this BM25 surface scores
    * terms unweighted; the classic "retrieve → mine feedback terms →
    * re-retrieve" loop):
    *
    *  1. first pass: [[bm25TopK]] top `kFeedback` docs per query;
    *  2. candidate expansion terms scored
    *     `w(q,t) = Σ_{d ∈ fb(q)} (tf(t,d)/dl_d) · score_d` — each term one
    *     double divide+multiply of exact operands, summed in doc_id order
    *     (the fixed-fold contract), so `w` replays bit-exactly;
    *  3. top `mExpansion` candidates per query (ties to the smallest term)
    *     that are NOT already query terms join the query;
    *  4. second pass: [[bm25TopK]] with the expanded queries → final top-k.
    *
    * Scale shape: the corpus is tokenized ONCE — both BM25 passes and the
    * term mining read one materialized [[postings]]. The feedback frame is
    * queries × kFeedback rows (broadcast) and selects the feedback docs'
    * postings rows before any aggregation, so only those rows reach the
    * term mining's shuffle.
    */
  def prfExpandedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      kFeedback: Int = 3,
      mExpansion: Int = 2,
      k: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(kFeedback > 0 && mExpansion >= 0 && k > 0,
      s"need kFeedback > 0, mExpansion >= 0, k > 0; got $kFeedback/$mExpansion/$k")
    val tf = postings(corpus, idCol, textCol).localCheckpoint(true)
    val fb = topK(tf, queries, kFeedback).select("q_id", "doc_id", "score")
    val cand = tf.join(broadcast(fb), Seq("doc_id"))
      .select(col("q_id"), col("term"),
        struct(col("doc_id").as("d"),
          ((col("tf").cast("double") / col("dl").cast("double")) * col("score"))
            .as("contrib")).as("c"))
      .groupBy("q_id", "term")
      .agg(sort_array(collect_list(col("c"))).as("arr"))
      .withColumn("w", aggregate(col("arr"), lit(0.0d),
        (acc, x) => acc + x.getField("contrib")))
      .drop("arr")
    val expansion = cand
      .join(queries.select("q_id", "term"), Seq("q_id", "term"), "left_anti")
      .withColumn("xrank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("w"), asc("term"))))
      .where(col("xrank") <= mExpansion)
      .select("q_id", "term")
    topK(tf, queries.select("q_id", "term").unionByName(expansion), k)
  }

  /** lcm(1..k) — the common denominator that turns a reciprocal-rank SUM
    * into an integer sum. Fits in a long for k ≤ 42 (lcm(1..43) > 2^63).
    */
  private[graft] def lcmTo(k: Int): Long = {
    @annotation.tailrec def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1L to k.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** Per-query run evaluation against a qrels frame (q_id, doc_id) —
    * trec_eval semantics: evaluated over the QRELS query set (a query
    * missing from the run scores 0; run-only queries are ignored). Output
    * (q_id, n_rel, hits_at_k, first_rel_rank, rr, recall_at_k):
    *
    *  - `first_rel_rank` = rank of the first relevant doc within the run's
    *    top k (null when none), `rr` = 1/first_rel_rank or 0.0, `recall_at_k`
    *    = hits/n_rel — each metric is ONE double division of exact integers
    *    (correctly rounded ⇒ bit-identical cross-engine).
    *
    * Scale shape: everything is an equi-join / partial agg keyed on q_id
    * (or (q_id, doc_id)) — qrels sets of any size flow through ordinary
    * shuffles; nothing is ever collected or windowed over the full set.
    */
  def evalRun(run: DataFrame, qrels: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rel = qrels.select(col("q_id"), col("doc_id")).distinct()
    val perQ = rel.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val hits = run.where(col("rank") <= k)
      .join(rel, Seq("q_id", "doc_id"))
      .groupBy("q_id")
      .agg(count(lit(1)).as("hits_at_k"), min("rank").cast("int").as("first_rel_rank"))
    perQ.join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), col("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        col("first_rel_rank"),
        coalesce(lit(1.0d) / col("first_rel_rank").cast("double"), lit(0.0d)).as("rr"),
        (coalesce(col("hits_at_k"), lit(0L)).cast("double") / col("n_rel").cast("double"))
          .as("recall_at_k"))
  }

  /** Macro/micro summary of [[evalRun]] output, grouped by `groupCols`
    * (e.g. a run-name column; empty = one global row). Output per group:
    * (n_queries, mrr, hit_rate_at_k, micro_recall_at_k).
    *
    * MRR is exact WITHOUT a fixed-order float fold (which would need one
    * task to see every per-query row): each rr is rationalized over
    * L = lcm(1..k), so Σ rr = (Σ L/first_rank)/L is an ORDER-FREE integer
    * sum under partial aggregation, and mrr = that sum / (n·L) — one double
    * division of two exact BIGINTs. hit_rate (queries with ≥1 relevant in
    * top k / queries) and micro recall (Σ hits / Σ n_rel) are likewise
    * integer-sum ratios. All three scale to unbounded query workloads and
    * replay bit-exactly. k ≤ 42 keeps L in int64; the numerator sum is
    * guarded (≤ n·L, loud overflow check) like [[bm25TopK]].
    */
  def evalSummary(perQuery: DataFrame, k: Int = 10,
      groupCols: Seq[String] = Seq.empty): DataFrame = {
    require(k > 0 && k <= 42, s"k must be in [1, 42] (lcm(1..k) must fit int64), got $k")
    val l = lcmTo(k)
    // BIGINT division (Spark's Column./ is true division to double, and
    // lcm(1..42) ≈ 2.2e17 exceeds double's 2^53 integer domain)
    val num = coalesce(
      expr(s"CAST($l AS BIGINT) div CAST(first_rel_rank AS BIGINT)"), lit(0L))
    val grouped =
      if (groupCols.isEmpty) perQuery.groupBy()
      else perQuery.groupBy(groupCols.map(col): _*)
    val agg = grouped.agg(
      count(lit(1)).as("n_queries"),
      sum(num).as("rr_num"),
      sum(num.cast("double")).as("rr_num_approx"),
      sum(when(col("hits_at_k") > 0, 1L).otherwise(0L)).as("n_hit"),
      sum(col("hits_at_k")).as("sum_hits"),
      sum(col("n_rel")).as("sum_rel"))
    val guardedNum = when(col("rr_num_approx") >= lit(9.2e18) ||
        col("n_queries").cast("double") * lit(l.toDouble) >= lit(9.2e18),
      raise_error(lit("evalSummary: 64-bit exactness domain exceeded " +
        "(queries x lcm(1..k) too large for a BIGINT-exact MRR); lower k or " +
        "shard the query workload"))
        .cast("long"))
      .otherwise(col("rr_num"))
    agg.select(groupCols.map(col) ++ Seq(
      col("n_queries"),
      (guardedNum.cast("double") / (col("n_queries") * lit(l)).cast("double")).as("mrr"),
      (col("n_hit").cast("double") / col("n_queries").cast("double")).as("hit_rate_at_k"),
      (col("sum_hits").cast("double") / col("sum_rel").cast("double")).as("micro_recall_at_k")
    ): _*)
  }

  /** Reciprocal-rank fusion of retrieval runs (hybrid sparse + dense
    * search): each run is (q_id, rank, doc_id); `rrf = Σ_runs 1/(kRrf +
    * rank)`, missing docs contribute exactly 0.0, and the sum folds in RUN
    * order (left-assoc) so the double is bit-identical cross-engine (each
    * term is one correctly-rounded division of exact integers). Output
    * (q_id, rank, doc_id, rrf), rank 1..k by (rrf DESC, doc_id ASC).
    * Candidates per query are bounded by Σ run-k's, so the ranking window
    * is tiny at any corpus size.
    */
  def rrfFuse(runs: Seq[DataFrame], k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    val tagged = runs.zipWithIndex.map { case (r, i) =>
      r.select(col("q_id"), col("doc_id"), col("rank").cast("long").as(s"r$i"))
    }
    val joined = tagged.reduce((a, b) => a.join(b, Seq("q_id", "doc_id"), "full_outer"))
    val score = tagged.indices
      .map(i => coalesce(lit(1.0d) / (lit(kRrf.toDouble) + col(s"r$i").cast("double")), lit(0.0d)))
      .reduce(_ + _)
    joined.withColumn("rrf", score)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rrf"), asc("doc_id"))).cast("int"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf"))
  }
}
