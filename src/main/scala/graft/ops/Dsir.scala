package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR; Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS) — score every raw-corpus document by how much its hashed
  * n-gram feature profile looks like a small TARGET corpus (the curated
  * set you want more of) relative to the raw pool, then keep/resample by
  * that weight. The standard pretraining recipe for tilting a crawl
  * toward wiki/books-like text without a trained classifier.
  *
  * Features are unigrams + adjacent bigrams hashed into `nBuckets`
  * (paper §3: 10k hash buckets), bucket probabilities are add-1-smoothed
  * count ratios. The paper scores log w = Σ_b f_b·(log p_tgt(b) −
  * log p_raw(b)); logarithms are not bit-stable cross-engine (no
  * correctly-rounded contract), so the DEFAULT here is the rational
  * likelihood-ratio form — score = (Σ_b f_b · r_b) / n_features with
  * r_b = p̂_tgt(b)/p̂_raw(b) — whose every contribution is ONE
  * correctly-rounded IEEE division of exact BIGINTs folded in
  * bucket-ascending order: bit-exact replay (the [[Retrieval.bm25TopK]]
  * contract). `logSpace = true` switches the fold to the paper's
  * Σ f_b·ln(r_b) (deterministic in-engine, spec-gated, outside the SQL
  * oracle contract). Both forms rank marker-rich documents identically on
  * separable inputs; they are different estimators in general —
  * documented, caller's choice.
  *
  * Scale shape at 100 TB: both histograms are groupBys on a
  * BOUNDED key domain (≤ nBuckets rows — partial aggregation absorbs any
  * hot bucket map-side, the result broadcasts); the per-doc profile is
  * one shuffle on (id, bucket); scoring is a broadcast join + one
  * in-row fold over ≤ distinct-buckets-per-doc terms. The target corpus
  * is small BY CONTRACT (it is the curated seed set).
  */
object Dsir {

  /** Feature → bucket: first 24 sha256 bits mod `nBuckets` — the
    * [[WebClean.hashedLinearScore]] hashing-trick scheme (SQL-replayable:
    * `('0x' || substr(sha256(t),1,6))::BIGINT % nBuckets`).
    */
  def featureBucket(feat: Column, nBuckets: Int): Column =
    pmod(conv(substring(sha2(feat, 256), 1, 6), 16, 10).cast("long"),
      lit(nBuckets.toLong))

  /** Unigram + adjacent-bigram feature array of a text column (lowercased,
    * whitespace-tokenized; bigrams space-joined). Null / token-free texts
    * yield an empty array.
    */
  def featureArray(textCol: Column): Column = {
    val toks = graft.functions.Tokens.terms(textCol)
    val bigrams = filter(
      zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      g => g.isNotNull)
    coalesce(concat(toks, bigrams), array())
  }

  /** (bucket, cnt) histogram of a corpus's hashed features — ≤ `nBuckets`
    * rows however large the corpus (the broadcastable side of scoring). */
  def bucketHistogram(df: DataFrame, textCol: String = "text",
      nBuckets: Int = 10000): DataFrame =
    df.select(explode(featureArray(col(textCol))).as("feat"))
      .select(featureBucket(col("feat"), nBuckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Importance scores of `corpus` against `target` (see object doc).
    * Output (idCol, n_features, score): `n_features` = the doc's feature
    * count, `score` = mean per-feature likelihood ratio (or mean log ratio
    * under `logSpace`). Docs with zero features are ABSENT (a no-token doc
    * has no profile — the [[Retrieval.bm25TopK]] convention; gate empties
    * upstream). Contributions are guarded into the int64-exact domain like
    * bm25 (a 100-TB corpus exceeds it → shard the histogram counts or
    * accept float, the error names both).
    */
  def importanceScores(
      corpus: DataFrame,
      target: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      nBuckets: Int = 10000,
      logSpace: Boolean = false,
      safeBound: Double = 9.2e18
  ): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 24),
      s"nBuckets must be in (0, 2^24] (24 hash bits are drawn), got $nBuckets")
    val docFeat = corpus
      .select(col(idCol), explode(featureArray(col(textCol))).as("feat"))
      .select(col(idCol), featureBucket(col("feat"), nBuckets).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("f"))
      // r8: PERSIST the reduced profile — it feeds both the raw histogram
      // and the scoring join, and measured plans showed the
      // explode+sha256 chain executing once per consumer (exchange reuse
      // did not fire across the two aggregation shapes). The cached frame
      // is the already-reduced (id, bucket, f) rows; callers release via
      // catalog.clearCache (the established persist contract).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // raw histogram FROM the reduced per-doc profile (Σ f over docs), not a
    // second corpus scan: the 100-TB side is exploded + sha-hashed exactly
    // once, and the bucket rollup shuffles the already-reduced (id, bucket)
    // frame
    val rawHist = docFeat.groupBy("bucket").agg(sum("f").as("raw_cnt"))
    val tgtHist = bucketHistogram(target, textCol, nBuckets)
      .withColumnRenamed("cnt", "tgt_cnt")
    val rawTot = rawHist.agg(sum("raw_cnt").as("raw_total"))
    val tgtTot = tgtHist.agg(coalesce(sum("tgt_cnt"), lit(0L)).as("tgt_total"))

    val joined = docFeat
      .join(broadcast(rawHist), Seq("bucket"), "left")
      .join(broadcast(tgtHist), Seq("bucket"), "left")
      .crossJoin(broadcast(rawTot.crossJoin(tgtTot)))
    // p̂_tgt(b)/p̂_raw(b) with add-1 smoothing:
    //   r_b = ((tgt_b+1)·(raw_total+nBuckets)) / ((raw_b+1)·(tgt_total+nBuckets))
    val tgtB = coalesce(col("tgt_cnt"), lit(0L)) + lit(1L)
    val rawB = coalesce(col("raw_cnt"), lit(0L)) + lit(1L)
    val num = col("f") * tgtB * (col("raw_total") + lit(nBuckets.toLong))
    val den = rawB * (col("tgt_total") + lit(nBuckets.toLong))
    val numApprox = col("f").cast("double") * tgtB.cast("double") *
      (col("raw_total") + lit(nBuckets.toLong)).cast("double")
    val denApprox = rawB.cast("double") * (col("tgt_total") + lit(nBuckets.toLong)).cast("double")
    val guardedNum = when(numApprox >= lit(safeBound) || denApprox >= lit(safeBound),
        raise_error(concat(
          lit("Dsir.importanceScores: 64-bit exactness domain exceeded (feature "),
          lit("counts x corpus tokens too large for BIGINT-exact contributions); "),
          lit("shard the corpus or accept float scores outside the oracle contract")))
          .cast("long"))
      .otherwise(num)

    val perDoc = joined
      .select(col(idCol),
        struct(col("bucket"), guardedNum.as("num"), den.as("den"), col("f")).as("c"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("c"))).as("arr"))
    val contribution: Column => Column =
      if (logSpace)
        // paper-faithful Σ f·ln(r): ln((num/f)/den) per bucket, f times —
        // num already carries the f factor, so divide it back out
        x => x.getField("f").cast("double") *
          log((x.getField("num").cast("double") / x.getField("f").cast("double")) /
            x.getField("den").cast("double"))
      else
        x => x.getField("num").cast("double") / x.getField("den").cast("double")
    perDoc
      .withColumn("n_features",
        aggregate(col("arr"), lit(0L), (acc, x) => acc + x.getField("f")))
      .withColumn("score",
        aggregate(col("arr"), lit(0.0d), (acc, x) => acc + contribution(x)) /
          col("n_features").cast("double"))
      .select(col(idCol), col("n_features"), col("score"))
  }

  /** The RESAMPLING half of DSIR (paper §3 keeps doc i when its importance
    * weight beats a Gumbel-noise threshold — sampling ∝ w): the
    * deterministic, retry-stable twin keeps doc i with probability
    * `score_i / max(score)` via hash-holdout — `rate_permille =
    * ⌊1000·score/max_score⌋`, keep iff `bucket(id) < rate`. Max-pointwise
    * normalization (not Σ-normalized) keeps every step one
    * correctly-rounded IEEE op, so the decision replays bit-exactly in SQL
    * when `bucketOf` does ([[Sampling.mulHashBucket]]); the default is the
    * unbiased [[Sampling.avalancheBucket]]. One broadcast one-row max +
    * a map-only projection — no shuffle beyond the scoring itself.
    *
    * Input: [[importanceScores]] output (or anything with idCol + score).
    * Output: input + `rate_permille`, `keep`.
    */
  def resampleByScore(
      scored: DataFrame,
      idCol: String = "doc_id",
      bucketOf: Column => Column = Sampling.avalancheBucket(_)): DataFrame = {
    val mx = scored.agg(max("score").as("max_score"))
    scored.crossJoin(broadcast(mx))
      .withColumn("rate_permille",
        floor(lit(1000.0d) * col("score") / col("max_score")))
      .withColumn("keep", bucketOf(col(idCol)) < col("rate_permille"))
      .drop("max_score")
  }
}
