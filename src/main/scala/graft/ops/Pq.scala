package graft.ops

import graft.obs.JobLabel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the MEMORY-bound ANN scale path beside the
  * probe-bound IVF one ([[Ivf]]) and the hash-bound LSH one
  * ([[Similarity.lshTopK]]): a 64-dim float vector (256 B) compresses to
  * `nsub` one-byte codes (8 B at the default geometry — 32×), so a
  * 10¹²-vector corpus's codes fit where its raw vectors never could, and
  * scoring a corpus row against a query is `nsub` integer array reads
  * (no per-row float math).
  *
  * '''Integer-exact contract''' (what makes the WHOLE approximate pipeline
  * oracle-verifiable, which the LSH/IVF approximate regimes are not):
  * components are scalar-quantized to the 1/1000 grid
  * (`iq = floor(x·1000 + 0.5)` — one correctly-rounded IEEE multiply +
  * floor), codebook entries live on the same grid, and every distance —
  * subspace assignment AND the ADC score — is an exact BIGINT sum of
  * squares. No float comparison anywhere past the quantization, so a
  * DuckDB oracle replays codes, scores and ranks hash-exactly
  * (`knn_pq`). The 1/1000 grid loses ≤ 5·10⁻⁴ per component — an order
  * below the quantization error PQ itself introduces.
  *
  * Shuffle shape: encode is a zero-shuffle scan projection; scoring
  * broadcasts the (small) query side with a precomputed per-query lookup
  * table, so the corpus codes never shuffle; only the per-query top-k
  * window moves `n_queries × corpus` ranked rows onto `q_id` keys — the
  * same shape as [[Similarity.bruteForceTopK]], with rows 32× narrower.
  * The optional exact-rerank step broadcasts the ADC candidates
  * (`n_queries × rerankFrom` ids) against a raw-vector scan, so raw
  * vectors are touched only for candidates — the production "fetch and
  * rerank" pattern.
  */
object Pq {

  /** Deterministic data-free codebook: entry (s, j, d) =
    * `((1 + (s·65536 + j·256 + d) · 2654435761) mod 2001) − 1000` — the
    * Knuth-multiplicative integer scheme the hashed quality classifier
    * established as oracle-replayable (exact BIGINT arithmetic in both
    * engines). Stand-in for trained codebooks in the exactness-gated
    * query; [[trainCodebooks]] is the recall path.
    */
  def fixedCodebook(nsub: Int = 8, ncent: Int = 16, subDim: Int = 8): Seq[Seq[Seq[Int]]] = {
    require(nsub > 0 && ncent > 0 && subDim > 0 && ncent <= 256 && subDim <= 256,
      s"geometry out of range: nsub=$nsub ncent=$ncent subDim=$subDim")
    (0 until nsub).map(s => (0 until ncent).map(j => (0 until subDim).map { d =>
      val idx = s.toLong * 65536L + j.toLong * 256L + d.toLong
      (((1L + idx * 2654435761L) % 2001L) - 1000L).toInt
    }))
  }

  /** Per-subspace Lloyd training on the 1/1000 integer grid, driver-side
    * over a DETERMINISTIC bounded sample (the `sampleCap` vectors with the
    * smallest `xxhash64(id, seed)` — the same driver-bounded-collect
    * contract as [[Ivf.train]]'s maximin path: sampleCap × dim doubles,
    * flat in corpus size). Init is farthest-point (maximin) per subspace;
    * centroid updates round the mean back onto the grid, so trained
    * codebooks obey the same integer-exact contract as [[fixedCodebook]]
    * — swap them into the oracle query and it stays exact. Empty cells
    * keep their previous centroid; ties in assignment go to the smaller
    * centroid index. Fully deterministic: no RNG state, no wall clock.
    */
  def trainCodebooks(
      corpus: DataFrame,
      nsub: Int = 8,
      ncent: Int = 16,
      subDim: Int = 8,
      iters: Int = 8,
      sampleCap: Int = 2048,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Seq[Seq[Seq[Int]]] = {
    require(sampleCap >= ncent,
      s"sampleCap must be >= ncent, got $sampleCap < $ncent (the bounded " +
        "driver collect is the contract — training never scans the full corpus)")
    val dim = nsub * subDim
    val sample: Array[Array[Long]] = JobLabel(corpus.sparkSession,
      "Pq.trainCodebooks: sample")(corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .where(size(col("vec")) === dim)
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(sampleCap)
      .select(col("vec"))
      .collect())
      .map(_.getSeq[Double](0).toArray.map(x => math.floor(x * 1000.0 + 0.5).toLong))
    require(sample.length >= ncent,
      s"corpus has ${sample.length} well-formed vectors, need >= $ncent")

    (0 until nsub).map { s =>
      val sub: Array[Array[Long]] =
        sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      def dist2(a: Array[Long], b: Array[Long]): Long = {
        var acc = 0L; var i = 0
        while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
        acc
      }
      // maximin init: start from the first sample row, repeatedly add the
      // row farthest from the chosen set (ties by sample order)
      val centroids = scala.collection.mutable.ArrayBuffer(sub.head.clone())
      val minD = sub.map(v => dist2(v, sub.head))
      while (centroids.length < ncent) {
        var bi = 0; var bd = -1L; var i = 0
        while (i < sub.length) { if (minD(i) > bd) { bd = minD(i); bi = i }; i += 1 }
        val c = sub(bi).clone()
        centroids += c
        i = 0
        while (i < sub.length) {
          val d = dist2(sub(i), c); if (d < minD(i)) minD(i) = d; i += 1
        }
      }
      var cs = centroids.toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ncent)(new Array[Long](subDim))
        val cnts = new Array[Long](ncent)
        var i = 0
        while (i < sub.length) {
          var best = 0; var bestD = Long.MaxValue; var j = 0
          while (j < ncent) {
            val d = dist2(sub(i), cs(j))
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          cnts(best) += 1
          var d = 0
          while (d < subDim) { sums(best)(d) += sub(i)(d); d += 1 }
          i += 1
        }
        cs = Array.tabulate(ncent) { j =>
          if (cnts(j) == 0) cs(j)
          else Array.tabulate(subDim)(d =>
            math.floor(sums(j)(d).toDouble / cnts(j).toDouble + 0.5).toLong)
        }
        it += 1
      }
      cs.map(_.map(_.toInt).toSeq).toSeq
    }
  }

  /** `(n_id, codes)` — zero-shuffle scan projection; malformed vectors get
    * null codes (three-valued — [[Similarity.vectorHygiene]] is the loud
    * path).
    */
  def encode(
      corpus: DataFrame,
      codebook: Seq[Seq[Seq[Int]]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    corpus.select(col(idCol).as("n_id"),
      graft.functions.gf.pqEncode(col(vecCol).cast("array<double>"), codebook)
        .as("codes"))

  /** Coarse quantizer for [[ivfPqTopK]]: a 1-subspace codebook over the
    * full dimension — [[trainCodebooks]] with nsub=1 reuses the whole
    * integer-grid training path, so coarse centroids obey the same
    * exactness contract as the PQ codebooks.
    */
  def trainCoarse(
      corpus: DataFrame,
      ncoarse: Int = 16,
      dim: Int = 64,
      iters: Int = 8,
      sampleCap: Int = 2048,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Seq[Seq[Int]] =
    trainCodebooks(corpus, nsub = 1, ncent = ncoarse, subDim = dim,
      iters = iters, sampleCap = sampleCap, seed = seed,
      idCol = idCol, vecCol = vecCol).head

  /** Residual-free IVF-PQ — the standard composition for 10¹²-vector ANN
    * (coarse quantizer prunes to `nprobe` of `ncoarse` inverted lists, PQ
    * codes rank inside them): the corpus is one scan-stage projection to
    * `(cid, codes)` (9 B/vec at the default geometry — a parquet table
    * partitioned by `cid` gives list-pruned scans for free), the query
    * side derives its probe cells and ADC LUT and BROADCASTS, so the
    * candidate filter is a broadcast hash join on `cid` — the corpus never
    * shuffles; only the rank window moves candidate rows (`~nprobe/ncoarse`
    * of the corpus per query) onto `q_id` keys.
    *
    * Every distance — coarse assignment, probe selection, ADC — is the
    * same exact BIGINT metric as [[topK]] (the coarse quantizer is just a
    * 1-subspace codebook), so the WHOLE pipeline including the pruning is
    * DuckDB-replayable in its approximate regime (`knn_ivfpq` at
    * nprobe=2), and `nprobe = ncoarse` degrades to [[topK]] exactly
    * (spec-pinned). Ties: coarse cells by (dist, cell), ranks by
    * (adc_dist, n_id).
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      coarse: Seq[Seq[Int]],
      codebook: Seq[Seq[Seq[Int]]],
      k: Int = 5,
      nprobe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe must be in [1, ${coarse.length}], got $nprobe")
    // a dimension mismatch between the two quantizers would null every cid
    // (or every code) and silently return an empty result — refuse loudly
    require(coarse.head.length == codebook.length * codebook.head.head.length,
      s"coarse dim ${coarse.head.length} != codebook dim " +
        s"${codebook.length} x ${codebook.head.head.length}")
    val coarseBook: Seq[Seq[Seq[Int]]] = Seq(coarse)
    val ncent = codebook.head.length
    val c = corpus.select(col(idCol).as("n_id"),
        graft.functions.gf.pqEncode(col(vecCol).cast("array<double>"), coarseBook)
          .getItem(0).as("cid"),
        graft.functions.gf.pqEncode(col(vecCol).cast("array<double>"), codebook)
          .as("codes"))
      .where(col("codes").isNotNull && col("cid").isNotNull)
    // per query: distances to every coarse cell (exact BIGINT), top-nprobe
    // cells by (dist, cell), carrying the PQ LUT to the probe rows
    val qCells = broadcast(queries.select(col(idCol).as("q_id"),
        graft.functions.gf.pqLut(col(vecCol).cast("array<double>"), coarseBook)
          .as("cdist"),
        graft.functions.gf.pqLut(col(vecCol).cast("array<double>"), codebook)
          .as("lut"))
      .where(col("cdist").isNotNull && col("lut").isNotNull)
      .select(col("q_id"), col("lut"), posexplode(col("cdist")).as(Seq("cell", "dist")))
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("dist"), asc("cell"))))
      .where(col("cell_rank") <= nprobe)
      .select(col("q_id"), col("lut"), col("cell").as("cid")))
    qCells.join(c, Seq("cid"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("adc_dist",
        graft.functions.gf.pqAdc(col("codes"), col("lut"), ncent))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("adc_dist"), asc("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"))
  }

  /** ADC top-k: per query, the k corpus ids with the smallest asymmetric
    * squared-L2 estimate (ties to the smaller id — deterministic ranks,
    * and with the integer-exact contract, oracle-exact ranks). With
    * `rerankFrom > k`, the top `rerankFrom` ADC candidates are fetched
    * (broadcast candidate semi-join — raw vectors touched only for
    * candidates) and re-ranked by exact cosine, the production recall
    * recovery step.
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      codebook: Seq[Seq[Seq[Int]]],
      k: Int = 5,
      rerankFrom: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(rerankFrom == 0 || rerankFrom >= k,
      s"rerankFrom must be 0 (off) or >= k, got $rerankFrom < $k")
    val ncent = codebook.head.length
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      graft.functions.gf.pqLut(col(vecCol).cast("array<double>"), codebook)
        .as("lut"),
      col(vecCol).cast("array<double>").as("q_vec"))
      .where(col("lut").isNotNull))
    val c = encode(corpus, codebook, idCol, vecCol).where(col("codes").isNotNull)
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("adc_dist",
        graft.functions.gf.pqAdc(col("codes"), col("lut"), ncent))
    val keep = if (rerankFrom > 0) rerankFrom else k
    val ranked = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("adc_dist"), asc("n_id"))))
      .where(col("rank") <= keep)
    if (rerankFrom == 0)
      ranked.select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"))
    else {
      val cand = broadcast(ranked
        .select(col("q_id"), col("q_vec"), col("n_id"), col("adc_dist")))
      val raw = corpus.select(col(idCol).as("n_id"),
        col(vecCol).cast("array<double>").as("n_vec"))
      cand.join(raw, "n_id")
        .withColumn("sim", Similarity.cosine(col("q_vec"), col("n_vec")))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("sim"), asc("n_id"))))
        .where(col("rank") <= k)
        .select(col("q_id"), col("rank"), col("n_id"), col("adc_dist"), col("sim"))
    }
  }
}
