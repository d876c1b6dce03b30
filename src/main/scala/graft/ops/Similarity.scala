package graft.ops

import graft.functions.PyRandom
import graft.plans.Gate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: the O(n·m) baseline, written
  *    so the big side streams (broadcast the query set, never the corpus).
  *  - [[lshTopK]] — random-hyperplane LSH:
  *    sign-bit bucket join; shuffle ∝ corpus size, per-bucket
  *    verification only. The scale path for 100 TB corpora.
  *
  * Dot products use the `aggregate`/`zip_with` higher-order functions —
  * codegen'd, no UDF.
  */
object Similarity {

  /** dot(a, b) in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column =
    graft.functions.gf.cosineSim(a, b)

  /** Exact top-k cosine neighbors for the rows of `queries` against `corpus`
    * (both with (idCol, vecCol)). `queries` is expected to be small — it is
    * broadcast; the corpus side never shuffles.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("q_vec")))
    val c = corpus
      .select(col(idCol).as("n_id"), col(vecCol).cast("array<double>").as("n_vec"))
    val scored = q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("sim"), asc("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sim"))
  }

  /** Hard-negative mining for retrieval / contrastive training (DPR,
    * Karpukhin et al. 2020 §3.2): for each query vector, the top-k
    * most-similar corpus vectors with a DIFFERENT label — "hard" because
    * they rank by similarity, negative because the label disagrees.
    *
    * Same broadcast-query / streaming-corpus shape as [[bruteForceTopK]]
    * (the corpus never shuffles; the label inequality is a join predicate,
    * so same-label rows are discarded before the ranking window ever sees
    * them). `sim` is intentionally NOT in the output: float cosine is not
    * bit-stable across engines, ids and ranks are — the knn_bruteforce
    * oracle precedent.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"
  ): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_vec"),
      col(labelCol).as("q_label")))
    val c = corpus.select(col(idCol).as("n_id"),
      col(vecCol).cast("array<double>").as("n_vec"),
      col(labelCol).as("n_label"))
    q.join(c, col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .withColumn("sim", cosine(col("q_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("sim"), asc("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("rank"),
        col("n_id"), col("n_label"))
  }

  /** Embedding-hygiene gate run BEFORE any ANN/semantic op at corpus
    * scale: flags wrong dimension, non-finite components (NaN/±Inf) and
    * all-zero vectors — cosine is undefined on them, and one bad shard
    * poisons a whole ANN job. Adds `dim`, `n_nonfinite`, `is_zero`,
    * `vec_ok`.
    *
    * Scan-stage projection, zero shuffle. All outputs are exact: the zero
    * test is `sum of squares == 0.0` (no sqrt, no epsilon — a float sum of
    * squares is 0 iff every component is ±0, and NaN/Inf sums compare
    * unequal to 0 in both engines), so the DuckDB oracle replays it
    * bit-free.
    */
  def vectorHygiene(df: DataFrame, expectedDim: Int,
                    vecCol: String = "embedding"): DataFrame = {
    require(expectedDim > 0, s"expectedDim must be positive, got $expectedDim")
    val v = col(vecCol)
    df.withColumn("dim", size(v))
      .withColumn("n_nonfinite",
        size(filter(v, x => isnan(x) || abs(x) > lit(Float.MaxValue))))
      .withColumn("is_zero",
        // square in DOUBLE: a float×float square can underflow to exact 0
        // on subnormal components, which would diverge from the oracle's
        // double multiply
        aggregate(v, lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double")) === lit(0.0d))
      .withColumn("vec_ok", col("dim") === expectedDim &&
        col("n_nonfinite") === 0 && !col("is_zero"))
  }

  /** Deterministic random hyperplanes (seeded MT19937 — no wall-clock).
    *
    * Components are standard-Gaussian via Box–Muller over the same PyRandom
    * 32-bit draw stream: Gaussian component vectors are uniform on the
    * sphere, the correct distribution for sign-bit LSH directions. (The
    * earlier uniform-in-cube draw biased directions toward cube corners,
    * which costs collision-probability fidelity — and hence recall — as
    * `dim` grows.)
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new PyRandom(seed)
    var spare = Double.NaN
    def gaussian(): Double = {
      if (!spare.isNaN) { val g = spare; spare = Double.NaN; return g }
      // u1 in (0,1] so log is finite; u2 in [0,1)
      val u1 = (rng.getrandbits(32).toDouble + 1.0) / 4294967296.0
      val u2 = rng.getrandbits(32).toDouble / 4294967296.0
      val r = math.sqrt(-2.0 * math.log(u1))
      spare = r * math.sin(2.0 * math.Pi * u2)
      r * math.cos(2.0 * math.Pi * u2)
    }
    Seq.fill(bits)(Seq.fill(dim)(gaussian()))
  }

  /** Sign-bit bucket id for a vector. */
  def lshBucket(vecCol: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*) // reflection-free (console-safe)
      when(dot(vecCol, planeCol) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Multi-table LSH ANN (standard recall amplification): `tables`
    * independent sign-bit hash tables of `bits` planes each; a pair is a
    * candidate if it collides in ANY table. Candidates are deduped, then
    * ranked by exact cosine. Buckets are the shuffle key ⇒ linear in corpus
    * size; recall is tuned by (tables, bits) — tested against
    * [[bruteForceTopK]] in the spec.
    *
    * ==Eager-materialization contract==
    * This call is an ACTION, not lazy plan construction: the top-k result
    * is persisted (MEMORY_AND_DISK) and materialized before returning so
    * the intermediate bucket/candidate caches can be released here rather
    * than accumulating across invocations in a long-lived session. The
    * caller owns the returned frame's cache — `unpersist()` it when done.
    * Compose-without-running callers should build from [[lshTables]] +
    * their own join instead.
    */
  def lshTopK(
      corpus: DataFrame,
      k: Int = 5,
      bits: Int = 0, // <= 0: auto from nHint (target ~128/bucket)
      tables: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nHint: Long = 0L // approximate corpus size; avoids any count job
  ): DataFrame =
    lshPairs("lshTopK", corpus, resolveBits(nHint, bits), tables, dim, idCol, vecCol) { scored =>
      // r8: cosine is symmetric and bit-exact under argument swap (the
      // elementwise products commute; the fold order over indices is the
      // same), so each unordered candidate pair is scored ONCE (a < b) and
      // then mirrored in the same scan stage by a 2-element explode — half
      // the vector-join probes and half the cosine work of scoring both
      // directions, with no union branch to race. Top-k per query is ONE
      // aggregation (sorted-array slice) instead of exchange + global sort +
      // Window: per-group state is the query's candidate list, bounded by
      // Σ bucket sizes over `tables` tables (~tables·2^ceil(log2 128) ids by
      // [[resolveBits]] construction). The descending struct sort on
      // (sim, -n_id, n_id) reproduces `row_number over (sim desc, n_id asc)`
      // exactly — double total order (NaN greatest, 0.0 > -0.0) matches the
      // window's desc ordering, and (q, n) rows are unique by construction.
      scored.select(explode(array(
          struct(col("a").as("q_id"), col("b").as("n_id"), col("sim")),
          struct(col("b").as("q_id"), col("a").as("n_id"), col("sim")))).as("e"))
        .select(col("e.q_id").as("q_id"), col("e.n_id").as("n_id"), col("e.sim").as("sim"))
        .groupBy("q_id")
        .agg(slice(sort_array(collect_list(
            struct(col("sim"), (-col("n_id")).as("nk"), col("n_id"))),
          asc = false), 1, k).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
          col("t.n_id").as("n_id"), col("t.sim").as("sim"))
    }

  /** bits ≈ log2(n / 128): keeps expected bucket size ~128 at any corpus
    * size so candidate-pair work stays near-linear. No ceiling — recall at
    * high bit counts is amplified by `tables` (and the planted-dup property
    * that identical vectors collide in EVERY table regardless of bits).
    * `nHint` is a size hint (catalog stats / caller knowledge); there is
    * deliberately no count job hidden in plan construction.
    */
  private def resolveBits(nHint: Long, bits: Int): Int =
    if (bits > 0) bits
    else if (nHint <= 0) 16 // no hint: a documented fixed default
    else math.min(40, math.max(4,
      math.ceil(math.log(math.max(nHint.toDouble, 1.0) / 128.0) / math.log(2.0)).toInt))

  /** (id, table, bucket) rows across `tables` hash tables — ids ONLY: the
    * vectors (512 B each at dim 64) must not be shuffled ×tables through the
    * bucket exchange; they are re-joined once per side for scoring. All
    * buckets come from ONE pass over the vector
    * ([[graft.functions.LshBucketsExpr]]) — the per-plane HOF formulation
    * ([[lshBucket]], kept as the spec reference) evaluated tables×bits
    * interpreted dot products per row.
    */
  def lshTables(
      corpus: DataFrame,
      bits: Int,
      tables: Int,
      dim: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val planes = hyperplanes(dim, bits * tables)
    vectors(corpus, idCol, vecCol).select(col("id"),
      posexplode(graft.functions.gf.lshBuckets(col("vec"), planes, bits))
        .as(Seq("table", "bucket")))
  }

  /** Multi-table sign-LSH candidates through the shared pair kernel
    * ([[graft.ops.Dedup.verifiedPairs]], unguarded: bucket sizes are ~128
    * by [[resolveBits]] construction, and any bucket big enough to strain
    * one collect_list buffer has long since made the Θ(m²) pair OUTPUT
    * itself infeasible). Each deduped candidate pair (a < b) is scored
    * once by exact cosine — (a, b, sim) — and handed to `verify`.
    */
  private def lshPairs(
      op: String,
      corpus: DataFrame,
      bits: Int,
      tables: Int,
      dim: Int,
      idCol: String,
      vecCol: String
  )(verify: DataFrame => DataFrame): DataFrame =
    graft.ops.Dedup.verifiedPairs(op, lshTables(corpus, bits, tables, dim, idCol, vecCol),
      Seq("table", "bucket"), "id") { (cand, _) =>
      verify(scored(cand, vectors(corpus, idCol, vecCol)))
    }

  /** (id, vec) with the vector as `array<double>`. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))

  /** Exact cosine for candidate pairs (a, b): vectors join back once per
    * side — the ONLY vector materialization in the LSH paths.
    */
  private def scored(cand: DataFrame, vecs: DataFrame): DataFrame =
    graft.ops.Dedup.bothEnds(cand, vecs, "id")
      .select(col("a"), col("b"), cosine(col("vec_a"), col("vec_b")).as("sim"))

  /** Semantic near-duplicate pairs via k-means cluster partitioning — the
    * SemDeDup shape (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): embeddings are
    * assigned to their nearest centroid (the IVF coarse quantizer,
    * [[Ivf.train]] — seeded Lloyd rounds whose only driver state is
    * k×dim), pairwise cosine runs only WITHIN clusters, and pairs ≥
    * `threshold` are semantic duplicates. Keeper selection composes with
    * [[graft.ops.Dedup.connectedComponents]].
    *
    * Scale shape: the self-join keys on the cluster id, so candidate work
    * is Σ cluster_size² — pick k ≈ √n (SemDeDup uses ~√n clusters) to keep
    * expected work near-linear; a pathologically popular cluster is a skew
    * key (AQE skew-join handles moderate cases; re-cluster or sub-split
    * the hot cluster for adversarial ones). Unlike the sign-LSH path
    * ([[cosineNearDups]]) recall is governed by cluster assignment:
    * identical vectors ALWAYS share a centroid, so exact duplicates are
    * found with probability 1 and near-duplicates with high probability
    * when clusters are coarser than the duplicate radius.
    *
    * ==Eager-materialization contract== UNIFORM across both the plain and
    * the sub-split paths: this call is an ACTION
    * returning a persisted (MEMORY_AND_DISK) + materialized pair frame —
    * the caller owns its `unpersist()` — and every intermediate cache is
    * released before returning. (Previously the plain path returned a lazy
    * plan while the sub-split path was eager — cache ownership silently
    * flipping on a tuning parameter is an easy leak.)
    */
  def semanticNearDups(
      corpus: DataFrame,
      centroids: Seq[Seq[Double]],
      threshold: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      subTables: Int = 8,
      seed: Long = 7L
  ): DataFrame = {
    val spark = corpus.sparkSession
    val assigned = vectors(corpus, idCol, vecCol).withColumn("cluster", element_at(
      graft.functions.gf.nearestCentroids(col("vec"), centroids, 1), 1))
    // all pairs within a cluster, scored: a cluster-keyed self-join
    def clusterPairs(rows: DataFrame): DataFrame =
      rows.as("l").join(rows.as("r"),
          col("l.cluster") === col("r.cluster") && col("l.id") < col("r.id"))
        .select(col("l.id").as("a"), col("r.id").as("b"),
          cosine(col("l.vec"), col("r.vec")).as("sim"))
    def eager(pairs: DataFrame): DataFrame = {
      val out = pairs.where(col("sim") >= threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.obs.JobLabel(spark, "semanticNearDups: result count")(out.count())
      out
    }
    // ==Hot-cluster sub-split== Candidate work is Σ cluster_size², so one
    // popular template cluster IS the workload at corpus scale. The largest
    // cluster goes through the `semanticNearDups.subsplit` gate; clusters
    // above its threshold are salt-banded WITHIN the cluster by
    // multi-table sign-bit LSH: near-duplicates still collide in some
    // table with high probability (and identical vectors in EVERY table
    // — the exactness the planted-twin oracle pins survives), while the
    // (cluster, table, bucket) candidates of the shared pair kernel
    // bound candidate work by occupancy². The bit width derives from the
    // largest hot cluster (the size aggregation is k rows — an explicit,
    // documented collect; `assigned` is persisted so centroid
    // assignment runs once, released before return). Residual honesty: a
    // hot cluster of NEAR-IDENTICAL vectors does not split (same sign on
    // every plane) — but then the true pair OUTPUT is itself quadratic
    // and no candidate scheme can beat its own output size; the
    // sub-split bounds the case that matters, a broad cluster with
    // sparse duplicates.
    val acached = assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sizes = graft.obs.JobLabel(spark, "semanticNearDups: cluster sizes")(
        acached.groupBy("cluster").agg(count(lit(1)).as("cn"))
          .collect().map(r => (r.getInt(0), r.getLong(1))))
      val largest = sizes.map(_._2).maxOption.getOrElse(0L)
      if (Gate.choose(spark, "semanticNearDups.subsplit", largest))
        eager(clusterPairs(acached))
      else {
        val cap = math.max(1L, Gate.threshold("semanticNearDups.subsplit"))
        val hotIds = sizes.collect { case (c, n) if n > cap => c }.toSeq
        val bits = math.max(1, math.ceil(
          math.log(largest.toDouble / cap) / math.log(2.0)).toInt)
        val planes = hyperplanes(centroids.head.length, bits * subTables, seed)
        // ids ONLY through the bucket exchange (the lshTables discipline:
        // vectors must not shuffle ×subTables); candidates dedupe BEFORE
        // scoring so each pair's cosine is computed once, with the
        // vectors joined back from the cached assignment
        val hotBands = acached.where(col("cluster").isInCollection(hotIds))
          .select(col("id"), col("cluster"),
            posexplode(graft.functions.gf.lshBuckets(col("vec"), planes, bits))
              .as(Seq("table", "bucket")))
        graft.ops.Dedup.verifiedPairs("semanticNearDups", hotBands,
          Seq("cluster", "table", "bucket"), "id") { (cand, _) =>
          clusterPairs(acached.where(!col("cluster").isInCollection(hotIds)))
            .union(scored(cand, acached.select(col("id"), col("vec"))))
            .where(col("sim") >= threshold)
        }
      }
    } finally acached.unpersist()
  }

  /** Embedding-cosine near-duplicate pairs (sim >= threshold), via LSH
    * buckets — the embedding flavor of the dedup suite.
    *
    * Eager-materialization contract: same as [[lshTopK]] — this call runs
    * the job, returns a persisted + materialized pair frame (caller owns
    * its `unpersist()`), and releases all intermediate caches before
    * returning.
    */
  def cosineNearDups(
      corpus: DataFrame,
      threshold: Double = 0.95,
      bits: Int = 0,
      tables: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nHint: Long = 0L
  ): DataFrame =
    lshPairs("cosineNearDups", corpus, resolveBits(nHint, bits), tables, dim, idCol, vecCol)(
      _.where(col("sim") >= threshold))
}
