package graft.ops

import graft.plans.Gate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Everything here is built from codegen'd built-in expressions (no UDFs on
  * the hot path except the SimHash leaf) and shuffles only on bucket keys —
  * the LSH designs never materialize the O(n²) pair space:
  *
  *  - exact: hash-groupBy on sha2(text) — one shuffle on the hash;
  *  - MinHash+LSH: shingle → H minhashes → B bands → candidate pairs per
  *    (band, hash) bucket — shuffle is proportional to corpus size × B,
  *    candidate verification touches only same-bucket pairs (one kernel,
  *    [[verifiedPairs]], for every eager LSH / SimHash pair path);
  *  - SimHash: 64-bit signature, Hamming-≤k via pigeonhole band join;
  *  - n-gram Jaccard: exact verification predicate used on LSH candidates
  *    (or brute-force at test scale).
  */
object Dedup {

  /** Shared keeper-form body: min-id per duplicate-class key, realized as
    * the [[ccnetDedup]] shape — `groupBy(key).agg(min(id))` one row per
    * class, then a join back on the class key — NOT a
    * `Window.partitionBy(key)`. The window form sorts every class inside
    * ONE task, which is exactly wrong at the input these keeper forms
    * exist for (a million-member boilerplate/empty class at web scale):
    * a guaranteed straggler holding the whole class in its sort buffer.
    * Here the class reduce is a partial aggregation (hot keys absorbed
    * map-side — each map task emits at most one row per class), and the
    * join back streams probe rows through a stateless hash lookup: a hot
    * class still hashes its probe rows to one reduce partition, but the
    * lookup is O(1)-state and order-free, so AQE's skew-join splits that
    * partition into bounded tasks (replicating the single matching build
    * row) — a rescue no window sort can get. Demonstrated head-to-head in
    * the bench `keeper_skew` block on a planted 60%-one-class corpus.
    *
    * Null class keys follow SQL GROUP BY semantics (all NULLs one class):
    * the join back uses null-safe equality `<=>` — still an equi-join
    * (Catalyst extracts EqualNullSafe keys; no cartesian), matching the
    * window form's `partitionBy` null grouping. Output
    * (idCol, keeper_id, is_dup), linear in the corpus. All three keeper
    * entry points ([[exact]], [[multisetKeepers]], [[shingleSetKeepers]])
    * differ only in the class-key expression.
    */
  private[ops] def keepersByKey(docs: DataFrame, idCol: String, key: Column): DataFrame = {
    // r8: lazy persist — the keyed frame feeds the class aggregation AND
    // the probe side of the join-back. When the one-row-per-class build
    // side broadcasts (the common plan), the probe side carries no
    // exchange, so without the cache the class-key chain (sha2 digest /
    // multiset key / URL canonicalization) re-evaluated per consumer.
    // Narrow (id, key) rows only; callers release via catalog.clearCache.
    val keyed = docs.select(col(idCol), key.as("dup_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classes = keyed.groupBy(col("dup_key"))
      .agg(min(col(idCol)).as("keeper_id"))
      .withColumnRenamed("dup_key", "class_key")
    keyed.join(classes, col("dup_key") <=> col("class_key"))
      .select(col(idCol), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }

  /** INCREMENTAL exact dedup — the daily-ingest shape: classify a DELTA of
    * new documents against the running corpus's keeper-key table WITHOUT
    * rescanning (or even storing the text of) the historical corpus. At
    * 100 TB the history is the whole point: yesterday's corpus never moves;
    * only `(dup_key, keeper_id)` — one narrow row per distinct document —
    * is joined, keyed on the same sha2 text digest as [[exact]], so
    * `exact(old ∪ delta)` and `exactIncremental(keysOf(old), delta)` make
    * IDENTICAL decisions — an existing keeper always wins, within the
    * delta min-id wins — provided delta ids exceed old ids (the natural
    * ingest-order id contract; with backdated ids the incremental form
    * deliberately keeps the ESTABLISHED keeper stable instead of
    * re-electing, which is what a production key table wants anyway).
    *
    * Returns the delta's decisions `(idCol, keeper_id, is_dup)` plus
    * `is_new_key` — true on the one row per previously-unseen class whose
    * `(dup_key, keeper_id)` the caller appends to the key table for the
    * next increment. Shuffle shape: one digest groupBy over the DELTA only
    * + one equi-join against the key table (broadcast it when it fits;
    * both sides narrow).
    */
  def exactIncremental(
      existingKeys: DataFrame,
      delta: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val keyed = delta.select(col(idCol), sha2(col(textCol), 256).as("dup_key"))
    val deltaClasses = keyed.groupBy("dup_key")
      .agg(min(col(idCol)).as("delta_min"))
    val old = existingKeys
      .select(col("dup_key").as("old_key"), col("keeper_id").as("old_keeper"))
    val classes = deltaClasses
      .join(old, col("dup_key") <=> col("old_key"), "left")
      .select(col("dup_key").as("class_key"),
        coalesce(col("old_keeper"), col("delta_min")).as("keeper_id"),
        col("old_keeper").isNull.as("class_is_new"),
        col("delta_min"))
    keyed.join(classes, col("dup_key") <=> col("class_key"))
      .select(col(idCol), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"),
        (col("class_is_new") && col(idCol) === col("delta_min")).as("is_new_key"))
  }

  /** A class key that leaves null-text docs as SINGLETONS (each its own
    * class, keyed by its own id) instead of letting `Window.partitionBy`
    * group every NULL key into one giant bogus duplicate class. This is the
    * pair-path semantics: a null token key/shingle set never verifies, so
    * [[simhashExactDups]]/[[minhashNearDups]] emit no pairs for null texts
    * and CC leaves them singletons — the keeper twins must decide the same
    * relation.
    */
  private[ops] def nullSafeKey(key: Column, idCol: String): Column =
    coalesce(key, concat(lit("null#"), col(idCol).cast("string")))

  /** Candidate (a, b) pairs (a < b) from bucket membership via ONE
    * aggregation instead of the bucket-keyed self-join: collect each
    * bucket's sorted member ids, drop singleton buckets outright (they can
    * emit no pair — the self-join shuffled and probed them for nothing;
    * at corpus scale they are the overwhelming majority of buckets), and
    * enumerate each sorted array's ordered pairs. The pair SET is exactly
    * the self-join's `l.key = r.key && l.id < r.id` output, but the plan
    * pays one shuffle of the narrow keyed frame where the join paid two
    * shuffle/broadcast sides plus a hash-relation build and probe.
    *
    * Memory contract: one member array per bucket lives in the aggregation
    * buffer, so [[verifiedPairs]] runs the hot-key guard BEFORE this
    * helper — after a guard pass at `maxFreq` the arrays are bounded by
    * maxFreq (8·maxFreq bytes). A guarded mega-bucket belongs to the
    * guard's loud refusal, not to this buffer.
    */
  private def bucketPairs(
      keyed: DataFrame,
      keyCols: Seq[String],
      idCol: String): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .where(size(col("ids")) >= 2)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))

  /** Partition count for a pinned (`REPARTITION_BY_NUM`) bucket-key
    * exchange under [[bucketPairs]]: AQE sizes post-shuffle coalescing by
    * the AGGREGATED bucket bytes, not the exploded pair output, so a
    * small-looking bucket frame collapses pair ENUMERATION onto one task
    * unless the count is pinned. max(shuffle.partitions, cores) keeps the
    * local bench at full width and defers to the configured shuffle
    * parallelism on a real cluster — never a constant.
    */
  private def bucketParts(df: DataFrame): Int = {
    val s = df.sparkSession
    math.max(s.sparkContext.defaultParallelism,
      s.sessionState.conf.numShufflePartitions)
  }

  /** Hot-key guard of [[verifiedPairs]]: if any key of `keyed` occurs more
    * than `maxFreq` times, throw with the caller's message (built from a
    * `k=v, …` description of the hot key and its frequency). For a true
    * m-member duplicate class the PAIR output is itself Θ(m²), so no
    * pair-emitting scheme can do better than refuse and point at the
    * linear keeper form — the `ngramJaccardCounts` maxDocFreq discipline.
    * One cheap aggregation over the (already persisted) narrow keyed
    * frame; lookups by field NAME so a schema tweak fails loudly instead
    * of silently reading the wrong ordinal.
    */
  private def guardHotKey(keyed: DataFrame, keyCols: Seq[String], maxFreq: Int)(
      msg: (String, Long) => String): Unit =
    if (maxFreq > 0) {
      val hot = keyed.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("freq"))
        .where(col("freq") > maxFreq).limit(1).collect()
      if (hot.nonEmpty) {
        val row = hot.head
        val keyDesc = keyCols.map(c => s"$c=${row.getAs[Any](c)}").mkString(", ")
        throw new IllegalStateException(msg(keyDesc, row.getAs[Long]("freq")))
      }
    }

  /** The one candidate → verify kernel of the pair-emitting operators
    * ([[minhashNearDups]], [[simhashExactDups]], [[conversationDupPairs]],
    * [[Similarity.lshTopK]], [[Similarity.cosineNearDups]] and the
    * hot-cluster sub-split of [[Similarity.semanticNearDups]]). `keyed`
    * holds one (idCol, keyCols…) row per bucket membership. The kernel
    * pins the bucket-key exchange ([[bucketParts]]), runs the hot-key
    * guard, enumerates candidate (a, b) pairs with [[bucketPairs]] —
    * deduped when an id can sit in several buckets, i.e. under more than
    * one key column — and returns `verify`'s output persisted and
    * materialized; the caller owns its `unpersist()`. Every intermediate
    * is released before returning, also when the guard refuses or a step
    * throws.
    *
    * A guarded call (`maxFreq > 0`) caches the banded frame (guard and
    * pair aggregation then both run exchange-free on its partitioning) and
    * materializes the candidates eagerly: they feed several verify
    * branches, and lazy persists raced under AQE's concurrent stage
    * submission. An unguarded call keeps both lazy — the banded frame has
    * one consumer and sign-LSH buckets hold ~128 ids by construction.
    * `verify` gets the candidates and `keep`, which persists and counts a
    * per-id attribute frame and releases it with the other intermediates.
    *
    * A hot bucket is refused here with `"<op>: " + refusal(key, freq)`;
    * this is the one place hot-bucket routing belongs. Internal actions
    * carry `"<op>: <step>"` job descriptions.
    */
  private[ops] def verifiedPairs(
      op: String,
      keyed: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      maxFreq: Int = 0,
      refusal: (String, Long) => String = (_, _) => "")(
      verify: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = {
    def step[T](name: String)(body: => T): T =
      graft.obs.JobLabel(keyed.sparkSession, s"$op: $name")(body)
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame, name: String): DataFrame = {
      held += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      step(name)(df.count())
      df
    }
    val guarded = maxFreq > 0
    try {
      val banded = keyed.repartition(bucketParts(keyed), keyCols.map(col): _*)
      if (guarded) held += banded.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      step("hot-key guard")(guardHotKey(banded, keyCols, maxFreq)(
        (key, freq) => s"$op: ${refusal(key, freq)}"))
      val pairs = bucketPairs(banded, keyCols, idCol)
      val distinctPairs = if (keyCols.size > 1) pairs.distinct() else pairs
      val cand = if (guarded) keep(distinctPairs, "candidate count") else distinctPairs
      val result = keep(verify(cand, keep(_, "per-id attribute count")), "result count")
      held -= result // the caller owns the result
      result
    } finally held.foreach(_.unpersist())
  }

  /** `pairs` (a, b) with the per-id attribute frame `attrs` (keyed on
    * `idCol`) joined onto both ends: every other column c of `attrs`
    * arrives as c_a and c_b.
    */
  private[ops] def bothEnds(pairs: DataFrame, attrs: DataFrame, idCol: String): DataFrame = {
    def end(s: String) = attrs.toDF(attrs.columns.toSeq.map(c =>
      if (c == idCol) s else s"${c}_$s"): _*)
    pairs.join(end("a"), "a").join(end("b"), "b")
  }

  /** The rows of `docs` whose id is an end of a candidate pair — the
    * left-semi prune that keeps a verify step's text work proportional to
    * the candidates, not the corpus.
    */
  private def candidateDocs(docs: DataFrame, cand: DataFrame, idCol: String): DataFrame =
    docs.join(cand.select(explode(array(col("a"), col("b"))).as(idCol)).distinct(),
      Seq(idCol), "left_semi")

  /** Exact duplicates: every doc mapped to the smallest doc_id sharing its
    * text. One [[keepersByKey]] pass keyed on the text's sha2 digest (a
    * min-id aggregation plus a join back). Null texts follow SQL GROUP BY
    * semantics (all NULLs one class) — matching the `dedup_exact` DuckDB
    * window oracle, which partitions the same way.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    keepersByKey(docs, idCol, sha2(col(textCol), 256))

  /** Linear KEEPER form of the token-multiset duplicate relation — the
    * scale-safe twin of [[simhashExactDups]]: instead of emitting all pairs
    * of each duplicate class (m docs ⇒ m(m−1)/2 rows — quadratic for the
    * million-member empty/boilerplate classes real 100-TB corpora contain),
    * group directly by the VERIFIED key (sha2 digest of the sorted
    * ROOT-lowercased token multiset, [[graft.functions.TokenMultisetKeyExpr]]
    * — the same key the pair path verifies with, so both paths decide the
    * same relation) and keep the min id per class. One digest-keyed
    * [[keepersByKey]] pass (aggregation plus join back), output linear in
    * the corpus, no candidate join, no connected components (exact classes
    * ARE the components). Same output shape as [[exact]]: (idCol,
    * keeper_id, is_dup).
    *
    * Quality-aware keepers compose through [[qualityKeepers]]: rename
    * `keeper_id` to `component` and pass a score frame — the class key is
    * already a component assignment.
    *
    * Tokens contain no whitespace (they are `\S+` matches), so the
    * space-join is an injective encoding of the sorted token list and the
    * digest collides only at sha2-256 odds. Null-text docs are singletons
    * (own class), matching the pair path — see [[nullSafeKey]].
    */
  def multisetKeepers(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    keepersByKey(docs, idCol, nullSafeKey(
      sha2(array_join(graft.functions.gf.tokenMultisetKey(col(textCol)), " "), 256),
      idCol))

  /** Linear KEEPER form of the distinct-shingle-SET duplicate relation —
    * the scale-safe twin of [[minhashNearDups]] at threshold 1.0 (Jaccard
    * ≥ 1 ⇔ equal distinct-shingle sets): group by the sha2 digest of the
    * sorted distinct shingle set and keep the min id per class. Shingles
    * contain spaces but no other whitespace (tokens are `\s`-split), so the
    * newline-join is an injective encoding of the sorted set. One
    * digest-keyed [[keepersByKey]] pass; output linear; no bands, no
    * candidate join. Same shape as [[exact]]; null-text docs are singletons
    * (pair-path semantics — see [[nullSafeKey]]).
    */
  def shingleSetKeepers(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3
  ): DataFrame =
    keepersByKey(docs, idCol, nullSafeKey(
      sha2(array_join(sort_array(array_distinct(shingles(col(textCol), k))), "\n"), 256),
      idCol))

  /** k-word shingles (lowercased, whitespace-tokenized) — a compact custom
    * expression ([[graft.functions.ShinglesExpr]], pinned bit-equal to the
    * HOF formulation in OpsSpec). The HOF form's printed tree is huge and
    * gets CLONED by optimizer rules (InferFiltersFromGenerate, pushdown
    * through unions), costing multi-second janino compiles per derived
    * query; the compact expression also removes the interpreted per-window
    * lambda evaluation.
    */
  def shingles(textCol: Column, k: Int = 3): Column =
    graft.functions.gf.shingles(textCol, k)

  /** MinHash signature — single-pass custom expression (each shingle's bytes
    * hashed once, H integer mixes derive the per-function values). The HOF
    * formulation this is bit-equal to (pinned in OpsSpec) re-hashed every
    * shingle H times across H interpreted array passes.
    */
  def minhashSignature(textCol: Column, numHashes: Int = 64, k: Int = 3): Column =
    graft.functions.gf.minhashSig(textCol, numHashes, k)

  /** LSH banding: (id, band, band_hash) rows — join key for candidates.
    * bands × rowsPerBand must equal numHashes.
    */
  def minhashBands(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    require(numHashes % bands == 0)
    docs
      .select(col(idCol), minhashSignature(col(textCol), numHashes).as("sig"))
      .select(col(idCol), bandHashes(col("sig"), bands, numHashes / bands))
  }

  /** (band, band_hash) rows of a signature array: band b hashes elements
    * [b·r, (b+1)·r).
    */
  private def bandHashes(sig: Column, bands: Int, r: Int): Column =
    posexplode(transform(sequence(lit(0), lit(bands - 1)),
      b => hash(slice(sig, b * lit(r) + 1, lit(r))))).as(Seq("band", "band_hash"))

  /** Candidate pairs from LSH buckets, verified with exact shingle Jaccard.
    * Returns (a, b, jaccard) with a < b and jaccard >= threshold.
    *
    * Scale shape ([[verifiedPairs]], guarded): the narrow (id, band,
    * band_hash) frame is cached on its bucket-key partitioning, so
    * signatures compute ONCE and the shuffle key is (band, band_hash) only.
    * Verification re-reads shingles only for docs that appear in a
    * candidate pair (left-semi prune) — at production scale candidates ≪
    * corpus, so the second text scan touches a small fraction of the data.
    *
    * Hot buckets: one (band, band_hash) bucket holding m docs produces
    * O(m²) candidate rows BEFORE verification can prune — at corpus scale a
    * million-member exact-duplicate class (empty docs, boilerplate) lands
    * in one bucket of EVERY band. A bucket above `maxBucketFreq` is refused
    * loudly, pointing at the linear keeper forms ([[shingleSetKeepers]] for
    * the threshold-1.0 regime).
    *
    * Eager-materialization contract: this call is an ACTION, not lazy plan
    * construction — the verified-pair result is persisted (MEMORY_AND_DISK)
    * and materialized before returning so the band/candidate/shingle caches
    * can be released here instead of accumulating across invocations. The
    * caller owns the returned frame's cache: `unpersist()` it when done.
    * To compose lazily, build from [[minhashBands]] + your own join.
    */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketFreq: Int = 1000
  ): DataFrame =
    verifiedPairs("minhashNearDups", minhashBands(docs, idCol, textCol, numHashes, bands),
        Seq("band", "band_hash"), idCol, maxBucketFreq, (key, freq) =>
          s"LSH bucket ($key) holds $freq docs > " +
            s"maxBucketFreq=$maxBucketFreq — a duplicate class this size has " +
            "quadratic pair output. Use the linear keeper form " +
            "(Dedup.shingleSetKeepers / multisetKeepers) for exact-regime " +
            "classes, or raise maxBucketFreq deliberately.") { (cand, keep) =>
      val sh = keep(candidateDocs(docs, cand, idCol)
        .select(col(idCol), shingles(col(textCol)).as("sh")))
      bothEnds(cand, sh, idCol)
        .withColumn("jaccard", jaccardArrays(col("sh_a"), col("sh_b")))
        .where(col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    }

  /** Exact Jaccard over two string arrays (distinct semantics). */
  def jaccardArrays(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(1.0)).otherwise(inter / union)
  }

  /** n-gram Jaccard pairs via shingle self-join, with the hot-shingle scale
    * guard REQUIRED: a shingle occurring in d docs contributes O(d²) join
    * rows — one ubiquitous trigram ("of the and") is a quadratic hot key at
    * corpus scale, so this entry point refuses to run unguarded.
    * `maxDocFreq` drops shingles with document frequency above the cap
    * before the self-join (the standard move in dedup pipelines: ubiquitous
    * shingles carry no near-dup signal). With the guard on, `inter` is a
    * lower bound and `ua`/`ub` still count ALL distinct shingles, so
    * `inter / (ua+ub-inter)` under-estimates — verify candidates with
    * [[jaccardArrays]] when exactness matters. For exact counts at
    * test/oracle scale use [[ngramJaccardCountsExact]], which states its
    * quadratic risk in its own contract.
    */
  def ngramJaccardCounts(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      maxDocFreq: Int
  ): DataFrame = {
    require(maxDocFreq > 0,
      "ngramJaccardCounts requires a positive maxDocFreq (hot-shingle guard); " +
        "use ngramJaccardCountsExact for unguarded exact counts at test scale")
    ngramJaccardImpl(docs, idCol, textCol, k, maxDocFreq)
  }

  /** Exact brute-force n-gram Jaccard counts — NO hot-shingle guard. All
    * pairs with at least one shared shingle, computed by exploding shingles
    * and joining on the shingle (still avoids a full cross join). Returns
    * (a, b, inter, ua, ub) integer counts (exact; no float).
    *
    * DANGER at corpus scale: join rows grow quadratically in each shingle's
    * document frequency. Intended for oracle/test-scale inputs or candidate
    * subsets already pruned by an LSH pass; the guarded
    * [[ngramJaccardCounts]] is the at-scale entry point.
    */
  def ngramJaccardCountsExact(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3
  ): DataFrame = ngramJaccardImpl(docs, idCol, textCol, k, maxDocFreq = 0)

  private def ngramJaccardImpl(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxDocFreq: Int
  ): DataFrame = {
    // The shingle arrays must NOT ride through the explode/join: carrying
    // the `sh` column beside `explode(sh)` lets CollapseProject substitute
    // the (interpreted HOF) shingle expression into the exploded/joined
    // projections, re-evaluating it once per OUTPUT row — measured 25× the
    // whole query's cost even at oracle scale. Instead the join moves only
    // narrow (id, g) rows (also the right shape at corpus scale), and the
    // per-doc set sizes — one HOF evaluation per doc — join back AFTER the
    // pair aggregation, when only the (few) qualifying pairs remain.
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), k)).as("sh"))
    val sizes = sh.select(col("id"), size(col("sh")).as("nsh"))
    // explode_outer, not explode: InferFiltersFromGenerate would clone the
    // shingle expression into a `size(...) > 0` scan filter (an extra
    // evaluation per input row); the shingle array is never empty by
    // construction, so the outer variant + null guard is semantically
    // identical without the inferred filter
    val exploded = sh.select(col("id"), explode_outer(col("sh")).as("g"))
      .where(col("g").isNotNull)
    val pruned =
      if (maxDocFreq <= 0) exploded
      else {
        val hot = exploded.groupBy("g")
          .agg(count(lit(1)).as("df"))
          .where(col("df") > maxDocFreq)
          .select("g")
        exploded.join(broadcast(hot), Seq("g"), "left_anti")
      }
    pruned.as("l").join(pruned.as("r"),
        col("l.g") === col("r.g") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("a"), col("nsh").as("ua")), "a")
      .join(sizes.select(col("id").as("b"), col("nsh").as("ub")), "b")
      .select(col("a"), col("b"), col("inter"), col("ua"), col("ub"))
  }

  /** Connected components over a near-dup pair graph → per-doc cluster id
    * (the min doc id reachable) — the operator that turns pairwise
    * near-dup evidence into the keep/drop decision a dedup pipeline
    * actually executes at corpus scale.
    *
    * A graph with Long ids and at most the `connectedComponents` [[Gate]]
    * threshold of edges is union-found on the driver in one collect; any
    * other graph (including non-Long id types) takes
    * [[connectedComponentsAlternating]], which converges in O(log n)
    * rounds on any diameter. Both emit the same labeling.
    *
    * `edges` = (a, b) pairs (any near-dup query's output); `nodes` = the
    * full id set (isolated docs keep their own id as cluster).
    */
  def connectedComponents(
      edges: DataFrame,
      nodes: DataFrame,
      idCol: String = "doc_id"
  ): DataFrame = {
    // small-graph fast path (the IVF-centroid bounded-collect contract): a
    // pair graph under the gate's edge count union-finds on the driver —
    // one collect + one broadcast join instead of O(log n) iterative join
    // rounds. Long ids only (the union-by-min order must equal Spark's min
    // semantics), probed with `limit(n+1)` so an over-bound edge set is
    // never fully collected.
    val longIds = Seq(edges.schema("a").dataType, edges.schema("b").dataType,
      nodes.schema(idCol).dataType).forall(_ == org.apache.spark.sql.types.LongType)
    if (!longIds) return connectedComponentsAlternating(edges, nodes, idCol)
    val spark = edges.sparkSession
    val maxEdges = math.min(Gate.threshold("connectedComponents"), Int.MaxValue - 1L)
    val edgeProbe = graft.obs.JobLabel(spark, "connectedComponents: union-find collect")(
      edges.limit(maxEdges.toInt + 1).select("a", "b").collectAsList())
    if (Gate.choose(spark, "connectedComponents", edgeProbe.size())) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeProbe.forEach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        // union by MIN root: the surviving root is the min reachable id,
        // exactly the min-label fixpoint
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val labelRows = parent.keys.toSeq.map(x => org.apache.spark.sql.Row(x, find(x)))
      val schema = StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("lbl", LongType, nullable = false)))
      val labelDf = spark.createDataFrame(
        spark.sparkContext.parallelize(labelRows, 1), schema)
      nodes.join(broadcast(labelDf), col(idCol) === col("id"), "left")
        .select(col(idCol), coalesce(col("lbl"), col(idCol)).as("component"))
    } else connectedComponentsAlternating(edges, nodes, idCol)
  }

  /** Connected components via large-star/small-star alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the distributed path of [[connectedComponents]]: chains contract in
    * O(log n) rounds instead of one round per hop.
    *
    * Each round is two edge rewrites, all shuffles keyed on node id:
    *  - large-star: every node u computes m = min(Γ(u) ∪ u); each LARGER
    *    neighbor v > u re-attaches as (v, m);
    *  - small-star: with edges directed large→small, every u re-attaches
    *    itself and its smaller neighbors to m = min(L(u) ∪ u).
    * The fixpoint is a star forest — every non-root node carries one edge
    * (node, component-min). Convergence is checked with a (count,
    * hash-sum) signature computed in the same action that materializes the
    * round's lazily-checkpointed edge set — one action per round — and
    * then CONFIRMED with one exact multiset comparison at the (rare)
    * signature match, so a hash-sum collision between different edge sets
    * cannot silently terminate early. The fixpoint is observed one
    * unchanged round after it is reached, so `maxIter` must cover the
    * contraction rounds + 1; otherwise the call fails with an
    * IllegalStateException rather than return a truncated labeling.
    */
  def connectedComponentsAlternating(
      edges: DataFrame,
      nodes: DataFrame,
      idCol: String = "doc_id",
      maxIter: Int = 30
  ): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, greatest, least, min}

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("minv"))
        .select(col("u"), least(col("minv"), col("u")).as("m"))
      sym.where(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct()
      val mins = dir.groupBy("u").agg(min("v").as("m")) // m < u by construction
      val joined = dir.join(mins, "u")
      joined.select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var e = edges.select(col("a").as("u"), col("b").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.selectExpr("count(*) AS n", "coalesce(sum(hash(u, v)), 0) AS h").first()
      (r.getLong(0), r.getLong(1))
    }
    def round[T](i: Int)(body: => T): T = graft.obs.JobLabel(edges.sparkSession,
      s"connectedComponentsAlternating: round $i")(body)
    var sig = round(0)(signature(e)) // materializes the initial checkpoint
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) round(iter + 1) {
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val nextSig = signature(next) // the one action of this round
      // signature equality is necessary, not sufficient (hash-sum could
      // collide) — confirm with an exact multiset compare, which runs only
      // at the one round where the signatures first agree
      converged = nextSig == sig && next.exceptAll(e).isEmpty
      e = next
      sig = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsAlternating did not converge within maxIter=$maxIter " +
        "rounds; rounds needed are O(log n) — raise maxIter.")
    // at fixpoint e is a star forest (one (node, root) edge per non-root);
    // the min-agg guards row multiplicity anyway so a node can never fan out
    val stars = e.select(col("u").as("id"), col("v").as("comp"))
      .groupBy("id").agg(min("comp").as("comp"))
    nodes.select(col(idCol).as("id"))
      .join(stars, Seq("id"), "left_outer")
      .select(col("id").as(idCol), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Quality-aware keeper selection — the keep/drop decision real dedup
    * pipelines actually ship: given per-doc cluster assignments (the
    * output of [[connectedComponents]] / [[connectedComponentsAlternating]])
    * and a per-doc quality score ([[TextStats.qualityScore]]), keep the
    * HIGHEST-quality document of each component (ties broken by smallest
    * id) instead of the arbitrary min-id doc. Returns
    * (idCol, component, keeper_id, is_dup).
    *
    * Scale shape: one LEFT join on the id key, then the [[keepersByKey]]
    * agg-and-join-back form on the component key — NOT a window: the
    * arg-max is `min(struct(score_missing, −score, id))` under partial
    * aggregation (one row per component leaves each map task; a
    * million-member component never sorts inside one task), and the join
    * back is a stateless probe AQE's skew-join can split. The struct
    * ordering (score-missing flag asc, NaN-first flag asc, negated NUMERIC
    * score asc, id asc) equals the former window's (score desc nulls
    * last, id asc) rank-1 row exactly, including NaN scores (DESC ranks
    * NaN above every double; −NaN would instead sort last, hence the
    * explicit flag) — negation needs a numeric score column, which is the
    * contract ([[TextStats.qualityScore]] emits doubles). Component
    * members with no quality row are RETAINED and rank last (null score)
    * — they stay in the output and can only become keeper of an entirely
    * score-less component, never silently vanish from the keep/drop
    * decision.
    */
  def qualityKeepers(
      components: DataFrame,
      quality: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "quality_score"
  ): DataFrame = {
    val j = components.join(
      quality.select(col(idCol), col(scoreCol)), Seq(idCol), "left_outer")
    // min over (score_missing, nan_last?, −score, id): present scores
    // first, then the largest score, then the smallest id. NaN needs its
    // own flag: Spark's DESC ordering puts NaN ABOVE every double (so the
    // former window form crowned a NaN-scored doc), but −NaN is still NaN,
    // which sorts LAST ascending — negation alone would flip the decision.
    // (null −score sorts first WITHIN the missing group only, where every
    // −score is null and id breaks the tie — same as desc_nulls_last.)
    val best = j.groupBy(col("component"))
      .agg(min(struct(
        col(scoreCol).isNull.cast("int").as("score_missing"),
        when(isnan(col(scoreCol)), 0).otherwise(1).as("nan_first"),
        when(isnan(col(scoreCol)), lit(0.0)).otherwise(-col(scoreCol)).as("neg_score"),
        col(idCol).as("id"))).as("top"))
      .select(col("component").as("best_component"),
        col("top.id").as("keeper_id"))
    components.join(best, col("component") <=> col("best_component"))
      .select(col(idCol), col("component"), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"))
  }

  /** Windowed exact substring duplication — the exact-substring dedup
    * criterion of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022), realized Spark-first as fixed-`k`-token
    * windows instead of a monolithic suffix array: every k-token window
    * whose text occurs in ≥ `minDocs` DISTINCT documents is a duplicated
    * span. Consecutive qualifying windows are merged into maximal spans by
    * [[mergeTokenSpans]] (the shape a cut-the-duplicates pass consumes).
    *
    * Scale shape: one narrow pass per document emits
    * (sha2(window_text), doc, token span, char span) rows — window TEXT
    * never shuffles, only its 256-bit digest; the ≥ minDocs filter is a
    * digest-keyed count-distinct aggregation and the qualifying digests
    * join back to the narrow window rows. Shuffle volume ∝ corpus tokens.
    * The per-row window construction uses higher-order functions over the
    * [[graft.functions.TokensWithOffsetsExpr]] array — adequate here; a
    * 100-TB deployment would promote it to a single custom expression
    * (same move as MinHashSigExpr).
    *
    * Returns (idCol, tok_start, tok_end, start, end): token-index span
    * [tok_start, tok_end) plus the code-point char span [start, end).
    *
    * Eager-materialization contract: same as [[minhashNearDups]] — the
    * window frame feeds BOTH the count-distinct aggregation and the
    * join-back probe, so it is persisted (the tokenize+sha2 scan runs
    * once, not twice), the result is materialized, the window cache is
    * released before returning, and the caller owns the returned frame's
    * `unpersist()`.
    */
  def duplicatedWindowSpans(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      minDocs: Int = 2
  ): DataFrame = {
    require(k >= 1, "window size k must be >= 1")
    require(minDocs >= 2, "a window is duplicated only across >= 2 documents")
    val wins = tokenWindows(docs, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = wins.groupBy("w")
      .agg(countDistinct("id").as("nd"))
      .where(col("nd") >= minDocs)
      .select("w")
    val result = wins.join(dup, "w")
      .select(col("id").as(idCol), col("tok_start"), col("tok_end"),
        col("start"), col("end"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.obs.JobLabel(docs.sparkSession, "duplicatedWindowSpans: result count")(result.count())
    wins.unpersist()
    result
  }

  /** (id, tok_start, tok_end, start, end, w): every k-token window of every
    * document, `w` = sha2-256 of the space-joined window text. One rolling
    * pass per row ([[graft.functions.TokenWindowsExpr]] — pinned bit-equal
    * to the per-window HOF formulation in OpsSpec).
    */
  private def tokenWindows(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(graft.functions.gf.tokenWindows(col(textCol), k)).as("win"))
      .select(col("id"), col("win.tok_start").as("tok_start"),
        col("win.tok_end").as("tok_end"), col("win.start").as("start"),
        col("win.end").as("end"), col("win.w").as("w"))

  /** Benchmark decontamination: spans of corpus documents whose k-token
    * windows also occur in a REFERENCE corpus (the eval/benchmark set every
    * serious training pipeline must scrub — n-gram overlap decontamination
    * as practiced since GPT-2/GPT-3's 8-gram filters). Returns the same
    * span shape as [[duplicatedWindowSpans]]; feed through
    * [[mergeTokenSpans]] for the maximal spans to cut, or `distinct` doc
    * ids to drop whole documents.
    *
    * Scale shape: the reference side reduces to DISTINCT window digests
    * and is BROADCAST (the common case — benchmarks are MBs, corpora are
    * TBs), so the 100-TB side is one narrow scan + broadcast-hash
    * semi-join with NO shuffle. A reference over the
    * `decontamination.broadcast` [[Gate]] threshold takes a digest-keyed
    * shuffle join instead ([[referenceSide]]).
    */
  def contaminatedSpans(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8
  ): DataFrame = {
    require(k >= 1, "window size k must be >= 1")
    val refSide = referenceSide(reference,
      tokenWindows(reference, idCol, textCol, k).select("w").distinct())
    tokenWindows(corpus, idCol, textCol, k)
      .join(refSide, Seq("w"), "left_semi")
      .select(col("id").as(idCol), col("tok_start"), col("tok_end"),
        col("start"), col("end"))
  }

  /** The reference digests `refW` as the build side of a decontamination
    * join. An unconditional broadcast of a HUGE benchmark suite would blow
    * the driver / broadcast limits, so the `decontamination.broadcast`
    * [[Gate]] measures the reference's Catalyst size estimate (no job): at
    * or under its threshold the digests broadcast; over it, or without
    * statistics, the join shuffles on the digest, pinned with a hint —
    * Catalyst's estimate for the distinct-digest aggregate cannot see the
    * true distinct count and could still auto-broadcast it.
    */
  private def referenceSide(reference: DataFrame, refW: DataFrame): DataFrame =
    if (Gate.choose(reference.sparkSession, "decontamination.broadcast",
        Gate.estimatedBytes(reference.queryExecution.optimizedPlan))) broadcast(refW)
    else refW.hint("shuffle_hash")

  /** Bloom-filter benchmark decontamination — the 100-TB shape of
    * [[contaminatedSpans]] for the regime where even the DISTINCT
    * reference digests outgrow a comfortable exact broadcast: the
    * reference's window digests fold into ONE Bloom filter
    * (`BloomFilterAggregate` over `xxhash64(digest)` — the same native
    * aggregate Spark's own runtime row-level filtering uses; size
    * `optimalNumOfBits(expectedRefWindows, fpp)` bits ≈ n·1.44·log₂(1/fpp)
    * — at fpp 1% a 4-BILLION-window suite is ~6.9 GB exact-broadcast rows
    * but only ~4.8 GB of bloom... and at fpp 10% ~2.4 GB; a 100M-window
    * suite is ~120 MB), which broadcasts as a plain literal into a
    * codegen'd `BloomFilterMightContain` SCAN-STAGE filter — zero shuffle
    * touches the corpus until only the bloom SURVIVORS (true hits +
    * ~fpp·windows false positives) remain. Survivors are then verified
    * with the exact digest semi-join, so the OUTPUT IS IDENTICAL to
    * [[contaminatedSpans]] (blooms have no false negatives; the verify
    * join kills the false positives) — pinned by the shared driver oracle
    * and an equality spec that forces a pathological fpp.
    *
    * Scale shape: reference scan + one k-group bloom aggregation (bytes to
    * the driver = the filter itself, the documented bounded-collect);
    * corpus = one narrow scan with an in-stage filter; the exact verify
    * join's probe side is only the surviving windows — for a clean corpus
    * that is ~fpp of it. Use the exact [[contaminatedSpans]] when the
    * reference digests broadcast comfortably; this one when they don't.
    */
  def contaminatedSpansBloom(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      expectedRefWindows: Long = 1000000L,
      fpp: Double = 0.01
  ): DataFrame = {
    require(k >= 1, "window size k must be >= 1")
    require(expectedRefWindows > 0, "expectedRefWindows must be positive")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    import org.apache.spark.sql.graftshim.Bridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val spark = corpus.sparkSession
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedRefWindows, fpp)
    val refW = tokenWindows(reference, idCol, textCol, k).select("w").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bloomAgg = Bridge.column(new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("w"))),
        Bridge.expression(lit(expectedRefWindows)),
        Bridge.expression(lit(numBits))).toAggregateExpression())
      val bloomBytes = graft.obs.JobLabel(spark, "contaminatedSpansBloom: bloom filter")(
        refW.agg(bloomAgg.as("bf")).head()).getAs[Array[Byte]](0)
      val mightContain = Bridge.column(BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(xxhash64(col("w")))))
      val cand = tokenWindows(corpus, idCol, textCol, k).where(mightContain)
      // exact verify (false-positive kill): probe side = bloom survivors
      // only; shuffle_hash because Catalyst's estimate of the distinct
      // aggregate cannot see the true build size the caller just declared
      // broadcast-hostile. Eager-materialization contract as
      // [[minhashNearDups]]: refW feeds both the bloom aggregation and
      // this join, so the result is persisted + materialized, the
      // reference cache released, and the caller owns the returned
      // frame's unpersist().
      val result = cand.join(refW.hint("shuffle_hash"), Seq("w"), "left_semi")
        .select(col("id").as(idCol), col("tok_start"), col("tok_end"),
          col("start"), col("end"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.obs.JobLabel(spark, "contaminatedSpansBloom: result count")(result.count())
      result
    } finally refW.unpersist()
  }

  /** Doc-level contamination REPORT — the audit twin of
    * [[contaminatedSpans]] (the GPT-3 appendix-style per-document overlap
    * accounting): for each corpus document, how many of its k-token
    * windows occur anywhere in the reference/benchmark set — `n_windows`,
    * `n_hits`, `contaminated_frac`, and the any-hit flag
    * `is_contaminated` (the GPT-2/3 scrub decision: one colliding n-gram ⇒
    * dirty). Same broadcast-or-shuffle reference side as
    * [[contaminatedSpans]]; the only addition is one per-doc aggregation
    * over the window frame — linear, keyed on the doc id. Documents with
    * fewer than k tokens have no windows: they survive with
    * `n_windows = 0`, null fraction, `is_contaminated = false`.
    */
  def contaminationReport(
      corpus: DataFrame,
      reference: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8
  ): DataFrame = {
    require(k >= 1, "window size k must be >= 1")
    val refSide = referenceSide(reference, tokenWindows(reference, idCol, textCol, k)
      .select("w").distinct().withColumn("hit", lit(1L)))
    val agg = tokenWindows(corpus, idCol, textCol, k)
      .join(refSide, Seq("w"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    corpus.select(col(idCol))
      .join(agg.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (col("n_hits").cast("double") / col("n_windows").cast("double"))
          .as("contaminated_frac"),
        (coalesce(col("n_hits"), lit(0L)) >= 1).as("is_contaminated"))
  }

  /** Apply a token-span cut list to the corpus — the SCRUB step that
    * decontamination / substring-dedup ends with: drop every token whose
    * index falls inside any `[tok_start, tok_end)` span of its document
    * and re-join the survivors with single spaces (the token-normalized
    * output Lee et al.-style pipelines emit, since they operate over token
    * sequences — char-exact splicing would require recovering original
    * whitespace runs). Spans need NOT be merged first: overlapping spans
    * cut the same position set.
    *
    * Scale shape: tokens explode to (id, j, tok) rows and cut positions to
    * (id, j) rows (Σ span lengths ≤ corpus tokens); one anti-join on the
    * (id, j) key, then a per-doc ordered re-assembly whose state is the
    * document's own token list — the same order of memory as the text
    * column itself. Fully-cut and token-less documents come back as the
    * empty string.
    */
  def scrubTokens(
      docs: DataFrame,
      spans: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(filter(split(col(textCol), "\\s+"), t => t =!= ""))
        .as(Seq("j", "tok")))
    // degenerate spans (tok_end <= tok_start) must cut NOTHING: Spark's
    // sequence(start, stop) auto-REVERSES when start > stop, so an
    // unfiltered [5,5) span would explode to positions 5 and 4 — tokens
    // OUTSIDE the span — while the DuckDB oracle's range() yields empty.
    // This is a public operator taking arbitrary span frames; filter first.
    val cutPos = spans.where(col("tok_end") > col("tok_start"))
      .select(col(idCol),
        explode(sequence(col("tok_start"), col("tok_end") - 1)).as("j"))
    val rebuilt = toks.join(cutPos, Seq(idCol, "j"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("j"), col("tok")))),
        x => x.getField("tok")), " ").as("text_scrubbed"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"))
  }

  /** Merge per-document overlapping/adjacent token spans into maximal
    * islands (classic gaps-and-islands over a doc-partitioned window —
    * no UDF, no driver-side collect). Input needs (idCol, tok_start,
    * tok_end, start, end); output is one row per island with min/max of
    * both span kinds.
    */
  def mergeTokenSpans(spans: DataFrame, idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("tok_start"), col("tok_end"))
    spans
      .withColumn("prev_max",
        max(col("tok_end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("tok_start") > col("prev_max"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(byDoc))
      .groupBy(col(idCol), col("island"))
      .agg(min("tok_start").as("tok_start"), max("tok_end").as("tok_end"),
        min("start").as("start"), max("end").as("end"))
      .select(col(idCol), col("tok_start"), col("tok_end"), col("start"), col("end"))
  }

  /** Token-multiset duplicate pairs via SimHash bucketing: candidates are
    * the distance-0 signature collisions (the pigeonhole join of
    * [[simhashNearDups]] degenerates to ONE bucket key, the full 64-bit
    * signature), then VERIFIED by exact equality of the sorted lowercased
    * token multiset. The verify step makes the result exact — a 64-bit
    * signature collision between different multisets (rare for independent
    * texts, but LIKELY between one-token-apart near twins, whose vote
    * counters each move by ±1) is filtered out — while completeness is
    * structural: equal multisets give equal signatures, so every true pair
    * is a candidate with probability 1. This is the property that lets
    * the `dedup_simhash_pairs` query pin the whole SimHash path (signature
    * expression, bucketing, verification) to an exact multiset-equality
    * SQL oracle.
    *
    * Scale shape ([[verifiedPairs]], guarded): one signature-keyed shuffle
    * for candidates; the narrow (id, sig) frame is computed once, and a
    * pair is emitted exactly once (one bucket per id, so no distinct). The
    * sorted token keys are recomputed only for docs appearing in a
    * candidate pair (left-semi prune), as in [[minhashNearDups]]. A
    * signature shared by more than `maxSigFreq` docs (empty/near-empty
    * texts at real-corpus scale) is refused, pointing at
    * [[multisetKeepers]].
    *
    * Eager-materialization contract: same as [[minhashNearDups]] — the
    * call is an action; the returned verified-pair frame is persisted and
    * materialized, all intermediates released; caller owns `unpersist()`.
    */
  def simhashExactDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxSigFreq: Int = 1000
  ): DataFrame =
    verifiedPairs("simhashExactDups",
        docs.select(col(idCol).as("id"), graft.functions.gf.simhash64(col(textCol)).as("sig")),
        Seq("sig"), "id", maxSigFreq, (key, freq) =>
          s"signature ($key) is shared by $freq docs > " +
            s"maxSigFreq=$maxSigFreq — pair output for a class this size is " +
            "quadratic. Use the linear keeper form (Dedup.multisetKeepers) " +
            "for exact-duplicate classes, or raise maxSigFreq deliberately.") { (cand, keep) =>
      // the token-multiset key via [[graft.functions.TokenMultisetKeyExpr]]
      // — the SAME Locale.ROOT lowering the signature uses, so "equal key ⇒
      // equal signature" holds for all text (Spark's lower() would fall
      // back to default-locale String.toLowerCase on non-ASCII, a latent
      // sig/key divergence)
      val keys = keep(candidateDocs(docs, cand, idCol)
        .select(col(idCol), graft.functions.gf.tokenMultisetKey(col(textCol)).as("key")))
      bothEnds(cand, keys, idCol).where(col("key_a") === col("key_b")).select("a", "b")
    }

  /** Conversation-level duplicate pairs over a TURNS table — MinHash-LSH
    * banding over each conversation's per-turn fingerprint set, candidates
    * verified by exact multiset-fingerprint equality. The transcripts-native
    * near-dup composition, built ENTIRELY from aggregations: no conversation
    * text is ever rolled up, so per-group state is O(1) and a 10⁹-turn
    * mega-conversation costs the same group memory as a 3-turn one (the
    * [[graft.ops.TextStats.multisetFingerprint]] discipline, extended from
    * exact dedup to LSH candidates).
    *
    *  - per-turn fingerprint `h = xxhash64(turn_idx, text)` — the ordinal
    *    makes the tuple set determine the ORDERED conversation;
    *  - conversation signature element j = `min(xxhash64(h, j))` — a MinHash
    *    of the turn-fingerprint set as `numHashes` plain `min` aggregates;
    *  - LSH bands over the signature → band-keyed candidates
    *    (equal conversations collide in EVERY band ⇒ recall 1 for exact
    *    copies; a conversation differing in one turn has Jaccard
    *    (n−1)/(n+1) and is caught per normal LSH collision odds);
    *  - verification: exact equality of the 128-BIT fingerprint
    *    `(bit_xor(h), bit_xor(xxhash64(h, tag)), count)` — equal multisets
    *    always agree; unequal multisets must collide BOTH independent xor
    *    lanes (~2⁻¹²⁸) to verify falsely, closing the structured 64-bit
    *    xor caveat (OpsSpec constructs a real one-lane collision via GF(2)
    *    elimination and shows the second lane splits it).
    *
    * Returns verified (a, b) pairs, a < b. Shuffles: one turn→conversation
    * aggregation keyed on `convCol` (cached: it feeds both the bands and
    * the verify join), one band-keyed candidate aggregation over narrow
    * (id, band, hash) rows ([[verifiedPairs]], guarded), one id-keyed
    * verify join. Same eager-materialization contract as
    * [[minhashNearDups]] (result persisted + materialized; caller owns
    * `unpersist()`); same hot-bucket guard (the linear alternative for
    * exact classes is the `multisetFingerprint` window — `conv_dedup_fp`'s
    * shape — not pairs).
    */
  def conversationDupPairs(
      turns: DataFrame,
      convCol: String = "conv_id",
      turnIdxCol: String = "turn_idx",
      textCol: String = "text",
      numHashes: Int = 16,
      bands: Int = 8,
      maxBucketFreq: Int = 1000
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val h = xxhash64(col(turnIdxCol), col(textCol))
    val sigAggs = (0 until numHashes).map(j => min(xxhash64(h, lit(j))).as(s"m$j"))
    val aggs = sigAggs ++ Seq(bit_xor(h).as("fp"),
      bit_xor(xxhash64(h, lit(graft.ops.TextStats.MultisetFp128Tag))).as("fp2"),
      count(lit(1)).as("n_turns"))
    val sigs = turns.groupBy(col(convCol).as("id"))
      .agg(aggs.head, aggs.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigArr = array((0 until numHashes).map(j => col(s"m$j")): _*)
    try verifiedPairs("conversationDupPairs",
        sigs.select(col("id"), bandHashes(sigArr, bands, numHashes / bands)),
        Seq("band", "band_hash"), "id", maxBucketFreq, (key, freq) =>
          s"LSH bucket ($key) holds $freq conversations > " +
            s"maxBucketFreq=$maxBucketFreq — a duplicate class this size has " +
            "quadratic pair output. Use the linear multisetFingerprint keeper " +
            "window (conv_dedup_fp shape) for exact classes, or raise " +
            "maxBucketFreq deliberately.") { (cand, _) =>
      bothEnds(cand, sigs.select(col("id"), col("fp"), col("fp2"), col("n_turns")), "id")
        .where(col("fp_a") === col("fp_b") && col("fp2_a") === col("fp2_b") &&
          col("n_turns_a") === col("n_turns_b"))
        .select("a", "b")
    } finally sigs.unpersist()
  }

  /** SimHash near-dup pairs: Hamming(sig_a, sig_b) <= maxDist via
    * pigeonhole — split the 64-bit signature into (maxDist+1) chunks; pairs
    * within the distance must share at least one chunk ⇒ join per chunk,
    * verify distance. Lazy: the returned plan runs when the caller acts on
    * it.
    */
  def simhashNearDups(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDist: Int = 3
  ): DataFrame = {
    val chunks = maxDist + 1
    val width = 64 / chunks
    val sigs = docs.select(col(idCol).as("id"),
      graft.functions.gf.simhash64(col(textCol)).as("sig"))
    val chunkCols = (0 until chunks).map(c =>
      shiftright(col("sig"), c * width).bitwiseAND(lit((1L << width) - 1)))
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "chunk_val")))
    banded.as("l").join(banded.as("r"),
        col("l.chunk") === col("r.chunk") &&
          col("l.chunk_val") === col("r.chunk_val") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        bit_count(col("l.sig").bitwiseXOR(col("r.sig"))).as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /** CCNet dedup normalization (Wenzek et al. 2020 — the
    * `normalize_for_dedup` recipe: strip, lowercase, unify digits, REMOVE
    * unicode punctuation) for paragraph/turn-level dedup: text units that
    * differ only in embedded numbers (order ids, timestamps, counters) or
    * punctuation variants collapse into one class — the normalization that
    * makes template boilerplate detectable in machine-generated corpora.
    * Punctuation = Unicode general category P (both engines' regex classes
    * implement GC membership, so `\p{P}` replays in the RE2 oracle;
    * ASCII symbol chars like `$ + < > ~` are category S and deliberately
    * survive). ASCII-scoped lowering caveat as elsewhere (the fixture
    * corpus has no cased non-ASCII letters); both engines treat `[0-9]`
    * identically.
    */
  def ccnetNormalize(text: Column): Column =
    regexp_replace(lower(regexp_replace(trim(text), "[0-9]", "0")), "\\p{P}", "")

  /** CCNet/RefinedWeb-style duplicate-text-unit removal over a corpus of
    * small text units (paragraphs, lines, transcript turns): group units by
    * [[ccnetNormalize]]d text, keep the FIRST occurrence in `orderKey`
    * order, mark the rest duplicates, and report the class size
    * (`n_copies`) so a frequency threshold (boilerplate filter — drop units
    * whose normalized text recurs more than k times corpus-wide) composes
    * as one extra comparison downstream.
    *
    * Scale shape — deliberately NOT [[keepersByKey]]'s window form: a
    * boilerplate class at web scale has millions of members, and a window
    * sorts each class into one task. Here the class reduce is a
    * `groupBy(norm-digest)` aggregation (hot keys absorbed map-side by
    * partial aggregation) producing ONE row per class, then a join back on
    * the unique-key digest frame — hot classes mean many probe rows but no
    * build-side explosion. Two shuffles on the digest, both linear.
    * Null-text units are singletons keyed by their own order key
    * ([[nullSafeKey]] semantics).
    *
    * Output: `orderKey` columns (as `okN` if unnamed), `n_copies`,
    * `is_dup`. The keeper tuple min is over the `orderKey` struct
    * (lexicographic), so with a unique key the decision equals
    * `row_number() == 1` in key order — the exact relation a DuckDB window
    * oracle replays.
    */
  def ccnetDedup(
      units: DataFrame,
      orderKey: Seq[(String, Column)],
      textCol: String = "text"
  ): DataFrame = {
    val okCols = orderKey.map { case (n, c) => c.as(n) }
    val okNames = orderKey.map(_._1)
    val keyed = units.select(
      (okCols :+ coalesce(sha2(ccnetNormalize(col(textCol)), 256),
        concat(lit("null#"), concat_ws("#", okNames.map(col): _*)))
        .as("norm_key")): _*)
      .select(col("norm_key"), struct(okNames.map(col): _*).as("ok"))
      // r8: lazy persist — same rationale as keepersByKey (the normalize +
      // sha2 chain otherwise re-evaluates on the probe side of the
      // join-back when the class build side broadcasts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classes = keyed.groupBy("norm_key")
      .agg(count(lit(1)).as("n_copies"), min(col("ok")).as("keeper"))
    keyed.join(classes, "norm_key")
      .select(okNames.map(n => col(s"ok.$n").as(n)) ++ Seq(
        col("n_copies"),
        (col("ok") =!= col("keeper")).as("is_dup")): _*)
  }
}
