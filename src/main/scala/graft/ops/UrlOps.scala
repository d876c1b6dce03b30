package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization, URL-level dedup and per-domain frequency caps —
  * the crawl-curation stage every public web-corpus recipe runs BEFORE
  * text-level cleaning (C4 drops pages by URL blocklist, RefinedWeb
  * [Penedo et al. 2023 §3.1] deduplicates by normalized URL and caps
  * per-domain volume so a single mirror farm cannot dominate the corpus;
  * Gopher/MassiveText filter by domain). The reference pipeline ingests
  * files, not crawls, so this family is pure public-recipe surface — no
  * reference analogue to cite.
  *
  * Everything here is a per-row scan-stage projection built from built-in
  * string expressions (zero shuffle, zero UDF) except the cap, which is one
  * count aggregation on the domain key (mega-domain-safe: partial
  * aggregation reduces a billion-page domain to one row map-side) plus an
  * equi-join back. All decisions are deterministic functions of (url, id) —
  * re-runs, retries and incremental loads agree, the same contract as
  * [[Sampling]].
  *
  * Regex discipline: every pattern is RE2-portable (no lookaround, no
  * backreference, no replacement group refs), so the DuckDB oracle replays
  * the whole chain bit-for-bit.
  */
object UrlOps {

  /** Query-parameter names stripped by [[canonicalizeUrl]] (matched
    * case-insensitively against the name part, `name` or `name=...`):
    * cross-site tracking decorations that make one logical page count as
    * many distinct URLs. `utm_*` wildcards the whole Urchin family.
    */
  val trackingParams: Seq[String] = Seq("utm_[a-z0-9_]*", "fbclid", "gclid", "ref")

  private val trackingRe = "^(" + trackingParams.mkString("|") + ")(=|$)"

  /** Canonical form of an absolute http(s)-style URL — the dedup key that
    * collapses crawl-duplicate spellings of one logical page. Steps, in
    * order (each expressible in both engines, so the chain oracle-replays):
    *
    *  1. trim; drop the fragment (`#...`);
    *  2. lowercase the `scheme://host[:port]` prefix (path/query stay
    *     case-sensitive per RFC 3986);
    *  3. drop default ports (`:80` for http, `:443` for https; explicit
    *     non-default ports stay);
    *  4. drop one leading `www.` host label;
    *  5. drop [[trackingParams]] from the query, sort the surviving
    *     parameters bytewise, and drop the `?` when none survive;
    *  6. strip trailing `/` from the path (so `.../a/` ≡ `.../a`, and the
    *     bare root `host/` ≡ `host`).
    *
    * Inputs that do not start with a `scheme://` prefix (or null) map to
    * NULL — the fail-visible contract for relative/garbage URLs; keeper and
    * cap callers must route nulls through [[Dedup.nullSafeKey]]-style
    * singleton keys rather than pooling them. Idempotent: applying the
    * chain to its own output is the identity (spec-pinned).
    */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(trim(url), "#.*", "")
    // scheme://host[:port] — host may not contain / ? #
    val prefix0 = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    val rest = substring(u, length(prefix0) + 1, lit(1000000))
    val low = lower(prefix0)
    val noPort = when(low.startsWith("http://"), regexp_replace(low, ":80$", ""))
      .when(low.startsWith("https://"), regexp_replace(low, ":443$", ""))
      .otherwise(low)
    // "://" occurs exactly once in the prefix (the host class excludes /),
    // so a plain substring replace strips exactly one leading www. label
    val prefix = regexp_replace(noPort, "://www\\.", "://")
    val path = regexp_extract(rest, "^[^?]*", 0)
    val query = when(length(rest) > length(path),
      substring(rest, length(path) + 2, lit(1000000))).otherwise(lit(""))
    val params = filter(split(query, "&"),
      p => p =!= "" && !lower(p).rlike(trackingRe))
    val qstr = array_join(array_sort(params), "&")
    val cleanPath = regexp_replace(path, "/+$", "")
    when(url.isNull || prefix0 === "", lit(null).cast("string"))
      .otherwise(concat(prefix, cleanPath,
        when(length(qstr) > 0, concat(lit("?"), qstr)).otherwise(lit(""))))
  }

  /** Host suffixes that carry an extra registrable label (the bounded
    * stand-in for the public-suffix list, which is a versioned external
    * artifact — swapping the real list in is a regex-alternation change).
    */
  val multiPartTlds: Seq[String] =
    Seq("co.uk", "org.uk", "ac.uk", "co.jp", "com.au", "com.br", "co.in", "com.cn")

  private val multiTldRe = "\\.(" + multiPartTlds.map(_.replace(".", "\\.")).mkString("|") + ")$"

  /** Registered (pay-level) domain of a CANONICAL url ([[canonicalizeUrl]]
    * output): the last two host labels, or three when the host ends in a
    * [[multiPartTlds]] suffix (`a.b.example.co.uk` → `example.co.uk`). The
    * per-domain unit of volume caps and source statistics. Null/degenerate
    * hosts (fewer labels than the rule wants) pass through unchanged; a
    * null canonical url stays null.
    */
  def registeredDomain(canonicalUrl: Column): Column = {
    val host = regexp_extract(canonicalUrl, "^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1)
    val labels = split(host, "\\.")
    val n = size(labels)
    when(canonicalUrl.isNull, lit(null).cast("string"))
      .when(host.rlike(multiTldRe) && n >= 3,
        concat_ws(".", element_at(labels, -3), element_at(labels, -2), element_at(labels, -1)))
      .when(n >= 2, concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
      .otherwise(host)
  }

  /** URL-level dedup in the linear keeper form: min id per canonical URL
    * ([[Dedup.keepersByKey]] — groupBy-agg one row per class + null-safe
    * join back; a mirror farm with a billion copies of one URL reduces to
    * one row map-side, no window sort). Docs whose URL fails to
    * canonicalize (null) stay SINGLETONS via an id-keyed sentinel — a
    * crawl's garbage-URL rows must not merge into one giant bogus class.
    * Output (idCol, keeper_id, is_dup), linear in the corpus.
    */
  def urlKeepers(docs: DataFrame, idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame =
    Dedup.keepersByKey(docs, idCol,
      Dedup.nullSafeKey(canonicalizeUrl(col(urlCol)), idCol))

  /** [[urlKeepers]] over an ALREADY-canonicalized URL column — the
    * composition entry point for pipelines that computed the canonical
    * form upstream (identical class key and null-singleton semantics;
    * skips re-running the canonicalization regex chain per keeper pass).
    */
  def urlKeepersCanonical(docs: DataFrame, idCol: String = "doc_id",
      canonicalCol: String = "curl"): DataFrame =
    Dedup.keepersByKey(docs, idCol,
      Dedup.nullSafeKey(col(canonicalCol), idCol))

  /** URL blocklist flag (C4 §2.2 drops pages whose URL matches the public
    * "bad words" blocklist; RefinedWeb §3.1 scores blocklist words in the
    * URL): true when the lowercased canonical URL matches any pattern.
    * Patterns must be RE2-safe plain words/fragments (joined into one
    * alternation — the [[WebClean.c4Signals]] badWords contract). Null
    * canonical → null flag (three-valued; garbage URLs are already gated
    * by the null contract).
    */
  def urlBlockFlag(canonicalUrl: Column, patterns: Seq[String]): Column = {
    require(patterns.nonEmpty, "urlBlockFlag: empty pattern list")
    lower(canonicalUrl).rlike("(" + patterns.mkString("|") + ")")
  }

  /** Deterministic per-row slot in `[0, n)` for a per-row class size `n` —
    * the variable-modulus twin of [[Sampling.mulHashBucket]] (same
    * Knuth-multiplicative map, same bounded intermediates, same bit-exact
    * SQL replay, same documented linear-in-the-id stripe caveat).
    */
  def mulHashSlot(id: Column, n: Column): Column =
    pmod(pmod(id.cast("long"), lit(1048573L)) * lit(2654435761L), n.cast("long"))

  /** Full-avalanche variable-modulus slot — the production default
    * ([[Sampling.avalancheBucket]]'s contract: no arithmetic-id stripes;
    * not SQL-replayable). */
  def avalancheSlot(id: Column, n: Column): Column =
    pmod(xxhash64(id), n.cast("long"))

  /** Per-domain volume cap (RefinedWeb §3.1 / MassiveText-style): domains
    * with at most `cap` docs keep everything; larger domains keep each doc
    * iff its deterministic slot in `[0, n_domain)` falls below `cap` — an
    * EXPECTED cap per domain (the web-scale contract: an exact per-domain
    * top-`cap` needs a per-group order statistic — that exact path is
    * [[domainCapExact]];
    * the hash threshold is what production crawls run because it is
    * map-only after one count). Decision is a pure function of (id,
    * n_domain): retries and re-runs agree, and adding docs to a domain
    * only re-rolls decisions when n_domain changes — no RNG state anywhere.
    *
    * Scale shape: ONE count aggregation on the domain key (a billion-page
    * domain reduces to one row map-side under partial aggregation) + a
    * null-safe equi-join back (hot domains are a stateless probe lookup
    * AQE's skew-join splits — the keeper-form rescue). Null domains form
    * one SQL-semantics class, matching GROUP BY; route garbage upstream.
    *
    * Output: input columns + `n_domain`, `keep`. `slotOf` defaults to the
    * unbiased [[avalancheSlot]]; pass [[mulHashSlot]] for bit-exact SQL
    * replay (accepting its small-arithmetic-stratum stripe caveat).
    */
  def domainCapSample(docs: DataFrame, domainCol: String, idCol: String = "doc_id",
      cap: Int = 1000,
      slotOf: (Column, Column) => Column = avalancheSlot): DataFrame = {
    require(cap > 0, s"domainCapSample: cap must be positive, got $cap")
    val counts = docs.groupBy(col(domainCol).as("cap_domain"))
      .agg(count(lit(1)).as("n_domain"))
    docs.join(counts, col(domainCol) <=> col("cap_domain"))
      .drop("cap_domain")
      .withColumn("keep",
        col("n_domain") <= cap || slotOf(col(idCol), col("n_domain")) < cap)
  }

  /** EXACT per-domain cap — keeps EXACTLY `min(cap, n_domain)` docs per
    * domain (the property [[domainCapSample]]'s hash thresholding only
    * gives in expectation): the kept set is the `cap` smallest docs under
    * the deterministic order (v, id) with
    * `v = ((id mod 1048573)·2654435761) mod 2^32` (hash-random selection;
    * the id tie-break makes the order total, so v collisions are
    * harmless). No window anywhere: the per-domain threshold is the
    * `min(cap, n)`-th smallest (v, id) pair from [[graft.metrics.Rank.select]]
    * — one in-buffer aggregation for domains under its size gate,
    * counting bisection for larger ones (a billion-page domain never
    * sorts in one task) — broadcast-joined back as `keep = (v, id) <=
    * threshold`. Driver state is one row per domain under the `maxDomains`
    * bounded-collect guard.
    *
    * Null domains pool into one `null#domain` sentinel class (SQL GROUP BY
    * semantics, matching [[domainCapSample]]). Output: input columns +
    * `n_domain`, `keep`.
    */
  def domainCapExact(docs: DataFrame, domainCol: String, idCol: String = "doc_id",
      cap: Int = 1000, maxDomains: Int = 100000): DataFrame = {
    require(cap > 0, s"domainCapExact: cap must be positive, got $cap")
    // v confined to 32 bits: halves the bisection pass count on the
    // large-domain path
    val keyed = docs
      .withColumn("cap_g", coalesce(col(domainCol).cast("string"), lit("null#domain")))
      .withColumn("cap_v", mulHashSlot(col(idCol), lit(1L << 32)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = graft.metrics.Rank.select(keyed, "cap_g", Seq(col("cap_v"), col(idCol)),
        n => Seq(math.min(cap.toLong, n)), maxDomains)
      .select(col("cap_g"), col("n").as("n_domain"),
        element_at(col("ranks"), 1).as("cap_thr"))
    keyed.join(broadcast(thr), Seq("cap_g"))
      .withColumn("keep",
        struct(col("cap_v").as("k0"), col(idCol).cast("long").as("k1")) <= col("cap_thr"))
      .drop("cap_g", "cap_v", "cap_thr")
  }
}
