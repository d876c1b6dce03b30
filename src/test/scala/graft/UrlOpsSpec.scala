package graft

import graft.ops.UrlOps
import graft.plans.Gate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** URL curation (ops/UrlOps.scala): canonicalization rule-by-rule,
  * idempotence, the NULL contract for relative/garbage URLs, registered
  * domains (incl. multi-part TLDs), keeper-form URL dedup with singleton
  * nulls, the per-domain cap's determinism and branch behavior, and the
  * zero-shuffle plan shape of the scan-stage pieces.
  */
class UrlOpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def canon(raw: String): String = {
    val r = Seq(Tuple1(raw)).toDF("u")
      .select(UrlOps.canonicalizeUrl(col("u")).as("c")).collect()(0)
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("canonicalizeUrl: every rule bites on a hand-built case") {
    // fragment, scheme+host case, default port, www, tracking params,
    // param sort, trailing slash — all in one URL
    assert(canon("  HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&b=2&a=1#frag  ")
      === "https://example.com/A/b?a=1&b=2")
    // http default port; path case preserved per RFC 3986
    assert(canon("HTTP://news.SITE.org:80/Items/") === "http://news.site.org/Items")
    // non-default port survives; no query; root slash dropped
    assert(canon("http://x.com:8080/") === "http://x.com:8080")
    // all params tracking -> '?' dropped entirely (incl. bare name + UTM case)
    assert(canon("https://a.io/p?UTM_medium=e&fbclid=1&gclid&ref=z") === "https://a.io/p")
    // ref only matches as a NAME ("ref" / "ref=..."), not a prefix
    assert(canon("https://a.io/p?refresh=1") === "https://a.io/p?refresh=1")
    // www only strips as the leading label; params keep their value case
    assert(canon("https://www.www2.net/q?B=UPPER") === "https://www2.net/q?B=UPPER")
    // param sort is BINARY (uppercase before lowercase: 'C' < 'a')
    assert(canon("https://a.io/p?b=1&C=Z&a=2") === "https://a.io/p?C=Z&a=2&b=1")
  }

  test("urlBlockFlag: blocklist hits on the canonical form; null stays null") {
    import graft.ops.UrlOps.urlBlockFlag
    val out = Seq("https://a.io/casino-games/x", "https://a.io/fine", null)
      .map(Tuple1(_)).toDF("u")
      .select(urlBlockFlag(UrlOps.canonicalizeUrl(col("u")),
        Seq("casino", "xxx")).as("b")).collect()
    assert(out(0).getBoolean(0) === true)
    assert(out(1).getBoolean(0) === false)
    assert(out(2).isNullAt(0))
    intercept[IllegalArgumentException](urlBlockFlag(col("u"), Seq.empty))
  }

  test("canonicalizeUrl: null contract and idempotence") {
    assert(canon(null) === null)
    assert(canon("not a url, just text") === null)
    assert(canon("/relative/path?x=1") === null)
    assert(canon("") === null)
    // idempotence: canonical output re-canonicalizes to itself
    val raws = Seq(
      "  HTTPS://WWW.Example.COM:443/A/b/?utm_source=x&b=2&a=1#frag  ",
      "HTTP://news.SITE.org:80/Items/", "http://x.com:8080/",
      "https://a.io/p?z=9&a=1&m=3", "https://e.co.uk")
    val df = raws.map(Tuple1(_)).toDF("u")
      .select(UrlOps.canonicalizeUrl(col("u")).as("c"))
      .select(col("c"), UrlOps.canonicalizeUrl(col("c")).as("cc"))
    assert(df.where(!(col("c") <=> col("cc"))).count() === 0)
  }

  test("registeredDomain: last-2 labels, multi-part TLDs take 3, edge hosts") {
    val cases = Seq(
      ("https://a.b.example.com/x", "example.com"),
      ("https://news.example.co.uk/y?a=1", "example.co.uk"),
      ("http://example.co.uk", "example.co.uk"),   // exactly 3 labels
      ("http://co.uk", "co.uk"),                   // 2 labels, rule wants 3 -> last 2
      ("http://localhost/z", "localhost"),         // single label passes through
      ("http://x.com:8080/z", "x.com"),            // non-default port excluded from host
      (null, null))
    val out = cases.map(c => Tuple1(c._1)).toDF("u")
      .select(UrlOps.registeredDomain(UrlOps.canonicalizeUrl(col("u"))).as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq === cases.map(_._2))
  }

  test("urlKeepers: variants collapse to one class, null URLs stay singletons") {
    val docs = Seq(
      (1L, "https://example.com/a?b=2&a=1"),
      (2L, "HTTPS://WWW.example.com:443/a/?a=1&b=2&utm_source=z#f"),
      (3L, "https://example.com/a?a=1"),   // different query -> own class
      (4L, "garbage"),
      (5L, "also garbage")
    ).toDF("doc_id", "url")
    val out = UrlOps.urlKeepers(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq === Seq(
      (1L, 1L, false), (2L, 1L, true), (3L, 3L, false),
      (4L, 4L, false), (5L, 5L, false)))
  }

  test("domainCapSample: under-cap kept whole, over-cap expected fraction, deterministic") {
    val docs = (0L until 400L).map(i =>
      (i, if (i < 390) "big.com" else s"tiny-${i % 5}.net")).toDF("doc_id", "domain")
    val out = UrlOps.domainCapSample(docs, "domain", cap = 30).cache()
    try {
      // tiny domains (2 docs each) all kept
      assert(out.where(col("domain") =!= "big.com" && !col("keep")).count() === 0)
      // big.com: n_domain correct; kept count near cap (hash expectation),
      // and strictly fewer than the domain size
      val big = out.where(col("domain") === "big.com")
      assert(big.agg(min("n_domain"), max("n_domain")).collect()(0)
        .toSeq === Seq(390L, 390L))
      val kept = big.where(col("keep")).count()
      assert(kept > 10 && kept < 60, s"expected ~30 kept, got $kept")
      // deterministic: a second run makes identical decisions
      val again = UrlOps.domainCapSample(docs, "domain", cap = 30)
      assert(out.select("doc_id", "keep").except(
        again.select("doc_id", "keep")).count() === 0)
    } finally out.unpersist()
    // mulHashSlot replay: keep == arithmetic replay on the driver
    val mul = UrlOps.domainCapSample(docs, "domain", cap = 30,
        slotOf = UrlOps.mulHashSlot)
      .select("doc_id", "n_domain", "keep").collect()
    mul.foreach { r =>
      val (id, n, keep) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      val slot = ((id % 1048573L) * 2654435761L) % n
      assert(keep === (n <= 30 || slot < 30), s"doc $id")
    }
    intercept[IllegalArgumentException](
      UrlOps.domainCapSample(docs, "domain", cap = 0))
  }

  test("domainCapExact: exactly min(cap, n) kept per domain, incl. ties and null class") {
    // big.com: 40 docs incl. a planted v-collision pair (ids i and
    // i + 1048573 share v = (id mod p)·A — the tie path must break by id);
    // tiny.net: 3 docs (under cap -> all kept); null domain: 30 docs
    val docs = ((0L until 38L).map(i => (i, "big.com")) ++
      Seq((5L + 1048573L, "big.com"), (6L + 1048573L, "big.com")) ++
      (100L until 103L).map(i => (i, "tiny.net")) ++
      (200L until 230L).map(i => (i, null.asInstanceOf[String])) ++
      // 12 docs ALL sharing one v (ids ≡ 7 mod p) — the threshold lands ON
      // the tie value and the id order must pick the 10 smallest ids
      (0L until 12L).map(j => (7L + j * 1048573L, "ties.org")))
      .toDF("doc_id", "domain")
    // both sides of the size gate: every domain in-buffer (default) and
    // every domain through the bisection (0), where ties.org's threshold
    // sits on a shared v and is settled by the id level
    for (gate <- Seq(1L << 20, 0L)) {
      val out = Gate.overriding("Rank.select" -> gate)(
        UrlOps.domainCapExact(docs, "domain", cap = 10)).cache()
      try {
        val kept = out.groupBy("domain").agg(
          sum(when(col("keep"), 1L).otherwise(0L)).as("k"),
          count(lit(1)).as("n")).collect()
          .map(r => Option(r.getString(0)).getOrElse("null") ->
            ((r.getLong(1), r.getLong(2)))).toMap
        assert(kept("big.com") === ((10L, 40L)))   // exactly cap
        assert(kept("tiny.net") === ((3L, 3L)))    // under cap: all
        assert(kept("null") === ((10L, 30L)))      // null class capped too
        assert(kept("ties.org") === ((10L, 12L)))  // all-tied domain: still exact
        // all-tied domain: kept == the 10 smallest ids
        val tieKept = out.where(col("domain") === "ties.org" && col("keep"))
          .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        assert(tieKept === (0L until 10L).map(j => 7L + j * 1048573L))
        // tie correctness: of a colliding (v, v) pair the SMALLER id wins if
        // only one fits — verify the kept set equals the (v, id)-order prefix
        val rows = out.where(col("domain") === "big.com")
          .select("doc_id", "keep").collect()
          .map(r => (r.getLong(0), r.getBoolean(1)))
        val byOrder = rows.map(_._1).sortBy(id => (((id % 1048573L) * 2654435761L) % 4294967296L, id))
        val expectKept = byOrder.take(10).toSet
        rows.foreach { case (id, keep) => assert(keep === expectKept.contains(id), s"id $id") }
        // determinism
        val again = Gate.overriding("Rank.select" -> gate)(
          UrlOps.domainCapExact(docs, "domain", cap = 10))
        assert(out.select("doc_id", "keep").except(
          again.select("doc_id", "keep")).count() === 0)
      } finally out.unpersist()
    }
    intercept[IllegalArgumentException](UrlOps.domainCapExact(docs, "domain", cap = 0))
  }

  test("canonicalize: idempotent over 500 randomized decorated URLs (seeded)") {
    val rnd = new scala.util.Random(42)
    def part(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    val urls = (1 to 500).map { _ =>
      part(Seq("http://", "HTTPS://", "hTtP://", "ftp://", "")) +
        part(Seq("", "www.", "WWW.")) +
        part(Seq("a.com", "X.Y.co.uk", "single", "x-1.org", "a.b.c.d.net")) +
        part(Seq("", ":80", ":443", ":8080")) +
        part(Seq("", "/", "/A/b", "/a//", "/p/q/")) +
        part(Seq("", "?", "?a=1", "?b=2&a=1", "?utm_source=x",
          "?utm_source=x&Z=9&a", "?&&a=1")) +
        part(Seq("", "#f", "#a#b"))
    }
    val df = urls.map(Tuple1(_)).toDF("u")
      .select(col("u"), UrlOps.canonicalizeUrl(col("u")).as("c"))
      .select(col("u"), col("c"), UrlOps.canonicalizeUrl(col("c")).as("cc"))
      .cache()
    try {
      assert(df.where(!(col("c") <=> col("cc"))).count() === 0)
      // null exactly when no scheme:// prefix
      assert(df.where(col("c").isNull && col("u").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"))
        .count() === 0)
      assert(df.where(col("c").isNotNull &&
        !col("u").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://")).count() === 0)
      // canonical output never carries fragments, utm params, or default ports
      assert(df.where(col("c").contains("#") || col("c").contains("utm_") ||
        col("c").rlike("^http://[^/?]*:80(/|\\?|$)") ||
        col("c").rlike("^https://[^/?]*:443(/|\\?|$)")).count() === 0)
    } finally df.unpersist()
  }

  test("domainCapExact: exactness holds over randomized sparse ids and caps (seeded)") {
    val rnd = new scala.util.Random(7)
    val docs = (1 to 300).map(_ =>
      (math.abs(rnd.nextLong()) % 100000000L, s"d${rnd.nextInt(5)}.com"))
      .distinct.toDF("doc_id", "domain")
    for (cap <- Seq(1, 7); gate <- Seq(1L << 20, 0L)) {
      val bad = Gate.overriding("Rank.select" -> gate)(
        UrlOps.domainCapExact(docs, "domain", cap = cap))
        .groupBy("domain").agg(
          sum(when(col("keep"), 1L).otherwise(0L)).as("k"),
          count(lit(1)).as("n"))
        .where(col("k") =!= least(lit(cap.toLong), col("n")))
      assert(bad.count() === 0, s"cap=$cap Rank.select threshold=$gate")
    }
  }

  test("plan shape: canonicalize+domain is a zero-exchange scan-stage projection") {
    val plan = Seq(Tuple1("https://a.io/p")).toDF("u")
      .select(UrlOps.canonicalizeUrl(col("u")).as("c"))
      .withColumn("d", UrlOps.registeredDomain(col("c")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
