package graft

import graft.ops.{Dedup, Similarity, TextStats}
import graft.plans.Gate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  /** documents ∪ near-duplicate copies (one word appended) ∪ exact copies —
    * deterministic planted dups for the dedup suite.
    */
  private lazy val planted = {
    val base = docs.select($"doc_id", $"text")
    val nearDups = base.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" extra")).as("text"))
    val exactDups = base.where($"doc_id" % 25 === 0)
      .select(($"doc_id" + 200000).as("doc_id"), $"text")
    base.union(nearDups).union(exactDups).cache()
  }

  test("exact dedup finds planted exact duplicates, nothing else") {
    val dups = Dedup.exact(planted).where($"is_dup").collect()
    val expected = docs.where($"doc_id" % 25 === 0).count()
    assert(dups.length == expected)
    dups.foreach { r =>
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("keeper_id") + 200000)
    }
  }

  test("minhash LSH finds planted near-duplicates with high jaccard") {
    val nearDups = Dedup.minhashNearDups(planted, threshold = 0.5)
    val pairs = nearDups.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      .toSet
    nearDups.unpersist()
    val wanted = docs.where($"doc_id" % 10 === 0)
      .select($"doc_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    val found = wanted.intersect(pairs)
    assert(found.size >= (wanted.size * 0.9).toInt,
      s"recall too low: ${found.size}/${wanted.size}")
  }

  test("single-pass MinHashSigExpr is bit-identical to the HOF formulation") {
    // the HOF reference formulation the expression replaces: H interpreted
    // array passes, each re-hashing every shingle with xxhash64(s, h)
    val hofSig = {
      val sh = Dedup.shingles($"text")
      array((0 until 64).map { h =>
        array_min(transform(sh, s => xxhash64(s, lit(h))))
      }: _*)
    }
    val rows = planted.limit(200)
      .union(Seq((999901L, ""), (999902L, "  one  "), (999903L, "a b"),
        (999904L, "多语言 文本 带 空格 和\ttabs")).toDF("doc_id", "text"))
      .select(Dedup.minhashSignature($"text").as("fast"), hofSig.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"signature mismatch: ${r.getSeq[Long](0).take(4)} vs ${r.getSeq[Long](1).take(4)}")
    }
  }

  test("simhash near-dups: identical docs have distance 0; near-dups small") {
    val pairs = Dedup.simhashNearDups(planted, maxDist = 3).collect()
    val exactPairs = pairs.filter(r => r.getAs[Long]("b") - r.getAs[Long]("a") == 200000)
    assert(exactPairs.nonEmpty)
    exactPairs.foreach(r => assert(r.getAs[Int]("hamming") == 0))
  }

  test("compact ShinglesExpr is bit-identical to the HOF formulation") {
    // the HOF form ShinglesExpr replaced — kept here as the reference
    def hofShingles(textCol: org.apache.spark.sql.Column, k: Int) = {
      val toks = split(trim(lower(textCol)), "\\s+")
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    }
    // corpus rows + adversarial edges: empty, spaces-only, leading tab
    // (trim strips SPACES only -> leading "" token), vertical tab, CJK,
    // supplementary plane, fewer-than-k tokens, mixed case
    val edge = Seq(
      (9000001L, ""), (9000002L, "   "), (9000003L, "\tLead tab here x"),
      (9000004L, "one"), (9000005L, "two words"),
      (9000006L, "UPPER Case MiXeD tokens here"),
      (9000007L, "ab c d e"), (9000008L, "中文 分词 测试 一下 吧"),
      (9000009L, "𠀀 x 𠀁 y z"),
      (9000010L, "trail spaces   "), (9000011L, " x  y   z "))
      .toDF("doc_id", "text")
    val both = docs.select($"doc_id", $"text").union(edge)
    Seq(1, 2, 3, 5).foreach { k =>
      val diff = both.select(
          graft.functions.gf.shingles($"text", k).as("a"),
          hofShingles($"text", k).as("b"))
        .where(not($"a" <=> $"b"))
      assert(diff.count() == 0, s"k=$k: ${diff.take(3).mkString("; ")}")
    }
  }

  test("ngram jaccard counts are exact for a known pair") {
    val two = Seq((1L, "a b c d e"), (2L, "a b c d x")).toDF("doc_id", "text")
    val r = Dedup.ngramJaccardCountsExact(two).collect()
    // shingles(k=3): {abc,bcd,cde} vs {abc,bcd,cdx} → inter 2, sizes 3,3
    assert(r.length == 1)
    assert(r.head.getAs[Long]("inter") == 2
      && r.head.getAs[Int]("ua") == 3 && r.head.getAs[Int]("ub") == 3)
  }

  test("ngram jaccard maxDocFreq guard drops hot shingles, keeps rare signal") {
    // "a b c" occurs in ALL 4 docs (the quadratic hot key); "x y z" in 2
    val docs4 = Seq(
      (1L, "a b c x y z"), (2L, "a b c x y z"),
      (3L, "a b c q r s"), (4L, "a b c t u v")).toDF("doc_id", "text")
    val guarded = Dedup.ngramJaccardCounts(docs4, maxDocFreq = 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("inter"))).toSet
    // hot shingle "a b c" (df=4 > 3) is pruned: only the rare-shingle pair
    // survives, with inter counting its 4 shared non-hot shingles
    assert(guarded.map(t => (t._1, t._2)) == Set((1L, 2L)), guarded)
    assert(guarded.head._3 == 3, guarded) // "b c x","c x y","x y z"
    // exact mode still sees all 6 pairs through the shared hot shingle
    val exact = Dedup.ngramJaccardCountsExact(docs4).collect()
    assert(exact.length == 6)
  }

  test("ngram jaccard at-scale entry point refuses to run without the hot-shingle guard") {
    val docs4 = Seq((1L, "a b c x"), (2L, "a b c y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardCounts(docs4, maxDocFreq = 0)
    }
    // the guarded call with a positive cap plans fine
    assert(Dedup.ngramJaccardCounts(docs4, maxDocFreq = 5).columns.contains("inter"))
  }

  test("quality keepers: highest score wins, ties break to min id, filter composes") {
    val comps = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 7L -> 7L, 8L -> 8L)
      .toDF("doc_id", "component")
    val qual = Seq(1L -> 0.5, 2L -> 0.75, 3L -> 0.75, 7L -> 0.25, 8L -> 1.0)
      .toDF("doc_id", "quality_score")
    val got = Dedup.qualityKeepers(comps, qual)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_dup")))).toMap
    // component 10: 2 and 3 tie at 0.75 -> min id 2 keeps; isolated docs
    // keep themselves regardless of score
    assert(got == Map(
      1L -> ((2L, true)), 2L -> ((2L, false)), 3L -> ((2L, true)),
      7L -> ((7L, false)), 8L -> ((8L, false))), got)
    // the pipeline composition: survivors = the per-component best docs
    val kept = Dedup.qualityKeepers(comps, qual)
      .where(!$"is_dup").select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 7L, 8L))
  }

  test("connectedComponentsAlternating fails loudly when maxIter is too small") {
    // the 200-node chain needs more than 2 contraction rounds + 1
    // confirming round: a truncated labeling must not come back
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 200L).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsAlternating(chain, nodes, maxIter = 2)
    }
    assert(e.getMessage.contains("maxIter"), e.getMessage)
  }

  test("connectedComponents small-graph driver path equals the distributed loop") {
    // graphs under the gate's threshold union-find on the driver; the labeling
    // must be IDENTICAL to the distributed large-star/small-star fixpoint —
    // chain, star, two components, isolated nodes, out-of-order edges
    val edges = Seq((5L, 6L), (2L, 1L), (3L, 2L), (9L, 8L), (4L, 3L))
      .toDF("a", "b")
    val nodes = (1L to 10L).toDF("doc_id")
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val driver = labelMap(Dedup.connectedComponents(edges, nodes))
    val dist = labelMap(Gate.overriding("connectedComponents" -> 0L)(
      Dedup.connectedComponents(edges, nodes)))
    assert(driver == dist, s"driver=$driver dist=$dist")
    assert(driver == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L,
      6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 10L), driver)
  }

  test("connectedComponents over Int and String ids (alternating fallback)") {
    // only Long ids take the driver union-find; any other id type goes to
    // connectedComponentsAlternating — labels are the min reachable id in
    // the type's own order
    val ints = Seq((2, 1), (3, 2), (9, 8)).toDF("a", "b")
    val intNodes = (1 to 10).toDF("doc_id")
    val gotInt = Dedup.connectedComponents(ints, intNodes).collect()
      .map(r => r.getAs[Int]("doc_id") -> r.getAs[Int]("component")).toMap
    assert(gotInt == Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 4, 5 -> 5, 6 -> 6,
      7 -> 7, 8 -> 8, 9 -> 8, 10 -> 10), gotInt)
    val strs = Seq(("b", "a"), ("c", "b"), ("y", "x"), ("x", "w10"))
      .toDF("a", "b")
    val strNodes = Seq("a", "b", "c", "w10", "x", "y", "z").toDF("doc_id")
    val gotStr = Dedup.connectedComponents(strs, strNodes).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("component")).toMap
    assert(gotStr == Map("a" -> "a", "b" -> "a", "c" -> "a", "w10" -> "w10",
      "x" -> "w10", "y" -> "w10", "z" -> "z"), gotStr)
  }

  test("sequence packing: greedy first-fit in id order, oversize docs isolated") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    // bucket 0 (ids 0,2,4,6,8,10), budget 7: [3,4] pack0, [2,5] pack1,
    // oversize 9 -> pack2 alone, then 1 -> pack3
    val d = Seq(
      0L -> words(3), 2L -> words(4), 4L -> words(2), 6L -> words(5),
      8L -> words(9), 10L -> words(1),
      // bucket 1 (ids 1,3): [5,1] fit one pack
      1L -> words(5), 3L -> words(1)).toDF("doc_id", "text")
    val got = TextStats.packSequences(d, maxTokens = 7, buckets = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("bucket"), r.getAs[Int]("pack"))).toMap
    assert(got == Map(
      0L -> (0, 0), 2L -> (0, 0), 4L -> (0, 1), 6L -> (0, 1),
      8L -> (0, 2), 10L -> (0, 3),
      1L -> (1, 0), 3L -> (1, 0)), got)
    // every pack except oversize ones respects the budget
    val packTotals = TextStats.packSequences(d, maxTokens = 7, buckets = 2)
      .groupBy("bucket", "pack").sum("n_tokens")
      .collect().map(_.getLong(2))
    assert(packTotals.count(_ > 7) == 1) // only the oversize doc's pack
  }

  test("sequence packing composes with REAL BPE token costs; null ids fail fast") {
    // token-budget packing with the model tokenizer's counts — the actual
    // pretraining budget (whitespace proxies under-count CJK/code); costs
    // verified against serial BpeTokenizer.count, fold replayed in Scala
    val vocabPath = "/root/reference/models/gpt2/onnx/vocab.json"
    val mergesPath = "/root/reference/models/gpt2/onnx/merges.txt"
    if (!new java.io.File(vocabPath).isFile) cancel("gpt2 vocab/merges not present")
    val tok = graft.ops.BpeTokenizer.load(vocabPath, mergesPath)
    val texts = Seq(
      0L -> "Hello world, this is a test.",
      1L -> "短い日本語テキストはBPEだと高コスト",
      2L -> "def f(x): return x * 2  # code-ish",
      3L -> "a",
      4L -> ("long prose " * 30).trim,
      5L -> "mixed 中文 and english tokens here")
    val d = texts.toDF("doc_id", "text")
    val withCost = graft.ops.BpeTokenizer.countTokens(spark, d, tok)
    val packed = TextStats.packSequencesByCost(withCost, $"n_bpe_tokens",
      maxTokens = 40, buckets = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Int]("bucket"), r.getAs[Int]("pack")))
      .toMap
    // costs match the serial tokenizer
    texts.foreach { case (id, t) =>
      assert(packed(id)._1 == tok.count(t), s"doc $id cost")
    }
    // replay the greedy first-fit fold serially per bucket
    texts.groupBy(_._1 % 2).foreach { case (b, ds) =>
      var acc = 0L; var pack = 0; var first = true
      ds.sortBy(_._1).foreach { case (id, t) =>
        val n = tok.count(t)
        if (first) { acc = n; first = false }
        else if (acc + n > 40) { pack += 1; acc = n }
        else acc += n
        assert(packed(id) == ((n, b.toInt, pack)), s"doc $id")
      }
    }
    // null id fails fast with the contract message, not an encoder NPE
    val bad = Seq((java.lang.Long.valueOf(7L), "x"), (null.asInstanceOf[java.lang.Long], "y"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextStats.packSequences(bad, maxTokens = 10, buckets = 2)
        .write.format("noop").mode("overwrite").save()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("packSequences")), messages(e).mkString(" | "))
  }

  test("windowed exact substring dedup: shared runs found and merged to maximal spans") {
    val shared = "the quick brown fox jumps over the lazy dog again and again" // 12 tokens
    val d = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"$shared delta epsilon zeta"),
      (3L, "unrelated words entirely different content here nothing shared with others at all"))
      .toDF("doc_id", "text")
    val windows = Dedup.duplicatedWindowSpans(d, k = 8)
    val spans = windows
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("tok_start"), r.getAs[Int]("tok_end"))).toSet
    // doc1 carries the shared run at tokens [2, 14) -> window starts 2..6;
    // doc2 at [0, 12) -> starts 0..4; doc3 shares nothing
    assert(spans == ((2 to 6).map(i => (1L, i, i + 8)) ++
      (0 to 4).map(i => (2L, i, i + 8))).toSet, spans)
    val merged = Dedup.mergeTokenSpans(windows)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("tok_start"), r.getAs[Int]("tok_end"))).toSet
    assert(merged == Set((1L, 2, 14), (2L, 0, 12)), merged)
    // char spans line up with the token content
    val row = Dedup.mergeTokenSpans(windows)
      .where($"doc_id" === 1L).select("start", "end").first()
    windows.unpersist()
    val doc1 = s"alpha beta $shared gamma"
    assert(doc1.substring(row.getInt(0), row.getInt(1)) == shared)
    // a window repeated twice WITHIN one doc is not cross-doc duplication
    val selfRep = Seq(
      (1L, "a b c d e f g h a b c d e f g h"),
      (2L, "totally distinct tokens only here nothing else matches anything"))
      .toDF("doc_id", "text")
    val selfWindows = Dedup.duplicatedWindowSpans(selfRep, k = 8)
    assert(selfWindows.count() == 0)
    selfWindows.unpersist()
  }

  test("window-merge boundary proof: merged spans == true maximal duplicated runs for runs >= k") {
    // The Lee et al. suffix-array equivalence on the windowed regime: for
    // every cross-doc duplicated token run of length L >= k, the merged
    // k-window spans recover EXACTLY the run's token interval (union of
    // intervals when shared runs overlap); runs of L < k are invisible by
    // design. Cases are adversarial off-by-one boundaries; fillers are
    // globally unique tokens so nothing else duplicates.
    val k = 8
    def run(caseId: String, n: Int) = (0 until n).map(i => s"r${caseId}_$i")
    def fill(caseId: String, doc: Int, n: Int) =
      (0 until n).map(i => s"u${caseId}_${doc}_$i")
    def spansOf(docs: Seq[(Long, Seq[String])]): Set[(Long, Int, Int)] = {
      val df = docs.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val windows = Dedup.duplicatedWindowSpans(df, k = k)
      try Dedup.mergeTokenSpans(windows)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Int]("tok_start"), r.getAs[Int]("tok_end"))).toSet
      finally windows.unpersist()
    }

    // L = k-1: below the window size, invisible
    assert(spansOf(Seq(
      1L -> (fill("a", 1, 3) ++ run("a", k - 1) ++ fill("a", 1, 3) :+ "za1"),
      2L -> (fill("a", 2, 2) ++ run("a", k - 1) ++ fill("a", 2, 4)))) == Set.empty)

    // L = k exactly, mid-doc both sides
    assert(spansOf(Seq(
      1L -> (fill("b", 1, 3) ++ run("b", k) ++ fill("b", 1, 2)),
      2L -> (fill("b", 2, 5) ++ run("b", k) ++ fill("b", 2, 1)))) ==
      Set((1L, 3, 3 + k), (2L, 5, 5 + k)))

    // L = k at doc START and at doc END (the off-by-one classics)
    assert(spansOf(Seq(
      1L -> (run("c", k) ++ fill("c", 1, 4)),
      2L -> (fill("c", 2, 6) ++ run("c", k)))) ==
      Set((1L, 0, k), (2L, 6, 6 + k)))

    // whole doc IS the run (L = k+2); partner embeds it mid-doc
    assert(spansOf(Seq(
      1L -> run("d", k + 2),
      2L -> (fill("d", 2, 3) ++ run("d", k + 2) ++ fill("d", 2, 3)))) ==
      Set((1L, 0, k + 2), (2L, 3, 3 + k + 2)))

    // two runs separated by ONE unique token: two islands, no bridge (any
    // window crossing the separator contains a token unique to doc 1)
    assert(spansOf(Seq(
      1L -> (run("e1", k) ++ fill("e", 1, 1) ++ run("e2", k)),
      2L -> (fill("e", 2, 2) ++ run("e1", k) ++ fill("e", 2, 2)),
      3L -> (fill("e", 3, 2) ++ run("e2", k) ++ fill("e", 3, 2)))) ==
      Set((1L, 0, k), (1L, k + 1, 2 * k + 1),
        (2L, 2, 2 + k), (3L, 2, 2 + k)))

    // OVERLAPPING shares with different partners: doc 1's [0,12) covered by
    // B sharing [0,8) and C sharing [4,12) -> islands merge to the union
    val a = run("f", 12)
    assert(spansOf(Seq(
      1L -> a,
      2L -> (a.take(8) ++ fill("f", 2, 3)),
      3L -> (fill("f", 3, 3) ++ a.drop(4)))) ==
      Set((1L, 0, 12), (2L, 0, 8), (3L, 3, 11)))

    // seeded random battery: one shared run per iteration, arbitrary
    // offsets/lengths, expected spans computed analytically
    val rng = new scala.util.Random(23)
    (1 to 8).foreach { it =>
      val l = k + rng.nextInt(10)
      val p1 = rng.nextInt(5); val s1 = rng.nextInt(5)
      val p2 = rng.nextInt(5); val s2 = rng.nextInt(5)
      val got = spansOf(Seq(
        1L -> (fill(s"g$it", 1, p1) ++ run(s"g$it", l) ++ fill(s"g$it", 1, s1)),
        2L -> (fill(s"g$it", 2, p2) ++ run(s"g$it", l) ++ fill(s"g$it", 2, s2))))
      assert(got == Set((1L, p1, p1 + l), (2L, p2, p2 + l)),
        s"iter $it l=$l p1=$p1 p2=$p2: $got")
    }
  }

  test("single-pass TokenWindowsExpr is bit-identical to the per-window HOF formulation") {
    // the HOF reference formulation the expression replaces: per window a
    // slice + array_join + sha2 through interpreted lambda evaluation
    val k = 8
    val toks = graft.functions.gf.tokensWithOffsets($"text")
    val hof = when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k), i => struct(
        i.as("tok_start"),
        (i + k).as("tok_end"),
        element_at(toks, i + 1).getField("start").as("start"),
        element_at(toks, i + k).getField("end").as("end"),
        sha2(array_join(
          transform(slice(toks, i + 1, lit(k)), t => t.getField("token")),
          " "), 256).as("w"))))
      .otherwise(array().cast("array<struct<tok_start:int,tok_end:int,start:int,end:int,w:string>>"))
    val rows = planted.limit(150)
      .union(Seq((999901L, ""), (999902L, "  short  "),
        (999903L, "exactly eight tokens here to hit the boundary"),
        (999904L, "多语言 文本 one two three four five six seven")).toDF("doc_id", "text"))
      .select(graft.functions.gf.tokenWindows($"text", k).as("fast"), hof.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        s"window mismatch: ${r.getSeq[Any](0).take(2)} vs ${r.getSeq[Any](1).take(2)}")
    }
    // invalid k fails at construction with a readable message, not as an
    // ArrayIndexOutOfBounds inside an executor
    intercept[IllegalArgumentException](graft.functions.gf.tokenWindows($"text", 0))
  }

  test("decontamination: corpus spans overlapping the benchmark set are flagged") {
    val leaked = "question four what is the capital of France answer Paris" // 10 tokens
    val corpus = Seq(
      (1L, s"some training document that contains $leaked verbatim inside"),
      (2L, "completely original writing with no benchmark overlap at all in it"))
      .toDF("doc_id", "text")
    val benchmark = Seq((900L, leaked)).toDF("doc_id", "text")
    val merged = Dedup.mergeTokenSpans(
        Dedup.contaminatedSpans(corpus, benchmark, k = 8))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("tok_start"), r.getAs[Int]("tok_end"))).toSet
    // doc1: leaked run occupies tokens [5, 15) -> one merged island; doc2 clean
    assert(merged == Set((1L, 5, 15)), merged)
    // char span slices back to the leaked text
    val row = Dedup.mergeTokenSpans(Dedup.contaminatedSpans(corpus, benchmark, k = 8))
      .select("start", "end").first()
    val doc1 = s"some training document that contains $leaked verbatim inside"
    assert(doc1.substring(row.getInt(0), row.getInt(1)) == leaked)
  }

  test("bloom decontamination == exact decontamination, even at pathological fpp") {
    // output-identity contract: blooms have no false negatives and the
    // exact semi-join verify kills false positives, so the two operators
    // must agree row-for-row — including when the filter is deliberately
    // undersized (expectedRefWindows=1 → saturated bloom, ~every window a
    // candidate) so the verify path provably does the killing
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val corpus = docs.where($"doc_id" % 5 < 3)
    val benchmark = docs.where($"doc_id" % 7 === 3)
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "tok_start", "tok_end", "start", "end")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getInt(4))).toSet
    val exact = spanSet(Dedup.contaminatedSpans(corpus, benchmark, k = 8))
    assert(exact.nonEmpty, "fixture must produce contaminated spans")
    val bloom = Dedup.contaminatedSpansBloom(corpus, benchmark, k = 8,
      expectedRefWindows = 100000L, fpp = 0.01)
    assert(spanSet(bloom) == exact)
    bloom.unpersist()
    val saturated = Dedup.contaminatedSpansBloom(corpus, benchmark, k = 8,
      expectedRefWindows = 1L, fpp = 0.5)
    assert(spanSet(saturated) == exact)
    saturated.unpersist()
    intercept[IllegalArgumentException](
      Dedup.contaminatedSpansBloom(corpus, benchmark, fpp = 1.5))
  }

  test("alternating CC: 200-node chain collapses in O(log n) rounds") {
    // diameter 199: min-label propagation would need 199 rounds; the
    // large-star/small-star path converges fast
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 200L).toDF("doc_id")
    val got = Dedup.connectedComponentsAlternating(chain, nodes, maxIter = 15)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component")))
    assert(got.length == 200)
    assert(got.forall(_._2 == 1L), got.filter(_._2 != 1L).take(5).toSeq)
  }

  test("alternating CC agrees with min-label propagation on a random graph") {
    val rng = new scala.util.Random(42)
    val n = 300L
    val edges = (1 to 220).map(_ =>
      (rng.nextInt(n.toInt).toLong + 1, rng.nextInt(n.toInt).toLong + 1))
      .filter(p => p._1 != p._2)
      .toDF("a", "b")
    val nodes = (1L to n).toDF("doc_id")
    val alt = Dedup.connectedComponentsAlternating(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ml = Dedup.connectedComponents(edges, nodes) // min-label fixpoint by union-find
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt == ml)
    // isolated nodes keep their own id
    val isolated = (1L to n).filterNot(
      edges.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet)
    isolated.foreach(i => assert(alt(i) == i))
  }

  /** Ids of the RDDs the session holds persisted. */
  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("dedup/ANN library calls honor the documented eager-materialization contract") {
    // documented: the returned frame is persisted + already materialized,
    // every intermediate cache is released before returning, and the
    // caller owns the result's unpersist. The inputs are plans no other
    // test caches (a cached identical result would be shared, not
    // created), read after the fixtures' own caches are filled.
    planted.count()
    val docsIn = planted.where($"doc_id" >= 0)
    val embRaw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embRaw.count()
    val emb = embRaw.where($"vec_id" >= 0)
    val centroids = graft.ops.Ivf.train(emb, k = 4, iters = 1).map(_.toSeq).toSeq
    val turns = Seq(("a", 0, "hi"), ("a", 1, "bye"), ("b", 0, "hi"), ("b", 1, "bye"),
      ("c", 0, "other")).toDF("conv_id", "turn_idx", "text")
    def owned(name: String)(call: => org.apache.spark.sql.DataFrame): Unit = {
      val before = persistedRdds
      val out = call
      assert(out.storageLevel.useMemory || out.storageLevel.useDisk,
        s"$name result must come back persisted per its contract")
      val held = persistedRdds -- before
      assert(held.size == 1, s"$name: persisted RDDs besides its result: $held")
      out.unpersist()
      assert((persistedRdds -- before).isEmpty, s"$name: $held still persisted after unpersist")
    }
    owned("minhashNearDups")(Dedup.minhashNearDups(docsIn, threshold = 0.5))
    owned("simhashExactDups")(Dedup.simhashExactDups(docsIn))
    owned("conversationDupPairs")(Dedup.conversationDupPairs(turns))
    owned("lshTopK")(Similarity.lshTopK(emb, k = 3, bits = 4, tables = 4))
    owned("cosineNearDups")(Similarity.cosineNearDups(emb, threshold = 0.5, bits = 4, tables = 4))
    owned("semanticNearDups")(Similarity.semanticNearDups(emb, centroids, threshold = 0.5))
    owned("semanticNearDups (sub-split)")(
      Gate.overriding("semanticNearDups.subsplit" -> 10L)(
        Similarity.semanticNearDups(emb, centroids, threshold = 0.5)))
    owned("duplicatedWindowSpans")(Dedup.duplicatedWindowSpans(docsIn, k = 8))
  }

  test("pair kernel actions carry op: step job labels; caller label restored") {
    val sc = spark.sparkContext
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      Dedup.minhashNearDups(planted, threshold = 0.5).unpersist()
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Similarity.lshTopK(emb, k = 3, bits = 4, tables = 4).unpersist()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      val want = Set("minhashNearDups: hot-key guard", "minhashNearDups: candidate count",
        "minhashNearDups: per-id attribute count", "minhashNearDups: result count",
        "lshTopK: result count")
      // the listener bus is asynchronous
      var waited = 0
      while (!want.forall(seen.contains) && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(want.forall(seen.contains), s"seen: $seen")
      // unguarded: no guard pass, candidates stay lazy
      assert(!seen.contains("lshTopK: hot-key guard") && !seen.contains("lshTopK: candidate count"),
        s"seen: $seen")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("hyperplane components are Gaussian (moments), deterministic by seed") {
    val planes = Similarity.hyperplanes(64, 32)
    val flat = planes.flatten
    assert(flat.length == 64 * 32)
    val mean = flat.sum / flat.length
    val variance = flat.map(x => (x - mean) * (x - mean)).sum / flat.length
    val kurtosis = flat.map(x => math.pow((x - mean), 4)).sum / flat.length /
      (variance * variance)
    assert(math.abs(mean) < 0.05, s"mean $mean")
    assert(math.abs(variance - 1.0) < 0.1, s"variance $variance")
    // uniform-in-cube has kurtosis 1.8; Gaussian has 3.0 — this pins the fix
    assert(math.abs(kurtosis - 3.0) < 0.4, s"kurtosis $kurtosis")
    assert(Similarity.hyperplanes(64, 32) == planes, "seeded determinism")
  }

  test("LSH ANN recall vs brute force >= 0.7 (multi-table)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val queries = emb.where($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, k = 5, bits = 4, tables = 16)
    val approx = lsh.where($"q_id" < 20)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    lsh.unpersist()
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.7, s"ANN recall $recall")
  }

  test("LSH general-regime recall gate: auto-bits (nHint) config floors at 0.8") {
    // the bench's lsh_recall block measured as a GATE (VERDICT r6 #4): the
    // same auto-bit-width configuration knn_lsh ships (bits derived from
    // the corpus-size hint, default tables), deterministic seeded
    // hyperplanes ⇒ the recall is a fixture constant; the floor fails a
    // test on a bucketing regression instead of only drifting a bench read
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val n = emb.count()
    val queries = emb.where($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, k = 5, nHint = n)
    val approx = lsh.where($"q_id" < 20)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    lsh.unpersist()
    val recall = brute.intersect(approx).size.toDouble / brute.size
    assert(recall >= 0.8, s"general-regime ANN recall $recall below floor")
  }

  test("single-pass LshBucketsExpr is bit-identical to the per-plane HOF buckets") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val bits = 6
    val tables = 16
    val planes = Similarity.hyperplanes(64, bits * tables)
    val hof = array((0 until tables).map { t =>
      Similarity.lshBucket($"vec", planes.slice(t * bits, (t + 1) * bits))
    }: _*)
    val rows = emb.limit(300)
      .select(graft.functions.gf.lshBuckets($"vec", planes, bits).as("fast"), hof.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"${r.getSeq[Long](0)} vs ${r.getSeq[Long](1)}")
    }
  }

  test("LSH de-capped: planted duplicate vectors found at bits=20 (> old 16-bit cap)") {
    // identical vectors collide in EVERY table whatever the bit width, so
    // this pins (a) bits > 16 works at all and (b) recall on planted dups
    // survives the de-cap. No count job runs: bits is passed explicitly.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val copies = emb.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val planted = emb.union(copies)
    val found = Similarity.cosineNearDups(planted, threshold = 0.999,
        bits = 20, tables = 4)
    val pairs = found.select($"a", $"b").as[(Long, Long)].collect().toSet
    found.unpersist()
    val wanted = emb.where($"vec_id" % 10 === 0)
      .select($"vec_id").as[Long].collect()
      .map(id => (id, id + 100000)).toSet
    assert(wanted.subsetOf(pairs), s"missing: ${wanted.diff(pairs).take(5)}")
  }

  test("semantic near-dups (SemDeDup clusters): result equals exact brute force on planted corpus") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val copies = emb.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding")
    val plantedVecs = emb.select($"vec_id", $"embedding").union(copies)
    val centroids = graft.ops.Ivf.train(emb, k = 16, iters = 2)
    val sem = Similarity.semanticNearDups(plantedVecs, centroids.map(_.toSeq).toSeq,
      threshold = 0.9)
    val got = sem.select($"a", $"b").as[(Long, Long)].collect().toSet
    sem.unpersist()
    // exact brute force over the same planted corpus at the same threshold
    val exact = plantedVecs.select($"vec_id".as("id"),
        $"embedding".cast("array<double>").as("v"))
    val want = exact.as("l").join(exact.as("r"), $"l.id" < $"r.id")
      .select($"l.id".as("a"), $"r.id".as("b"),
        Similarity.cosine($"l.v", $"r.v").as("sim"))
      .where($"sim" >= 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == want, s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
    assert(got.nonEmpty)
  }

  test("SemDeDup hot-cluster sub-split: bounded candidate work, pairs unchanged vs brute force") {
    // pathological skew: ~90% of the corpus lands in ONE k-means cluster.
    // Vectors spread around direction d with enough angular noise that
    // natural cosines stay below the 0.9 threshold (guarded below), plus
    // planted exact twins — the only true pairs.
    val dim = 32
    val rng = new scala.util.Random(99)
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def noisy(axis: Int) = normalize(Array.tabulate(dim)(j =>
      (if (j == axis) 1.0 else 0.0) + 0.8 * rng.nextGaussian()))
    val hot = (0 until 180).map(i => (i.toLong, noisy(0).toSeq))
    val cold = (200 until 220).map(i => (i.toLong, noisy(1).toSeq))
    val twins = (0 until 5).map(i => ((1000 + i * 13).toLong, hot(i * 13)._2))
    val all = hot ++ cold ++ twins
    // construction guard: max natural cosine strictly below threshold
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val naturalMax = (hot ++ cold).combinations(2)
      .map { case Seq(x, y) => cos(x._2, y._2) }.max
    assert(naturalMax < 0.9, s"construction: natural max cosine $naturalMax")

    val df = all.toDF("vec_id", "embedding")
    val centroids = Seq(
      Seq.tabulate(dim)(j => if (j == 0) 1.0 else 0.0),
      Seq.tabulate(dim)(j => if (j == 1) 1.0 else 0.0))
    val cap = 50
    val got = Gate.overriding("semanticNearDups.subsplit" -> cap.toLong)(
      Similarity.semanticNearDups(df, centroids, threshold = 0.9))
    val pairs = got.select($"a", $"b").as[(Long, Long)].collect().toSet
    got.unpersist() // eager-materialization contract
    val want = twins.map { case (tid, _) => ((tid - 1000) / 13 * 13L, tid) }.toSet
    assert(pairs == want, s"missing=${want.diff(pairs)} extra=${pairs.diff(want)}")

    // bounded work: replicate the operator's internal banding (same seed 7,
    // subTables 8, bits from the hot size) and check occupancy actually
    // splits the 185-vector hot cluster — Σ occupancy² per table well below
    // the unsplit size²
    val hotSize = 185 // 180 + 5 twins
    val bits = math.max(1, math.ceil(math.log(hotSize.toDouble / cap) / math.log(2.0)).toInt)
    val planes = Similarity.hyperplanes(dim, bits * 8, 7L)
    val occ = df.where($"vec_id" < 200 || $"vec_id" >= 1000)
      .select(posexplode(graft.functions.gf.lshBuckets(
        $"embedding".cast("array<double>"), planes, bits)).as(Seq("table", "bucket")))
      .groupBy("table", "bucket").count()
      .select($"table", $"count").as[(Int, Long)].collect()
    val worstTableWork = occ.groupBy(_._1).values
      .map(_.map(c => c._2 * c._2).sum).max
    assert(worstTableWork < hotSize.toLong * hotSize / 2,
      s"sub-split failed to bound candidate work: $worstTableWork vs ${hotSize * hotSize}")
    occ.foreach { case (_, c) => assert(c < hotSize, "a bucket holds the whole cluster") }
  }

  test("sampled IVF train: identical init, nprobe=k exactness preserved") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    // iters=0 exposes the init: the k hash-smallest of the sample ARE the
    // k hash-smallest of the corpus (same ordering, k <= cap)
    val initFull = graft.ops.Ivf.train(emb, k = 8, iters = 0)
    val initSamp = graft.ops.Ivf.train(emb, k = 8, iters = 0, sampleCap = 64)
    assert(initFull.map(_.toSeq).toSeq == initSamp.map(_.toSeq).toSeq)
    // sampled Lloyd rounds give different (but valid) centroids; nprobe=k
    // stays exact under ANY centroid set
    val cs = graft.ops.Ivf.train(emb, k = 8, iters = 2, sampleCap = 128)
    val queries = emb.where($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 3)
      .select($"q_id", $"rank", $"n_id").as[(Long, Int, Long)].collect().toSet
    val ivf = graft.ops.Ivf.topK(emb, queries, cs, k = 3, nprobe = 8)
      .select($"q_id", $"rank", $"n_id").as[(Long, Int, Long)].collect().toSet
    assert(ivf == brute, s"sampled-train nprobe=k diverged: ${ivf.diff(brute).take(5)}")
    intercept[IllegalArgumentException] {
      graft.ops.Ivf.train(emb, k = 8, iters = 1, sampleCap = 4)
    }
  }

  test("IVF: probing all lists equals exact brute force; planted dups at nprobe=1") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val queries = emb.where($"vec_id" < 20)
    val centroids = graft.ops.Ivf.train(emb, k = 16, iters = 2)
    assert(centroids.length == 16 && centroids.forall(_.length == 64))
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"q_id", $"rank", $"n_id").as[(Long, Int, Long)].collect().toSet
    val full = graft.ops.Ivf.topK(emb, queries, centroids, k = 5, nprobe = 16)
      .select($"q_id", $"rank", $"n_id").as[(Long, Int, Long)].collect().toSet
    assert(full == brute, s"nprobe=k must be exact; diff=${full.diff(brute).take(5)}")
    // partial probing keeps useful recall on this corpus
    val p4 = graft.ops.Ivf.topK(emb, queries, centroids, k = 5, nprobe = 4)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(t => (t._1, t._3))
    val recall = bruteIds.intersect(p4).size.toDouble / bruteIds.size
    assert(recall >= 0.3, s"nprobe=4 recall $recall")
    // identical vectors land in the same list ⇒ found at nprobe=1
    val copies = emb.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + 100000).as("vec_id"), $"embedding", $"label")
    val planted = emb.union(copies)
    val c2 = graft.ops.Ivf.train(planted, k = 16, iters = 2)
    val dupQ = planted.where($"vec_id" >= 100000)
    val top1 = graft.ops.Ivf.topK(planted, dupQ, c2, k = 1, nprobe = 1)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toMap
    dupQ.select($"vec_id").as[Long].collect().foreach { q =>
      assert(top1.get(q).contains(q - 100000), s"dup $q → ${top1.get(q)}")
    }
  }

  test("IVF approximate-regime recall gate: sampled-train centroids, floors at nprobe=2,4") {
    // the bench's ivf_recall block measured as a GATE: same sampled-train
    // configuration (seeded, deterministic ⇒ the recalls are fixture
    // constants), floors asserted so a quantizer regression fails a test
    // rather than only drifting a bench number
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").cache()
    val queries = emb.where($"vec_id" < 20)
    // the bench config: maximin init + 8 Lloyd rounds (IvfTune sweep, r7)
    val centroids = graft.ops.Ivf.train(emb, k = 16, iters = 8,
      sampleCap = 4096, init = "maximin")
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    def recallAt(nprobe: Int): Double = {
      val got = graft.ops.Ivf.topK(emb, queries, centroids, k = 5, nprobe = nprobe)
        .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
      brute.intersect(got).size.toDouble / brute.size
    }
    val r2 = recallAt(2)
    val r4 = recallAt(4)
    assert(r2 >= 0.25, s"nprobe=2 recall $r2 below floor")
    assert(r4 >= 0.50, s"nprobe=4 recall $r4 below floor")
    assert(r4 >= r2, s"recall must not degrade with more probes: $r2 -> $r4")
    // maximin init is deterministic: same sample → same centroids
    val again = graft.ops.Ivf.train(emb, k = 16, iters = 8,
      sampleCap = 4096, init = "maximin")
    assert(centroids.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // contract: maximin without a sample cap is refused (driver-bounded
    // collect discipline)
    val e = intercept[IllegalArgumentException] {
      graft.ops.Ivf.train(emb, k = 4, init = "maximin")
    }
    assert(e.getMessage.contains("sampleCap"), e.getMessage)
  }

  test("brute force topK is deterministic and self-excluding") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where($"vec_id" < 5)
    val r = Similarity.bruteForceTopK(emb, q, k = 3).collect()
    assert(r.length == 15)
    r.foreach(row => assert(row.getAs[Long]("q_id") != row.getAs[Long]("n_id")))
  }

  test("hard negatives: same-label neighbors excluded, similarity-ranked on planted geometry") {
    // q points along x; n1 is nearest but shares q's label (must be
    // excluded); n2 and n3 have the other label with cos(n2) > cos(n3)
    val vecs = Seq(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.99f, 0.1f), 0),  // same label: never a negative
      (2L, Seq(0.9f, 0.3f), 1),
      (3L, Seq(0.5f, 0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, vecs.where($"vec_id" === 0), k = 5)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getAs[Int]("rank"), r.getAs[Long]("n_id"))).toSeq
      == Seq((1, 2L), (2, 3L)))
    assert(out.forall(r => r.getAs[Int]("q_label") != r.getAs[Int]("n_label")))
    // corpus run: every mined negative disagrees on label, per-query k rows
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val hn = Similarity.hardNegatives(emb, emb.where($"vec_id" < 5), k = 3).collect()
    assert(hn.length == 15)
    assert(hn.forall(r => r.getAs[Int]("q_label") != r.getAs[Int]("n_label")))
  }

  test("language id: zh detection on CJK, en on English") {
    val df = Seq(
      (1, "the quick brown fox is in the yard and it is fine"),
      (2, "病歷號碼與電話請勿外流，台北市信義路一段"),
      (3, "el perro está en la casa y es de madrid"),
      (4, "")
    ).toDF("id", "text").withColumn("lang", TextStats.langId($"text"))
    val m = df.select($"id", $"lang").as[(Int, String)].collect().toMap
    assert(m(1) == "en")
    assert(m(2) == "zh")
    assert(m(3) == "es")
    assert(m(4) == "unknown")
  }

  test("quality facets and score behave") {
    val df = Seq(
      (1, "the quick brown fox jumps over the lazy dog near the bank"),
      (2, ";;;;;;;;;;"),
      (3, "")
    ).toDF("id", "text")
    val q = TextStats.qualityScore(df).select($"id", $"quality_score")
      .as[(Int, Double)].collect().toMap
    assert(q(1) == 1.0)
    assert(q(2) < 0.5)
    assert(q(3) <= 0.5)
  }

  test("fingerprint is whitespace-normalization stable") {
    val df = Seq((1, "a  b\tc"), (2, " a b c "), (3, "a b d"))
      .toDF("id", "text")
      .withColumn("fp", TextStats.fingerprint64($"text"))
    val fps = df.select($"id", $"fp").as[(Int, Long)].collect().toMap
    assert(fps(1) == fps(2))
    assert(fps(1) != fps(3))
  }

  test("token counting: whitespace and bpe-ish") {
    val df = Seq((1, "hello, world! 123"), (2, "")).toDF("id", "text")
    val byId = df.select($"id", TextStats.tokenCount($"text"),
      TextStats.bpeishCount($"text")).collect()
      .map(r2 => r2.getInt(0) -> (r2.getInt(1), r2.getInt(2))).toMap
    assert(byId(1)._1 == 3) // hello, world! 123
    assert(byId(1)._2 == 5) // hello , world ! 123
    assert(byId(2)._1 == 0)
  }
  test("connected components: chains collapse to min label, isolated keep own id") {
    import spark.implicits._
    // chain 1-2-3, pair 10-11, isolated 20; plus a 4-node star 30-(31,32,33)
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (30L, 31L), (32L, 30L), (33L, 30L))
      .toDF("a", "b")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 30L, 31L, 32L, 33L).toDF("doc_id")
    val got = graft.ops.Dedup.connectedComponents(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L), got)
  }

  // ---- round 6: linear keeper forms, hot-key guards, conversation dedup ----

  test("multisetKeepers == CC over simhashExactDups pairs (same relation, linear form)") {
    // the keeper form must decide the SAME duplicate relation as the
    // pair-emitting path: classes are cliques, so CC's min-reachable-id
    // over the verified pairs equals the keeper per class
    val pairs = Dedup.simhashExactDups(planted)
    val comps = Dedup.connectedComponents(pairs, planted.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.unpersist()
    val keepers = Dedup.multisetKeepers(planted)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(keepers == comps)
  }

  test("shingleSetKeepers == CC over minhash threshold-1.0 pairs") {
    val pairs = Dedup.minhashNearDups(planted, threshold = 1.0)
    val comps = Dedup.connectedComponents(pairs, planted.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.unpersist()
    val keepers = Dedup.shingleSetKeepers(planted)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(keepers == comps)
  }

  test("gopherSignals: bullet/ellipsis/symbol/alpha paths on crafted docs") {
    // the parquet fixture has single-line symbol-free docs, so these
    // signal paths need a crafted corpus to prove they fire
    val d = Seq(
      (1L, "- first bullet\n- second bullet\nplain line ends here..."),
      (2L, "the #tag count 12 34 … trailing…"),
      (3L, "   "),
      (4L, "wait... what....... #")).toDF("doc_id", "text")
    val got = TextStats.gopherSignals(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val b = got(1L)
    assert(b.getAs[Int]("n_lines") == 3 && b.getAs[Int]("n_bullet_lines") == 2)
    assert(b.getAs[Int]("n_ellipsis_lines") == 1)
    val sym = got(2L)
    assert(sym.getAs[Int]("n_symbols") == 3) // '#', '…', '…'
    // tokens: the #tag count 12 34 … trailing… — alpha: the,#tag,count,trailing…
    assert(sym.getAs[Int]("n_tokens") == 7 && sym.getAs[Int]("n_alpha_tokens") == 4)
    assert(sym.getAs[Int]("n_stopwords") == 1)
    val ws = got(3L)
    assert(ws.getAs[Int]("n_tokens") == 0 && ws.getAs[Double]("mean_word_len") == 0.0)
    // ASCII three-dot ellipses count as symbols (Gopher A1.1, ADVICE r6):
    // "wait..." -> 1, "......." -> 2 (non-overlapping), '#' -> 1
    assert(got(4L).getAs[Int]("n_symbols") == 4)
    // doc 1's trailing "..." now counts as a symbol too
    assert(got(1L).getAs[Int]("n_symbols") == 1)
  }

  test("tfIdfTopTerms: deterministic tie-break and division idf") {
    val d = Seq(
      (1L, "alpha alpha beta shared"),
      (2L, "beta gamma shared"),
      (3L, "gamma delta shared")).toDF("doc_id", "text")
    val got = TextStats.tfIdfTopTerms(d, nDocs = 3L, k = 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank")) ->
        ((r.getAs[String]("term"), r.getAs[Double]("score")))).toMap
    // doc 1: alpha tf=2 df=1 score=6.0 beats beta (1*3/2=1.5) and shared (1*3/3=1)
    assert(got((1L, 1)) == (("alpha", 6.0)))
    assert(got((1L, 2)) == (("beta", 1.5)))
    // doc 3: delta (3.0) first; gamma (1.5) second — shared (1.0) excluded
    assert(got((3L, 1)) == (("delta", 3.0)))
    assert(got((3L, 2)) == (("gamma", 1.5)))
  }

  test("ccnetDedup: digit-collapsed classes, first-occurrence keeper, null singleton") {
    import graft.ops.Sampling
    val units = Seq(
      ("c1", 0, "Order 123 shipped"),
      ("c2", 0, "order 999 SHIPPED"), // same class after lower + digit→0
      ("c1", 1, "order 12 shipped"),  // digit RUN length differs → own class
      ("c2", 1, "Order 123 shipped!!"), // punctuation (GC P) removed → c1/t0's class
      ("c2", 2, " Order 123 shipped "), // edge whitespace stripped → same class
      ("c2", 3, "Order 123 shipped >"), // '>' is category S, survives → own class
      ("c3", 0, null.asInstanceOf[String]),
      ("c4", 0, null.asInstanceOf[String])) // nulls: singletons, NOT one class
      .toDF("conv_id", "turn_idx", "text")
    val got = Dedup.ccnetDedup(units,
        Seq("conv_id" -> $"conv_id", "turn_idx" -> $"turn_idx")).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        ((r.getAs[Long]("n_copies"), r.getAs[Boolean]("is_dup")))).toMap
    assert(got(("c1", 0)) == ((4L, false))) // keeper: "c1" < "c2"
    assert(got(("c2", 0)) == ((4L, true)))
    assert(got(("c2", 1)) == ((4L, true)) && got(("c2", 2)) == ((4L, true)))
    assert(got(("c2", 3)) == ((1L, false))) // symbol chars are NOT punctuation
    assert(got(("c1", 1)) == ((1L, false)))
    assert(got(("c3", 0)) == ((1L, false)) && got(("c4", 0)) == ((1L, false)))

    // sampling: bucket is a pure function of the id, stratum rates resolve,
    // and the kept fraction lands near rate/1000 on a contiguous id range
    val ids = spark.range(0, 2000)
      .select($"id".as("doc_id"),
        when($"id" % 2 === 0, "a").otherwise("b").as("source"))
    val s = Sampling.stratifiedSample(ids, "source", $"doc_id",
      Map("a" -> 800, "b" -> 100), defaultPermille = 0).cache()
    val kept = s.groupBy("source").agg(
      sum(when($"kept", 1).otherwise(0)).as("k"), count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("k").toDouble / r.getAs[Long]("n"))).toMap
    assert(math.abs(kept("a") - 0.8) < 0.05, s"a kept ${kept("a")}")
    assert(math.abs(kept("b") - 0.1) < 0.05, s"b kept ${kept("b")}")
    // deterministic: same ids → identical buckets on re-evaluation
    val b1 = s.select("doc_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b2 = Sampling.stratifiedSample(ids, "source", $"doc_id", Map("a" -> 800), 0)
      .select("doc_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b1 == b2)
    s.unpersist()
  }

  test("unigramFreqScore: corpus-count arithmetic, token-less docs, buckets, sqrt rates") {
    import graft.ops.{Sampling, TextStats}
    val d = Seq((1L, "a A b"), (2L, "a c"), (3L, " "),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // corpus counts after lowering: a=3, b=1, c=1
    val got = TextStats.unigramFreqScore(d).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))
    }.toMap
    assert(got(1L) == ((3L, Some(7L), Some(7.0 / 3.0)))) // 3+3+1
    assert(got(2L) == ((2L, Some(4L), Some(4.0 / 2.0)))) // 3+1
    assert(got(3L) == ((0L, None, None))) // whitespace-only: no tokens
    assert(got(4L) == ((0L, None, None))) // null text survives with nulls

    // bucket decision incl. the null branch
    val b = Seq((1, Some(1.9)), (2, Some(1.81)), (3, Some(1.5)),
      (4, None: Option[Double])).toDF("id", "score")
      .select($"id", TextStats.freqBucket($"score", 1.815, 1.80).as("b"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(b == Map(1 -> "head", 2 -> "middle", 3 -> "tail", 4 -> "tail"))

    // sqrt-temperature rates: SMALLEST stratum whole, larger strata cut to
    // the alpha=0.5 mixture (kept mass 200:100 = sqrt(400):sqrt(100))
    assert(Sampling.sqrtTemperatureRates(Map("en" -> 400L, "unk" -> 100L)) ==
      Map("en" -> 500, "unk" -> 1000))
    // 1000*sqrt(1/3) = 577.35… → 577 (floor, not round) — on the LARGER
    assert(Sampling.sqrtTemperatureRates(Map("a" -> 3L, "b" -> 1L))("a") == 577)
    intercept[IllegalArgumentException] {
      Sampling.sqrtTemperatureRates(Map("a" -> 0L))
    }
  }

  test("scrubTokens: cut ranges drop tokens, overlaps idempotent, full cut → empty") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y z"),
      (3L, " \t "),
      (4L, "p q")).toDF("doc_id", "text")
    val spans = Seq(
      (1L, 1, 3), (1L, 2, 5), // overlapping cuts: tokens 1..4 go
      (2L, 0, 3),             // full cut
      (4L, 1, 1), (4L, 1, 0)) // degenerate/inverted spans cut NOTHING
                              // (sequence() auto-reverses when start>stop;
                              // the span filter keeps them out - ADVICE r6)
      .toDF("doc_id", "tok_start", "tok_end")
    val got = graft.ops.Dedup.scrubTokens(docs, spans).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a f", 2L -> "", 3L -> "", 4L -> "p q"))
  }

  test("contextPairs: bounded frame, role filter, empty-context first turn") {
    import graft.ops.Conversations
    val t = Seq(
      ("c1", 0, "assistant", "a0"), // no preceding → empty context
      ("c1", 1, "user", "u1"),
      ("c1", 2, "user", "u2"),
      ("c1", 3, "user", "u3"),
      ("c1", 4, "user", "u4"),
      ("c1", 5, "assistant", "a5"), // frame bounded: only turns 2,3,4
      ("c2", 0, "user", "x"),
      ("c2", 1, "assistant", "y")) // context never crosses conversations
      .toDF("conv_id", "turn_idx", "role", "text")
    val got = Conversations.contextPairs(t, nContext = 3).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getString(2), r.getString(3)))).toMap
    assert(got(("c1", 0)) == (("", "a0")))
    assert(got(("c1", 5)) == (("user: u2\nuser: u3\nuser: u4", "a5")))
    assert(got(("c2", 1)) == (("user: x", "y")))
    assert(got.size == 3)
  }

  test("resampleCopies: whole copies + fractional remainder, zero-copy drop, upsample rates") {
    import graft.ops.Sampling
    val ids = spark.range(0, 2000)
      .select($"id".as("doc_id"),
        when($"id" % 2 === 0, "big").otherwise("small").as("src"))
    // big 500‰ (0 or 1 copy), small 2500‰ (2 or 3 copies)
    val out = Sampling.resampleCopies(ids, "src", $"doc_id",
      Map("big" -> 500, "small" -> 2500)).cache()
    val perRow = out.groupBy("doc_id").agg(count(lit(1)).as("k"),
        first("src").as("src"), first("n_copies").as("nc"))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(1), r.getLong(3)))
    perRow.foreach { case (_, src, k, nc) =>
      assert(k == nc) // copy_idx fan-out matches the declared count
      if (src == "big") assert(k == 1) else assert(k == 2 || k == 3)
    }
    // zero-copy big rows disappear entirely
    val bigKept = perRow.count(_._2 == "big")
    assert(math.abs(bigKept / 1000.0 - 0.5) < 0.05, s"big kept $bigKept")
    val smallRows = out.where($"src" === "small").count()
    assert(math.abs(smallRows / 1000.0 - 2.5) < 0.15, s"small rows $smallRows")
    // copy_idx is a dense 0..n-1 per id
    val idx = out.where($"doc_id" === perRow.find(_._2 == "small").get._1)
      .select("copy_idx").collect().map(_.getInt(0)).sorted
    assert(idx.head == 0 && idx.last == idx.length - 1)
    out.unpersist()

    assert(Sampling.sqrtUpsampleRates(Map("en" -> 400L, "unk" -> 100L)) ==
      Map("en" -> 1000, "unk" -> 2000))
    // 1000*sqrt(3) = 1732.05… → 1732 (floor)
    assert(Sampling.sqrtUpsampleRates(Map("a" -> 3L, "b" -> 1L))("b") == 1732)
  }

  test("resampleCopies refuses boosts above capPermille (fail-fast, not a 1000-slot array)") {
    import graft.ops.Sampling
    val ids = spark.range(0, 10)
      .select($"id".as("doc_id"), lit("rare").as("src"))
    val e = intercept[IllegalArgumentException] {
      Sampling.resampleCopies(ids, "src", $"doc_id", Map("rare" -> 1000000))
    }
    assert(e.getMessage.contains("capPermille"), e.getMessage)
    // the cap is a parameter, not a wall: an explicit raise goes through
    val out = Sampling.resampleCopies(ids, "src", $"doc_id",
      Map("rare" -> 150000), capPermille = 200000)
    assert(out.where($"doc_id" === 0).count() >= 150L)
    // default-rate path is capped too
    val e2 = intercept[IllegalArgumentException] {
      Sampling.resampleCopies(ids, "src", $"doc_id", Map.empty,
        defaultPermille = 500000)
    }
    assert(e2.getMessage.contains("(default rate)"), e2.getMessage)
  }

  test("avalanche default de-stripes arithmetic id strata; mul variant stays oracle-replayable") {
    import graft.ops.Sampling
    // the ADVICE-r6 bias case verbatim: the 10-id arithmetic stratum
    // 0,4,…,36 maps to buckets 44k (k=0..9) ≤ 396 under the multiplicative
    // hash — EVERY row lands under rate 400, kept fraction 1.0 instead of
    // ~0.4; the avalanche default shows no such stripe capture. Both
    // hashes are deterministic, so these reads are fixture constants.
    val ids = spark.range(0, 10)
      .select(($"id" * 4).as("doc_id"), lit("s").as("source"))
    def keptFrac(bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Double =
      Sampling.stratifiedSample(ids, "source", $"doc_id", Map("s" -> 400),
          bucketOf = bucketOf)
        .where($"kept").count() / 10.0
    val mul = keptFrac(Sampling.mulHashBucket(_))
    val ava = keptFrac(Sampling.avalancheBucket(_))
    assert(mul == 1.0, s"mul kept $mul - fixture no longer demonstrates the stripe capture")
    assert(ava >= 0.1 && ava <= 0.8, s"avalanche kept $ava, want near 0.4")
    // and the mul variant is a pure function (retry-stable) of the id
    val b1 = Sampling.stratifiedSample(ids, "source", $"doc_id",
      Map("s" -> 400), bucketOf = Sampling.mulHashBucket(_))
      .select("doc_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b2 = Sampling.stratifiedSample(ids, "source", $"doc_id",
      Map("s" -> 400), bucketOf = Sampling.mulHashBucket(_))
      .select("doc_id", "bucket").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b1 == b2)
  }

  test("repetitionSignalsFull: full Gopher A1.1 battery on crafted docs") {
    import graft.ops.TextStats
    val d = Seq(
      // "a b c d e" 5-gram repeats at pos 0 and 5: n=5 marks 10 of 11
      // token positions; no 6-gram repeats; top-2gram tie ("a b","b c",
      // "c d","d e" all x2) breaks to "a b" (3 chars x 2 occurrences)
      (1L, "a b c d e a b c d e x"),
      (2L, "x\nx\ny"),   // line dups: 1/3 lines, 1/3 chars; one paragraph
      (3L, "p\n\np"),    // paragraph dup: 1/2 paras; lines: p,"",p
      (4L, "q w e r t y u i o p z q w e r t y u i o p"), // 10-gram repeat
      (5L, "solo"),
      (6L, "")).toDF("doc_id", "text")
    val got = TextStats.repetitionSignalsFull(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Double]("dup_5gram_char_frac") == 10.0 / 11.0)
    assert(r1.isNullAt(r1.fieldIndex("dup_6gram_char_frac")))
    assert(r1.getAs[Double]("top_2gram_char_frac") == 6.0 / 21.0)
    assert(r1.getAs[Double]("dup_line_frac") == 0.0)
    val r2 = got(2L)
    assert(r2.getAs[Double]("dup_line_frac") == 1.0 / 3.0)
    assert(r2.getAs[Double]("dup_line_char_frac") == 1.0 / 3.0)
    assert(r2.getAs[Long]("n_paras") == 1 && r2.getAs[Double]("dup_para_frac") == 0.0)
    val r3 = got(3L)
    assert(r3.getAs[Double]("dup_para_frac") == 0.5)
    assert(r3.getAs[Double]("dup_para_char_frac") == 0.5)
    assert(r3.getAs[Long]("n_lines") == 3 && r3.getAs[Long]("n_dup_lines") == 1)
    val r4 = got(4L)
    // the repeated 10-gram marks 20 of 21 positions at every n in 5..10
    (5 to 10).foreach { n =>
      assert(r4.getAs[Double](s"dup_${n}gram_char_frac") == 20.0 / 21.0, s"n=$n")
    }
    // keep decision: 1 and 4 fail (dup n-gram mass), 2 and 3 fail unit
    // fractions (1/3 > 0.30, 1/2 > 0.30), degenerate docs pass vacuously
    val keep = TextStats.repetitionSignalsFull(d)
      .withColumn("keep", TextStats.repetitionKeepFull()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(keep == Map(1L -> false, 2L -> false, 3L -> false,
      4L -> false, 5L -> true, 6L -> true))
  }

  test("repetitionSignals: dup lines, bigram tie-break, degenerate docs") {
    import graft.ops.TextStats
    val d = Seq(
      (1L, "a b a b a b"), // "a b"×3, "b a"×2 → top "a b" 3/5
      (2L, "x\nx\ny"),     // 3 lines, 1 dup; "x x","x y" tie → smallest
      (3L, "solo"),        // one token → no bigrams
      (4L, "")).toDF("doc_id", "text")
    val got = TextStats.repetitionSignals(d)
      .withColumn("keep", TextStats.repetitionKeep())
      .collect().map { r =>
        r.getLong(0) -> ((r.getInt(1), r.getInt(2),
          Option(r.get(4)), Option(r.get(5)), r.getLong(6),
          Option(r.get(7)), r.getBoolean(8)))
      }.toMap
    assert(got(1L) == ((1, 0, Some("a b"), Some(3L), 5L, Some(0.6), false)))
    assert(got(2L) == ((3, 1, Some("x x"), Some(1L), 2L, Some(0.5), false)))
    assert(got(3L) == ((1, 0, None, None, 0L, None, true))) // vacuous bigram pass
    assert(got(4L) == ((1, 0, None, None, 0L, None, true)))
    // dup-line branch: 4 lines, 2 occurrences beyond first → frac 0.5 > 0.30
    val multi = Seq((9L, "l1\nl1\nl1\nl2")).toDF("doc_id", "text")
    val m = TextStats.repetitionSignals(multi)
      .withColumn("keep", TextStats.repetitionKeep()).collect().head
    assert(m.getInt(1) == 4 && m.getInt(2) == 2 && !m.getBoolean(8))
  }

  test("keeper forms leave null-text docs as singletons (pair-path semantics)") {
    // pair paths emit no pairs for null texts (null signature fails the
    // equality join ⇒ CC singletons); the keeper twins must not let
    // Window.partitionBy fold every NULL dup_key into one bogus class
    val d = Seq(
      (1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]),
      (3L, "same text body"), (4L, "same text body"))
      .toDF("doc_id", "text")
    for (k <- Seq(Dedup.multisetKeepers(d), Dedup.shingleSetKeepers(d))) {
      val got = k.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_dup")))).toMap
      assert(got == Map(
        1L -> ((1L, false)), 2L -> ((2L, false)),
        3L -> ((3L, false)), 4L -> ((3L, true))), got)
    }
    // and the keeper==CC invariant survives a null-text corpus
    val pairs = Dedup.simhashExactDups(d)
    val comps = Dedup.connectedComponents(pairs, d.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.unpersist()
    val keepers = Dedup.multisetKeepers(d)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(keepers == comps)
  }

  test("keeper classes compose with qualityKeepers (keeper_id is a component key)") {
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val comps = Dedup.multisetKeepers(d)
      .select($"doc_id", $"keeper_id".as("component"))
    val qual = Seq(1L -> 0.25, 2L -> 0.75, 3L -> 0.5).toDF("doc_id", "quality_score")
    val got = Dedup.qualityKeepers(comps, qual)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    // class {1,2}: higher-quality 2 keeps even though 1 is the min id
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 3L), got)
  }

  test("qualityKeepers retains score-less members and ranks them last") {
    val comps = Seq(1L -> 10L, 2L -> 10L, 5L -> 5L).toDF("doc_id", "component")
    val qual = Seq(2L -> 0.5).toDF("doc_id", "quality_score") // 1 and 5 unscored
    val got = Dedup.qualityKeepers(comps, qual)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_dup")))).toMap
    // 1 (null score) ranks below 2 (0.5) but STAYS in the output; a fully
    // score-less component keeps its min id
    assert(got == Map(1L -> ((2L, true)), 2L -> ((2L, false)), 5L -> ((5L, false))), got)
  }

  test("qualityKeepers: NaN score ranks ABOVE every finite score (window desc parity)") {
    // Spark's DESC double ordering places NaN above +Inf, so the former
    // window form crowned a NaN-scored doc; −NaN would instead sort LAST
    // ascending — the agg form's explicit NaN flag preserves the window
    // decision (r7 self-review finding)
    val comps = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L).toDF("doc_id", "component")
    val qual = Seq(1L -> Double.NaN, 2L -> 0.5, 3L -> Double.PositiveInfinity)
      .toDF("doc_id", "quality_score")
    val got = Dedup.qualityKeepers(comps, qual)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), got)
  }

  test("hot-key guards fail loudly and point at the linear keeper forms") {
    val hot = (1L to 6L).map(i => (i, "identical text body here")).toDF("doc_id", "text")
    val before = persistedRdds
    val e1 = intercept[IllegalStateException](
      Dedup.simhashExactDups(hot, maxSigFreq = 3))
    assert(e1.getMessage.contains("multisetKeepers"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      Dedup.minhashNearDups(hot, threshold = 1.0, maxBucketFreq = 3))
    assert(e2.getMessage.contains("Keepers"), e2.getMessage)
    // a refusal releases what the call cached
    assert(persistedRdds == before, persistedRdds -- before)
    // the keeper forms handle the same corpus linearly
    assert(Dedup.multisetKeepers(hot).where($"is_dup").count() == 5)
    assert(Dedup.shingleSetKeepers(hot).where($"is_dup").count() == 5)
  }

  test("conversationDupPairs: exact copies pair, one-turn edits do not, all aggregation-only") {
    val t = Seq(
      ("a", 0, "hello there"), ("a", 1, "how are you"), ("a", 2, "goodbye"),
      ("a2", 0, "hello there"), ("a2", 1, "how are you"), ("a2", 2, "goodbye"),
      ("b", 0, "hello there"), ("b", 1, "how are you EDITED"), ("b", 2, "goodbye"),
      ("c", 0, "totally different"), ("c", 1, "conversation"), ("c", 2, "entirely")
    ).toDF("conv_id", "turn_idx", "text")
    val pairs = Dedup.conversationDupPairs(t)
    val got = pairs.collect().map(r => (r.getString(0), r.getString(1))).toSet
    pairs.unpersist()
    // a==a2 exactly; b differs in ONE turn (turn-fp Jaccard 2/4) and must
    // NOT pair at the exact regime; c is unrelated
    assert(got == Set(("a", "a2")), got)
    // hot-bucket guard: many identical conversations refuse pair emission
    val many = (1 to 8).flatMap(i =>
      Seq((s"x$i", 0, "same"), (s"x$i", 1, "conv"))).toDF("conv_id", "turn_idx", "text")
    val before = persistedRdds
    val e = intercept[IllegalStateException](
      Dedup.conversationDupPairs(many, maxBucketFreq = 3))
    assert(e.getMessage.contains("multisetFingerprint"), e.getMessage)
    assert(persistedRdds == before, persistedRdds -- before)
  }

  test("fingerprint collision pins: fp-distinctness == key-distinctness on the oracle corpora") {
    // conv_dedup_fp / conv_dedup_near rest on 64-bit xor fingerprints being
    // collision-free ON THE FIXTURE CORPUS; a corpus change that introduces
    // a collision must fail here loudly instead of silently passing a wrong
    // dedup. Corpus = the driver query's planted construction at sf0.001.
    val t = graft.pipeline.TurnsGen.turns(spark, sfDir)
      .select($"conv_id", $"turn_idx", $"text")
    val planted = t.union(
      t.where($"conv_id".cast("long") % 7 === 0)
        .select(concat($"conv_id", lit("D")).as("conv_id"), $"turn_idx", $"text"))
    val conv = planted.groupBy($"conv_id").agg(
      TextStats.multisetFingerprint($"turn_idx", $"text").as("fp"),
      array_join(transform(array_sort(collect_list(struct($"turn_idx", $"text"))),
        x => x.getField("text")), "\n").as("rolled"))
    val r = conv.agg(countDistinct($"fp").as("nfp"),
      countDistinct($"rolled").as("nkey")).first()
    assert(r.getLong(0) == r.getLong(1),
      s"multiset-fingerprint collision on the fixture corpus: ${r.getLong(0)} fps vs ${r.getLong(1)} texts")
    // doc_fingerprint_pairs: fingerprint64 distinctness == normalized-text
    // distinctness over the planted whitespace-variant corpus
    val base = docs.select($"doc_id", $"text")
    val ws = base.where($"doc_id" % 10 === 0)
      .select(($"doc_id" + 300000).as("doc_id"),
        concat(lit("  "), regexp_replace($"text", " ", "\t "), lit("  ")).as("text"))
    val fpr = base.union(ws).agg(
      countDistinct(TextStats.fingerprint64($"text")).as("nfp"),
      countDistinct(regexp_replace(trim($"text"), "\\s+", " ")).as("nnorm")).first()
    assert(fpr.getLong(0) == fpr.getLong(1),
      s"fingerprint64 collision on the fixture corpus: ${fpr.getLong(0)} vs ${fpr.getLong(1)}")
  }

  test("multisetFingerprint128: a CONSTRUCTED 64-bit xor collision is split by the second lane") {
    // 65 xxhash64 values over GF(2) are linearly dependent, so Gaussian
    // elimination finds a nonempty tuple subset S with xor(S) = 0; then
    // the tuple sets A = S \ {e} and B = {e} are DISTINCT multisets with
    // EQUAL 64-bit xor fingerprints — a real instance of the documented
    // structured-collision caveat, not a hypothetical. The second
    // (remixed) lane must split the pair; since both hashes are
    // deterministic, this is a fixture constant, not a probabilistic test.
    val tuples = (0 until 65).map(i => (i, s"turn text $i"))
    val hs = tuples.toDF("turn_idx", "text")
      .select($"turn_idx", xxhash64($"turn_idx", $"text").as("h"))
      .orderBy("turn_idx").collect().map(_.getLong(1))
    // GF(2) elimination tracking the combination of inputs per basis row
    val basis = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Int])]
    var dep: Set[Int] = Set.empty
    var i = 0
    while (dep.isEmpty && i < hs.length) {
      var v = hs(i); var combo = Set(i)
      basis.foreach { case (bv, bc) =>
        if (java.lang.Long.numberOfLeadingZeros(v) ==
            java.lang.Long.numberOfLeadingZeros(bv) && v != 0L) {
          v ^= bv; combo = (combo | bc) -- (combo & bc)
        }
      }
      // re-reduce until stable (basis rows sorted by leading bit not
      // guaranteed after one pass)
      var changed = true
      while (changed && v != 0L) {
        changed = false
        basis.foreach { case (bv, bc) =>
          if (v != 0L && java.lang.Long.numberOfLeadingZeros(v) ==
              java.lang.Long.numberOfLeadingZeros(bv)) {
            v ^= bv; combo = (combo | bc) -- (combo & bc); changed = true
          }
        }
      }
      if (v == 0L) dep = combo else basis += ((v, combo))
      i += 1
    }
    assert(dep.nonEmpty, "65 64-bit values must be GF(2)-dependent")
    val e = dep.head
    val setA = (dep - e).toSeq.map(tuples) // xor(A) == xor({e}) by construction
    val setB = Seq(tuples(e))
    def fps(rows: Seq[(Int, String)]) =
      rows.toDF("turn_idx", "text").agg(
        TextStats.multisetFingerprint($"turn_idx", $"text").as("fp64"),
        TextStats.multisetFingerprint128($"turn_idx", $"text").as("fp128"))
        .select($"fp64", $"fp128.fp_lo", $"fp128.fp_hi").first()
    val (fa, fb) = (fps(setA), fps(setB))
    assert(fa.getLong(0) == fb.getLong(0),
      "construction must collide the 64-bit fingerprint")
    assert(fa.getLong(1) == fb.getLong(1), "fp_lo IS the 64-bit lane")
    assert(fa.getLong(2) != fb.getLong(2),
      "the independent second lane must split the constructed collision")
  }

  test("TokenMultisetKeyExpr: signature-consistent lowering, sorted multiset semantics") {
    val df = Seq(
      (1L, "B a b A"), (2L, "a A b B"),          // equal multisets, mixed case
      (3L, "a a b"), (4L, "a b b"),              // different multisets
      (5L, ""), (6L, "  \t "), (7L, "xİy") // empty, ws-only, Turkish İ
    ).toDF("doc_id", "text")
      .withColumn("key", graft.functions.gf.tokenMultisetKey($"text"))
    val keys = df.select($"doc_id", $"key").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(keys(1L) == keys(2L) && keys(1L) == Seq("a", "a", "b", "b"))
    assert(keys(3L) != keys(4L))
    assert(keys(5L).isEmpty && keys(6L).isEmpty)
    // ROOT lowering = Java full mapping: İ (U+0130) lowers to i + combining
    // dot (U+0307) — the SAME feature SimHash64Expr signs, so equal key
    // still implies equal signature on such text
    assert(keys(7L) == Seq("xi" + "\u0307" + "y"))
    // and the digest key used by multisetKeepers groups 1 with 2
    val k = Dedup.multisetKeepers(df.select($"doc_id", $"text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keeper_id")).toMap
    assert(k(2L) == 1L && k(1L) == 1L)
    assert(k(5L) == 5L && k(6L) == 5L) // token-less docs share the empty multiset
  }

  test("PQ encode matches a naive driver-side replay; malformed vectors encode null") {
    val cb = graft.ops.Pq.fixedCodebook(nsub = 4, ncent = 8, subDim = 4)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where($"vec_id" < 50)
      .select($"vec_id", expr("slice(embedding, 1, 16)").as("embedding"))
    val got = graft.ops.Pq.encode(emb, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val raw = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    raw.foreach { case (id, v) =>
      val iq = v.map(x => math.floor(x.toDouble * 1000.0 + 0.5).toLong)
      val want = (0 until 4).map { s =>
        (0 until 8).minBy { j =>
          val d = (0 until 4).map { d0 =>
            val diff = iq(s * 4 + d0) - cb(s)(j)(d0); diff * diff
          }.sum
          (d, j)
        }
      }
      assert(got(id) == want, s"codes diverge for vec $id")
    }
    // wrong dimension and null → null codes (the hygiene gate is the loud path)
    val bad = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val codes = graft.ops.Pq.encode(bad, cb).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(codes(1L).isEmpty && codes(2L).isEmpty)
  }

  test("PQ full rerank degrades to exact brute force; guards fail fast") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").where($"vec_id" < 200)
    val q = emb.where($"vec_id" < 5)
    val cb = graft.ops.Pq.fixedCodebook()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "n_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // rerankFrom >= corpus-1 ⇒ every vector is a candidate ⇒ the exact
    // cosine re-rank IS brute force (same (sim desc, n_id) tie-break)
    val full = rows(graft.ops.Pq.topK(emb, q, cb, k = 5, rerankFrom = 199))
    val brute = rows(Similarity.bruteForceTopK(emb, q, k = 5))
    assert(full == brute)
    intercept[IllegalArgumentException] {
      graft.ops.Pq.topK(emb, q, cb, k = 5, rerankFrom = 3)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Pq.trainCodebooks(emb, ncent = 16, sampleCap = 8)
    }
  }

  test("IVF-PQ: nprobe = ncoarse degrades to plain PQ exactly; pruning prunes; guards fail fast") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where($"vec_id" < 5)
    val coarse = graft.ops.Pq.fixedCodebook(1, 16, 64).head
    val cb = graft.ops.Pq.fixedCodebook()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "n_id", "adc_dist").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // probing every list = no pruning = identical ADC ranking
    val all = rows(graft.ops.Pq.ivfPqTopK(emb, q, coarse, cb, k = 5, nprobe = 16))
    val pq = rows(graft.ops.Pq.topK(emb, q, cb, k = 5))
    assert(all == pq)
    // nprobe=1 answers come only from each query's own nearest cell — the
    // result set must be a subset of the corpus in probed cells (pruning is
    // real, not a no-op): every neighbor's coarse cell == the query's top cell
    val one = graft.ops.Pq.ivfPqTopK(emb, q, coarse, cb, k = 5, nprobe = 1)
    val cells = graft.ops.Pq.encode(emb, Seq(coarse))
      .select($"n_id", $"codes".getItem(0).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    one.select("q_id", "n_id").collect().foreach { r =>
      assert(cells(r.getLong(1)) == cells(r.getLong(0)),
        s"nprobe=1 must stay in the query's own cell (q=${r.getLong(0)} n=${r.getLong(1)})")
    }
    intercept[IllegalArgumentException] {
      graft.ops.Pq.ivfPqTopK(emb, q, coarse, cb, nprobe = 17)
    }
  }

  test("PQ trained codebooks: deterministic, on the 1/1000 grid, recall floor holds") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = graft.ops.Pq.trainCodebooks(emb, sampleCap = 512, iters = 4)
    val b = graft.ops.Pq.trainCodebooks(emb, sampleCap = 512, iters = 4)
    assert(a == b, "training must be bit-deterministic (no RNG, no clock)")
    assert(a.flatten.flatten.forall(w => w >= -2000 && w <= 2000),
      "centroids live on the quantized integer grid")
    val q = emb.where($"vec_id" < 20)
    def topkSet(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val brute = topkSet(Similarity.bruteForceTopK(emb, q, k = 5))
    def recallOf(got: Map[Long, Set[Long]]): Double = brute.map { case (k, want) =>
      got.getOrElse(k, Set.empty[Long]).intersect(want).size.toDouble / want.size
    }.sum / brute.size
    val rr = recallOf(topkSet(graft.ops.Pq.topK(emb, q, a, k = 5, rerankFrom = 50)))
    assert(rr >= 0.5, f"16-centroid rerank-50 recall@5 $rr%.3f under floor 0.5")
    // the bench geometry (8×256 = 8 B/vec): the pq_recall block measured
    // as a GATE, same discipline as the IVF/LSH floors (fixture constants:
    // 0.61 ADC / 1.0 rerank-50 at this scale)
    val cb256 = graft.ops.Pq.trainCodebooks(emb, nsub = 8, ncent = 256,
      subDim = 8, iters = 8, sampleCap = 2048)
    val adc256 = recallOf(topkSet(graft.ops.Pq.topK(emb, q, cb256, k = 5)))
    val rr256 = recallOf(topkSet(
      graft.ops.Pq.topK(emb, q, cb256, k = 5, rerankFrom = 50)))
    assert(adc256 >= 0.5, f"PQ8x8 ADC recall@5 $adc256%.3f under floor 0.5")
    assert(rr256 >= 0.9, f"PQ8x8 rerank-50 recall@5 $rr256%.3f under floor 0.9")
    assert(rr256 >= adc256, "rerank must not lose recall")
  }

  test("exactIncremental: decisions identical to exact(old ∪ delta); key table self-maintains") {
    val base = docs.select($"doc_id", $"text").where($"doc_id" < 120)
    val old = base.where($"doc_id" < 60)
    val delta = base.where($"doc_id" >= 60)
      .unionAll(old.where($"doc_id" % 10 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), $"text"))
    val keys = old.groupBy(sha2($"text", 256).as("dup_key"))
      .agg(min("doc_id").as("keeper_id"))
    val inc = Dedup.exactIncremental(keys, delta).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getBoolean(3))).toMap
    // batch ground truth over the union, restricted to the delta ids
    val batch = Dedup.exact(old.unionAll(delta)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    inc.foreach { case (id, (keeper, isDup, _)) =>
      assert(batch(id) == ((keeper, isDup)), s"delta doc $id diverges from batch")
    }
    // copies of history are dups pointing at OLD keepers; delta-only texts
    // elect a new keeper and emit exactly one is_new_key row per class
    assert(inc.exists { case (id, (k, d, _)) => id >= 100000L && d && k < 60L })
    val newKeyIds = inc.collect { case (id, (_, _, true)) => id }
    assert(newKeyIds.nonEmpty && newKeyIds.toSet == newKeyIds.toSet.intersect(
      inc.collect { case (id, (k, _, _)) if k == id => id }.toSet),
      "is_new_key rows must be their own keepers")
    // appending the new keys makes a re-run of the SAME delta all-dup,
    // no new keys — the self-maintaining key-table loop
    val keys2 = keys.unionAll(
      delta.select($"doc_id", sha2($"text", 256).as("dup_key"))
        .join(Dedup.exactIncremental(keys, delta).where($"is_new_key")
          .select($"doc_id", $"keeper_id"), "doc_id")
        .select($"dup_key", $"keeper_id"))
    val rerun = Dedup.exactIncremental(keys2,
        delta.select(($"doc_id" + 500000L).as("doc_id"), $"text"))
      .collect()
    assert(rerun.forall(_.getBoolean(2)), "every re-ingested doc must be a dup")
    assert(rerun.forall(!_.getBoolean(3)), "no class may be new on re-ingest")
  }

  test("chunkDocs: stride coverage, tail truncation, empty-doc drop, guards") {
    val df = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens
      (2L, "x y"),                 // shorter than one chunk
      (3L, ""), (4L, " \t ")       // no tokens -> no chunks
    ).toDF("doc_id", "text")
    val out = TextStats.chunkDocs(df, chunkTokens = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getInt(5)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // ceil(10/3) = 4 chunks; starts 0,3,6,9; last truncated to 1 token
    assert(d1.map(c => (c._3, c._4)).toSeq == Seq((0, 4), (3, 7), (6, 10), (9, 10)))
    assert(d1.head._5 == "a b c d" && d1.last._5 == "j" && d1.last._6 == 1)
    // consecutive chunks overlap by chunkTokens - stride = 1 token
    assert(d1(0)._5.split(" ").last == d1(1)._5.split(" ").head)
    // full coverage: every token index falls in some chunk
    assert(d1.flatMap(c => c._3 until c._4).distinct.sorted.toSeq == (0 until 10))
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 0, 2, "x y", 2)))
    assert(!out.exists(c => c._1 == 3L || c._1 == 4L), "token-less docs emit no chunks")
    intercept[IllegalArgumentException] {
      TextStats.chunkDocs(df, chunkTokens = 4, stride = 5)
    }
  }

  test("heavyHittersExact: equals full-shuffle top-k under adversarial partitioning; guard fails loud") {
    // long-tailed universe: 31 hot base tokens + one unique token per doc
    val toks = docs.select(explode(filter(
        split(lower(trim($"text")), "\\s+"), t => t =!= "")).as("tok"))
      .unionAll(docs.select(concat(lit("u"), $"doc_id").as("tok")))
      .repartition(13) // force many partial summaries + real pruning
    val got = TextStats.heavyHittersExact(toks, "tok", k = 10, counters = 128)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("tok")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, "two-pass MG must equal the full-shuffle exact top-k")
    // provability guard: 2 counters cannot certify a top-10 on this tail
    val e = intercept[IllegalArgumentException] {
      TextStats.heavyHittersExact(toks, "tok", k = 10, counters = 2)
    }
    assert(e.getMessage.contains("raise counters"), e.getMessage)
    // floor == 0 regime: N <= counters means nothing was ever pruned, so
    // fewer-than-k candidates IS the complete exact answer
    val tiny = Seq("a", "b", "a", "c", "a", "b").toDF("tok")
    val small = TextStats.heavyHittersExact(tiny, "tok", k = 10, counters = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(small == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("vectorHygiene: every flag fires on exactly its family; null vector → null vec_ok") {
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      1L -> Some(Seq(1.0f, 2.0f, 3.0f)),                       // clean
      2L -> Some(Seq(1.0f, 2.0f)),                             // wrong dim
      3L -> Some(Seq(Float.NaN, 2.0f, 3.0f)),                  // NaN
      4L -> Some(Seq(1.0f, Float.PositiveInfinity, 3.0f)),     // +Inf
      5L -> Some(Seq(1.0f, Float.NegativeInfinity, Float.NaN)),// two bad
      6L -> Some(Seq(0.0f, -0.0f, 0.0f)),                      // all zero (±0)
      7L -> Some(Seq(Float.MinPositiveValue, 0.0f, 0.0f)),     // subnormal ≠ zero
      8L -> None)                                              // null vector
    val out = Similarity.vectorHygiene(
        rows.toDF("vec_id", "embedding"), expectedDim = 3)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Integer]("dim"), r.getAs[Integer]("n_nonfinite"),
          Option(r.getAs[java.lang.Boolean]("is_zero")),
          Option(r.getAs[java.lang.Boolean]("vec_ok")))).toMap
    assert(out(1L) == ((3, 0, Some(false), Some(true))))
    assert(out(2L) == ((2, 0, Some(false), Some(false))))
    assert(out(3L)._2 == 1 && out(3L)._4 == Some(false))
    assert(out(4L)._2 == 1 && out(4L)._4 == Some(false))
    assert(out(5L)._2 == 2)
    assert(out(6L) == ((3, 0, Some(true), Some(false))))
    // the double-precision square keeps a subnormal component from
    // underflowing to exact 0 — the vector is correctly NOT flagged zero
    assert(out(7L) == ((3, 0, Some(false), Some(true))))
    assert(out(8L)._1 == null && out(8L)._4 == None,
      "null vector must propagate null flags (three-valued), not crash")
  }
}