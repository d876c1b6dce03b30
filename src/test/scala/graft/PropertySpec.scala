package graft

import graft.detect.{CpOffsets, Detectors, RegexRules, Resolver}
import graft.detect.RegexRules.Anchor
import graft.detect.RegexRules.Anchor.{Before, Digits}
import java.util.regex.Pattern
import graft.functions.{FakeProvider, Tokens}
import graft.model.SpanEnt
import graft.pipeline.DeidCore
import graft.redact.Redactor
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5 port):
  *  - blackbox preserves code-point length;
  *  - resolver output has no adjacent overlap with ratio > 0.5;
  *  - detected spans are in bounds and slice-consistent;
  *  - replacement is deterministic;
  *  - the single-pass splice fast path ≡ the exact Python-emulation path
  *    on arbitrary (incl. overlapping) span sets;
  *  - the anchored regex scan ≡ running every rule's pattern with `find`;
  *  - the pinned lexical tokenizer ≡ its plain-Scala reading.
  */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val piiGen = Gen.oneOf(
    "A123456789", "0912345678", "0912-345-678", "a@b.com", "M1234567",
    "PA1234567", "12345678", "台北市信義路1號", "5樓", "123-45-6789")
  private val fillerGen = Gen.oneOf(
    "x", "hello", "病歷", " ", "\n", "。", "，", "😀", "１２", "@", "-", "")
  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    parts <- Gen.listOfN(n, Gen.frequency(2 -> piiGen, 3 -> fillerGen))
  } yield parts.mkString("")

  test("blackbox preserves code-point length; no events/map survive filtering") {
    check(Prop.forAll(textGen) { text =>
      val r = DeidCore.process(text, mode = "blackbox")
      r.text.codePointCount(0, r.text.length) == text.codePointCount(0, text.length) &&
        r.events.isEmpty && r.replacementMap.isEmpty
    })
  }

  test("resolver: no adjacent overlap ratio > 0.5 in resolved output") {
    check(Prop.forAll(textGen) { text =>
      val resolved = DeidCore.detect(text, "zh", withStub = true)
      resolved.sliding(2).forall {
        case Array(a, b) =>
          val overlap = math.max(0, math.min(a.end, b.end) - math.max(a.start, b.start))
          val ratio = overlap.toDouble /
            math.max(1, math.min(a.end - a.start, b.end - b.start))
          ratio <= 0.5
        case _ => true
      }
    })
  }

  test("detected spans are in bounds and slice-consistent") {
    check(Prop.forAll(textGen) { text =>
      val cpLen = text.codePointCount(0, text.length)
      DeidCore.process(text).entities.forall { e =>
        e.start >= 0 && e.end <= cpLen && e.start < e.end &&
          Redactor.cpSlice(text, e.start, e.end) == e.text
      }
    })
  }

  test("replacement is deterministic; same (type, original, ctx) => same value") {
    check(Prop.forAll(textGen) { text =>
      val a = DeidCore.process(text)
      val b = DeidCore.process(text)
      a.text == b.text && a.replacementMap == b.replacementMap
    })
  }

  private val spanGen: Gen[(Int, Int)] = for {
    s <- Gen.choose(0, 30)
    len <- Gen.choose(0, 10)
  } yield (s, s + len)

  test("splice fast path == exact per-splice emulation on arbitrary span sets") {
    val caseGen = for {
      text <- Gen.listOfN(35, Gen.oneOf("a", "b", "語", "😀", " ")).map(_.mkString)
      nSpans <- Gen.choose(0, 8)
      spans <- Gen.listOfN(nSpans, spanGen)
    } yield (text, spans)
    check(Prop.forAll(caseGen) { case (text, spans) =>
      val ents = spans.map { case (s, e) => SpanEnt(s, e, "T", 1.0, "t") }.toArray
      val sortedDesc = ents.sortBy(e => -e.start)

      // blackbox: optimized spliceAll vs direct Python-loop emulation
      val (fastBlack, _) = Redactor.blackboxMode(text, ents)
      var slowBlack = text
      sortedDesc.foreach { e =>
        slowBlack = Redactor.splice(slowBlack, e.start, e.end, "█" * (e.end - e.start))
      }

      // replace: optimized path vs direct emulation (memo is semantics-free
      // because generation is a pure function of (type, original, ctx))
      val ctx = graft.functions.Digests.sha256Hex(text)
      val (fastRepl, _) = Redactor.replaceMode(text, ents, Some(ctx))
      var slowRepl = text
      sortedDesc.foreach { e =>
        val original = Redactor.cpSlice(text, e.start, e.end)
        val r = graft.functions.FakeProvider.generateDeterministic(e.typ, original, ctx)
        slowRepl = Redactor.splice(slowRepl, e.start, e.end, r)
      }
      fastBlack == slowBlack && fastRepl == slowRepl
    })
  }

  test("generateAll (keys seeded in pairs) == generateDeterministic per key") {
    val keyGen = for {
      typ <- Gen.oneOf("ID", "PHONE", "EMAIL", "ADDRESS", "PASSPORT", "UNIFIED_BUSINESS_NO",
        "MEDICAL_ID", "NAME", "CONTRACT_NO", "T")
      original <- Gen.alphaNumStr
    } yield (typ, original)
    val caseGen = for {
      n <- Gen.choose(0, 7)
      keys <- Gen.listOfN(n, keyGen)
      isTw <- Gen.oneOf(true, false)
    } yield (keys, isTw)
    check(Prop.forAll(caseGen) { case (keys, isTw) =>
      val got = FakeProvider.generateAll(keys.map(_._1).toArray, keys.map(_._2).toArray,
        keys.length, "ctx", isTw)
      got.toSeq == keys.map { case (t, o) => FakeProvider.generateDeterministic(t, o, "ctx", isTw) }
    })
  }

  // `\d` under UNICODE_CHARACTER_CLASS: ASCII, Arabic-Indic, Devanagari and a
  // supplementary Nd digit (U+1D7CE MATHEMATICAL BOLD DIGIT ZERO)
  private val digitGen: Gen[String] = Gen.oneOf(
    Gen.numChar.map(_.toString),
    Gen.choose('\u0660', '\u0669').map(_.toString),
    Gen.choose('\u0966', '\u096f').map(_.toString),
    Gen.const(new String(Character.toChars(0x1d7ce))))
  private val anchors: Seq[Anchor] =
    (RegexRules.zh ++ RegexRules.en ++ RegexRules.stub).flatMap(_.anchor)
  // digit runs one short of and exactly at each Digits anchor's length
  private val runLengths: Seq[Int] =
    anchors.collect { case Digits(n, _) => Seq(n - 1, n) }.flatten.filter(_ > 0).distinct
  private def digitRun(lengths: Seq[Int]): Gen[String] = for {
    n <- Gen.oneOf(lengths)
    ds <- Gen.listOfN(n, digitGen)
  } yield ds.mkString
  // U+1F600 (So, not `\w`) and U+20000 (Lo, `\w`): surrogate pairs
  private val supplementary: Seq[String] =
    Seq(0x1f600, 0x20000).map(cp => new String(Character.toChars(cp)))
  // `[^\n，；。]` runs around the `{1,30}` bound and each Before distance
  private val gapLengths: Seq[Int] = (Seq(29, 30, 31) ++
    anchors.collect { case Before(d, _*) => Seq(d - 1, d, d + 1) }.flatten).distinct
  private def gap(lengths: Seq[Int]): Gen[String] = for {
    n <- Gen.oneOf(lengths)
    cs <- Gen.listOfN(n, Gen.oneOf(Seq("x", "語", " ", "-", "7") ++ supplementary))
  } yield cs.mkString
  // a long `[\w.-]` run (letters, digits, `_`, a combining mark, a joiner,
  // a supplementary letter) ending at `@`
  private val wordRunGen: Gen[String] = for {
    n <- Gen.choose(20, 60)
    cs <- Gen.listOfN(n, Gen.oneOf("a", "Z", "7", "_", ".", "-", "語", "\u0301", "\u200d",
      supplementary(1)))
    tail <- Gen.oneOf("@", "@ex.com", "@b.c0.de")
  } yield cs.mkString + tail
  // the zh address shapes, with bounds one under, at and over their limits
  private val addressGen: Gen[String] = Gen.oneOf(
    for {
      a <- gap(Seq(1, 29, 30, 31)); v <- Gen.oneOf("村", "里"); b <- gap(Seq(1, 19, 20, 21))
      d <- digitRun(Seq(1, 2))
    } yield s"$a$v${b}鄰${d}號",
    for {
      a <- gap(Seq(1, 29, 30, 31)); lit <- Gen.oneOf("大樓", "商業大樓", "社區", "大廈")
      b <- gap(Seq(0, 1, 30))
    } yield a + lit + b,
    for {
      a <- digitRun(Seq(2, 3, 4, 5)); b <- digitRun(Seq(1, 3, 4)); c <- digitRun(Seq(1, 3))
    } yield s"${a}巷${b}弄${c}號",
    for { d <- digitRun(Seq(1, 3)); t <- Gen.oneOf("樓", "樓之2", "樓之12") } yield d + t)
  // the en shapes, each with its longest prefix before the digit run its
  // anchor keys on
  private val enGen: Gen[String] = {
    val sep = Gen.oneOf("", "-", ".", " ")
    Gen.oneOf(
      for {
        pre <- Gen.oneOf("", "+1", "+1-", "1", "1 ", "x+1-", "x+1 ")
        a <- Gen.oneOf("", "("); b <- Gen.oneOf("", ")")
        d3 <- digitRun(Seq(3)); s1 <- sep; e3 <- digitRun(Seq(3)); s2 <- sep
        d4 <- digitRun(Seq(4, 5))
      } yield s"$pre$a$d3$b$s1$e3$s2$d4",
      for {
        l <- Gen.alphaChar; d1 <- Gen.choose('1', '9'); d2 <- digitRun(Seq(1))
        sp <- Gen.oneOf("", " "); d4 <- digitRun(Seq(4)); d5 <- Gen.choose('0', '9')
      } yield s"$l$d1$d2$sp$d4$d5",
      for { a <- digitRun(Seq(3)); b <- digitRun(Seq(2)); c <- digitRun(Seq(4, 5)) }
        yield s"$a-$b-$c",
      for { a <- digitRun(Seq(2)); b <- digitRun(Seq(6, 7)) } yield s"$a-$b",
      for { d <- digitRun(Seq(1, 3)); w <- Gen.oneOf("Main", "Oak"); t <- Gen.oneOf("St", "Ave") }
        yield s"$d $w $t")
  }
  private val scanTextGen: Gen[String] = for {
    n <- Gen.choose(0, 10)
    parts <- Gen.listOfN(n, Gen.frequency(
      4 -> digitRun(runLengths),
      2 -> digitGen,
      3 -> Gen.alphaChar.map(_.toString),
      1 -> Gen.listOfN(2, Gen.alphaUpperChar).map(_.mkString),
      2 -> Gen.oneOf(supplementary),
      1 -> gap(gapLengths),
      1 -> wordRunGen,
      2 -> addressGen,
      2 -> enGen,
      3 -> Gen.oneOf("ſ", "\u212a", "@", "-", " ", ".", "(", ")", "+1", "台北市", "信義路",
        "路", "巷", "弄", "號", "樓", "鄰", "村", "大樓", "商業大樓", "，", "\n", "09", "St")))
  } yield parts.mkString

  /** Every rule's pattern over the whole text with `while (m.find())`. */
  private def unanchored(
      text: String,
      rules: IndexedSeq[RegexRules.Rule],
      source: String
  ): Seq[SpanEnt] = {
    val off = new CpOffsets(text)
    rules.flatMap { rule =>
      val m = rule.pattern.matcher(text)
      Iterator.continually(m).takeWhile(_.find())
        .map(m => SpanEnt(off.toCp(m.start), off.toCp(m.end), rule.typ, 1.0, source))
        .toList
    }
  }

  test("anchored regex scan == every rule's pattern unconditionally (zh, en, stub)") {
    def same(text: String): Boolean =
      Seq("zh", "en").forall { lang =>
        Detectors.regexDetect(text, lang).toSeq ==
          unanchored(text, RegexRules.forLang(lang), "regex")
      } && Detectors.stubDetect(text).toSeq == unanchored(text, RegexRules.stub, "regex_stub")
    // each match starting as far before its anchor as the pattern allows
    val farthest = Seq("x+1-(555)-555-1234", "AB123456", "a12 34567", "123-45-6789",
      "12-3456789", "A123456789", "M1234567", "12345678", "1234巷5弄6號", "x" * 30 + "商業大樓",
      "x" * 30 + "村" + "y" * 20 + "鄰1號", "a.b_c@d.com", "12樓之3", "0912-345-678")
    farthest.foreach(t => assert(same(t), t))
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(scanTextGen)(same))
    assert(res.passed, res.status.toString)
  }

  test("RunTo classes equal their regex classes on every code point") {
    for ((cls, inRun) <- Seq("[\\w.-]" -> Anchor.wordDotDash, "\\d" -> Anchor.digit)) {
      val m = Pattern.compile(cls, Pattern.UNICODE_CHARACTER_CLASS).matcher("")
      val differ = (0 to Character.MAX_CODE_POINT).filter { cp =>
        m.reset(new String(Character.toChars(cp))).matches() != inRun(cp)
      }
      assert(differ.isEmpty, s"$cls: ${differ.take(5).map(Integer.toHexString)}")
    }
  }

  test("anchored scan never starts inside a surrogate pair, as find does") {
    // `\p{Cs}` matches a lone surrogate only: find never tries the low half
    // of a pair, so these rules match nothing in "😀鄰" or "😀😀1"
    val rules = IndexedSeq(
      RegexRules.Rule("CS", Pattern.compile("\\p{Cs}鄰", Pattern.UNICODE_CHARACTER_CLASS),
        Some(Before(1, "鄰"))),
      RegexRules.Rule("CS", Pattern.compile("\\p{Cs}\\p{Cs}?\\d",
        Pattern.UNICODE_CHARACTER_CLASS), Some(Digits(1, 2))))
    val smile = supplementary.head
    for (text <- Seq(smile + "鄰", smile + smile + "1", "a" + smile + "鄰1")) {
      assert(Detectors.regexDetect(text, rules).toSeq == unanchored(text, rules, "regex"), text)
    }
  }

  test("Tokens.words / Tokens.terms == trim spaces, lowercase, split on Java \\s") {
    // plain-Scala reading of split(lower(trim(text)), '\s+'): trim strips
    // U+0020 only; lower is ICU's root-locale full case mapping (a word-final
    // Σ becomes ς by context, İ becomes i + U+0307 — not java.lang's
    // toLowerCase, whose final-sigma test differs); split keeps edge ""
    // tokens (limit -1); Java \s is [ \t\n\x0B\f\r], so NBSP and U+3000
    // are token characters
    def refWords(t: String): Seq[String] =
      if (t == null) null
      else com.ibm.icu.lang.UCharacter.toLowerCase(com.ibm.icu.util.ULocale.ROOT,
        t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse).split("\\s+", -1).toSeq
    def refTerms(t: String): Seq[String] =
      Option(refWords(t)).map(_.filter(_.nonEmpty)).orNull
    val ws = Seq(" ", "\t", "\n", "\u000B", "\u000C", "\r", "\u00A0", "\u3000")
    val edge = Seq(null, "", " ", "   ", "\t", " \t ", "\n\n", "\u000B", "\u000C",
      "\u00A0", "\u3000", "a", "\ta", "a\t", " \ta b\n ", "\u000Ba\u000Cb\u000B",
      "\u00A0a\u00A0 b", "x\u3000y z", "İstanbul İ", "ΟΔΟΣ ΣΑΣ Σ", "ǅemal ǄǅǆA",
      "Straße ÀÉÎ", "語 文\t字")
    val gen = for {
      n <- Gen.choose(0, 10)
      parts <- Gen.listOfN(n, Gen.frequency(3 -> Gen.oneOf(ws),
        4 -> Gen.oneOf("a", "Bc", "İ", "Σ", "ΣΑΣ", "ς", "ǅ", "語", "x1", "-")))
    } yield parts.mkString
    val texts = edge ++ Gen.listOfN(500, gen).apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(20261019L)).get
    val spark = SparkTestBase.spark
    import spark.implicits._
    val rows = texts.zipWithIndex.map(_.swap).toDF("i", "text")
      .select($"i", Tokens.words($"text"), Tokens.terms($"text"))
      .collect().map(r => r.getInt(0) -> (Option(r.getSeq[String](1)).orNull,
        Option(r.getSeq[String](2)).orNull)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(rows(i) == ((refWords(t), refTerms(t))), s"text ${Option(t).map(_.map(_.toInt))}")
    }
  }
}
