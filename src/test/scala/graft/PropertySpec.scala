package graft

import graft.detect.{CpOffsets, Detectors, RegexRules, Resolver}
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
  *  - the guarded regex scan ≡ running every rule's pattern.
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

  // `\d` under UNICODE_CHARACTER_CLASS: ASCII, Arabic-Indic, Devanagari and a
  // supplementary Nd digit (U+1D7CE MATHEMATICAL BOLD DIGIT ZERO)
  private val digitGen: Gen[String] = Gen.oneOf(
    Gen.numChar.map(_.toString),
    Gen.choose('\u0660', '\u0669').map(_.toString),
    Gen.choose('\u0966', '\u096f').map(_.toString),
    Gen.const(new String(Character.toChars(0x1d7ce))))
  private val runLengths: Seq[Int] =
    (RegexRules.zh ++ RegexRules.en).map(_.minDigitRun).filter(_ > 0)
      .flatMap(n => Seq(n - 1, n)).distinct
  private val digitRunGen: Gen[String] = for {
    n <- Gen.oneOf(runLengths)
    ds <- Gen.listOfN(n, digitGen)
  } yield ds.mkString
  private val scanTextGen: Gen[String] = for {
    n <- Gen.choose(0, 10)
    parts <- Gen.listOfN(n, Gen.frequency(
      4 -> digitRunGen,
      2 -> digitGen,
      3 -> Gen.alphaChar.map(_.toString),
      1 -> Gen.oneOf("ſ", "\u212a", "@", "-", " ", ".", "台北市", "信義路", "路",
        "巷", "弄", "號", "樓", "鄰", "大樓", "09", "St")))
  } yield parts.mkString

  test("guarded regex scan == running every rule's pattern unconditionally") {
    def unguarded(text: String, rules: IndexedSeq[RegexRules.Rule]): Seq[SpanEnt] = {
      val off = new CpOffsets(text)
      rules.flatMap { rule =>
        val m = rule.pattern.matcher(text)
        Iterator.continually(m).takeWhile(_.find())
          .map(m => SpanEnt(off.toCp(m.start), off.toCp(m.end), rule.typ, 1.0, "regex"))
          .toList
      }
    }
    check(Prop.forAll(scanTextGen) { text =>
      Seq("zh", "en").forall { lang =>
        Detectors.regexDetect(text, lang).toSeq == unguarded(text, RegexRules.forLang(lang))
      }
    })
  }
}
