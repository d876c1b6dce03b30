package graft.detect

import graft.model.SpanEnt

/** Offset bookkeeping: Python string indices are Unicode code points; Java
  * regex reports UTF-16 offsets. For BMP-only text (the overwhelmingly common
  * case, incl. CJK) they coincide — detect once per string and only pay the
  * conversion when supplementary characters are present.
  */
final class CpOffsets(val s: String) {
  val utf16Len: Int = s.length
  val cpLen: Int = s.codePointCount(0, utf16Len)
  val identity: Boolean = cpLen == utf16Len
  def toCp(u16: Int): Int = if (identity) u16 else s.codePointCount(0, u16)
  def toU16(cp: Int): Int = if (identity) cp else s.offsetByCodePoints(0, cp)

  /** Python `s[start:end]` by code points. */
  def slice(start: Int, end: Int): String = {
    val s2 = math.min(math.max(start, 0), cpLen)
    val e2 = math.min(math.max(end, s2), cpLen)
    s.substring(toU16(s2), toU16(e2))
  }
}

/** Monotone variant of [[CpOffsets.toCp]] for left-to-right scans:
  * successive calls must pass NON-DECREASING UTF-16 offsets; the
  * conversion advances an internal cursor so a full scan costs O(n) total
  * where repeated absolute `codePointCount(0, u16)` would be O(n²) on
  * non-ASCII text (one emoji is enough to leave the identity fast path).
  */
final class CpCursor(s: String) {
  private val identity: Boolean = s.codePointCount(0, s.length) == s.length
  private var lastU16 = 0
  private var lastCp = 0
  def toCp(u16: Int): Int =
    if (identity) u16
    else {
      lastCp += s.codePointCount(lastU16, u16)
      lastU16 = u16
      lastCp
    }
}

/** Per-row PII detectors — pure functions `String => Array[SpanEnt]` with
  * the reference's exact emission order.
  */
object Detectors {

  /** `RegexDetector.detect` (`pii/detectors/regex_detector.py:76-89`):
    * for each rule in config order, all non-overlapping matches in text
    * order; score 1.0, source "regex". Spans in code points.
    */
  def regexDetect(text: String, rules: IndexedSeq[RegexRules.Rule]): Array[SpanEnt] =
    scan(text, rules, "regex")

  def regexDetect(text: String, lang: String): Array[SpanEnt] =
    scan(text, RegexRules.forLang(lang), "regex")

  /** `BertNERDetector._stub_detection` (`bert_detector.py:162-177`). */
  def stubDetect(text: String): Array[SpanEnt] =
    scan(text, RegexRules.stub, "regex_stub")

  private def scan(
      text: String,
      rules: IndexedSeq[RegexRules.Rule],
      source: String
  ): Array[SpanEnt] = {
    val off = new CpOffsets(text)
    val out = new scala.collection.mutable.ArrayBuffer[SpanEnt](8)
    // one pass: any CJK char, and the longest run of `\d` code points
    var hasCjk = false
    var digitRun = 0
    var run = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '一' && c <= '鿿') hasCjk = true
      val cp = if (Character.isHighSurrogate(c)) text.codePointAt(i) else c.toInt
      if (if (cp < 128) cp >= '0' && cp <= '9' else Character.isDigit(cp)) {
        run += 1
        if (run > digitRun) digitRun = run
      } else run = 0
      i += Character.charCount(cp)
    }
    var r = 0
    while (r < rules.length) {
      val rule = rules(r)
      // guards: a match provably contains one of these literals, and a digit
      // run of `minDigitRun`; skip the backtracking matcher when the text
      // lacks them (semantics unchanged)
      val runnable =
        if (rule.cjkGuards && !hasCjk) false
        else if (rule.minDigitRun > digitRun) false
        else rule.guards.isEmpty || rule.guards.exists(text.contains)
      if (runnable) {
        val m = rule.matcher(text)
        while (m.find()) {
          out += SpanEnt(off.toCp(m.start), off.toCp(m.end), rule.typ, 1.0, source)
        }
      }
      r += 1
    }
    out.toArray
  }
}
