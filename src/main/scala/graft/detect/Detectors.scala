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
    val cand = candidates.get()
    cand.index(text)
    var r = 0
    while (r < rules.length) {
      val rule = rules(r)
      rule.anchor match {
        case None =>
          val m = rule.matcher(text)
          while (m.find())
            out += SpanEnt(off.toCp(m.start), off.toCp(m.end), rule.typ, 1.0, source)
        case Some(anchor) =>
          cand.windows(anchor)
          // `find()`'s loop restricted to the windows: positions in
          // increasing order, the next search at or after the last match's
          // end, no start inside a surrogate pair (`Pattern$StartS` steps
          // over it)
          val m = if (cand.nWin > 0) rule.matcher(text) else null
          var next = 0
          var w = 0
          while (w < cand.nWin) {
            var p = math.max(cand.win(2 * w), next)
            val hi = cand.win(2 * w + 1)
            while (p <= hi) {
              if (p > 0 && Character.isLowSurrogate(text.charAt(p)) &&
                  Character.isHighSurrogate(text.charAt(p - 1))) p += 1
              else if (m.region(p, text.length).lookingAt()) {
                out += SpanEnt(off.toCp(m.start), off.toCp(m.end), rule.typ, 1.0, source)
                p = if (m.end == m.start) m.end + 1 else m.end
              } else p += 1
            }
            next = p
            w += 1
          }
      }
      r += 1
    }
    out.toArray
  }

  /** Candidate match starts of one text, per anchor. [[index]] makes the
    * one pass over the text, recording its maximal runs of `\d` code
    * points; [[windows]] then fills `win` with `nWin` inclusive UTF-16
    * `(lo, hi)` windows, ordered by `lo`. One instance per thread.
    */
  private final class Candidates {
    private var text: String = ""
    // maximal digit runs: start, end (UTF-16) and length in code points
    private var runs = new Array[Int](24)
    private var nRuns = 0
    var win = new Array[Int](32)
    var nWin = 0

    def index(t: String): Unit = {
      text = t
      nRuns = 0
      var run = 0
      var runStart = 0
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        val cp = if (Character.isHighSurrogate(c)) t.codePointAt(i) else c.toInt
        if (if (cp < 128) cp >= '0' && cp <= '9' else Character.isDigit(cp)) {
          if (run == 0) runStart = i
          run += 1
        } else if (run > 0) {
          addRun(runStart, i, run)
          run = 0
        }
        i += Character.charCount(cp)
      }
      if (run > 0) addRun(runStart, i, run)
    }

    private def addRun(start: Int, end: Int, cps: Int): Unit = {
      if (3 * nRuns + 3 > runs.length) runs = java.util.Arrays.copyOf(runs, 2 * runs.length)
      runs(3 * nRuns) = start
      runs(3 * nRuns + 1) = end
      runs(3 * nRuns + 2) = cps
      nRuns += 1
    }

    def windows(anchor: RegexRules.Anchor): Unit = {
      import RegexRules.Anchor._
      nWin = 0
      anchor match {
        case At(literals @ _*)            => literalWindows(literals, 0)
        case Before(maxCp, literals @ _*) => literalWindows(literals, maxCp)
        case RunTo(literal, inRun) =>
          var q = text.indexOf(literal.toInt)
          while (q >= 0) {
            var lo = q
            while (lo > 0 && inRun(Character.codePointBefore(text, lo)))
              lo -= Character.charCount(Character.codePointBefore(text, lo))
            if (lo < q) add(lo, q - 1)
            q = text.indexOf(literal.toInt, q + 1)
          }
        case Digits(n, before) =>
          var k = 0
          while (k < nRuns) {
            // a supplementary digit is two UTF-16 units, so `end - n` is at
            // or after the last start with n code points left
            if (runs(3 * k + 2) >= n) add(back(runs(3 * k), before), runs(3 * k + 1) - n)
            k += 1
          }
      }
    }

    /** `[q, q]` (`maxCp` 0) or `[maxCp code points before q, q - 1]` for
      * every occurrence `q` of every literal.
      */
    private def literalWindows(literals: Seq[String], maxCp: Int): Unit = {
      var l = 0
      while (l < literals.length) {
        val lit = literals(l)
        var q = text.indexOf(lit)
        while (q >= 0) {
          if (maxCp == 0) add(q, q) else if (q > 0) add(back(q, maxCp), q - 1)
          q = text.indexOf(lit, q + 1)
        }
        l += 1
      }
      if (literals.length > 1) sortByLo()
    }

    /** The position `cps` code points before `i`, or 0. */
    private def back(i: Int, cps: Int): Int = {
      var j = i
      var k = 0
      while (k < cps && j > 0) {
        j -= 1
        if (j > 0 && Character.isLowSurrogate(text.charAt(j)) &&
            Character.isHighSurrogate(text.charAt(j - 1))) j -= 1
        k += 1
      }
      j
    }

    private def add(lo: Int, hi: Int): Unit = {
      if (2 * nWin + 2 > win.length) win = java.util.Arrays.copyOf(win, 2 * win.length)
      win(2 * nWin) = lo
      win(2 * nWin + 1) = hi
      nWin += 1
    }

    // insertion sort: a text holds few occurrences
    private def sortByLo(): Unit = {
      var i = 1
      while (i < nWin) {
        val lo = win(2 * i)
        val hi = win(2 * i + 1)
        var j = i - 1
        while (j >= 0 && win(2 * j) > lo) {
          win(2 * j + 2) = win(2 * j)
          win(2 * j + 3) = win(2 * j + 1)
          j -= 1
        }
        win(2 * j + 2) = lo
        win(2 * j + 3) = hi
        i += 1
      }
    }
  }

  private val candidates: ThreadLocal[Candidates] = ThreadLocal.withInitial(() => new Candidates)
}
