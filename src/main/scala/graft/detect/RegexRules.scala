package graft.detect

import java.util.regex.Pattern

/** The reference's shipped regex PII rule sets, baked as constants.
  *
  * Provenance: `/root/reference/configs/regex_zh.yaml` and
  * `/root/reference/configs/regex_en.yaml`, loaded by
  * `pii/detectors/regex_detector.py:23-74` in YAML insertion order (Python
  * dict order), each rule's matches emitted in text order
  * (`regex_detector.py:76-89`).
  *
  * Java-regex parity notes (SURVEY §7.4.2): Python `re` defaults to Unicode
  * semantics for `\w`, `\d`, `\b` and case-insensitive matching; Java
  * defaults to ASCII. We compile every pattern with
  * `UNICODE_CHARACTER_CLASS` (implies `UNICODE_CASE`) to match.
  *
  * Each rule carries an [[Anchor]]: where a match of its pattern can
  * START, derived by hand from the pattern. The scanner
  * ([[Detectors]]) turns the anchor into windows of candidate start
  * positions and tries the matcher only there, in increasing order, each
  * attempt anchored at its position (`region(p, len)` + `lookingAt()` with
  * transparent, non-anchoring bounds — the same attempt `find()` makes at
  * `p`). Because a window may hold positions where no match starts but
  * never misses one where a match does, this yields exactly the matches of
  * `while (m.find())`: pure performance. `find` tries every position of
  * the text, and a rule with a `[^…]{1,30}` prefix backtracks ~30× at each;
  * an anchored rule makes a few attempts per literal or digit run, and none
  * on a text without them (a guard on whether a literal occurs could only
  * skip a rule for the whole text).
  *
  * Distances are in code points: `\d` and `\w` under
  * `UNICODE_CHARACTER_CLASS` match supplementary characters too. `\d` is
  * exactly `Character.isDigit` on a code point. Every anchored pattern
  * compiles to a `Pattern$StartS` root, whose `find` never starts a match
  * on the low half of a surrogate pair; the scanner skips those positions
  * too.
  */
object RegexRules {

  /** Where a match can start. Each case states the positions that must
    * hold every match start of its rule (a superset is allowed, a subset
    * never).
    */
  sealed trait Anchor

  object Anchor {

    /** At an occurrence of one of `literals`: the pattern begins with them. */
    final case class At(literals: String*) extends Anchor

    /** Within `maxCp` code points before an occurrence of one of
      * `literals`: the pattern is a bounded prefix followed by them.
      */
    final case class Before(maxCp: Int, literals: String*) extends Anchor

    /** Inside the maximal run of code points satisfying `inRun` that ends
      * right before an occurrence of `literal`: the pattern begins with a
      * greedy run of that class, which cannot hold `literal`, followed by
      * `literal`.
      */
    final case class RunTo(literal: Char, inRun: Int => Boolean) extends Anchor

    /** From `before` code points before the start of a maximal `\d` run of
      * at least `n` code points up to the last position inside the run
      * with `n` of its digits left: every match holds such a run, starting
      * at most `before` code points after the match does.
      */
    final case class Digits(n: Int, before: Int) extends Anchor

    /** `\d` under `UNICODE_CHARACTER_CLASS`. */
    val digit: Int => Boolean = cp => Character.isDigit(cp)

    private val wordTypes: Int =
      (1 << Character.NON_SPACING_MARK) | (1 << Character.ENCLOSING_MARK) |
        (1 << Character.COMBINING_SPACING_MARK) | (1 << Character.DECIMAL_DIGIT_NUMBER) |
        (1 << Character.CONNECTOR_PUNCTUATION)

    /** `[\w.-]` under `UNICODE_CHARACTER_CLASS`: `\w` is Alphabetic, a mark,
      * a decimal digit, connector punctuation or a join control
      * (`java.util.regex.CharPredicates.WORD`).
      */
    val wordDotDash: Int => Boolean = cp =>
      cp == '.' || cp == '-' || Character.isAlphabetic(cp) ||
        ((wordTypes >> Character.getType(cp)) & 1) != 0 || cp == 0x200c || cp == 0x200d
  }

  final case class Rule(typ: String, pattern: Pattern, anchor: Option[Anchor]) {

    // Rules live in JVM-wide statics (never serialized); one reusable
    // matcher per (rule, task thread) kills 13 Matcher allocations per row.
    // Transparent, non-anchoring bounds make an attempt on region(p, len)
    // see the text around p exactly as `find()` does
    private val localMatcher: ThreadLocal[java.util.regex.Matcher] =
      ThreadLocal.withInitial { () =>
        pattern.matcher("").useTransparentBounds(true).useAnchoringBounds(false)
      }

    def matcher(text: String): java.util.regex.Matcher = {
      val m = localMatcher.get()
      m.reset(text)
      m
    }
  }

  import Anchor._

  private def compile(p: String, flags: Int = 0): Pattern =
    Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS)

  /** `configs/regex_zh.yaml` — order preserved. */
  lazy val zh: IndexedSeq[Rule] = IndexedSeq(
    // a letter (BMP, also under case folding), then 9 digits
    Rule("ID", compile("[A-Z]\\d{9}", Pattern.CASE_INSENSITIVE), Some(Digits(9, 1))),
    Rule("PHONE", compile("09\\d{2}-?\\d{3}-?\\d{3}", Pattern.MULTILINE), Some(At("09"))),
    Rule("EMAIL", compile("[\\w\\.-]+@[\\w\\.-]+\\.[A-Za-z]{2,4}"),
      Some(RunTo('@', wordDotDash))),
    Rule("ADDRESS", compile("(台北市|台中市|高雄市)[^,，°]{3,20}(路|街|巷)\\d+號?"),
      Some(At("台北市", "台中市", "高雄市"))),
    Rule(
      "ADDRESS",
      compile(
        "(臺北市|台北市|新北市|桃園市|臺中市|台中市|臺南市|台南市|高雄市)[^,，°]{1,30}(路|街|巷|大道|段)\\d+號"
      ),
      Some(At("臺北市", "台北市", "新北市", "桃園市", "臺中市", "台中市", "臺南市", "台南市", "高雄市"))
    ),
    // 1-30, then 村|里, then 1-20 code points before 鄰: at most 51
    Rule("ADDRESS", compile("[^\\n，；。]{1,30}(村|里)([^\\n，；。]{1,20})(鄰)\\d+號"),
      Some(Before(51, "鄰"))),
    Rule("ADDRESS", compile("(\\d+樓|\\d+樓之\\d|\\d+樓之\\d+)"), Some(RunTo('樓', digit))),
    Rule("ADDRESS", compile("(建國路|中山北路|信義路|光復南路|民生東路)[^,，°]{1,20}段?\\d+號"),
      Some(At("建國路", "中山北路", "信義路", "光復南路", "民生東路"))),
    Rule("ADDRESS", compile("\\d{3,4}巷\\d{1,3}弄\\d{1,3}號"), Some(Before(4, "巷"))),
    // up to 30 code points before the alternative; 商業大樓 puts 大樓 two
    // further on, so 32 before 大樓
    Rule("ADDRESS", compile("[^\\n，；。]{1,30}(大樓|社區|大廈|商業大樓)[^,，；。]{0,30}"),
      Some(Before(32, "大樓", "社區", "大廈"))),
    Rule("PASSPORT", compile("[A-Z]{1,2}\\d{6,8}"), Some(Digits(6, 2))),
    Rule("UNIFIED_BUSINESS_NO", compile("\\d{8}"), Some(Digits(8, 0))),
    Rule("MEDICAL_ID", compile("[A-Z]\\d{7,8}"), Some(Digits(7, 1)))
  )

  /** `configs/regex_en.yaml` — order preserved. */
  lazy val en: IndexedSeq[Rule] = IndexedSeq(
    // the last group is a whole run (`-` before, `\b` after), 7 code points in
    Rule("ID", compile("\\b\\d{3}-\\d{2}-\\d{4}\\b", Pattern.CASE_INSENSITIVE),
      Some(Digits(4, 7))),
    // `\b` keeps a match from starting inside the run holding its last 4
    // digits; everything before them is at most `+1-(555)-555-`, 13
    Rule(
      "PHONE",
      compile("\\b(?:\\+1[-.\\s]?|1[-.\\s]?)?\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b"),
      Some(Digits(4, 13))
    ),
    Rule("EMAIL", compile("[\\w\\.\\-]+@[\\w\\.\\-]+\\.[A-Za-z]{2,}"),
      Some(RunTo('@', wordDotDash))),
    Rule(
      "ADDRESS",
      compile("\\b\\d+\\s+\\w+\\s+(?:Street|St|Avenue|Ave|Boulevard|Blvd|Road|Rd|Lane|Ln)\\b"),
      Some(Digits(1, 0))
    ),
    // a letter, then a digit run from the next code point (no `\s?`) or
    // the 5-digit tail's run 4 code points on (after `\s`)
    Rule("PASSPORT", compile("[A-PR-WYa-pr-wy][1-9]\\d\\s?\\d{4}[1-9]"), Some(Digits(5, 4))),
    Rule("UNIFIED_BUSINESS_NO", compile("\\b\\d{2}-\\d{7}\\b"), Some(Digits(7, 3))),
    // starts at any `\b` before a letter or digit: no anchor
    Rule("MEDICAL_ID", compile("\\b[A-Za-z0-9]{6,12}\\b"), None)
  )

  /** The model-stub patterns (`pii/detectors/bert_detector.py:162-177`),
    * source tag `"regex_stub"`. Only active when a job opts into the stub
    * detector; `get_detector` with `USE_STUB=true` never instantiates it
    * (`pii/detectors/__init__.py:20-76`), so the golden default composite is
    * regex-only.
    */
  lazy val stub: IndexedSeq[Rule] = IndexedSeq(
    Rule("ID", compile("[A-Z][12]\\d{8}"), Some(Digits(9, 1))),
    Rule("PHONE", compile("09\\d{2}-?\\d{3}-?\\d{3}"), Some(At("09")))
  )

  def forLang(lang: String): IndexedSeq[Rule] =
    if (lang == "zh") zh else en

  /** `ENTITY_PRIORITY` (`config.py:127-137`), default 50. */
  val entityPriority: Map[String, Int] = Map(
    "ID" -> 100,
    "PASSPORT" -> 95,
    "PHONE" -> 90,
    "UNIFIED_BUSINESS_NO" -> 85,
    "EMAIL" -> 80,
    "NAME" -> 75,
    "ADDRESS" -> 70,
    "ORGANIZATION" -> 65,
    "MEDICAL_ID" -> 60
  )

  def priorityOf(typ: String): Int = entityPriority.getOrElse(typ, 50)
}
