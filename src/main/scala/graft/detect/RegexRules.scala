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
  * Each rule carries `guards`: literal substrings a match provably requires
  * (extracted by hand from mandatory literal parts of the pattern). The
  * scanner skips the matcher when no guard occurs in the text — pure
  * performance (the zh `[^…]{1,30}(anchor)` address rules backtrack ~30× per
  * position on non-matching text), zero semantic change. `cjkGuards` marks
  * rules whose guards are all CJK, so one has-CJK test per text skips them
  * wholesale on ASCII text.
  *
  * Rules with no literal to guard on carry `minDigitRun` instead: the length
  * of the longest run of consecutive `\d` every match contains (derived by
  * hand from the pattern; 0 means no bound). Under `UNICODE_CHARACTER_CLASS`
  * `\d` is exactly `Character.isDigit` on a code point, so the scanner's one
  * pass over the text measures its longest such run and skips a rule whose
  * `minDigitRun` exceeds it — again pure performance: the zh ID, PASSPORT,
  * UNIFIED_BUSINESS_NO and MEDICAL_ID rules otherwise run on every turn.
  */
object RegexRules {

  final case class Rule(
      typ: String,
      pattern: Pattern,
      guards: Seq[String] = Nil,
      minDigitRun: Int = 0
  ) {
    val cjkGuards: Boolean =
      guards.nonEmpty && guards.forall(_.forall(c => c >= '一' && c <= '鿿'))

    // Rules live in JVM-wide statics (never serialized); one reusable
    // matcher per (rule, task thread) kills 13 Matcher allocations per row.
    private val localMatcher: ThreadLocal[java.util.regex.Matcher] =
      ThreadLocal.withInitial(() => pattern.matcher(""))

    def matcher(text: String): java.util.regex.Matcher = {
      val m = localMatcher.get()
      m.reset(text)
      m
    }
  }

  private def compile(p: String, flags: Int = 0): Pattern =
    Pattern.compile(p, flags | Pattern.UNICODE_CHARACTER_CLASS)

  /** `configs/regex_zh.yaml` — order preserved. */
  lazy val zh: IndexedSeq[Rule] = IndexedSeq(
    Rule("ID", compile("[A-Z]\\d{9}", Pattern.CASE_INSENSITIVE), minDigitRun = 9),
    Rule("PHONE", compile("09\\d{2}-?\\d{3}-?\\d{3}", Pattern.MULTILINE), Seq("09")),
    Rule("EMAIL", compile("[\\w\\.-]+@[\\w\\.-]+\\.[A-Za-z]{2,4}"), Seq("@")),
    Rule("ADDRESS", compile("(台北市|台中市|高雄市)[^,，°]{3,20}(路|街|巷)\\d+號?"),
      Seq("台北市", "台中市", "高雄市")),
    Rule(
      "ADDRESS",
      compile(
        "(臺北市|台北市|新北市|桃園市|臺中市|台中市|臺南市|台南市|高雄市)[^,，°]{1,30}(路|街|巷|大道|段)\\d+號"
      ),
      Seq("臺北市", "台北市", "新北市", "桃園市", "臺中市", "台中市", "臺南市", "台南市", "高雄市")
    ),
    Rule("ADDRESS", compile("[^\\n，；。]{1,30}(村|里)([^\\n，；。]{1,20})(鄰)\\d+號"), Seq("鄰")),
    Rule("ADDRESS", compile("(\\d+樓|\\d+樓之\\d|\\d+樓之\\d+)"), Seq("樓")),
    Rule("ADDRESS", compile("(建國路|中山北路|信義路|光復南路|民生東路)[^,，°]{1,20}段?\\d+號"),
      Seq("建國路", "中山北路", "信義路", "光復南路", "民生東路")),
    Rule("ADDRESS", compile("\\d{3,4}巷\\d{1,3}弄\\d{1,3}號"), Seq("巷")),
    Rule("ADDRESS", compile("[^\\n，；。]{1,30}(大樓|社區|大廈|商業大樓)[^,，；。]{0,30}"),
      Seq("大樓", "社區", "大廈")),
    Rule("PASSPORT", compile("[A-Z]{1,2}\\d{6,8}"), minDigitRun = 6),
    Rule("UNIFIED_BUSINESS_NO", compile("\\d{8}"), minDigitRun = 8),
    Rule("MEDICAL_ID", compile("[A-Z]\\d{7,8}"), minDigitRun = 7)
  )

  /** `configs/regex_en.yaml` — order preserved. */
  lazy val en: IndexedSeq[Rule] = IndexedSeq(
    Rule("ID", compile("\\b\\d{3}-\\d{2}-\\d{4}\\b", Pattern.CASE_INSENSITIVE), Seq("-")),
    Rule(
      "PHONE",
      compile("\\b(?:\\+1[-.\\s]?|1[-.\\s]?)?\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b")
    ),
    Rule("EMAIL", compile("[\\w\\.\\-]+@[\\w\\.\\-]+\\.[A-Za-z]{2,}"), Seq("@")),
    Rule(
      "ADDRESS",
      compile("\\b\\d+\\s+\\w+\\s+(?:Street|St|Avenue|Ave|Boulevard|Blvd|Road|Rd|Lane|Ln)\\b"),
      Seq("St", "Ave", "Blvd", "Rd", "Road", "Ln", "Lane")
    ),
    Rule("PASSPORT", compile("[A-PR-WYa-pr-wy][1-9]\\d\\s?\\d{4}[1-9]")),
    Rule("UNIFIED_BUSINESS_NO", compile("\\b\\d{2}-\\d{7}\\b"), Seq("-")),
    Rule("MEDICAL_ID", compile("\\b[A-Za-z0-9]{6,12}\\b"))
  )

  /** The model-stub patterns (`pii/detectors/bert_detector.py:162-177`),
    * source tag `"regex_stub"`. Only active when a job opts into the stub
    * detector; `get_detector` with `USE_STUB=true` never instantiates it
    * (`pii/detectors/__init__.py:20-76`), so the golden default composite is
    * regex-only.
    */
  lazy val stub: IndexedSeq[Rule] = IndexedSeq(
    Rule("ID", compile("[A-Z][12]\\d{8}")),
    Rule("PHONE", compile("09\\d{2}-?\\d{3}-?\\d{3}"), Seq("09"))
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
