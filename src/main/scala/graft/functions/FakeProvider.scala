package graft.functions

/** Deterministic replacement-value generation — a bit-exact clone of the
  * reference's golden path: `FakeProvider.generate_deterministic` with faker
  * and GPT-2 unavailable, i.e. `_fallback_generate`
  * (`/root/reference/src/deid_pipeline/pii/utils/fake_provider.py:57-173`).
  *
  * The reference's default env (its `tests/conftest.py`, and its shipped
  * `.venv` without faker/transformers) always takes this path, so the
  * MT19937-driven sequences below ARE the golden fixtures.
  *
  * Default locale is `zh_TW` (`config.py` `FAKER_LOCALE`), i.e. `is_tw=true`.
  * Pure function of (entityType, original, contextHash) — no cache needed
  * (the reference's LRU caches only memoize this same pure computation).
  */
object FakeProvider {

  private val TW_ID_LETTERS = "ABCDEFGHJKLMNPQRSTUVXYWZ"
  private val TW_NAMES = IndexedSeq("王小明", "陳怡君", "林志明", "張雅婷")
  private val EN_NAMES =
    IndexedSeq("John Smith", "Alice Chen", "Michael Brown", "Emily Davis")
  private val TW_ADDRESSES =
    IndexedSeq("台北市信義路1號", "新北市中山路10號", "台中市民生路99號")
  private val PASSPORT_PREFIXES = IndexedSeq("P", "PA", "PB")
  private val GENDERS = IndexedSeq("1", "2")

  /** `generate_deterministic` (`fake_provider.py:52-67,83-102`) on its
    * `_fallback_generate` path (`fake_provider.py:104-168`).
    */
  def generateDeterministic(
      entityType: String,
      original: String,
      contextHash: String,
      isTw: Boolean = true
  ): String = {
    val stableKey = s"$entityType:$original:$contextHash"
    if (drawn.contains(entityType)) {
      draw(entityType, PyRandom.threadLocal(Digests.seedOf(stableKey)), isTw)
    } else placeholder(entityType, Digests.sha256Hex(stableKey))
  }

  /** The entity types whose value is drawn from MT19937; any other type
    * gets [[placeholder]].
    */
  private val drawn: Set[String] = Set("ID", "TW_ID", "PHONE", "EMAIL", "UNIFIED_BUSINESS_NO",
    "PASSPORT", "MEDICAL_ID", "CONTRACT_NO", "ORGANIZATION", "NAME", "ADDRESS")

  /** Generates the values of blocks of keys. Every key whose type draws
    * from MT19937 is seeded in one [[PyRandom.Block]] pass, then drawn from
    * its own lane. Holds its own SHA-256 instance, so a caller can hash
    * with [[sha]] too. Reusable; not thread-safe.
    */
  final class Batch {
    val sha: java.security.MessageDigest = java.security.MessageDigest.getInstance("SHA-256")
    // one lane wide until a block asks for more: a state row per word, so
    // the one-turn path keeps its few lanes' rows compact in cache
    private val rng = new PyRandom.Block(1)
    private var seeds = new Array[Int](8)
    private var laneOf = new Array[Int](8)
    /** lanes seeded, and nanoseconds spent seeding them, by the last
      * [[generate]]
      */
    var seeded = 0
    var seedNs = 0L

    /** `out(k)` = [[generateDeterministic]] of key `k < n`, whose type is
      * `types(k)`, whose `type:original` is `names(k)` and whose context
      * hash is `ctx(k)`.
      */
    def generate(
        types: Array[String],
        names: Array[String],
        ctx: Array[String],
        n: Int,
        isTw: Boolean,
        out: Array[String]
    ): Unit = {
      if (n > seeds.length) {
        seeds = new Array[Int](math.max(n, 2 * seeds.length))
        laneOf = new Array[Int](seeds.length)
      }
      var lanes = 0
      var k = 0
      while (k < n) {
        val stableKey = names(k) + ":" + ctx(k)
        if (drawn.contains(types(k))) {
          seeds(lanes) = Digests.seedOf(sha, stableKey).toInt
          laneOf(k) = lanes
          lanes += 1
        } else {
          laneOf(k) = -1
          out(k) = placeholder(types(k), Digests.sha256Hex(sha, stableKey))
        }
        k += 1
      }
      val t0 = System.nanoTime()
      rng.seed(seeds, lanes)
      seedNs = System.nanoTime() - t0
      seeded = lanes
      k = 0
      while (k < n) {
        if (laneOf(k) >= 0) out(k) = draw(types(k), rng.lane(laneOf(k)), isTw)
        k += 1
      }
    }
  }

  /** `_fallback_generate`'s draws from `rng`, already seeded with the key's
    * seed, for an entity type in [[drawn]]. Call order of the RNG draws is
    * load-bearing — do not reorder.
    */
  private def draw(entityType: String, rng: PyRandom, isTw: Boolean): String =
    entityType match {
      case "ID" | "TW_ID" =>
        if (isTw) {
          val letter = rng.choice(TW_ID_LETTERS)
          val gender = rng.choice(GENDERS)
          val mid = digits(rng, 7)
          val checksum = rng.randint(0, 9)
          s"$letter$gender$mid$checksum"
        } else {
          val area = zeroPad(rng.randint(0, 999), 3)
          val group = zeroPad(rng.randint(0, 99), 2)
          area + "-" + group + "-" + zeroPad(rng.randint(0, 9999), 4)
        }
      case "PHONE" =>
        if (isTw) "09" + digits(rng, 8)
        else {
          val exchange = zeroPad(rng.randint(100, 999), 3)
          "555-" + exchange + "-" + zeroPad(rng.randint(0, 9999), 4)
        }
      case "EMAIL" =>
        "user" + zeroPad(rng.randint(0, 999999), 6) + "@example.com"
      case "UNIFIED_BUSINESS_NO" =>
        zeroPad(rng.randint(0, 99999999), 8)
      case "PASSPORT" =>
        val prefix = rng.choice(PASSPORT_PREFIXES)
        prefix + digits(rng, 7)
      case "MEDICAL_ID" =>
        "M" + digits(rng, 7)
      case "CONTRACT_NO" =>
        "CN-" + zeroPad(rng.randint(0, 999999), 6)
      case "ORGANIZATION" =>
        s"Example Organization ${rng.randint(1, 9999)}"
      case "NAME" =>
        if (isTw) rng.choice(TW_NAMES) else rng.choice(EN_NAMES)
      case "ADDRESS" =>
        if (isTw) rng.choice(TW_ADDRESSES)
        else s"${rng.randint(1, 999)} Main Street"
    }

  /** `_placeholder` (`fake_provider.py:170-173`), given the hex sha256 of
    * the stable key.
    */
  private def placeholder(entityType: String, keySha256Hex: String): String =
    s"<$entityType:${keySha256Hex.substring(0, 8)}>"

  /** Python `f"{v:0{width}d}"` for `0 <= v`. */
  private def zeroPad(v: Int, width: Int): String = {
    val s = Integer.toString(v)
    if (s.length >= width) s else "00000000".substring(0, width - s.length) + s
  }

  private def digits(rng: PyRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(rng.randint(0, 9)); i += 1 }
    sb.toString
  }
}
