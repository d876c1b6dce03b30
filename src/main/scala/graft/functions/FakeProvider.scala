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

  /** `generate_deterministic` (`fake_provider.py:52-67,83-102`). */
  def generateDeterministic(
      entityType: String,
      original: String,
      contextHash: String,
      isTw: Boolean = true
  ): String = {
    val stableKey = s"$entityType:$original:$contextHash"
    val seed = Digests.seedOf(stableKey)
    fallbackGenerate(entityType, stableKey, seed, isTw)
  }

  /** `_fallback_generate` (`fake_provider.py:104-168`). Call order of the
    * RNG draws is load-bearing — do not reorder.
    */
  def fallbackGenerate(
      entityType: String,
      stableKey: String,
      seed: Long,
      isTw: Boolean
  ): String = {
    val rng = PyRandom.threadLocal(seed)
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
      case _ =>
        placeholder(entityType, stableKey)
    }
  }

  /** `_placeholder` (`fake_provider.py:170-173`). */
  def placeholder(entityType: String, stableKey: String): String =
    s"<$entityType:${Digests.sha256Hex(stableKey).substring(0, 8)}>"

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
