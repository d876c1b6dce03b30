package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** sha256 helpers matching the reference's hashing conventions
  * (`handlers/base.py:53-58`, `fake_provider.py:83-85,170-173`).
  */
object Digests {
  // `digest` resets the instance, so one per thread serves every call
  private val sha256: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("SHA-256"))

  private def digest(md: MessageDigest, s: String): Array[Byte] =
    md.digest(s.getBytes(StandardCharsets.UTF_8))

  /** Lowercase hex sha256 of the UTF-8 bytes (Python `hexdigest()`). */
  def sha256Hex(s: String): String = sha256Hex(sha256.get(), s)

  /** [[sha256Hex]] with the caller's SHA-256 instance. */
  def sha256Hex(md: MessageDigest, s: String): String = {
    val d = digest(md, s)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** `int(sha256(key).hexdigest()[:8], 16)` (`fake_provider.py:85`): the
    * first four digest bytes, big-endian, unsigned.
    */
  def seedOf(key: String): Long = seedOf(sha256.get(), key)

  /** [[seedOf]] with the caller's SHA-256 instance. */
  def seedOf(md: MessageDigest, key: String): Long = {
    val d = digest(md, key)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}
