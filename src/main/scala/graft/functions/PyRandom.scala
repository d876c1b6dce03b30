package graft.functions

/** Bit-exact clone of CPython's `random.Random(seed)` for 32-bit integer
  * seeds — MT19937 seeded via `init_by_array`, plus the `getrandbits` /
  * `_randbelow` / `randint` / `choice` call semantics the reference's
  * deterministic fake provider depends on
  * (`/root/reference/src/deid_pipeline/pii/utils/fake_provider.py:104-168`:
  * `rng = random.Random(int(seed))`).
  *
  * CPython seeds an int by splitting its absolute value into little-endian
  * 32-bit words and calling `init_by_array` (Modules/_randommodule.c,
  * `random_seed`). All seeds here come from
  * `int(sha256(key).hexdigest()[:8], 16)` so they fit one word.
  *
  * Not thread-safe. Hot paths reuse one instance per thread through
  * [[PyRandom.threadLocal]].
  *
  * Seeding does no twisting: `reseed` starts from the precomputed
  * `init_genrand(19650218)` state, runs the two `init_by_array` passes, and
  * leaves the state untwisted. Each draw then twists exactly the word it
  * returns. This is exact because words are twisted strictly in index
  * order, 0 to 623 and around again: when word `kk` is twisted, words below
  * `kk` already hold this round's values and words above it the previous
  * round's, which is the array state CPython's eager loop reads at step
  * `kk`. A sequence of fewer than 20 draws thus twists fewer than 20 words.
  *
  * Seeding is about 1,250 dependent multiply-add steps. Two seeds run
  * together through [[PyRandom.threadLocalPair]], whose one loop carries
  * both `init_by_array` chains: they do not depend on each other, so the
  * CPU overlaps them.
  */
final class PyRandom(seed: Long) {
  import PyRandom.{M, N}

  private val mt = new Array[Int](N)
  private var mti = N

  reseed(seed)

  /** Re-run CPython's int seeding in place — lets hot paths reuse one
    * instance per thread instead of allocating the 2.5 KB state per draw
    * sequence (see [[PyRandom.threadLocal]]).
    */
  def reseed(seed: Long): Unit = {
    // init_genrand(19650218) then init_by_array([seed & 0xffffffff]); with a
    // one-word key `init_key[j] + j` is always `key + 0`. The first loop
    // reads each word of the init_genrand state once, before writing it, so
    // it reads the precomputed state directly. Each loop's wrap-around
    // (`mt[0] = mt[N-1]; i = 1`) is unrolled after it; its write to mt[0] is
    // dead, since mt[0] is read only as the previous word, which `prev`
    // holds, and is set to 0x80000000 at the end
    val g = PyRandom.genrand19650218
    val mt = this.mt
    val key = (seed & 0xffffffffL).toInt
    var prev = g(0)
    var i = 1
    while (i < N) { // first loop: N steps, i = 1 .. N-1 then 1
      prev = (g(i) ^ ((prev ^ (prev >>> 30)) * 1664525)) + key
      mt(i) = prev
      i += 1
    }
    prev = (mt(1) ^ ((prev ^ (prev >>> 30)) * 1664525)) + key
    mt(1) = prev
    i = 2
    while (i < N) { // second loop: N-1 steps, i = 2 .. N-1 then 1
      prev = (mt(i) ^ ((prev ^ (prev >>> 30)) * 1566083941)) - i
      mt(i) = prev
      i += 1
    }
    mt(1) = (mt(1) ^ ((prev ^ (prev >>> 30)) * 1566083941)) - 1
    mt(0) = 0x80000000
    mti = N
  }

  private def genrand(): Int = {
    if (mti >= N) mti = 0
    val kk = mti
    // the eager twist's step kk (genrand_uint32 in Modules/_randommodule.c)
    val next = if (kk == N - 1) mt(0) else mt(kk + 1)
    val y = (mt(kk) & 0x80000000) | (next & 0x7fffffff)
    val far = if (kk < N - M) mt(kk + M) else mt(kk + M - N)
    var w = far ^ (y >>> 1) ^ (if ((y & 1) != 0) 0x9908b0df else 0)
    mt(kk) = w
    mti = kk + 1
    w ^= w >>> 11
    w ^= (w << 7) & 0x9d2c5680
    w ^= (w << 15) & 0xefc60000
    w ^ (w >>> 18)
  }

  /** Python `getrandbits(k)` for 1 <= k <= 32: top k bits of one draw. */
  def getrandbits(k: Int): Long = {
    require(k >= 1 && k <= 32, s"getrandbits($k) unsupported")
    ((genrand() >>> (32 - k)).toLong & 0xffffffffL)
  }

  /** Python `Random._randbelow_with_getrandbits(n)`: rejection sampling. */
  def randbelow(n: Int): Int = {
    require(n > 0)
    val k = 32 - Integer.numberOfLeadingZeros(n) // n.bit_length()
    var r = getrandbits(k)
    while (r >= n) r = getrandbits(k)
    r.toInt
  }

  /** Python `randint(a, b)` — inclusive both ends. */
  def randint(a: Int, b: Int): Int = a + randbelow(b - a + 1)

  /** Python `choice(seq)`. */
  def choice[T](seq: IndexedSeq[T]): T = seq(randbelow(seq.length))

  /** Python `choice(str)` — one character. */
  def choice(s: String): Char = s.charAt(randbelow(s.length))

  /** Python `random()`: 53-bit double in [0, 1) — `random_random` in
    * Modules/_randommodule.c: `(a*67108864.0+b)*(1.0/9007199254740992.0)`
    * with a = next()>>5, b = next()>>6.
    */
  def random(): Double = {
    val a = (genrand() >>> 5).toLong
    val b = (genrand() >>> 6).toLong
    (a * 67108864.0 + b) * (1.0 / 9007199254740992.0)
  }

  /** Python `uniform(a, b)` = `a + (b-a) * random()`. */
  def uniform(a: Double, b: Double): Double = a + (b - a) * random()

  /** `_randbelow` for spans past Int range (e.g. `randint(10**9, 10**10)`):
    * getrandbits(k) assembled from 32-bit words exactly like CPython's
    * `getrandbits` for k > 32 (little-endian words, top word truncated).
    */
  def randbelowLong(n: Long): Long = {
    require(n > 0)
    val k = 64 - java.lang.Long.numberOfLeadingZeros(n)
    var r = getrandbitsLong(k)
    while (r >= n) r = getrandbitsLong(k)
    r
  }

  /** Python `getrandbits(k)` for 1 <= k <= 63. */
  def getrandbitsLong(k: Int): Long = {
    require(k >= 1 && k <= 63)
    if (k <= 32) getrandbits(k)
    else {
      // CPython emits ceil(k/32) words, low word first; the LAST word keeps
      // its top (k % 32) bits
      val lo = genrand().toLong & 0xffffffffL
      val hiBits = k - 32
      val hi = (genrand() >>> (32 - hiBits)).toLong & 0xffffffffL
      lo | (hi << 32)
    }
  }

  /** Python `randint(a, b)` over Long bounds. */
  def randintLong(a: Long, b: Long): Long = a + randbelowLong(b - a + 1)
}

object PyRandom {
  private val N = 624
  private val M = 397

  /** `init_genrand(19650218)`: the state every `init_by_array` starts from. */
  private val genrand19650218: Array[Int] = {
    val a = new Array[Int](N)
    a(0) = 19650218
    var i = 1
    while (i < N) {
      a(i) = 1812433253 * (a(i - 1) ^ (a(i - 1) >>> 30)) + i
      i += 1
    }
    a
  }

  private val tl: ThreadLocal[PyRandom] =
    ThreadLocal.withInitial(() => new PyRandom(0L))
  private val tl2: ThreadLocal[PyRandom] =
    ThreadLocal.withInitial(() => new PyRandom(0L))

  /** Per-thread reusable instance, reseeded for the caller. */
  def threadLocal(seed: Long): PyRandom = {
    val r = tl.get()
    r.reseed(seed)
    r
  }

  /** The thread's two reusable instances, seeded with `seedA` and `seedB`:
    * each equals a fresh `PyRandom` of its seed. The first is the instance
    * [[threadLocal]] returns.
    */
  def threadLocalPair(seedA: Long, seedB: Long): (PyRandom, PyRandom) = {
    val a = tl.get()
    val b = tl2.get()
    seedPair(a, seedA, b, seedB)
    (a, b)
  }

  /** [[PyRandom.reseed]] of `a` and `b` in one loop, the two chains'
    * steps interleaved.
    */
  private def seedPair(a: PyRandom, seedA: Long, b: PyRandom, seedB: Long): Unit = {
    val g = genrand19650218
    val ma = a.mt
    val mb = b.mt
    val ka = (seedA & 0xffffffffL).toInt
    val kb = (seedB & 0xffffffffL).toInt
    var pa = g(0)
    var pb = g(0)
    var i = 1
    while (i < N) {
      val gi = g(i)
      pa = (gi ^ ((pa ^ (pa >>> 30)) * 1664525)) + ka
      pb = (gi ^ ((pb ^ (pb >>> 30)) * 1664525)) + kb
      ma(i) = pa
      mb(i) = pb
      i += 1
    }
    pa = (ma(1) ^ ((pa ^ (pa >>> 30)) * 1664525)) + ka
    pb = (mb(1) ^ ((pb ^ (pb >>> 30)) * 1664525)) + kb
    ma(1) = pa
    mb(1) = pb
    i = 2
    while (i < N) {
      pa = (ma(i) ^ ((pa ^ (pa >>> 30)) * 1566083941)) - i
      pb = (mb(i) ^ ((pb ^ (pb >>> 30)) * 1566083941)) - i
      ma(i) = pa
      mb(i) = pb
      i += 1
    }
    ma(1) = (ma(1) ^ ((pa ^ (pa >>> 30)) * 1566083941)) - 1
    mb(1) = (mb(1) ^ ((pb ^ (pb >>> 30)) * 1566083941)) - 1
    ma(0) = 0x80000000
    mb(0) = 0x80000000
    a.mti = N
    b.mti = N
  }
}
