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
  * A `PyRandom` is one lane of a [[PyRandom.Block]], which holds the states
  * of many generators and seeds them together; `new PyRandom(seed)` is the
  * lane of a block of one. Not thread-safe. Hot paths reuse one instance
  * per thread through [[PyRandom.threadLocal]].
  */
final class PyRandom private (block: PyRandom.Block, lane: Int) {

  /** A fresh generator: `random.Random(seed)`. */
  def this(seed: Long) = this({
    val b = new PyRandom.Block(1)
    b.seed(Array((seed & 0xffffffffL).toInt), 1)
    b
  }, 0)

  /** Re-run CPython's int seeding of this lane in place; the block's other
    * lanes keep their streams.
    */
  def reseed(seed: Long): Unit = block.seedOne(lane, (seed & 0xffffffffL).toInt)

  private def genrand(): Int = block.genrand(lane)

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

  /** The MT19937 states of up to `width` generators (lanes), key-major:
    * word `i` of lane `j` is `rows(i)(j)`. [[seed]] seeds `n` lanes in one
    * pass whose inner loops run across lanes, so the JIT vectorizes them;
    * one seeding alone is about 1,250 dependent multiply-add steps. The
    * block grows to fit the largest `n` it is given. Not thread-safe.
    *
    * Seeding does no twisting: it starts from the precomputed
    * `init_genrand(19650218)` state, runs the two `init_by_array` passes,
    * and leaves the state untwisted. Each draw then twists exactly the word
    * it returns. This is exact because words are twisted strictly in index
    * order, 0 to 623 and around again: when word `kk` is twisted, words
    * below `kk` already hold this round's values and words above it the
    * previous round's, which is the array state CPython's eager loop reads
    * at step `kk`. A sequence of fewer than 20 draws thus twists fewer than
    * 20 words.
    */
  final class Block(initialWidth: Int) {
    private var width = math.max(initialWidth, 1)
    private var rows: Array[Array[Int]] = Array.fill(N)(new Array[Int](width))
    private var mti: Array[Int] = new Array[Int](width)
    private var lanes: Array[PyRandom] = new Array[PyRandom](width)

    /** The generator of lane `j`, as last seeded. */
    def lane(j: Int): PyRandom = {
      var r = lanes(j)
      if (r == null) {
        r = new PyRandom(this, j)
        lanes(j) = r
      }
      r
    }

    /** Seeds lane `j` with `keys(j)` (a 32-bit seed) for `j < n`. One or
      * two lanes run their `init_by_array` chains in registers; more run
      * the lane loop.
      */
    def seed(keys: Array[Int], n: Int): Unit = {
      if (n > width) grow(n)
      if (n == 1) seedOne(0, keys(0))
      else if (n == 2) seedTwo(keys(0), keys(1))
      else if (n > 2) seedLanes(keys, n)
    }

    private def grow(n: Int): Unit = {
      width = math.max(n, 2 * width)
      rows = Array.fill(N)(new Array[Int](width))
      mti = new Array[Int](width)
      lanes = java.util.Arrays.copyOf(lanes, width)
    }

    // init_genrand(19650218) then init_by_array([key]); with a one-word key
    // `init_key[j] + j` is always `key + 0`. The first loop reads each word
    // of the init_genrand state once, before writing it, so it reads the
    // precomputed state directly. Each loop's wrap-around (`mt[0] =
    // mt[N-1]; i = 1`) is unrolled after it; its write to word 0 is dead,
    // since word 0 is read only as the previous word, and is set to
    // 0x80000000 at the end

    /** One lane's seeding, its chain in a register. */
    private[functions] def seedOne(j: Int, key: Int): Unit = {
      val g = genrand19650218
      val rows = this.rows
      var prev = g(0)
      var i = 1
      while (i < N) { // first loop: N steps, i = 1 .. N-1 then 1
        prev = (g(i) ^ ((prev ^ (prev >>> 30)) * 1664525)) + key
        rows(i)(j) = prev
        i += 1
      }
      prev = (rows(1)(j) ^ ((prev ^ (prev >>> 30)) * 1664525)) + key
      rows(1)(j) = prev
      i = 2
      while (i < N) { // second loop: N-1 steps, i = 2 .. N-1 then 1
        val r = rows(i)
        prev = (r(j) ^ ((prev ^ (prev >>> 30)) * 1566083941)) - i
        r(j) = prev
        i += 1
      }
      rows(1)(j) = (rows(1)(j) ^ ((prev ^ (prev >>> 30)) * 1566083941)) - 1
      rows(0)(j) = 0x80000000
      mti(j) = N
    }

    /** Lanes 0 and 1 in one loop, their two chains' steps interleaved so
      * the CPU overlaps them.
      */
    private def seedTwo(ka: Int, kb: Int): Unit = {
      val g = genrand19650218
      val rows = this.rows
      var pa = g(0)
      var pb = g(0)
      var i = 1
      while (i < N) {
        val gi = g(i)
        pa = (gi ^ ((pa ^ (pa >>> 30)) * 1664525)) + ka
        pb = (gi ^ ((pb ^ (pb >>> 30)) * 1664525)) + kb
        val r = rows(i)
        r(0) = pa
        r(1) = pb
        i += 1
      }
      val r1 = rows(1)
      pa = (r1(0) ^ ((pa ^ (pa >>> 30)) * 1664525)) + ka
      pb = (r1(1) ^ ((pb ^ (pb >>> 30)) * 1664525)) + kb
      r1(0) = pa
      r1(1) = pb
      i = 2
      while (i < N) {
        val r = rows(i)
        pa = (r(0) ^ ((pa ^ (pa >>> 30)) * 1566083941)) - i
        pb = (r(1) ^ ((pb ^ (pb >>> 30)) * 1566083941)) - i
        r(0) = pa
        r(1) = pb
        i += 1
      }
      r1(0) = (r1(0) ^ ((pa ^ (pa >>> 30)) * 1566083941)) - 1
      r1(1) = (r1(1) ^ ((pb ^ (pb >>> 30)) * 1566083941)) - 1
      rows(0)(0) = 0x80000000
      rows(0)(1) = 0x80000000
      mti(0) = N
      mti(1) = N
    }

    /** Lanes `0 until n`, one word of every lane per step: each inner loop
      * reads row `i - 1` and writes row `i` across lanes.
      */
    private def seedLanes(keys: Array[Int], n: Int): Unit = {
      val g = genrand19650218
      val rows = this.rows
      val g0 = g(0)
      val c1 = g(1) ^ ((g0 ^ (g0 >>> 30)) * 1664525) // step 1's constant part
      val r1 = rows(1)
      var j = 0
      while (j < n) { r1(j) = c1 + keys(j); j += 1 }
      var i = 2
      while (i < N) { // first loop
        val prev = rows(i - 1)
        val cur = rows(i)
        val gi = g(i)
        j = 0
        while (j < n) {
          val p = prev(j)
          cur(j) = (gi ^ ((p ^ (p >>> 30)) * 1664525)) + keys(j)
          j += 1
        }
        i += 1
      }
      val last = rows(N - 1)
      j = 0
      while (j < n) {
        val p = last(j)
        r1(j) = (r1(j) ^ ((p ^ (p >>> 30)) * 1664525)) + keys(j)
        j += 1
      }
      i = 2
      while (i < N) { // second loop
        val prev = rows(i - 1)
        val cur = rows(i)
        j = 0
        while (j < n) {
          val p = prev(j)
          cur(j) = (cur(j) ^ ((p ^ (p >>> 30)) * 1566083941)) - i
          j += 1
        }
        i += 1
      }
      j = 0
      while (j < n) {
        val p = last(j)
        r1(j) = (r1(j) ^ ((p ^ (p >>> 30)) * 1566083941)) - 1
        j += 1
      }
      java.util.Arrays.fill(rows(0), 0, n, 0x80000000)
      java.util.Arrays.fill(mti, 0, n, N)
    }

    /** Lane `j`'s next 32-bit output. */
    private[functions] def genrand(j: Int): Int = {
      val rows = this.rows
      var kk = mti(j)
      if (kk >= N) kk = 0
      // the eager twist's step kk (genrand_uint32 in Modules/_randommodule.c)
      val cur = rows(kk)
      val next = if (kk == N - 1) rows(0)(j) else rows(kk + 1)(j)
      val y = (cur(j) & 0x80000000) | (next & 0x7fffffff)
      val far = if (kk < N - M) rows(kk + M)(j) else rows(kk + M - N)(j)
      var w = far ^ (y >>> 1) ^ (if ((y & 1) != 0) 0x9908b0df else 0)
      cur(j) = w
      mti(j) = kk + 1
      w ^= w >>> 11
      w ^= (w << 7) & 0x9d2c5680
      w ^= (w << 15) & 0xefc60000
      w ^ (w >>> 18)
    }
  }

  private val tl: ThreadLocal[PyRandom] =
    ThreadLocal.withInitial(() => new PyRandom(0L))

  /** Per-thread reusable instance, reseeded for the caller. */
  def threadLocal(seed: Long): PyRandom = {
    val r = tl.get()
    r.reseed(seed)
    r
  }
}
