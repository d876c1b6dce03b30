package graft

import graft.functions.{Digests, PyRandom}
import org.scalatest.funsuite.AnyFunSuite

/** Golden vectors dumped from CPython 3.x `random.Random`:
  * {{{
  * random.Random(12345).getrandbits(32) x5
  *   -> 1789368711, 3146859322, 43676229, 3522623596, 3544234957
  * random.Random(0): 3626764237, 1654615998, 3255389356
  * random.Random(0xffffffff): 2728839433, 2661025012, 872737089
  * random.Random(1).randint(0,9) x10 -> 2,9,1,4,1,7,7,7,6,3
  * random.Random(7).choice('ABCDEFGHJKLMNPQRSTUVXYWZ') -> 'L'
  * random.Random(999): randint(100,999)=900, randint(0,9999)=1311
  * r = random.Random(12345); d = [r.getrandbits(32) for _ in range(1251)]
  * d[623:627]   -> 2049964430, 4171722749, 3649179348, 3014839245
  * d[1247:1251] -> 161923315, 614870966, 1603027971, 2512721587
  * }}}
  * Draws 623-626 and 1247-1250 straddle the first and second 624-word
  * twists, which the generator performs one word at a time.
  */
class PyRandomSpec extends AnyFunSuite {

  test("getrandbits(32) matches CPython for seed 12345") {
    val r = new PyRandom(12345L)
    assert(Seq.fill(5)(r.getrandbits(32)) ==
      Seq(1789368711L, 3146859322L, 43676229L, 3522623596L, 3544234957L))
  }

  test("seed 0 and seed 0xffffffff edges") {
    val r0 = new PyRandom(0L)
    assert(Seq.fill(3)(r0.getrandbits(32)) ==
      Seq(3626764237L, 1654615998L, 3255389356L))
    val rf = new PyRandom(0xffffffffL)
    assert(Seq.fill(3)(rf.getrandbits(32)) ==
      Seq(2728839433L, 2661025012L, 872737089L))
  }

  test("getrandbits(32) matches CPython across the first and second twists") {
    val r = new PyRandom(12345L)
    val d = Seq.fill(1251)(r.getrandbits(32))
    assert(d.slice(623, 627) ==
      Seq(2049964430L, 4171722749L, 3649179348L, 3014839245L))
    assert(d.slice(1247, 1251) ==
      Seq(161923315L, 614870966L, 1603027971L, 2512721587L))
  }

  test("threadLocal reseeded mid-sequence equals a fresh instance") {
    val used = PyRandom.threadLocal(42L)
    (1 to 700).foreach(_ => used.getrandbits(32))
    val reused = PyRandom.threadLocal(12345L)
    assert(reused eq used)
    val got = Seq.fill(30)(reused.getrandbits(32))
    val fresh = new PyRandom(12345L)
    assert(got == Seq.fill(30)(fresh.getrandbits(32)))
  }

  test("a block of two seeds both lanes like two fresh instances") {
    val rnd = new scala.util.Random(20261019L)
    val seeds = Seq(0L, 1L, 12345L, 0xffffffffL) ++ Seq.fill(6)(rnd.nextLong() & 0xffffffffL)
    val block = new PyRandom.Block(2)
    for (a <- seeds; b <- seeds) {
      block.seed(Array(a.toInt, b.toInt), 2)
      val (ra, rb) = (block.lane(0), block.lane(1))
      assert(ra ne rb)
      // 1,300 draws each pass the first and second 624-word twists
      val drawsA = Seq.fill(1300)(ra.getrandbits(32))
      val drawsB = Seq.fill(1300)(rb.getrandbits(32))
      val freshA = new PyRandom(a)
      val freshB = new PyRandom(b)
      assert(drawsA == Seq.fill(1300)(freshA.getrandbits(32)), s"seed pair ($a, $b), first")
      assert(drawsB == Seq.fill(1300)(freshB.getrandbits(32)), s"seed pair ($a, $b), second")
    }
    // reseeding one lane alone leaves the other lane's stream where it was
    block.seed(Array(7, 8), 2)
    block.lane(0).reseed(12345L)
    val fresh8 = new PyRandom(8L)
    assert(Seq.fill(5)(block.lane(1).getrandbits(32)) == Seq.fill(5)(fresh8.getrandbits(32)))
    val fresh12345 = new PyRandom(12345L)
    assert(Seq.fill(5)(block.lane(0).getrandbits(32)) ==
      Seq.fill(5)(fresh12345.getrandbits(32)))
  }

  /** The first 1,300 outputs of every draw API of `r`, in one sequence:
    * 32-bit words, then randbelow / randint / choice / random / *Long
    * draws in turn, which together pass the first and second twists.
    */
  private def draws(r: PyRandom): Iterator[Any] = (0 until 1300).iterator.map { i =>
    i % 9 match {
      case 0 => r.getrandbits(32)
      case 1 => r.getrandbits(1 + i % 32)
      case 2 => r.randbelow(1 + i)
      case 3 => r.randint(-5, 9 + i)
      case 4 => r.choice("ABCDEFGHJKLMNPQRSTUVXYWZ")
      case 5 => r.choice(IndexedSeq("P", "PA", "PB"))
      case 6 => r.random()
      case 7 => r.uniform(-1.0, 3.0)
      case _ =>
        (r.getrandbitsLong(33 + i % 31), r.randbelowLong(10000000000L),
          r.randintLong(1000000000L, 10000000000L))
    }
  }

  test("every lane of a block equals a fresh instance, for every block size") {
    val rnd = new scala.util.Random(20261020L)
    // one block, reused: sizes grow past its width and shrink back
    val block = new PyRandom.Block(1)
    for (n <- Seq(1, 2, 3, 63, 64, 65, 256, 257, 3, 2, 1)) {
      val keys = Array.fill(n)(rnd.nextInt())
      keys(0) = 0
      if (n > 1) keys(n - 1) = 0xffffffff
      block.seed(keys, n)
      // the lanes' draws interleave, so a lane's draws cannot disturb another's
      val got = Array.fill(n)(Vector.newBuilder[Any])
      val its = (0 until n).map(j => draws(block.lane(j)))
      while (its.head.hasNext) (0 until n).foreach(j => got(j) += its(j).next())
      (0 until n).foreach { j =>
        val want = draws(new PyRandom(keys(j) & 0xffffffffL)).toVector
        assert(got(j).result() == want, s"block of $n, lane $j, seed ${keys(j) & 0xffffffffL}")
      }
    }
  }

  test("randint matches CPython") {
    val r = new PyRandom(1L)
    assert(Seq.fill(10)(r.randint(0, 9)) == Seq(2, 9, 1, 4, 1, 7, 7, 7, 6, 3))
    val r999 = new PyRandom(999L)
    assert(r999.randint(100, 999) == 900)
    assert(r999.randint(0, 9999) == 1311)
  }

  test("choice matches CPython") {
    assert(new PyRandom(7L).choice("ABCDEFGHJKLMNPQRSTUVXYWZ") == 'L')
  }

  test("sha256 seed derivation matches Python int(hexdigest[:8], 16)") {
    // python: hashlib.sha256(b"PHONE:0912345678:abc").hexdigest()[:8]
    assert(Digests.sha256Hex("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(Digests.seedOf("abc") == java.lang.Long.parseLong("ba7816bf", 16))
  }
}
