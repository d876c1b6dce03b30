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
