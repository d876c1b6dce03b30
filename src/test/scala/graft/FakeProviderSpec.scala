package graft

import graft.functions.FakeProvider
import org.scalatest.funsuite.AnyFunSuite

/** `isTw = false` branches and zero-padded formats of the MT19937 fallback,
  * which `golden_deid.json` (zh_TW only) does not reach. Expected values
  * from CPython, following `_fallback_generate`:
  * {{{
  * import random, hashlib
  * def rng(t, o, c="ctx"):
  *     k = f"{t}:{o}:{c}"
  *     return random.Random(int(hashlib.sha256(k.encode()).hexdigest()[:8], 16))
  * r = rng("ID", "123-45-6789")
  * f"{r.randint(0,999):03d}-{r.randint(0,99):02d}-{r.randint(0,9999):04d}"  # 336-20-9263
  * r = rng("ID", "v18044"); same format                                       # 000-04-0782
  * r = rng("PHONE", "555-123-4567")
  * f"555-{r.randint(100,999):03d}-{r.randint(0,9999):04d}"                     # 555-907-7805
  * r = rng("PHONE", "v52"); same format                                       # 555-130-0043
  * rng("NAME", "Bob Lee").choice(["John Smith", "Alice Chen", "Michael Brown", "Emily Davis"])
  *                                                                            # Michael Brown
  * f"{rng('ADDRESS', '12 Oak St').randint(1,999)} Main Street"                # 265 Main Street
  * f"user{rng('EMAIL', 'v224').randint(0,999999):06d}@example.com"            # user000438@example.com
  * f"{rng('UNIFIED_BUSINESS_NO', 'v937').randint(0,99999999):08d}"           # 00062993
  * f"CN-{rng('CONTRACT_NO', 'v422').randint(0,999999):06d}"                  # CN-000386
  * }}}
  */
class FakeProviderSpec extends AnyFunSuite {

  private def gen(typ: String, original: String, isTw: Boolean) =
    FakeProvider.generateDeterministic(typ, original, "ctx", isTw)

  test("isTw = false branches of ID, PHONE, NAME and ADDRESS match CPython") {
    assert(gen("ID", "123-45-6789", isTw = false) == "336-20-9263")
    assert(gen("ID", "v18044", isTw = false) == "000-04-0782")
    assert(gen("PHONE", "555-123-4567", isTw = false) == "555-907-7805")
    assert(gen("PHONE", "v52", isTw = false) == "555-130-0043")
    assert(gen("NAME", "Bob Lee", isTw = false) == "Michael Brown")
    assert(gen("ADDRESS", "12 Oak St", isTw = false) == "265 Main Street")
  }

  test("zero padding of small draws in EMAIL, UNIFIED_BUSINESS_NO and CONTRACT_NO") {
    for (isTw <- Seq(true, false)) {
      assert(gen("EMAIL", "v224", isTw) == "user000438@example.com")
      assert(gen("UNIFIED_BUSINESS_NO", "v937", isTw) == "00062993")
      assert(gen("CONTRACT_NO", "v422", isTw) == "CN-000386")
    }
  }
}
