package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

class MinHashLSHSpec extends AnyFunSuite {

  test("shingle scratch: a capacity past 2^29 is rejected before any table is sized") {
    val s = new MinHashLSH.ShingleScratch
    for (huge <- Seq((1 << 30) + 1, Int.MaxValue))
      intercept[IllegalArgumentException](s.reset(huge))
    s.reset(3) // the default table still serves
    Seq(7L, 7L, 9L).foreach(s.add)
    assert(s.count == 2)
  }
}
