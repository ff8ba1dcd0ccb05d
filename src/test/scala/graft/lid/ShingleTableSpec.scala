package graft.lid

import org.scalatest.funsuite.AnyFunSuite

class ShingleTableSpec extends AnyFunSuite {
  test("shingle table capacity: next power of two >= 2m, at least 16") {
    assert(TextStats.shingleTableCapacity(0) == 16)
    assert(TextStats.shingleTableCapacity(8) == 16)
    assert(TextStats.shingleTableCapacity(9) == 32)
    assert(TextStats.shingleTableCapacity(1000) == 2048)
  }

  test("shingle table capacity: 2^29 windows fit, 2^30 fail loudly instead of overflowing") {
    assert(TextStats.shingleTableCapacity(1 << 29) == (1 << 30))
    val e = intercept[IllegalArgumentException](TextStats.shingleTableCapacity(1 << 30))
    assert(e.getMessage.contains("2^30"))
  }
}
