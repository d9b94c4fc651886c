package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSizingSpec extends AnyFunSuite {
  test("heap sizes parse to MiB; malformed sizes are refused") {
    assert(Bench.sizeToMb("32g") == 32768)
    assert(Bench.sizeToMb(" 2GB ") == 2048)
    assert(Bench.sizeToMb("512m") == 512)
    assert(Bench.sizeToMb("4096") == 4096)
    assert(Bench.sizeToMb("2048k") == 2)
    assert(Bench.sizeToMb("1t") == 1024 * 1024)
    Seq("1.5g", "", "lots", "4096b", "-2g", "2 g").foreach { s =>
      intercept[IllegalArgumentException](Bench.sizeToMb(s))
    }
  }
}
