package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_BENCH_FORCE accepts unset, 0 and 1 and rejects anything else") {
    assert(Bench.rowDrive(None))
    assert(Bench.rowDrive(Some("1")))
    assert(!Bench.rowDrive(Some("0")))
    Seq("", "true", "false", "00", " 1", "yes").foreach { v =>
      intercept[IllegalArgumentException](Bench.rowDrive(Some(v)))
    }
  }
}
