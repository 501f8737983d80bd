package graft

import org.scalatest.funsuite.AnyFunSuite

/** The official 2->8 scaling estimator never publishes an impossible value. */
class BenchSpec extends AnyFunSuite {

  test("n2_to_n8: median of the pairs <= 1.0, else floor-of-floors, else null") {
    // BENCH_r05's same-round pairs: its best-pair estimator printed 1.112
    val r05 = Seq(0.513, 0.850, 0.593, 0.349, 1.112, 0.565)
    assert(Bench.n2ToN8(r05, 0.718) == Some(0.565))
    assert(Bench.n2ToN8(Seq(0.8, 0.9, 1.3), 0.7) == Some((0.8 + 0.9) / 2))
    assert(Bench.n2ToN8(Seq(1.05, 1.2), 0.7) == Some(0.7))
    assert(Bench.n2ToN8(Nil, 0.7) == Some(0.7))
    assert(Bench.n2ToN8(Seq(1.05), 1.01).isEmpty)
    assert(Bench.n2ToN8(Nil, Double.NaN).isEmpty)
  }
}
