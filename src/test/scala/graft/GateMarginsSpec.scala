package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Probe margins` for the sketch gates, as a spec: each of the six sketch
  * accuracy gates must leave part of its error budget unused on the
  * sf0.001 fixture. The catalog's `_check` rows only say pass or fail;
  * this reads how much of the bound the estimate consumed.
  */
class GateMarginsSpec extends AnyFunSuite {

  test("the six sketch gates use less than their whole error budget") {
    val used = graft.tools.GateMargins.sketchGates(SparkSpec.spark, SparkSpec.testDataDir)
    assert(used.map(_._1).toSet == Set("sketch_distinct_check", "sketch_theta_check",
      "sketch_quantile_check", "sketch_hll_merge_check", "sketch_theta_merge_check",
      "sketch_kll_merge_check"))
    used.foreach { case (gate, permille) =>
      info(s"$gate used_permille=$permille")
      assert(permille < 1000, s"$gate used $permille permille of its budget")
    }
  }
}
