package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark's DataSketches HLL functions (`hll_sketch_agg` at lgK 12, read by
  * `hll_sketch_estimate`), as the catalog calls them: estimate accuracy
  * and mergeability across groups/partitions.
  */
class HllSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("hll estimate within 5% of exact distinct counts") {
    spark.read.parquet(s"${SparkSpec.testDataDir}/lineitem.parquet")
      .createOrReplaceTempView("li")
    val r = spark.sql(
      """SELECT hll_sketch_estimate(hll_sketch_agg(l_partkey)) AS est,
        |       count(DISTINCT l_partkey) AS exact,
        |       hll_sketch_estimate(hll_sketch_agg(l_orderkey)) AS est_ord,
        |       count(DISTINCT l_orderkey) AS exact_ord
        |FROM li""".stripMargin).head()
    for ((est, exact) <- Seq((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))) {
      val err = math.abs(est - exact).toDouble / exact
      info(s"hll est=$est exact=$exact err=${(err * 100).round}%")
      assert(err <= 0.05, s"estimate $est vs exact $exact")
    }
  }

  test("hll works grouped and over strings, repartition-invariant") {
    spark.read.parquet(s"${SparkSpec.testDataDir}/lineitem.parquet")
      .repartition(7).createOrReplaceTempView("li7")
    val grouped = spark.sql(
      "SELECT l_returnflag, hll_sketch_estimate(hll_sketch_agg(l_linestatus)) AS d " +
        "FROM li7 GROUP BY l_returnflag")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(grouped.values.forall(d => d >= 1 && d <= 2)) // 2 statuses exist
    // distinct strings: merge across 7 partitions must not double-count
    val est = spark.sql("SELECT hll_sketch_estimate(hll_sketch_agg(l_returnflag)) FROM li7")
      .head().getLong(0)
    assert(est == 3) // A, N, R — small cardinality is exact in HLL
  }
}
