package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Theta sketch set algebra through Spark's DataSketches theta functions:
  * pairwise union/intersection estimates must track the exact distinct
  * counts, through the merge path (partitioned input) and the canonical
  * compact byte form of `theta_sketch_agg`.
  */
class ThetaSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val dir = SparkSpec.testDataDir

  test("pairwise audience overlap estimates within 5% of exact") {
    val ev = graft.operators.Relational.events(spark, dir)
      .select("event_type", "user_id").cache()
    val est = graft.operators.Relational.thetaOverlap(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(est.size == 10, s"5 event types -> 10 pairs, got ${est.size}")

    val types = ev.select("event_type").distinct().collect().map(_.getString(0)).sorted
    for (a <- types; b <- types if a < b) {
      val usersA = ev.filter(col("event_type") === a).select("user_id").distinct()
      val usersB = ev.filter(col("event_type") === b).select("user_id").distinct()
      val exactBoth = usersA.intersect(usersB).count()
      val exactEither = usersA.union(usersB).distinct().count()
      val exactOnlyA = usersA.except(usersB).count()
      val (estBoth, estEither, estOnlyA) = est((a, b))
      assert(math.abs(estBoth - exactBoth) <= math.max(2, exactBoth / 20),
        s"($a,$b) intersect est $estBoth vs exact $exactBoth")
      assert(math.abs(estEither - exactEither) <= math.max(2, exactEither / 20),
        s"($a,$b) union est $estEither vs exact $exactEither")
      assert(math.abs(estOnlyA - exactOnlyA) <= math.max(2, exactOnlyA / 20),
        s"($a,$b) a-not-b est $estOnlyA vs exact $exactOnlyA")
    }
    ev.unpersist()
  }

  test("compact sketch bytes are canonical under repartitioning") {
    val ev = graft.operators.Relational.events(spark, dir).select("event_type", "user_id")
    ev.repartition(13).createOrReplaceTempView("theta_e13")
    ev.coalesce(1).createOrReplaceTempView("theta_e1")
    def bytes(view: String) = spark.sql(
      s"SELECT event_type, theta_sketch_agg(user_id) AS sk FROM $view GROUP BY event_type")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(bytes("theta_e13") == bytes("theta_e1"),
      "compact-ordered theta sketches must not depend on partitioning")
  }
}
