package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Frequent-items sketch (Spark's `approx_top_k` with a 256-entry map, and
  * `graft_freq_check`): the no-false-negative guarantee and the error
  * bound must hold against exact token counts, including through the
  * merge path (many input partitions).
  */
class FreqSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private lazy val dir = SparkSpec.testDataDir

  test("sketch top-k covers the exact heavy hitters within the error bound") {
    val tokens = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.functions.Portable.tokens("text")).as("token"))
    val exact = tokens.groupBy("token").count()
      .orderBy(desc("count"), col("token"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val n = exact.map(_._2).sum
    val maxErr = n / 256 // a priori bound for maxMapSize=256

    val sketch = graft.operators.TextAnalysis.topkTermsSketch(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // every exact top-5 token is FAR above the n/maxMapSize threshold here,
    // so the no-false-negative guarantee puts it in the sketch's output
    exact.take(5).foreach { case (tok, cnt) =>
      assert(sketch.contains(tok), s"heavy hitter '$tok' ($cnt) missing from sketch top-k")
      assert(math.abs(sketch(tok) - cnt) <= maxErr,
        s"'$tok' estimate ${sketch(tok)} vs exact $cnt exceeds bound $maxErr")
    }
  }

  test("graft_freq_check exposes bounds that bracket exact counts under purge pressure") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // 4 planted heavies (4000 each) over a near-uniform 31-token background:
    // maxMapSize=8 (capacity 6) forces constant purging, the regime where
    // the lb/ub/max_error contract is non-trivial
    val bg = (0 until 31).flatMap(t => Seq.fill(200)(s"bg_$t"))
    val hh = (0 until 4).flatMap(t => Seq.fill(4000)(s"hh_$t"))
    val tokens = spark.createDataset(bg ++ hh).toDF("token").repartition(13)
    tokens.createOrReplaceTempView("freq_check_t")
    val row = spark.sql(
      "SELECT c.items, c.max_error, c.stream_len FROM " +
        "(SELECT graft_freq_check(token, 8) AS c FROM freq_check_t)").head()
    val items = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val maxError = row.getLong(1)
    assert(row.getLong(2) == bg.size + hh.size) // stream_len exact
    assert(maxError > 0, "purges must actually happen in this regime")
    // no false negatives: every planted heavy (4000 > maxError) is present,
    // and its (lb, ub) brackets the true count
    (0 until 4).foreach { t =>
      val (est, lb, ub) = items.getOrElse(s"hh_$t",
        fail(s"planted heavy hh_$t missing (max_error=$maxError)"))
      assert(lb <= 4000 && 4000 <= ub, s"hh_$t bounds [$lb,$ub] miss true 4000")
      assert(est >= 4000 - maxError && est <= 4000 + maxError)
    }
  }

  test("sketch result is repartition-invariant within the bound (merge path)") {
    val tokens = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.functions.Portable.tokens("text")).as("token"))
    tokens.repartition(17).createOrReplaceTempView("freq_t17")
    tokens.coalesce(1).createOrReplaceTempView("freq_t1")
    def top(view: String) = spark.sql(
      s"SELECT inline(approx_top_k(token, 5, ${graft.functions.FreqItemsCheck.ItemsTracked})) FROM $view")
      .collect().map(_.getString(0)).toSet
    // exact counts differ by at most the error bound between partitionings;
    // the top-5 heavy hitters dominate by far more than that here
    assert(top("freq_t17") == top("freq_t1"))
  }
}
