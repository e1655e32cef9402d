package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetSource

/** Data-layout operators: space-filling-curve clustering for
  * multi-dimensional data skipping.
  *
  * Why this is a first-class 100 TB operator: parquet scans prune row
  * groups by per-column min/max. Data sorted by ONE key skips perfectly on
  * that key and not at all on any other; data clustered by the Z-order
  * (Morton) interleave of two keys gives both predicates sub-linear scans
  * — each file/row-group covers a small rectangle of the (x, y) key space
  * instead of a full-width stripe. This is the standard layout technique
  * behind `OPTIMIZE ... ZORDER BY` in lakehouse table formats, expressed
  * here as a plain repartitionByRange + sortWithinPartitions over a
  * codegen'd interleave expression, so it works on any DataFrame write.
  */
object Layout {

  /** Bits taken from each key: 21+21 interleave to a 42-bit z-value
    * (fits a positive long with room; keys wider than 21 bits keep their
    * low 21 — callers with wider domains should range-rank first).
    */
  val BitsPerKey = 21

  /** The Morton interleave of the low [[BitsPerKey]] bits of two
    * non-negative long columns: bit b of `x` lands at position 2b, bit b
    * of `y` at 2b+1.
    *
    * Built as 2×21 masked-shift terms OR-folded into one codegen'd
    * expression tree — a `aggregate(sequence(...))` HOF computes the same
    * value but runs interpreted per row, which is the wrong shape for a
    * whole-corpus layout pass. `(x & (1<<b)) << b` moves bit b to 2b
    * without a separate extract-then-place.
    */
  def zValue(x: Column, y: Column): Column =
    (0 until BitsPerKey).map { b =>
      shiftleft(x.bitwiseAND(lit(1L << b)), b)
        .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << b)), b + 1))
    }.reduce(_ bitwiseOR _)

  /** Catalog query: per-row z-values for lineitem's (l_partkey, l_suppkey)
    * — the deterministic core the oracle recomputes. The layout action
    * itself is [[cluster]]; a projection is what a driver can hash-check.
    */
  def zorderQuery(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/lineitem.parquet")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        zValue(col("l_partkey"), col("l_suppkey")).as("zval"))

  /** Physically clusters `df` by the Z-order of two key columns:
    * range-partition on the z-value (balanced output files via the range
    * sampler), sort within partitions, drop the helper column. Writing the
    * result produces files whose (x, y) min/max rectangles tile the key
    * space — the data-skipping property LayoutSpec asserts.
    *
    * Each key is min/max-normalized to the full [[BitsPerKey]] width
    * before interleaving. Raw-bit interleave is a known z-order pitfall:
    * when one key's domain is much narrower (suppkey 1..10 vs partkey
    * 1..200 here), its bits all sit BELOW the wide key's high bits, range
    * splits land exclusively on the wide key, and every output file still
    * spans the narrow key's full range — i.e. no skipping on that
    * predicate at all. Normalization costs one min/max aggregate over the
    * two key columns (columnar scan, or footer statistics on a real
    * table).
    *
    * Scale: one extra stats pass + one shuffle (the range exchange) —
    * identical cost shape to any global sort; the z expression is
    * map-side codegen. Skewed key distributions are handled by the range
    * partitioner's reservoir sampling over the actual z distribution.
    */
  def cluster(df: DataFrame, xCol: String, yCol: String, numFiles: Int): DataFrame = {
    val (sx, sy) = normalized(df, xCol, yCol, (1L << BitsPerKey) - 1)
    df.withColumn("__z", zValue(sx, sy))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Bits per key for the Hilbert index: 16+16 → a 32-bit curve index.
    * Narrower than the Morton 21 because the index must also be cheap to
    * recompute in the oracle's recursive formulation; 2^16 per dimension
    * is far finer than any file-count granularity needs.
    */
  val HilbertBits = 16

  /** Catalog query: per-row Hilbert indexes for lineitem's
    * (l_partkey, l_suppkey) via the native codegen `graft_hilbert`
    * ([[graft.functions.HilbertIndex]]). The oracle replays the identical
    * xy2d recurrence as a recursive CTE — bit-exact across engines
    * because every step is integer arithmetic.
    */
  def hilbertQuery(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    ParquetSource.read(spark, s"$dir/lineitem.parquet")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        expr(s"graft_hilbert(CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT), $HilbertBits)")
          .as("hval"))
  }

  /** [[cluster]] with the Hilbert index as the layout key: same min/max
    * normalization, range exchange, and in-partition sort — only the curve
    * differs. Why offer both: Morton is cheaper to compute and good
    * enough when both predicates are equally selective; Hilbert's
    * no-jump adjacency yields strictly tighter per-file bounding boxes
    * (LayoutSpec measures the tile perimeter difference), which is the
    * metric that decides how many row groups a 2-D predicate can skip at
    * 100 TB.
    */
  def clusterHilbert(df: DataFrame, xCol: String, yCol: String, numFiles: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val (sx, sy) = normalized(df, xCol, yCol, (1L << HilbertBits) - 1)
    df.withColumn("__sx", sx).withColumn("__sy", sy)
      .withColumn("__h", expr(s"graft_hilbert(__sx, __sy, $HilbertBits)"))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h", "__sx", "__sy")
  }

  /** Min/max-normalizes two key columns onto [0, full] — shared by
    * [[cluster]] (Morton) and [[clusterHilbert]]; see [[cluster]]'s doc
    * for why raw-bit interleaves break on asymmetric domains. Exact integer
    * scaling while (x-lo)·full fits a long (domain width ≤ ~2^42); wider
    * domains divide FIRST in double — the multiply-first form silently
    * overflows and scrambles curve values (layout degrades to no skipping
    * with no error). The double path's ulp-level rounding moves a value at
    * most one bucket — irrelevant for layout, which only needs
    * rank-preserving bucketing.
    */
  private def normalized(df: DataFrame, xCol: String, yCol: String, full: Long): (Column, Column) = {
    val s = df.agg(
      min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    def scaled(c: String, lo: Long, hi: Long): Column = {
      val width = hi - lo // overflows to ≤ 0 for domains wider than 2^63
      if (hi <= lo) lit(0L)
      else if (width > 0 && width <= Long.MaxValue / full)
        ((col(c).cast("long") - lit(lo)) * lit(full) / lit(width)).cast("long")
      else
        ((col(c).cast("double") - lit(lo.toDouble))
          / lit(hi.toDouble - lo.toDouble) * lit(full.toDouble)).cast("long")
    }
    (scaled(xCol, s.getLong(0), s.getLong(1)), scaled(yCol, s.getLong(2), s.getLong(3)))
  }

  /** SKIPPING-GAIN simulator — puts a NUMBER on why layout matters: how
    * many chunks would a point query `(l_partkey = pk AND l_suppkey = sk)`
    * have to scan under min/max pruning, comparing the ingest-order layout
    * (chunked by `l_orderkey` value ranges) against the Z-order layout
    * (chunked by `zval` value ranges)? This is exactly the row-group
    * pruning decision a parquet reader makes from footer statistics, run
    * as a query so the gain is measurable and oracle-checkable.
    *
    * Chunking is VALUE-ATOMIC (`(key − min) div ceil(width/nChunks)`), not
    * row-counted — deterministic on any partitioning with no global
    * row_number window, and the same rule a range-partitioned write
    * produces physically. Probes are a deterministic lattice over the
    * observed key bounds (`i·7 mod nProbes` decorrelates the two dims so
    * probes don't sit on the diagonal).
    *
    * Scale: one stats row (bounded head), one value-keyed aggregate per
    * layout (map-side combine), then probes × chunk-stats — a
    * metadata-sized cross join (nProbes · nChunks rows) regardless of
    * table size.
    */
  def skippingGain(spark: SparkSession, dir: String,
      nChunks: Long = 32L, nProbes: Long = 16L): DataFrame = {
    // the probe lattice divides by nProbes-1; ANSI would crash on div 0
    require(nChunks >= 1 && nProbes >= 2,
      s"skippingGain: need nChunks >= 1 and nProbes >= 2, got $nChunks/$nProbes")
    val li = ParquetSource.read(spark, s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .withColumn("zval", zValue(col("l_partkey"), col("l_suppkey")))
    val b = li.agg(
      min(col("zval")), max(col("zval")),
      min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (zmin, zmax) = (b.getLong(0), b.getLong(1))
    val (omin, omax) = (b.getLong(2), b.getLong(3))
    val (pmin, pmax) = (b.getLong(4), b.getLong(5))
    val (smin, smax) = (b.getLong(6), b.getLong(7))
    def chunkStats(key: String, lo: Long, hi: Long): DataFrame = {
      val w = math.max(1L, (hi - lo + nChunks) / nChunks) // ceil((hi-lo+1)/n)
      // integer div, not `/`: double division would round, not floor
      li.groupBy(expr(s"($key - $lo) div $w").as("chunk"))
        .agg(min(col("l_partkey")).as("cpmin"), max(col("l_partkey")).as("cpmax"),
          min(col("l_suppkey")).as("csmin"), max(col("l_suppkey")).as("csmax"))
    }
    val probes = spark.range(nProbes).select(
      col("id").as("probe_id"),
      (lit(pmin) + expr(s"(id * ${pmax - pmin}) div ${nProbes - 1}")).as("pk"),
      (lit(smin) + expr(s"(((id * 7) % $nProbes) * ${smax - smin}) div ${nProbes - 1}")).as("sk"))
    def scanCount(layout: String, stats: DataFrame): DataFrame =
      probes.crossJoin(broadcast(stats))
        .groupBy("probe_id", "pk", "sk")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("cpmin") <= col("pk") && col("pk") <= col("cpmax") &&
            col("csmin") <= col("sk") && col("sk") <= col("csmax"), 1L)
            .otherwise(0L)).as("chunks_scanned"))
        .select(lit(layout).as("layout"), col("probe_id"), col("pk"),
          col("sk"), col("n_chunks"), col("chunks_scanned"))
    scanCount("natural", chunkStats("l_orderkey", omin, omax))
      .unionAll(scanCount("zorder", chunkStats("zval", zmin, zmax)))
  }

  /** DuckDB formulation of [[zValue]] over the same low-21-bit interleave —
    * bits never overlap, so the OR-fold is a plain sum in SQL. Every term
    * is fully parenthesized: DuckDB's `<<`/`|` precedence differs from
    * arithmetic intuition and an unparenthesized form folds wrong.
    */
  private[graft] def zValueSql(x: String, y: String): String =
    s"CAST(list_sum(list_transform(range(0, $BitsPerKey), " +
      s"b -> ((($x >> b) & 1) << (2*b)) + ((($y >> b) & 1) << ((2*b)+1)))) AS BIGINT)"
}
