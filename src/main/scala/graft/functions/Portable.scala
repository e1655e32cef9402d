package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable deterministic hashing / text primitives.
  *
  * Everything here is expressed in engine-neutral integer arithmetic so that
  * the same value is computable in ANY SQL engine (the DuckDB oracles use the
  * literal same formulas). For a training-data pipeline this is a feature,
  * not a test convenience: fingerprints and near-dup decisions stay stable
  * across engine migrations and versions, unlike engine-internal
  * `hash()`/`xxhash64` (whose seeds are implementation details).
  *
  * All expressions are Catalyst built-ins (higher-order functions), so they
  * stay inside whole-stage codegen — no UDFs, no serialization boundary.
  */
object Portable {

  /** 1e9+7, the classic poly-hash modulus: keeps `acc*37+c` < 2^63. */
  val P1: Long = 1000000007L
  /** Second modulus for the 60-bit combined hash. */
  val P2: Long = 998244353L

  /** Left-fold polynomial hash of the characters of `col`:
    * `h = (h*base + codepoint) mod m`, seed 0.
    */
  def polyHash(col: String, base: Int = 31, mod: Long = P1): Column =
    expr(s"aggregate(transform(split($col, ''), c -> CAST(ascii(c) AS BIGINT)), 0L, (acc, x) -> (acc * $base + x) % $mod)")

  /** Whitespace tokens of trimmed text. */
  def tokens(col: String): Column = expr(s"split(trim($col), '\\\\s+')")

  /** SQL let-binding: evaluates `valueSql` ONCE per row and exposes it to
    * `bodySql` as the lambda variable `varName`. Catalyst substitutes
    * projection aliases into every reference site when it collapses
    * projections or pushes filters — harmless for scalar refs, FATAL when
    * the alias is an array referenced per-element inside a transform
    * lambda: `toks = split(text)` inlined into `element_at(toks, i + k)`
    * re-splits the ENTIRE document at every element access, turning an
    * O(windows·n) shingle builder into O(windows·n·len) — a single 1 MB
    * document then burns ~10^12 regex steps and the task never finishes
    * (r16 adversarial-fixture find; the >1 MB planted doc hung the sweep).
    * A lambda variable is a bound reference the optimizer cannot inline
    * through, so the binding survives every rewrite.
    */
  def let(varName: String, valueSql: String, bodySql: String): String =
    s"transform(array($valueSql), $varName -> $bodySql)[0]"

  /** Word n-gram shingles (space-joined), distinct.
    *
    * Docs with fewer than `n` tokens yield an EMPTY array. The guard is
    * load-bearing: Spark's `sequence(1, 0)` is the descending array
    * `[1, 0]`, not empty, so the unguarded transform would call
    * `element_at` out of range and crash on any short doc. The [[let]]
    * binding is equally load-bearing — see its scaladoc.
    */
  def wordShingles(tokensCol: String, n: Int = 3): Column =
    expr(let("tk_", tokensCol,
      s"CASE WHEN size(tk_) >= $n THEN " +
        s"array_distinct(transform(sequence(1, size(tk_) - ${n - 1}), " +
        s"i -> ${(0 until n).map(k => s"element_at(tk_, i + $k)").mkString(" || ' ' || ")})) " +
        s"ELSE array() END"))

  /** Minimum poly-hash over all character k-grams — a winnowing-style
    * content fingerprint robust to small edits at the ends.
    */
  def minGramFingerprint(col: String, k: Int = 5): Column =
    expr(s"array_min(transform(sequence(1, greatest(length($col) - ${k - 1}, 1)), " +
      s"i -> aggregate(transform(split(substring($col, i, $k), ''), c -> CAST(ascii(c) AS BIGINT)), 0L, (acc, x) -> (acc * 31 + x) % $P1)))")

  // --- Native (codegen) variants — same values as the HOF forms above,
  // computed by the custom Catalyst expressions in Expressions.scala.
  // Call GraftFunctions.register(spark) (or use GraftExtensions) first.

  /** Embedding-ingestion contract (r15's zero-norm rule extended r16 to
    * non-finite vectors): a vector is usable by a COSINE operator iff its
    * L2 norm is strictly positive AND finite. A NaN component makes the
    * norm NaN, an overflowing/±Inf component makes it +Inf — either way
    * cosines poison downstream (and integer-micros quantization throws
    * under ANSI). Both Spark and DuckDB order NaN ABOVE +Infinity, so
    * `norm > 0 AND norm < Infinity` excludes zero, NaN and Inf norms
    * IDENTICALLY on the two engines — the property the oracle mirror
    * (`AND norm < 'Infinity'::DOUBLE`) relies on.
    */
  def usableNorm(norm: Column): Column =
    norm > 0 && norm < org.apache.spark.sql.functions.lit(Double.PositiveInfinity)

  /** The L2-metric form of [[usableNorm]] — k-means and other L2 operators
    * accept the zero vector (it clusters fine), only NON-FINITE vectors
    * are malformed.
    */
  def finiteNorm(norm: Column): Column =
    norm < org.apache.spark.sql.functions.lit(Double.PositiveInfinity)

  def polyHashNative(col: String, base: Int = 31, mod: Long = P1): Column =
    expr(s"graft_poly_hash($col, $base, ${mod}L)")

  def polyHash60Native(col: String): Column =
    expr(s"(graft_poly_hash($col, 31, ${P1}L) * 1073741824L) + (graft_poly_hash($col, 37, ${P2}L) % 1073741824L)")

  def dotProductNative(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  def l2NormNative(a: String): Column = sqrt(expr(s"graft_dot($a, $a)"))

  /** The i-th universal-family hash of a base hash value:
    * `((2i+1) * h + i*i + 7) mod P1` — used for MinHash signatures.
    */
  def affineHash(h: Column, i: Int): Column =
    (h * lit(2L * i + 1) + lit(i.toLong * i + 7)) % lit(P1)

  /** Deterministic dot product: cast elements to double FIRST, then
    * left-fold — bit-identical in any IEEE engine that folds left
    * (the DuckDB oracle uses `list_reduce` with the same order).
    */
  def dotProduct(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)")
}
