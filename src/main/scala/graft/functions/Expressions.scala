package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hash/vector hot paths.
  *
  * Spark's higher-order functions (`aggregate`, `transform`, `zip_with`)
  * are `CodegenFallback` — they interpret their lambda per row. These
  * expressions generate straight-line Java instead (whole-stage codegen),
  * while computing EXACTLY the same values as the HOF formulations in
  * [[Portable]] (same fold order, same integer arithmetic), so the DuckDB
  * oracles remain bit-for-bit valid.
  */

/** `(fold over codepoints: acc = (acc * base + cp) % mod)`, seed 0 —
  * identical to `aggregate(transform(split(s,''), ascii), 0L, ...)`.
  */
case class PolyHash(child: Expression, base: Int, mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_poly_hash requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * base + cp) % mod
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val str = ctx.freshName("str")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |String $str = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $str.length()) {
         |  int $cp = $str.codePointAt($i);
         |  $i += Character.charCount($cp);
         |  $acc = ($acc * ${base}L + $cp) % ${mod}L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Left-to-right dot product of two float/double arrays accumulated in
  * double — identical to `aggregate(zip_with(a, b, (x,y) -> CAST(x AS
  * DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc,v) -> acc + v)` for equal-length
  * arrays without null items. Null items contribute 0 (user-registerable
  * SQL function — must not read undefined slots).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<float|double> arguments, got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val leftIsFloat = elemType(left) == FloatType
    val rightIsFloat = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = if (elemType(left) == FloatType) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemType(right) == FloatType) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) $acc += $getA * $getB;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** All `numHashes` MinHash components in ONE pass over a pre-hashed shingle
  * array: `sig[i] = min over h of ((2i+1)*h + i*i + 7) mod P1` — identical
  * values to per-row `min(affineHash(h0, i))` aggregation, without the
  * 60×-amplified explode+shuffle.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < hs.numElements()) {
      if (!hs.isNullAt(j)) { // null shingle hashes contribute nothing
        val h = hs.getLong(j)
        var i = 0
        while (i < numHashes) {
          val v = (h * (2L * i + 1) + i.toLong * i + 7) % Portable.P1
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  if ($c.isNullAt($j)) continue;
         |  long $h = $c.getLong($j);
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $v = ($h * (2L * $i + 1) + (long) $i * $i + 7) % ${Portable.P1}L;
         |    if ($v < $sig[$i]) $sig[$i] = $v;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** MinHash with a splitmix64-finalized per-component permutation:
  * `sig[i] = min over h of mix64(h + GOLDEN·(i+1))`, where `mix64` is the
  * public-domain SplitMix64 finalizer (Steele/Lea/Flood, JDK
  * `SplittableRandom`) and GOLDEN = 0x9E3779B97F4A7C15.
  *
  * Why it exists next to [[MinHashSignature]]: the affine family
  * `(2i+1)·h + i² + 7 mod P1` shares ONE base hash across all components
  * with small odd multipliers, so components are strongly correlated on
  * structured inputs — overlapping char n-grams have affinely-related
  * poly-hashes (`h("bcdef") = 31·(h("abcde") − a·31⁴) + f`), and measured
  * on the sf0.01 documents corpus 32% of all pairs at true Jaccard ≈ 0.2
  * agree on ≥49/128 affine components. The avalanche mixing makes
  * components behave independently (same corpus: 1 pair ≥49/128, zero
  * missed true pairs), restoring the binomial concentration the
  * [[graft.operators.Dedup.sigAgreementCutoff]] bound assumes. Min is
  * over SIGNED long order (any fixed total order yields an unbiased
  * estimator); eval and codegen agree.
  */
case class MinHashMixedSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_mix requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    while (j < hs.numElements()) {
      if (!hs.isNullAt(j)) {
        val h = hs.getLong(j)
        var i = 0
        while (i < numHashes) {
          var z = h + MinHashMixedSignature.Golden * (i + 1)
          z = (z ^ (z >>> 30)) * MinHashMixedSignature.Mix1
          z = (z ^ (z >>> 27)) * MinHashMixedSignature.Mix2
          z = z ^ (z >>> 31)
          if (z < sig(i)) sig(i) = z
          i += 1
        }
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val z = ctx.freshName("z")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  if ($c.isNullAt($j)) continue;
         |  long $h = $c.getLong($j);
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $z = $h + ${MinHashMixedSignature.Golden}L * ($i + 1);
         |    $z = ($z ^ ($z >>> 30)) * ${MinHashMixedSignature.Mix1}L;
         |    $z = ($z ^ ($z >>> 27)) * ${MinHashMixedSignature.Mix2}L;
         |    $z = $z ^ ($z >>> 31);
         |    if ($z < $sig[$i]) $sig[$i] = $z;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashMixedSignature =
    copy(child = newChild)
}

object MinHashMixedSignature {
  /** 2^64/φ — the SplitMix64 stream increment. */
  val Golden: Long = 0x9E3779B97F4A7C15L
  val Mix1: Long = 0xBF58476D1CE4E5B9L
  val Mix2: Long = 0x94D049BB133111EBL
}

/** Count of positions where two `array<tinyint>` signatures agree — the
  * MinHash agreement estimator's inner loop. Exists because the
  * `size(filter(zip_with(a, b, (x,y) -> x=y), m -> m))` formulation runs
  * Spark's higher-order functions INTERPRETED (lambda binding + boxing per
  * element), measured 6× slower than the surrounding band join; this is a
  * tight primitive loop under whole-stage codegen. Arrays shorter than the
  * other are treated as disagreeing beyond their length.
  */
case class SigAgreement(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ByteType, _), ArrayType(ByteType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_sig_agree requires two array<tinyint>, got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && !ys.isNullAt(i) && xs.getByte(i) == ys.getByte(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) && $a.getByte($i) == $b.getByte($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

/** 60-bit SimHash from a pre-hashed shingle array in one pass — identical to
  * the per-bit sum/sign aggregation in the HOF/SQL formulation.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sums = new Array[Long](60)
    var j = 0
    while (j < hs.numElements()) {
      if (!hs.isNullAt(j)) { // null shingle hashes contribute nothing
        val h = hs.getLong(j)
        var b = 0
        while (b < 60) {
          sums(b) += (((h >> b) & 1L) * 2L - 1L)
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (sums(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sums = ctx.freshName("sums")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val b = ctx.freshName("b")
      val sig = ctx.freshName("sig")
      s"""
         |long[] $sums = new long[60];
         |for (int $j = 0; $j < $c.numElements(); $j++) {
         |  if ($c.isNullAt($j)) continue;
         |  long $h = $c.getLong($j);
         |  for (int $b = 0; $b < 60; $b++) {
         |    $sums[$b] += ((($h >> $b) & 1L) * 2L - 1L);
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 60; $b++) {
         |  if ($sums[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Element-wise poly hash of a string array: `out[j] = polyhash(in[j])`
  * — identical values to `transform(arr, s -> graft_poly_hash(s, base,
  * mod))`, but codegen instead of the HOF's interpreted lambda-per-element
  * (Spark HOFs are CodegenFallback). Like the HOF form, a null element maps
  * to a null element (the internal shingle pipelines never produce null
  * elements, so they stay on the primitive-array fast path).
  */
case class PolyHashArray(child: Expression, base: Int, mod: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_poly_hash_array requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullIntolerant: Boolean = true

  private def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * base + cp) % mod
    }
    acc
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var nulls: Array[Boolean] = null
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(j) = true
      } else out(j) = hash(arr.getUTF8String(j).toString)
      j += 1
    }
    if (nulls == null) ArrayData.toArrayData(out)
    else {
      val boxed = new Array[Any](n)
      var k = 0
      while (k < n) { boxed(k) = if (nulls(k)) null else out(k); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(boxed)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val nulls = ctx.freshName("nulls")
      val boxed = ctx.freshName("boxed")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[$n];
         |boolean[] $nulls = null;
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($c.isNullAt($j)) {
         |    if ($nulls == null) $nulls = new boolean[$n];
         |    $nulls[$j] = true;
         |    continue;
         |  }
         |  String $s = $c.getUTF8String($j).toString();
         |  long $acc = 0L;
         |  int $i = 0;
         |  while ($i < $s.length()) {
         |    int $cp = $s.codePointAt($i);
         |    $i += Character.charCount($cp);
         |    $acc = ($acc * ${base}L + $cp) % ${mod}L;
         |  }
         |  $out[$j] = $acc;
         |}
         |if ($nulls == null) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |} else {
         |  Object[] $boxed = new Object[$n];
         |  for (int $k = 0; $k < $n; $k++) $boxed[$k] = $nulls[$k] ? null : (Object) java.lang.Long.valueOf($out[$k]);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHashArray =
    copy(child = newChild)
}

/** Element-wise packed 60-bit hash of a string array:
  * `h31(s)·2^30 + (h37(s) mod 2^30)` per element — the SimHash input,
  * identical to the HOF `transform` form in `Dedup.simhash` but codegen.
  * Like the HOF form, a null element maps to a null element.
  */
case class Hash60Array(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hash60_array requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType =
    ArrayType(LongType, containsNull = child.dataType.asInstanceOf[ArrayType].containsNull)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var nulls: Array[Boolean] = null
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(j) = true
      } else {
        val s = arr.getUTF8String(j).toString
        var h31 = 0L
        var h37 = 0L
        var i = 0
        while (i < s.length) {
          val cp = s.codePointAt(i)
          i += Character.charCount(cp)
          h31 = (h31 * 31 + cp) % Portable.P1
          h37 = (h37 * 37 + cp) % Portable.P2
        }
        out(j) = h31 * 1073741824L + (h37 % 1073741824L)
      }
      j += 1
    }
    if (nulls == null) ArrayData.toArrayData(out)
    else {
      val boxed = new Array[Any](n)
      var k = 0
      while (k < n) { boxed(k) = if (nulls(k)) null else out(k); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(boxed)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val nulls = ctx.freshName("nulls")
      val boxed = ctx.freshName("boxed")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val h31 = ctx.freshName("h31")
      val h37 = ctx.freshName("h37")
      s"""
         |int $n = $c.numElements();
         |long[] $out = new long[$n];
         |boolean[] $nulls = null;
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($c.isNullAt($j)) {
         |    if ($nulls == null) $nulls = new boolean[$n];
         |    $nulls[$j] = true;
         |    continue;
         |  }
         |  String $s = $c.getUTF8String($j).toString();
         |  long $h31 = 0L; long $h37 = 0L;
         |  int $i = 0;
         |  while ($i < $s.length()) {
         |    int $cp = $s.codePointAt($i);
         |    $i += Character.charCount($cp);
         |    $h31 = ($h31 * 31L + $cp) % ${Portable.P1}L;
         |    $h37 = ($h37 * 37L + $cp) % ${Portable.P2}L;
         |  }
         |  $out[$j] = $h31 * 1073741824L + ($h37 % 1073741824L);
         |}
         |if ($nulls == null) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
         |} else {
         |  Object[] $boxed = new Object[$n];
         |  for (int $k = 0; $k < $n; $k++) $boxed[$k] = $nulls[$k] ? null : (Object) java.lang.Long.valueOf($out[$k]);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($boxed);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Hash60Array =
    copy(child = newChild)
}

/** Poly-hash of every `k`-codepoint character shingle of a string, in ONE
  * pass — `out[j] = polyHash(codepoints[j .. j+k-1], base) mod mod`,
  * identical to `transform(sequence(1, length(s) − k + 1), i ->
  * graft_poly_hash(substring(s, i, k), base, mod))` (Spark's `substring`
  * counts codepoints, and [[PolyHash]] folds codepoints), but with zero
  * substring allocations and no interpreted HOF lambda: the codepoints
  * decode once into a scratch array and each window folds k ints.
  * Shorter-than-k strings yield an EMPTY array (the HOF form's
  * `sequence(1, 0)` would throw — callers filter, but empty is the honest
  * value).
  */
case class ShinglePolyHash(child: Expression, k: Int, base: Int, mod: Long)
    extends UnaryExpression {
  require(k >= 1, s"graft_shingle_poly k must be >= 1: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_poly requires a string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val w = math.max(cps.length - k + 1, 0)
    val out = new Array[Long](w)
    var j = 0
    while (j < w) {
      var acc = 0L
      var t = 0
      while (t < k) { acc = (acc * base + cps(j + t)) % mod; t += 1 }
      out(j) = acc
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cps = ctx.freshName("cps")
      val w = ctx.freshName("w")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val acc = ctx.freshName("acc")
      s"""
         |int[] $cps = $c.toString().codePoints().toArray();
         |int $w = $cps.length - ${k} + 1; if ($w < 0) $w = 0;
         |long[] $out = new long[$w];
         |for (int $j = 0; $j < $w; $j++) {
         |  long $acc = 0L;
         |  for (int $t = 0; $t < ${k}; $t++)
         |    $acc = ($acc * ${base}L + $cps[$j + $t]) % ${mod}L;
         |  $out[$j] = $acc;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShinglePolyHash =
    copy(child = newChild)
}

/** Packed 60-bit hash (`h31·2^30 + h37 mod 2^30`, the [[Hash60Array]]
  * packing) of every `k`-codepoint shingle of a string in one pass —
  * identical to `transform(transform(sequence(1, length(s) − k + 1),
  * i -> substring(s, i, k)), x -> h31(x)·2^30 + h37(x) % 2^30)` with zero
  * substring allocations. Shorter-than-k strings yield an empty array.
  */
case class ShingleHash60(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"graft_shingle_hash60 k must be >= 1: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hash60 requires a string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val cps = s.codePoints().toArray
    val w = math.max(cps.length - k + 1, 0)
    val out = new Array[Long](w)
    var j = 0
    while (j < w) {
      var h31 = 0L
      var h37 = 0L
      var t = 0
      while (t < k) {
        h31 = (h31 * 31 + cps(j + t)) % Portable.P1
        h37 = (h37 * 37 + cps(j + t)) % Portable.P2
        t += 1
      }
      out(j) = h31 * 1073741824L + (h37 % 1073741824L)
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cps = ctx.freshName("cps")
      val w = ctx.freshName("w")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val h31 = ctx.freshName("h31")
      val h37 = ctx.freshName("h37")
      s"""
         |int[] $cps = $c.toString().codePoints().toArray();
         |int $w = $cps.length - ${k} + 1; if ($w < 0) $w = 0;
         |long[] $out = new long[$w];
         |for (int $j = 0; $j < $w; $j++) {
         |  long $h31 = 0L; long $h37 = 0L;
         |  for (int $t = 0; $t < ${k}; $t++) {
         |    $h31 = ($h31 * 31L + $cps[$j + $t]) % ${Portable.P1}L;
         |    $h37 = ($h37 * 37L + $cps[$j + $t]) % ${Portable.P2}L;
         |  }
         |  $out[$j] = $h31 * 1073741824L + ($h37 % 1073741824L);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ShingleHash60 =
    copy(child = newChild)
}

/** Sliding-window minimum over a long array: `out[j] = min(a[j .. j+w-1])`
  * for `j` in `[0, n − w]` — identical to `transform(sequence(1, size(a) −
  * w + 1), j -> aggregate(sequence(0, w − 1), MAX_LONG, (acc, o) ->
  * least(acc, element_at(a, j + o))))`, the winnowing window fold, but
  * straight-line codegen. Arrays shorter than `w` yield an empty array.
  * Input element nulls are rejected at type-check time (every producer in
  * this engine emits `containsNull = false` hash arrays).
  */
case class WindowMin(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"graft_window_min w must be >= 1: $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_window_min requires array<bigint> without null items, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val m = math.max(n - w + 1, 0)
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var mn = Long.MaxValue
      var t = 0
      while (t < w) {
        val v = arr.getLong(j + t)
        if (v < mn) mn = v
        t += 1
      }
      out(j) = mn
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val t = ctx.freshName("t")
      val mn = ctx.freshName("mn")
      val v = ctx.freshName("v")
      s"""
         |int $n = $c.numElements();
         |int $m = $n - ${w} + 1; if ($m < 0) $m = 0;
         |long[] $out = new long[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  long $mn = Long.MAX_VALUE;
         |  for (int $t = 0; $t < ${w}; $t++) {
         |    long $v = $c.getLong($j + $t);
         |    if ($v < $mn) $mn = $v;
         |  }
         |  $out[$j] = $mn;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WindowMin =
    copy(child = newChild)
}

/** All sign-random-projection LSH bucket keys in ONE pass over the
  * embedding: `key[t] = Σ_j [proj(t,j) >= 0] << j` where `proj(t,j) =
  * Σ_i sign(t,j,i)·x[i]` and `sign` is a splitmix64-style mix of
  * `(dim, table, bit)` — bit-identical to evaluating
  * `graft_dot(embedding, <literal ±1 plane>)` per (table, bit), but one
  * tight loop instead of `tables × bits` giant literal-array expressions
  * (the literal form compiled ~100 KB of generated Java per operator).
  */
/** Unicode NFC normalization — the canonical-composition pass every text
  * pipeline needs before fingerprinting or deduplication: "é" typed as
  * `e` + COMBINING ACUTE and "é" typed precomposed are the SAME document
  * to a reader but different bytes to every hash in this engine, so
  * normalization must run first or near-dup recall silently degrades on
  * non-ASCII corpora. Delegates to the JDK's `java.text.Normalizer`
  * (the Unicode-conformant implementation already in the runtime — the
  * DuckDB oracle's `nfc_normalize` implements the same standard, which
  * is the point: NFC output is defined by Unicode, not by an engine).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires a string, got ${other.sql}")
  }
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString,
        java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Banded edit distance capped at 1 — `0` (equal), `1` (levenshtein
  * exactly 1) or `2` (meaning ≥ 2) — in ONE O(|s|) prefix/suffix scan
  * instead of the O(|s|²) DP a general `levenshtein` runs. Two strings are
  * within edit distance 1 iff their lengths differ by ≤ 1 and the
  * longest-common-prefix + longest-common-suffix (suffix capped so the two
  * never overlap) cover all but at most one position. This is the verify
  * step of the deletion-neighborhood join
  * ([[graft.operators.Relational.fuzzyNameJoin]]), where candidates are
  * already known to be within distance 2 — measured 9.1 s → ~4 s on the
  * sf0.1 verify by replacing the DP.
  *
  * Char-level (UTF-16 code units), matching `levenshtein` semantics on the
  * BMP; identical to byte-level on ASCII.
  */
case class Edit1Distance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_edit1 requires two strings, got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Edit1Distance.dist(a.toString, b.toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Edit1Distance.dist($a.toString(), $b.toString())")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Edit1Distance =
    copy(left = newLeft, right = newRight)
}

object Edit1Distance {
  /** 0 / 1 / 2(≥2); static so interpreted eval and codegen share one body. */
  def dist(a: String, b: String): Long = {
    if (a.equals(b)) return 0L
    val la = a.length; val lb = b.length
    if (math.abs(la - lb) > 1) return 2L
    val minL = math.min(la, lb)
    var p = 0
    while (p < minL && a.charAt(p) == b.charAt(p)) p += 1
    var s = 0
    while (s < minL - p && a.charAt(la - 1 - s) == b.charAt(lb - 1 - s)) s += 1
    val ok = if (la == lb) p + s >= la - 1 else p + s >= minL
    if (ok) 1L else 2L
  }
}

/** Hilbert-curve index of the low `bits` bits of two non-negative bigint
  * keys — the space-filling-curve layout key with strictly better locality
  * than the Morton interleave: every unit step along the curve is a unit
  * step in the (x, y) plane (no Z-shaped jumps), so range splits of the
  * index cut the key space into contiguous tiles with tighter per-file
  * min/max rectangles. Iterative xy2d (the classic public-domain
  * formulation): per level s = 2^b the quadrant digit (3·rx)⊕ry is
  * weighted by s², then the coordinates are reflected/transposed into the
  * canonical sub-quadrant orientation. The state-carrying loop has no
  * unrolled OR-fold form (unlike the Morton interleave), which is exactly
  * why it's a native codegen expression rather than a HOF chain.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"graft_hilbert bits must be in [1, 31]: $bits")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_hilbert requires two bigint keys, got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    var x = a.asInstanceOf[Long] & ((1L << bits) - 1)
    var y = b.asInstanceOf[Long] & ((1L << bits) - 1)
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0L) {
      val rx = if ((x & s) != 0L) 1L else 0L
      val ry = if ((y & s) != 0L) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1L - x; y = s - 1L - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      val mask = (1L << bits) - 1
      s"""
         |long $x = $a & ${mask}L;
         |long $y = $b & ${mask}L;
         |long $d = 0L;
         |for (long $s = ${1L << (bits - 1)}L; $s > 0L; $s >>= 1) {
         |  long $rx = (($x & $s) != 0L) ? 1L : 0L;
         |  long $ry = (($y & $s) != 0L) ? 1L : 0L;
         |  $d += $s * $s * ((3L * $rx) ^ $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

case class LshBuckets(child: Expression, numTables: Int, bitsPerTable: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_lsh_buckets requires array<float|double>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dims = arr.numElements()
    val keys = new Array[Long](numTables)
    val f = isFloat
    var t = 0
    while (t < numTables) {
      var key = 0L
      var j = 0
      while (j < bitsPerTable) {
        var acc = 0.0
        var i = 0
        while (i < dims) {
          var z = i.toLong * 0x9E3779B97F4A7C15L + t.toLong * 0xBF58476D1CE4E5B9L + j.toLong * 0x94D049BB133111EBL
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          val sign = if ((z & 1L) == 0L) 1.0 else -1.0
          // null dims contribute 0 — never read an undefined slot
          val x = if (arr.isNullAt(i)) 0.0 else if (f) arr.getFloat(i).toDouble else arr.getDouble(i)
          acc += sign * x
          i += 1
        }
        if (acc >= 0) key |= (1L << j)
        j += 1
      }
      keys(t) = key
      t += 1
    }
    ArrayData.toArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val dims = ctx.freshName("dims")
      val keys = ctx.freshName("keys")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val z = ctx.freshName("z")
      val acc = ctx.freshName("acc")
      val key = ctx.freshName("key")
      val getX = if (isFloat) s"(double) $c.getFloat($i)" else s"$c.getDouble($i)"
      s"""
         |int $dims = $c.numElements();
         |long[] $keys = new long[$numTables];
         |for (int $t = 0; $t < $numTables; $t++) {
         |  long $key = 0L;
         |  for (int $j = 0; $j < $bitsPerTable; $j++) {
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $dims; $i++) {
         |      long $z = (long) $i * 0x9E3779B97F4A7C15L + (long) $t * 0xBF58476D1CE4E5B9L + (long) $j * 0x94D049BB133111EBL;
         |      $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |      $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |      $z = $z ^ ($z >>> 31);
         |      $acc += ((($z & 1L) == 0L) ? 1.0 : -1.0) * ($c.isNullAt($i) ? 0.0 : $getX);
         |    }
         |    if ($acc >= 0) $key |= (1L << $j);
         |  }
         |  $keys[$t] = $key;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($keys);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

/** Element-wise divide of a float/double array by a scalar — the codegen
  * replacement for `transform(arr, x -> CAST(x AS DOUBLE) / s)` (a
  * CodegenFallback HOF that interprets the lambda per ELEMENT). Output
  * is `array<double>`; null elements stay null exactly as the HOF's
  * `null / s` does. Used by the ANN family's L2 normalization, which
  * materializes a normalized copy of the whole corpus (per-element
  * interpreted cost × corpus × dim at 100 TB).
  */
case class ArrayScaleDiv(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_array_div requires (array<float|double>, double), got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullIntolerant: Boolean = true

  private def leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val s = r.asInstanceOf[Double]
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i))
        out(i) = (if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)) / s
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, s) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val getX = if (leftIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) $out[$i] = (Object) java.lang.Double.valueOf($getX / $s);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayScaleDiv =
    copy(left = newLeft, right = newRight)
}

/** Projects ONE field out of `array<struct<...>>` preserving order — the
  * codegen replacement for `transform(arr, s -> s.f)` (a CodegenFallback
  * HOF interpreted per element). Null elements project to null field
  * values, exactly as the HOF's `null.f` does. Long/int fields only
  * (the engine's fingerprint columns); the output element type matches
  * the FIELD type (array<int> for int fields, array<bigint> for long) so
  * the expression is schema-identical to the HOF it replaces and can be
  * substituted without a silent widening (ADVICE r13).
  */
case class StructFieldArray(child: Expression, field: String)
    extends UnaryExpression {

  private lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val fieldIdx: Int = structType.fieldIndex(field)
  private lazy val isInt: Boolean = structType(fieldIdx).dataType == IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.fieldNames.contains(field) =>
      st(st.fieldIndex(field)).dataType match {
        case IntegerType | LongType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"graft_struct_field: field '$field' must be int/bigint, got ${other.sql}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_struct_field requires array<struct<...>> with a '$field' field, got ${other.sql}")
  }
  override def dataType: DataType = {
    // schema-identical to transform(arr, s -> s.f): element nullability
    // holds exactly when a null element or a nullable field can produce one
    val at = child.dataType.asInstanceOf[ArrayType]
    ArrayType(structType(fieldIdx).dataType,
      containsNull = at.containsNull || structType(fieldIdx).nullable)
  }
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nf = structType.length
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getStruct(i, nf)
        if (!s.isNullAt(fieldIdx))
          out(i) = if (isInt) s.getInt(fieldIdx) else s.getLong(fieldIdx)
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val nf = structType.length
      val boxed =
        if (isInt) s"java.lang.Integer.valueOf($s.getInt($fieldIdx))"
        else s"java.lang.Long.valueOf($s.getLong($fieldIdx))"
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    InternalRow $s = $a.getStruct($i, $nf);
         |    if (!$s.isNullAt($fieldIdx)) $out[$i] = (Object) $boxed;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): StructFieldArray =
    copy(child = newChild)
}

/** Ordered sum of ONE numeric field over `array<struct<...>>` — the
  * codegen replacement for `aggregate(arr, 0, (acc, s) -> acc + s.f)`
  * (a CodegenFallback HOF interpreted per row). Matches the HOF
  * EXACTLY, including:
  *   - fold order (left-to-right array order — IEEE addition order for
  *     double fields, so oracle contracts pinning the fold stay valid);
  *   - null propagation (a null element or null field value makes the
  *     whole result NULL, because `acc + NULL` poisons the HOF's fold).
  * Integer fields (int/long) sum exactly into a long; float/double sum
  * into a double. Used on the margin-mining neighborhood-density sums
  * (per-anchor AND corpus-side rows — |B|-scale at 100 TB) and the
  * winnowing checksum.
  */
case class StructFieldSum(child: Expression, field: String)
    extends UnaryExpression {

  private lazy val structType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val fieldIdx: Int = structType.fieldIndex(field)
  private lazy val fieldType: DataType = structType(fieldIdx).dataType
  private lazy val integral: Boolean = fieldType match {
    case IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.fieldNames.contains(field) =>
      st(st.fieldIndex(field)).dataType match {
        case IntegerType | LongType | FloatType | DoubleType =>
          TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"graft_struct_sum: field '$field' must be numeric, got ${other.sql}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_struct_sum requires array<struct<...>> with a '$field' field, got ${other.sql}")
  }
  override def dataType: DataType = if (integral) LongType else DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nf = structType.length
    if (integral) {
      var acc = 0L
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        val s = arr.getStruct(i, nf)
        if (s.isNullAt(fieldIdx)) return null
        acc += (if (fieldType == IntegerType) s.getInt(fieldIdx).toLong
                else s.getLong(fieldIdx))
        i += 1
      }
      acc
    } else {
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) return null
        val s = arr.getStruct(i, nf)
        if (s.isNullAt(fieldIdx)) return null
        acc += (if (fieldType == FloatType) s.getFloat(fieldIdx).toDouble
                else s.getDouble(fieldIdx))
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val s = ctx.freshName("s")
      val nf = structType.length
      val (accType, zero, get) =
        if (integral)
          ("long", "0L",
            if (fieldType == IntegerType) s"(long) $s.getInt($fieldIdx)"
            else s"$s.getLong($fieldIdx)")
        else
          ("double", "0.0",
            if (fieldType == FloatType) s"(double) $s.getFloat($fieldIdx)"
            else s"$s.getDouble($fieldIdx)")
      s"""
         |int $n = $a.numElements();
         |$accType $acc = $zero;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  InternalRow $s = $a.getStruct($i, $nf);
         |  if ($s.isNullAt($fieldIdx)) { ${ev.isNull} = true; break; }
         |  $acc += $get;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): StructFieldSum =
    copy(child = newChild)
}

/** Session registration. [[GraftExtensions]] is the production path
  * (`--conf spark.sql.extensions=graft.functions.GraftExtensions`);
  * [[GraftFunctions.register]] is the imperative equivalent for sessions
  * already running.
  */
object GraftFunctions {

  private def num(e: Expression): Number = e.eval().asInstanceOf[Number]

  /** The single source of truth for the engine's SQL function surface —
    * consumed by BOTH registration paths ([[register]] for live sessions,
    * [[GraftExtensions]] for `spark.sql.extensions`), so the two can never
    * drift apart.
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_poly_hash" -> { exprs =>
      require(exprs.length == 3, "graft_poly_hash(str, base, mod)")
      PolyHash(exprs.head, num(exprs(1)).intValue(), num(exprs(2)).longValue())
    },
    "graft_dot" -> { exprs =>
      require(exprs.length == 2, "graft_dot(a, b)")
      ArrayDotProduct(exprs(0), exprs(1))
    },
    "graft_minhash" -> { exprs =>
      require(exprs.length == 2, "graft_minhash(hashes, numHashes)")
      MinHashSignature(exprs.head, num(exprs(1)).intValue())
    },
    "graft_minhash_mix" -> { exprs =>
      require(exprs.length == 2, "graft_minhash_mix(hashes, numHashes)")
      MinHashMixedSignature(exprs.head, num(exprs(1)).intValue())
    },
    "graft_sig_agree" -> { exprs =>
      require(exprs.length == 2, "graft_sig_agree(sig_a, sig_b)")
      SigAgreement(exprs.head, exprs(1))
    },
    "graft_simhash" -> { exprs =>
      require(exprs.length == 1, "graft_simhash(hashes)")
      SimHash60(exprs.head)
    },
    "graft_poly_hash_array" -> { exprs =>
      require(exprs.length == 3, "graft_poly_hash_array(arr, base, mod)")
      PolyHashArray(exprs.head, num(exprs(1)).intValue(), num(exprs(2)).longValue())
    },
    "graft_hash60_array" -> { exprs =>
      require(exprs.length == 1, "graft_hash60_array(arr)")
      Hash60Array(exprs.head)
    },
    "graft_shingle_poly" -> { exprs =>
      require(exprs.length == 4, "graft_shingle_poly(str, k, base, mod)")
      ShinglePolyHash(exprs.head, num(exprs(1)).intValue(),
        num(exprs(2)).intValue(), num(exprs(3)).longValue())
    },
    "graft_shingle_hash60" -> { exprs =>
      require(exprs.length == 2, "graft_shingle_hash60(str, k)")
      ShingleHash60(exprs.head, num(exprs(1)).intValue())
    },
    "graft_window_min" -> { exprs =>
      require(exprs.length == 2, "graft_window_min(arr, w)")
      WindowMin(exprs.head, num(exprs(1)).intValue())
    },
    "graft_nfc" -> { exprs =>
      require(exprs.length == 1, "graft_nfc(str)")
      NfcNormalize(exprs.head)
    },
    "graft_edit1" -> { exprs =>
      require(exprs.length == 2, "graft_edit1(a, b)")
      Edit1Distance(exprs.head, exprs(1))
    },
    "graft_hilbert" -> { exprs =>
      require(exprs.length == 3, "graft_hilbert(x, y, bits)")
      HilbertIndex(exprs(0), exprs(1), num(exprs(2)).intValue())
    },
    "graft_lsh_buckets" -> { exprs =>
      require(exprs.length == 3, "graft_lsh_buckets(embedding, numTables, bitsPerTable)")
      LshBuckets(exprs.head, num(exprs(1)).intValue(), num(exprs(2)).intValue())
    },
    "graft_bloom_build" -> { exprs =>
      require(exprs.nonEmpty && exprs.length <= 3, "graft_bloom_build(key[, numBits, numHashes])")
      val bits = if (exprs.length > 1) num(exprs(1)).intValue() else 1 << 16
      val k = if (exprs.length > 2) num(exprs(2)).intValue() else 6
      BloomBuild(exprs.head, bits, k).toAggregateExpression()
    },
    "graft_bloom_contains" -> { exprs =>
      require(exprs.length == 2, "graft_bloom_contains(filter, key)")
      BloomContains(exprs.head, exprs(1))
    },
    "graft_freq_check" -> { exprs =>
      val maxMapSize = if (exprs.length > 1) num(exprs(1)).intValue() else 256
      FreqItemsCheck(exprs.head, maxMapSize).toAggregateExpression()
    },
    "graft_topk" -> { exprs =>
      require(exprs.length == 3, "graft_topk(id, score, k)")
      TopK(exprs(0), exprs(1), num(exprs(2)).intValue()).toAggregateExpression()
    },
    "graft_struct_sum" -> { exprs =>
      require(exprs.length == 2, "graft_struct_sum(arr, 'field')")
      StructFieldSum(exprs.head, exprs(1).eval().toString)
    },
    "graft_array_div" -> { exprs =>
      require(exprs.length == 2, "graft_array_div(arr, divisor)")
      ArrayScaleDiv(exprs(0), exprs(1))
    },
    "graft_struct_field" -> { exprs =>
      require(exprs.length == 2, "graft_struct_field(arr, 'field')")
      StructFieldArray(exprs.head, exprs(1).eval().toString)
    },
    "graft_gram" -> { exprs =>
      require(exprs.length >= 2, "graft_gram(embedding, dim[, scale])")
      val scale = if (exprs.length > 2) num(exprs(2)).longValue() else 1000000L
      GramMatrix(exprs.head, num(exprs(1)).intValue(), scale).toAggregateExpression()
    })

  /** Imperative registration for an already-running session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      registry.createOrReplaceTempFunction(name, b(_), "scala_udf")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.NativeHashRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.NativeHashRewrite
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!spark.experimental.extraStrategies.contains(graft.plans.IntervalJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.IntervalJoinStrategy
  }
}

/** `SparkSessionExtensions` entry point registering the engine's native
  * functions at session build time.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (exprs: Seq[Expression]) => b(exprs)))
    }
    ext.injectOptimizerRule(_ => graft.plans.NativeHashRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.IntervalJoinStrategy)
  }
}
