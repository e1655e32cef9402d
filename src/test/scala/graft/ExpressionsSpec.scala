package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, Portable}

/** The native codegen expressions must produce EXACTLY the values of their
  * HOF formulations (same fold order / arithmetic) — the DuckDB oracles
  * depend on it.
  */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("graft_poly_hash == HOF poly hash on documents text") {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"${SparkSpec.testDataDir}/documents.parquet")
    val diff = docs.select(
      Portable.polyHash("text", 31, Portable.P1).as("hof"),
      Portable.polyHashNative("text", 31, Portable.P1).as("native"))
      .filter(col("hof") =!= col("native"))
    assert(diff.count() == 0)
    // edge cases: empty string, unicode, single char
    val edge = spark.sql(
      s"SELECT graft_poly_hash('', 31, ${Portable.P1}L) AS e, " +
        s"graft_poly_hash('a', 31, ${Portable.P1}L) AS a").head()
    assert(edge.getLong(0) == 0L)
    assert(edge.getLong(1) == 'a'.toLong)
  }

  test("graft_poly_hash non-BMP chars: code-point semantics, matches DuckDB") {
    GraftFunctions.register(spark)
    // 'a😀b' = code points [97, 128512, 98]; DuckDB
    // list_reduce over string_split(s,'')/ord gives 4077187 (verified
    // against duckdb directly) — code points are the canonical semantics,
    // and the native expression implements them.
    val r = spark.sql(
      s"SELECT graft_poly_hash('a😀b', 31, ${Portable.P1}L) AS native").head()
    assert(r.getLong(0) == 4077187L, "native must fold Unicode code points like DuckDB ord()")
    // the HOF formulation must agree on non-BMP too (split('')/ascii are
    // code-point aware in Spark) — pin it so a regression is caught
    val hof = spark.range(1).select(lit("a😀b").as("s"))
      .select(Portable.polyHash("s", 31, Portable.P1).as("hof")).head()
    assert(hof.getLong(0) == 4077187L,
      s"HOF poly hash diverges from code-point semantics on non-BMP: ${hof.getLong(0)}")
  }

  test("graft_poly_hash_array / graft_hash60_array == HOF transform forms") {
    GraftFunctions.register(spark)
    spark.read.parquet(s"${SparkSpec.testDataDir}/documents.parquet")
      .createOrReplaceTempView("expr_docs")
    val diff = spark.sql(
      s"""SELECT * FROM (
         |SELECT
         | graft_poly_hash_array(sh, 31, ${Portable.P1}L) AS native_ph,
         | transform(sh, s -> graft_poly_hash(s, 31, ${Portable.P1}L)) AS hof_ph,
         | graft_hash60_array(sh) AS native_h60,
         | transform(sh, s -> (graft_poly_hash(s, 31, ${Portable.P1}L) * 1073741824L)
         |                  + (graft_poly_hash(s, 37, ${Portable.P2}L) % 1073741824L)) AS hof_h60
         |FROM (SELECT split(trim(text), '\\\\s+') AS sh FROM expr_docs)
         |) WHERE native_ph != hof_ph OR native_h60 != hof_h60""".stripMargin)
    assert(diff.count() == 0)
  }

  test("r12: graft_shingle_poly / graft_shingle_hash60 / graft_window_min == HOF forms") {
    GraftFunctions.register(spark)
    spark.read.parquet(s"${SparkSpec.testDataDir}/documents.parquet")
      .createOrReplaceTempView("shingle_docs")
    val (k, w) = (8, 4)
    // the exact HOF pipelines the containment / winnowing operators used
    val diff = spark.sql(
      s"""SELECT * FROM (
         |SELECT
         | graft_shingle_poly(text, $k, 31, ${Portable.P1}L) AS native_sp,
         | transform(sequence(1, length(text) - ${k - 1}),
         |   i -> graft_poly_hash(substring(text, i, $k), 31, ${Portable.P1}L)) AS hof_sp,
         | graft_shingle_hash60(text, 12) AS native_s60,
         | transform(transform(sequence(1, length(text) - 11),
         |     i -> substring(text, i, 12)),
         |   x -> graft_poly_hash(x, 31, ${Portable.P1}L) * 1073741824L
         |      + graft_poly_hash(x, 37, ${Portable.P2}L) % 1073741824L) AS hof_s60,
         | graft_window_min(graft_shingle_poly(text, $k, 31, ${Portable.P1}L), $w) AS native_wm,
         | transform(sequence(1, size(graft_shingle_poly(text, $k, 31, ${Portable.P1}L)) - ${w - 1}),
         |   j -> aggregate(sequence(0, ${w - 1}), 9223372036854775807L,
         |     (acc, o) -> least(acc, element_at(
         |       graft_shingle_poly(text, $k, 31, ${Portable.P1}L), CAST(j + o AS INT))))) AS hof_wm
         |FROM shingle_docs WHERE length(text) >= 12 + $w - 1
         |) WHERE native_sp != hof_sp OR native_s60 != hof_s60 OR native_wm != hof_wm""".stripMargin)
    assert(diff.count() == 0)
    // short-input edges: below-k strings and below-w arrays yield EMPTY
    // arrays (the HOF sequence(1, 0) form would throw), non-BMP stays
    // code-point windowed
    val edge = spark.sql(
      s"""SELECT size(graft_shingle_poly('ab', 3, 31, ${Portable.P1}L)) AS short_s,
         | size(graft_window_min(array(1L, 2L), 3)) AS short_w,
         | graft_shingle_poly('a😀b', 2, 31, ${Portable.P1}L) AS nb,
         | transform(sequence(1, 2),
         |   i -> graft_poly_hash(substring('a😀b', i, 2), 31, ${Portable.P1}L)) AS nb_hof
         |""".stripMargin).head()
    assert(edge.getInt(0) == 0 && edge.getInt(1) == 0)
    assert(edge.getSeq[Long](2) == edge.getSeq[Long](3),
      "non-BMP shingles must window over code points like substring")
  }

  test("null array elements: hash arrays propagate, numeric loops skip") {
    GraftFunctions.register(spark)
    // user-registerable SQL functions must survive arrays WITH null elements
    // (the HOF transform forms they replace returned null per element)
    val r = spark.sql(
      s"""SELECT
         | graft_poly_hash_array(array('a', CAST(NULL AS STRING), 'b'), 31, ${Portable.P1}L) AS ph,
         | graft_hash60_array(array('a', CAST(NULL AS STRING), 'b')) AS h60,
         | graft_dot(array(1.0D, CAST(NULL AS DOUBLE), 3.0D), array(2.0D, 5.0D, 4.0D)) AS dot,
         | graft_minhash(array(7L, CAST(NULL AS BIGINT)), 4) AS mh,
         | graft_simhash(array(7L, CAST(NULL AS BIGINT))) AS sh,
         | graft_lsh_buckets(array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT)), 2, 4) AS lsh
         |""".stripMargin).head()
    val ph = r.getSeq[Any](0)
    assert(ph(0) == 'a'.toLong && ph(1) == null && ph(2) == 'b'.toLong,
      s"poly hash array must propagate null elements, got $ph")
    assert(r.getSeq[Any](1)(1) == null, "hash60 array must propagate null elements")
    assert(r.getDouble(2) == 1.0 * 2.0 + 3.0 * 4.0, "dot must skip null items")
    // null shingles contribute nothing: same as the array without them
    val base = spark.sql(
      "SELECT graft_minhash(array(7L), 4) AS mh, graft_simhash(array(7L)) AS sh, " +
        "graft_lsh_buckets(array(CAST(1.5 AS FLOAT), CAST(0.0 AS FLOAT)), 2, 4) AS lsh").head()
    assert(r.getSeq[Long](3) == base.getSeq[Long](0), "minhash must skip null elements")
    assert(r.getLong(4) == base.getLong(1), "simhash must skip null elements")
    assert(r.getSeq[Long](5) == base.getSeq[Long](2), "lsh must treat null dims as 0")
    // the literal forms above are constant-folded (interpreted eval); a
    // non-foldable input exercises the generated Java too
    val cg = spark.range(1).selectExpr(
      s"graft_poly_hash_array(array(CAST(id + 97 AS STRING), IF(id = 0, NULL, 'x')), 31, ${Portable.P1}L) AS ph",
      "graft_hash60_array(array(CAST(id AS STRING), IF(id = 0, NULL, 'x'))) AS h60",
      "graft_lsh_buckets(array(CAST(id + 1.5 AS FLOAT), IF(id = 0, CAST(NULL AS FLOAT), CAST(0.0 AS FLOAT))), 2, 4) AS lsh")
      .head()
    val cgPh = cg.getSeq[Any](0)
    assert(cgPh(1) == null && cgPh(0) != null, s"codegen path must propagate nulls, got $cgPh")
    assert(cg.getSeq[Any](1)(1) == null, "codegen hash60 must propagate nulls")
    assert(cg.getSeq[Long](2) == base.getSeq[Long](2), "codegen lsh must treat null dims as 0")
  }

  test("graft_minhash_mix: splitmix64 reference values, null skip, codegen==eval") {
    GraftFunctions.register(spark)
    // reference value computed independently: mix64(7 + GOLDEN*1)
    def mix(h: Long, i: Int): Long = {
      var z = h + 0x9E3779B97F4A7C15L * (i + 1)
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val r = spark.sql(
      "SELECT graft_minhash_mix(array(7L, 11L, CAST(NULL AS BIGINT)), 4) AS m, " +
        "graft_minhash_mix(array(7L, 11L), 4) AS base").head()
    val expectedSig = (0 until 4).map(i => math.min(mix(7L, i), mix(11L, i)))
    assert(r.getSeq[Long](0) == expectedSig, "eval must match the SplitMix64 reference")
    assert(r.getSeq[Long](0) == r.getSeq[Long](1), "null elements contribute nothing")
    // non-foldable input exercises the generated Java
    val cg = spark.range(1).selectExpr("graft_minhash_mix(array(id + 7L, 11L), 4) AS m").head()
    assert(cg.getSeq[Long](0) == expectedSig, "codegen must match interpreted eval")
  }

  test("graft_minhash_mix decorrelates overlapping-gram signatures where affine does not") {
    GraftFunctions.register(spark)
    // Char 5-grams of near-identical strings have affinely-related
    // poly-hashes; the affine family inherits that structure across
    // components, the mixed family must not. Two documents over the same
    // tiny vocabulary with true Jaccard ~0.2 should agree on ~0.2 of mixed
    // components (binomial, sd ≈ 0.035 at n=128) — the affine agreement on
    // the real corpus reaches 0.4+ for such pairs (measured; the bug this
    // guards against).
    val sh = graft.operators.Dedup.charShingleArrays(spark, SparkSpec.testDataDir)
    val sigs = sh.selectExpr("doc_id",
      s"graft_minhash_mix(graft_poly_hash_array(shingles, 31, ${Portable.P1}L), 128) AS sig",
      "shingles")
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id")).limit(2000)
      .selectExpr(
        "size(array_intersect(a.shingles, b.shingles)) AS ni",
        "size(a.shingles) AS na", "size(b.shingles) AS nb",
        "size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), m -> m)) AS matches")
      .selectExpr("CAST(ni AS DOUBLE) / (na + nb - ni) AS jac",
        "CAST(matches AS DOUBLE) / 128 AS est")
      .collect()
    assert(pairs.nonEmpty)
    // every background pair's estimate must stay near its true Jaccard:
    // 8 sd of slack (0.28) — the affine family violates this by > 0.2 on
    // a third of pairs
    pairs.foreach { row =>
      val (jac, est) = (row.getDouble(0), row.getDouble(1))
      assert(math.abs(est - jac) < 0.28, s"mixed minhash biased: jac=$jac est=$est")
    }
  }

  test("graft_sig_agree == interpreted zip_with count, incl. length mismatch and codegen") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_sig_agree(CAST(array(1, 2, 3) AS ARRAY<TINYINT>), " +
        "CAST(array(1, 9, 3) AS ARRAY<TINYINT>)) AS a, " +
        "graft_sig_agree(CAST(array(1, 2) AS ARRAY<TINYINT>), " +
        "CAST(array(1, 2, 3) AS ARRAY<TINYINT>)) AS b").head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 2, "shorter array: positions beyond its length disagree")
    // equivalence to the HOF form on real signatures (codegen path)
    val docs = graft.operators.Dedup.charShingleArrays(spark, SparkSpec.testDataDir)
    val sigs = docs.selectExpr("doc_id",
      s"transform(graft_minhash_mix(graft_poly_hash_array(shingles, 31, ${Portable.P1}L), 64), " +
        "h -> CAST(h % 128 AS TINYINT)) AS sigb")
    val diff = sigs.as("a").crossJoin(sigs.as("b")).filter(col("a.doc_id") < col("b.doc_id"))
      .limit(500)
      .selectExpr("graft_sig_agree(a.sigb, b.sigb) AS fast",
        "size(filter(zip_with(a.sigb, b.sigb, (x, y) -> x = y), m -> m)) AS slow")
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("graft_dot == HOF dot product on embeddings") {
    GraftFunctions.register(spark)
    val e = spark.read.parquet(s"${SparkSpec.testDataDir}/embeddings.parquet")
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea")).limit(50)
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb")).limit(50)
    val diff = a.crossJoin(b).select(
      Portable.dotProduct("ea", "eb").as("hof"),
      Portable.dotProductNative("ea", "eb").as("native"))
      .filter(col("hof") =!= col("native")) // bit-exact double equality
    assert(diff.count() == 0)
  }

  test("r9: graft_nfc composes decomposed sequences, is idempotent, codegen == eval") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val decomposed = "Café Å x"
    val composed = "Café Å x"
    val rows = Seq(decomposed, composed, "", "plain ascii").toDF("s")
      .selectExpr("s", "graft_nfc(s) AS n", "length(s) AS ls", "length(n) AS ln")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(rows(0)._2 == composed, s"decomposed must compose: ${rows(0)}")
    assert(rows(0)._3 == rows(0)._4 + 2, "composition removes the two combining marks")
    assert(rows(1)._2 == composed, "already-NFC input is a fixed point")
    assert(rows(2)._2 == "" && rows(3)._2 == "plain ascii")
    // interpreted path (eval without codegen) agrees
    val interp = graft.functions.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed))).eval()
    assert(interp.toString == composed)
  }

  test("GraftExtensions registers functions in a fresh session") {
    val s2 = SparkSpec.spark.newSession()
    new graft.functions.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions() {})
    // extensions object applies at builder time; for a live session use register()
    GraftFunctions.register(s2)
    assert(s2.sql(s"SELECT graft_poly_hash('abc', 31, ${Portable.P1}L)").head().getLong(0) ==
      (('a'.toLong * 31 + 'b') * 31 + 'c') % Portable.P1)
    // both paths share GraftFunctions.builders — every engine function must
    // be present and resolvable after registration
    val expected = Set("graft_poly_hash", "graft_dot", "graft_minhash", "graft_minhash_mix",
      "graft_sig_agree", "graft_simhash", "graft_bloom_build", "graft_bloom_contains",
      "graft_poly_hash_array", "graft_hash60_array", "graft_lsh_buckets",
      "graft_freq_check", "graft_topk",
      // Hilbert layout key + NFC normalization (round 9)
      "graft_hilbert", "graft_nfc",
      // banded edit-distance-1 verify (round 9)
      "graft_edit1",
      // zero-allocation shingle hashing + winnowing window min (round 12)
      "graft_shingle_poly", "graft_shingle_hash60", "graft_window_min",
      // codegen struct-field fold/project + array scale-divide (round 13)
      "graft_struct_sum", "graft_array_div", "graft_struct_field",
      // exact Gram-matrix aggregate (round 9)
      "graft_gram")
    assert(GraftFunctions.builders.map(_._1).toSet == expected)
    val registry = s2.sessionState.functionRegistry
    expected.foreach { name =>
      assert(registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"$name not registered")
    }
  }

  test("graft_edit1 == a reference levenshtein capped at 2, interpreted and codegen") {
    val spark = SparkSpec.spark
    GraftFunctions.register(spark)
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // adversarial band: repeats, empties, prefix/suffix overlaps, transposition
    val words = Seq("", "a", "aa", "aaa", "ab", "ba", "abc", "acb", "abcd",
      "aacd", "abca", "xabc", "abcx", "aXc", "banana", "bananas", "bnanana",
      "Customer#000000010", "Customer#000000011", "Customer#000000110")
    val pairs = for (a <- words; b <- words) yield (a, b)
    // interpreted path (static helper)
    pairs.foreach { case (a, b) =>
      val expect = math.min(lev(a, b), 2).toLong
      assert(graft.functions.Edit1Distance.dist(a, b) == expect, s"dist('$a','$b')")
    }
    // codegen path through a real plan
    val got = pairs.toDF("a", "b")
      .selectExpr("a", "b", "graft_edit1(a, b) AS d").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == math.min(lev(a, b), 2).toLong, s"codegen dist('$a','$b')")
    }
  }

  test("graft_struct_sum == the aggregate() HOF bit-for-bit: IEEE order, nulls, long exactness") {
    val spark = SparkSpec.spark
    GraftFunctions.register(spark)
    import spark.implicits._
    // double field: magnitudes spanning 20 orders so ADDITION ORDER changes
    // the IEEE result — bit-equality with the HOF proves the same fold order
    val doubles = Seq(
      Seq(1e20, 1.0, -1e20, 3.5),
      Seq(0.1, 0.2, 0.3),
      Seq(-0.0, 0.0),
      Seq(1e-300, 1e300, -1e300),
      Seq.empty[Double])
    val dDf = doubles.zipWithIndex.map { case (xs, i) => (i.toLong, xs) }
      .toDF("id", "xs")
      .selectExpr("id", "transform(xs, (x, i) -> struct(CAST(i AS BIGINT) AS id, x AS score)) AS top")
    val dRows = dDf.selectExpr("id",
      "aggregate(top, 0.0D, (acc, s) -> acc + s.score) AS hof",
      "graft_struct_sum(top, 'score') AS native").collect()
    dRows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"row ${r.getLong(0)}: hof=${r.getDouble(1)} native=${r.getDouble(2)}")
    }
    // long field: exact integer sums, including negatives
    val longs = Seq(Seq(1L, 2L, 3L), Seq(-5L, 5L, Long.MaxValue / 2), Seq.empty[Long])
    val lRows = longs.zipWithIndex.map { case (xs, i) => (i.toLong, xs) }
      .toDF("id", "xs")
      .selectExpr("id", "transform(xs, x -> struct(x AS h)) AS sel")
      .selectExpr("id",
        "aggregate(sel, 0L, (acc, s) -> acc + s.h) AS hof",
        "graft_struct_sum(sel, 'h') AS native").collect()
    lRows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"row ${r.getLong(0)}"))
    // null field value poisons the fold exactly like acc + NULL does
    val nRow = spark.sql(
      "SELECT aggregate(a, 0.0D, (acc, s) -> acc + s.score) AS hof, " +
        "graft_struct_sum(a, 'score') AS native " +
        "FROM (SELECT array(struct(1.0D AS score), struct(CAST(NULL AS DOUBLE) AS score)) AS a)")
      .head()
    assert(nRow.isNullAt(0) && nRow.isNullAt(1), nRow.toString)
    // graft_array_div == transform(arr, x -> CAST(x AS DOUBLE)/s) bit-for-bit,
    // float AND double input, null elements preserved as null
    val divRows = spark.sql(
      "SELECT transform(f, x -> CAST(x AS DOUBLE) / s) AS hof_f, graft_array_div(f, s) AS nat_f, " +
        "       transform(d, x -> CAST(x AS DOUBLE) / s) AS hof_d, graft_array_div(d, s) AS nat_d " +
        "FROM (SELECT array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT), CAST(-0.25 AS FLOAT)) AS f, " +
        "             array(1e300D, 3.0D, NULL) AS d, 7.0D AS s)").head()
    assert(divRows.getSeq[Any](0) == divRows.getSeq[Any](1), s"float: $divRows")
    assert(divRows.getSeq[Any](2) == divRows.getSeq[Any](3), s"double: $divRows")
    // graft_struct_field == transform(arr, s -> s.f): order preserved,
    // null elements project to null, and the OUTPUT SCHEMA matches the
    // HOF's exactly (array<int> for int fields — no silent widening, so
    // the two are substitutable in either direction; ADVICE r13)
    val fDf = spark.sql(
      "SELECT transform(a, s -> s.h) AS hof, graft_struct_field(a, 'h') AS nat " +
        "FROM (SELECT array(struct(5 AS h), CAST(NULL AS struct<h:int>), struct(-7 AS h)) AS a)")
    assert(fDf.schema("nat").dataType == fDf.schema("hof").dataType,
      s"schema drift vs the HOF: ${fDf.schema}")
    val fRow = fDf.head()
    assert(fRow.getSeq[Any](0) == fRow.getSeq[Any](1), fRow.toString)
    // long fields still come back as array<bigint>
    val fLong = spark.sql(
      "SELECT transform(a, s -> s.h) AS hof, graft_struct_field(a, 'h') AS nat " +
        "FROM (SELECT array(struct(CAST(5 AS BIGINT) AS h)) AS a)")
    assert(fLong.schema("nat").dataType == fLong.schema("hof").dataType, fLong.schema.toString)
    assert(fLong.head().getSeq[Any](0) == fLong.head().getSeq[Any](1))
    // interpreted path (eval without codegen) agrees with codegen
    val interp = graft.functions.StructFieldSum(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(org.apache.spark.sql.Row(1e20), org.apache.spark.sql.Row(1.0),
          org.apache.spark.sql.Row(-1e20)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("score",
              org.apache.spark.sql.types.DoubleType))))),
      "score").eval(null)
    assert(interp == ((1e20 + 1.0) + -1e20), s"interpreted eval: $interp")
  }
}
