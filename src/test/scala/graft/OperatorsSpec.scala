package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.streaming.EventStream

/** Specs for operators whose contract is not (fully) DuckDB-oracle-checkable:
  * ANN recall, the multimodal decode stub, streaming/batch equivalence.
  */
class SaltedJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("salted join result equals the plain join (row multiset)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("o_orderkey", "l_extendedprice", "o_orderstatus")
      .collect().map(_.toString).sorted.toSeq
    val plain = canon(li.join(ord, Seq("o_orderkey")))
    val salted = canon(graft.operators.Relational.saltedJoin(li, ord, "o_orderkey", 8))
    assert(salted == plain)
  }

  test("salting spreads a hot key across all salt shards") {
    import spark.implicits._
    // one pathological key repeated 1000x — the straggler scenario
    val big = Seq.fill(1000)((42L, "x")).toDF("k", "payload")
    val small = Seq((42L, "dim")).toDF("k", "dim_val")
    val salted = big.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(8)))
    val shards = salted.groupBy("_salt").count().collect().map(_.getLong(1))
    assert(shards.length == 8, s"expected the hot key split over 8 shards, got ${shards.length}")
    assert(shards.max < 1000, "no shard should hold the whole hot key")
    // and the join itself stays correct
    val joined = graft.operators.Relational.saltedJoin(big, small, "k", 8)
    assert(joined.count() == 1000)
  }
}

class AnnSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("lshTopK recall >= 0.9 vs brute force") {
    val exact = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"ANN recall@10 = $recall (${(exact & approx).size}/${exact.size})")
    assert(recall >= 0.9, s"recall $recall below 0.9")
  }

  test("brute force returns exactly k neighbors per query, self excluded") {
    val rows = Similarity.bruteForceTopK(spark, dir, k = 10, nQueries = 5).collect()
    assert(rows.length == 50)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val ranks = rows.groupBy(_.getLong(0)).values.map(_.map(_.getInt(2)).sorted.toSeq)
    assert(ranks.forall(_ == (1 to 10)))
  }

  test("pqTopK recall floor >= 5/10 per query, deterministic across runs") {
    val exact = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val run1 = Similarity.pqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val run2 = Similarity.pqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(run1.sorted.toSeq == run2.sorted.toSeq,
      "PQ must be bit-reproducible (seeded codebooks, exact integer means)")
    val perQuery = run1.map(t => (t._1, t._2)).groupBy(_._1)
    perQuery.foreach { case (q, rows) =>
      val hits = rows.count(exact.contains)
      info(s"PQ recall q=$q: $hits/10")
      assert(hits >= 5, s"PQ recall for query $q below floor: $hits/10")
    }
    // every query answered with exactly k ranked rows
    assert(run1.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == (1 to 10)))
  }

  test("r9: sqTopK recall floor >= 5/10 per query, store path bit-equal to direct") {
    val exact = Similarity.bruteForceTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity.sqTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    direct.map(t => (t._1, t._2)).groupBy(_._1).foreach { case (q, rows) =>
      val hits = rows.count(exact.contains)
      info(s"SQ8 recall q=$q: $hits/10")
      assert(hits >= 5, s"SQ8 recall for query $q below floor: $hits/10")
    }
    assert(direct.groupBy(_._1).values.forall(_.map(_._3).sorted.toSeq == (1 to 10)))
    // persisted round trip: params + codes parquet must reproduce the
    // direct path exactly (same quantizer, same codes, same shortlist)
    val store = java.nio.file.Files.createTempDirectory("sq-index-spec").toString
    try {
      Similarity.writeSqIndex(spark, dir, store)
      val params = spark.read.parquet(s"$store/params.parquet")
      assert(params.count() == 64, "one quantizer row per dimension")
      val viaStore = Similarity.sqTopKViaStore(spark, dir, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(viaStore.sorted.toSeq == direct.sorted.toSeq,
        "store-backed SQ path must be bit-equal to the direct path")
      // codes are genuinely 1-byte range
      val codes = spark.read.parquet(s"$store/codes.parquet")
        .selectExpr("max(array_max(codes)) AS mx", "min(array_min(codes)) AS mn").head()
      assert(codes.getInt(0) <= 255 && codes.getInt(1) >= 0, "codes must fit [0, 255]")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("pqRecallFloor gate rows are all true on the fixture") {
    val rows = Similarity.pqRecallFloor(spark, dir).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getBoolean(1)), "recall floor violated")
  }

  test("PQ tuning surface: recall gate holds at a non-default (8 centroids, 100 shortlist) point") {
    // Round-7: pqCentroids/pqShortlist are parameters — coarser 3-bit codes
    // with a half-depth shortlist still have to clear a floor, proving the
    // settings actually flow through training, ADC tables and selection.
    val rows = Similarity.pqRecallFloor(spark, dir, minHits = 3,
      pqCentroids = 8, pqShortlist = 100).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getBoolean(1)),
      s"off-default PQ recall floor violated: ${rows.mkString(", ")}")
  }

  test("persisted PQ index: store-backed query path is bit-equal to the direct path") {
    val store = java.nio.file.Files.createTempDirectory("pq-store-spec").toString
    try {
      Similarity.writePqIndex(spark, dir, store)
      val viaStore = Similarity.pqTopKViaStore(spark, dir, store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val direct = Similarity.pqTopK(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaStore == direct,
        s"PQ store round trip changed results: store-only=${(viaStore -- direct).take(5)}")
      // artifact shapes: Subspaces x Centroids codebook rows, one code row
      // per (non-zero-norm) vector
      assert(spark.read.parquet(s"$store/codebooks.parquet").count() ==
        Similarity.PqSubspaces.toLong * Similarity.PqCentroids)
      assert(spark.read.parquet(s"$store/codes.parquet").count() ==
        spark.read.parquet(s"$dir/embeddings.parquet").count())
    } finally {
      new scala.reflect.io.Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("PQ survives corpora smaller than the centroid count (seed padding)") {
    // Regression for the r5 ADVICE finding: with < PqCentroids (16) seed
    // vectors, codesFor's fixed-width centroid loops used to throw
    // ArrayIndexOutOfBoundsException. Seeds now pad by cycling.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-tiny")
    try {
      val rows = (0L until 8L).map { i =>
        (i, Array.tabulate(64)(d => (((i * 7 + d) % 13) + 1).toFloat), s"l${i % 2}")
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val out = Similarity.pqTopK(spark, tmp.toString, k = 3, nQueries = 2,
        trainFraction = 1.0).collect()
      assert(out.length == 6, s"expected 2 queries x 3 ranked rows, got ${out.length}")
      assert(out.groupBy(_.getLong(0)).values.forall(_.map(_.getInt(2)).sorted.toSeq == (1 to 3)))
    } finally {
      new scala.reflect.io.Directory(tmp.toFile).deleteRecursively()
    }
  }

  test("ANN aggregate top-k is bit-equal to the row_number window form") {
    // Rebuilds the pre-round-6 window form independently of Similarity's
    // internals and pins the graft_topk selection to it exactly — the
    // "oracle rows stay hash-identical" contract for the swap.
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        graft.functions.Portable.l2NormNative("embedding").as("norm"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        graft.functions.Portable.dotProductNative("q_emb", "embedding") /
          (col("q_norm") * col("norm")))
    val w = Window.partitionBy("q_id").orderBy(desc("cosine"), col("vec_id"))
    val win = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val agg = Similarity.bruteForceTopK(spark, dir, k = 10, nQueries = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(agg == win, s"aggregate/window disagree: ${(agg -- win).take(5)} / ${(win -- agg).take(5)}")
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("minhash candidates are a superset of true near-dup pairs (recall 1.0 here)") {
    // The verified output equals the oracle at sf0.01 (driver check); this
    // guards the LSH band parameters against regression at sf0.001 too.
    val nearDups = Dedup.minhashNearDups(spark, dir, 0.6).collect()
    assert(nearDups.forall(r => r.getDouble(3) >= 0.6))
    info(s"near-dup pairs at 0.6: ${nearDups.length}")
  }

  test("prefix-filter exact Jaccard join equals brute force on a boundary fixture") {
    import spark.implicits._
    val mk = (ws: Seq[String]) => ws.mkString(" ")
    val base = (1 to 30).map(i => s"w$i")
    val docsFx = Seq(
      1L -> mk(base), // reference doc
      2L -> mk(base), // exact dup: jaccard 1.0
      3L -> mk(base.updated(10, "zz")), // near dup: 3 of 28 shingles changed
      4L -> mk((1 to 30).map(i => s"q$i")), // disjoint
      5L -> mk(base.take(18)), // prefix of 1: length-filtered territory
      6L -> "a b", // < 3 tokens: no shingles, excluded entirely
      7L -> mk(base.map(w => w) ++ Seq("extra")) // superset by one token
    ).toDF("doc_id", "text")
    // brute-force ground truth over distinct word-3-gram sets
    val sets = docsFx.collect().map { r =>
      val toks = r.getString(1).trim.split("\\s+")
      r.getLong(0) -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val expected = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.6
    } yield (ia, ib, inter.toLong)).toSet
    val got = Dedup.jaccardPrefixFromArrays(
        Dedup.shingleArraysOf(docsFx), 3, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"got $got expected $expected")
    assert(expected.exists { case (a, b, _) => a == 1L && b == 2L }, "fixture must contain an exact dup")
    assert(expected.exists { case (a, b, _) => Set(a, b) == Set(1L, 3L) }, "fixture must contain a near dup")
  }

  test("r12: hash-native ngram path keeps the whole-text convention for sub-5-char docs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ngram-short").toString
    try {
      Seq(
        1L -> "abc", 2L -> "abc", 3L -> "abd", 4L -> "xy",
        5L -> "the quick brown fox jumps", 6L -> "the quick brown fox jumps")
        .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
      val got = Dedup.ngramNearDups(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // sub-5-char docs fall back to ONE whole-text shingle (the
      // charShingleArrays convention), so identical short docs pair at
      // jaccard 1.0 with a single shared fingerprint; distinct short docs
      // ("abd", "xy") share nothing with anyone
      assert(got.map(t => (t._1, t._2, t._4)).toSet ==
        Set((1L, 2L, 1.0), (5L, 6L, 1.0)), s"got ${got.mkString(", ")}")
      assert(got.find(t => t._1 == 1L && t._2 == 2L).get._3 == 1L,
        "whole-text fallback must contribute exactly one shingle")
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("prefix-filter join equals the LSH+verify twin on the real corpus") {
    val exact = Dedup.jaccardPrefixNearDups(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val lsh = Dedup.minhashNearDups(spark, dir, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(exact == lsh,
      s"prefix-exact and LSH-verified answers diverge: only-exact=${(exact -- lsh).take(5)} only-lsh=${(lsh -- exact).take(5)}")
    assert(exact.nonEmpty, "corpus should contain near-dups at 0.6")
  }

  test("incremental dedup finds new-vs-corpus pairs only, with exact jaccard") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val tweak = (1 to 60).map(i => if (i % 20 == 0) s"z$i" else s"w$i").mkString(" ")
    val other = (1 to 60).map(i => s"q$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("inc-dedup").toString
    Seq(
      (10L, base), // corpus
      (11L, base), // corpus dup of 10 — must NOT be reported (corpus×corpus)
      (12L, other), // corpus, unrelated
      (400L, tweak), // new, near-dup of the corpus base
      (401L, other), // new, exact dup of corpus doc 12
      (402L, (1 to 60).map(i => s"y$i").mkString(" ")) // new, unique
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.incrementalNearDups(spark, tmp, 0.6, splitId = 400L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((400L, 10L)) && got.contains((400L, 11L)), s"near-dup of corpus base missed: $got")
    assert(got.contains((401L, 12L)), s"exact dup of corpus doc missed: $got")
    assert(got.forall { case (n, c) => n >= 400L && c < 400L },
      s"only new-vs-corpus pairs may be reported: $got")
    assert(!got.exists(_._1 == 402L), s"unique new doc must not match: $got")
  }

  test("corpus diff classifies added/removed/changed exactly, drops unchanged") {
    import spark.implicits._
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta"), (9L, "new doc"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiffFrom(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 9L -> "added"),
      s"diff misclassified: $got")
  }

  test("large-star/small-star CC equals the BSP min-label clusters") {
    val pairs = Dedup.minhashNearDups(spark, dir, 0.6)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val star = Dedup.connectedComponentsStar(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bsp = Dedup.nearDupClusters(spark, dir, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // BSP output includes roots labeling themselves; star's members+roots
    // cover the same node set with the same component minima
    assert(star == bsp, s"star: ${star.toSeq.sorted.take(10)}... bsp: ${bsp.toSeq.sorted.take(10)}...")
  }

  test("semantic dedup: clusters labeled by min, canonical partitions the table") {
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val clusters = Dedup.semanticClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty, "fixture should contain semantic near-dups")
    clusters.groupBy(_._2).foreach { case (label, members) =>
      assert(members.map(_._1).min == label, s"cluster $label not labeled by its min member")
    }
    val canon = Dedup.semanticCanonical(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every vector is accounted for exactly once: sizes sum to the corpus
    assert(canon.map(_._2).sum == n, "group sizes must partition the table")
    assert(canon.map(_._1).distinct.length == canon.length, "one row per survivor")
    // representatives are exactly the cluster labels (every clustered node
    // has an edge, so every cluster has >= 2 members and one rep row)
    val reps = canon.filter(_._2 > 1).map(_._1).toSet
    assert(reps == clusters.map(_._2).toSet)
  }

  test("star CC handles a deep chain in logarithmic rounds") {
    import spark.implicits._
    // a 64-node path: worst case for O(diameter) BSP, easy for star rounds
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val (df, rounds) = Dedup.connectedComponentsStarWithRounds(chain)
    val labels = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.size == 64, s"expected all 64 nodes labeled, got ${labels.size}")
    assert((0L to 63L).forall(labels(_) == 0L), "all chain nodes must label to component min 0")
    // O(log n) rounds on a diameter-63 path (min-label BSP would need ~63)
    assert(rounds <= 12, s"star CC took $rounds rounds on a 64-chain — not logarithmic")
  }

  test("adaptive CC (driver union-find path) equals the distributed star labels") {
    import spark.implicits._
    val edges = Seq((3L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
      (20L, 21L), (5L, 5L), (30L, 12L)).toDF("src", "dst")
    val adaptive = Dedup.connectedComponentsAdaptive(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val star = Dedup.connectedComponentsStar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(adaptive == star, s"adaptive $adaptive != star $star")
    assert(adaptive(3L) == 1L && adaptive(30L) == 10L && adaptive(21L) == 20L)
  }

  test("simhash near-dups: hamming<=3 pairs overlap jaccard near-dups") {
    val sim = Dedup.simhashNearDups(spark, dir, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.minhashNearDups(spark, dir, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"simhash pairs: ${sim.size}, jaccard pairs: ${jac.size}, overlap: ${(sim & jac).size}")
    // simhash(h<=3 of 60 bits) is a much stricter near-dup notion; every
    // simhash pair should be a true jaccard near-dup
    assert(sim.subsetOf(jac))
  }

  test("blocked exact embedding dedup equals the all-pairs result for any block count") {
    // ground truth: the straightforward all-pairs form, computed inline
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        graft.functions.Portable.l2NormNative("embedding").as("norm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("norm").as("norm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("norm").as("norm_b"))
    val truth = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", graft.functions.Portable.dotProductNative("emb_a", "emb_b") /
        (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (blocks <- Seq(1, 3, 8)) {
      val got = Dedup.embeddingNearDups(spark, dir, 0.4, blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == truth, s"blocks=$blocks: blocked grid join must own each pair exactly once")
    }
  }

  test("LSH embedding dedup: recall 1.0 on planted near-dups, zero false positives") {
    import spark.implicits._
    // 200 deterministic pseudo-random unit-ish vectors + 20 planted near-dup
    // partners (original with one coordinate nudged → cosine ≈ 0.99)
    def vec(seed: Long): Array[Float] = Array.tabulate(64) { d =>
      val x = (seed * 6364136223846793005L + d * 1442695040888963407L + 11L)
      (((x >>> 33).toInt % 1000) / 500.0f) - 1.0f
    }
    val base = (0L until 200L).map(i => (i, vec(i)))
    val planted = (0L until 20L).map { i =>
      val v = vec(i).clone(); v(0) = v(0) + 0.3f; (1000L + i, v)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDupsLsh(df, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // planted pairs all found...
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    val expected = (0L until 20L).map(i => (i, 1000L + i)).toSet
    assert(expected.subsetOf(gotPairs),
      s"missed planted pairs: ${expected -- gotPairs}")
    // ...and nothing below the threshold survives the exact verification
    assert(got.forall(_._3 >= 0.9), s"false positive above threshold: ${got.filter(_._3 < 0.9).toSeq}")
  }

  test("embedding incremental dedup: planted pairs found, new-vs-corpus only, store round trip lossless") {
    val direct = Dedup.embeddingIncrementalPlanted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val gotPairs = direct.map(t => (t._1, t._2)).toSet
    // every planted copy must come back paired with its original
    val expected = (0L until 20L).map(i => (i + 100000L, i)).toSet
    assert(expected.subsetOf(gotPairs), s"missed planted pairs: ${expected -- gotPairs}")
    // increment-vs-corpus shape: id_new is always a planted id, id_corpus never
    assert(gotPairs.forall { case (n, c) => n >= 100000L && c < 100000L },
      s"only new-vs-corpus pairs may be reported: $gotPairs")
    // exact verification: nothing below the threshold survives
    assert(direct.forall(_._3 >= 0.7), s"false positive: ${direct.filter(_._3 < 0.7).toSeq}")
    // the persisted bucket-store round trip must be lossless (bit-equal)
    val viaStore = Dedup.embeddingIncrementalPlantedViaStore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaStore == direct.toSet, "store round trip must reproduce the direct result")
  }

  test("unified embedding dedup API: strategies route correctly, grid guarded by pair budget") {
    import graft.operators.EmbeddingStrategy
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    // ExactGrid routes to the grid join (bit-equal to the direct form)
    val viaApi = Dedup.embeddingNearDupsBy(vecs, 0.4, EmbeddingStrategy.ExactGrid).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.embeddingNearDupsGrid(vecs, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaApi == direct)
    // SignLsh routes to the LSH path (subset of exact pairs by construction)
    val viaLsh = Dedup.embeddingNearDupsBy(vecs, 0.4, EmbeddingStrategy.SignLsh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(direct))
    // the structural guard: a corpus whose pair count exceeds the budget is
    // REFUSED on the exact path (no silent quadratic inherit at scale)...
    val err = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsBy(vecs, 0.4, EmbeddingStrategy.ExactGrid, gridPairBudget = 10L)
    }
    assert(err.getMessage.contains("SignLsh"), s"error must direct to the scale path: $err")
    // ...with an exact boundary: budget 10 admits 5 vectors (10 pairs) and
    // refuses 6 (15 pairs). The guard compares on n, not n(n-1)/2, so it
    // cannot be defeated by Long overflow at corpus scale.
    import spark.implicits._
    def tiny(n: Int) = (0L until n.toLong)
      .map(i => (i, Array.tabulate(8)(d => (i * 7 + d + 1).toFloat)))
      .toDF("vec_id", "embedding")
    Dedup.embeddingNearDupsBy(tiny(5), 0.99, EmbeddingStrategy.ExactGrid,
      gridPairBudget = 10L).count() // 10 pairs == budget: allowed
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDupsBy(tiny(6), 0.99, EmbeddingStrategy.ExactGrid,
        gridPairBudget = 10L)
    }
    // ...while the LSH path ignores the budget entirely
    assert(Dedup.embeddingNearDupsBy(vecs, 0.4, EmbeddingStrategy.SignLsh,
      gridPairBudget = 10L).columns.toSeq == Seq("id_a", "id_b", "cosine"))
  }
}

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("frame sampling: empty documents produce zero frames, not an error") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mm-empty").toString
    Seq((1L, ""), (2L, "x" * 200)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val byDoc = Multimodal.frameSample(spark, tmp).collect().groupBy(_.getLong(0))
    assert(!byDoc.contains(1L), "empty doc must yield no frames (and no sequence error)")
    assert(byDoc(2L).map(_.getLong(2)).sorted.toSeq == Seq(0L), "200 chars = 4 frames, stride 10 samples frame 0")
  }

  test("real header decode: PPM, BMP, WAV parsed from raw bytes; junk falls to stub") {
    import spark.implicits._
    // PPM P6 with a comment line: 640x480
    val ppm = "P6\n# a comment\n640 480\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    assert(Multimodal.ppmDims(ppm).contains((640, 480)))
    // r14 deep-read: a >= 20-digit dimension must quarantine, not wrap the
    // Long accumulator (18446744073709551626 ≡ 10 mod 2^64 would otherwise
    // alias to width 10)
    val wrap = "P6\n18446744073709551626 480\n255\n".getBytes("US-ASCII")
    assert(Multimodal.ppmDims(wrap).isEmpty)
    assert(Multimodal.ppmPixels(wrap).isEmpty)
    // BMP header: 'BM' + DIB size @14 + le32 width @18, le32 height @22 (top-down negative)
    val bmp = new Array[Byte](26)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(14) = 40 // BITMAPINFOHEADER
    bmp(18) = 0x20; bmp(19) = 0x03 // 800
    bmp(22) = (-600 & 0xff).toByte; bmp(23) = ((-600 >> 8) & 0xff).toByte
    bmp(24) = 0xff.toByte; bmp(25) = 0xff.toByte
    assert(Multimodal.bmpDims(bmp).contains((800, 600)))
    // WAV: RIFF/WAVE with a junk chunk BEFORE fmt (walker must skip it)
    def le32b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val wav = "RIFF".getBytes ++ le32b(100) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32b(4) ++ Array[Byte](0, 0, 0, 0) ++
      "fmt ".getBytes ++ le32b(16) ++ Array[Byte](1, 0, 2, 0) ++ le32b(44100) ++ new Array[Byte](8)
    assert(Multimodal.wavFormat(wav).contains((44100, 2)))
    // through the typed decode path: real dims for real formats, stub for junk
    val media = Seq(
      Multimodal.MediaRow(1L, "image/ppm", ppm),
      Multimodal.MediaRow(2L, "image/bmp", bmp),
      Multimodal.MediaRow(3L, "audio/wav", wav),
      Multimodal.MediaRow(4L, "image/ppm", "nonsense".getBytes), // claimed-but-malformed → stub
      Multimodal.MediaRow(5L, "application/octet-stream", Array[Byte](9, 9))).toDS()
    val out = Multimodal.decodeMeta(media).collect().map(m => m.doc_id -> ((m.width, m.height))).toMap
    assert(out(1L) == ((640, 480)))
    assert(out(2L) == ((800, 600)))
    assert(out(3L) == ((44100, 2)))
    assert(out(4L)._1 >= 16 && out(5L)._1 >= 16, "unparseable payloads must quarantine to the stub, not crash")
  }

  test("corrupt headers quarantine instead of crashing or lying") {
    def le32b(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // RIFF chunk claiming 0x7FFFFFFF bytes: the cursor arithmetic must not
    // overflow into a negative index (would throw AIOOBE and kill the task)
    val hugeChunk = "RIFF".getBytes ++ le32b(100) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32b(0x7fffffff) ++ new Array[Byte](32)
    assert(Multimodal.wavFormat(hugeChunk).isEmpty)
    // chunk size larger than the remaining payload: malformed, not an fmt hit
    val overrun = "RIFF".getBytes ++ le32b(100) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32b(1000) ++ new Array[Byte](8)
    assert(Multimodal.wavFormat(overrun).isEmpty)
    // negative (0xFFFFFFFF streaming-style) chunk size: rejected
    val negChunk = "RIFF".getBytes ++ le32b(100) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32b(-1) ++ new Array[Byte](32)
    assert(Multimodal.wavFormat(negChunk).isEmpty)
    // "BM" + garbage: zero width / bogus DIB header size must not parse
    val junkBm = new Array[Byte](30)
    junkBm(0) = 'B'; junkBm(1) = 'M' // all other fields zero
    assert(Multimodal.bmpDims(junkBm).isEmpty, "zero-width BM junk must fall to the stub")
    val negW = new Array[Byte](30)
    negW(0) = 'B'; negW(1) = 'M'; negW(14) = 40
    negW(21) = 0x80.toByte // width = le32 0x80000000 < 0
    assert(Multimodal.bmpDims(negW).isEmpty, "negative width must fall to the stub")
  }

  test("JPEG/PNG/GIF header parsing: builders invert, marker walk skips segments") {
    // round-trip the builders at awkward dimensions (>255 exercises both bytes)
    assert(Multimodal.jpegDims(Multimodal.jpegBytes(639, 479)).contains((639, 479)))
    assert(Multimodal.pngDims(Multimodal.pngBytes(70000, 3)).contains((70000, 3))) // >16-bit PNG dims
    assert(Multimodal.gifDims(Multimodal.gifBytes(639, 479)).contains((639, 479)))
    // progressive JPEG (SOF2) and fill bytes before the marker also parse
    val sof2 = Multimodal.jpegBytes(100, 50)
    sof2(9) = 0xc2.toByte
    assert(Multimodal.jpegDims(sof2).contains((100, 50)))
    // DHT (C4) must NOT be mistaken for a SOF: a stream whose only
    // Cx marker is C4 yields no dimensions
    val dhtOnly = Array(0xff, 0xd8, 0xff, 0xc4, 0x00, 0x04, 0x00, 0x00, 0xff, 0xd9).map(_.toByte)
    assert(Multimodal.jpegDims(dhtOnly).isEmpty)
  }

  test("JPEG/PNG/GIF corrupt headers quarantine instead of crashing or lying") {
    // JPEG: segment length overrunning the buffer must not AIOOBE
    assert(Multimodal.jpegDims(Array(0xff, 0xd8, 0xff, 0xc0, 0xff, 0xff).map(_.toByte)).isEmpty)
    // JPEG: truncated mid-marker / EOI before SOF / zero dims
    assert(Multimodal.jpegDims(Array(0xff, 0xd8, 0xff).map(_.toByte)).isEmpty)
    assert(Multimodal.jpegDims(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
    assert(Multimodal.jpegDims(Multimodal.jpegBytes(0, 100)).isEmpty)
    // PNG: wrong IHDR tag, truncated signature, zero width
    val xhdr = Multimodal.pngBytes(10, 10); xhdr(12) = 'X'.toByte
    assert(Multimodal.pngDims(xhdr).isEmpty)
    assert(Multimodal.pngDims(Multimodal.pngBytes(10, 10).take(20)).isEmpty)
    assert(Multimodal.pngDims(Multimodal.pngBytes(0, 10)).isEmpty)
    // GIF: truncated logical screen descriptor, GIF86a magic, zero height
    assert(Multimodal.gifDims(Multimodal.gifBytes(10, 10).take(8)).isEmpty)
    val g86 = Multimodal.gifBytes(10, 10); g86(4) = '6'.toByte
    assert(Multimodal.gifDims(g86).isEmpty)
    assert(Multimodal.gifDims(Multimodal.gifBytes(10, 0)).isEmpty)
  }

  test("header parsers never throw on arbitrary bytes (quarantine property, fuzzed)") {
    // The 100 TB contract is that a malformed payload quarantines the ROW,
    // never kills the TASK. Deterministic fuzz: pure-random buffers, valid
    // headers with single-byte mutations, and truncations at every length.
    val rnd = new scala.util.Random(20260813L)
    val parsers: Seq[(String, Array[Byte] => Option[Any])] = Seq(
      ("ppm", Multimodal.ppmDims _), ("bmp", Multimodal.bmpDims _),
      ("wav", Multimodal.wavFormat _), ("jpeg", Multimodal.jpegDims _),
      ("png", Multimodal.pngDims _), ("gif", Multimodal.gifDims _),
      ("gifFrames", Multimodal.gifFrameCount _),
      ("exif", Multimodal.jpegOrientation _))
    def check(tag: String, payload: Array[Byte]): Unit =
      parsers.foreach { case (name, p) =>
        try p(payload)
        catch { case t: Throwable =>
          fail(s"$name threw on $tag (len=${payload.length}): $t")
        }
      }
    for (i <- 0 until 400) {
      val len = rnd.nextInt(96)
      val b = new Array[Byte](len); rnd.nextBytes(b)
      check(s"random#$i", b)
    }
    val seeds = Seq(
      Multimodal.jpegExifBytes(100, 50, 3), Multimodal.pngBytes(100, 50),
      Multimodal.gifAnimBytes(100, 50, 3), Multimodal.jpegBytes(640, 480))
    for (s <- seeds; i <- 0 until 200) { // single-byte mutations
      val b = s.clone(); b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      check("mutated", b)
    }
    for (s <- seeds; cut <- 0 to s.length) check("truncated", s.take(cut))
  }

  test("plantedHeaderQuery: parses planted headers, quarantines the corrupt mask") {
    val out = Multimodal.plantedHeaderQuery(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, w, h, parsed) = (r.getLong(0), r.getInt(2), r.getInt(3), r.getBoolean(4))
      val (frames, orientation) = (r.getInt(5), r.getInt(6))
      if (id % 7 == 0) {
        assert(!parsed && w == -1 && h == -1, s"doc $id must quarantine")
        assert(frames == -1 && orientation == -1, s"doc $id metadata must quarantine too")
      } else {
        assert(parsed && w == 16 + (id % 624).toInt && h == 16 + (id % 464).toInt,
          s"doc $id parsed ($w,$h)")
        val wantFrames = if (id % 3 == 2) 1 + (id % 5).toInt else -1
        val wantOrient = if (id % 3 == 0) 1 + (id % 8).toInt else -1
        assert(frames == wantFrames, s"doc $id frames $frames != $wantFrames")
        assert(orientation == wantOrient, s"doc $id orientation $orientation != $wantOrient")
      }
    }
  }

  test("GIF frame count and JPEG EXIF orientation: builders invert, corruption quarantines") {
    // animated GIF: the block walk must count every image descriptor
    for (n <- Seq(1, 2, 5, 37))
      assert(Multimodal.gifFrameCount(Multimodal.gifAnimBytes(320, 200, n)).contains(n))
    // dims-only GIF (no blocks, no trailer) has no countable frames
    assert(Multimodal.gifFrameCount(Multimodal.gifBytes(10, 10)).isEmpty)
    // trailer missing (truncated after last frame) and zero-frame streams quarantine
    val anim = Multimodal.gifAnimBytes(10, 10, 2)
    assert(Multimodal.gifFrameCount(anim.dropRight(1)).isEmpty)
    assert(Multimodal.gifFrameCount(Multimodal.gifAnimBytes(10, 10, 0)).isEmpty)
    // a corrupt sub-block length that overruns the buffer must not AIOOBE
    val bad = anim.clone(); bad(13 + 8 + 10 + 1) = 0x7f.toByte // LZW sub-block len 1 -> 127
    assert(Multimodal.gifFrameCount(bad).isEmpty)
    // EXIF: all 8 orientations round-trip; the same payload still yields dims
    for (o <- 1 to 8) {
      val p = Multimodal.jpegExifBytes(639, 479, o)
      assert(Multimodal.jpegOrientation(p).contains(o))
      assert(Multimodal.jpegDims(p).contains((639, 479)), "dims walk must skip APP1")
    }
    // Exif-less JPEG: orientation is absent, not an error
    assert(Multimodal.jpegOrientation(Multimodal.jpegBytes(10, 10)).isEmpty)
    // out-of-range orientation value and corrupt TIFF magic quarantine
    val badOrient = Multimodal.jpegExifBytes(10, 10, 9)
    assert(Multimodal.jpegOrientation(badOrient).isEmpty)
    val badTiff = Multimodal.jpegExifBytes(10, 10, 3).clone()
    badTiff(14) = 0x00.toByte // TIFF magic 42 -> corrupted
    assert(Multimodal.jpegOrientation(badTiff).isEmpty)
    // big-endian (MM) TIFF bodies parse too — cameras emit both orders
    val mm = Array[Int](
      0xff, 0xd8,
      0xff, 0xe1, 0x00, 0x22,
      'E', 'x', 'i', 'f', 0x00, 0x00,
      'M', 'M', 0x00, 0x2a, 0x00, 0x00, 0x00, 0x08, // TIFF BE, IFD0 at +8
      0x00, 0x01, // 1 entry
      0x01, 0x12, 0x00, 0x03, 0x00, 0x00, 0x00, 0x01, // tag 0x0112, SHORT, count 1
      0x00, 0x06, 0x00, 0x00, // value 6 (BE) + pad
      0x00, 0x00, 0x00, 0x00, // next IFD
      0xff, 0xd9).map(_.toByte)
    assert(Multimodal.jpegOrientation(mm).contains(6))
  }

  test("r15: quality scoring survives empty and whitespace-only documents (ANSI divide guard)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tq-empty").toString
    Seq((1L, "", "en", "s", 0L), (2L, "   ", "en", "s", 3L), (3L, "plain words here", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // Spark 4 ANSI throws DIVIDE_BY_ZERO even for double division — before
    // the r15 guard, ONE empty document killed the whole quality job
    val rows = graft.operators.TextAnalysis.qualityScore(spark, tmp)
      .orderBy("doc_id").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("alpha_ratio").isNaN, "empty doc: 0/0 must be NaN (the oracle's value)")
    assert(rows(1).getAs[Double]("alpha_ratio") == 0.0, "whitespace doc: 0/3 = 0.0")
    assert(rows(2).getAs[Double]("alpha_ratio") > 0.8)
  }

  test("resizeQuery: empty documents are excluded (resize-of-nothing has no canonical answer)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("mm-resize-empty").toString
    Seq((1L, ""), (2L, "hello world")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val ids = Multimodal.resizeQuery(spark, tmp).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L), "empty doc must be filtered on BOTH the Spark and oracle side")
  }

  test("resize stub: fixed output dims, deterministic, partition-preserving") {
    import spark.implicits._
    val media = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), lit("image/fake").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[Multimodal.MediaRow]
    val out = Multimodal.resize(media, 8, 8)
    assert(out.rdd.getNumPartitions == media.rdd.getNumPartitions, "resize must not shuffle")
    val rows = out.collect()
    assert(rows.length == media.count().toInt)
    assert(rows.forall(r => r.payload.length == 64 && r.width == 8 && r.height == 8))
    // deterministic: same input -> same bytes
    val again = Multimodal.resize(media, 8, 8).collect()
      .map(r => r.doc_id -> r.payload.toSeq).toMap
    assert(rows.forall(r => again(r.doc_id) == r.payload.toSeq))
  }

  test("decode pipeline: typed output, one row per doc, deterministic stub values") {
    val out = Multimodal.decodePipeline(spark, dir)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val rows = out.collect()
    assert(rows.length == n)
    assert(rows.forall(m => m.byte_len > 0 && m.width >= 16 && m.height >= 16))
    assert(rows.forall(m => m.media_type == "text/fake"))
    // deterministic: same input -> same checksum on a re-run
    val again = Multimodal.decodePipeline(spark, dir).collect()
    assert(rows.sortBy(_.doc_id).map(_.checksum).toSeq == again.sortBy(_.doc_id).map(_.checksum).toSeq)
  }

  test("decode preserves partitioning (no shuffle)") {
    val media = Multimodal.decodePipeline(spark, dir)
    // mapPartitions must not introduce an exchange
    val plan = media.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in decode plan:\n$plan")
  }
}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("chunking applies unchanged to a stream: file-stream output equals batch") {
    import org.apache.spark.sql.streaming.Trigger
    val batch = graft.operators.TextAnalysis.chunk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val docsStream = spark.readStream
      .schema(spark.read.parquet(s"$dir/documents.parquet").schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val q = graft.operators.TextAnalysis.chunkOf(docsStream)
      .writeStream.outputMode("append").format("memory").queryName("chunk_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("chunk_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming hourly agg equals batch result") {
    import org.apache.spark.sql.streaming.Trigger
    val q = EventStream.hourlyAggStream(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_out")
      .select("hour", "event_type", "n", "value_cents").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventStream.hourlyAggBatch(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
  }

  test("r16: streaming file source handles a directory-of-parts events.parquet layout") {
    // ADVICE r15: `pathGlobFilter=events.parquet` over the parent dir only
    // matched a leaf FILE literally so named — a Spark-written DIRECTORY of
    // part files listed zero files and the stream was silently empty. Pin
    // the fixed form (table path + `*.parquet`) against a directory layout.
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("dir-layout").toString
    spark.read.parquet(s"$dir/events.parquet").repartition(3)
      .write.mode("overwrite").parquet(s"$root/events.parquet")
    val q = EventStream.hourlyAggStream(spark, root)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_dir_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_dir_out")
      .select("hour", "event_type", "n", "value_cents").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventStream.hourlyAggBatch(spark, dir).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("watermark drops late events in append mode (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out")
      .trigger(Trigger.ProcessingTime(0)).start()

    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // batch 1: events in hour 1 and hour 2 -> watermark advances to 01:30
    mem.addData((ts(1, 0), "a", 1.0), (ts(1, 30), "a", 1.0), (ts(2, 30), "a", 1.0))
    q.processAllAvailable()
    // batch 2: a LATE event for hour 0 (before watermark 01:30) must be
    // dropped; an on-time event for hour 2 is kept
    mem.addData((ts(0, 15), "a", 1.0), (ts(2, 45), "a", 1.0), (ts(4, 0), "a", 1.0))
    q.processAllAvailable()
    // batch 3: push watermark far ahead so all open windows close
    mem.addData((ts(10, 0), "a", 1.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("wm_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toMap
    assert(rows.get("2024-01-01 01:00:00.0").contains(2L)) // hour-1 window closed with both events
    assert(rows.get("2024-01-01 02:00:00.0").contains(2L)) // late-but-in-window 02:45 kept
    assert(!rows.contains("2024-01-01 00:00:00.0"), s"late event should be dropped: $rows") // hour-0 dropped
  }

  test("native session_window batch equals the window-function sessionizer") {
    // same gap convention (probed: exactly-gap-apart events merge), so the
    // two independent formulations must produce identical sessions
    val viaWindowFns = EventStream.sessionizeBatch(spark, dir).collect()
      .map { r =>
        val end = r.getTimestamp(4)
        val plusGap = new java.sql.Timestamp(end.getTime + 30 * 60 * 1000L)
        plusGap.setNanos(end.getNanos) // keep µs precision (+30 min leaves the sub-second part intact)
        (r.getLong(0), r.getTimestamp(3), plusGap, r.getLong(2))
      }.toSet
    val viaSessionWindow = EventStream.sessionWindowBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(viaSessionWindow == viaWindowFns)
  }

  test("streaming session_window closes sessions via watermark, equals batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val data = Seq(
      (7L, ts(1, 0)), (7L, ts(1, 10)), (7L, ts(2, 30)), // user 7: two sessions
      (8L, ts(1, 5)))
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = EventStream.sessionWindowAgg(
      mem.toDF().toDF("user_id", "ts").withWatermark("ts", "1 minute"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sw_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    mem.addData(data: _*)
    q.processAllAvailable()
    mem.addData((99L, ts(12, 0))) // advance the watermark so all sessions close
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val batch = EventStream.sessionWindowAgg(data.toDF("user_id", "ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(batch.subsetOf(streamed), s"closed sessions missing from stream: ${batch -- streamed}")
  }

  test("r9: streaming last-touch attribution equals the backward as-of reference") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream
    import EventStream.AttrEvent

    val ev = graft.operators.Relational.events(spark, dir)
      .select("user_id", "event_id", "ts", "event_type").collect()
      .map(r => AttrEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3)))
    // independent reference: per purchase, the latest click with
    // (us, id) <= (purchase_us, purchase_id) — the non-strict backward rule
    def us(t: java.sql.Timestamp) = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val byUser = ev.groupBy(_.user_id)
    val expected = byUser.toSeq.flatMap { case (_, es) =>
      val clicks = es.filter(_.event_type == "click").map(e => (us(e.ts), e.event_id)).sorted
      es.filter(_.event_type == "purchase").toSeq.map { p =>
        val key = (us(p.ts), p.event_id)
        val last = clicks.filter(c => c._1 < key._1 || (c._1 == key._1 && c._2 <= key._2))
          .sorted.lastOption
        (p.event_id, last.map(_._2))
      }
    }.toSet

    // feed in 3 micro-batches that partition event time — the ordering
    // contract the operator documents
    val sortedEv = ev.sortBy(e => (us(e.ts), e.event_id))
    val batches = sortedEv.grouped(math.max(1, sortedEv.length / 3 + 1)).toSeq
    val mem = MemoryStream[AttrEvent]
    val q = EventStream.attributionStream(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("attr_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("attr_out").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    assert(streamed == expected,
      s"stream diverged: only-stream=${(streamed -- expected).take(5)} only-ref=${(expected -- streamed).take(5)}")
    assert(expected.exists(_._2.isDefined) && expected.exists(_._2.isEmpty),
      "fixture should contain both attributed and unattributed purchases")
  }

  test("stream-static enrichment join equals the batch join, dim size-gated per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val customers = spark.read.parquet(s"$dir/customer.parquet")
    val evBatch = graft.operators.Relational.events(spark, dir)
    val batch = EventStream.enrichStream(evBatch, customers).collect()
      .map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5)))).toSet

    val evStream = spark.readStream
      .schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .transform(graft.operators.Relational.normalizeEventTs)
    val q = EventStream.enrichStream(evStream, customers)
      .writeStream.outputMode("append").format("memory").queryName("enrich_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("enrich_out").collect()
      .map(r => (r.getLong(0), Option(r.get(4)), Option(r.get(5)))).toSet
    assert(streamed == batch)
    assert(batch.exists(_._2.isDefined), "fixture should enrich at least some events")
  }

  test("stream-stream interval join equals the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = graft.operators.Relational.events(spark, dir).cache()
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")

    val batch = EventStream.clickPurchaseJoin(clicks, purchases).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "fixture should produce click->purchase pairs")

    // same join as a genuine stream-stream join over file sources
    val schema = ev.schema
    def stream(tpe: String) = {
      spark.readStream.schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .transform(graft.operators.Relational.normalizeEventTs)
        .filter(col("event_type") === tpe)
    }
    val q = EventStream.clickPurchaseJoin(stream("click"), stream("purchase"))
      .writeStream.outputMode("append").format("memory").queryName("ss_join")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming incremental dedup == batch increment, across micro-batches and the store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    // the batch incremental test's planted fixture: corpus (< 400) with an
    // internal dup pair, new docs (>= 400) with a near-dup, an exact dup,
    // and a unique
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val tweak = (1 to 60).map(i => if (i % 20 == 0) s"z$i" else s"w$i").mkString(" ")
    val other = (1 to 60).map(i => s"q$i").mkString(" ")
    val unique = (1 to 60).map(i => s"y$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("stream-inc-dedup").toString
    Seq((10L, base), (11L, base), (12L, other),
        (400L, tweak), (401L, other), (402L, unique))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val batchTruth = Dedup.incrementalNearDups(spark, tmp, 0.6, splitId = 400L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

    // persisted corpus artifacts, exactly as a deployment holds them
    Dedup.writeSignatureStore(Dedup.docShingleArrays(spark, tmp), tmp, splitId = 400L)
    val corpusBands = spark.read.parquet(s"$tmp/bands.parquet")
    val corpusArrays = Dedup.docShingleArrays(spark, tmp).filter(col("doc_id") < 400L).cache()
    corpusArrays.count()

    val results = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("stream-inc-ckpt").toString
    val q = graft.streaming.StreamDedup.start(
      mem.toDF().toDF("doc_id", "text"), corpusArrays, corpusBands, 0.6, ckpt) {
      (batch, _) =>
        results.synchronized {
          results ++= batch.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
    }
    // the increment arrives split across two micro-batches
    mem.addData((400L, tweak))
    q.processAllAvailable()
    mem.addData((401L, other), (402L, unique))
    q.processAllAvailable()
    q.stop()
    corpusArrays.unpersist(false)
    assert(results.toSet == batchTruth,
      s"stream/batch diverged: stream-only=${results.toSet -- batchTruth} batch-only=${batchTruth -- results}")
    // the multi-batch delivery really found pairs (not vacuously equal)
    assert(results.exists(_._1 == 400L) && results.exists(_._1 == 401L))
  }

  test("streaming DSIR scoring == batch scores against the same persisted model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val tmp = java.nio.file.Files.createTempDirectory("stream-dsir").toString
    val train = Seq(
      (0L, "the cat sat", "en"), (1L, "the dog sat", "en"), (2L, "the cat ran", "en"),
      (3L, "der hund lief", "de"), (4L, "der hund sprang", "de"))
    train.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    TextAnalysis.writeDsirModel(spark, tmp, tmp)
    // new docs to score: mix of in-model and OOV tokens ("neu" was never
    // trained — its bucket is absent from the model and must be dropped)
    val fresh = Seq((100L, "the cat lief", "en"), (101L, "der neu hund", "de"))
    val cost = spark.read.parquet(s"$tmp/dsir_cost.parquet")
    val batchTruth = TextAnalysis.dsirScoreAgainst(
      fresh.toDF("doc_id", "text", "lang"), cost).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val results = scala.collection.mutable.Set[(Long, Long, Long)]()
    val mem = MemoryStream[(Long, String, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("stream-dsir-ckpt").toString
    val q = graft.streaming.StreamScore.start(
      spark, mem.toDF().toDF("doc_id", "text", "lang"), tmp, 1024, ckpt) { (batch, _) =>
      results.synchronized {
        results ++= batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
    }
    mem.addData(fresh.head)
    q.processAllAvailable()
    mem.addData(fresh(1))
    q.processAllAvailable()
    q.stop()
    assert(results.toSet == batchTruth,
      s"stream/batch diverged: stream=${results.toSet} batch=$batchTruth")
    // OOV rule really exercised: doc 101 has 5 features (3 uni + 2 bi) but
    // only those whose buckets exist in the model count
    val n101 = results.find(_._1 == 101L).get._2
    assert(n101 < 5L, s"OOV features must be dropped from n_feats, got $n101")
    // and the en-typical new doc outscores the de-typical one per feature
    val s100 = results.find(_._1 == 100L).get
    val s101 = results.find(_._1 == 101L).get
    assert(s100._3 > s101._3, s"direction: $s100 vs $s101")
  }

  test("sessionizer emits via event-time timeout when the watermark passes the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[EventStream.Event]
    val sessions = EventStream.sessionizeStream(
      mem.toDS().withWatermark("ts", "1 minute").as[EventStream.Event])
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout")
      .trigger(Trigger.ProcessingTime(0)).start()

    // user 7: two events 5 min apart -> one open session in state
    mem.addData(EventStream.Event(7L, 1L, ts(1, 0)), EventStream.Event(7L, 2L, ts(1, 5)))
    q.processAllAvailable()
    assert(spark.table("sess_timeout").count() == 0) // still open, nothing emitted
    // another user's much later event advances the watermark past 01:35+gap
    mem.addData(EventStream.Event(9L, 3L, ts(5, 0)))
    q.processAllAvailable()
    // one more empty-ish trigger lets the timeout fire
    mem.addData(EventStream.Event(9L, 4L, ts(5, 1)))
    q.processAllAvailable()
    val rows1 = spark.table("sess_timeout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows1.contains((7L, 1L, 2L)), s"user 7 session not closed by timeout: ${rows1.toSeq}")

    // user 7 returns AFTER the timeout closed session 1: the next session
    // must continue numbering at seq=2 (state keeps the counter), matching
    // the batch/oracle (user_id, session_seq) contract
    mem.addData(EventStream.Event(7L, 5L, ts(6, 0)))
    q.processAllAvailable()
    mem.addData(EventStream.Event(9L, 6L, ts(12, 0))) // advance watermark past 06:00+gap
    q.processAllAvailable()
    mem.addData(EventStream.Event(9L, 7L, ts(12, 1))) // trigger so the timeout fires
    q.processAllAvailable()
    q.stop()
    val rows2 = spark.table("sess_timeout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows2.contains((7L, 2L, 1L)),
      s"user 7 post-timeout session must continue numbering at seq=2: ${rows2.toSeq}")
  }

  test("stream-stream LEFT OUTER interval join emits null rows after the watermark closes the interval") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = EventStream.clickPurchaseLeftJoin(
      clicks.toDF().toDF("user_id", "event_id", "ts"),
      purchases.toDF().toDF("user_id", "event_id", "ts"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_left_join")
      .trigger(Trigger.ProcessingTime(0)).start()
    // user 1 clicks and purchases within the hour; user 2 clicks, never buys
    clicks.addData((1L, 10L, ts(1, 0)), (2L, 20L, ts(1, 5)))
    purchases.addData((1L, 11L, ts(1, 30)))
    q.processAllAvailable()
    val early = spark.table("ss_left_join").collect()
    assert(!early.exists(r => r.getLong(1) == 20L && r.isNullAt(2)),
      "the null row must NOT appear before the watermark closes click 20's interval")
    // advance BOTH watermarks far past 01:05 + 1h (+2h delay)
    clicks.addData((9L, 90L, ts(12, 0)))
    purchases.addData((9L, 91L, ts(12, 0)))
    q.processAllAvailable()
    clicks.addData((9L, 92L, ts(12, 1))) // extra trigger to flush outer-join state
    purchases.addData((9L, 93L, ts(12, 1)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ss_left_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows.contains((1L, 10L, 11L)), s"matched pair missing: $rows")
    assert(rows.contains((2L, 20L, -1L)),
      s"unmatched click must surface with null purchase after the watermark: $rows")
    // batch twin: the same operator over the full batch data gives the
    // same rows for every CLOSED click (ids 10/20); open clicks may still
    // be holding their null rows in state
    val allClicks = Seq((1L, 10L, ts(1, 0)), (2L, 20L, ts(1, 5)), (9L, 90L, ts(12, 0)), (9L, 92L, ts(12, 1)))
      .toDF("user_id", "event_id", "ts")
    val allPurch = Seq((1L, 11L, ts(1, 30)), (9L, 91L, ts(12, 0)), (9L, 93L, ts(12, 1)))
      .toDF("user_id", "event_id", "ts")
    val batch = EventStream.clickPurchaseLeftJoin(allClicks, allPurch).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val closed = Set(10L, 20L)
    assert(rows.filter(r => closed(r._2)) == batch.filter(r => closed(r._2)),
      s"stream must equal batch on closed clicks: stream=$rows batch=$batch")
  }

  test("transformWithState sessionizer: RocksDB state + event-time timers, same contract") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[EventStream.Event]
      val sessions = EventStream.sessionizeTws(
        mem.toDS().withWatermark("ts", "1 minute").as[EventStream.Event])
      val q = sessions.writeStream.outputMode("append")
        .format("memory").queryName("tws_sess")
        .trigger(Trigger.ProcessingTime(0)).start()
      // user 7: in-batch gap closes session 1 immediately; session 2 stays open
      mem.addData(EventStream.Event(7L, 1L, ts(1, 0)), EventStream.Event(7L, 2L, ts(1, 5)),
        EventStream.Event(7L, 3L, ts(3, 0)))
      q.processAllAvailable()
      val inBatch = spark.table("tws_sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(inBatch.contains((7L, 1L, 2L)), s"in-batch gap must close session 1: ${inBatch.toSeq}")
      // advance the watermark past 03:00+gap -> the TIMER closes session 2
      mem.addData(EventStream.Event(9L, 4L, ts(8, 0)))
      q.processAllAvailable()
      mem.addData(EventStream.Event(9L, 5L, ts(8, 1))) // extra trigger to fire timers
      q.processAllAvailable()
      val rows = spark.table("tws_sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.contains((7L, 2L, 1L)), s"timer must close the open session: ${rows.toSeq}")
      // user 7 returns: numbering continues at seq 3 (state kept the counter)
      mem.addData(EventStream.Event(7L, 6L, ts(9, 0)))
      q.processAllAvailable()
      mem.addData(EventStream.Event(9L, 7L, ts(15, 0)))
      q.processAllAvailable()
      mem.addData(EventStream.Event(9L, 8L, ts(15, 1)))
      q.processAllAvailable()
      q.stop()
      val all = spark.table("tws_sess").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(all.contains((7L, 3L, 1L)),
        s"post-timeout session must continue numbering at seq=3: ${all.toSeq}")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming dedup within watermark drops re-deliveries, keeps distinct keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    // the streaming twin of Dedup.exact for append-only feeds: state holds
    // each key only until the watermark passes its event time + delay
    val deduped = mem.toDF().toDF("doc_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup")
      .trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((1L, ts(1, 0)), (2L, ts(1, 1)), (1L, ts(1, 2))) // dup of 1 in-batch
    q.processAllAvailable()
    mem.addData((1L, ts(1, 3)), (3L, ts(1, 4))) // dup of 1 across batches
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("stream_dedup").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"expected one row per key: ${ids.toSeq}")
  }

  test("sketch aggregates run inside streaming aggregation (HLL, complete mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val agg = mem.toDF().toDF("event_type", "user_id")
      .groupBy("event_type")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("approx_users"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("stream_hll")
      .trigger(Trigger.ProcessingTime(0)).start()
    mem.addData((1 to 500).map(i => ("click", (i % 100).toLong)): _*)
    q.processAllAvailable()
    mem.addData((1 to 500).map(i => ("click", (100 + i % 50).toLong)): _*) // 50 new users
    q.processAllAvailable()
    q.stop()
    val est = spark.table("stream_hll").collect().head.getLong(1)
    // exact distinct = 150; HLL(lgK=12) is within ~2% there — and the
    // streaming state carried the sketch across triggers (merge path)
    assert(math.abs(est - 150L) <= 8, s"streaming HLL estimate $est far from 150")
  }

  test("streaming sessionization equals batch (closed sessions)") {
    import spark.implicits._
    val events = graft.operators.Relational.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[EventStream.Event]
    // run the stateful function over the full data as one "trigger"
    val streamed = EventStream.sessionizeStream(events).collect()
      .map(s => (s.user_id, s.session_seq, s.n_events, s.session_start, s.session_end)).toSet
    val batchAll = EventStream.sessionizeBatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getTimestamp(3), r.getTimestamp(4))).toSet
    // the stream only EMITS closed sessions (last session per user still in
    // state) — every emitted session must match the batch twin exactly
    assert(streamed.subsetOf(batchAll),
      s"streamed sessions not found in batch: ${(streamed -- batchAll).take(3)}")
    // and it must have emitted all but the final session of each user
    val users = batchAll.groupBy(_._1)
    val expectedClosed = users.values.flatMap(ss => ss.toSeq.sortBy(_._2).dropRight(1)).toSet
    assert(streamed == expectedClosed)
  }
}

class TopKSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("heap aggregate equals the window-function top-k exactly") {
    val agg = graft.operators.Relational.groupedTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val win = graft.operators.Relational.windowTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(agg == win, s"heap/window disagree: ${(agg -- win).take(5)} / ${(win -- agg).take(5)}")
  }

  test("result is invariant under repartitioning (merge path is exact)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = spark.read.parquet(s"$dir/orders.parquet")
    def run(d: org.apache.spark.sql.DataFrame) = d
      .groupBy("o_custkey").agg(expr("graft_topk(o_orderkey, o_totalprice, 3)").as("top"))
      .select(col("o_custkey"), expr("transform(top, t -> t.id)").as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(run(df) == run(df.repartition(37)), "top-k must not depend on partition layout")
  }

  test("score ties break deterministically by smaller id") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0), (9L, 7.0))
      .toDF("id", "score").withColumn("g", lit("x"))
    val got = rows.groupBy("g")
      .agg(expr("graft_topk(id, score, 3)").as("top"))
      .select(expr("transform(top, t -> t.id)")).collect().head.getSeq[Long](0)
    assert(got == Seq(9L, 1L, 2L), s"expected (7.0,9),(5.0,1),(5.0,2) — got $got")
  }

  test("edge scores: NaN ranks first (Spark desc order), nulls are skipped, decimals work") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // NaN: Spark's SQL ordering puts NaN above +Inf; the heap must agree
    // with the row_number window form instead of wedging on NaN compares
    val nan = Seq((1L, 1.0), (2L, Double.NaN), (3L, Double.PositiveInfinity))
      .toDF("id", "score").withColumn("g", lit("x"))
    val gotNan = nan.groupBy("g").agg(expr("graft_topk(id, score, 2)").as("top"))
      .select(expr("transform(top, t -> t.id)")).collect().head.getSeq[Long](0)
    assert(gotNan == Seq(2L, 3L), s"NaN must rank first like ORDER BY score DESC: $gotNan")
    // null scores are skipped — SQL aggregate semantics (differs from the
    // window form, which ranks nulls last; pinned here as the contract)
    val withNull = Seq((1L, Some(5.0)), (2L, None), (3L, Some(1.0)))
      .toDF("id", "score").withColumn("g", lit("x"))
    val gotNull = withNull.groupBy("g").agg(expr("graft_topk(id, score, 3)").as("top"))
      .select(expr("transform(top, t -> t.id)")).collect().head.getSeq[Long](0)
    assert(gotNull == Seq(1L, 3L), s"null score must not hold a slot: $gotNull")
    // decimal scores: converted, not ClassCastException
    val dec = Seq((1L, BigDecimal("2.50")), (2L, BigDecimal("7.25")))
      .toDF("id", "score").withColumn("g", lit("x"))
    val gotDec = dec.groupBy("g").agg(expr("graft_topk(id, score, 1)").as("top"))
      .select(expr("transform(top, t -> t.id)")).collect().head.getSeq[Long](0)
    assert(gotDec == Seq(2L), s"decimal scores must work: $gotDec")
    // -0.0 ties 0.0 and breaks by id, as SQL comparison would. The
    // discriminating arrangement puts -0.0 on the SMALLER id: without
    // normalization Double.compare ranks (5, 0.0) above (4, -0.0)
    val zeros = Seq((4L, -0.0), (5L, 0.0)).toDF("id", "score").withColumn("g", lit("x"))
    val gotZero = zeros.groupBy("g").agg(expr("graft_topk(id, score, 2)").as("top"))
      .select(expr("transform(top, t -> t.id)")).collect().head.getSeq[Long](0)
    assert(gotZero == Seq(4L, 5L), s"-0.0 must tie 0.0 (id tiebreak): $gotZero")
  }

  test("plan is a partial/merge hash aggregate, not a window sort") {
    val plan = graft.operators.Relational.groupedTopK(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk") || plan.contains("partial_topk") ||
      plan.contains("ObjectHashAggregate"), s"expected partial aggregation:\n$plan")
    assert(!plan.contains("Window "), s"must not fall back to window functions:\n$plan")
  }
}

class StreamExportSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("streaming Avro export writes per-batch container files readable by AvroSource") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("stream-export").toString
    val mem = MemoryStream[(Long, String, Double)]
    mem.addData((1L, "a", 1.5), (2L, "b", 2.5))
    val q = graft.streaming.StreamExport.start(
      mem.toDF().toDF("id", "tag", "score"), out, "deflate1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q.processAllAvailable()
    mem.addData((3L, "c", 3.5)) // second micro-batch -> second directory
    q.processAllAvailable()
    q.stop()
    val batchDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch-")).map(_.toString).sorted
    assert(batchDirs.length == 2, s"expected two batch dirs: ${batchDirs.toSeq}")
    val back = batchDirs.map(d => graft.sources.AvroSource.read(spark, d))
      .reduce(_ union _)
    assert(back.count() == 3)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // layout contract: one shared schema sidecar at the export root
    assert(new java.io.File(s"$out/_AVRO_SCHEMA.avsc").exists())
  }

  test("restarted export resumes from the checkpoint — committed batches are not re-exported") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("stream-export-src").toString
    val out = java.nio.file.Files.createTempDirectory("stream-export-restart").toString
    // the file-stream source needs leaf FILES: unwrap the part file
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("se-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name"))
    }
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), "f1.parquet")
    val schema = spark.read.parquet(src).schema
    def runOnce(): Unit = {
      val q = graft.streaming.StreamExport.start(
        spark.readStream.schema(schema).parquet(src), out)
      q.awaitTermination(120000)
    }
    runOnce() // first run exports f1
    val after1 = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).map(_.getName).sorted
    writeFile(Seq((3L, "c")).toDF("id", "tag"), "f2.parquet")
    runOnce() // NEW query, same checkpoint: must export ONLY f2
    val after2 = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch-")).map(_.getName).sorted
    assert(after1.length == 1 && after2.length == 2, s"run1=$after1 run2=$after2")
    val all = after2.map(d => graft.sources.AvroSource.read(spark, s"$out/$d")).reduce(_ union _)
    assert(all.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "each row exported exactly once across the restart")
  }
}

class LineDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("corpus line dedup removes cross-doc boilerplate segments, keeps unique text in order") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // one aligned 10-word segment
    val u1 = (1 to 10).map(i => s"u$i").mkString(" ")
    val u2 = (1 to 10).map(i => s"v$i").mkString(" ")
    val short3 = "x1 x2 x3" // < 10 words → one short segment, unique
    val tmp = java.nio.file.Files.createTempDirectory("line-dedup").toString
    Seq(
      (1L, s"$boiler $u1"), // boiler + unique
      (2L, s"$boiler $u2"), // boiler + different unique
      (3L, short3), // fully unique, kept whole
      (4L, boiler) // ENTIRELY boilerplate → empty after cleaning
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.lineDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((2L, 1L, 1L, md5hex(u1))))
    assert(out(2L) == ((2L, 1L, 1L, md5hex(u2))))
    assert(out(3L) == ((1L, 1L, 0L, md5hex(short3))))
    assert(out(4L) == ((1L, 0L, 1L, md5hex(""))), "all-boilerplate doc keeps a row with empty clean text")
  }

  test("segment order is restored after the anti-join (multi-segment survivors)") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"bb$i").mkString(" ")
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"c$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("line-dedup-ord").toString
    Seq(
      (1L, s"$segA $boiler $segB"), // boiler in the MIDDLE
      (2L, boiler)
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r1 = graft.operators.TextAnalysis.lineDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(r1(1L) == md5hex(s"$segA $segB"), "survivors must rejoin in original positional order")
  }

  test("substring dup score catches SHIFTED verbatim duplication that aligned segments miss") {
    import spark.implicits._
    // doc 2 repeats doc 1's 30-word passage shifted ONE token to the right:
    // every aligned 10-word segment differs (lineDedup finds nothing), but
    // the shared 25-token sliding windows are verbatim
    val passage = (1 to 30).map(i => s"p$i").mkString(" ")
    val filler = (1 to 30).map(i => s"f$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("substr-dup").toString
    Seq(
      (1L, passage + " tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8 tail9 tail10"),
      (2L, "shift " + passage + " end1 end2 end3 end4 end5 end6 end7 end8 end9"),
      (3L, filler) // unrelated, no duplication
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // the aligned-segment pass sees no cross-doc segment
    val line = graft.operators.TextAnalysis.lineDedup(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(line.values.forall(_ == 0L),
      s"shifted duplication must be invisible to aligned segments: $line")
    // the sliding-window pass flags both carriers, not the unrelated doc
    val sub = graft.operators.TextAnalysis.substringDupScore(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // both docs share exactly the passage's 6 25-token windows (30-25+1)
    assert(sub(1L)._2 == 6L && sub(2L)._2 == 6L,
      s"shared sliding windows missed: $sub")
    assert(sub(1L)._3 > 0.3 && sub(2L)._3 > 0.3)
    assert(sub(3L)._2 == 0L && sub(3L)._3 == 0.0)
    // window accounting: doc 1 has 40 tokens -> 16 windows
    assert(sub(1L)._1 == 16L, s"window count wrong: ${sub(1L)}")
  }
}

class TextChunkSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("chunk boundaries: empty doc, exact window, one-past, overlap content") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("text-chunk").toString
    val t200 = "x" * 200
    val t201 = "y" * 201
    val t = (0 until 350).map(i => ('a' + i % 26).toChar).mkString
    Seq((1L, ""), (2L, t200), (3L, t201), (4L, t)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.operators.TextAnalysis.chunk(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .groupBy(_._1)
    assert(rows(1L).toSeq == Seq((1L, 0L, 1L, "", 0L)), "empty doc -> one empty chunk")
    assert(rows(2L).toSeq.sortBy(_._2) == Seq(
      (2L, 0L, 1L, t200, 200L),
      (2L, 1L, 151L, t200.substring(150), 50L)), "len=200: second window starts at 151")
    assert(rows(3L).map(_._2).toSet == Set(0L, 1L), "len=201 still two windows")
    val c4 = rows(4L).toSeq.sortBy(_._2)
    assert(c4.map(_._2) == Seq(0L, 1L, 2L))
    assert(c4(0)._4 == t.substring(0, 200) && c4(1)._4 == t.substring(150, 350) &&
      c4(2)._4 == t.substring(300))
    // overlap invariant: last 50 chars of chunk k == first 50 of chunk k+1
    assert(c4(0)._4.substring(150) == c4(1)._4.substring(0, 50))
  }
}

class HashEmbeddingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("identical texts get identical vectors; the sparse form feeds the grid dedup") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hash-emb").toString
    Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // exact dup of 1
      (3L, "totally different words here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sparse = graft.operators.TextAnalysis.hashEmbedding(spark, tmp, dim = 8)
    val byDoc = sparse.collect().groupBy(_.getLong(0))
      .map { case (d, rows) => d -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq }
    assert(byDoc(1L) == byDoc(2L), "same text must hash to the same vector")
    assert(byDoc(1L) != byDoc(3L), "different text should differ")
    // densify and run the exact grid dedup over the hashed vectors: the
    // duplicate pair must come out with cosine 1.0
    val dense = sparse.groupBy("doc_id")
      .agg(expr("transform(sequence(0, 7), d -> CAST(coalesce(" +
        "element_at(map_from_arrays(collect_list(dim_idx), collect_list(weight)), CAST(d AS BIGINT)), 0) AS FLOAT))")
        .as("embedding"))
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val pairs = graft.operators.Dedup.embeddingNearDupsGrid(dense, 0.99, blocks = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"hashed vectors must surface the planted dup: $pairs")
  }
}

class EntryContractSpec extends AnyFunSuite {
  test("every oracle key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
  test("every query without an oracle is a DOCUMENTED approximate path with a paired gate") {
    // The correctness gate treats an oracle-less query as a weak rows-only
    // check; this pin makes adding one WITHOUT a paired accuracy gate a CI
    // failure instead of a silent coverage hole.
    val exempt = Map(
      "ann_lsh" -> "ann_recall", "ann_ivf" -> "ann_ivf_check", "ann_pq" -> "ann_pq_check",
      "ann_margin_mining_ivf" -> "ann_margin_mining_ivf_check",
      "ann_ivfpq" -> "ann_ivfpq_check",
      "ann_sq" -> "ann_sq_check",
      "text_bpe" -> "text_bpe_check",
      "text_bpe_encode" -> "text_bpe_encode_check",
      "text_bpe_encode_store" -> "text_bpe_encode_check",
      "text_pack_bins" -> "text_pack_bins_check",
      "sketch_distinct" -> "sketch_distinct_check",
      "sketch_quantiles" -> "sketch_quantile_check",
      "sketch_theta_overlap" -> "sketch_theta_check",
      "sketch_topk_terms" -> "sketch_freq_check",
      "text_decontaminate_bloom" -> "text_decontaminate_bloom_check",
      "sample_coreset" -> "sample_coreset_check")
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == exempt.keySet,
      s"undocumented oracle-less queries: ${noOracle -- exempt.keySet}; " +
        s"stale exemptions: ${exempt.keySet -- noOracle}")
    exempt.values.foreach { gate =>
      assert(SparkEntry.oracleSql.contains(gate), s"accuracy gate $gate lost its oracle")
    }
  }
  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(SparkSpec.spark).count() > 0)
  }
  test("r11: per-family oracle catalogs are key-disjoint (split invariant)") {
    // The round-11 split composes oracleSql with ++, so an accidental key
    // collision between family files would silently shadow an oracle.
    val fams: Seq[(String, Map[String, String])] = Seq(
      "Relational" -> graft.catalog.RelationalOracles.sql,
      "Event" -> graft.catalog.EventOracles.sql,
      "Text" -> graft.catalog.TextOracles.sql,
      "Dedup" -> graft.catalog.DedupOracles.sql,
      "Ann" -> graft.catalog.AnnOracles.sql,
      "Graph" -> graft.catalog.GraphOracles.sql,
      "Multimodal" -> graft.catalog.MultimodalOracles.sql,
      "Sketch" -> graft.catalog.SketchOracles.sql)
    for (Seq((na, a), (nb, b)) <- fams.combinations(2)) {
      val shared = a.keySet & b.keySet
      assert(shared.isEmpty, s"$na and $nb both define: $shared")
    }
    assert(fams.map(_._2.size).sum == SparkEntry.oracleSql.size)
  }
}

class LmXentSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: perplexity buckets are value-atomic terciles partitioning the corpus") {
    val dir = SparkSpec.testDataDir
    val rows = graft.operators.TextAnalysis.pipelinePplBuckets(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    val n = rows.length
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    // value-atomic cumulative terciles: head reaches >= n/3 and head+middle
    // >= 2n/3, each overshooting only by ties on the boundary value
    val nHead = byBucket.getOrElse("head", Array.empty[Long]).length
    val nMid = byBucket.getOrElse("middle", Array.empty[Long]).length
    assert(nHead * 3 >= n, s"head must reach the first tercile: $nHead of $n")
    assert((nHead + nMid) * 3 >= 2 * n, s"head+middle must reach the second tercile")
    // the partition is monotone in xent: max(head) <= min(middle) <= max(middle) <= min(tail)
    for {
      h <- byBucket.get("head"); m <- byBucket.get("middle")
    } assert(h.max <= m.min, "head/middle boundary must be a clean value cut")
    for {
      m <- byBucket.get("middle"); t <- byBucket.get("tail")
    } assert(m.max < t.min, "middle/tail boundary must be a clean value cut")
  }

  test("bigram LM cross-entropy: hand-computed micro-nat costs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lm-xent").toString
    // vocab {a,b,c} = 3; bigrams: (a b)x2, (a c)x1; c_prev(a) = 3
    // p(a b) = (2+1)/(3+3) = 0.5        -> round(ln(0.5)*1e6)  = -693147
    // p(a c) = (1+1)/(3+3) = 1/3        -> round(ln(1/3)*1e6)  = -1098612
    Seq((0L, "a b"), (1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.lmCrossEntropy(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0L) == ((1L, 693147L)), s"got $out")
    assert(out(1L) == ((1L, 693147L)))
    assert(out(2L) == ((1L, 1098612L)))
    // the curation signal: corpus-typical (duplicated) text scores LOWER
    // cross-entropy than the rare continuation
    assert(out(0L)._2 < out(2L)._2)
  }

  test("degenerate single-token vocabulary: p=1 everywhere, xent 0") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lm-xent-deg").toString
    // vocab {a} = 1; every bigram (a a): p = (3+1)/(3+1) = 1 -> cost 0
    Seq((0L, "a a a a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.lmCrossEntropy(spark, tmp).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 3L && out.head.getLong(2) == 0L)
  }

  test("sub-2-token docs carry no bigrams and are excluded") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("lm-xent-short").toString
    Seq((0L, "solo"), (1L, "pair of tokens")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val ids = graft.operators.TextAnalysis.lmCrossEntropy(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }
}

class DecontaminateBloomSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("planted leak: bloom mark is a superset of the exact mark, gate green") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("decon-bloom").toString
    val leak = (1 to 12).map(i => s"leak$i").mkString(" ")
    val clean = (1 to 12).map(i => s"clean$i").mkString(" ")
    val other = (1 to 12).map(i => s"other$i").mkString(" ")
    Seq(
      (0L, leak), // eval doc (doc_id < 20)
      (25L, s"prefix one two three four five six seven $leak"), // verbatim leak
      (30L, clean), (31L, other) // uncontaminated corpus
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val exact = graft.operators.TextAnalysis.decontaminate(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val bloom = graft.operators.TextAnalysis.decontaminateBloom(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact(25L) && !exact(30L) && !exact(31L))
    // superset: every exactly-contaminated doc must be bloom-flagged
    assert(exact.filter(_._2).keySet.subsetOf(bloom.filter(_._2).keySet))
    assert(bloom(25L), "bloom must never miss a true leak")
    val gate = graft.operators.TextAnalysis.decontaminateBloomCheck(spark, tmp).collect().head
    assert(gate.getLong(0) == 1L, s"one contaminated doc expected: $gate")
    assert(gate.getBoolean(1), "no_false_negatives")
    assert(gate.getBoolean(2), "fp_frac_bounded")
  }
}

class AudioPcmSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir
  import graft.operators.Multimodal

  test("wavPcmSamples inverts wavPcmBytes exactly (rate, channels, every int16)") {
    val samples = Array.tabulate(100)(i => ((i * 977) % 65536 - 32768).toShort)
    val Some((r, c, s)) = Multimodal.wavPcmSamples(Multimodal.wavPcmBytes(44100, 2, samples))
    assert(r == 44100 && c == 2)
    assert(s.toSeq == samples.toSeq, "decoded samples must be bit-identical")
  }

  test("r9: fft matches the naive O(N^2) DFT on an integer frame") {
    val n = 32
    val x = Array.tabulate(n)(i => (((i * 131 + 997) % 2003) - 1001).toDouble)
    val re = x.clone(); val im = new Array[Double](n)
    Multimodal.fft(re, im)
    for (k <- 0 until n) {
      var dr = 0.0; var di = 0.0
      for (j <- 0 until n) {
        val ang = -2.0 * math.Pi * k * j / n
        dr += x(j) * math.cos(ang)
        di += x(j) * math.sin(ang)
      }
      assert(math.abs(re(k) - dr) < 1e-6 && math.abs(im(k) - di) < 1e-6,
        s"bin $k: fft (${re(k)}, ${im(k)}) vs dft ($dr, $di)")
    }
  }

  test("r9: fft frequency selectivity — a pure k=5 tone peaks at bins 5 and 27") {
    val n = 32
    val re = Array.tabulate(n)(i => 1000.0 * math.cos(2.0 * math.Pi * 5 * i / n))
    val im = new Array[Double](n)
    Multimodal.fft(re, im)
    val mags = Array.tabulate(n)(k => re(k) * re(k) + im(k) * im(k))
    val top2 = mags.zipWithIndex.sortBy(-_._1).take(2).map(_._2).toSet
    assert(top2 == Set(5, 27), s"expected conjugate-pair peaks {5, 27}, got $top2")
    // impulse: flat unit spectrum
    val ir = new Array[Double](n); ir(0) = 1.0
    val ii = new Array[Double](n)
    Multimodal.fft(ir, ii)
    assert(ir.forall(v => math.abs(v - 1.0) < 1e-12) && ii.forall(v => math.abs(v) < 1e-12))
  }

  test("r9: spectrum query conserves energy through the FFT, quarantines torn docs") {
    val rows = Multimodal.audioSpectrumQuery(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, parsed) = (r.getLong(0), r.getBoolean(1))
      if (parsed) {
        assert(r.getLong(3) == r.getLong(4),
          s"doc $id: Parseval violated — energy_time=${r.getLong(3)} energy_freq=${r.getLong(4)}")
        assert(r.getLong(2) >= 2, s"doc $id: expected >=2 full frames")
      } else {
        assert(id % 7 == 0 && (2 to 5).forall(i => r.getLong(i) == -1L))
      }
    }
  }

  test("r9: bmpPixels inverts bmpBytes exactly — bottom-up, padding, torn files") {
    def rgb(x: Int, y: Int): (Int, Int, Int) = ((x * 37 + y) % 256, (y * 53 + x) % 256, (x + y * 7) % 256)
    // width 9: stride 27 -> padded to 28, exercising the row-padding path
    val Some((w, h, px)) = Multimodal.bmpPixels(Multimodal.bmpBytes(9, 8, rgb))
    assert(w == 9 && h == 8)
    for (y <- 0 until 8; x <- 0 until 9)
      assert(px(y)(x) == rgb(x, y), s"pixel ($x, $y) decoded wrong")
    // torn pixel array quarantines, garbage quarantines
    assert(Multimodal.bmpPixels(Multimodal.bmpBytes(9, 8, rgb, truncate = true)).isEmpty)
    assert(Multimodal.bmpPixels(Array.fill[Byte](60)(0x42)).isEmpty)
    // TOP-DOWN BMP (negative height) must decode to the same image
    val bottomUp = Multimodal.bmpBytes(4, 3, rgb)
    val topDown = bottomUp.clone()
    // flip height sign to -3 (little-endian at offset 22)...
    topDown(22) = (-3 & 0xff).toByte; topDown(23) = 0xff.toByte
    topDown(24) = 0xff.toByte; topDown(25) = 0xff.toByte
    val Some((_, _, tdPx)) = Multimodal.bmpPixels(topDown)
    val Some((_, _, buPx)) = Multimodal.bmpPixels(bottomUp)
    // ...which reverses the row order relative to the bottom-up read
    for (y <- 0 until 3; x <- 0 until 4)
      assert(tdPx(y)(x) == buPx(3 - 1 - y)(x), s"top-down row order at ($x, $y)")
  }

  test("r9: planted image dHash — corrupt rows -1, hashes deterministic and varied") {
    val rows = Multimodal.imageDhashQuery(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 0) assert(!r.getBoolean(1) && r.getLong(4) == -1L, s"torn doc $id")
      else {
        assert(r.getBoolean(1) && r.getLong(2) == 9L && r.getLong(3) == 8L, s"doc $id dims")
        assert(r.getLong(4) >= 0L && r.getLong(4) < (1L << 32), s"doc $id hi half out of range")
        assert(r.getLong(5) >= 0L && r.getLong(5) < (1L << 32), s"doc $id lo half out of range")
      }
    }
    // the planted gradient pattern must not hash every image identically
    val distinct = rows.values.filter(_.getBoolean(1))
      .map(r => (r.getLong(4), r.getLong(5))).toSet
    assert(distinct.size > 10, s"suspiciously few distinct hashes: ${distinct.size}")
  }

  test("r9: ppmPixels inverts ppmBytes exactly — comments, torn rasters, garbage") {
    def rgb(x: Int, y: Int): (Int, Int, Int) = ((x * 41 + y) % 256, (y * 59 + x) % 256, (x * 3 + y * 11) % 256)
    val Some((w, h, px)) = Multimodal.ppmPixels(Multimodal.ppmBytes(8, 6, rgb))
    assert(w == 8 && h == 6)
    for (y <- 0 until 6; x <- 0 until 8)
      assert(px(y)(x) == rgb(x, y), s"pixel ($x, $y) decoded wrong")
    assert(Multimodal.ppmPixels(Multimodal.ppmBytes(8, 6, rgb, truncate = true)).isEmpty)
    assert(Multimodal.ppmPixels("P6\n8 6\n65535\n".getBytes("US-ASCII")).isEmpty,
      "16-bit maxval must quarantine, not misread")
    assert(Multimodal.ppmPixels(Array.fill[Byte](30)(0x50)).isEmpty)
  }

  test("torn data chunk (declared size overruns payload) quarantines, never throws") {
    val samples = Array.tabulate(64)(i => (i * 3).toShort)
    val torn = Multimodal.wavPcmBytes(8000, 1, samples, truncate = true)
    assert(Multimodal.wavPcmSamples(torn).isEmpty)
    // and arbitrary garbage quarantines too
    assert(Multimodal.wavPcmSamples(Array.fill[Byte](50)(0x41)).isEmpty)
    assert(Multimodal.wavPcmSamples("RIFF1234WAVEdata".getBytes("US-ASCII")).isEmpty)
  }

  test("planted audio features: corrupt rows are -1, parsed rows positive, frames sum to doc energy") {
    val docs = Multimodal.audioPcmQuery(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(docs.nonEmpty)
    docs.values.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 0) {
        assert(!r.getBoolean(1) && r.getLong(5) == -1L, s"torn doc $id must quarantine")
      } else {
        assert(r.getBoolean(1), s"doc $id failed to parse")
        assert(r.getLong(4) == 2 * (32 + id % 64), s"doc $id sample count")
        assert(r.getLong(5) > 0 && r.getLong(7) <= 1001, s"doc $id energy/peak")
        assert(r.getLong(8) > 0, s"doc $id should have sign flips (131-step wraps)")
      }
    }
    // frame energies partition the doc energy exactly
    val frameSums = Multimodal.audioFrameQuery(spark, dir).collect()
      .groupBy(_.getLong(0)).map { case (id, rows) => id -> rows.map(_.getLong(3)).sum }
    frameSums.foreach { case (id, e) =>
      assert(e == docs(id).getLong(5), s"doc $id: frame energies must sum to doc energy")
    }
    // quarantined docs contribute zero frames
    assert(!frameSums.keySet.exists(_ % 7 == 0))
  }
}

class DsirSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("DSIR: target-typical docs outscore off-domain docs; feature count is 2n-1") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dsir").toString
    Seq(
      (0L, "the cat sat", "en"), (1L, "the dog sat", "en"), (2L, "the cat ran", "en"),
      (3L, "der hund lief", "de"), (4L, "der hund sprang", "de"),
      (5L, "the cat sat", "de") // off-domain doc with TARGET-typical text
    ).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.dsirWeights(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // 3 tokens -> 3 unigrams + 2 bigrams
    assert(out.values.forall(_._1 == 5L), s"n_feats: $out")
    // every en-typical doc outscores every der-hund doc
    for (en <- Seq(0L, 1L, 2L, 5L); de <- Seq(3L, 4L))
      assert(out(en)._2 > out(de)._2, s"doc $en should outscore doc $de: $out")
    // the signal is the TEXT, not the label: doc 5 (en-typical text, de
    // label) scores exactly like doc 0 (same text)
    assert(out(5L)._2 == out(0L)._2)
  }

  test("composed DSIR selection skews toward the target domain") {
    val out = graft.operators.TextAnalysis
      .pipelineDsirSelect(spark, SparkSpec.testDataDir, topN = 20).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val en = out.getOrElse("en", 0L)
    assert(en > (out - "en").values.sum,
      s"top-20 DSIR selection should be majority-en: $out")
  }

  test("DSIR is invariant to partitioning (exact integer path)") {
    val dir = SparkSpec.testDataDir
    val a = graft.operators.TextAnalysis.dsirWeights(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val b = try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      graft.operators.TextAnalysis.dsirWeights(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b, "DSIR drifted with partitioning")
    assert(a.nonEmpty)
  }
}

class BpeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("BPE merges reproduce the classic hand-computed example with exact tie-breaks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    // the Sennrich-style fixture: low x5, lower x2, newest x6, widest x3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val merges = graft.operators.TextAnalysis.bpeMerges(spark, tmp, numMerges = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).sortBy(_._1)
    // round 1: (e,s),(s,t),(t,</w>) all tie at 9 -> lexicographic picks (e,s)
    // round 2: (es,t) 9 beats (t,</w>) 9 lexicographically
    // round 3: (est,</w>) 9 ; round 4: (l,o),(o,w) tie at 7 -> (l,o)
    // round 5: (lo,w) 7
    assert(merges.toSeq == Seq(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L)), s"got ${merges.toSeq}")
  }

  test("BPE training stops when no pair reaches frequency 2") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-stop").toString
    Seq((0L, "ab cd")).toDF("doc_id", "text") // every pair unique
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val merges = graft.operators.TextAnalysis.bpeMerges(spark, tmp, numMerges = 8).collect()
    assert(merges.isEmpty, s"no productive merges expected: ${merges.toSeq}")
  }

  test("distributed merge table == independent in-memory reference on the fixture corpus") {
    val gate = graft.operators.TextAnalysis.bpeCheck(spark, SparkSpec.testDataDir).collect()
    assert(gate.length == 1)
    assert(gate.head.getLong(0) == 16L, s"expected 16 productive merges: ${gate.head}")
    assert(gate.head.getBoolean(1), "distributed BPE diverged from the reference implementation")
  }

  test("r9: rank-order BPE encode — hand-computed tokens + exact corpus accounting") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-enc").toString
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // trained table: (e,s)(es,t)(est,</w>)(l,o)(lo,w) — see the classic test
    val ranks = graft.operators.TextAnalysis.bpeMerges(spark, tmp, 5).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    def enc(w: String) = graft.operators.TextAnalysis.encodeWord(w, ranks)
    assert(enc("low") == Vector("low", "</w>"))
    assert(enc("lower") == Vector("low", "e", "r", "</w>"))
    assert(enc("newest") == Vector("n", "e", "w", "est</w>"))
    assert(enc("widest") == Vector("w", "i", "d", "est</w>"))
    assert(enc("unseen") == Vector("u", "n", "s", "e", "e", "n", "</w>"))
    // corpus accounting: 5*2 + 2*4 + 6*4 + 3*4 = 54 tokens over 16 words
    val row = graft.operators.TextAnalysis.bpeEncode(spark, tmp, 5).collect().head
    assert((row.getLong(1), row.getLong(2)) == ((16L, 54L)), s"got $row")
    // gate: lossless round trip on the REAL corpus
    val gate = graft.operators.TextAnalysis.bpeEncodeCheck(spark, SparkSpec.testDataDir)
      .collect().head
    assert(gate.getLong(1) == 0L && gate.getBoolean(2), s"gate: $gate")
  }

  test("r9: persisted BPE model — store encode bit-equal to direct encode") {
    val store = java.nio.file.Files.createTempDirectory("bpe-model-store").toString
    try {
      graft.operators.TextAnalysis.writeBpeModel(spark, SparkSpec.testDataDir, store)
      val direct = graft.operators.TextAnalysis.bpeEncode(spark, SparkSpec.testDataDir)
        .collect().map(_.toSeq.toVector).toSet
      val viaStore = graft.operators.TextAnalysis
        .bpeEncodeViaStore(spark, SparkSpec.testDataDir, store)
        .collect().map(_.toSeq.toVector).toSet
      assert(viaStore == direct, "store path diverged from direct encode")
      // artifact is the merge table: <= numMerges rows
      assert(spark.read.parquet(s"$store/bpe_merges.parquet").count() <= 16)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  test("r9: driver-side incremental trainer == distributed fold on the real corpus") {
    def table(threshold: Int) =
      graft.operators.TextAnalysis.bpeMerges(spark, SparkSpec.testDataDir,
          numMerges = 12, driverMergeThreshold = threshold).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    val driver = table(threshold = 4) // 12 > 4 -> driver path
    val dist = table(threshold = Int.MaxValue) // always distributed
    assert(driver == dist, s"driver-only=${driver.diff(dist).take(3)} dist-only=${dist.diff(driver).take(3)}")
    assert(driver.length == 12)
  }

  test("r9: supplementary (non-BMP) characters — code-point symbols, UTF-8 tie order") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe-nonbmp").toString
    // U+E000 (BMP private use) vs U+1D400 (supplementary): UTF-16 order
    // puts the surrogate pair FIRST (0xD835 < 0xE000); UTF-8/code-point
    // order puts U+E000 first. A tie between pairs led by the two symbols
    // is decided differently under the two orderings — both paths must
    // agree on the UTF-8 (Spark binary) answer, and neither may split the
    // supplementary char into surrogate halves.
    val bmp = "\uE000"
    val supp = new String(Character.toChars(0x1D400)) // 𝐀
    val text = (Seq.fill(3)(bmp + "x") ++ Seq.fill(3)(supp + "x")).mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def table(threshold: Int) =
      graft.operators.TextAnalysis.bpeMerges(spark, tmp,
          numMerges = 4, driverMergeThreshold = threshold).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4))).sortBy(_._1).toSeq
    val dist = table(Int.MaxValue)
    val driver = table(1)
    assert(dist == driver, s"dist=$dist driver=$driver")
    // round 1: (x,</w>) f=6; round 2: tie at 3 -> UTF-8 order picks U+E000
    assert(dist(0) == ((1, "x", "</w>", 6L)), s"got $dist")
    assert(dist(1) == ((2, bmp, "x</w>", 3L)),
      s"tie must break in UTF-8 byte order (U+E000 before U+1D400): $dist")
    assert(dist(2) == ((3, supp, "x</w>", 3L)), s"supplementary char must stay whole: $dist")
  }
}

class PackBinsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: FFD packs whole docs, flags oversize, and meets the gate bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("packbins").toString
    // one shard (ids all ≡ 0 mod 8): token counts 6,5,4,3,2,2 at capacity 8
    // FFD order: 6,5,4,3,2,2 -> bins [6,2] [5,3] [4,2] = 3 bins (LB=ceil(22/8)=3)
    // plus one oversize doc (10 tokens) in its own flagged bin
    val docsRows = Seq(
      (0L, 6), (8L, 5), (16L, 4), (24L, 3), (32L, 2), (40L, 2), (48L, 10))
    docsRows.map { case (id, n) => (id, (1 to n).map(i => s"t$i").mkString(" ")) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val packed = graft.operators.TextAnalysis.packBins(spark, tmp, capacity = 8)
      .collect().map(r => r.getLong(0) -> ((r.getInt(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(packed(48L)._3, "oversize doc must be flagged")
    // bin contents: group non-oversize docs by bin
    val byBin = packed.filter(!_._2._3).groupBy(_._2._1).view
      .mapValues(_.map { case (id, (_, n, _)) => n }.toSeq.sorted).toMap
    assert(byBin.values.map(_.sum).forall(_ <= 8), s"overfilled bin: $byBin")
    assert(byBin.size == 3, s"FFD should need exactly 3 bins here: $byBin")
    assert(byBin.values.toSet == Set(Seq(2L, 6L), Seq(3L, 5L), Seq(2L, 4L)), s"$byBin")
    val gate = graft.operators.TextAnalysis.packBinsCheck(spark, tmp, capacity = 8)
      .collect().head
    assert(gate.getLong(0) == 7 && gate.getLong(1) == 1 &&
      gate.getBoolean(2) && gate.getBoolean(3), s"gate: $gate")
  }

  test("r9: gate holds on the real corpus at the default capacity") {
    val gate = graft.operators.TextAnalysis.packBinsCheck(spark, SparkSpec.testDataDir)
      .collect().head
    assert(gate.getBoolean(2) && gate.getBoolean(3), s"gate: $gate")
  }
}

class StreamQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: streaming gopher rules across micro-batches == batch on the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("stream-quality").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream-quality-ckpt").toString
    try {
      val good = (1 to 30).map(i => s"token$i words the data of system").mkString(" ")
      val b1 = Seq((1L, good), (2L, "### ### ###"), (3L, "tiny doc"))
      val b2 = Seq((4L, good + " more the of and tokens"), (5L, ("x " * 60).trim))
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamQuality.start(
        mem.toDF().toDF("doc_id", "text"), out, ckpt)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      q.stop()
      val streamed = spark.read.parquet(s"$out/batch_0", s"$out/batch_1")
        .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
      val batch = graft.operators.TextAnalysis.gopherRulesOn(
          (b1 ++ b2).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.toSeq.toVector).toMap
      assert(streamed == batch, "stream and batch gopher rules diverged")
      val keeps = spark.read.parquet(s"$out/batch_0", s"$out/batch_1")
        .filter(org.apache.spark.sql.functions.col("keep")).collect().map(_.getLong(0)).toSet
      assert(keeps.contains(1L) && !keeps.contains(2L) && !keeps.contains(3L),
        s"rule outcomes off: $keeps")
    } finally {
      for (d <- Seq(out, ckpt))
        new scala.reflect.io.Directory(new java.io.File(d)).deleteRecursively()
    }
  }
}

class RetentionSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: cohort retention triangle on a decaying fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("retention").toString
    val weekUs = 7L * 86400L * 1000000L
    // cohort week 0: users 1..4 — u1 active weeks {0,1,2}, u2 {0,1},
    // u3 {0}, u4 {0,2}; cohort week 1: users 5..6 — u5 {1,2}, u6 {1}
    val activity = Seq(
      1L -> Seq(0, 1, 2), 2L -> Seq(0, 1), 3L -> Seq(0), 4L -> Seq(0, 2),
      5L -> Seq(1, 2), 6L -> Seq(1))
    val rows = for {
      (u, weeks) <- activity; w <- weeks
      r <- 0 to 1 // two events per active week — distinctness must dedup
    } yield (u * 100 + w * 10 + r, u, w.toLong * weekUs + u * 1000L + r, "click")
    rows.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.eventsRetention(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      (0L, 0L) -> ((4L, 4L)), (0L, 1L) -> ((2L, 4L)), (0L, 2L) -> ((2L, 4L)),
      (1L, 0L) -> ((2L, 2L)), (1L, 1L) -> ((1L, 2L))), s"got $got")
  }
}

class StreamMonitorSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: streaming MAD monitor equals the batch twin across arbitrary batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.testDataDir
    val ev = graft.operators.Relational.events(spark, dir)
      .select("ts", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))
    val store = java.nio.file.Files.createTempDirectory("monitor-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("monitor-ckpt").toString
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = graft.streaming.StreamMonitor.start(
      mem.toDF().toDF("ts", "event_type"), store, ckpt)
    // arbitrary (non-time-partitioned) split: counts are order-independent
    // sums, so ANY batch boundary must give identical flags
    val (b1, b2) = ev.splitAt(ev.length / 3)
    mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    q.stop()
    val streamed = graft.streaming.StreamMonitor.flags(spark, store).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    val batch = graft.operators.Relational.eventsAnomalyMad(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    // versioned store pruned to the newest 2 versions
    val versions = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v"))
    assert(versions.length <= 2, s"store must prune old versions: ${versions.toSeq}")
    // r9: the same store serves the gap-filled series through the shared
    // batch body — stream == batch for the densified view too
    val filledStream = graft.streaming.StreamMonitor.filled(spark, store).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.get(2)), r.getLong(3), r.getBoolean(4))).toSet
    val filledBatch = graft.operators.Relational.eventsGapfill(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), Option(r.get(2)), r.getLong(3), r.getBoolean(4))).toSet
    assert(filledStream == filledBatch,
      s"only-stream=${(filledStream -- filledBatch).take(3)} only-batch=${(filledBatch -- filledStream).take(3)}")
  }
}

class WinsorizeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: winsorize clips at exact value-atomic p01/p99 per flag") {
    val dir = SparkSpec.testDataDir
    val raw = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_returnflag AS flag", "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val ref = raw.groupBy(_._1).map { case (flag, rows) =>
      val vs = rows.map(_._2).sorted
      val n = vs.length
      def boundary(pct: Int): Long = {
        // smallest v whose cumulative count reaches ceil(pct*n/100)
        val need = (pct * n + 99) / 100
        vs(need - 1)
      }
      val p01 = boundary(1); val p99 = boundary(99)
      val clipped = vs.map(v => math.max(p01, math.min(p99, v)))
      (flag, (n.toLong, vs.count(_ < p01).toLong, vs.count(_ > p99).toLong,
        clipped.sum, p01, p99))
    }
    val got = graft.operators.Relational.statsWinsorize(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == ref.toMap, s"got $got\nref ${ref.toMap}")
    got.values.foreach { case (n, lo, hi, _, _, _) =>
      assert(lo < n / 100 + 1 && hi <= n / 100 + 1, s"clip counts out of band: $lo/$hi of $n")
    }
  }
}

class CooccurSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: co-occurrence support and lift on a hand-built basket fixture") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("cooccur").toString
    // a+b co-occur in 12 docs; a alone in 4; b alone in 2; c everywhere
    val docsFx =
      (1 to 12).map(i => (i.toLong, "a b c")) ++
        (13 to 16).map(i => (i.toLong, "a c")) ++
        (17 to 18).map(i => (i.toLong, "b c")) ++
        (19 to 20).map(i => (i.toLong, "c"))
    docsFx.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextAnalysis.cooccurrence(spark, tmp, maxTokens = 3, minSupport = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // support >= 10 keeps (a,b): 12, (a,c): 16, (b,c): 14
    assert(got.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")), s"$got")
    assert(got(("a", "b")) == ((12L, 16L, 14L, 12L * 20 * 1000 / (16 * 14))))
    assert(got(("a", "c")) == ((16L, 16L, 20L, 16L * 20 * 1000 / (16 * 20))))
    // independence baseline: a,c fully nested in c -> lift exactly 1000
    assert(got(("a", "c"))._4 == 1000L)
  }
}

class WeightedSampleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: weighted sampling matches a driver reference and favors weight") {
    val dir = SparkSpec.testDataDir
    import spark.implicits._
    // driver reference: identical integer clock pipeline
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
    val ref = docs.map { case (id, w) =>
      val num = (id * 2654435761L) % graft.functions.Portable.P1 + 1
      val lnu = math.round(-math.log(num.toDouble / (graft.functions.Portable.P1 + 1)) * 1e6)
      (id, w, (lnu * 1048576L) / w)
    }.sortBy(t => (t._3, t._1)).take(100)
      .zipWithIndex.map { case ((id, w, c), i) => (id, w, c, i + 1L) }.toSet
    val got = graft.operators.TextAnalysis.sampleWeighted(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == ref, s"only-got=${(got -- ref).take(3)} only-ref=${(ref -- got).take(3)}")
    // direction: the clock is inverse in weight — a doc a million times
    // heavier than another with the same draw must sort first
    val sel = got.map(_._1)
    val heaviest = docs.sortBy(-_._2).take(10).map(_._1)
    val meanSel = got.toSeq.map(_._2).sum / got.size
    val meanAll = docs.map(_._2).sum / docs.length
    info(s"heaviest-10 docs selected: ${heaviest.count(sel.contains)}/10 " +
      s"(mean w selected = $meanSel, corpus mean = $meanAll)")
    assert(meanSel >= meanAll,
      "length-weighted sample must skew above the corpus mean length")
  }
}

class MarkovSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: transition matrix matches a driver reference; conditionals floor-sum under 1000") {
    val dir = SparkSpec.testDataDir
    val ev = graft.operators.Relational.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    def us(t: java.sql.Timestamp) = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val refCounts = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (us(e._2), e._3)).map(_._4).toSeq.sliding(2).collect {
        case Seq(a, b) => (a, b)
      }
    }.groupBy(p => p).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Relational.eventsMarkov(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.view.mapValues(_._1).toMap == refCounts,
      s"counts diverge: ${got.keySet -- refCounts.keySet} / ${refCounts.keySet -- got.keySet}")
    got.groupBy(_._1._1).foreach { case (prev, rows) =>
      val s = rows.values.map(_._2).sum
      assert(s <= 1000 && s > 1000 - rows.size,
        s"permille floor-sum out of range for $prev: $s")
    }
  }
}

class C4PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: C4 chain filters, dedups, then classifies — in that order") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("c4").toString
    // 60 stopword-bearing words pass every gopher rule
    val good = (1 to 30).flatMap(i => Seq("the", s"word$i")).mkString(" ")
    // gopher's stopword rule is English-centric: two English stopwords
    // keep the doc while the de markers still dominate langid
    val german = ((1 to 30).flatMap(i => Seq("der", "und", "das", s"wort$i")) ++
      Seq("the", "the")).mkString(" ")
    Seq(
      (1L, good), // kept, en
      (2L, good), // exact dup of 1 — must collapse
      (3L, "too short"), // fails gopher word count
      (4L, german) // kept, de
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.operators.TextAnalysis.pipelineC4(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows == Map("en" -> ((1L, 60L)), "de" -> ((1L, 122L))),
      s"chain must keep one en doc (dup collapsed) and one de doc: $rows")
  }
}

class Funnel3Spec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: 3-step funnel handles every drop-off stage through the composed as-of execs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("funnel3").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 10:$m%02d:00")
    Seq(
      // user 1: full funnel; the click BEFORE the view must not count
      (10L, ts(1), 1L, "click", 0.0, "{}"),
      (11L, ts(2), 1L, "view", 0.0, "{}"),
      (12L, ts(3), 1L, "click", 0.0, "{}"),
      (13L, ts(4), 1L, "purchase", 0.0, "{}"),
      // user 2: view + click, never purchases (purchase BEFORE click)
      (20L, ts(1), 2L, "purchase", 0.0, "{}"),
      (21L, ts(2), 2L, "view", 0.0, "{}"),
      (22L, ts(5), 2L, "click", 0.0, "{}"),
      // user 3: view only
      (30L, ts(1), 3L, "view", 0.0, "{}"),
      // user 4: clicks and purchases but never views -> not in the funnel
      (40L, ts(1), 4L, "click", 0.0, "{}"),
      (41L, ts(2), 4L, "purchase", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = graft.operators.Relational.eventsFunnel3Native(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((Option(r.getTimestamp(2)), Option(r.getTimestamp(3)), r.getBoolean(4)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), s"funnel rows: ${rows.keySet}")
    assert(rows(1L) == ((Some(ts(3)), Some(ts(4)), true)), s"user 1: ${rows(1L)}")
    assert(rows(2L) == ((Some(ts(5)), None, false)), s"user 2 must not match the pre-click purchase: ${rows(2L)}")
    assert(rows(3L) == ((None, None, false)), s"user 3 drops at view: ${rows(3L)}")
  }
}

class AnomalySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: MAD monitor flags a planted spike hour and only it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("anomaly").toString
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    // clicks: 20 quiet hours of 2-3 events, one spike hour of 40
    val quiet = (0 until 20).flatMap { h =>
      (0 until (2 + h % 2)).map(i => (h * 100L + i, ts(h, i), 1L, "click", 1.0, "{}"))
    }
    val spike = (0 until 40).map(i => (9000L + i, ts(21, i), 1L, "click", 1.0, "{}"))
    (quiet ++ spike).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = graft.operators.Relational.eventsAnomalyMad(spark, tmp).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getBoolean(5)))
    val flagged = rows.filter(_._3).map(_._1).toSet
    assert(flagged == Set(ts(21, 0)), s"only the spike hour may flag: $flagged")
    // median of {2,3}x10 + 40 is robust: the spike does not move it
    val med = graft.operators.Relational.eventsAnomalyMad(spark, tmp)
      .select("med").distinct().collect().map(_.getLong(0)).toSet
    assert(med == Set(3L) || med == Set(2L), s"median must stay in the quiet band: $med")
  }
}

class TfIdfSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: tf-idf ranks a hand-computed fixture exactly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("tfidf").toString
    // N=3; "rare" appears in 1 doc, "shared" in 2, "common" in all 3
    Seq(
      (0L, "common shared rare rare"),
      (1L, "common shared"),
      (2L, "common common")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = graft.operators.TextAnalysis.tfIdfTop(spark, tmp, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    def idf(df: Long) = math.round(math.log(4.0 / (df + 1.0)) * 1e6)
    val expect = Set(
      (0L, "rare", 2L, 1L, 2 * idf(1), 1L), // tf=2 × idf(df=1) ranks first
      (0L, "shared", 1L, 2L, idf(2), 2L),
      (1L, "shared", 1L, 2L, idf(2), 1L),
      (1L, "common", 1L, 3L, idf(3), 2L),
      (2L, "common", 2L, 3L, 2 * idf(3), 1L))
    assert(out.toSet == expect, s"got ${out.toSet}")
    // idf(df=N) = ln(4/4) = 0: ubiquitous terms carry zero weight
    assert(idf(3) == 0L)
  }
}

class LinkageSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  test("r9: every dirty record links back to its true original through blocking + scoring") {
    val n = spark.read.parquet(s"$dir/customer.parquet").count()
    val rows = graft.operators.Relational.linkCustomers(spark, dir).collect()
    assert(rows.length == n, s"one resolved link per dirty record: ${rows.length} vs $n")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0),
        s"dirty ${r.getLong(0)} resolved to ${r.getLong(1)} (score ${r.getLong(2)})")
      assert(r.getBoolean(4), s"true pair under threshold for ${r.getLong(0)}")
      assert(r.getLong(3) >= 1L)
    }
    // the perturbation classes must actually be exercised: a fully-clean
    // record scores 85; each degradation drops a known amount
    val scores = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(scores.exists(_._2 == 85L), "clean records must score 40+30+15")
    assert(scores.filter(_._1 % 3 == 0).exists(_._2 <= 75L), "name-folded records must lose 10")
    assert(scores.filter(_._1 % 5 == 0).exists(_._2 <= 80L), "balance-shifted records must lose 5")
  }
}

class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def reference(): Set[(Long, Long, Long, Option[Long], Option[Long])] = {
    // independent O(clicks x purchases-per-user) form: candidate join +
    // min-struct per click
    import org.apache.spark.sql.functions._
    val e = graft.operators.Relational.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    clicks.join(purchases,
        col("user_id") === col("pu") &&
          (col("pts") > col("ts") ||
            (col("pts") === col("ts") && col("pid") >= col("event_id"))), "left")
      .groupBy("event_id", "user_id", "ts")
      .agg(min(when(col("pid").isNotNull, struct(col("pts"), col("pid")))).as("m"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("m.pid").as("purchase_id"), col("m.pts").as("purchase_ts"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.getTimestamp(4)).map(_.getTime))).toSet
  }

  test("native as-of join == independent candidate-join reference on real events") {
    val native = graft.operators.Relational.asofNativeNextPurchase(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.getTimestamp(4)).map(_.getTime))).toSet
    val ref = reference()
    assert(native == ref,
      s"native-only=${(native -- ref).take(3)} ref-only=${(ref -- native).take(3)}")
    assert(native.exists(_._4.isDefined) && native.exists(_._4.isEmpty),
      "fixture should have both matched and unmatched clicks")
  }

  test("backward as-of == independent candidate-join reference on real events") {
    import org.apache.spark.sql.functions._
    val e = graft.operators.Relational.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val ref = clicks.join(purchases,
        col("user_id") === col("pu") &&
          (col("pts") < col("ts") ||
            (col("pts") === col("ts") && col("pid") <= col("event_id"))), "left")
      .groupBy("event_id", "user_id", "ts")
      .agg(max(when(col("pid").isNotNull, struct(col("pts"), col("pid")))).as("m"))
      .select(col("event_id"), col("m.pid").as("purchase_id"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val native = graft.operators.Relational.asofNativeLastPurchase(spark, dir).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(native == ref, s"diff=${(native.toSet -- ref.toSet).take(3)} / ${(ref.toSet -- native.toSet).take(3)}")
    assert(native.values.exists(_.isDefined) && native.values.exists(_.isEmpty))
  }

  test("native as-of join is invariant to shuffle partitioning") {
    def run() = graft.operators.Relational.asofNativeNextPurchase(spark, dir).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    val a = run()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val b = try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      run()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(a == b, "as-of results moved with partitioning")
  }

  test("native as-of join handles a hot key and one-row edge cases") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("asof-edge").toString
    // user 1: hot key — 500 clicks, purchases every 100 us; user 2: clicks
    // but no purchases; user 3: purchase before any click (no match
    // FORWARD); same-(ts) tie where purchase event_id >= click's matches
    val rows =
      (0 until 500).map(i => (1000L + i, 1L, i.toLong * 7, "click")) ++
      (0 until 35).map(i => (5000L + i, 1L, i.toLong * 100, "purchase")) ++
      Seq((9000L, 2L, 50L, "click"),
          (9100L, 3L, 10L, "purchase"), (9101L, 3L, 20L, "click"),
          (9200L, 4L, 30L, "click"), (9201L, 4L, 30L, "purchase"))
    rows.toDF("event_id", "user_id", "us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = graft.operators.Relational.asofNativeNextPurchase(spark, tmp).collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(out.size == 503)
    assert(out(9000L).isEmpty, "user with no purchases must be null")
    assert(out(9101L).isEmpty, "purchase strictly BEFORE the click must not match forward")
    assert(out(9200L).contains(9201L), "same-ts purchase with higher event_id matches")
    // hot user: every click maps to the first purchase at-or-after; the
    // last purchase is at 3400 us, so clicks after it (i*7 > 3400) are null
    for (i <- Seq(0, 99, 400, 485)) {
      val clickUs = i * 7
      val expected = 5000L + ((clickUs + 99) / 100)
      assert(out(1000L + i).contains(expected),
        s"click at $clickUs us: got ${out(1000L + i)}, want $expected")
    }
    assert(out(1000L + 499).isEmpty, "click after the final purchase must be null")
  }

  test("r9: unmatched rows are NULL even with a NON-NULLABLE right child") {
    // regression for the result-projection nullability bug: the output
    // UnsafeProjection must be built from the node's output (right side
    // forced nullable), not the children's original attributes — with a
    // case-class/tuple Dataset right child (non-nullable longs), codegen
    // against the child's nullability would read the all-null pad row of
    // unmatched LEFT OUTER rows as 0 instead of NULL
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (2L, 20L, 100L), (3L, 10L, 500L))
      .toDF("lid", "lkey", "lt")
    val right = Seq((7L, 10L, 150L)).toDF("rid", "rkey", "rt")
    assert(!right.schema.fields.exists(_.nullable), "fixture must be non-nullable")
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    val out = org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        leftKey = lo(1), rightKey = ro(1),
        leftTime = lo(2), rightTime = ro(2),
        leftTie = lo(0), rightTie = ro(0)))
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    assert(out(1L).contains(7L), "key 10 at t=100 matches the t=150 right row")
    assert(out(2L).isEmpty, "key 20 has no right rows -> NULL, not 0")
    assert(out(3L).isEmpty, "t=500 is past the only right row -> NULL, not 0")
  }

  test("r9: TOLERANCE bounds the match distance in both directions") {
    import spark.implicits._
    val left = Seq((1L, 5L, 1000L), (2L, 5L, 5000L)).toDF("id", "key", "t")
    val right = Seq((7L, 5L, 1400L), (8L, 5L, 4000L)).toDF("rid", "rkey", "rt")
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    def run(forward: Boolean, tol: Long): Map[Long, Option[Long]] =
      org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
        graft.plans.AsOfJoinPlan(lp, rp,
          leftKey = lo(1), rightKey = ro(1),
          leftTime = lo(2), rightTime = ro(2),
          leftTie = lo(0), rightTie = ro(0),
          forward = forward, toleranceUs = tol))
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    // forward: id 1 -> rid 7 at +400 (inside 400, outside 399)
    assert(run(forward = true, tol = 400L) == Map(1L -> Some(7L), 2L -> None),
      "inclusive boundary: +400 must match at tol=400; id 2's nearest (+?) none ahead")
    assert(run(forward = true, tol = 399L) == Map(1L -> None, 2L -> None))
    // backward: id 2 -> rid 8 at -1000 (inside 1000, outside 999)
    assert(run(forward = false, tol = 1000L) == Map(1L -> None, 2L -> Some(8L)),
      "id 1 has no right at-or-before within 1000")
    assert(run(forward = false, tol = 999L) == Map(1L -> None, 2L -> None))
  }

  test("r9: STRICT mode excludes the equal (time, tie) position in both directions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // right == left rows themselves (the self-as-of shape): strict forward
    // must find the NEXT row, strict backward the PREVIOUS, never itself
    val rows = Seq((1L, 5L, 100L), (2L, 5L, 200L), (3L, 5L, 300L))
    val left = rows.toDF("id", "key", "t")
    val right = rows.toDF("rid", "rkey", "rt")
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    val (lo, ro) = (lp.output, rp.output)
    def run(forward: Boolean, strict: Boolean): Map[Long, Option[Long]] =
      org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
        graft.plans.AsOfJoinPlan(lp, rp,
          leftKey = lo(1), rightKey = ro(1),
          leftTime = lo(2), rightTime = ro(2),
          leftTie = lo(0), rightTie = ro(0),
          forward = forward, strict = strict))
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(run(forward = true, strict = false) ==
      Map(1L -> Some(1L), 2L -> Some(2L), 3L -> Some(3L)), "inclusive forward matches self")
    assert(run(forward = true, strict = true) ==
      Map(1L -> Some(2L), 2L -> Some(3L), 3L -> None), "strict forward skips self")
    assert(run(forward = false, strict = false) ==
      Map(1L -> Some(1L), 2L -> Some(2L), 3L -> Some(3L)), "inclusive backward matches self")
    assert(run(forward = false, strict = true) ==
      Map(1L -> None, 2L -> Some(1L), 3L -> Some(2L)), "strict backward takes the previous row")
  }
}

class Q8MarketShareSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: q8 market share matches an all-integer driver reference") {
    val dir = SparkSpec.testDataDir
    def load(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    // driver reference: join maps built from collected dimension tables,
    // the same integer cents x percent revenue discipline
    val promo = load("part").filter("p_type = 'PROMO'")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    val nationName = load("nation")
      .selectExpr("CAST(n_nationkey AS BIGINT)", "n_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val asiaNations = load("nation")
      .join(load("region").filter("r_name = 'ASIA'"), expr("n_regionkey = r_regionkey"))
      .selectExpr("CAST(n_nationkey AS BIGINT)").collect().map(_.getLong(0)).toSet
    val asiaCust = load("customer")
      .selectExpr("c_custkey", "CAST(c_nationkey AS BIGINT)").collect()
      .filter(r => asiaNations(r.getLong(1))).map(_.getLong(0)).toSet
    val supNation = load("supplier")
      .selectExpr("s_suppkey", "CAST(s_nationkey AS BIGINT)").collect()
      .map(r => r.getLong(0) -> nationName(r.getLong(1))).toMap
    val orderOf = load("orders")
      .selectExpr("o_orderkey", "o_custkey", "CAST(year(o_orderdate) AS BIGINT)")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val acc = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    load("lineitem").selectExpr("l_orderkey", "l_partkey", "l_suppkey",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(round(l_discount * 100) AS BIGINT) AS dpct")
      .collect().foreach { r =>
        val (custkey, year) = orderOf(r.getLong(0))
        if (promo(r.getLong(1)) && asiaCust(custkey)) {
          val rev = r.getLong(3) * (100L - r.getLong(4))
          val nat = if (supNation(r.getLong(2)) == "NATION_1") rev else 0L
          val (n0, t0) = acc.getOrElse(year, (0L, 0L))
          acc(year) = (n0 + nat, t0 + rev)
        }
      }
    val ref = acc.map { case (y, (n, t)) => y -> (n, t, n * 1000 / t) }.toMap
    val got = graft.operators.Relational.q8MarketShare(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == ref, s"got $got\nref $ref")
    assert(got.nonEmpty, "fixture must produce at least one year")
  }
}

class Q17SmallQtySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: q17 small-quantity revenue matches an integer driver reference") {
    val dir = SparkSpec.testDataDir
    val brandParts = spark.read.parquet(s"$dir/part.parquet")
      .filter("p_brand = 'Brand#1'").select("p_partkey")
      .collect().map(_.getLong(0)).toSet
    val rows = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_partkey", "CAST(round(l_quantity) AS BIGINT)",
        "CAST(round(l_extendedprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(r => brandParts(r._1))
    val perPart = rows.groupBy(_._1).map { case (k, g) =>
      k -> (g.map(_._2).sum, g.length.toLong) }
    val small = rows.filter { case (k, qty, _) =>
      val (sumQty, cnt) = perPart(k); qty * 5 * cnt < sumQty }
    val expRev = small.map(_._3).sum
    val got = graft.operators.Relational.q17SmallQty(spark, dir).collect()
    assert(got.length == 1 && got(0).getString(0) == "Brand#1")
    assert(got(0).getLong(1) == small.length.toLong, "n_small")
    assert(got(0).getLong(2) == expRev, "small_revenue_cents")
    assert(got(0).getLong(3) == expRev * 10 / 7, "avg_yearly_decicents")
  }
}

class Scd2Spec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: SCD2 intervals on a hand-built feed: runs merge, changes cut, last open") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("scd2").toString
    def us(n: Long) = new java.sql.Timestamp(n / 1000) // micros -> ms
    // user 1: A A B A ; user 2: single C
    Seq(
      (10L, 1000000L, 1L, "A", 0.0, "{}"),
      (11L, 2000000L, 1L, "A", 0.0, "{}"),
      (12L, 3000000L, 1L, "B", 0.0, "{}"),
      (13L, 4000000L, 1L, "A", 0.0, "{}"),
      (20L, 5000000L, 2L, "C", 0.0, "{}")
    ).map { case (id, tus, u, ty, v, p) => (id, us(tus), u, ty, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.eventsScd2(spark, tmp).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getTimestamp(3).getTime,
          Option(r.getTimestamp(4)).map(_.getTime), r.getLong(5)))).toMap
    assert(got == Map(
      (1L, 1L) -> (("A", 1000L, Some(3000L), 2L)), // two A events merged
      (1L, 2L) -> (("B", 3000L, Some(4000L), 1L)),
      (1L, 3L) -> (("A", 4000L, None, 1L)),        // current version open-ended
      (2L, 1L) -> (("C", 5000L, None, 1L))), s"$got")
  }

  test("r9: SCD2 intervals tile each user's timeline with no overlap") {
    val dir = SparkSpec.testDataDir
    val rows = graft.operators.Relational.eventsScd2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(3).getTime,
        Option(r.getTimestamp(4)).map(_.getTime)))
    rows.groupBy(_._1).foreach { case (u, ivs) =>
      val sorted = ivs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"user $u: interval ${a._2} must close at ${b._2}'s start")
        case _ =>
      }
      assert(sorted.last._4.isEmpty, s"user $u: last version must be open")
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"user $u: dense versions")
    }
  }
}

class IncrementalAggSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: merged batch states equal the full-rescan aggregate for ANY split") {
    val dir = SparkSpec.testDataDir
    val full = spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_returnflag", "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (f, g) =>
        val vs = g.map(_._2)
        f -> (vs.sum, vs.length.toLong, vs.min, vs.max, vs.sum / vs.length)
      }
    // three very different splits: empty delta, balanced, empty base
    for (split <- Seq("1990-01-01", "1998-07-01", "2009-01-01")) {
      val got = graft.operators.Relational.incrementalAggMerge(spark, dir, split)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      assert(got == full, s"split=$split: $got")
    }
  }
}

class StreamScd2Spec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: streaming SCD2 equals the batch twin across ts-prefix batch splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = SparkSpec.testDataDir
    // ordered-log contract: feed events in global ts order; any split of
    // that order cuts each user's timeline into prefixes
    val ev = graft.operators.Relational.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type")
      .orderBy("ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3)))
    val store = java.nio.file.Files.createTempDirectory("scd2-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("scd2-ckpt").toString
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val q = graft.streaming.StreamScd2.start(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type"), store, ckpt)
    // three uneven prefix batches, the last one tiny (open-run stitching)
    val (b1, rest) = ev.splitAt(ev.length / 2)
    val (b2, b3) = rest.splitAt(rest.length - 7)
    Seq(b1, b2, b3).foreach { b =>
      mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3).getTime,
        Option(r.getTimestamp(4)).map(_.getTime), r.getLong(5))
    val streamed = graft.streaming.StreamScd2.intervals(spark, store)
      .collect().map(key).toSet
    val batch = graft.operators.Relational.eventsScd2(spark, dir)
      .collect().map(key).toSet
    assert(streamed == batch,
      s"only-stream=${(streamed -- batch).take(3)} only-batch=${(batch -- streamed).take(3)}")
    // the store is bounded by runs, not events
    val runRows = graft.operators.Relational.scd2MergeRuns(
      graft.operators.Relational.scd2Runs(
        graft.operators.Relational.events(spark, dir))).count()
    assert(streamed.size == runRows, "one interval per merged run")
    val versions = new java.io.File(store).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("v"))
    assert(versions.length <= 2, s"store must prune old versions: ${versions.toSeq}")
  }

  test("r9: run monoid: merge of per-chunk runs equals whole-feed runs") {
    val dir = SparkSpec.testDataDir
    val ev = graft.operators.Relational.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type")
    // split by a ts threshold: a prefix per user
    val cut = ev.selectExpr("percentile_approx(CAST(ts AS DOUBLE), 0.5)").head().getDouble(0)
    val a = ev.filter(s"CAST(ts AS DOUBLE) <= $cut")
    val b = ev.filter(s"CAST(ts AS DOUBLE) > $cut")
    val R = graft.operators.Relational
    val merged = R.scd2MergeRuns(R.scd2Runs(a).union(R.scd2Runs(b)))
      .collect().map(_.toString).sorted.toSeq
    val whole = R.scd2MergeRuns(R.scd2Runs(ev))
      .collect().map(_.toString).sorted.toSeq
    assert(merged == whole)
  }
}

class DqBatterySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: each constraint counts exactly its planted violations") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dq").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // 6 rows: one null shipdate, one bad flag, one qty=0, one duplicated
    // (orderkey, linenumber) pair, one orphan orderkey
    Seq(
      (1L, 1, 10.0, "A", Option(ts)),
      (1L, 2, 20.0, "X", Option(ts)),      // bad flag
      (2L, 1, 0.0, "N", Option(ts)),       // qty out of range
      (2L, 2, 30.0, "R", None),            // null shipdate
      (3L, 1, 40.0, "A", Option(ts)),      // dup key with next
      (3L, 1, 50.0, "A", Option(ts))       // dup key; 3L orphan in orders
    ).toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      .write.parquet(s"$tmp/lineitem.parquet")
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(s"$tmp/orders.parquet")
    val got = graft.operators.Relational.dqBattery(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got == Map(
      "not_null:l_shipdate" -> ((5L, 6L, 833L, false)),
      "domain:l_returnflag" -> ((5L, 6L, 833L, false)),
      "range:l_quantity:1..50" -> ((5L, 6L, 833L, false)),
      "unique:l_orderkey+l_linenumber" -> ((4L, 6L, 666L, false)),
      "ref:l_orderkey->orders" -> ((4L, 6L, 666L, false))), s"$got")
  }

  test("r9: a clean table passes every constraint at exactly 1000 permille") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dqclean").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    Seq((1L, 1, 10.0, "A", ts), (1L, 2, 50.0, "R", ts), (2L, 1, 1.0, "N", ts))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      .write.parquet(s"$tmp/lineitem.parquet")
    Seq(1L, 2L).toDF("o_orderkey").write.parquet(s"$tmp/orders.parquet")
    val got = graft.operators.Relational.dqBattery(spark, tmp).collect()
    assert(got.length == 5)
    got.foreach { r =>
      assert(r.getLong(3) == 1000L && r.getBoolean(4), s"${r.getString(0)}: $r")
    }
  }
}

class KAnonymitySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: k-anonymity flags exactly the rows in small QI groups") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("kanon").toString
    // QI groups: (1,A) x6, (1,B) x3, (2,A) x1 -> min group 1, 4 rows below 5
    val rows = (1 to 6).map(i => (i.toLong, 1, "A")) ++
      (7 to 9).map(i => (i.toLong, 1, "B")) ++ Seq((10L, 2, "A"))
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment")
      .write.parquet(s"$tmp/customer.parquet")
    val r = graft.operators.Relational.kAnonymity(spark, tmp).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((3L, 10L, 1L, 4L, 400L)), s"$r")
  }
}

class FuzzyJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: deletion neighborhood catches sub/ins/del, rejects distance 2") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fuzzy").toString
    Seq((1L, "spark"), (2L, "spork"), (3L, "sparks"), (4L, "park"),
      (5L, "quark"), (6L, "spark"))
      .toDF("c_custkey", "c_name").write.parquet(s"$tmp/customer.parquet")
    val got = graft.operators.Relational.fuzzyNameJoin(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    // spark~spork (sub), spark~sparks (ins), spark~park (del), spark==spark (0)
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 6L, 0L),
      (2L, 6L, 1L), (3L, 6L, 1L), (4L, 6L, 1L)), s"$got")
    // quark is distance 2 from spark: correctly absent
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("r9: neighborhood join is LOSSLESS vs driver brute force at sf0.001") {
    val dir = SparkSpec.testDataDir
    val names = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (ka, na) <- names; (kb, nb) <- names
      if ka < kb && lev(na, nb) <= 1
    } yield (ka, kb, lev(na, nb).toLong)).toSet
    val got = graft.operators.Relational.fuzzyNameJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(got == brute, s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(brute.nonEmpty, "fixture must contain near-duplicate names")
  }
}

class Bm25Spec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: BM25 matches a driver reference with exact rational k1/b") {
    val dir = SparkSpec.testDataDir
    val terms = Set("spark", "table", "query")
    val docsTok = spark.read.parquet(s"$dir/documents.parquet")
      .filter("length(text) > 0").selectExpr("doc_id", "split(trim(text), '\\\\s+') AS w")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val nd = docsTok.length.toLong
    val tt = docsTok.map(_._2.length.toLong).sum
    val dfm = terms.map(t => t -> docsTok.count(_._2.contains(t)).toLong).toMap
    val ref = docsTok.flatMap { case (id, toks) =>
      val dl = toks.length.toLong
      val scores = terms.toSeq.flatMap { t =>
        val tf = toks.count(_ == t).toLong
        if (tf == 0) None else {
          val df = dfm(t)
          val idf = math.round(math.log(1.0 + (2 * nd - 2 * df + 1.0) / (2 * df + 1.0)) * 1e6)
          Some(idf * 44 * tf * tt / (20 * tf * tt + 6 * tt + 18 * dl * nd))
        }
      }
      if (scores.isEmpty) None else Some(id -> (scores.sum, scores.length.toLong))
    }.toMap
    val got = graft.operators.TextAnalysis.bm25(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == ref, s"diff=${(got.toSet -- ref.toSet).take(3)}")
    assert(got.nonEmpty && got.values.forall(_._1 > 0), "+1 idf keeps scores positive")
    // longer docs score lower for the same tf: spot the length normalization
    val sample = got.keys.take(1)
    assert(sample.nonEmpty)
  }
}

class GapfillSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: lerp fills interior gaps exactly; edges take nearest observation") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gapfill").toString
    def h(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $i%02d:00:00")
    // type A observed at hours 1 (n=10) and 4 (n=4): hours 2,3 lerped;
    // type B observed only at hour 3 (n=7): all other hours edge-fill 7
    val rows =
      (1 to 10).map(i => (100L + i, h(1), 1L, "A", 0.0, "{}")) ++
        (1 to 4).map(i => (200L + i, h(4), 1L, "A", 0.0, "{}")) ++
        (1 to 7).map(i => (300L + i, h(3), 2L, "B", 0.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.eventsGapfill(spark, tmp).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getHours) ->
        (Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3), r.getBoolean(4))).toMap
    // grid spans hours 1..4 (global min/max)
    assert(got(("A", 1)) == ((Some(10L), 10L, false)))
    assert(got(("A", 2)) == ((None, 8L, true)), s"lerp (10*2+4*1) div 3 = 8: ${got(("A", 2))}")
    assert(got(("A", 3)) == ((None, 6L, true)), s"lerp (10*1+4*2) div 3 = 6")
    assert(got(("A", 4)) == ((Some(4L), 4L, false)))
    assert(got(("B", 1)) == ((None, 7L, true)), "leading edge takes next")
    assert(got(("B", 2)) == ((None, 7L, true)))
    assert(got(("B", 3)) == ((Some(7L), 7L, false)))
    assert(got(("B", 4)) == ((None, 7L, true)), "trailing edge takes prev")
    assert(got.size == 8)
  }
}

class LinearAttributionSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: credit mass is conserved exactly — 1e6 micro-credits per attributed purchase") {
    val dir = SparkSpec.testDataDir
    val ev = graft.operators.Relational.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val clicks = ev.filter(_._4 == "click")
    val winMs = 7L * 24 * 3600 * 1000
    // attributed purchases: those with >= 1 click in the lookback window
    val attributed = ev.filter(_._4 == "purchase").count { p =>
      clicks.exists(c => c._3 == p._3 && c._2 <= p._2 && c._2 > p._2 - winMs)
    }
    val rows = graft.operators.Relational.attributionLinear(spark, dir).collect()
    val totalCredit = rows.map(_.getLong(2)).sum
    assert(totalCredit == attributed.toLong * 1000000L,
      s"total $totalCredit != $attributed purchases x 1e6 — remainder must go to the last touch")
    assert(rows.forall(_.getLong(2) > 0))
  }

  test("r9: remainder lands on the LAST touch on a hand-built 3-click purchase") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("linattr").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    Seq(
      (1L, ts(1), 1L, "click", 0.0, "{}"),
      (2L, ts(2), 1L, "click", 0.0, "{}"),
      (3L, ts(3), 1L, "click", 0.0, "{}"),
      (4L, ts(10), 1L, "purchase", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.attributionLinear(spark, tmp).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    // 1e6 div 3 = 333333; last click takes 333334
    assert(got == Map(1L -> 333333L, 2L -> 333333L, 3L -> 333334L), s"$got")
  }
}

class TwapSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: TWAP on a hand-built step series; constant series equals the constant") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("twap").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // user 1: 10.00 for 1 min, 20.00 for 3 min -> (1000*60 + 2000*180)/240 = 1750
    // user 2: constant 5.00 over two events -> 500
    // user 3: single event, zero span -> filtered out
    Seq(
      (1L, ts(0), 1L, "e", 10.0, "{}"), (2L, ts(1), 1L, "e", 20.0, "{}"),
      (3L, ts(4), 1L, "e", 99.0, "{}"),
      (4L, ts(0), 2L, "e", 5.0, "{}"), (5L, ts(7), 2L, "e", 5.0, "{}"),
      (6L, ts(3), 3L, "e", 42.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.eventsTwap(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1L -> ((1750L, 240L * 1000000, 3L)),
      2L -> ((500L, 420L * 1000000, 2L))), s"$got")
    assert(!got.contains(3L), "zero-span user has no TWAP")
  }
}

class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: two-level sweep equals a driver-side global sweep") {
    val dir = SparkSpec.testDataDir
    val sessions = graft.streaming.EventStream.sessionizeBatch(spark, dir)
      .select("session_start", "session_end").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime))
    // global sweep reference: starts before ends at the same instant
    val deltas = sessions.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, -d) }
    var run = 0L
    val perHour = scala.collection.mutable.Map.empty[Long, Long]
    deltas.foreach { case (t, d) =>
      run += d
      val hour = t - t % 3600000L
      perHour(hour) = math.max(perHour.getOrElse(hour, Long.MinValue), run)
    }
    val got = graft.operators.Relational.eventsConcurrency(spark, dir).collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(got == perHour.toMap, s"diff=${(got.toSet -- perHour.toSet).take(3)}")
    assert(got.values.max >= 2, "fixture should have overlapping sessions")
  }
}

class IntervalJoinNativeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: native interval join equals a driver brute force at sf0.001") {
    val dir = SparkSpec.testDataDir
    val ev = graft.operators.Relational.events(spark, dir)
      .select("event_id", "user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime * 1000))
    val brute = ev.map { case (id, u, t) =>
      id -> ev.count { case (id2, u2, t2) =>
        u2 == u && t2 >= t - 1800000000L && t2 <= t - 1L && (id2 != id || true)
      }.toLong
    }.toMap
    val got = graft.operators.Relational.rangeJoinNative(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == brute, s"diff=${(got.toSet -- brute.toSet).take(5)}")
    assert(got.values.sum > 0, "fixture should contain prior-activity bursts")
  }

  test("r9: window bounds inclusive, self excluded, keys isolated, buffer evicts on key change") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def run(left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)],
        lo: Long, hi: Long): Map[Long, Seq[Long]] = {
      val l = left.toDF("id", "key", "t")
      val r = right.toDF("rid", "rkey", "rt")
      val lp = l.queryExecution.analyzed
      val rp = r.queryExecution.analyzed
      val (lou, rou) = (lp.output, rp.output)
      org.apache.spark.sql.graft.PlanBridge.ofRows(spark,
        graft.plans.IntervalJoinPlan(lp, rp,
          leftKey = lou(1), rightKey = rou(1),
          leftTime = lou(2), rightTime = rou(2),
          leftTie = lou(0), rightTie = rou(0),
          lowDeltaUs = lo, highDeltaUs = hi))
        .collect().map(r => r.getLong(0) -> r.getLong(3))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted.toSeq }
    }
    // rows at t = 100, 200, 300 on key 5; left probe at t=300, window [-200,-100]
    val rows = Seq((1L, 5L, 100L), (2L, 5L, 200L), (3L, 5L, 300L))
    assert(run(Seq((9L, 5L, 300L)), rows, -200L, -100L) ==
      Map(9L -> Seq(1L, 2L)), "both bounds inclusive")
    assert(run(Seq((9L, 5L, 300L)), rows, -199L, -101L) == Map.empty,
      "exclusive interior misses both endpoints")
    // self-exclusion is the caller's contract via hi = -1
    assert(run(rows, rows, -1000L, -1L) ==
      Map(2L -> Seq(1L), 3L -> Seq(1L, 2L)), "strictly-prior excludes self")
    // key isolation + buffer eviction when the left scan changes key
    val multi = Seq((1L, 1L, 100L), (2L, 2L, 100L))
    assert(run(Seq((8L, 1L, 150L), (9L, 2L, 150L)), multi, -100L, 0L) ==
      Map(8L -> Seq(1L), 9L -> Seq(2L)), "no cross-key leakage")
  }
}

class TopPathsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: paths assemble in time order, sessions cut at the gap, truncation flagged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("paths").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    // user 1: A B C in one session, then (90 min later) D alone
    // user 2: ten-step session -> truncated at 8
    val rows =
      Seq((1L, ts(0), 1L, "A"), (2L, ts(1), 1L, "B"), (3L, ts(2), 1L, "C"),
        (4L, ts(120), 1L, "D")) ++
        (0 until 10).map(i => (10L + i, ts(i), 2L, s"E"))
    rows.map { case (id, t, u, ty) => (id, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.eventsTopPaths(spark, tmp).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(got == Set(
      ("A>B>C", false, 1L),
      ("D", false, 1L),
      ("E>E>E>E>E>E>E>E", true, 1L)), s"$got")
  }
}

class TrendSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: exact slope on planted rising and falling series") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("trend").toString
    def h(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $i%02d:30:00")
    // UP: counts 1,2,3,4 over hours 0..3 -> slope exactly 1000 milli/hour
    // DOWN: counts 4,3,2,1 -> slope exactly -1000 (negative-path division)
    val rows =
      (0 until 4).flatMap(i => (0 to i).map(j => (100L + i * 10 + j, h(i), 1L, "up"))) ++
        (0 until 4).flatMap(i => (0 until 4 - i).map(j => (200L + i * 10 + j, h(i), 1L, "down")))
    rows.map { case (id, t, u, ty) => (id, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.statsTrend(spark, tmp).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(got == Map("up" -> 1000L, "down" -> -1000L), s"$got")
  }
}

class DomainShiftSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: KL is ~0 for a source matching the blend, large for a skewed one") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("shift").toString
    // balanced: "a b" repeated; skewed: only "a"; corpus = both
    val docsFx = (1 to 50).map(i => (i.toLong, "a b", "balanced")) ++
      (51 to 60).map(i => (i.toLong, "a a a a a a a a a a", "skewed"))
    docsFx.toDF("doc_id", "text", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val got = graft.operators.TextAnalysis.domainShift(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (balTok, balTerms, balKl) = got("balanced")
    val (skTok, skTerms, skKl) = got("skewed")
    assert(balTok == 100L && skTok == 100L && balTerms == 2L && skTerms == 1L)
    // corpus blend: a=150/200, b=50/200.
    // skewed p=(1,0): KL = ln(4/3) ≈ 0.287682 nats — exactly
    assert(math.abs(skKl - 287682L) <= 1, s"skewed KL = ln(4/3) micro-nats: $skKl")
    // balanced p=(.5,.5): KL = .5·ln(2/3) + .5·ln(2) ≈ 0.143841 — exactly
    assert(math.abs(balKl - 143841L) <= 1, s"balanced KL: $balKl")
    assert(skKl > balKl && balKl >= 0, "skew dominates; Gibbs keeps both >= 0")
  }
}

class FreshnessSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: lag is exact truncated hours vs the pinned as-of; budget gates") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("fresh").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-31 22:30:00"), 1L, "hot", 0.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-29 00:00:00"), 1L, "stale", 0.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-28 00:00:00"), 1L, "stale", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val got = graft.operators.Relational.dqFreshness(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // hot: 1.5h before as-of -> 1 (truncated); stale: exactly 72h, fails 24h budget
    assert(got == Map("hot" -> ((1L, 1L, true)), "stale" -> ((2L, 72L, false))), s"$got")
  }
}

class RfmSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: RFM quintiles are balanced, segment arithmetic consistent, best segment sane") {
    val dir = SparkSpec.testDataDir
    val rows = graft.operators.Relational.customerRfm(spark, dir).collect()
    val n = rows.length
    for (idx <- Seq(4, 5, 6)) { // r, f, m score columns
      val sizes = rows.groupBy(_.getLong(idx)).view.mapValues(_.size).toMap
      assert(sizes.keySet == (1L to 5L).toSet, s"col $idx: $sizes")
      // ntile balance: sizes differ by at most 1
      assert(sizes.values.max - sizes.values.min <= 1, s"col $idx: $sizes")
    }
    rows.foreach { r =>
      assert(r.getLong(7) == r.getLong(4) * 100 + r.getLong(5) * 10 + r.getLong(6))
    }
    // a 555 customer must beat the median on all three raw metrics
    val best = rows.filter(_.getLong(7) == 555L)
    assert(best.nonEmpty, "top segment populated")
    val medFreq = rows.map(_.getLong(2)).sorted.apply(n / 2)
    val medMon = rows.map(_.getLong(3)).sorted.apply(n / 2)
    best.foreach { r =>
      assert(r.getLong(2) >= medFreq && r.getLong(3) >= medMon, s"$r")
    }
  }
}

class LorenzSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("r9: Lorenz curve is monotone, ends at 1000 permille, matches driver cumsum") {
    val dir = SparkSpec.testDataDir
    val rows = graft.operators.Relational.ordersLorenz(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 10L))
    // monotone non-decreasing cumulative share, last == 1000 exactly? div
    // truncation can land at 999; assert within the truncation bound
    assert(rows.map(_._4).toSeq == rows.map(_._4).sorted.toSeq)
    assert(rows.last._4 >= 999L && rows.last._4 <= 1000L)
    // top decile concentrates more than its population share
    assert(rows.head._4 > 100L, s"top decile carries ${rows.head._4} permille")
    // driver reference for the cumulative arithmetic
    val total = rows.map(_._3).sum
    var cum = 0L
    rows.foreach { case (_, _, cents, share) =>
      cum += cents
      assert(share == cum * 1000 / total)
    }
  }
}
