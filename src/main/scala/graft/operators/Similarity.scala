package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.sources.ParquetSource

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim).
  *
  *   - [[bruteForceTopK]]: exact baseline — broadcast the (small) query set
  *     against the full corpus; one pass, no corpus shuffle. At 100 TB the
  *     corpus side streams through executors once per query batch.
  *   - [[lshTopK]]: the scale path — sign-random-projection LSH buckets
  *     corpus AND queries, candidates come from an equi-join on bucket keys
  *     (multi-probe via several independent tables), then exact re-ranking
  *     of candidates only. Hyperplanes are derived from deterministic
  *     integer arithmetic, so results are reproducible across runs/engines.
  */
object Similarity {

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/embeddings.parquet")

  /** (vec_id, embedding, norm) with zero-norm vectors EXCLUDED — the same
    * contract [[normedOf]] documents for the PQ family, applied at the
    * source every ranked path shares (r14 review): a zero-norm vector's
    * cosine is 0/0 = NaN, Spark's NaN-greatest ordering ranks it FIRST
    * under desc, so without the guard one failed/padding embedding would
    * appear as neighbor #1 of EVERY query in the brute-force baseline and
    * every recall gate compared against it.
    */
  private def withNorm(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col("vec_id"), col("embedding"), Portable.l2NormNative("embedding").as("norm"))
      .filter(Portable.usableNorm(col("norm")))
  }

  private def cosine: Column =
    Portable.dotProductNative("q_emb", "embedding") / (col("q_norm") * col("norm"))

  /** Per-query hit counts of `approx` against the exact ground truth —
    * EVERY exact query emits a row (zero hits ⇒ 0). The previous bare
    * left_semi + groupBy produced NO row for a query the approximate path
    * missed entirely (r14 review), so a total recall failure vanished from
    * the gate output instead of reading n_hits=0 / recall_floor_met=false.
    */
  private[graft] def recallHitCounts(exact: DataFrame, approx: DataFrame): DataFrame = {
    val hits = exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Boolean floor over an `(q_id, n_hits)` frame — the final select of
    * every `*RecallFloor` driver gate. Split out of the gates (r17) so
    * `Probe margins` can read the RAW hit counts each gate computes
    * through its paired `*RecallHits` seam: the PQ knife-edge (a gate
    * sitting at exactly its floor until one in-contract corpus vector
    * flipped it) was invisible precisely because the boolean discards the
    * margin.
    */
  private[graft] def floorOverHits(hits: DataFrame, minHits: Int): DataFrame =
    hits.select(col("q_id"), (col("n_hits") >= minHits).as("recall_floor_met"))

  /** Default `minHits` of the `*RecallFloor` gates, one per family (a
    * family's store and append gates share its floor). Named once so
    * `Probe margins` audits the floor each gate actually applies.
    */
  val SqMinHits = 5
  val IvfMinHits = 3
  val IvfClusteredMinHits = 2
  val PqMinHits = 5
  val IvfPqMinHits = 3

  /** Per-query top-k selection via the bounded-heap `graft_topk` aggregate
    * — the scale path for every ranked output in this family. The previous
    * form, `row_number().over(Window.partitionBy("q_id"))`, shuffled EVERY
    * scored candidate row into `nQueries` window partitions; for the PQ-ADC
    * scan that is the whole coded corpus per query landing in a handful of
    * window tasks. The aggregate is a proper partial/merge aggregate, so
    * each map task forwards at most k (id, score) entries per query to the
    * exchange regardless of corpus size. Output contract is bit-identical
    * to the window form — ids are unique and the heap's (score desc, id
    * asc) total order matches `orderBy(desc(score), id)` — pinned by
    * OperatorsSpec ("ANN aggregate top-k is bit-equal to the window form").
    */
  private def topKPerQuery(scored: DataFrame, scoreCol: Column, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(scored.sparkSession)
    scored
      .withColumn("topk_score", scoreCol)
      .groupBy("q_id")
      .agg(expr(s"graft_topk(vec_id, topk_score, $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("q_id"),
        col("t.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact top-k neighbors (cosine) for each query vector (vec_id < nQueries),
    * excluding self. Output (q_id, neighbor_id, rank).
    */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5): DataFrame =
    bruteForceTopKFrom(embeddings(spark, dir), k, nQueries)

  private[graft] def bruteForceTopKFrom(e0: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val e = withNorm(e0)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    topKPerQuery(
      e.join(broadcast(q), col("vec_id") =!= col("q_id")).withColumn("cosine", cosine),
      col("cosine"), k)
  }

  /** SEMI-HARD NEGATIVE MINING for contrastive training (round 10): per
    * query, the top-k corpus vectors by cosine WITHIN a similarity band
    * `[lo, hi)` — similar enough to be informative negatives, below the
    * near-duplicate zone that would poison the loss with false negatives
    * (the FaceNet semi-hard rule applied corpus-side). Exact contract
    * (bit-matched by a DuckDB oracle): the band filter runs inside the
    * scored scan, so the bounded-heap `graft_topk` sees only band rows —
    * same single-pass, ≤k-rows-per-(task, query)-to-the-exchange plan as
    * [[bruteForceTopK]]. At 100 TB the band filter is the point: the heap
    * never buffers the near-dup cluster around each anchor.
    */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      lo: Double = 0.1, hi: Double = 0.3): DataFrame = {
    require(lo < hi, s"hardNegatives: empty band [$lo, $hi)")
    val e = withNorm(embeddings(spark, dir))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine", cosine)
      .filter(col("cosine") >= lo && col("cosine") < hi)
    topKPerQuery(scored, col("cosine"), k)
  }

  /** MARGIN-BASED BITEXT MINING (round-10 continuation) — the
    * Artetxe–Schwenk ratio-margin retrieval that aligns two embedding
    * sets (parallel-sentence mining, caption↔image pairing, cross-dump
    * doc alignment): for candidate pair `(x, y)`,
    * `margin(x,y) = cos(x,y) / ((Σ_{z∈NNk(x)} cos(x,z) + Σ_{z∈NNk(y)} cos(y,z)) / 2k)`
    * — raw cosine normalized by both endpoints' neighborhood density, so
    * hub vectors (close to everything) stop winning every alignment.
    * Sides here are the deterministic `vec_id mod 10` split of the
    * fixture (side A ≈ 10%, side B the rest).
    *
    * Determinism discipline: candidates are the union of forward and
    * backward k-NN (never all pairs); neighborhood sums fold the top-k
    * cosines in (score DESC, id ASC) rank order — `graft_topk` emits
    * exactly that order, and the DuckDB oracle folds `list(c ORDER BY
    * rank)` — identical IEEE operation sequences, so the micro-rounded
    * margins and both argmax ranks match bit-for-bit. Output: per side-A
    * vector its best-margin partner and whether the choice is MUTUAL
    * (side-B vector picks it back) — the standard acceptance rule.
    *
    * Scale: THIS PATH IS THE ORACLE GATE, NOT THE SCALE PATH — its scored
    * scan broadcasts the whole query side (side A) against side B, which
    * is only tractable while side A stays small; since side A is a fixed
    * fraction of the corpus, the broadcast GROWS with the corpus and the
    * `maxQueryRows` fence fails loudly (r13, VERDICT r12 #6) before an
    * executor OOM would. Production runs [[marginMiningIvf]] — cell
    * equi-join candidates, no broadcast of either side — and
    * [[marginMiningIvfAgreement]] keeps the two from drifting. Side B is
    * never collected on either path — its k-NN lists and neighborhood
    * sums come from one `groupBy(yi)` bounded-heap partial aggregate;
    * candidate margins join on pair keys only.
    */
  def marginMining(spark: SparkSession, dir: String, k: Int = 4,
      maxQueryRows: Long = 1L << 17): DataFrame = {
    require(k >= 1, s"marginMining: k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(spark)
    val e = withNorm(embeddings(spark, dir))
    Materialize { m =>
      // eager fill before the four consumers (cache-before-AQE)
      marginFromScored(m, m.fill(exactScoredScan(e, maxQueryRows)), k)
    }
  }

  /** The exact all-pairs scored scan (side B × broadcast side A), fenced at
    * `maxQueryRows` query rows — shared by [[marginMining]] and the
    * agreement gate so the gate never pays for a second cosine pass.
    */
  private def exactScoredScan(e: DataFrame, maxQueryRows: Long): DataFrame = {
    val x = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val nQueries = x.count()
    require(nQueries <= maxQueryRows,
      s"marginMining is the exact oracle gate: its query-side broadcast is " +
        s"fenced at $maxQueryRows rows, got $nQueries — run marginMiningIvf " +
        "for corpus-scale mining")
    e.filter(col("vec_id") % 10 =!= 0)
      .join(broadcast(x), lit(true))
      .withColumn("c", cosine)
      .select(col("q_id").as("xi"), col("vec_id").as("yi"), col("c"))
  }

  /** MARGIN MINING, IVF-BACKED CANDIDATES (round 11) — the 100 TB form of
    * [[marginMining]]: instead of the exact all-pairs scored scan (O(|A|·|B|)
    * cosines plus a side-A broadcast that grows with the corpus), candidate
    * pairs come from the SAME trained coarse quantizer the IVF family uses
    * ([[trainIvfCentroids]]): every vector of both sides gets a home cell
    * (one map-only pass), each side also explodes to its `numProbes`
    * nearest cells, and the candidate set is the union of two cell
    * EQUI-joins — A-probes × B-homes and A-homes × B-probes (so a pair
    * surfaces if EITHER endpoint's probe ring covers the other's home
    * cell, the symmetric multiprobe rule). Only candidates are cosine-
    * scored, and the k-NN lists / neighborhood-density denominators /
    * mutual-best machinery downstream are [[marginFromScored]] verbatim —
    * shared with the exact path so the two can never drift semantically.
    *
    * Scale: no broadcast of either side — both joins are distributed hash
    * equi-joins on `cell`; per vector the probe explode is `numProbes`
    * 12-byte rows; the scored candidate set is `~numProbes/numCentroids`
    * of the cross product. The exact path remains the oracle gate
    * (`ann_margin_mining`); this path is gated by
    * [[marginMiningIvfAgreement]] (`ann_margin_mining_ivf_check`), which
    * asserts coverage + partner/mutual agreement floors against the exact
    * path at the same k.
    */
  def marginMiningIvf(spark: SparkSession, dir: String, k: Int = 4,
      refineIters: Int = 2, trainFraction: Double = TrainFraction,
      numCentroids: Int = NumCentroids, numProbes: Int = NumProbes): DataFrame = Materialize { m =>
    require(k >= 1, s"marginMiningIvf: k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(spark)
    // e needs no explicit count() fill: the quantizer-training collect
    // inside marginIvfCandidates scans every partition of e through the
    // cached plan synchronously, before any concurrent consumer exists
    val e = m.cache(withNorm(embeddings(spark, dir)))
    val cand = marginIvfCandidates(m, e, refineIters, trainFraction, numCentroids, numProbes)
    val a = e.filter(col("vec_id") % 10 === 0)
    val b = e.filter(col("vec_id") % 10 =!= 0)
    // Cosine-score candidates only: payloads rejoin by id (equi-joins; AQE
    // picks broadcast when a side is genuinely small, never by assumption).
    val scored = m.fill(cand
      .join(a.select(col("vec_id").as("xi"), col("embedding").as("q_emb"),
        col("norm").as("q_norm")), "xi")
      .join(b.select(col("vec_id").as("yi"), col("embedding"), col("norm")), "yi")
      .withColumn("c", cosine)
      .select("xi", "yi", "c"))
    marginFromScored(m, scored, k)
  }

  /** The IVF candidate-pair stage shared by [[marginMiningIvf]] and
    * [[marginMiningIvfAgreement]]: trains the coarse quantizer, assigns
    * per-vector probe rings, and returns the distinct (xi, yi) candidate
    * pairs; the cell table is filled in `m`. Sharing this stage means the
    * agreement gate trains the quantizer exactly once.
    */
  private def marginIvfCandidates(m: Materialize, e: DataFrame, refineIters: Int,
      trainFraction: Double, numCentroids: Int, numProbes: Int): DataFrame = {
    // no count()/cache() on the sample: the trainer is its single consumer
    // (one collect) and fails loudly on an empty sample itself
    val train = trainSample(e, trainFraction)
    val centroids = trainIvfCentroids(train, refineIters, numCentroids)
    // One affinity pass per vector: the numProbes nearest cells in
    // (score DESC, c DESC) order; the home cell is element 1 — identical
    // to array_max's (score, c) tie-break, so assignment semantics match
    // the rest of the IVF family while the 16 graft_dot affinities are
    // computed ONCE instead of once per join leg (4× before this pass).
    val probeCells =
      slice(reverse(array_sort(array(cellAffinities(centroids): _*))), 1, numProbes)
        .getField("c")
    // eager fill (r14 review): the candidate union reads cells through
    // FOUR branches (aHome/bHome/aProbe/bProbe) that AQE submits
    // concurrently — against an unfilled cache the 16-dot affinity
    // projection over the whole corpus runs up to 4×, the exact disease
    // the nearDupsFromArrays count() discipline documents
    val cells = m.fill(e.select(col("vec_id"), probeCells.as("probes"))
      .withColumn("home", element_at(col("probes"), 1)))
    val aCells = cells.filter(col("vec_id") % 10 === 0)
    val bCells = cells.filter(col("vec_id") % 10 =!= 0)
    val aHome = aCells.select(col("vec_id").as("xi"), col("home").as("cell"))
    val bHome = bCells.select(col("vec_id").as("yi"), col("home").as("cell"))
    val aProbe = aCells.select(col("vec_id").as("xi"), explode(col("probes")).as("cell"))
    val bProbe = bCells.select(col("vec_id").as("yi"), explode(col("probes")).as("cell"))
    aProbe.join(bHome, "cell").select("xi", "yi")
      .union(aHome.join(bProbe, "cell").select("xi", "yi"))
      .distinct()
  }

  /** The margin/mutual-best machinery downstream of the candidate scorer —
    * shared verbatim by [[marginMining]] (exact scored scan, the oracle
    * gate), [[marginMiningIvf]] (cell-equi-join candidates, the 100 TB
    * path) and the agreement gate. `scored` must be filled by the caller;
    * the margin table is filled in `m`, whose scope materializes the
    * output.
    *
    * Type constraint (ADVICE r17): the candidate score `c` is re-read from
    * the `graft_topk` heap entries, whose score field is DOUBLE — so any
    * scored column round-trips through a double here regardless of its
    * input type. Exact for the micro-scaled cosines every current producer
    * emits (|c| < 2^53); a future producer with wider integral scores
    * would silently lose low bits and must widen the heap's score field
    * first.
    */
  private def marginFromScored(m: Materialize, scored: DataFrame, k: Int): DataFrame = {
    val topX = scored.groupBy("xi").agg(expr(s"graft_topk(yi, c, $k)").as("top"))
    val topY = scored.groupBy("yi").agg(expr(s"graft_topk(xi, c, $k)").as("top"))
    // graft_struct_sum == the aggregate() HOF bit-for-bit (same IEEE fold
    // order) but codegen'd — the corpus-side denY projection is |B|-scale
    val denX = topX.select(col("xi"),
      expr("graft_struct_sum(top, 'score')").as("dx"))
    val denY = topY.select(col("yi"),
      expr("graft_struct_sum(top, 'score')").as("dy"))
    // The heap entries already carry the cosine (graft_topk stores (id,
    // score)), so the forward/backward candidate lists can keep `c` and the
    // distinct union IS the scored candidate relation — no join back to the
    // corpus-scale `scored` frame (r17 opt: that join broadcast all 262k
    // scored rows at sf0.1 and re-read the cache a fourth time; c is
    // functionally determined by (xi, yi), so distinct cardinality and
    // every margin are bit-identical).
    val fwd = topX.select(col("xi"), explode(col("top")).as("t"))
      .select(col("xi"), col("t.id").as("yi"), col("t.score").as("c"))
    val bwd = topY.select(col("yi"), explode(col("top")).as("t"))
      .select(col("t.id").as("xi"), col("yi"), col("t.score").as("c"))
    val margins = m.fill(fwd.union(bwd).distinct()
      .join(denX, "xi") // side-A sums scale with the query set: AQE decides
      .join(denY, "yi") // side-B sums are corpus-sized: equi-join, AQE decides
      .withColumn("margin_micro",
        expr(s"CAST(round(1000000.0 * (${2 * k} * c) / (dx + dy)) AS BIGINT)")))
    // Both argmaxes are AGGREGATES (`max(struct(margin, -id))` — the
    // (margin DESC, id ASC) total order), not rank-1 windows: map-side
    // partial combine, no per-anchor sort materializes (r13; the same
    // argmax-is-an-aggregate rule the LPA superstep documents).
    val best = margins.groupBy("xi")
      .agg(max(struct(col("margin_micro"), (-col("yi")).as("ny"))).as("b"))
      .select(col("xi").as("x_id"), (-col("b.ny")).as("y_id"),
        col("b.margin_micro").as("margin_micro"))
    val bestXofY = margins.groupBy("yi")
      .agg(max(struct(col("margin_micro"), (-col("xi")).as("nx"))).as("b"))
      .select(col("yi").as("y_id"), (-col("b.nx")).as("bx"))
    best.join(bestXofY, "y_id")
      .select(col("x_id"), col("y_id"), col("margin_micro"),
        (col("bx") === col("x_id")).as("is_mutual"))
  }

  /** Driver-checkable gate for [[marginMiningIvf]] (the
    * `ann_ivf`/`ann_ivf_check` pattern): runs the exact and IVF-backed
    * miners at the same k and asserts (a) every side-A vector the exact
    * path aligned got an IVF alignment too (candidate coverage never
    * dropped an anchor), (b) at least `minAgreeMilli`/1000 of the anchors
    * chose the SAME best-margin partner, and (c) among partner-agreeing
    * anchors the mutual-best flag never flips (it is a function of the
    * pair once both directions agree, so a flip would mean the backward
    * argmax diverged — a real recall failure, not quantization noise).
    * Deterministic end to end (fixed split, seeded quantizer, exact
    * integer means), oracle asserts TRUE per row.
    */
  def marginMiningIvfAgreement(spark: SparkSession, dir: String, k: Int = 4,
      minAgreeMilli: Long = 700, numCentroids: Int = NumCentroids,
      numProbes: Int = NumProbes): DataFrame = {
    val (n, covered, agree, flips) =
      marginMiningIvfStats(spark, dir, k, numCentroids, numProbes)
    import spark.implicits._
    Seq(
      ("anchor_coverage_full", covered == n && n > 0),
      ("partner_agreement_floor", agree * 1000 >= n * minAgreeMilli),
      ("mutual_flag_consistent", flips == 0L))
      .toDF("check_name", "passed")
  }

  /** Raw (n, covered, partner_agree, mutual_flips) counts behind
    * [[marginMiningIvfAgreement]] (`Probe margins` seam — the agreement
    * permille `agree*1000/n` is the margin the boolean gate discards).
    */
  private[graft] def marginMiningIvfStats(spark: SparkSession, dir: String, k: Int = 4,
      numCentroids: Int = NumCentroids,
      numProbes: Int = NumProbes): (Long, Long, Long, Long) = {
    require(k >= 1, s"marginMiningIvfAgreement: k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(spark)
    // r13 (VERDICT r12 #7): ONE embeddings/norm pass, ONE exact cosine
    // scan, ONE quantizer training — the IVF side's scored set is the
    // exact scan RESTRICTED to the IVF candidate pairs (a semi-join), which
    // yields bit-identical cosines to the standalone IVF scorer (same
    // `cosine` expression over the same payload columns) at zero extra
    // cosine work. Before this the gate ran both miners end to end.
    Materialize.releasing { m =>
      val e = m.cache(withNorm(embeddings(spark, dir)))
      // the exact scan is the largest cache: its own scope releases it once
      // the IVF side's semi-join and the exact margins are filled, before
      // the IVF margins run
      val (exactMargins, scoredIvf) = Materialize.releasing { all =>
        val scoredAll = all.fill(exactScoredScan(e, 1L << 17)) // eager fill before the fan-out (cache-before-AQE)
        val candPairs = marginIvfCandidates(m, e, 2, TrainFraction, numCentroids, numProbes)
        val scoredIvf = m.fill(scoredAll.join(candPairs, Seq("xi", "yi"), "left_semi"))
        (m.checkpoint(marginFromScored(all, scoredAll, k)), scoredIvf)
      }
      val exact = exactMargins
        .select(col("x_id"), col("y_id").as("y_exact"), col("is_mutual").as("m_exact"))
      val ivf = Materialize(marginFromScored(_, scoredIvf, k))
        .select(col("x_id"), col("y_id").as("y_ivf"), col("is_mutual").as("m_ivf"))
      // single consumer (the one agg below) — no cache; caching here would
      // just force an extra materialization pass
      val j = exact.join(ivf, Seq("x_id"), "left")
      val r = j.agg(
        count(lit(1)).as("n"),
        sum(when(col("y_ivf").isNotNull, 1L).otherwise(0L)).as("covered"),
        sum(when(col("y_ivf") === col("y_exact"), 1L).otherwise(0L)).as("partner_agree"),
        sum(when(col("y_ivf") === col("y_exact") && col("m_ivf") =!= col("m_exact"), 1L)
          .otherwise(0L)).as("mutual_flips")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
  }

  /** K-CENTER CORESET selection (round 10) — greedy farthest-point
    * traversal (Gonzalez 1985, the 2-approximation of the k-center
    * optimum): the diversity-sampling primitive that picks the k most
    * mutually-dissimilar documents as a coverage skeleton of the
    * embedding space (eval-set seeding, dedup anchors, active-learning
    * batches). Deterministic: seeded at the minimum vec_id, cosine
    * distance, ties on the farthest pick break to the lower vec_id.
    *
    * Output: one row per center — (center_rank, vec_id,
    * radius_before_micros), where the radius is the corpus' max distance
    * to the previously chosen centers at pick time (so rank 1 carries
    * NULL, and the sequence is non-increasing — pinned by the check).
    *
    * Scale: greedy selection is INHERENTLY k sequential passes; each
    * round is one codegen'd `least(dist-so-far, dot-to-new-center)` map
    * plus a TakeOrdered(1) — the corpus shuffles NOTHING, ever. The
    * min-dist column folds forward through the rounds' lineage
    * (localCheckpoint every 4 rounds keeps plan growth flat, the Pregel
    * convention); k stays a parameter, and at 100 TB the k passes read
    * the cached/columnar corpus, which is exactly how FAISS-style
    * pipelines run farthest-point at scale.
    */
  def kCenterCoreset(spark: SparkSession, dir: String, k: Int = 8): DataFrame = Materialize { m =>
    require(k >= 1, s"kCenterCoreset: k must be >= 1, got $k")
    graft.functions.GraftFunctions.register(spark)
    val e = withNorm(embeddings(spark, dir))
    var state = normedOf(e).select(col("vec_id"), col("nemb"))
      .withColumn("min_dist", lit(Double.PositiveInfinity))

    def distTo(center: Seq[Double]): Column = {
      // withNorm's usableNorm seam guarantees finite components; guard
      // anyway — a non-finite value would render as the unparseable SQL
      // literal "NaND"/"InfinityD" and surface as a confusing parse error
      // three rounds later (r16 adversarial-fixture find).
      require(center.forall(d => java.lang.Double.isFinite(d)),
        s"k-center: non-finite center component — upstream norm seam breached: $center")
      val litArr = center.mkString("array(", "D, ", "D)")
      lit(1.0) - expr(s"graft_dot(nemb, $litArr)")
    }

    val seed = state.orderBy(col("vec_id")).limit(1)
      .select("vec_id", "nemb").head()
    var centers = Vector((seed.getLong(0), Option.empty[Double])) // (id, radius before pick)
    state = state.withColumn("min_dist", distTo(seed.getSeq[Double](1)))

    for (i <- 2 to k) {
      // farthest point, lower id on ties — TakeOrdered(1), no global sort
      val far = state.orderBy(desc("min_dist"), col("vec_id")).limit(1)
        .select("vec_id", "nemb", "min_dist").head()
      centers :+= ((far.getLong(0), Some(far.getDouble(2))))
      state = state.withColumn("min_dist",
        least(col("min_dist"), distTo(far.getSeq[Double](1))))
      if (i % 4 == 0) state = m.checkpoint(state)
    }

    import spark.implicits._
    centers.zipWithIndex.map { case ((id, radius), idx) =>
      (idx + 1L, id, radius.map(r => math.round(r * 1e6)))
    }.toDF("center_rank", "vec_id", "radius_before_micros")
  }

  /** Driver-checkable gate for [[kCenterCoreset]]: (a) the pick radii are
    * non-increasing (the greedy invariant), (b) the centers are distinct,
    * and (c) each pick's radius equals the max-min distance RECOMPUTED by
    * independent arithmetic (`zip_with`/`aggregate` SQL instead of the
    * native `graft_dot`) over the corpus against the PRIOR centers — so a
    * selection bug cannot hide behind its own distance expression.
    */
  def kCenterCoresetCheck(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val picks = kCenterCoreset(spark, dir, k).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1)
    val e = withNorm(embeddings(spark, dir))
    val normed = normedOf(e).select(col("vec_id"), col("nemb"))
    val byId = normed.filter(col("vec_id").isin(picks.map(_._2): _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

    def indepDist(center: Seq[Double]): Column = {
      val litArr = center.mkString("array(", "D, ", "D)")
      lit(1.0) - expr(
        s"aggregate(zip_with(nemb, $litArr, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")
    }
    // radius with the first (rank-1) centers == rank'th pick's radius
    val radiiConsistent = picks.drop(1).forall { case (rank, _, radiusMicros) =>
      val prior = picks.take(rank.toInt - 1).map(p => byId(p._2))
      val dists = prior.map(indepDist)
      val md = if (dists.length == 1) dists.head else least(dists: _*)
      val recomputed = normed
        .withColumn("md", md)
        .agg(max(col("md"))).head().getDouble(0)
      radiusMicros.contains(math.round(recomputed * 1e6))
    }
    val monotone = picks.flatMap(_._3).toList.sliding(2).forall {
      case a :: b :: Nil => b <= a
      case _ => true
    }
    import spark.implicits._
    Seq(
      ("radii_consistent_independent_arithmetic", radiiConsistent),
      ("radii_monotone", monotone),
      ("centers_distinct", picks.map(_._2).distinct.length == picks.length))
      .toDF("check_name", "passed")
  }

  /** LSH table count / key width. Sized for HIGH RECALL on corpora whose
    * "neighbors" are weak (random-ish embeddings, cosine ≈ 0.3): with 32
    * tables × 4 bits, P(candidate | cos=0.3) ≈ 0.99. For a real 100 TB
    * corpus with genuine near-dups (cos ≥ 0.8 ⇒ p_bit ≈ 0.8) the right
    * setting is MORE bits (≈ log2(n_vectors) for O(1) bucket sizes) and
    * fewer tables — expose both as parameters when productionizing.
    */
  val NumTables = 32
  val BitsPerTable = 4

  // Plane signs are a splitmix64-style mix of (dim, table, bit), evaluated
  // inside the single-pass `graft_lsh_buckets` expression (Expressions.scala)
  // — a naive parity mixer correlates tables and caps recall (~0.6 observed).

  /** IVF defaults, sized for the test corpus. These are PARAMETERS of
    * [[ivfTopK]] (round 7): at 100 TB the right settings differ — cells ≈
    * √n for balanced O(√n) cell scans, probes tuning the recall/cost
    * frontier — so a production caller picks them per corpus; the recall
    * gate is spec-verified at a non-default cell too (IvfSpec).
    */
  val NumCentroids = 16
  val NumProbes = 8

  /** Deterministic hash-sample for quantizer training (IVF centroids, PQ
    * codebooks). At 100 TB the Lloyd refinement must NOT scan the full
    * corpus `refineIters+1` times — codebooks are trained on a small
    * sample and applied corpus-wide. `xxhash64(vec_id)` selects a stable
    * ~`fraction` subset, so training — and every downstream code and
    * result — stays bit-reproducible across runs, partitionings and
    * cluster sizes (a `rand()` sample would not be). Encoding, assignment
    * and scans still cover the full corpus.
    */
  private def trainSample(df: DataFrame, fraction: Double): DataFrame =
    if (fraction >= 1.0) df
    else df.filter(pmod(xxhash64(col("vec_id")), lit(10000)) < lit(math.round(fraction * 10000)))

  /** Default training fraction: 10% of the corpus. On the small test
    * fixtures this still leaves ≥ 3× more training vectors than centroids;
    * recall floors are re-verified under sampling by AnnSpec/IvfSpec.
    */
  val TrainFraction = 0.1

  /** IVF-flat ANN: the corpus is partitioned into `NumCentroids` Voronoi
    * cells (deterministic hash-ordered seed centroids refined by
    * `refineIters` Lloyd/k-means steps over a [[trainSample]] of
    * `trainFraction` of the corpus), queries probe the `NumProbes`
    * nearest cells, and only those cells' vectors are exactly re-ranked.
    * The coarse quantizer is evaluated as literal-array dot products
    * (codegen, no shuffle); the only shuffles are the per-iteration mean
    * aggregation and the cell-id equi-join. Each Lloyd step is a
    * distributed (cell, dim) mean — only NumCentroids × dims values ever
    * reach the driver, and only the sample is scanned per iteration; the
    * full corpus is touched once for the final cell assignment. At
    * 100 TB: cells ≈ √n and probes tune the recall/cost frontier.
    */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      refineIters: Int = 2, trainFraction: Double = TrainFraction,
      numCentroids: Int = NumCentroids, numProbes: Int = NumProbes): DataFrame =
    ivfTopKFrom(spark, embeddings(spark, dir), k, nQueries, refineIters,
      trainFraction, numCentroids, numProbes)

  private[graft] def ivfTopKFrom(spark: SparkSession, e0: DataFrame,
      k: Int, nQueries: Int, refineIters: Int = 2,
      trainFraction: Double = TrainFraction,
      numCentroids: Int = NumCentroids, numProbes: Int = NumProbes): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(spark)
    val e = m.cache(withNorm(e0))
    // Training set: deterministic hash-sample; scanning it fills e's cache.
    val train = m.cache(trainSample(e, trainFraction))
    val nTrain = train.count()
    require(nTrain > 0, s"ivfTopK: training sample is empty (trainFraction=$trainFraction)")
    val centroids = trainIvfCentroids(train, refineIters, numCentroids)
    val assigned = e.withColumn("cell",
      array_max(array(cellAffinities(centroids): _*)).getField("c"))
    ivfProbeTopK(e, assigned, centroids, k, nQueries, numProbes)
  }

  /** Cell affinity = cosine vs each centroid, as literal-array dots
    * (codegen, no shuffle) — shared by training, assignment, probing and
    * the store-backed query path.
    */
  private def cellAffinities(cents: Array[(Int, Seq[Double])]): Seq[Column] =
    cents.toSeq.map { case (cid, cv) =>
      val lit = cv.mkString("array(", "D, ", "D)")
      struct((expr(s"graft_dot(embedding, $lit)") / col("norm")).as("score"), expr(s"$cid").as("c"))
    }

  /** Seeds + Lloyd refinement over the training sample — the trained
    * coarse quantizer, shared by [[ivfTopK]] and [[writeIvfIndex]] so the
    * direct and store-backed paths can never train differently.
    *
    * Seeds: the first numCentroids training vectors in xxhash64 order — a
    * deterministic pseudo-random spread that is a TakeOrdered (no global
    * sort) and, unlike a `vec_id % stride` probe, cannot under-select when
    * sampled ids are sparse/non-contiguous. Samples SMALLER than
    * numCentroids pad by cycling (the trainCodebooks rule, applied here
    * for symmetry): a duplicated centroid ties its twin's affinity and the
    * assignment breaks to the HIGHER cell id consistently (array_max on
    * (score, c) structs), Lloyd's empty-cell rule keeps the loser inert —
    * so tiny corpora degrade gracefully instead of silently running with
    * fewer cells than requested.
    *
    * Lloyd refinement: each cell's centroid becomes the (re-normalized)
    * mean of its members. The mean is computed as EXACT integer-micros
    * sums (the [[labelCentroids]] recipe): bigint addition commutes, so
    * the result is identical across any partitioning/parallelism — a
    * float avg() would drift in the last ulp with summation order and
    * break cross-configuration reproducibility. Empty cells keep their
    * previous centroid.
    *
    * EXECUTION (round 10, the BPE driver-trainer precedent): when the
    * sample fits [[MaxTrainCollect]] it is collected ONCE and refined on
    * the driver with BIT-IDENTICAL arithmetic (same xxhash seed order,
    * same graft_dot accumulation order, same HALF_UP integer-micros
    * means, same tie rules) — the distributed form paid `refineIters`
    * rounds of plan analysis + codegen of literal-centroid expressions
    * per round (~4 s of fixed overhead at bench scale) to aggregate a few
    * thousand rows. The distributed path remains below as the
    * cross-check; IvfSpec asserts exact equality of the two trainers'
    * output. Sampling keeps the collect bounded at any corpus size —
    * callers tune `trainFraction` so `fraction·n ≤` the cap, the FAISS
    * train-on-a-sample contract the scaladoc above already documents.
    */
  private[graft] def trainIvfCentroids(train: DataFrame, refineIters: Int,
      numCentroids: Int): Array[(Int, Seq[Double])] = {
    val rows = train
      .select(xxhash64(col("vec_id")).as("h"), col("vec_id"), col("embedding"), col("norm"))
      .limit(MaxTrainCollect + 1).collect()
    if (rows.length > MaxTrainCollect)
      trainIvfCentroidsDistributed(train, refineIters, numCentroids)
    else {
      val vecs = rows.sortBy(r => (r.getLong(0), r.getLong(1)))
        .map(r => (r.getSeq[Float](2).toArray, r.getDouble(3)))
      trainIvfCentroidsLocal(vecs, refineIters, numCentroids)
    }
  }

  /** Spark's `round(double)` (BigDecimal HALF_UP), replicated exactly so
    * the local trainers' integer-micros sums match the distributed
    * aggregates bit-for-bit.
    */
  @inline private def roundHalfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  private[graft] def trainIvfCentroidsLocal(vecs: Array[(Array[Float], Double)],
      refineIters: Int, numCentroids: Int): Array[(Int, Seq[Double])] = {
    require(vecs.nonEmpty, "trainIvfCentroids: training sample is empty")
    val dims = vecs.head._1.length
    val seeds = vecs.take(numCentroids).map { case (v, norm) => v.map(_.toDouble / norm).toSeq }
    var centroids = Array.tabulate(numCentroids)(cid => (cid, seeds(cid % seeds.length)))
    for (_ <- 0 until refineIters) {
      val sums = Array.fill(numCentroids, dims)(0L)
      val counts = Array.fill(numCentroids)(0L)
      vecs.foreach { case (v, norm) =>
        // argmax of (score, c): ties to the HIGHER cell id (array_max rule)
        var best = Double.NegativeInfinity
        var bestC = -1
        centroids.foreach { case (cid, cv) =>
          var acc = 0.0 // graft_dot: sequential double accumulation
          var i = 0
          val n = math.min(v.length, cv.length)
          while (i < n) { acc += v(i).toDouble * cv(i); i += 1 }
          val score = acc / norm
          if (score > best || (score == best && cid > bestC)) { best = score; bestC = cid }
        }
        counts(bestC) += 1
        var i = 0
        while (i < dims) { sums(bestC)(i) += roundHalfUp(v(i).toDouble * 1e6); i += 1 }
      }
      centroids = centroids.map { case (cid, old) =>
        if (counts(cid) == 0L) (cid, old) // empty cell keeps its centroid
        else {
          val mean = (0 until dims).map(i => sums(cid)(i).toDouble / counts(cid) / 1e6)
          val nrm = math.sqrt(mean.map(x => x * x).sum)
          (cid, if (nrm > 0) mean.map(_ / nrm) else mean)
        }
      }
    }
    centroids
  }

  /** Driver-side collect cap for local quantizer training: 2^17 vectors ×
    * 64 dims ≈ 67 MB — far under driver memory, far over any sane
    * `trainFraction · n` training set. Above it the distributed trainer
    * runs instead (never an error — the cap is a dispatch, not a limit).
    */
  val MaxTrainCollect: Int = 1 << 17

  private[graft] def trainIvfCentroidsDistributed(train: DataFrame, refineIters: Int,
      numCentroids: Int): Array[(Int, Seq[Double])] = {
    var centroids: Array[(Int, Seq[Double])] = {
      val seeds = train
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(numCentroids)
        .select("vec_id", "embedding", "norm").collect()
        .map { r =>
          val v = r.getSeq[Float](1)
          val norm = r.getDouble(2)
          v.map(x => x.toDouble / norm).toSeq
        }
      Array.tabulate(numCentroids)(cid => (cid, seeds(cid % seeds.length)))
    }
    for (_ <- 0 until refineIters) {
      val assigned = train.withColumn("cell",
        array_max(array(cellAffinities(centroids): _*)).getField("c"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(
          sum(round(col("x").cast("double") * 1000000).cast("bigint")).as("sum_micros"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          val v = rows.sortBy(_.getInt(1))
            .map(r => r.getLong(2).toDouble / r.getLong(3) / 1e6).toSeq
          val nrm = math.sqrt(v.map(x => x * x).sum)
          cid -> (if (nrm > 0) v.map(_ / nrm) else v)
        }
      centroids = centroids.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    centroids
  }

  /** The probe-and-rerank stage over an assigned corpus — shared by the
    * direct and store-backed query paths.
    */
  private def ivfProbeTopK(e: DataFrame, assigned: DataFrame,
      centroids: Array[(Int, Seq[Double])], k: Int, nQueries: Int,
      numProbes: Int): DataFrame = {
    // top-numProbes cells per query, by affinity (struct sort: score, then c)
    val probeCells = slice(reverse(array_sort(array(cellAffinities(centroids): _*))), 1, numProbes)
    val q = e.filter(col("vec_id") < nQueries)
      .withColumn("pc", explode(probeCells.getField("c")))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"), col("pc").as("cell"))
    topKPerQuery(
      assigned.join(broadcast(q), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cosine", cosine),
      col("cosine"), k)
  }

  /** Persists the trained IVF index — the deployment artifact a 100 TB
    * corpus builds ONCE and queries many times: `centroids.parquet`
    * (numCentroids rows of (cid, centroid)) and `assignments.parquet`
    * ((vec_id, cell) — 12 bytes/vector; the embeddings themselves stay in
    * the source table and are joined back only for probed cells). Training
    * is [[trainIvfCentroids]] verbatim, so the persisted index is
    * bit-identical to what [[ivfTopK]] would train in-session.
    */
  def writeIvfIndex(spark: SparkSession, dir: String, storeDir: String,
      refineIters: Int = 2, trainFraction: Double = TrainFraction,
      numCentroids: Int = NumCentroids): Unit = Materialize.releasing { m =>
    graft.functions.GraftFunctions.register(spark)
    val e = m.cache(withNorm(embeddings(spark, dir)))
    val train = m.cache(trainSample(e, trainFraction))
    require(train.count() > 0,
      s"writeIvfIndex: training sample is empty (trainFraction=$trainFraction)")
    val centroids = trainIvfCentroids(train, refineIters, numCentroids)
    import spark.implicits._
    centroids.toSeq.toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$storeDir/centroids.parquet")
    e.withColumn("cell", array_max(array(cellAffinities(centroids): _*)).getField("c"))
      .select("vec_id", "cell")
      .write.mode("overwrite").parquet(s"$storeDir/assignments.parquet")
  }

  /** Queries a PERSISTED IVF index ([[writeIvfIndex]]) without retraining
    * or reassigning: centroids load onto the driver (numCentroids × dims
    * values), assignments join the corpus by vec_id, probing and exact
    * re-rank run exactly as [[ivfTopK]]'s — bit-equal to the direct path
    * (IvfSpec), which is what makes `ann_ivf_store_check` share the same
    * recall-floor oracle shape.
    */
  def ivfTopKViaStore(spark: SparkSession, dir: String, storeDir: String,
      k: Int = 10, nQueries: Int = 5, numProbes: Int = NumProbes): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val centroids = ParquetSource.read(spark, s"$storeDir/centroids.parquet")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val assignments = ParquetSource.read(spark, s"$storeDir/assignments.parquet")
    val e = withNorm(embeddings(spark, dir))
    val assigned = e.join(assignments, "vec_id")
    ivfProbeTopK(e, assigned, centroids, k, nQueries, numProbes)
  }

  /** Driver-checkable recall floor of the store-backed IVF path — build
    * index → persist → read back → query, asserting the same per-query
    * floor as `ann_ivf_check`. A green row proves the index round trip is
    * lossless end to end.
    */
  def ivfStoreRecallFloor(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = IvfMinHits): DataFrame =
    floorOverHits(ivfStoreRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[ivfStoreRecallFloor]], materialized
    * within the temp-store lifetime (`Probe margins` seam).
    */
  private[graft] def ivfStoreRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    try {
      writeIvfIndex(spark, dir, store)
      val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
      val approx = ivfTopKViaStore(spark, dir, store, k, nQueries).select("q_id", "neighbor_id")
      // materialize before the temp index is deleted
      Materialize(_ => recallHitCounts(exact, approx))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  /** Per-label embedding centroids as EXACT integer sums: each dimension's
    * contributions are rounded to micros and summed as bigints, so the
    * result is order-independent and engine-exact (a float mean would
    * differ in the last ulp between engines). `centroid[dim] =
    * sum_micros / n / 1e6` is derivable downstream. The explode fans out
    * dims×n rows but carries only (label, dim, micros) through the
    * shuffle — the class-prototype aggregation of a training pipeline.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      // r16 finite-vector contract (L2 family): NaN/Inf components throw
      // in the micros quantization under ANSI and would poison the
      // label's mean; oracle mirrors with the same norm < Infinity test
      .filter(Portable.finiteNorm(Portable.l2NormNative("embedding")))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim").cast("bigint").as("dim"))
      .agg(
        sum(round(col("x").cast("double") * 1000000).cast("bigint")).as("sum_micros"),
        count(lit(1)).as("n"))

  /** ANN top-k via LSH bucketing + exact re-rank of candidates. Recall is
    * data-dependent (verified ≥0.9 vs [[bruteForceTopK]] in AnnSpec); falls
    * short only for queries whose true neighbors share no bucket in any
    * table.
    */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      tables: Int = NumTables, bits: Int = BitsPerTable): DataFrame = Materialize { m =>
    val e = m.cache(withNorm(embeddings(spark, dir))) // reused by buckets, queries, re-rank
    // Buckets carry ONLY (vec_id, t, key): candidate generation and dedup
    // never shuffle the embedding payloads. All 32 keys come from ONE
    // codegen pass (`graft_lsh_buckets`) — bit-identical to the per-plane
    // literal-dot form, ~100× less generated code. Cached — feeds both
    // join sides.
    val bucketed = m.cache(e
      .select(col("vec_id"),
        posexplode(expr(s"graft_lsh_buckets(embedding, $tables, $bits)")).as(Seq("t", "key"))))
    val qb = bucketed.filter(col("vec_id") < nQueries).withColumnRenamed("vec_id", "q_id")
    val pairs = bucketed.join(broadcast(qb), Seq("t", "key"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
      .distinct()
    // Score only the deduped candidate ids: join payloads back, queries
    // broadcast.
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    topKPerQuery(
      pairs
        .join(e, "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cosine", cosine),
      col("cosine"), k)
  }

  /** Driver-checkable ANN recall: per query, the number of the TRUE top-k
    * (from [[bruteForceTopK]]) that [[lshTopK]] also returned. The DuckDB
    * oracle computes the exact top-k in SQL and asserts `n_hits = k` — so a
    * green row is a hard proof that the LSH path achieved recall 1.0 on
    * this corpus, not just a spec-side claim. Both sides are deterministic
    * (fixed hyperplanes), so the check is stable across runs.
    */
  def lshRecallTable(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    val approx = lshTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    recallHitCounts(exact, approx)
  }

  /** Driver-checkable IVF recall floor: per query, a boolean asserting the
    * IVF path recovered at least `minHits` of the true top-k. IVF recall is
    * < 1.0 by design (probes/cells trade cost for recall — measured ≈0.86
    * at 6/16 probes in IvfSpec), so unlike [[lshRecallTable]] the gate is a
    * generous floor, not equality; the oracle asserts TRUE per query.
    */
  def ivfRecallFloor(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      minHits: Int = IvfMinHits, numCentroids: Int = NumCentroids,
      numProbes: Int = NumProbes): DataFrame =
    floorOverHits(ivfRecallHits(spark, dir, k, nQueries, numCentroids, numProbes), minHits)

  /** Raw per-query hit counts behind [[ivfRecallFloor]] (`Probe margins`
    * seam — see [[floorOverHits]]).
    */
  private[graft] def ivfRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, numCentroids: Int = NumCentroids,
      numProbes: Int = NumProbes): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    val approx = ivfTopK(spark, dir, k, nQueries,
      numCentroids = numCentroids, numProbes = numProbes).select("q_id", "neighbor_id")
    recallHitCounts(exact, approx)
  }

  /** Deterministic HOT-CELL twin corpus: `clusterPermille`/1000 of the
    * vectors collapse into a tight ball around vector 0's embedding (each
    * keeps a small id-indexed nudge so no two are identical and cosine
    * ties stay impossible), the rest keep their original embeddings. On
    * the trained quantizer the ball lands in ONE Voronoi cell, so the
    * probe-cell equi-join sees a single white-hot key carrying most of
    * the corpus — the skew profile a clustered real-world embedding table
    * produces and the isotropic fixture never does. Pure map over the
    * source table; integer/elementwise-float arithmetic only, so the
    * corpus is bit-reproducible under any partitioning.
    */
  private[graft] def clusteredEmbeddings(spark: SparkSession, dir: String,
      clusterPermille: Int = 900): DataFrame = {
    require(clusterPermille >= 1 && clusterPermille <= 1000,
      s"clusterPermille must be in [1, 1000], got $clusterPermille")
    val e = embeddings(spark, dir)
    val anchor = e.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    require(anchor.nonEmpty, "clusteredEmbeddings: corpus has no vector 0")
    val anchorLit = anchor.map(_.toDouble).mkString("array(", "D, ", "D)")
    // cluster membership by xxhash64(vec_id) mod 1000, NOT vec_id mod 1000:
    // dense ids 0..n-1 never reach high residues on small corpora, which
    // would silently freeze the knob above n/1000 permille — the hash
    // spreads every corpus uniformly over [0, 1000). Vector 0's nudge is
    // identically zero, so the anchor keeps its original embedding in
    // either arm.
    e.select(col("vec_id"),
      when(pmod(xxhash64(col("vec_id")), lit(1000L)) >= clusterPermille, col("embedding"))
        .otherwise(expr(
          s"transform($anchorLit, (a, i) -> " +
            "CAST(a + pmod(vec_id * (i + 1), 97) / 4850.0D AS FLOAT))"))
        .as("embedding"))
  }

  /** `ann_ivf_skew_check` — the recall gate of [[ivfRecallFloor]] run over
    * the [[clusteredEmbeddings]] hot-cell corpus: exact brute force and
    * IVF probe the SAME clustered table, so a green row proves the
    * cell-equi-join path keeps its recall floor when one tight ball
    * carries ~90% of the corpus (the skew the round-11 review flagged as
    * the IVF family's residual risk). The hot ball makes the probed scan
    * bigger, never wrong — this row pins that the plan degrades in TIME
    * only, not in answers.
    *
    * `minHits` is 2 here, one below [[ivfRecallFloor]]'s isotropic floor,
    * and the reason is measured, not hedged (ClusterGateProbe): inside a
    * ball whose pairwise cosines exceed 0.999, the EXACT top-10 ranking is
    * decided in the 4th decimal of the id-indexed nudges, so k-means'
    * split of the ball into subcells makes per-query recall against that
    * ranking partly arbitrary — sf0.001 query 2 lands at 2/10 while every
    * other (dir, permille, query) cell measures 4–10/10, deterministically.
    * The isotropic corpus keeps the full 3/10 floor via `ann_ivf_check`.
    */
  def ivfRecallFloorClustered(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = IvfClusteredMinHits,
      clusterPermille: Int = 900): DataFrame =
    floorOverHits(ivfClusteredRecallHits(spark, dir, k, nQueries, clusterPermille), minHits)

  /** Raw per-query hit counts behind [[ivfRecallFloorClustered]]
    * (`Probe margins` seam).
    */
  private[graft] def ivfClusteredRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, clusterPermille: Int = 900): DataFrame = Materialize { m =>
    // eager fill: brute-force and IVF paths both read it
    val clustered = m.fill(clusteredEmbeddings(spark, dir, clusterPermille))
    val exact = bruteForceTopKFrom(clustered, k, nQueries)
      .select("q_id", "neighbor_id")
    val approx = ivfTopKFrom(spark, clustered, k, nQueries)
      .select("q_id", "neighbor_id")
    recallHitCounts(exact, approx)
  }

  /** PQ layout: 64 dims → [[PqSubspaces]] blocks of [[PqSubDims]] dims,
    * [[PqCentroids]] centroids per block → an 8-BYTE code per vector
    * (vs 256 raw bytes). The memory ratio is the whole point at 100 TB:
    * the ADC scan below touches only (vec_id, codes) — the raw embedding
    * column stays on disk until the shortlist re-rank.
    */
  val PqSubspaces = 8
  val PqSubDims = 8 // 64 / PqSubspaces
  /** Defaults for [[pqTopK]]'s tuning surface (round 7: parameters, not
    * constants — at 100 TB a caller trades code width vs shortlist depth
    * per corpus; the recall gate is spec-verified off-default too).
    */
  val PqCentroids = 16
  /** ADC shortlist size before exact re-rank (quantization noise budget).
    * 400 = 40·k at the gate's k=10 — recalibrated r17: the old 200 put
    * the recall gate's worst query at EXACTLY the minHits floor (5/10 on
    * pristine sf0.1), so a one-vector corpus perturbation (the
    * adversarial fixture's in-contract denormal-norm vector) flipped it
    * to 4/10. Measured sweep (PqDiag, both fixtures): shortlist 200 →
    * min-hits 5/4 (knife edge), 400 → 7/7 (identical hit vectors on both
    * corpora), 800 → 9/9. The shortlist is a bounded per-task heap, so
    * the cost of 400 vs 200 is only the re-rank join width — negligible
    * against the ADC scan at any scale.
    */
  val PqShortlist = 400

  /** Probe-ring width of the COMPOSED IVF-PQ path (its flat-IVF coarse
    * stage keeps [[NumProbes]] = 8). The composition pays BOTH coarse-cell
    * pruning AND 8-byte quantization, so at 8/16 probes its recall gate
    * held only a one-hit margin (min-hits 4 vs floor 3, identical on
    * pristine and adversarial sf0.1 — GateMarginProbe r17). The measured
    * sweep (IvfPqMarginSweep, both fixtures × probes {8,10,12} × shortlist
    * {400,800}): 10/16 probes lifts min-hits to 6 on BOTH corpora at the
    * default shortlist — double the margin for a 2-cell-wider probe scan
    * (scan cost ∝ probes/centroids: 0.500 → 0.625 of the coded corpus,
    * which is 8-byte codes, not raw vectors). 12 probes is NOT monotone
    * per query (adv min dips back to 5 at shortlist 400 — cell-ordering
    * shifts), so 10 is the evidence-picked point.
    */
  val IvfPqProbes = 10

  /** Trains the per-subspace codebooks on a deterministic [[trainSample]]
    * (hash-ordered seeds, the [[ivfTopK]] recipe) refined by
    * `refineIters` Lloyd steps with EXACT integer-micros means, so the
    * codebook — and therefore every PQ result — is bit-reproducible
    * across partitionings. Returns codebook(s)(c) = subvector of dim
    * [[PqSubDims]]. Vectors are L2-normalized first: squared-L2 ranking
    * on unit vectors equals cosine ranking (d² = 2 − 2·cos), which keeps
    * PQ's natural metric aligned with the rest of the ANN family.
    *
    * Each Lloyd step is ONE distributed aggregate over (s, cell, dim) of
    * the TRAINING SAMPLE only — only Subspaces×Centroids×SubDims sums
    * reach the driver, and the full corpus is scanned exactly once (the
    * encoding pass), regardless of `refineIters`.
    */
  /** PQ codebook training — local-first like [[trainIvfCentroids]]
    * (round 10): the sample collects once and Lloyd runs on the driver
    * with bit-identical arithmetic (argmin `|c|²−2·sub·c` with
    * lower-code ties, HALF_UP integer-micros means, empty cells inert);
    * the distributed form below remains the cross-check (AnnSpec pins
    * exact equality). Rationale: each distributed round re-codegens the
    * `subspaces × centroids` literal-dot expression to aggregate a few
    * thousand sample rows — pure fixed overhead at any SF.
    */
  private[graft] def trainCodebooks(normed: DataFrame, refineIters: Int,
      trainFraction: Double, pqCentroids: Int = PqCentroids): Array[Array[Array[Double]]] =
    Materialize.releasing { m =>
      val train = m.cache(trainSample(normed, trainFraction))
      val rows = train
        .select(xxhash64(col("vec_id")).as("h"), col("vec_id"), col("nemb"))
        .limit(MaxTrainCollect + 1).collect()
      require(rows.nonEmpty, s"pqTopK: training sample is empty (trainFraction=$trainFraction)")
      if (rows.length > MaxTrainCollect) trainCodebooksDistributed(train, refineIters, pqCentroids)
      else trainCodebooksLocal(
        rows.sortBy(r => (r.getLong(0), r.getLong(1))).map(_.getSeq[Double](2).toArray),
        refineIters, pqCentroids)
    }

  private[graft] def trainCodebooksLocal(nembs: Array[Array[Double]],
      refineIters: Int, pqCentroids: Int): Array[Array[Array[Double]]] = {
    val seeds = nembs.take(pqCentroids)
    val padded = if (seeds.length >= pqCentroids) seeds
      else Array.tabulate(pqCentroids)(i => seeds(i % seeds.length))
    var books = Array.tabulate(PqSubspaces) { s =>
      padded.map(v => v.slice(s * PqSubDims, (s + 1) * PqSubDims))
    }
    for (_ <- 0 until refineIters) {
      // hoist |c|² per (s, c), computed in codebook array order like the
      // literal the distributed expression builds
      val cNorm2 = Array.tabulate(PqSubspaces, pqCentroids)((s, c) =>
        books(s)(c).map(x => x * x).sum)
      val sums = Array.fill(PqSubspaces, pqCentroids, PqSubDims)(0L)
      val counts = Array.fill(PqSubspaces, pqCentroids)(0L)
      nembs.foreach { v =>
        var s = 0
        while (s < PqSubspaces) {
          val off = s * PqSubDims
          // argmin of (d, c): strict < while scanning ascending c = the
          // array_min lower-code tie rule
          var bestD = Double.PositiveInfinity
          var bestC = 0
          var c = 0
          while (c < pqCentroids) {
            val cv = books(s)(c)
            var acc = 0.0
            var i = 0
            while (i < PqSubDims) { acc += v(off + i) * cv(i); i += 1 }
            val d = cNorm2(s)(c) - 2.0 * acc
            if (d < bestD) { bestD = d; bestC = c }
            c += 1
          }
          counts(s)(bestC) += 1
          var i = 0
          while (i < PqSubDims) {
            sums(s)(bestC)(i) += roundHalfUp(v(off + i) * 1e6); i += 1
          }
          s += 1
        }
      }
      books = Array.tabulate(PqSubspaces) { s =>
        Array.tabulate(pqCentroids) { c =>
          if (counts(s)(c) == 0L) books(s)(c) // empty cell keeps its centroid
          else Array.tabulate(PqSubDims)(i => sums(s)(c)(i).toDouble / counts(s)(c) / 1e6)
        }
      }
    }
    books
  }

  private[graft] def trainCodebooksDistributed(train: DataFrame, refineIters: Int,
      pqCentroids: Int = PqCentroids): Array[Array[Array[Double]]] = {
    var books: Array[Array[Array[Double]]] = {
      // Seeds in deterministic xxhash64 order (TakeOrdered, no global sort;
      // robust to sparse/non-contiguous vec_ids — the old stride probe
      // could under-select). If the corpus has FEWER than pqCentroids
      // vectors, pad by cycling: a duplicated centroid never wins argmin
      // (lower code id takes the tie) and Lloyd's empty-cell rule keeps it
      // inert, so codesFor's fixed-width loops stay safe instead of
      // throwing ArrayIndexOutOfBounds.
      val seeds = train.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(pqCentroids)
        .select("nemb").collect()
        .map(_.getSeq[Double](0).toArray)
      val padded = if (seeds.length >= pqCentroids) seeds
        else Array.tabulate(pqCentroids)(i => seeds(i % seeds.length))
      Array.tabulate(PqSubspaces) { s =>
        padded.map(v => v.slice(s * PqSubDims, (s + 1) * PqSubDims))
      }
    }
    for (_ <- 0 until refineIters) {
      val assigned = train.withColumn("codes", codesFor(books))
      val sums = assigned
        .select(posexplode(col("nemb")).as(Seq("dim", "x")), col("codes"))
        .withColumn("s", (col("dim") / PqSubDims).cast("int"))
        .withColumn("cell", element_at(col("codes"), col("s") + 1))
        .groupBy("s", "cell", "dim")
        .agg(sum(round(col("x") * 1000000).cast("bigint")).as("sum_micros"),
          count(lit(1)).as("cnt"))
        .collect()
      val byCell = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = Array.tabulate(PqSubspaces) { s =>
        Array.tabulate(pqCentroids) { c =>
          byCell.get((s, c)) match {
            case Some(rows) =>
              rows.sortBy(_.getInt(2)).map(r => r.getLong(3).toDouble / r.getLong(4) / 1e6)
            case None => books(s)(c) // empty cell keeps its centroid
          }
        }
      }
    }
    books // caller owns the sample's cache lifecycle
  }

  /** `array<int>` of [[PqSubspaces]] code ids for the normalized embedding
    * column `nemb` — argmin squared-L2 per subspace. The `|sub|²` term of
    * `|sub|² + |c|² − 2·sub·c` is constant within a subspace and argmin is
    * shift-invariant, so each candidate scores as `|c|² − 2·sub·c` — ONE
    * dot per centroid instead of two (halves the generated code and the
    * per-row work; ~0.6 s off the warm sf0.1 end-to-end path). Ties
    * break to the lower code id (struct comparison), fixed across engines.
    */
  private def codesFor(books: Array[Array[Array[Double]]]): Column = {
    val perSub = (0 until PqSubspaces).map { s =>
      val sub = s"slice(nemb, ${s * PqSubDims + 1}, $PqSubDims)"
      // centroid count comes from the codebook itself, so off-default
      // pqCentroids settings flow through without a second parameter
      val scored = books(s).indices.map { c =>
        val cv = books(s)(c)
        val litArr = cv.mkString("array(", "D, ", "D)")
        val cNorm2 = cv.map(x => x * x).sum
        struct(
          (lit(cNorm2) - lit(2.0) * expr(s"graft_dot($sub, $litArr)")).as("d"),
          lit(c).as("c"))
      }
      array_min(array(scored: _*)).getField("c")
    }
    array(perSub: _*)
  }

  /** PQ-ADC ANN: encode the corpus to 8-byte codes, score candidates by
    * Asymmetric Distance (per-query lookup table over the codebooks,
    * summed via codegen'd `element_at` — no HOF in the hot path), keep a
    * [[PqShortlist]]-deep shortlist per query, then exact-cosine re-rank
    * only the shortlist. Queries are collected (bounded by `nQueries`)
    * and broadcast with their flattened 128-entry tables.
    *
    * 100 TB plan shape: codebook training is `refineIters` small
    * aggregates; encoding is map-only; the ADC scan shuffles only
    * (q_id, vec_id, approx) for shortlist selection; raw vectors are
    * joined back for the shortlist re-rank alone.
    */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      refineIters: Int = 3, trainFraction: Double = TrainFraction,
      pqCentroids: Int = PqCentroids, pqShortlist: Int = PqShortlist): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(spark)
    val e = m.cache(withNorm(embeddings(spark, dir)))
    val normed = m.fill(normedOf(e))
    val books = trainCodebooks(normed, refineIters, trainFraction, pqCentroids)
    val coded = m.fill(normed.withColumn("codes", codesFor(books)).select("vec_id", "codes"))
    pqQueryStage(e, normed, coded, books, k, nQueries, pqCentroids, pqShortlist)
  }

  /** L2-normalized embeddings with zero-norm vectors EXCLUDED. Zero norms
    * are out of contract for cosine ranking and are dropped here rather
    * than left to float through: nemb would be NaN, and the shortlist heap
    * ranks the negated distance's NaN FIRST under desc (the old approx-asc
    * window ranked it last) — a zero-norm vector would enter every
    * shortlist and a zero-norm query would return NaN ranks. The exclusion
    * is explicit and total for the PQ family (direct and store paths).
    */
  private def normedOf(e: DataFrame): DataFrame =
    // graft_array_div == the transform() HOF bit-for-bit (same per-element
    // IEEE division) but codegen'd — this materializes a normalized copy
    // of the WHOLE corpus, so the per-element interpreted lambda matters
    e.filter(Portable.usableNorm(col("norm"))).withColumn("nemb",
      expr("graft_array_div(embedding, norm)"))

  /** The PQ query stage over a coded corpus — ADC tables, bounded-heap
    * shortlist, exact re-rank — shared by the direct and store-backed
    * paths so they cannot drift.
    */
  private def pqQueryStage(e: DataFrame, normed: DataFrame, coded: DataFrame,
      books: Array[Array[Array[Double]]], k: Int, nQueries: Int,
      pqCentroids: Int, pqShortlist: Int): DataFrame = {
    val spark = e.sparkSession
    // Per-query ADC tables: table(q)(s*16+c) = ||q_s - books(s)(c)||²,
    // flattened so the scan-side sum is 8 codegen element_at lookups.
    val queries = normed.filter(col("vec_id") < nQueries)
      .select("vec_id", "nemb").collect()
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        val tab = Array.tabulate(PqSubspaces * pqCentroids) { i =>
          val s = i / pqCentroids; val c = i % pqCentroids
          val cv = books(s)(c)
          var d = 0.0
          var j = 0
          while (j < PqSubDims) {
            val diff = q(s * PqSubDims + j) - cv(j); d += diff * diff; j += 1
          }
          d
        }
        (r.getLong(0), tab.toSeq)
      }
    import spark.implicits._
    val qdf = broadcast(queries.toSeq.toDF("q_id", "qtab"))

    val approxCol = (0 until PqSubspaces).map { s =>
      element_at(col("qtab"), element_at(col("codes"), s + 1) + lit(s * pqCentroids) + 1)
    }.reduce(_ + _)

    // Shortlist selection as the bounded-heap aggregate on NEGATED distance
    // (top-k by -approx == bottom-k by approx; vec_id asc tiebreak matches
    // the old window's (approx asc, vec_id asc) order). This is the site
    // where the aggregate matters most: the ADC scan scores the WHOLE coded
    // corpus × nQueries, and the aggregate forwards only PqShortlist rows
    // per (map task, query) to the exchange instead of the full scan output.
    val shortlist = coded.join(qdf, col("vec_id") =!= col("q_id"))
      .withColumn("approx", approxCol)
      .groupBy("q_id")
      .agg(expr(s"graft_topk(vec_id, -approx, $pqShortlist)").as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"))

    // exact re-rank of the shortlist only
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    topKPerQuery(
      shortlist
        .join(e, "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cosine", cosine),
      col("cosine"), k)
  }

  /** Persists the trained PQ index — codebooks (`Subspaces × pqCentroids`
    * rows of (s, c, subvector)) plus the coded corpus (`codes.parquet`,
    * the 8-byte-per-vector compressed representation that IS the point of
    * PQ at 100 TB). Training is [[trainCodebooks]] verbatim, so the
    * persisted index matches what [[pqTopK]] trains in-session.
    */
  def writePqIndex(spark: SparkSession, dir: String, storeDir: String,
      refineIters: Int = 3, trainFraction: Double = TrainFraction,
      pqCentroids: Int = PqCentroids): Unit = Materialize.releasing { m =>
    graft.functions.GraftFunctions.register(spark)
    val e = m.cache(withNorm(embeddings(spark, dir)))
    val normed = m.fill(normedOf(e))
    val books = trainCodebooks(normed, refineIters, trainFraction, pqCentroids)
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cells, s) =>
      cells.zipWithIndex.map { case (cv, c) => (s, c, cv.toSeq) }
    }.toSeq.toDF("s", "c", "subvector")
      .write.mode("overwrite").parquet(s"$storeDir/codebooks.parquet")
    normed.withColumn("codes", codesFor(books))
      .select("vec_id", "codes")
      .write.mode("overwrite").parquet(s"$storeDir/codes.parquet")
  }

  /** Queries a PERSISTED PQ index ([[writePqIndex]]) without retraining or
    * re-encoding: codebooks load onto the driver (Subspaces × pqCentroids
    * × SubDims doubles), the coded corpus reads straight from parquet, and
    * the ADC scan + shortlist + exact re-rank run exactly as [[pqTopK]]'s
    * — bit-equal to the direct path (AnnSpec).
    */
  def pqTopKViaStore(spark: SparkSession, dir: String, storeDir: String,
      k: Int = 10, nQueries: Int = 5, pqShortlist: Int = PqShortlist): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val rows = ParquetSource.read(spark, s"$storeDir/codebooks.parquet")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val nCentroids = rows.keys.map(_._2).max + 1
    val books = Array.tabulate(PqSubspaces) { s =>
      Array.tabulate(nCentroids)(c => rows((s, c)))
    }
    val coded = ParquetSource.read(spark, s"$storeDir/codes.parquet")
    val e = withNorm(embeddings(spark, dir))
    pqQueryStage(e, normedOf(e), coded, books, k, nQueries, nCentroids, pqShortlist)
  }

  /** Driver-checkable recall floor of the store-backed PQ path (the
    * [[ivfStoreRecallFloor]] contract): build → persist → read back →
    * query; a green row proves the compressed-index round trip is
    * lossless end to end.
    */
  def pqStoreRecallFloor(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = PqMinHits): DataFrame =
    floorOverHits(pqStoreRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[pqStoreRecallFloor]], materialized
    * within the temp-store lifetime (`Probe margins` seam).
    */
  private[graft] def pqStoreRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-pq-index").toString
    try {
      writePqIndex(spark, dir, store)
      val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
      val approx = pqTopKViaStore(spark, dir, store, k, nQueries).select("q_id", "neighbor_id")
      // materialize before the temp index is deleted
      Materialize(_ => recallHitCounts(exact, approx))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  /** Driver-checkable PQ recall floor — the [[ivfRecallFloor]] pattern:
    * per query, at least `minHits` of the true top-k must survive the
    * 8-byte quantization + shortlist + re-rank pipeline. Deterministic
    * end to end (seeded codebooks, exact integer means), oracle asserts
    * TRUE per query.
    */
  def pqRecallFloor(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      minHits: Int = PqMinHits, pqCentroids: Int = PqCentroids,
      pqShortlist: Int = PqShortlist): DataFrame =
    floorOverHits(pqRecallHits(spark, dir, k, nQueries, pqCentroids, pqShortlist), minHits)

  /** Raw per-query hit counts behind [[pqRecallFloor]] (`Probe margins`
    * seam).
    */
  private[graft] def pqRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, pqCentroids: Int = PqCentroids,
      pqShortlist: Int = PqShortlist): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    val approx = pqTopK(spark, dir, k, nQueries,
      pqCentroids = pqCentroids, pqShortlist = pqShortlist).select("q_id", "neighbor_id")
    recallHitCounts(exact, approx)
  }

  /** IVF-PQ composed ANN — the billion-vector deployment shape (the
    * composition FAISS ships as `IndexIVFPQ`): the coarse quantizer
    * ([[trainIvfCentroids]]) partitions the corpus into Voronoi cells so a
    * query touches only its `numProbes` nearest cells, and WITHIN the
    * probed cells candidates are scored from 8-byte PQ codes via the ADC
    * table — the raw vectors are joined back only for the final
    * shortlist re-rank. Neither half alone gives this: IVF-flat still
    * reads full vectors inside probed cells (64×4 B each), flat-PQ still
    * scans every code in the corpus. Composed, the scan cost is
    * `numProbes/numCentroids` of the corpus × 8 bytes per vector.
    *
    * 100 TB plan shape: both quantizers train on the same deterministic
    * [[trainSample]]; encoding/assignment is one map-only pass; the
    * candidate join is an EQUI-join on `cell` against a broadcast of
    * `nQueries × numProbes` probe rows (never a nested loop); the ADC
    * scan forwards at most `pqShortlist` rows per (map task, query)
    * through the `graft_topk` partial aggregate; only shortlist rows
    * rejoin the raw vectors. Reuses [[cellAffinities]]' cosine order and
    * [[codesFor]]' code assignment verbatim, so cells and codes are
    * bit-identical to what the IVF and PQ families build separately.
    */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      refineIters: Int = 2, pqRefineIters: Int = 3,
      trainFraction: Double = TrainFraction,
      numCentroids: Int = NumCentroids, numProbes: Int = IvfPqProbes,
      pqCentroids: Int = PqCentroids, pqShortlist: Int = PqShortlist): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(spark)
    val e = m.cache(withNorm(embeddings(spark, dir)))
    val normed = m.fill(normedOf(e))
    // Both quantizers train on the zero-norm-excluded corpus (the PQ-family
    // contract): a zero-norm vector has no cosine cell affinity either.
    val train = m.cache(trainSample(normed, trainFraction))
    require(train.count() > 0, s"ivfPqTopK: training sample is empty (trainFraction=$trainFraction)")
    val centroids = trainIvfCentroids(train, refineIters, numCentroids)
    val books = trainCodebooks(normed, pqRefineIters, trainFraction, pqCentroids)
    // One map-only pass computes BOTH the cell assignment and the PQ code —
    // at 100 TB this is the single full-corpus scan of index construction.
    val coded = m.fill(normed
      .withColumn("cell", array_max(array(cellAffinities(centroids): _*)).getField("c"))
      .withColumn("codes", codesFor(books))
      .select("vec_id", "cell", "codes"))
    ivfPqQueryStage(e, normed, coded, centroids, books, k, nQueries,
      numProbes, pqCentroids, pqShortlist)
  }

  /** The IVF-PQ query stage over a cell-assigned coded corpus — probe-cell
    * selection and ADC tables are computed driver-side per query (bounded
    * by `nQueries`), then ONE broadcast equi-join on `cell` feeds the
    * bounded-heap shortlist and the exact re-rank. Shared by the direct
    * and store-backed paths so they cannot drift.
    */
  private def ivfPqQueryStage(e: DataFrame, normed: DataFrame, coded: DataFrame,
      centroids: Array[(Int, Seq[Double])], books: Array[Array[Array[Double]]],
      k: Int, nQueries: Int, numProbes: Int, pqCentroids: Int,
      pqShortlist: Int): DataFrame = {
    val spark = e.sparkSession
    val queries = normed.filter(col("vec_id") < nQueries)
      .select("vec_id", "nemb").collect()
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        // Probe cells by cosine vs the unit centroids; ties break to the
        // HIGHER cell id — exactly ivfProbeTopK's reverse(array_sort) order,
        // so IVF-PQ probes the same cells IVF-flat would.
        val probes = centroids.map { case (cid, cv) =>
          var d = 0.0; var i = 0
          while (i < q.length) { d += q(i) * cv(i); i += 1 }
          (d, cid)
        }.sortBy { case (score, cid) => (-score, -cid) }
          .take(numProbes).map(_._2).toSeq
        // Flattened ADC table, the pqQueryStage layout: tab(s*pqCentroids+c)
        // = ||q_s − books(s)(c)||² — 8 codegen element_at lookups per code.
        val tab = Array.tabulate(PqSubspaces * pqCentroids) { i =>
          val s = i / pqCentroids; val c = i % pqCentroids
          val cv = books(s)(c)
          var d = 0.0
          var j = 0
          while (j < PqSubDims) {
            val diff = q(s * PqSubDims + j) - cv(j); d += diff * diff; j += 1
          }
          d
        }
        (r.getLong(0), probes, tab.toSeq)
      }
    import spark.implicits._
    // One row per (query, probed cell): the candidate join is an equi-join
    // on cell — nQueries × numProbes broadcast rows, never a nested loop.
    val qdf = broadcast(queries.toSeq
      .flatMap { case (qid, probes, tab) => probes.map(c => (qid, c, tab)) }
      .toDF("q_id", "cell", "qtab"))
    val approxCol = (0 until PqSubspaces).map { s =>
      element_at(col("qtab"), element_at(col("codes"), s + 1) + lit(s * pqCentroids) + 1)
    }.reduce(_ + _)
    val shortlist = coded.join(qdf, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("approx", approxCol)
      .groupBy("q_id")
      .agg(expr(s"graft_topk(vec_id, -approx, $pqShortlist)").as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    topKPerQuery(
      shortlist
        .join(e, "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cosine", cosine),
      col("cosine"), k)
  }

  /** Driver-checkable IVF-PQ recall floor — the [[ivfRecallFloor]] /
    * [[pqRecallFloor]] contract applied to the composition: per query, at
    * least `minHits` of the true top-k must survive coarse-cell pruning
    * AND 8-byte quantization AND the shortlist. Deterministic end to end
    * (both quantizers seed from hash order with exact integer-micros
    * means), oracle asserts TRUE per query.
    */
  def ivfPqRecallFloor(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = IvfPqMinHits): DataFrame =
    floorOverHits(ivfPqRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[ivfPqRecallFloor]] (`Probe margins`
    * seam).
    */
  private[graft] def ivfPqRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    val approx = ivfPqTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    recallHitCounts(exact, approx)
  }

  /** Persists the trained IVF-PQ index — at 100 TB this is THE deployment
    * artifact of the ANN family: `centroids.parquet` (the coarse
    * quantizer), `codebooks.parquet` (the PQ model), and `coded.parquet`
    * ((vec_id, cell, 8-byte codes) — ~16 bytes per vector, every probe
    * scan reads THIS, never the raw vectors). Training is
    * [[trainIvfCentroids]] + [[trainCodebooks]] verbatim, so the persisted
    * index is bit-identical to what [[ivfPqTopK]] trains in-session.
    */
  def writeIvfPqIndex(spark: SparkSession, dir: String, storeDir: String,
      refineIters: Int = 2, pqRefineIters: Int = 3,
      trainFraction: Double = TrainFraction,
      numCentroids: Int = NumCentroids, pqCentroids: Int = PqCentroids,
      // gate seam (r14): a caller that already holds the corpus cached
      // passes it here so the build does not re-read parquet
      embFrame: Option[DataFrame] = None,
      // append-protocol seam (r14 review): build half of the split —
      // train AND encode only the standing corpus. An Option here instead
      // of a separate function body keeps the build logic in ONE place;
      // the old writeIvfPqIndexFiltered copy had already drifted (no
      // embFrame seam, hardcoded refine iterations).
      baseVecs: Option[Column] = None): Unit = Materialize.releasing { m =>
    graft.functions.GraftFunctions.register(spark)
    val all = withNorm(embFrame.getOrElse(embeddings(spark, dir)))
    val e = m.cache(baseVecs.fold(all)(all.filter))
    val normed = m.fill(normedOf(e))
    val train = m.cache(trainSample(normed, trainFraction))
    require(train.count() > 0,
      s"writeIvfPqIndex: training sample is empty (trainFraction=$trainFraction)")
    val centroids = trainIvfCentroids(train, refineIters, numCentroids)
    val books = trainCodebooks(normed, pqRefineIters, trainFraction, pqCentroids)
    import spark.implicits._
    centroids.toSeq.toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$storeDir/centroids.parquet")
    books.zipWithIndex.flatMap { case (cells, s) =>
      cells.zipWithIndex.map { case (cv, c) => (s, c, cv.toSeq) }
    }.toSeq.toDF("s", "c", "subvector")
      .write.mode("overwrite").parquet(s"$storeDir/codebooks.parquet")
    normed
      .withColumn("cell", array_max(array(cellAffinities(centroids): _*)).getField("c"))
      .withColumn("codes", codesFor(books))
      .select("vec_id", "cell", "codes")
      .write.mode("overwrite").parquet(s"$storeDir/coded.parquet")
  }

  /** INCREMENTAL INDEX MAINTENANCE (round 10): encodes ONLY the vectors
    * matching `newVecs` with the store's FROZEN quantizer models (no
    * retraining — the FAISS `add` contract) and appends their 16-byte
    * rows to `coded.parquet`. At 100 TB this is how the nightly ANN index
    * absorbs an ingest increment: the day's vectors ride one map-only
    * encode pass (cell assignment + PQ codes, both against broadcast-sized
    * driver models), while the standing corpus is never re-read. Frozen
    * codebooks drift from the corpus distribution as it shifts — the
    * recall gate (`ann_ivfpq_append_check`) is the monitor that tells an
    * operator when a rebuild is due, which is exactly the production
    * trade: cheap daily appends, occasional full retrains.
    */
  def appendToIvfPqIndex(spark: SparkSession, dir: String, storeDir: String,
      newVecs: Column): Unit = {
    graft.functions.GraftFunctions.register(spark)
    // Idempotent under re-runs (r14 review): a retried nightly append must
    // not duplicate the increment's coded rows — a duplicate vec_id is
    // scanned and scored twice, can occupy two shortlist slots, and feeds
    // topKPerQuery's ids-are-unique contract duplicate entries. Anti-join
    // against the standing index makes the re-run a no-op; the check joins
    // on 8-byte ids against the ~16-byte/vector coded artifact, never
    // embeddings. (The streaming twin, StreamAnnIngest, gets the same
    // guarantee from its versioned OVERWRITE-by-batchId layout.)
    val existing = ParquetSource.read(spark, s"$storeDir/coded.parquet").select("vec_id")
    Materialize.releasing { m =>
      // materialize BEFORE the append opens the target for writing: the
      // anti-join reads coded.parquet, the write replaces it — a checkpoint
      // cuts the read-your-writes cycle
      m.checkpoint(encodeWithStoreModels(embeddings(spark, dir).filter(newVecs), storeDir)
        .join(existing, Seq("vec_id"), "left_anti"))
        .write.mode("append").parquet(s"$storeDir/coded.parquet")
    }
  }

  /** Encodes a (vec_id, embedding) frame with a store's FROZEN quantizer
    * models — the map-only increment pass shared by [[appendToIvfPqIndex]]
    * and the streaming ingest ([[graft.streaming.StreamAnnIngest]]), so
    * the batch and streaming paths cannot drift.
    */
  def encodeWithStoreModels(vecs: DataFrame, storeDir: String): DataFrame = {
    val spark = vecs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val (centroids, books) = loadIvfPqModels(spark, storeDir)
    val e = withNorm(vecs.select(col("vec_id"), col("embedding")))
    normedOf(e)
      .withColumn("cell", array_max(array(cellAffinities(centroids): _*)).getField("c"))
      .withColumn("codes", codesFor(books))
      .select("vec_id", "cell", "codes")
  }

  /** The composed coded corpus of a store with streaming increments:
    * `coded.parquet` plus every `increments/v<id>.parquet` batch directory,
    * listed through the store's file system by the streaming stores' one
    * listing ([[graft.streaming.VersionedStore]]).
    */
  def codedWithIncrements(spark: SparkSession, storeDir: String): DataFrame =
    graft.streaming.VersionedStore.incrementPaths(spark, storeDir)
      .foldLeft(ParquetSource.read(spark, s"$storeDir/coded.parquet"))((acc, inc) =>
        acc.unionByName(ParquetSource.read(spark, inc)))

  /** [[ivfPqTopKViaStore]] over the streaming-composed corpus
    * ([[codedWithIncrements]]) — how a reader queries an index that a
    * [[graft.streaming.StreamAnnIngest]] job is feeding.
    */
  def ivfPqTopKViaStoreWithIncrements(spark: SparkSession, dir: String, storeDir: String,
      k: Int = 10, nQueries: Int = 5, numProbes: Int = IvfPqProbes,
      pqShortlist: Int = PqShortlist): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (centroids, books) = loadIvfPqModels(spark, storeDir)
    val nCentroids = books.head.length
    val coded = codedWithIncrements(spark, storeDir)
    val e = withNorm(embeddings(spark, dir))
    ivfPqQueryStage(e, normedOf(e), coded, centroids, books, k, nQueries,
      numProbes, nCentroids, pqShortlist)
  }

  private def loadIvfPqModels(spark: SparkSession, storeDir: String)
      : (Array[(Int, Seq[Double])], Array[Array[Array[Double]]]) = {
    val centroids = ParquetSource.read(spark, s"$storeDir/centroids.parquet")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    val rows = ParquetSource.read(spark, s"$storeDir/codebooks.parquet")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val nCentroids = rows.keys.map(_._2).max + 1
    val books = Array.tabulate(PqSubspaces) { s =>
      Array.tabulate(nCentroids)(c => rows((s, c)))
    }
    (centroids, books)
  }

  /** Driver-checkable recall floor for the APPEND path: build the index on
    * the first 90% of the corpus, [[appendToIvfPqIndex]] the newest 10%
    * with the frozen models, then query the composed store over the FULL
    * corpus and require `minHits` of the exact top-k per query — the
    * [[ivfPqStoreRecallFloor]] contract applied across the append seam.
    */
  def ivfPqAppendRecallFloor(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = IvfPqMinHits): DataFrame =
    floorOverHits(ivfPqAppendRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[ivfPqAppendRecallFloor]],
    * materialized within the temp-store lifetime (`Probe margins` seam).
    */
  private[graft] def ivfPqAppendRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // r13 (VERDICT r12 #7): one cached embeddings frame feeds the split
    // count AND both query paths (exact + store-backed), and the store
    // models load once — before this the gate re-read and re-normed the
    // corpus per path and re-collected the models the store query already
    // had on the driver.
    val store = java.nio.file.Files.createTempDirectory("graft-ivfpq-append").toString
    try Materialize { m =>
      val emb = m.cache(embeddings(spark, dir))
      val splitId = emb.count() * 9 / 10
      writeIvfPqIndexFiltered(spark, dir, store, col("vec_id") < splitId,
        embFrame = Some(emb)) // the gate's cached frame feeds the build too
      appendToIvfPqIndex(spark, dir, store, col("vec_id") >= splitId)
      val exact = bruteForceTopKFrom(emb, k, nQueries).select("q_id", "neighbor_id")
      // query THROUGH the product function (r14 review — see
      // ivfPqStoreRecallFloor), sharing the cached frame via embFrame
      val approx = ivfPqTopKViaStore(spark, dir, store, k, nQueries, embFrame = Some(emb))
        .select("q_id", "neighbor_id")
      // materialize before the temp index is deleted
      recallHitCounts(exact, approx)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  /** [[writeIvfPqIndex]] restricted to `baseVecs` — the build half of the
    * append protocol (train AND encode only the standing corpus).
    */
  def writeIvfPqIndexFiltered(spark: SparkSession, dir: String, storeDir: String,
      baseVecs: Column, embFrame: Option[DataFrame] = None): Unit =
    // one body (r14 review): the former copy of writeIvfPqIndex here had
    // already drifted (no embFrame seam, hardcoded refine iterations) —
    // the filter is a parameter of the ONE build function now
    writeIvfPqIndex(spark, dir, storeDir, embFrame = embFrame,
      baseVecs = Some(baseVecs))

  /** Queries a PERSISTED IVF-PQ index ([[writeIvfPqIndex]]) without
    * retraining, reassigning or re-encoding: both quantizer models load
    * onto the driver (numCentroids×dims + Subspaces×pqCentroids×SubDims
    * doubles), the coded corpus reads straight from parquet, and probing /
    * ADC / shortlist / re-rank run via [[ivfPqQueryStage]] exactly as the
    * direct path — bit-equal by spec (IvfSpec).
    */
  def ivfPqTopKViaStore(spark: SparkSession, dir: String, storeDir: String,
      k: Int = 10, nQueries: Int = 5, numProbes: Int = IvfPqProbes,
      pqShortlist: Int = PqShortlist, embFrame: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (centroids, books) = loadIvfPqModels(spark, storeDir)
    val coded = ParquetSource.read(spark, s"$storeDir/coded.parquet")
    // embFrame: an already-cached embeddings frame (the recall gates share
    // one across their build / exact / query stages) — same seam as
    // writeIvfPqIndex, so the gates exercise THIS function, not a copy
    val e = withNorm(embFrame.getOrElse(embeddings(spark, dir)))
    ivfPqQueryStage(e, normedOf(e), coded, centroids, books, k, nQueries,
      numProbes, books.head.length, pqShortlist)
  }

  /** Driver-checkable recall floor of the store-backed IVF-PQ path —
    * build → persist → read back → query, the [[ivfStoreRecallFloor]] /
    * [[pqStoreRecallFloor]] contract applied to the composed index. A
    * green row proves the full compressed-index round trip is lossless.
    */
  def ivfPqStoreRecallFloor(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = IvfPqMinHits): DataFrame =
    floorOverHits(ivfPqStoreRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[ivfPqStoreRecallFloor]],
    * materialized within the temp-store lifetime (`Probe margins` seam).
    */
  private[graft] def ivfPqStoreRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val store = java.nio.file.Files.createTempDirectory("graft-ivfpq-index").toString
    // r14 (VERDICT r13 #4, the append gate's r13 treatment applied here):
    // one cached embeddings frame feeds the index build, the exact check
    // AND the store-backed query — before this each stage re-read and
    // re-normed the corpus from parquet.
    try Materialize { m =>
      val emb = m.fill(embeddings(spark, dir))
      writeIvfPqIndex(spark, dir, store, embFrame = Some(emb))
      val exact = bruteForceTopKFrom(emb, k, nQueries).select("q_id", "neighbor_id")
      // the gate queries THROUGH the product function (r14 review: an
      // inlined copy of its body would let the two drift while the gate
      // stayed green), sharing the cached frame via its embFrame seam
      val approx = ivfPqTopKViaStore(spark, dir, store, k, nQueries, embFrame = Some(emb))
        .select("q_id", "neighbor_id")
      // materialize before the temp index is deleted
      recallHitCounts(exact, approx)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  // --- SQ8 scalar quantization (round 9) --------------------------------

  /** Trains the SQ8 quantizer: per-dimension (min, max) over the
    * normalized corpus — ONE explode + dim-bounded aggregate (64 rows
    * collect to the driver, bounded by the embedding dimension, never the
    * corpus). Returns (mn, scale) where scale maps [mn, mx] onto [0, 255];
    * a degenerate dimension (mn == mx) gets scale 0 and encodes to 0.
    */
  private def trainSqParams(normed: DataFrame): (Array[Double], Array[Double]) = {
    val stats = normed.select(posexplode(col("nemb")).as(Seq("dim", "v")))
      .groupBy("dim").agg(min("v").as("mn"), max("v").as("mx"))
      .collect().sortBy(_.getInt(0))
    val mn = stats.map(_.getDouble(1))
    val mx = stats.map(_.getDouble(2))
    val scale = mn.indices.map(d =>
      if (mx(d) > mn(d)) 255.0 / (mx(d) - mn(d)) else 0.0).toArray
    (mn, scale)
  }

  /** Encodes the normalized corpus to 1-byte-per-dimension codes:
    * `code[d] = round((v[d] − mn[d]) · scale[d])` ∈ [0, 255]. The (mn,
    * scale) row rides as a broadcast 1-row frame (not string literals —
    * doubles stay bit-exact), so encoding is map-only.
    */
  private def sqEncode(normed: DataFrame, mn: Array[Double], scale: Array[Double]): DataFrame = {
    val spark = normed.sparkSession
    import spark.implicits._
    val params = broadcast(Seq((mn.toSeq, scale.toSeq)).toDF("mn_arr", "sc_arr"))
    normed.crossJoin(params)
      .withColumn("codes", expr(
        "transform(sequence(1, size(nemb)), i -> CAST(round(" +
          "(element_at(nemb, i) - element_at(mn_arr, i)) * element_at(sc_arr, i)) AS INT))"))
      .select("vec_id", "codes")
  }

  /** The SQ query stage over a coded corpus — shared by the direct and
    * store-backed paths. The dequantized dot product decomposes as
    * `q·v̂ = Σ_d q[d]·mn[d] + Σ_d (q[d]/scale[d])·code[d]`, so each query
    * broadcasts one per-dim weight array + a scalar bias and the scan is
    * one codegen `zip_with` fold over integer codes — no per-row
    * dequantization into doubles arrays. Shortlist via the bounded-heap
    * `graft_topk` (map tasks forward ≤ `sqShortlist` rows per query),
    * then the exact cosine re-rank touches shortlist rows only.
    */
  private def sqQueryStage(e: DataFrame, normed: DataFrame, coded: DataFrame,
      mn: Array[Double], scale: Array[Double],
      k: Int, nQueries: Int, sqShortlist: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val queries = normed.filter(col("vec_id") < nQueries)
      .select("vec_id", "nemb").collect()
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        val w = q.indices.map(d => if (scale(d) > 0) q(d) / scale(d) else 0.0).toSeq
        val bias = q.indices.map(d => q(d) * mn(d)).sum
        (r.getLong(0), w, bias)
      }
    val qdf = broadcast(queries.toSeq.toDF("q_id", "qw", "qbias"))
    val shortlist = coded.join(qdf, col("vec_id") =!= col("q_id"))
      .withColumn("approx",
        expr("qbias + aggregate(zip_with(codes, qw, (c, w) -> c * w), 0.0D, (a, v) -> a + v)"))
      .groupBy("q_id")
      .agg(expr(s"graft_topk(vec_id, approx, $sqShortlist)").as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("norm").as("q_norm"))
    topKPerQuery(
      shortlist
        .join(e, "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cosine", cosine),
      col("cosine"), k)
  }

  /** SQ8 scalar-quantized ANN — the `IndexScalarQuantizer` member of the
    * index family: 1 byte per dimension (4× compression vs float32, vs
    * PQ's 8 bytes per 64-dim vector), no codebook training beyond one
    * min/max pass, and a per-dim quantization error ≤ half a step — the
    * simplest compressed index and often the accuracy/simplicity sweet
    * spot before PQ. Approximate scores rank a `sqShortlist` candidate
    * set; the exact cosine re-rank makes the output contract identical to
    * the rest of the family.
    */
  def sqTopK(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      sqShortlist: Int = 100): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(spark)
    val e = m.cache(withNorm(embeddings(spark, dir)))
    val normed = m.fill(normedOf(e))
    val (mn, scale) = trainSqParams(normed)
    val coded = m.fill(sqEncode(normed, mn, scale))
    sqQueryStage(e, normed, coded, mn, scale, k, nQueries, sqShortlist)
  }

  /** Persists the SQ8 index: the per-dim quantizer (`params.parquet`,
    * 64 rows of (dim, mn, scale)) + the 1-byte-per-dim coded corpus
    * (`codes.parquet`) — the artifact a nightly build writes once and
    * every query job reads.
    */
  def writeSqIndex(spark: SparkSession, dir: String, storeDir: String): Unit =
    Materialize.releasing { m =>
      graft.functions.GraftFunctions.register(spark)
      val e = m.cache(withNorm(embeddings(spark, dir)))
      val normed = m.fill(normedOf(e))
      val (mn, scale) = trainSqParams(normed)
      import spark.implicits._
      mn.indices.map(d => (d, mn(d), scale(d))).toDF("dim", "mn", "scale")
        .write.mode("overwrite").parquet(s"$storeDir/params.parquet")
      sqEncode(normed, mn, scale)
        .write.mode("overwrite").parquet(s"$storeDir/codes.parquet")
    }

  /** Queries a PERSISTED SQ8 index without re-encoding: the 64-row
    * quantizer loads onto the driver, codes read straight from parquet,
    * and the shared [[sqQueryStage]] runs bit-equal to [[sqTopK]]
    * (AnnSpec).
    */
  def sqTopKViaStore(spark: SparkSession, dir: String, storeDir: String,
      k: Int = 10, nQueries: Int = 5, sqShortlist: Int = 100): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val rows = ParquetSource.read(spark, s"$storeDir/params.parquet")
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val mn = Array.tabulate(rows.size)(d => rows(d)._1)
    val scale = Array.tabulate(rows.size)(d => rows(d)._2)
    val coded = ParquetSource.read(spark, s"$storeDir/codes.parquet")
    val e = withNorm(embeddings(spark, dir))
    sqQueryStage(e, normedOf(e), coded, mn, scale, k, nQueries, sqShortlist)
  }

  /** Driver-checkable SQ8 recall floor — the family contract: per query,
    * at least `minHits` of the exact top-k survive quantization +
    * shortlist + re-rank. Oracle asserts TRUE per query.
    */
  def sqRecallFloor(spark: SparkSession, dir: String, k: Int = 10, nQueries: Int = 5,
      minHits: Int = SqMinHits): DataFrame =
    floorOverHits(sqRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[sqRecallFloor]] (`Probe margins`
    * seam).
    */
  private[graft] def sqRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    val approx = sqTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
    recallHitCounts(exact, approx)
  }

  /** Recall floor through the persisted round trip: build → parquet →
    * read back → query ([[pqStoreRecallFloor]] contract).
    */
  def sqStoreRecallFloor(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5, minHits: Int = SqMinHits): DataFrame =
    floorOverHits(sqStoreRecallHits(spark, dir, k, nQueries), minHits)

  /** Raw per-query hit counts behind [[sqStoreRecallFloor]], materialized
    * within the temp-store lifetime (`Probe margins` seam).
    */
  private[graft] def sqStoreRecallHits(spark: SparkSession, dir: String, k: Int = 10,
      nQueries: Int = 5): DataFrame = {
    val store = java.nio.file.Files.createTempDirectory("graft-sq-index").toString
    try {
      writeSqIndex(spark, dir, store)
      val exact = bruteForceTopK(spark, dir, k, nQueries).select("q_id", "neighbor_id")
      val approx = sqTopKViaStore(spark, dir, store, k, nQueries).select("q_id", "neighbor_id")
      // materialize before the temp index is deleted
      Materialize(_ => recallHitCounts(exact, approx))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(store)).deleteRecursively()
    }
  }

  /** EXACT Gram (scatter) matrix of the embedding corpus via the bounded-
    * buffer [[graft.functions.GramMatrix]] aggregate: one map-side pass,
    * the shuffle carries one 2,080-long buffer per partition — never the
    * d²·n exploded pairs the compositional form would. PCA/whitening
    * follow driver-side from this d×d result (see GramSpec's power-
    * iteration check).
    */
  def embeddingGram(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    embeddings(spark, dir)
      // r16 finite-vector contract — one poisoned vector must not NaN an
      // entire Gram cell; oracle mirrors the exclusion
      .filter(Portable.finiteNorm(Portable.l2NormNative("embedding")))
      .agg(expr("graft_gram(embedding, 64)").as("g"))
      .select(explode(col("g")).as("t"))
      .select(col("t.i").cast("bigint").as("i"), col("t.j").cast("bigint").as("j"),
        col("t.s").as("sum_qq"))
  }
}
