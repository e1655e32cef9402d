package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.sources.ParquetSource

/** Strategy selector for the embedding/semantic dedup family
  * ([[Dedup.embeddingNearDupsBy]], [[Dedup.semanticClusters]],
  * [[Dedup.semanticCanonical]]): the exact-but-quadratic grid vs the
  * sub-quadratic sign-LSH path. Explicit (no "auto") so the cost model is
  * in the caller's hands; the grid additionally refuses past a pair
  * budget so corpus-scale jobs cannot inherit it silently.
  */
sealed trait EmbeddingStrategy
object EmbeddingStrategy {
  /** Exact contract — EVERY pair with cosine ≥ threshold, Ω(n²) by
    * construction (required when the threshold slices a continuum).
    */
  case object ExactGrid extends EmbeddingStrategy
  /** Sign-projection LSH candidates, exact-cosine verified — the 100 TB
    * path for corpora with genuine near-dup structure (cosine ≥ ~0.7).
    */
  case object SignLsh extends EmbeddingStrategy
}

/** Deduplication suite over the `documents` table: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (the point of each choice):
  *   - Exact dedup is one hash-aggregate — Spark's map-side partial
  *     aggregation makes the shuffle carry only distinct texts.
  *   - MinHash signatures are ONE codegen pass per document over the
  *     shingle array (`graft_minhash`) — no explode, no shuffle.
  *   - LSH banding turns the O(n²) candidate search into an equi-join on
  *     band keys: at 100 TB this is a shuffle join on a high-cardinality
  *     key, no cross product ever materializes.
  *   - Candidates are verified with an exact-Jaccard intersection of the
  *     shingle arrays (again no cross product), so LSH false positives
  *     never survive and band parameters only affect recall. The shipped
  *     b=32/r=2 (NumHashes=64) ⇒ miss probability at s=0.6 is
  *     (1−0.36)³² ≈ 6e-7 — negligible next to the verification's
  *     exactness, and half the signature width of the classic 128.
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/documents.parquet")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/embeddings.parquet")

  /** Exact dedup: one survivor (min doc_id) per identical text. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exact dedup by double fingerprint: groups on (fp31, fp37) instead of
    * the raw text, so the shuffle carries 16 bytes per row instead of whole
    * documents — the 100 TB form of [[exact]]. Collision probability for a
    * non-identical pair ≈ 1/(P1·P2) ≈ 1e-18 per pair.
    */
  def exactByFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(
        col("doc_id"),
        Portable.polyHashNative("text", 31, Portable.P1).as("fp31"),
        Portable.polyHashNative("text", 37, Portable.P2).as("fp37"))
      .groupBy("fp31", "fp37")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "fp31", "fp37")
  }

  /** Corpus VERSION DIFF — the nightly snapshot comparison a managed
    * training corpus needs: which documents were added, removed, or
    * changed between two versions. Compares double fingerprints
    * (fp31/fp37 — the [[exactByFingerprint]] pair, collision ≈ 1e-18), so
    * the join shuffles 16 bytes per doc, never text. Unchanged documents
    * are NOT emitted: at 100 TB the output is ∝ churn, not corpus size.
    * Output (doc_id, status ∈ added|removed|changed, fp31_old, fp31_new).
    *
    * Scale: one full-outer equi-join on doc_id — co-partitioning/bucketing
    * both snapshots on doc_id (the natural layout for versioned corpora)
    * removes even that exchange.
    */
  def corpusDiffFrom(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(oldDocs.sparkSession)
    def fp(df: DataFrame, suffix: String) = df.select(
      col("doc_id"),
      Portable.polyHashNative("text", 31, Portable.P1).as(s"fp31_$suffix"),
      Portable.polyHashNative("text", 37, Portable.P2).as(s"fp37_$suffix"))
    fp(oldDocs, "old").join(fp(newDocs, "new"), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp31_new").isNull, "removed")
          .when(col("fp31_old").isNull, "added")
          .when(col("fp31_old") === col("fp31_new") &&
            col("fp37_old") === col("fp37_new"), "unchanged")
          .otherwise("changed"))
      .filter(col("status") =!= "unchanged")
      .select("doc_id", "status", "fp31_old", "fp31_new")
  }

  /** Catalog form of [[corpusDiffFrom]]: version 2 is DERIVED
    * deterministically from the fixture corpus (both engines construct
    * the identical snapshot, so the oracle is hash-exact) — docs with
    * `doc_id % 17 = 0` removed, docs with `doc_id % 13 = 0` edited
    * (' v2' appended), and fresh docs at `doc_id + 500000` for
    * `doc_id % 19 = 0`.
    */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = docs(spark, dir).select("doc_id", "text")
    val v2 = v1.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    corpusDiffFrom(v1, v2)
  }

  /** (doc_id, shingles: array<string>) — distinct word-3-gram shingles per
    * document, kept as an array so signature computation never explodes or
    * shuffles.
    */
  def docShingleArrays(spark: SparkSession, dir: String): DataFrame =
    shingleArraysOf(docs(spark, dir))

  /** The shingle builder over any (doc_id, text) frame — map-only HOFs, so
    * it applies unchanged to a STREAMING micro-batch
    * ([[graft.streaming.StreamDedup]]).
    */
  def shingleArraysOf(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("toks", Portable.tokens("text"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), Portable.wordShingles("toks", 3).as("shingles"))

  // 32 bands × 2 rows: P(miss | jaccard=0.6) = (1-0.36)^32 ≈ 6e-7, and
  // false positives are removed by exact verification — so halving the
  // signature width vs the classic 128 costs nothing in output.
  val NumHashes = 64
  val Bands = 32 // r = NumHashes / Bands = 2 rows per band

  /** MinHash signatures as ONE codegen pass per document over the shingle
    * array (`graft_minhash`): no explode, no shuffle — at 100 TB the
    * signature stage is a pure map. Returns (doc_id, sig: array<long>).
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesFrom(docShingleArrays(spark, dir))

  private def signaturesFrom(shingleArrays: DataFrame,
      numHashes: Int = NumHashes): DataFrame = {
    graft.functions.GraftFunctions.register(shingleArrays.sparkSession)
    // shingle hashing + minhash are both native codegen — the HOF
    // `transform(shingles, s -> graft_poly_hash(...))` form computes the
    // same values but interprets the lambda per element
    shingleArrays.select(
      col("doc_id"),
      expr(s"graft_minhash(graft_poly_hash_array(shingles, 31, ${Portable.P1}L), $numHashes)")
        .as("sig"))
  }

  /** The LSH candidate pairs of `sigs`; the banded intermediate is
    * filled in `m`.
    *
    * `passThrough` columns ride inside the banded rows and `pairFilter`
    * (an expression over the `a`/`b` join aliases) applies INLINE in the
    * band self-join, BEFORE the distinct — the seam the sig-filtered
    * n-gram path uses (r14 review: it used to carry its own copy of the
    * crowded-prune + self-join logic, which had to be kept in lockstep
    * with this one through the de-hinting and the maxBucketSize seam).
    */
  private def candidatesFrom(m: Materialize, sigs: DataFrame,
      numHashes: Int, bands: Int, maxBucketSize: Int,
      passThrough: Seq[String] = Nil,
      pairFilter: Option[Column] = None): DataFrame = {
    // (doc_id, band, k1, k2) — `bands` small rows per doc; filled because
    // it feeds the crowded-bucket agg, the anti-join, AND both self-join
    // sides (uncached it recomputes the signature pipeline 4×).
    val banded = m.fill(bandedSignatures(sigs, passThrough = passThrough,
      numHashes = numHashes, bands = bands))
    // Skew guard: a band key shared by a huge number of docs (boilerplate
    // text at 100 TB) would generate a quadratic candidate set while
    // carrying almost no signal — drop overcrowded buckets. True near-dups
    // have 32 independent chances to meet in a sane bucket, so the recall
    // cost is negligible (never triggered at test scale).
    val crowded = banded.groupBy("band", "k1", "k2")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
    // No broadcast hint: `crowded` grows with the corpus ((docs×bands)/
    // MaxBucketSize rows on a boilerplate-heavy crawl) — AQE size-gates the
    // anti-join at runtime, broadcasting only when it actually fits (r14,
    // same discipline as the TPC-H/lineDedup de-hinting in r13).
    val pruned = banded.join(crowded, Seq("band", "k1", "k2"), "left_anti")
    val a = pruned.as("a")
    val b = pruned.as("b")
    val joined = a.join(b,
        col("a.band") === col("b.band") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
    pairFilter.fold(joined)(joined.filter)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Max docs per LSH bucket before the bucket is considered noise. */
  val MaxBucketSize = 2000

  /** Exact-verified near-dup pairs: LSH candidates whose TRUE word-3-gram
    * Jaccard ≥ `threshold`. Intersection via equi-join on shingles.
    *
    * `numHashes`/`bands` are the signature width and band count (rows per
    * band = numHashes/bands) — parameters since round 10, matching the
    * IVF/PQ/LSH families: a production corpus tunes the recall/cost
    * frontier per the (1−(1−s^r)^b) banding curve, while the exact
    * verification step keeps the OUTPUT contract identical at every
    * setting (banding only decides which pairs are examined). Off-default
    * cells gated in DedupParamSpec.
    */
  def minhashNearDups(spark: SparkSession, dir: String, threshold: Double = 0.6,
      numHashes: Int = NumHashes, bands: Int = Bands,
      maxBucketSize: Int = MaxBucketSize): DataFrame =
    nearDupsFromArrays(docShingleArrays(spark, dir), threshold,
      numHashes = numHashes, bands = bands, maxBucketSize = maxBucketSize)

  /** Character 5-gram Jaccard near-dups — the n-GRAM dedup family. Same
    * MinHash-LSH candidate generation and exact verification as the word
    * shingle path; only the shingling unit differs (robust to word-boundary
    * edits, heavier per doc: ~len shingles vs ~len/5 words).
    *
    * Unlike word shingles (background Jaccard ≈ 0), char 5-grams over a
    * repetitive corpus have HIGH background similarity (measured ~0.18
    * median here), so r=2 banding admits most of the n²/2 pair space as
    * candidates and the verification join degenerates to all-pairs. This
    * path therefore inserts the [[sigAgreementCutoff]] wide-signature
    * pre-filter between banding and exact verification — candidates shrink
    * from O(n²) to ≈ true pairs while the output stays the exact-Jaccard
    * contract (measured at sf0.01: 78k candidates → 25 survivors, 6× faster
    * end-to-end; the gap widens quadratically with corpus size).
    */
  def ngramNearDups(spark: SparkSession, dir: String, threshold: Double = 0.6,
      numHashes: Int = NumHashes, bands: Int = Bands): DataFrame =
    nearDupsFromArrays(charShingleHashes(spark, dir), threshold, sigFilter = true,
      numHashes = numHashes, bands = bands, sigBase = Some("sig_input"))

  /** (doc_id, shingles) with distinct character 5-grams (length < 5 →
    * one shingle: the whole text), mirroring `minGramFingerprint`'s
    * window convention.
    */
  def charShingleArrays(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      expr("array_distinct(transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5)))")
        .as("shingles"))

  /** Hash-native 5-gram shingle relation (r12) — the [[charShingleArrays]]
    * twin with NO string materialization: `sig_input` is the 30-bit P1
    * poly-hash of every window (duplicates kept — min-hash is
    * duplicate-blind, so signatures are BIT-IDENTICAL to hashing the
    * distinct string shingles; NgramDedupProbe asserts a zero symmetric
    * difference), and `shingles` is the distinct 60-bit packed
    * fingerprint set the exact verification intersects (8-byte longs
    * through the candidate joins instead of 5-char strings — the
    * [[graft.operators.TextAnalysis.containmentJoin]] discipline; per-pair
    * collision odds ≈ 2^-60, and the DuckDB oracle computes the identical
    * integers so the row stays bit-exact). Length < 5 keeps the
    * whole-text-as-one-shingle convention.
    */
  private[graft] def charShingleHashes(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val h60whole = s"graft_poly_hash(text, 31, ${Portable.P1}L) * 1073741824L + " +
      s"graft_poly_hash(text, 37, ${Portable.P2}L) % 1073741824L"
    docs(spark, dir).select(
      col("doc_id"),
      when(length(col("text")) >= 5,
        expr(s"graft_shingle_poly(text, 5, 31, ${Portable.P1}L)"))
        .otherwise(expr(s"array(graft_poly_hash(text, 31, ${Portable.P1}L))"))
        .as("sig_input"),
      when(length(col("text")) >= 5,
        array_distinct(expr("graft_shingle_hash60(text, 5)")))
        .otherwise(expr(s"array($h60whole)"))
        .as("shingles"))
  }

  /** Width of the wide signature used by the agreement pre-filter. The
    * extra `SigFilterHashes - NumHashes` components cost one longer codegen
    * pass per doc (never shuffled as longs — they travel as 1-byte
    * residues), and `graft_minhash` is prefix-consistent (component i
    * depends only on i), so banding on `slice(sig, 1, NumHashes)` is
    * bit-identical to the unfiltered path's banding.
    */
  val SigFilterHashes = 128

  /** Per-pair probability budget for the pre-filter wrongly dropping a pair
    * at exactly `threshold` — 6e-8, an order of magnitude BELOW the banding
    * miss probability ((1-0.36)^32 ≈ 6e-7 is the per-band-scheme figure
    * quoted on [[NumHashes]]), so banding, not the filter, dominates the
    * per-pair false-drop budget. At threshold 0.6 the Hoeffding cutoff is
    * 44/128 matching bytes — still ≈true-pair selective (random background
    * pairs agree on ~s·128 + byte-residue noise, far below 44 for s ≈ 0.2).
    * Loosening the delta only ADMITS more candidates (exact verification
    * prunes them), so correctness is one-sided here.
    */
  private val SigFilterDelta = 6e-8

  /** Minimum matching signature bytes (out of [[SigFilterHashes]]) for a
    * candidate pair to reach exact verification. Hoeffding: the match
    * fraction of a pair with true Jaccard s concentrates around s, so
    * cutting at `s - sqrt(ln(1/δ)/(2n))` bounds the false-drop probability
    * by δ. Byte residues only ever INFLATE the match count (1/128 chance
    * per disagreeing component), so the cutoff stays conservative.
    */
  private[operators] def sigAgreementCutoff(threshold: Double): Int = {
    val margin = math.sqrt(math.log(1.0 / SigFilterDelta) / (2.0 * SigFilterHashes))
    math.max(0, math.floor(SigFilterHashes * (threshold - margin)).toInt)
  }

  private def nearDupsFromArrays(
      shingleArrays: DataFrame,
      threshold: Double,
      sigFilter: Boolean = false,
      numHashes: Int = NumHashes,
      bands: Int = Bands,
      // minhash input SQL: defaults to hashing the string `shingles` col;
      // hash-native callers pass a pre-hashed column name instead
      sigBase: Option[String] = None,
      // probe seam (r14): MaxBucketSize never triggers at test scale, so
      // the crowded-prune anti-join's scale behavior is exercised by
      // forcing a tiny cutoff (DedupScaleProbe) — production uses the default
      maxBucketSize: Int = MaxBucketSize): DataFrame = Materialize { m =>
    // One shingle pass feeds signatures and verification. Fill the cache
    // EAGERLY: AQE submits the independent downstream stages (band agg,
    // anti-join, both self-join sides, verification) concurrently, and an
    // unfilled cache makes each of them recompute the whole shingle
    // pipeline in parallel (measured: 4× ~1 s duplicate jobs at sf0.1).
    val arrays = m.fill(shingleArrays)
    graft.functions.GraftFunctions.register(arrays.sparkSession)

    val defaultBase = s"graft_poly_hash_array(shingles, 31, ${Portable.P1}L)"
    val sigInput = sigBase.getOrElse(defaultBase)
    val cand =
      if (!sigFilter) {
        val sigsPlain = arrays.select(col("doc_id"),
          expr(s"graft_minhash($sigInput, $numHashes)").as("sig"))
        candidatesFrom(m, sigsPlain, numHashes, bands, maxBucketSize)
      } else {
        // Banding keeps the frozen affine signature; the FILTER signature
        // must be the mixed family — affine components are correlated on
        // char n-grams (see MinHashMixedSignature scaladoc) and would let
        // ~a third of background pairs through the cutoff. Both are one
        // codegen pass over the same pre-hashed array. The filter travels
        // as 1-byte residues (h % 128 fits tinyint under ANSI;
        // equality-only use, so residue collisions merely loosen the
        // filter, never tighten it).
        //
        // The residues ride INSIDE the banded rows (4 KiB/doc extra band
        // shuffle) so the cutoff applies inline in the band self-join,
        // BEFORE the distinct: in the high-background-similarity regime
        // this path exists for, banding admits a large fraction of the
        // n²/2 pair space, and shuffling that candidate set through a
        // distinct plus two signature joins costs more than the whole
        // verification (measured 19.5 s → 6 s at sf0.1). Pairs stream
        // through the filter as join output — the O(n²) set is never
        // shuffled, only scanned.
        val sigs = arrays.select(
          col("doc_id"),
          expr(s"graft_minhash($sigInput, $numHashes)").as("sig"),
          expr(s"transform(graft_minhash_mix($sigInput, $SigFilterHashes), " +
            "h -> CAST(h % 128 AS TINYINT))").as("sigb"))
        val tau = sigAgreementCutoff(threshold)
        candidatesFrom(m, sigs, numHashes, bands, maxBucketSize,
          passThrough = Seq("sigb"),
          pairFilter = Some(expr("graft_sig_agree(a.sigb, b.sigb)") >= tau))
      }

    // Exact verification joins each candidate pair back to its two shingle
    // ARRAYS and intersects them in one codegen'd expression — the work is
    // proportional to the (LSH-pruned) candidate set, not the corpus, and
    // the corpus-side shuffle carries one array per doc instead of an
    // exploded row per shingle. Shingle arrays are distinct, so
    // |array_intersect| is the true intersection count.
    cand
      .join(arrays.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(arrays.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")
  }

  /** EXACT set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo et al., WWW 2007; Xiao et al., WWW
    * 2008): every pair of documents whose word-3-gram Jaccard is at or
    * above `tauNum/tauDen`, with NO probabilistic step anywhere. The
    * deterministic complement to [[minhashNearDups]]: LSH trades a
    * (vanishing) miss probability for bucket-size control; prefix
    * filtering is provably complete and pays for it with data-dependent
    * candidate counts. Same output contract, so the catalog oracle is
    * shared verbatim with `dedup_minhash`.
    *
    * Why the candidates are complete: Jaccard ≥ τ ⟹ |a∩b| ≥ τ·|a∪b| ≥
    * τ·max(|a|,|b|), so at least ceil(τ·|a|) shingles are shared. With
    * every doc's shingle set sorted by ONE global total order (document
    * frequency asc, fingerprint asc — rare first), let g be the smallest
    * shared shingle. If g sat outside a's prefix of length
    * |a| − ceil(τ·|a|) + 1, then ALL shared shingles would sit in a's last
    * ceil(τ·|a|) − 1 positions — fewer than the required intersection.
    * Hence g lies in a's prefix, and symmetrically in b's: joining prefix
    * tokens finds every qualifying pair.
    *
    * Scale design:
    *   - Shingles fold to 60-bit fingerprints before ANY exchange — the
    *     df aggregation, the ordering join, the prefix self-join, and the
    *     verification all shuffle longs, never text.
    *   - The rare-first order is the candidate-count control: each doc
    *     contributes only its (1−τ) RAREST shingles to the join key space,
    *     so high-frequency boilerplate grams never become join keys.
    *   - The integer length filter (τ·|a| ≤ |b| ∧ τ·|b| ≤ |a|) prunes
    *     inside the join condition, before the distinct.
    *   - Verification is candidate-proportional: one `array_intersect`
    *     over the two fingerprint arrays per surviving pair.
    * The honest trade vs LSH at 100 TB: a corpus whose documents share
    * even their rarest grams (near-identical boilerplate) makes some
    * prefix bucket large, and exactness forbids dropping it — that regime
    * is what [[minhashNearDups]]'s `MaxBucketSize` guard is for.
    */
  def jaccardPrefixNearDups(spark: SparkSession, dir: String,
      tauNum: Int = 3, tauDen: Int = 5): DataFrame =
    jaccardPrefixFromArrays(docShingleArrays(spark, dir), tauNum, tauDen)

  private[graft] def jaccardPrefixFromArrays(
      shingleArrays: DataFrame, tauNum: Int, tauDen: Int): DataFrame = Materialize { m =>
    val (sorted, cand) = jaccardPrefixCandidates(m, shingleArrays, tauNum, tauDen)
    // exact verification — same contract and double comparison as the
    // minhash twin, so both answer the identical oracle
    val threshold = tauNum.toDouble / tauDen
    cand
      .join(sorted.select(col("doc_id").as("id_a"), col("ghs").as("gh_a"),
        col("m").as("m_a")), "id_a")
      .join(sorted.select(col("doc_id").as("id_b"), col("ghs").as("gh_b"),
        col("m").as("m_b")), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("gh_a"), col("gh_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("m_a") + col("m_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_inter", "jaccard")
  }

  /** The candidate stage of [[jaccardPrefixFromArrays]]: (the sorted
    * per-doc arrays, the candidate pairs), its intermediates filled in `m`.
    */
  private def jaccardPrefixCandidates(m: Materialize,
      shingleArrays: DataFrame, tauNum: Int, tauDen: Int): (DataFrame, DataFrame) = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0, 1]: $tauNum/$tauDen")
    graft.functions.GraftFunctions.register(shingleArrays.sparkSession)
    // 60-bit fingerprints immediately; array_distinct guards the (≈2^-60)
    // within-doc collision so |array| is exactly the set size m
    // graft_hash60_array is the codegen form of the 60-bit packing
    // (h31·2^30 + h37 mod 2^30) — one tight loop per array instead of an
    // interpreted per-element HOF lambda
    // eager fill — the hashing pass feeds the df count, the ordering join
    // AND (via `sorted`) everything downstream; unfilled, AQE's concurrent
    // consumers each re-run the shingle+hash pipeline (measured 18.5 s →
    // 2.7 s for the `sorted` stage at sf0.1)
    val ghArrays = m.fill(shingleArrays.select(
      col("doc_id"),
      array_distinct(expr("graft_hash60_array(shingles)")).as("ghs")))
    val exploded = ghArrays.select(col("doc_id"), explode(col("ghs")).as("gh"))
    // global document frequency per fingerprint — defines the rare-first
    // total order (df asc, gh asc); map-side partial agg, 8-byte keys
    val dfCounts = exploded.groupBy("gh").agg(count(lit(1)).as("df"))
    // per-doc shingle array re-sorted by the global order + set size;
    // collect_list is order-nondeterministic but array_sort restores a
    // canonical order ((df, gh) is unique within a doc)
    // eager fill: feeds the self-join (twice) + verification
    val sorted = m.fill(exploded.join(dfCounts, "gh")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("gh"))).as("pairs"),
        count(lit(1)).as("m"))
      .select(
        col("doc_id"),
        // graft_struct_field == transform(·, s -> s.gh) order-preserving,
        // but codegen'd (the HOF interprets per element, corpus-scale here)
        expr("graft_struct_field(array_sort(pairs), 'gh')").as("ghs"),
        col("m"))
      // p = m − ceil(τ·m) + 1, exact integer ceil — never off by the
      // 1-ulp of a double τ
      .withColumn("p",
        col("m") - expr(s"(m * $tauNum + ${tauDen - 1}) div $tauDen") + 1))
    val pref = sorted.select(col("doc_id"), col("m"),
      posexplode(expr("slice(ghs, 1, CAST(p AS INT))")).as(Seq("pos0", "gh")))
      .withColumn("pos", col("pos0") + 1).drop("pos0")
    val a = pref.as("a")
    val b = pref.as("b")
    // PPJoin's POSITIONAL filter, applied inline in the join condition:
    // for the FIRST shared token (in the global order), every other
    // shared token sits strictly after it in both docs, so
    // inter ≤ 1 + min(ma − i, mb − j). A qualifying pair needs
    // inter ≥ t = ceil(τ/(1+τ)·(ma+mb)), and the first shared token
    // always passes — so pruning positions where the upper bound cannot
    // reach t keeps completeness while cutting the candidate set on
    // mid-frequency tokens (measured 24 s → ~6 s at sf0.1: the distinct
    // was dominated by pairs sharing only deep-prefix common grams).
    val tNum = tauNum
    val tDen = tauNum + tauDen
    val cand = a.join(b,
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.m") * tauNum <= col("b.m") * tauDen &&
          col("b.m") * tauNum <= col("a.m") * tauDen &&
          (lit(1L) + least(col("a.m") - col("a.pos"), col("b.m") - col("b.pos"))) * tDen >=
            (col("a.m") + col("b.m")) * tNum)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    (sorted, cand)
  }

  /** INCREMENTAL near-dup detection — the daily-increment shape of a
    * production pipeline: NEW documents (`doc_id >= splitId`) are checked
    * against the EXISTING corpus (`doc_id < splitId`); corpus×corpus pairs
    * are never generated. Output: (id_new, id_corpus, n_inter, jaccard)
    * for every new doc whose word-3-gram Jaccard vs a corpus doc is at or
    * above `threshold` — the set a pipeline would drop (or route to
    * clustering) before appending the increment.
    *
    * Scale: the corpus side's banded signatures are exactly what a real
    * deployment would PERSIST between increments (they are 32 longs per
    * doc — recomputing them here only because the catalog query is
    * self-contained). The candidate join is new-bands × corpus-bands on
    * the band key: with a daily increment ≪ corpus, AQE's size gate
    * broadcasts the new side and the corpus side streams through
    * unshuffled; with a backfill-sized increment the same plan falls back
    * to a shuffle join instead of forcing the increment driver-side (no
    * hint — r14). Exact verification touches candidates only, as in
    * [[minhashNearDups]].
    */
  def incrementalNearDups(spark: SparkSession, dir: String, threshold: Double = 0.6,
      splitId: Long = 400): DataFrame = Materialize { m =>
    val arrays = m.fill(docShingleArrays(spark, dir)) // same AQE fan-out rationale as nearDupsFromArrays
    val banded = m.fill(bandedSignatures(signaturesFrom(arrays)))
    val newB = banded.filter(col("doc_id") >= splitId)
      .select(col("band"), col("k1"), col("k2"), col("doc_id").as("id_new"))
    val corpusB = banded.filter(col("doc_id") < splitId)
      .select(col("band"), col("k1"), col("k2"), col("doc_id").as("id_corpus"))
    // No broadcast hint on the increment (r14): a daily delta broadcasts by
    // AQE's size gate anyway, but a BACKFILL increment (≈ corpus) must not
    // be forced driver-side — the equi-join shuffles both sides then.
    val cand = corpusB.join(newB, Seq("band", "k1", "k2"))
      .select("id_new", "id_corpus")
      .distinct()
    verifyIncrementalPairs(arrays, cand, threshold)
  }

  /** Exact-Jaccard verification of (id_new, id_corpus) candidate pairs
    * against the shingle arrays — THE verification semantics, shared by the
    * direct, store-backed and STREAMING incremental paths so they cannot
    * drift. The new and corpus sides may come from different frames (the
    * streaming path's new side is a micro-batch).
    */
  private def verifyIncrementalPairs(arrays: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame =
    verifyIncrementalPairsSplit(arrays, arrays, cand, threshold)

  private def verifyIncrementalPairsSplit(newArrays: DataFrame, corpusArrays: DataFrame,
      cand: DataFrame, threshold: Double): DataFrame =
    cand
      .join(newArrays.select(col("doc_id").as("id_new"), col("shingles").as("sh_n")), "id_new")
      .join(corpusArrays.select(col("doc_id").as("id_corpus"), col("shingles").as("sh_c")), "id_corpus")
      .withColumn("n_inter", size(array_intersect(col("sh_n"), col("sh_c"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (size(col("sh_n")) + size(col("sh_c")) - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_corpus", "n_inter", "jaccard")

  /** One INCREMENT of near-dup detection against a pre-built corpus:
    * `newDocs` is any (doc_id, text) frame (a nightly delta — or a
    * STREAMING micro-batch, which is how [[graft.streaming.StreamDedup]]
    * calls this per batch), `corpusArrays`/`corpusBands` are the persisted
    * corpus artifacts ([[writeSignatureStore]] for the bands; the shingle
    * arrays are the tokenized corpus a pipeline already materializes).
    * The increment's bands broadcast against the streaming corpus store
    * when AQE's size gate says they fit (no hint — a replayed or backfill
    * batch shuffles instead); exact verification touches candidates only.
    * Output contract is [[incrementalNearDups]]'s.
    */
  def incrementalNearDupsFrom(newDocs: DataFrame, corpusArrays: DataFrame,
      corpusBands: DataFrame, threshold: Double = 0.6): DataFrame =
    Materialize(incrementalNearDupsFrom(_, newDocs, corpusArrays, corpusBands, threshold))

  /** [[incrementalNearDupsFrom]] with its checkpoint held in `m`, and its
    * result a lazy frame over it: valid until `m` exits. */
  private[graft] def incrementalNearDupsFrom(m: Materialize, newDocs: DataFrame,
      corpusArrays: DataFrame, corpusBands: DataFrame, threshold: Double): DataFrame = {
    // the increment's arrays feed BOTH banding and verification; an eager
    // checkpoint computes the tokenize+shingle pipeline once per
    // micro-batch
    val newArrays = m.checkpoint(shingleArraysOf(newDocs))
    val newB = bandedSignatures(signaturesFrom(newArrays))
      .select(col("band"), col("k1"), col("k2"), col("doc_id").as("id_new"))
    val cand = corpusBands
      .select(col("band"), col("k1"), col("k2"), col("doc_id").as("id_corpus"))
      .join(newB, Seq("band", "k1", "k2"))
      .select("id_new", "id_corpus")
      .distinct()
    // de-hinted (r14): a micro-batch increment broadcasts via AQE's size
    // gate; a replayed/backfill batch does not get forced driver-side
    verifyIncrementalPairsSplit(newArrays, corpusArrays, cand, threshold)
  }

  /** The deployment form of [[incrementalNearDups]]: the corpus's banded
    * MinHash signatures are PERSISTED (32 longs per doc — written once,
    * reused by every nightly increment) and the increment join runs
    * against the store instead of recomputing corpus signatures. The
    * verification step still needs the corpus shingle arrays for exact
    * Jaccard — a deployment would persist those alongside (they are the
    * tokenized corpus, typically already materialized by the pipeline).
    *
    * This catalog query exercises the full round trip: build store →
    * write parquet → read back → increment join → exact verify. Its
    * output contract (and oracle) is identical to [[incrementalNearDups]],
    * so a green row proves the store round-trip is lossless.
    *
    * `storeDir`: where the store lives. In a deployment this is a SHARED
    * filesystem path (written once, read by every increment); when omitted,
    * a local temp dir is used and deleted once the result materializes —
    * appropriate only for the self-contained catalog-query form.
    */
  def incrementalNearDupsViaStore(spark: SparkSession, dir: String, threshold: Double = 0.6,
      splitId: Long = 400, storeDir: Option[String] = None): DataFrame = {
    val store = storeDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-sig-store").toString)
    // try/finally: the temp store is a full parquet copy of corpus bands —
    // it must not leak into /tmp if the read-back, candidate join, or
    // verification throws
    try Materialize { m =>
      val arrays = m.fill(docShingleArrays(spark, dir))
      writeSignatureStore(arrays, store, splitId) // one corpus pass: reuses the cache
      val corpusB = ParquetSource.read(spark, s"$store/bands.parquet")
      val newB = bandedSignatures(signaturesFrom(arrays.filter(col("doc_id") >= splitId)))
        .select(col("band"), col("k1"), col("k2"), col("doc_id").as("id_new"))
      val cand = corpusB
        .select(col("band"), col("k1"), col("k2"), col("doc_id").as("id_corpus"))
        .join(newB, Seq("band", "k1", "k2")) // de-hinted (r14): AQE's call
        .select("id_new", "id_corpus")
        .distinct()
      verifyIncrementalPairs(arrays, cand, threshold)
    } finally {
      if (storeDir.isEmpty) { // result is checkpointed — the temp store can go
        import scala.reflect.io.Directory
        new Directory(new java.io.File(store)).deleteRecursively()
      }
    }
  }

  /** Writes the corpus side's banded signatures (doc_id < splitId) from a
    * (doc_id, shingles) frame as the parquet signature store the nightly
    * increment joins against.
    */
  def writeSignatureStore(shingleArrays: DataFrame, storeDir: String,
      splitId: Long = 400): Unit =
    bandedSignatures(signaturesFrom(shingleArrays.filter(col("doc_id") < splitId)))
      .write.mode("overwrite").parquet(s"$storeDir/bands.parquet")

  /** Explodes (doc_id, sig) signatures into `(doc_id, band, k1, k2)` band
    * rows — the banding every LSH consumer uses (self-join, incremental,
    * store). `passThrough` columns ride along unchanged (the sig-filter
    * path keeps its agreement residues inside the band shuffle instead of
    * re-joining them later). The
    * `(k1, k2)` two-key schema is FROZEN (the persisted signature stores'
    * `bands.parquet` carries it), so non-default rows-per-band settings map
    * onto it rather than changing shape:
    *   - r = 2 (default): the band's two minhash components verbatim —
    *     bit-compatible with every store written so far;
    *   - r = 1: `(component, 0)`;
    *   - r > 2: each half of the band's components folded with a 64-bit
    *     polynomial combine — a fold collision only ADMITS a spurious
    *     candidate (exact verification removes it), never drops one, so
    *     banding recall is exactly the (1−(1−s^r)^b) formula.
    */
  private def bandedSignatures(sigs: DataFrame, passThrough: Seq[String] = Nil,
      numHashes: Int = NumHashes, bands: Int = Bands): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"minhash banding: bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    def fold(from: Int, len: Int): Column =
      if (len == 1) element_at(col("sig"), from)
      else expr(s"aggregate(slice(sig, $from, $len), 0L, (acc, x) -> acc * ${Portable.P1}L + x)")
    val bandStructs = (0 until bands).map { j =>
      val (k1, k2) = r match {
        case 1 => (element_at(col("sig"), j + 1), lit(0L))
        case 2 => (element_at(col("sig"), 2 * j + 1), element_at(col("sig"), 2 * j + 2))
        case _ =>
          val half = r / 2
          (fold(j * r + 1, half), fold(j * r + 1 + half, r - half))
      }
      struct(lit(j).as("band"), k1.as("k1"), k2.as("k2"))
    }
    val keep = col("doc_id") +: passThrough.map(col)
    sigs.select(keep :+ explode(array(bandStructs: _*)).as("b"): _*)
      .select(keep ++ Seq(col("b.band"), col("b.k1"), col("b.k2")): _*)
  }

  /** Near-dup CLUSTERS: connected components over the verified near-dup
    * pair graph, labeled by the component's min doc_id. Iterative min-label
    * propagation — each round is one equi-join + min-aggregate, converging
    * in O(component diameter) rounds (near-dup clusters are shallow).
    * At 100 TB this is the standard BSP connected-components shape; a
    * large-star/small-star variant would cut rounds on deep graphs.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
      threshold: Double = 0.6): DataFrame = Materialize { m =>
    val pairs = m.cache(minhashNearDups(spark, dir, threshold).select("id_a", "id_b"))
    val edges = m.cache(pairs.union(pairs.select(col("id_b"), col("id_a"))).toDF("src", "dst"))
    // a checkpoint per round: each iteration references the previous
    // labels twice (union + convergence join), so an uncut lineage grows
    // exponentially with rounds
    var labels = m.checkpoint(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val prop = edges
        .join(labels.withColumnRenamed("id", "dst_id"), col("dst") === col("dst_id"))
        .select(col("src").as("id"), col("label"))
      val next = m.checkpoint(labels.union(prop)
        .groupBy("id").agg(min("label").as("label")))
      changed = next.as("n").join(labels.as("o"), "id")
        .filter(col("n.label") =!= col("o.label")).count()
      labels = next
      rounds += 1
    }
    // loud, never wrong-silently (r14 review): min-label BSP converges in
    // O(diameter) rounds — a deeper component must FAIL, not return
    // partially-propagated labels that canonicalDocs would then keep as
    // several "canonical" duplicates. The star-CC path handles deep
    // components in O(log n) rounds.
    if (changed > 0)
      throw new IllegalStateException(
        s"nearDupClusters: label propagation did not converge in $rounds rounds " +
          s"($changed labels still moving) — component diameter exceeds the cap; " +
          "use nearDupClustersStar (large-star/small-star, O(log n) rounds)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components via alternating large-star/small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * O(log n) rounds on ANY graph shape, vs O(diameter) for the min-label
    * BSP in [[nearDupClusters]]. The 100 TB choice when components can be
    * deep (chained near-dup templates). Input: undirected edges (src, dst);
    * output: (node, component min-label). Each round is two
    * groupBy-aggregate passes over the edge list.
    *
    *   - large-star: every node links its LARGER neighbors to its
    *     neighborhood minimum (keeps edges to smaller nodes intact)
    *   - small-star: every node links its smaller-or-equal neighbors to
    *     the neighborhood minimum
    */
  def connectedComponentsStar(edges0: DataFrame): DataFrame =
    connectedComponentsStarWithRounds(edges0)._1

  /** [[connectedComponentsStar]] plus the number of rounds it took to
    * converge — asserted ≤ O(log n) in the deep-chain spec.
    */
  def connectedComponentsStarWithRounds(edges0: DataFrame): (DataFrame, Int) = {
    var rounds = 0
    val out = Materialize { m =>
      // canonical undirected edge list, self-loops dropped
      // Each round references the previous round's plan several times (the
      // union'd neighbor view + the convergence except), so the lineage would
      // grow EXPONENTIALLY across rounds — a checkpoint truncates it to the
      // materialized blocks every iteration.
      var edges = m.checkpoint(edges0.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
        .distinct())
      var converged = false
      var edgeCount = edges.count()
      while (!converged && rounds < 25) {
        // large-star: m(c) = min(Γ(c) ∪ {c}); link strictly larger
        // neighbors to m. Aggregate-then-join — never materializes a
        // neighborhood in one row (a collect_set would OOM on the root of a
        // large component).
        val nbrs = edges.select(col("u").as("c"), col("v").as("n"))
          .union(edges.select(col("v").as("c"), col("u").as("n")))
        val lsMin = nbrs.groupBy("c").agg(min(least(col("c"), col("n"))).as("m"))
        val ls = nbrs.join(lsMin, "c")
          .filter(col("n") > col("c"))
          .select(least(col("n"), col("m")).as("u"), greatest(col("n"), col("m")).as("v"))
          .filter(col("u") =!= col("v"))
        // small-star over the larger→smaller edges: link every smaller
        // neighbor AND the center to the neighborhood minimum
        val sn = ls.select(col("v").as("c"), col("u").as("n")) // n <= c by construction
        val ssMin = sn.groupBy("c").agg(min(col("n")).as("m"))
        val ss = m.checkpoint(sn.join(ssMin, "c")
          .select(col("m"), col("n")).union(ssMin.select(col("m"), col("c").as("n")))
          .filter(col("m") =!= col("n"))
          .select(col("m").as("u"), col("n").as("v")) // m = min ⇒ already canonical
          .distinct())
        // converged when the edge set is a fixed point (all stars: v -> root).
        // || short-circuits: the except (a shuffle) only runs when the counts
        // are equal; the count is carried across rounds so each iteration
        // costs one checkpoint job + one count + (rarely) the except.
        val ssCount = ss.count()
        val changed = ssCount != edgeCount || ss.except(edges).limit(1).count() > 0
        edges = ss
        edgeCount = ssCount
        converged = !changed
        rounds += 1
      }
      // loud, never wrong-silently (r14 review): star rounds converge in
      // O(log n) — 25 rounds covers any graph that fits any cluster (2^25-
      // deep contraction). Hitting the cap means a bug or adversarial input;
      // partial labels must never flow into canonical selection.
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponentsStar: not converged after $rounds rounds — " +
            "edge set is still changing; refusing to emit partial components")
      // stars point every node at its component min; the roots themselves
      // get their own id
      val members = edges.select(col("v").as("node"), col("u").as("label"))
      val roots = edges.select(col("u").as("node")).distinct()
        .join(members.select(col("node")), Seq("node"), "left_anti")
        .withColumn("label", col("node"))
      members.union(roots)
    }
    (out, rounds)
  }

  /** Edge graphs at or below this size are solved with driver union-find
    * instead of the iterative star rounds. The edge list is proportional to
    * the DUPLICATE-PAIR count (LSH-verified pairs), not the corpus — 2^17
    * pairs ≈ 2 MB on the driver, the same order as the IVF centroid seed
    * collect. Above the bound the distributed star loop runs unchanged.
    */
  val SmallGraphEdges: Long = 1L << 17

  /** Size-adaptive connected components: driver union-find for small edge
    * graphs (each star round costs a fixed number of jobs + a checkpoint —
    * pure scheduling overhead when the graph is a few thousand edges),
    * [[connectedComponentsStar]] otherwise. Labels are the component
    * minimum in both paths, so results are identical (spec-asserted).
    */
  def connectedComponentsAdaptive(edges0: DataFrame): DataFrame = Materialize { m =>
    val spark = edges0.sparkSession
    import spark.implicits._
    val canonical = m.checkpoint(edges0.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .distinct())
    if (canonical.count() > SmallGraphEdges) {
      connectedComponentsStar(canonical.select(col("u").as("src"), col("v").as("dst")))
    } else {
      val edges = canonical.as[(Long, Long)].collect() // bounded by SmallGraphEdges
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN root so labels match the star/BSP contract
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      nodes.map(n => (n, find(n))).toSeq.toDF("node", "label")
    }
  }

  /** Near-dup clusters — the catalog's cluster query: LSH-verified pairs →
    * size-adaptive connected components (driver union-find below
    * [[SmallGraphEdges]], O(log n)-round large-star/small-star above; both
    * label by component min, spec-proven equal to the min-label BSP in
    * [[nearDupClusters]]).
    */
  def nearDupClustersStar(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame =
    Materialize { _ => // releases the pairs once the components are materialized
      connectedComponentsAdaptive(minhashNearDups(spark, dir, threshold)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    }.select(col("node").as("doc_id"), col("label").as("cluster_id"))

  /** End-to-end corpus dedup — what the cluster machinery is FOR: group
    * near-duplicates ([[nearDupClustersStar]]), keep the smallest doc_id of
    * each group as its canonical representative, pass unique docs through.
    * Output: every surviving (doc_id, group_size) — group_size 1 for unique
    * docs, >1 for a representative that absorbed duplicates.
    *
    * Scale: the clusters frame is proportional to the DUPLICATE count (tiny
    * vs the corpus); the pass-through side is a left-anti join on doc ids
    * only — no text moves.
    */
  def canonicalDocs(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame = {
    val clusters = nearDupClustersStar(spark, dir, threshold)
    val reps = clusters.groupBy("cluster_id")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select("doc_id", "group_size")
    val singletons = docs(spark, dir).select(col("doc_id"))
      .join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("group_size", lit(1L))
    reps.union(singletons)
  }

  /** [[canonicalDocs]] with a QUALITY-preferring representative: real
    * pipelines keep each near-dup group's best copy (the cleanest OCR, the
    * boilerplate-free mirror), not its smallest id. The winner is the
    * member with the highest integer alpha-per-mille quality key
    * (`n_alpha·1000 div n_chars`, −1 for empty docs so they never beat a
    * real copy), doc_id asc on ties — exact cross-engine ordering, so the
    * row is hash-oracle-checkable. Selection is ONE aggregate of
    * `max(struct(quality_key, −doc_id))` per cluster (no per-cluster
    * window): partial aggregation forwards one struct per (task, cluster).
    * Output (doc_id, quality_key, group_size); unique docs pass through.
    */
  def canonicalDocsBest(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame = {
    val quality = docs(spark, dir).select(col("doc_id"),
      expr("CASE WHEN length(text) = 0 THEN CAST(-1 AS BIGINT) " +
        "ELSE CAST(regexp_count(text, '[a-zA-Z]') AS BIGINT) * 1000 div length(text) END")
        .as("quality_key"))
    val clusters = nearDupClustersStar(spark, dir, threshold)
    val reps = clusters.join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(
        max(struct(col("quality_key"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("group_size"))
      .select(
        (-col("best.neg_id")).as("doc_id"),
        col("best.quality_key").as("quality_key"),
        col("group_size"))
    val singletons = quality
      .join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("group_size", lit(1L))
      .select("doc_id", "quality_key", "group_size")
    reps.union(singletons)
  }

  /** 60-bit SimHash per document from shingle hashes: bit j of the signature
    * is the sign of `Σ_shingles (2·bit_j(h) − 1)`.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // One codegen pass per doc over the shingle array — map-only, both the
    // per-element packed hash and the bit-vote fold are native expressions.
    docShingleArrays(spark, dir).select(
      col("doc_id"),
      expr("graft_simhash(graft_hash60_array(shingles))").as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ maxDist, candidates via
    * `tables`-way band LSH over the 60 signature bits (default 4×15-bit),
    * verified with an exact popcount.
    *
    * `tables` is a parameter (round 10, matching the IVF/PQ/minhash
    * families): pigeonhole needs `tables > maxDist` (≤ maxDist differing
    * bits cannot touch all tables, so ≥ 1 band matches exactly — recall 1
    * at ANY partition of the bits), while FEWER bits per band (more
    * tables) admits more candidates. A production corpus picks the
    * fewest tables its maxDist allows, for the widest (most selective)
    * band keys. The 60 bits are split as evenly as integer division
    * allows; the exact verification keeps the output contract identical
    * at every setting.
    */
  def simhashNearDups(spark: SparkSession, dir: String, maxDist: Int = 3,
      tables: Int = 4): DataFrame = {
    require(tables > maxDist && tables <= 60,
      s"simhash banding: need maxDist < tables <= 60 for guaranteed recall (got maxDist=$maxDist, tables=$tables)")
    Materialize { m =>
      val sig = m.cache(simhash(spark, dir))
      val bands = (0 until tables).map { j =>
        val start = j * 60 / tables
        val end = (j + 1) * 60 / tables
        struct(lit(j).as("band"),
          shiftright(col("simhash"), start).bitwiseAND(lit((1L << (end - start)) - 1)).as("key"))
      }
      val banded = sig.select(col("doc_id"), col("simhash"), explode(array(bands: _*)).as("b"))
        .select(col("doc_id"), col("simhash"), col("b.band"), col("b.key"))
      val a = banded.as("a")
      val b = banded.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
        .filter(col("hamming") <= maxDist)
        .select("id_a", "id_b", "hamming")
    }
  }

  /** Edit-distance scoring of verified near-dup pairs: LSH candidates →
    * exact Jaccard filter → `levenshtein` on the raw texts. Levenshtein is
    * O(len²) per pair, so it runs ONLY on the near-dup pairs (LSH-pruned,
    * Jaccard-verified), never corpus-wide — the order-of-operations that
    * keeps character-level scoring affordable at 100 TB.
    */
  def editDistancePairs(spark: SparkSession, dir: String, threshold: Double = 0.6): DataFrame = {
    val pairs = minhashNearDups(spark, dir, threshold).select("id_a", "id_b")
    val d = docs(spark, dir)
    pairs
      .join(d.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("text_a"), col("text_b")).cast("bigint").as("edit_dist"))
  }

  /** Embedding-cosine near-dup pairs above `threshold` — the EXACT contract
    * (every pair with cosine ≥ threshold, no misses), executed as a blocked
    * grid self-join instead of a nested-loop product.
    *
    * Why not LSH here: an exact threshold join at cosine ≈ 0.4 over dense
    * unstructured vectors is information-theoretically Ω(n²) — measured on
    * the test corpus, the 0.4 boundary slices a continuum (closest false
    * pair at 0.3999 vs farthest true pair's floor at 0.4005), and sign-LSH
    * with per-bit collision probability 1−θ/π ≈ 0.63 cannot reach recall 1
    * without making essentially every pair a candidate. When the corpus has
    * genuine near-dup structure (cosine ≥ ~0.7) use
    * [[embeddingNearDupsLsh]], which prunes for real.
    *
    * The blocked form distributes the unavoidable n²/2 comparisons evenly:
    * vectors are hashed into `blocks` groups, each vector is replicated to
    * the `blocks` grid cells (c1 ≤ c2) its group participates in, and the
    * join is a SHUFFLE equi-join on the cell key — per-task memory is
    * O(n/blocks), no driver broadcast of the corpus, no
    * BroadcastNestedLoopJoin (asserted in PlanSpec). Each unordered pair is
    * owned by exactly one cell (the sorted pair of its groups). At 100 TB,
    * `blocks` scales with cluster width: shuffle volume is n·blocks rows
    * while per-task work drops as (n/blocks)².
    */
  def embeddingNearDups(spark: SparkSession, dir: String, threshold: Double = 0.4,
      blocks: Int = 8): DataFrame =
    embeddingNearDupsBy(embeddings(spark, dir), threshold, EmbeddingStrategy.ExactGrid,
      blocks = blocks)

  /** Pair-comparison budget for [[EmbeddingStrategy.ExactGrid]]: 1e9
    * comparisons ≈ a 45k-vector corpus ≈ tens of core-minutes of 64-dim
    * dot products — past that the quadratic contract is a cluster-melter
    * and the sign-LSH route wins decisively. Overridable per call for
    * deliberate exact runs on mid-size corpora.
    */
  val GridPairBudget: Long = 1000000000L

  /** THE embedding near-dup entry point — routes to the exact grid or the
    * sub-quadratic sign-LSH path by explicit strategy, with a structural
    * guard so a caller cannot silently inherit the Ω(n²) grid at corpus
    * scale:
    *
    *   - [[EmbeddingStrategy.ExactGrid]] — the exact contract (every pair
    *     with cosine ≥ threshold; required when the threshold slices a
    *     continuum, e.g. 0.4 on unstructured vectors). REFUSES with a
    *     clear error when n·(n−1)/2 exceeds `gridPairBudget`, directing
    *     the caller to SignLsh or an explicit budget raise. The count()
    *     spent sizing the corpus is one cheap column scan, amortized by
    *     the quadratic work it gates.
    *   - [[EmbeddingStrategy.SignLsh]] — candidates from sign-projection
    *     LSH buckets, exact-cosine verified (no false positives; recall
    *     gated every round by `dedup_embedding_lsh_check`). The 100 TB
    *     path for corpora with genuine near-dup structure (cosine ≥ ~0.7).
    *
    * Output either way: (id_a, id_b, cosine), id_a < id_b, cosine ≥
    * threshold.
    */
  def embeddingNearDupsBy(vectors: DataFrame, threshold: Double,
      strategy: EmbeddingStrategy, blocks: Int = 8,
      tables: Int = 16, bits: Int = 8,
      gridPairBudget: Long = GridPairBudget): DataFrame = strategy match {
    case EmbeddingStrategy.ExactGrid =>
      val n = vectors.count()
      // Compare on n, not n(n-1)/2: the pair count overflows Long past
      // n ≈ 3e9 — exactly the corpus scale this guard exists to refuse —
      // and a wrapped-negative product would pass the check silently.
      // n(n-1)/2 > B  ⟺  n > (1 + sqrt(1 + 8B)) / 2.
      val maxN = ((1.0 + math.sqrt(1.0 + 8.0 * gridPairBudget.toDouble)) / 2.0).toLong
      require(n <= maxN,
        s"embeddingNearDupsBy(ExactGrid): $n vectors => ${BigInt(n) * (n - 1) / 2} " +
          s"pairwise comparisons exceeds gridPairBudget=$gridPairBudget (max $maxN " +
          "vectors). The exact-threshold contract is inherently quadratic; use " +
          "EmbeddingStrategy.SignLsh (sub-quadratic candidates, exact-cosine " +
          "verified) or raise gridPairBudget explicitly for a deliberate exact run.")
      embeddingNearDupsGrid(vectors, threshold, blocks)
    case EmbeddingStrategy.SignLsh =>
      embeddingNearDupsLsh(vectors, threshold, tables, bits)
  }

  /** [[embeddingNearDups]] over any (vec_id, embedding) frame — the
    * exact-grid strategy body. Prefer [[embeddingNearDupsBy]], which adds
    * the pair-budget guard; this direct form exists for ground-truth
    * generation (recall gates, scale probes) where the quadratic cost is
    * the point.
    */
  def embeddingNearDupsGrid(vectors: DataFrame, threshold: Double = 0.4,
      blocks: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val e = vectors
      .select(col("vec_id"), col("embedding"), Portable.l2NormNative("embedding").as("norm"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
      // zero-norm exclusion (r14 review): 0/0 = NaN and NaN >= threshold
      // is TRUE under Spark's NaN-greatest ordering — one failed/padding
      // embedding would otherwise pair with every grid partner (the
      // embeddingIncrementalFrom rationale, applied to this path)
      .filter(Portable.usableNorm(col("norm")))
    // replicate each vector to every grid cell its block participates in:
    // (blk, j) normalized to (c1, c2) with c1 <= c2 — `blocks` cells per row
    val gridded = e
      .withColumn("j", explode(sequence(lit(0), lit(blocks - 1))))
      .select(col("vec_id"), col("embedding"), col("norm"), col("blk"),
        least(col("blk"), col("j")).as("c1"), greatest(col("blk"), col("j")).as("c2"))
    val a = gridded.select(col("c1"), col("c2"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"), col("norm").as("norm_a"), col("blk").as("blk_a"))
    val b = gridded.select(col("c1"), col("c2"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"), col("norm").as("norm_b"), col("blk").as("blk_b"))
    a.join(b, Seq("c1", "c2"))
      .filter(col("id_a") < col("id_b") &&
        // cell ownership: the pair is scored ONLY in the cell matching its
        // own sorted block pair — each pair exactly once despite replication
        least(col("blk_a"), col("blk_b")) === col("c1") &&
        greatest(col("blk_a"), col("blk_b")) === col("c2"))
      .withColumn("cosine", Portable.dotProductNative("emb_a", "emb_b") / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style SEMANTIC dedup clusters: connected components over the
    * embedding-cosine near-dup graph, labeled by component-min vec_id —
    * "these documents say the same thing" groups, the embedding-space
    * analogue of [[nearDupClustersStar]]. The pair source routes through
    * [[embeddingNearDupsBy]]: the catalog default is the EXACT grid so the
    * whole chain is hash-oracle-checkable (DuckDB recomputes the closure
    * recursively) — and inherits the grid's pair-budget guard — while a
    * 100 TB run passes [[EmbeddingStrategy.SignLsh]]; the CC stage is
    * agnostic to where the edges came from and stays ∝ duplicate count.
    */
  def semanticClusters(spark: SparkSession, dir: String, threshold: Double = 0.4,
      strategy: EmbeddingStrategy = EmbeddingStrategy.ExactGrid,
      // SignLsh banding width: at fixed `bits` the per-bucket occupancy
      // grows linearly with the corpus and the candidate set quadratically
      // (measured: shuffle exponent 1.96 under ×8 co-growth, CorpusScale-
      // Probe r14); a 100 TB run raises bits ~log2(corpus growth) to hold
      // occupancy — and with it the candidate stream — linear.
      tables: Int = 16, bits: Int = 8): DataFrame =
    Materialize { _ => // releases the LSH pairs once the components are materialized
      connectedComponentsAdaptive(embeddingNearDupsBy(embeddings(spark, dir), threshold, strategy,
          tables = tables, bits = bits)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    }.select(col("node").as("vec_id"), col("label").as("cluster_id"))

  /** End-to-end semantic dedup — keep ONE representative (min vec_id) per
    * semantic cluster, pass unique vectors through: the [[canonicalDocs]]
    * shape on the embedding table. Output (vec_id, group_size).
    */
  def semanticCanonical(spark: SparkSession, dir: String, threshold: Double = 0.4,
      strategy: EmbeddingStrategy = EmbeddingStrategy.ExactGrid): DataFrame = {
    val clusters = semanticClusters(spark, dir, threshold, strategy)
    val reps = clusters.groupBy("cluster_id")
      .agg(min(col("vec_id")).as("vec_id"), count(lit(1)).as("group_size"))
      .select("vec_id", "group_size")
    val singletons = embeddings(spark, dir).select(col("vec_id"))
      .join(clusters.select("vec_id"), Seq("vec_id"), "left_anti")
      .withColumn("group_size", lit(1L))
    reps.union(singletons)
  }

  /** Deterministic k-means over an embedding frame in INTEGER MICRO
    * arithmetic — the `embedding_centroid` / GramMatrix fixed-point recipe
    * applied to the WHOLE Lloyd iteration, not just one aggregate, so the
    * full clustering is bit-reproducible across engines, partitionings and
    * runs (and therefore DuckDB-oracle-checkable end to end): components
    * quantize to `round(x·1e6)` bigints, assignment distances are exact
    * integer sums (order-independent by commutativity), and each centroid
    * update is `trunc(Σq/n)` — one IEEE-754 division of an exactly-
    * representable integer sum (|Σq| < 2^53), identical everywhere. Seeds
    * are the k smallest `vec_id`s in rank order (centroid j = j-th
    * smallest); assignment ties break to the smallest centroid index; a
    * cluster left empty keeps its previous centroid.
    *
    * Scale shape — TWO assignment forms, identical arithmetic, chosen by k
    * (ADVICE r14: the literal form alone advertised a k it cannot run):
    *   - k ≤ [[LiteralAssignMaxK]] — MAP-ONLY literal argmin: centroids
    *     travel as literal expressions inside a row-local `array_min` over
    *     `struct(dist, j)`, no join, no shuffle, fully inside whole-stage
    *     codegen, and each Lloyd update collects the k·dim sums (bounded).
    *   - k > [[LiteralAssignMaxK]] — BROADCAST-JOIN argmin: centroids live
    *     in a k-row DataFrame cross-joined (broadcast) against the
    *     vectors, `min(struct(d, j))` per vec_id; Lloyd updates stay fully
    *     DISTRIBUTED (sums → per-cluster arrays → next centroid frame,
    *     localCheckpoint per iteration) so the driver never holds k·dim
    *     values and the codegen size is O(1) in k. Ties and trunc match
    *     the literal form exactly — KmeansAssignParitySpec pins the two
    *     paths bit-identical at the same k.
    * Overflow: unit-norm inputs give per-dim squared gaps ≤ 4·(1e6)² so
    * dim ≤ 512 distances stay < 2^41, and per-cluster component sums need
    * n·1e6 < 2^63 — ~9×10^12 rows, far past any single k-means shard.
    *
    * Output: (vec_id, cluster_id: bigint, dist_sq: bigint) with dist_sq
    * the final squared distance in micro² units.
    *
    * Under [[Materialize.inspect]] it builds the SAME plan shape with fixed
    * dummy centroids and runs ZERO jobs (no seed collect, no Lloyd, no
    * cache fill) — the seam PlanSpec's hint walker reads (ADVICE r14).
    */
  private[graft] def kmeansMicroAssign(vectors: DataFrame, k: Int,
      lloydIters: Int, assignVia: String = "auto"): DataFrame = Materialize { m =>
    require(k >= 1 && lloydIters >= 0,
      s"kmeansMicroAssign: need k >= 1 and lloydIters >= 0, got k=$k iters=$lloydIters")
    val spark = vectors.sparkSession
    // the finite-vector seam below uses the native norm expression —
    // register here (idempotent) so direct callers need no session setup
    graft.functions.GraftFunctions.register(spark)
    val useJoin = assignVia match {
      case "auto" => k > LiteralAssignMaxK
      case "join" => true
      case "literal" =>
        require(k <= LiteralAssignMaxK,
          s"kmeansMicroAssign: literal assignment supports k <= $LiteralAssignMaxK " +
            s"(codegen size grows with k·dim), got k=$k — use the join path")
        false
      case other => throw new IllegalArgumentException(
        s"kmeansMicroAssign: assignVia must be auto|literal|join, got $other")
    }
    // r16 finite-vector contract: a NaN/Inf component makes the integer-
    // micros quantization throw under ANSI (on BOTH engines — DuckDB's
    // CAST refuses nan/inf the same way), so non-finite vectors are
    // malformed input and excluded BEFORE quantization. Zero vectors stay:
    // k-means is L2, the zero vector clusters fine (unlike cosine ops,
    // which also exclude norm == 0 — Portable.usableNorm). The oracle's kq
    // CTE mirrors this with the identical `norm < Infinity` predicate.
    val q0 = vectors
      .filter(graft.functions.Portable.finiteNorm(
        graft.functions.Portable.l2NormNative("embedding")))
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000) as bigint))")
          .as("q"))
    val q = m.cache(q0)

    // the literal map-only argmin (small k)
    def assignLit(cents: Array[Array[Long]]): DataFrame = {
      val dArr = array(cents.zipWithIndex.map { case (c, j) =>
        val centLit = array(c.map(lit(_)).toIndexedSeq: _*)
        struct(
          aggregate(zip_with(col("q"), centLit, (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("d"),
          lit(j.toLong).as("j"))
      }.toIndexedSeq: _*)
      // struct ordering = (dist, j): ties break to the smallest centroid
      q.withColumn("best", array_min(dArr))
        .select(col("vec_id"), col("q"),
          col("best.j").as("cluster_id"), col("best.d").as("dist_sq"))
    }
    // the broadcast-join argmin (large k): same distance expression, same
    // (d, j) tie order via min(struct), never a literal per centroid
    def assignJoin(cents: DataFrame): DataFrame =
      q.crossJoin(broadcast(cents))
        .withColumn("d",
          aggregate(zip_with(col("q"), col("cent"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("j"))).as("best"), first(col("q")).as("q"))
        .select(col("vec_id"), col("q"),
          col("best.j").as("cluster_id"), col("best.d").as("dist_sq"))

    if (m.inspecting) {
      // fixed dummy centroids, zero jobs — plan shape only
      if (useJoin)
        assignJoin(spark.range(k.toLong)
          .select(col("id").as("j"), array(lit(0L)).as("cent")))
          .select("vec_id", "cluster_id", "dist_sq")
      else assignLit(Array.fill(k)(Array(0L))).select("vec_id", "cluster_id", "dist_sq")
    } else if (!useJoin) {
      val seeds = q.orderBy("vec_id").limit(k).collect() // bounded: k rows
      require(seeds.length == k,
        s"kmeansMicroAssign: corpus has only ${seeds.length} vectors, need >= k=$k")
      var cents = seeds.map(_.getSeq[Long](1).toArray)
      for (_ <- 1 to lloydIters) {
        val sums = assignLit(cents)
          .select(col("cluster_id"), posexplode(col("q")).as(Seq("dim", "v")))
          .groupBy("cluster_id", "dim")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .collect() // bounded: k·dim rows after map-side partial aggregation
        val next = cents.map(_.clone()) // an empty cluster keeps its centroid
        sums.foreach { r =>
          next(r.getLong(0).toInt)(r.getInt(1)) =
            (r.getLong(2).toDouble / r.getLong(3)).toLong // trunc(Σq/n)
        }
        cents = next
      }
      assignLit(cents).select("vec_id", "cluster_id", "dist_sq")
    } else {
      // seeds: the k smallest vec_ids in rank order — j = rank − 1, same
      // contract as the literal path, built WITHOUT collecting vectors
      val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
      var cents = m.checkpoint(q.orderBy("vec_id").limit(k) // k rows; eager so the seed sort runs once
        .select((row_number().over(w) - 1).cast("long").as("j"), col("q").as("cent")))
      require(cents.count() == k,
        s"kmeansMicroAssign: corpus has fewer than k=$k vectors")
      for (_ <- 1 to lloydIters) {
        // distributed update: per-(cluster, dim) integer sums, reassembled
        // into per-cluster arrays — trunc(Σq/n) via double division cast to
        // bigint, the literal path's exact arithmetic
        val updates = assignJoin(cents)
          .select(col("cluster_id"), posexplode(col("q")).as(Seq("dim", "v")))
          .groupBy("cluster_id", "dim")
          .agg(sum("v").as("s"), count(lit(1)).as("n"))
          .withColumn("nv", expr("CAST(CAST(s AS DOUBLE) / n AS BIGINT)"))
          .groupBy("cluster_id")
          .agg(expr("transform(array_sort(collect_list(struct(dim, nv))), p -> p.nv)")
            .as("new_cent"))
        // cut per-iteration lineage; k rows
        cents = m.checkpoint(cents.join(updates, cents("j") === updates("cluster_id"), "left")
          .select(col("j"),
            coalesce(col("new_cent"), col("cent")).as("cent"))) // empty cluster keeps its centroid
      }
      assignJoin(cents).select("vec_id", "cluster_id", "dist_sq")
    }
  }

  /** Upper bound for the literal (codegen) assignment form: each centroid
    * inlines `dim` literals into the argmin expression, so codegen size
    * grows with k·dim — past this, [[kmeansMicroAssign]] switches to the
    * broadcast-join form automatically (bit-identical output).
    */
  private[graft] val LiteralAssignMaxK = 64

  /** `cluster_kmeans` catalog entry — [[kmeansMicroAssign]] over the
    * embeddings table with the oracle-pinned defaults (k=8, two Lloyd
    * updates, final assignment under the updated centroids).
    */
  def clusterKmeans(spark: SparkSession, dir: String, k: Int = 8,
      lloydIters: Int = 2): DataFrame =
    kmeansMicroAssign(embeddings(spark, dir).select("vec_id", "embedding"),
      k, lloydIters)

  /** The SemDeDup scale knob: k that holds the expected cluster size at
    * `targetClusterSize` so the within-cluster pair work Σ n_c² ≈ n·target
    * stays LINEAR in the corpus — [[lshBitsFor]]'s occupancy argument
    * applied to k-means cells (the paper runs 11k clusters on LAION for
    * the same reason). Clamped to [1, 2^16] — the bound the broadcast-join
    * assignment genuinely supports (a 2^16-row centroid frame broadcasts
    * at ≤ 256 MB even at dim 512; the per-iteration update is fully
    * distributed, so k is executor-, not driver-, bounded). 2^16 clusters
    * × the 4096 target = ~268M vectors per k-means shard; a larger corpus
    * shards first (the standard SemDeDup deployment), it does not raise k.
    */
  def kmeansKFor(n: Long, targetClusterSize: Int = 4096): Int = {
    require(n > 0 && targetClusterSize > 0,
      s"kmeansKFor: need positive corpus size and target, got n=$n target=$targetClusterSize")
    math.min(1 << 16, math.max(1L, (n + targetClusterSize - 1) / targetClusterSize)).toInt
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as a first-class
    * operator: k-means-partition the embedding space, then search for
    * near-duplicates ONLY within clusters — the pruning that makes exact
    * cosine dedup tractable at corpus scale without an LSH recall trade.
    * Total pair work is Σ_c n_c² ≈ n²/k, so k is THE scale knob: grown
    * ∝ n via [[kmeansKFor]] (cluster size held constant) the pair stage
    * is linear in the corpus, and the within-cluster self-join carries
    * the same hash-sub-block skew guard as [[embeddingNearDupsLsh]]'s
    * bucket join (blocked exactly-once pairing, BlockedJoinPropertySpec)
    * so one dense cluster cannot straggle a single reduce task.
    *
    * Keep rule (deterministic): a vector is DROPPED iff some same-cluster
    * partner with a SMALLER vec_id has cosine ≥ threshold — the paper's
    * greedy "keep one per ε-ball" made id-stable (the paper keeps a
    * random or centroid-far member; min-id is the reproducible choice,
    * the [[canonicalDocs]] convention). No transitive closure is taken
    * (unlike [[semanticClusters]]): a chain a~b, b~c with cosine(a,c)
    * below threshold keeps a and drops BOTH b and c — exactly the greedy
    * the paper runs inside each cluster. Zero-norm vectors never pair
    * (the NaN-poisoning discipline) and are always kept.
    *
    * Output: (vec_id, cluster_id, kept: boolean) — one row per vector.
    */
  def semDeDup(spark: SparkSession, dir: String, k: Int = 8, lloydIters: Int = 2,
      threshold: Double = 0.4, clusterCap: Int = LshBucketCap): DataFrame =
    semDeDupFrom(embeddings(spark, dir), k, lloydIters, threshold, clusterCap)

  /** [[semDeDup]] over any (vec_id: long, embedding: array<float>) frame —
    * the seam the spec plants synthetic duplicates through.
    */
  def semDeDupFrom(vectors: DataFrame, k: Int = 8, lloydIters: Int = 2,
      threshold: Double = 0.4, clusterCap: Int = LshBucketCap): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    val e = m.cache(vectors
      .select(col("vec_id"), col("embedding"),
        Portable.l2NormNative("embedding").as("norm")))
    val assigned = kmeansMicroAssign(e.select("vec_id", "embedding"), k, lloydIters)
      .select("vec_id", "cluster_id") // payload-free: blocking replicates ids only
    val cn = assigned.groupBy("cluster_id").agg(count(lit(1)).as("n_c"))
    val blocked = m.fill(assigned.join(cn, Seq("cluster_id")) // one subtree for both self-join sides
      .withColumn("s", expr(s"(n_c + ${clusterCap - 1}L) div ${clusterCap}L"))
      .withColumn("bs", pmod(hash(col("vec_id")).cast("bigint"), col("s")))
      .withColumn("bo", explode(expr("sequence(0L, s - 1L)"))))
    // every same-cluster pair meets in exactly one (bs, bo) block cell —
    // the property-tested blocked-self-join pairing lemma; light clusters
    // have s=1 and degenerate to the plain equi-join
    val dropped = blocked.as("a").join(blocked.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.bs") === col("b.bo") && col("a.bo") === col("b.bs") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a")).filter(Portable.usableNorm(col("norm_a"))), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b")).filter(Portable.usableNorm(col("norm_b"))), "id_b")
      .filter(Portable.dotProductNative("emb_a", "emb_b") /
        (col("norm_a") * col("norm_b")) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("hit").isNull.as("kept"))
  }

  /** Embedding near-dups via sign-projection LSH — the 100 TB path for
    * corpora with GENUINE near-duplicates (cosine ≥ ~0.7, where the per-bit
    * collision probability 1−θ/π ≥ 0.75 makes banding selective).
    * Candidates come from an equi-join on (table, key) bucket ids produced
    * by the single-pass `graft_lsh_buckets` codegen expression (same
    * machinery as [[Similarity.lshTopK]]); only candidates are exactly
    * cosine-verified, so false positives never survive and the parameters
    * trade off recall only. With the defaults (16 tables × 8 bits) the miss
    * probability of a 0.9-cosine pair is (1−0.9²⁸)^16 ≈ 2e-6 per pair while
    * random background pairs collide in a given table with p ≈ 2⁻⁸.
    *
    * Input: any (vec_id: long, embedding: array<float>) frame. Output:
    * (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold —
    * recall-checked against planted ground truth in DedupSpec.
    */
  def embeddingNearDupsLsh(vectors: DataFrame, threshold: Double = 0.7,
      tables: Int = 16, bits: Int = 8,
      bucketCap: Int = LshBucketCap): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    // filled before AQE fans out the bucket + two payload consumers
    val e = m.fill(vectors
      .select(col("vec_id"), col("embedding"), Portable.l2NormNative("embedding").as("norm"))
      // zero/non-finite-norm exclusion (r14 review; r16 finite rule) —
      // same rationale as the grid path
      .filter(Portable.usableNorm(col("norm"))))
    // buckets carry only (vec_id, t, key) — candidate generation never
    // shuffles embedding payloads.
    //
    // HOT-BUCKET SKEW (r14, found by CorpusScaleProbe's ×8 cell stalling
    // 25–47 s on 2 of 32 cores): a dense semantic cluster puts n_b vectors
    // in ONE (t, key) cell, and the bucket self-join generates that cell's
    // C(n_b, 2) candidate pairs on the single reduce task owning the key.
    // Same disease, same cure as linkPredict's blocked wedges (r13): block
    // each bucket into s = ⌈n_b/bucketCap⌉ hash-sub-buckets, give every
    // row its own block (`bs`) and replicate it across the other side's
    // block (`bo`); joining on (t, key, a.bs=b.bo, a.bo=b.bs) spreads the
    // n_b² pair stream over s² shuffle keys at a replication cost of
    // n_b·s rows — output candidates BIT-IDENTICAL (every pair meets in
    // exactly one (ba, bb) cell). Light buckets have s=1 and the machinery
    // degenerates to the plain equi-join.
    val bucketed0 = e.select(col("vec_id"),
      posexplode(expr(s"graft_lsh_buckets(embedding, $tables, $bits)")).as(Seq("t", "key")))
    val bn = bucketed0.groupBy("t", "key").agg(count(lit(1)).as("n_b"))
    val blocked = m.fill(bucketed0.join(bn, Seq("t", "key")) // one subtree for both self-join sides
      .withColumn("s", expr(s"(n_b + ${bucketCap - 1}L) div ${bucketCap}L"))
      .withColumn("bs", pmod(hash(col("vec_id")).cast("bigint"), col("s")))
      .withColumn("bo", explode(expr("sequence(0L, s - 1L)"))))
    val cand = blocked.as("a").join(blocked.as("b"),
        col("a.t") === col("b.t") && col("a.key") === col("b.key") &&
          col("a.bs") === col("b.bo") && col("a.bo") === col("b.bs") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("norm").as("norm_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("norm").as("norm_b")), "id_b")
      .withColumn("cosine", Portable.dotProductNative("emb_a", "emb_b") / (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Banding width that holds the EXPECTED per-table bucket occupancy at
    * `targetOccupancy` for an `n`-vector corpus: 2^bits buckets per table
    * ⇒ bits = ⌈log₂(n / target)⌉, clamped to [4, 24]. This is the knob the
    * ×8 co-growth probe demonstrated (CorpusScaleProbe r14): at FIXED bits
    * the candidate stream grows quadratically with the corpus (occupancy
    * ∝ n ⇒ pairs ∝ n²/2^bits); holding occupancy constant holds the
    * per-vector candidate count — and the shuffle exponent — at ~1.
    * Recall trades: each added bit lowers a true pair's per-table
    * collision probability by the per-bit factor (1−θ/π), compensated in
    * production by raising `tables` or verified by the recall gate
    * (`dedup_embedding_lsh_check`) on planted pairs.
    */
  def lshBitsFor(n: Long, targetOccupancy: Int = 16): Int = {
    require(n > 0 && targetOccupancy > 0,
      s"lshBitsFor: need positive corpus size and occupancy, got n=$n target=$targetOccupancy")
    val raw = math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** LSH bucket block width for [[embeddingNearDupsLsh]]'s skew guard: a
    * bucket with more members splits into ⌈n_b/cap⌉ sub-blocks so its
    * quadratic pair generation spreads across cores instead of landing on
    * the one reduce task owning the bucket key. 256 ≈ 32k pairs per
    * sub-join cell — small enough to never straggle, large enough that
    * test-scale buckets (occupancy ≲ 60) keep s = 1.
    */
  val LshBucketCap = 256

  /** Driver-checkable recall gate for [[embeddingNearDupsLsh]] — the 100 TB
    * embedding-dedup path. The natural test corpus has NO pairs above
    * cosine 0.7 (it tops out ≈0.51), so genuine near-duplicates are planted
    * deterministically: for every `vec_id < nPlanted`, a copy at
    * `vec_id + PlantedIdOffset` with the first dimension zeroed — a real
    * perturbation (cosine ≈0.94–0.99 to its original, verified to create no
    * other pair ≥ 0.7) reproducible bit-for-bit in SQL, so the DuckDB
    * oracle recomputes the exact pair set of the augmented corpus and
    * asserts `lsh_found = TRUE` per pair. A green row is therefore a hard
    * proof that the sign-LSH path recovers every true near-dup pair on this
    * corpus — the [[Similarity.lshRecallTable]] pattern applied to dedup.
    *
    * The exact grid ([[embeddingNearDupsGrid]]) supplies the ground truth;
    * it remains the exact-contract form (quadratic by construction), while
    * this gate certifies the sub-quadratic route a 100 TB corpus must take.
    */
  /** Deterministic planted near-duplicates: a copy of every `vec_id <
    * nPlanted` at `vec_id + PlantedIdOffset` with the first dimension
    * zeroed — a real perturbation (cosine ≈0.94–0.99 to its original)
    * reproducible bit-for-bit in SQL, shared by every embedding recall
    * gate and the incremental catalog rows (the natural fixture has no
    * pairs above cosine 0.7).
    */
  private def plantedCopies(base: DataFrame, nPlanted: Int): DataFrame =
    base.filter(col("vec_id") < nPlanted)
      .select((col("vec_id") + PlantedIdOffset).as("vec_id"),
        concat(array(lit(0.0f)), expr("slice(embedding, 2, size(embedding) - 1)"))
          .as("embedding"))

  def embeddingLshRecall(spark: SparkSession, dir: String, threshold: Double = 0.7,
      nPlanted: Int = 20): DataFrame = {
    val base = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = base.unionByName(plantedCopies(base, nPlanted))
    val exact = embeddingNearDupsGrid(aug, threshold).select("id_a", "id_b")
    val lsh = embeddingNearDupsLsh(aug, threshold).select("id_a", "id_b")
    exact.join(lsh.withColumn("f", lit(true)), Seq("id_a", "id_b"), "left_outer")
      .select(col("id_a"), col("id_b"), coalesce(col("f"), lit(false)).as("lsh_found"))
  }

  /** Planted-copy id offset for [[embeddingLshRecall]] (mirrored in its
    * DuckDB oracle SQL).
    */
  val PlantedIdOffset: Long = 100000L

  /** The 100 TB form of [[semanticClusters]]: connected components over the
    * SIGN-LSH near-dup pairs instead of the quadratic grid. Run on the
    * planted-copy corpus at threshold 0.7 (the natural fixture has no
    * pairs that high — [[embeddingLshRecall]]'s construction), where the
    * hash-exact oracle is sound because LSH pairs are structurally a
    * SUBSET of the exact-threshold pairs (exact-cosine verification) and
    * the recall gate proves the ⊇ direction on this corpus every round —
    * equal pair sets ⇒ equal closures. The grid never runs here.
    */
  def semanticClustersLsh(spark: SparkSession, dir: String, threshold: Double = 0.7,
      nPlanted: Int = 20): DataFrame = {
    val base = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    Materialize { _ => // releases the LSH pairs once the components are materialized
      connectedComponentsAdaptive(embeddingNearDupsBy(base.unionByName(plantedCopies(base, nPlanted)),
          threshold, EmbeddingStrategy.SignLsh)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    }.select(col("node").as("vec_id"), col("label").as("cluster_id"))
  }

  /** INCREMENTAL embedding near-dup detection — the [[incrementalNearDups]]
    * nightly-increment shape for the EMBEDDING family: NEW vectors are
    * checked against the EXISTING corpus via sign-LSH bucket collision;
    * corpus×corpus and new×new pairs are never generated. Output:
    * (id_new, id_corpus, cosine) for every new vector whose exact cosine vs
    * a corpus vector is ≥ `threshold` — what a pipeline drops (or routes to
    * clustering) before appending the day's embeddings.
    *
    * Scale: the corpus side's bucket ids are what a deployment PERSISTS
    * between increments ([[writeEmbeddingBucketStore]] — `tables` ints per
    * vector); with a daily increment ≪ corpus, the new side's buckets
    * BROADCAST and the corpus streams through unshuffled. Exact-cosine
    * verification touches candidates only, so false positives never
    * survive; recall is the LSH miss probability, gated every round by
    * `dedup_embedding_lsh_check` on the same planted corpus.
    */
  def embeddingIncrementalFrom(corpus: DataFrame, increment: DataFrame,
      threshold: Double = 0.7, tables: Int = 16, bits: Int = 8,
      corpusBuckets: Option[DataFrame] = None): DataFrame = Materialize { m =>
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // Zero-norm vectors are excluded on BOTH sides: their cosine is 0/0 =
    // NaN, and Spark's NaN-greatest ordering makes `NaN >= threshold`
    // TRUE — a zero vector would otherwise be reported as a near-dup of
    // every bucket-colliding partner (the normedOf rationale, applied to
    // this family).
    def withNorm(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      graft.functions.Portable.l2NormNative("embedding").as("norm"))
      .filter(graft.functions.Portable.usableNorm(col("norm")))
    def buckets(df: DataFrame) = df.select(col("vec_id"),
      posexplode(expr(s"graft_lsh_buckets(embedding, $tables, $bits)")).as(Seq("t", "key")))
    // the corpus is cached only when ITS buckets must be computed here (two
    // consumers); on the store-backed path it has exactly one consumer (the
    // verification join) and caching it would pin the whole corpus in
    // memory against the "streams through unshuffled" contract
    val cor = if (corpusBuckets.isEmpty) m.fill(withNorm(corpus)) else withNorm(corpus)
    val inc = m.fill(withNorm(increment))
    val corB = corpusBuckets.getOrElse(buckets(cor))
      .select(col("t"), col("key"), col("vec_id").as("id_corpus"))
    val newB = buckets(inc).select(col("t"), col("key"), col("vec_id").as("id_new"))
    // de-hinted (r14): the increment's buckets broadcast by AQE size gate
    // when small; a backfill-sized increment shuffles instead of OOMing.
    //
    // HOT-BUCKET SKEW, bipartite form (r14 review): a dense semantic
    // cluster puts n_b corpus vectors and m_b increment vectors in ONE
    // (t, key) cell; when both sides shuffle (the backfill regime), all
    // n_b·m_b candidate rows land on the single task owning the key — the
    // straggler the self-join was cured of in embeddingNearDupsLsh. The
    // bipartite cure: the corpus side blocks into s = ⌈n_b/cap⌉ hash-sub-
    // buckets and the increment replicates across them (cost m_b·s rows —
    // increments pay the replication, corpus rows never copy), joining on
    // (t, key, bs). Every (corpus, increment) pair meets EXACTLY once:
    // the corpus row owns one block, the increment row visits all s.
    // Light buckets have s=1 and the machinery degenerates to the plain
    // equi-join; increment buckets with no corpus partner drop at the bn
    // join (they had no candidates anyway).
    val bn = corB.groupBy("t", "key").agg(count(lit(1)).as("n_b"))
    val corBlocked = corB.join(bn, Seq("t", "key"))
      .withColumn("bs", pmod(hash(col("id_corpus")).cast("bigint"),
        expr(s"(n_b + ${LshBucketCap - 1}L) div ${LshBucketCap}L")))
    val newBlocked = newB.join(bn, Seq("t", "key"))
      .withColumn("bs", explode(expr(
        s"sequence(0L, (n_b + ${LshBucketCap - 1}L) div ${LshBucketCap}L - 1L)")))
    val cand = corBlocked.join(newBlocked, Seq("t", "key", "bs"))
      .select("id_new", "id_corpus")
      .distinct()
    cand
      .join(inc.select(col("vec_id").as("id_new"), col("embedding").as("emb_n"), col("norm").as("norm_n")), "id_new")
      .join(cor.select(col("vec_id").as("id_corpus"), col("embedding").as("emb_c"), col("norm").as("norm_c")), "id_corpus")
      .withColumn("cosine",
        graft.functions.Portable.dotProductNative("emb_n", "emb_c") / (col("norm_n") * col("norm_c")))
      .filter(col("cosine") >= threshold)
      .select("id_new", "id_corpus", "cosine")
  }

  /** Writes the corpus side's sign-LSH bucket ids as the parquet store a
    * nightly embedding increment joins against — `tables` (t, key) ints per
    * vector, the embedding-family analogue of [[writeSignatureStore]]. The
    * bucket ids are deterministic (fixed splitmix hyperplanes), so a store
    * written once stays valid for every future increment.
    */
  def writeEmbeddingBucketStore(corpus: DataFrame, storeDir: String,
      tables: Int = 16, bits: Int = 8): Unit = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    corpus.select(col("vec_id"),
        posexplode(expr(s"graft_lsh_buckets(embedding, $tables, $bits)")).as(Seq("t", "key")))
      .write.mode("overwrite").parquet(s"$storeDir/buckets.parquet")
    // the store records ITS OWN hash parameters: an increment bucketed
    // with different tables/bits would share no (t, key) space with the
    // store and silently report zero near-dups — the reader re-derives
    // the new side's buckets from this metadata, never from its defaults
    import corpus.sparkSession.implicits._
    Seq((tables, bits)).toDF("tables", "bits")
      .write.mode("overwrite").parquet(s"$storeDir/meta.parquet")
  }

  /** The deployment form of [[embeddingIncrementalFrom]]: the corpus bucket
    * ids round-trip through a PERSISTED parquet store (build → write → read
    * back → increment join), mirroring [[incrementalNearDupsViaStore]]. The
    * exact-cosine verification still reads the corpus embeddings — a
    * deployment persists those alongside (they ARE the corpus). Output
    * contract (and oracle) identical to the direct form, so a green row
    * proves the store round trip is lossless.
    */
  def embeddingIncrementalViaStore(spark: SparkSession, corpus: DataFrame,
      increment: DataFrame, threshold: Double = 0.7,
      storeDir: Option[String] = None,
      tables: Int = 16, bits: Int = 8): DataFrame = {
    val store = storeDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-emb-bucket-store").toString)
    try {
      writeEmbeddingBucketStore(corpus, store, tables, bits)
      // hash parameters come back from the store's OWN metadata, so the
      // new side can never be bucketed with mismatched hyperplanes (a
      // query-only deployment reads meta + buckets and calls
      // embeddingIncrementalFrom the same way)
      val meta = ParquetSource.read(spark, s"$store/meta.parquet").head()
      embeddingIncrementalFrom(corpus, increment, threshold,
        tables = meta.getInt(0), bits = meta.getInt(1),
        corpusBuckets = Some(ParquetSource.read(spark, s"$store/buckets.parquet")))
    } finally {
      if (storeDir.isEmpty) { // result is checkpointed — the temp store can go
        import scala.reflect.io.Directory
        new Directory(new java.io.File(store)).deleteRecursively()
      }
    }
  }

  /** Catalog form of [[embeddingIncrementalFrom]] on the planted-copy
    * corpus (the [[embeddingLshRecall]] construction): the increment is the
    * `nPlanted` perturbed copies, the corpus is the natural embeddings
    * table — each planted vector must come back paired with its original.
    * Hash-exact oracle: DuckDB recomputes the exact all-pairs new×corpus
    * cosine set; sound because verified LSH pairs ⊆ exact pairs and the
    * recall gate proves ⊇ on this corpus every round.
    */
  def embeddingIncrementalPlanted(spark: SparkSession, dir: String,
      threshold: Double = 0.7, nPlanted: Int = 20): DataFrame = {
    val base = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    embeddingIncrementalFrom(base, plantedCopies(base, nPlanted), threshold)
  }

  /** [[embeddingIncrementalPlanted]] through the persisted bucket store —
    * the `dedup_incremental_store` contract for embeddings.
    */
  def embeddingIncrementalPlantedViaStore(spark: SparkSession, dir: String,
      threshold: Double = 0.7, nPlanted: Int = 20): DataFrame = {
    val base = embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    embeddingIncrementalViaStore(spark, base, plantedCopies(base, nPlanted), threshold)
  }
}
