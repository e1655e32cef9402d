package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{FreqItemsCheck, Portable}
import graft.sources.ParquetSource

/** Text-analysis operators for a training-data pipeline, over the
  * `documents` table. All formulas are integer-count based (ratios as a
  * single double division) so the DuckDB oracles match bit-for-bit.
  *
  * Scale: every operator is a narrow projection — no shuffle, no UDFs, all
  * whole-stage-codegen `functions._`/HOF expressions, columns pruned at the
  * parquet scan.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    ParquetSource.read(spark, s"$dir/documents.parquet")

  /** Whitespace + BPE-ish token counting. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(Portable.tokens("text")).cast("bigint").as("n_tokens"),
      // BPE-ish proxy: word pieces after splitting on non-alphanumerics,
      // counting 4-char chunks (ceil(len/4) per piece).
      expr("aggregate(filter(split(lower(text), '[^a-z0-9]+'), p -> p != ''), 0L, " +
        "(acc, p) -> acc + CAST(ceil(length(p) / 4.0) AS BIGINT))").as("n_subword_est"),
      length(col("text")).cast("bigint").as("n_chars_measured"))

  private val Stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for", "with", "as", "at")

  /** Quality scoring: length stats, stopword ratio, punctuation ratio,
    * alpha ratio, mean word length.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val sw = Stopwords.map(s => s"'$s'").mkString(", ")
    docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      .select(
        col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        expr(s"size(filter(toks, t -> lower(t) IN ($sw)))").cast("bigint").as("n_stopwords"),
        expr("regexp_count(text, '[.,;:!?]')").cast("bigint").as("n_punct"),
        expr("regexp_count(text, '[a-zA-Z]')").cast("bigint").as("n_alpha"))
      // n_tokens >= 1 always (split(trim(x)) of ANY string yields at least
      // [""], both engines), so the token-ratio divisors are safe; n_chars
      // is 0 for an EMPTY document, and Spark 4's ANSI mode throws
      // DIVIDE_BY_ZERO even for double division — one empty doc in 100 TB
      // killed the whole job (r15 adversarial-fixture sweep). Guard to NaN,
      // which is exactly what the DuckDB oracle's 0.0/0 evaluates to.
      .withColumn("stopword_ratio", col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("alpha_ratio",
        when(col("n_chars") === 0, lit(Double.NaN))
          .otherwise(col("n_alpha").cast("double") / col("n_chars")))
      .withColumn("mean_word_len",
        (col("n_chars") - (col("n_tokens") - lit(1))).cast("double") / col("n_tokens"))
  }

  /** Gopher-style quality RULE SET (Rae et al. 2021, Appendix A — the
    * filter battery most crawl pipelines run after language ID):
    * per-document NAMED rule flags plus the composed `keep` decision, so
    * a pipeline can both filter and AUDIT which rule fired. Rules:
    * word count in [50, 100k]; mean word length in [3, 10]; symbol
    * (`#`/`...`) to word ratio ≤ 0.1; ≤ 90% of lines bullet-started;
    * ≤ 30% of lines ellipsis-ended; ≥ 2 stopword hits; ≥ 80% of words
    * containing an alphabetic character.
    *
    * Exactness: every ratio threshold is evaluated in INTEGER arithmetic
    * (`10·n_symbols ≤ n_words`, `3·n_words ≤ sum_word_chars ≤
    * 10·n_words`, …) — no float division anywhere, so the DuckDB oracle
    * matches bit-for-bit including boundary documents.
    *
    * Scale: map-only (HOF filters + regexp counts over each doc — no
    * UDF, no shuffle, partitioning preserved); composes in front of
    * [[selectTokenBudget]] / [[domainMix]] the way the published
    * pipelines chain it.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(docs(spark, dir))

  /** [[gopherRules]] body over any (doc_id, text) frame — shared verbatim
    * by the STREAMING filter ([[graft.streaming.StreamQuality]]), so the
    * online path cannot drift from the batch contract. Pure per-row
    * function: stateless on a stream, idempotent under re-delivery.
    */
  def gopherRulesOn(d: DataFrame): DataFrame = {
    val sw = Stopwords.map(s => s"'$s'").mkString(", ")
    d
      .withColumn("toks", Portable.tokens("text"))
      .withColumn("lines", split(col("text"), "\n"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("n_words"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("sum_word_chars"),
        expr("regexp_count(text, '#|\\\\.\\\\.\\\\.')").cast("bigint").as("n_symbols"),
        size(col("lines")).cast("bigint").as("n_lines"),
        expr("size(filter(lines, l -> ltrim(l) RLIKE '^[-*]'))").cast("bigint")
          .as("n_bullet_lines"),
        expr("size(filter(lines, l -> rtrim(l) LIKE '%...'))").cast("bigint")
          .as("n_ellipsis_lines"),
        expr(s"size(filter(toks, t -> lower(t) IN ($sw)))").cast("bigint")
          .as("n_stopword_hits"),
        expr("size(filter(toks, t -> t RLIKE '[a-zA-Z]'))").cast("bigint")
          .as("n_alpha_words"))
      .withColumn("rule_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("rule_mean_word_len",
        col("sum_word_chars") >= col("n_words") * 3 &&
          col("sum_word_chars") <= col("n_words") * 10)
      .withColumn("rule_symbol_ratio", col("n_symbols") * 10 <= col("n_words"))
      .withColumn("rule_bullet_lines",
        col("n_bullet_lines") * 10 <= col("n_lines") * 9)
      .withColumn("rule_ellipsis_lines",
        col("n_ellipsis_lines") * 10 <= col("n_lines") * 3)
      .withColumn("rule_stopwords", col("n_stopword_hits") >= 2)
      .withColumn("rule_alpha_words",
        col("n_alpha_words") * 5 >= col("n_words") * 4)
      .withColumn("keep",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_symbol_ratio") && col("rule_bullet_lines") &&
          col("rule_ellipsis_lines") && col("rule_stopwords") &&
          col("rule_alpha_words"))
  }

  private val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\\\b(the|and|of|to|in|is)\\\\b",
    "de" -> "\\\\b(der|die|und|das|ist|nicht)\\\\b",
    "es" -> "\\\\b(el|la|los|que|es|una)\\\\b",
    "fr" -> "\\\\b(le|la|les|est|une|dans)\\\\b")

  /** Language-ID heuristic: stopword-marker counts per language, argmax with
    * a fixed preference order (en > de > es > fr on ties).
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOn(docs(spark, dir)).select(
      col("doc_id"), col("n_en"), col("n_de"), col("n_es"), col("n_fr"),
      col("lang_pred"))

  /** [[langId]] body over any frame with a `text` column — shared by the
    * composed C4-style pipeline so the two rows cannot drift.
    */
  def langIdOn(d: DataFrame): DataFrame = {
    val withCounts = LangMarkers.foldLeft(d) { case (df, (lang, re)) =>
      df.withColumn(s"n_$lang", expr(s"regexp_count(lower(text), '$re')").cast("bigint"))
    }
    withCounts.withColumn("lang_pred",
      expr(
        """CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr THEN 'en'
          |     WHEN n_de >= n_es AND n_de >= n_fr THEN 'de'
          |     WHEN n_es >= n_fr THEN 'es'
          |     ELSE 'fr' END""".stripMargin))
  }

  /** Deterministic train/test splitting + stratified sampling by portable
    * hash: the assignment depends only on the document text (not row order,
    * partitioning, or engine), so the split is reproducible anywhere —
    * the property RAND()-based sampling can never give a pipeline.
    * Buckets come from a second-hash (decorrelated from dedup/fingerprint
    * uses of base 31/37).
    */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        (graft.functions.Portable.polyHashNative("coalesce(text, '')", 41, 999999937L) % 100).as("bucket"))
      .withColumn("split",
        expr("CASE WHEN bucket < 10 THEN 'test' WHEN bucket < 20 THEN 'valid' ELSE 'train' END"))
      .withColumn("in_stratified_20pct", col("bucket") % 5 === 0)
  }

  /** DETERMINISTIC TRAINING SHUFFLE + SHARDING (round 10): the step between
    * curation and the trainer — every document gets a shard and a position
    * within it, both functions of the portable content hash alone, so the
    * exact same byte stream reaches the trainer from any engine, any
    * partitioning, any rerun (RAND()-shuffles cannot give a resumable
    * curriculum). Shard = hash mod `nShards`; position = rank of
    * (hash, doc_id) within the shard — pseudorandom document order with a
    * total tiebreak.
    *
    * Scale: one exchange (hash-partition by shard — uniform by
    * construction) + one per-shard sort; that sort is inherent to
    * materializing an ORDERED shard. nShards scales with trainer
    * data-parallelism, keeping per-shard sorts bounded.
    */
  def shuffleShards(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val keyed = docs(spark, dir).select(
      col("doc_id"),
      // base 43: decorrelated from dedup (31/37) and split (41) hash uses
      (graft.functions.Portable.polyHashNative("coalesce(text, '')", 43, 999999893L)).as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(nShards.toLong)).cast("bigint"))
    keyed
      .withColumn("pos", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("skey"), col("doc_id"))).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** SHARD MANIFEST (round 10): the artifact a trainer's data loader reads
    * before the first batch — per shard, the document count, whitespace-
    * token total, subword-estimate total and byte total, from
    * [[shuffleShards]] composed with [[tokenCount]]. One join on doc_id
    * (both sides are projections of the same scan at plan time) and one
    * metadata-sized aggregate; the manifest itself is nShards rows.
    */
  def shardManifest(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame =
    shuffleShards(spark, dir, nShards)
      .join(tokenCount(spark, dir), "doc_id")
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_subword_est")).as("n_subwords_est"),
        sum(col("n_chars_measured")).as("n_chars"))

  /** Fixed-COUNT stratified sample: exactly `perStratum` documents per
    * language (fewer only if the stratum is smaller), selected by ranking
    * each stratum in portable-hash order — the eval-set construction
    * primitive. Hash order is pseudorandom but engine-independent, so the
    * sample is the SAME set everywhere, forever ([[sampleSplit]] gives
    * deterministic RATES; this gives deterministic COUNTS, which rate
    * sampling cannot: a 2%-rate sample of a stratum is ±√n, not 20).
    *
    * Scale: one exchange (hash partition by lang) + per-stratum sort.
    * Few-language corpora make the per-lang sort wide — the same
    * trade-off as [[domainMix]] and the documented swap is the grouped
    * top-k aggregate (`graft_topk` forwards ≤ perStratum rows per lang
    * from each map task, nothing global ever sorts).
    */
  /** FREQUENT-PAIR CO-OCCURRENCE mining — the market-basket primitive
    * (a-priori pruned to one level): support counts and integer-permille
    * lift for pairs of FREQUENT tokens appearing in the same document.
    * The candidate space is bounded by a PARAMETER, not the vocabulary:
    * only the top-`maxTokens` tokens by document frequency (ties by token
    * asc) can form pairs, so the per-doc pair fan-out is ≤ maxTokens² and
    * the frequent set broadcasts (the a-priori principle — a pair can
    * only be frequent if both members are).
    *
    * Scale: one df aggregate + TakeOrdered for the frequent set; the
    * within-doc pair join is an equi-join on doc_id between two
    * broadcast-filtered exploded sides; support counting is map-combined.
    * `lift_permille = support·n_docs·1000 div (df_a·df_b)` — exact
    * integers end to end.
    */
  def cooccurrence(spark: SparkSession, dir: String,
      maxTokens: Int = 32, minSupport: Int = 10): DataFrame = {
    val d = docs(spark, dir).withColumn("toks", Portable.tokens("text"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val tokDocs = d.select(col("doc_id"), explode(array_distinct(col("toks"))).as("token"))
    val dfCounts = tokDocs.groupBy("token").agg(count(lit(1)).as("df"))
    val frequent = dfCounts.orderBy(desc("df"), col("token")).limit(maxTokens)
    val hits = tokDocs.join(broadcast(frequent), "token")
    val a = hits.select(col("doc_id"), col("token").as("tok_a"), col("df").as("df_a"))
    val b = hits.select(col("doc_id"), col("token").as("tok_b"), col("df").as("df_b"))
    a.join(b, Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("support"),
        min(col("df_a")).as("df_a"), min(col("df_b")).as("df_b"))
      .filter(col("support") >= minSupport)
      .join(broadcast(nDocs))
      .select(
        col("tok_a"), col("tok_b"), col("support"), col("df_a"), col("df_b"),
        // r14 deep-read: the numerator support·n_docs·1000 wraps Long once
        // support·n_docs > 9.2e15 (reachable at ~1e8 docs with a frequent
        // pair) — and wraps SILENTLY on Spark while DuckDB errors. Widened
        // to DECIMAL(38,0) / HUGEINT on the two engines: `div` on decimals
        // is still the exact integral quotient, bit-equal for every
        // in-range value, safe to ~1e17 docs.
        expr("CAST(support AS DECIMAL(38,0)) * n_docs * 1000 div (CAST(df_a AS DECIMAL(38,0)) * df_b)")
          .as("lift_permille"))
  }

  /** WEIGHTED sampling WITHOUT replacement — Efraimidis–Spirtakis
    * exponential clocks made engine-portable: each doc draws a
    * deterministic pseudo-uniform `u ∈ (0,1)` from a Knuth-multiplicative
    * hash of its id, its clock is `-ln(u)/w` (smaller clock = sampled
    * earlier; heavier docs get proportionally smaller clocks — the
    * classic reduction of weighted sampling to a minimum over
    * exponentials), and the k smallest clocks win. Every step is pinned
    * to integers BOTH engines compute identically: `u = num/(P1+1)` as an
    * exact rational, `lnu_micro = round(-ln(u)·1e6)` (the `text_lm_xent`
    * ln-quantization discipline), `clock = (lnu_micro · 2^20) div w`.
    * Weights here are token counts — sample ∝ length, the standard
    * token-budget draw.
    *
    * Scale: map-only scoring + ONE bounded-heap `graft_topk` aggregate —
    * map tasks forward ≤ k rows each; nothing global ever sorts, and
    * the determinism means re-runs and re-partitions reproduce the
    * sample bit-for-bit (a `rand()` sample would not).
    */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val scored = docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("bigint").as("w"))
      // r14 deep-read: reduce doc_id mod P1 BEFORE the Knuth multiply —
      // the raw product doc_id·2654435761 wraps Long past doc_id ≈ 3.5e9
      // (a 100 TB corpus's id range), where Spark silently wraps negative
      // (num ≤ 0 → ln of a non-positive) while DuckDB ERRORS on bigint
      // overflow — an engine divergence. 654435747 ≡ 2654435761 (mod P1),
      // so residues — and every sampled clock — are IDENTICAL for all ids
      // already in range, and the product is now ≤ (P1−1)·654435747 < 2^60
      // for every non-negative id.
      .withColumn("num", (pmod(col("doc_id"), lit(Portable.P1)) * lit(654435747L)) % lit(Portable.P1) + 1)
      .withColumn("lnu_micro",
        expr(s"CAST(round(-ln(CAST(num AS DOUBLE) / ${Portable.P1 + 1}) * 1000000) AS BIGINT)"))
      .withColumn("clock", expr("(lnu_micro * 1048576) div w"))
    scored
      .groupBy()
      .agg(expr(s"graft_topk(doc_id, -clock, $k)").as("top"))
      .select(posexplode(col("top.id")).as(Seq("pos", "doc_id")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("rank"))
      .join(scored.select("doc_id", "w", "clock"), "doc_id")
      .select("doc_id", "w", "clock", "rank")
  }

  def sampleStratified(spark: SparkSession, dir: String, perStratum: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("rank_hash"), col("doc_id"))
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.Portable.polyHashNative("coalesce(text, '')", 43, 999999893L).as("rank_hash"))
      .withColumn("stratum_rank", row_number().over(w).cast("bigint"))
      .filter(col("stratum_rank") <= perStratum)
  }

  /** The documented 100 TB swap for [[sampleStratified]], implemented: the
    * same fixed-count per-language sample through the bounded-heap
    * `graft_topk` aggregate instead of a per-stratum window. Each map task
    * forwards AT MOST `perStratum` rows per language to the exchange —
    * nothing is ever globally sorted — so a 4-language 100 TB corpus costs
    * 4×perStratum shuffled rows instead of a 4-partition full sort.
    * Bottom-k by (rank_hash, doc_id) maps onto the aggregate's
    * (score desc, id asc) contract by negating the hash; hash values are
    * < 2^30, exact in double. Bit-equal to the window form (spec + shared
    * oracle).
    */
  def sampleStratifiedTopK(spark: SparkSession, dir: String, perStratum: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.Portable.polyHashNative("coalesce(text, '')", 43, 999999893L).as("rank_hash"))
      .groupBy("lang")
      .agg(expr(s"graft_topk(doc_id, -CAST(rank_hash AS DOUBLE), $perStratum)").as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("t.id").as("doc_id"),
        col("lang"),
        (-col("t.score")).cast("long").as("rank_hash"),
        (col("pos") + 1).cast("long").as("stratum_rank"))
  }

  /** Weighted domain-mixture sampling — build a training mix with TARGET
    * PROPORTIONS (the Pile/Dolma-style mixture step; [[domainMix]] is the
    * equal-proportion special case). Each language receives
    * `floor(totalDocs · weight)` slots, filled in portable-hash order so
    * the mix is the same set on any engine, forever; under-populated
    * strata contribute what they have.
    *
    * Scale: the bounded-heap `graft_topk` aggregate with k = the LARGEST
    * cap — each map task forwards ≤ maxCap rows per language to the one
    * exchange, nothing global ever sorts — then per-language caps apply as
    * a post-filter on the rank (same [[sampleStratifiedTopK]] recipe,
    * proven window-equivalent).
    */
  def sampleMixture(spark: SparkSession, dir: String,
      weights: Seq[(String, Double)] =
        Seq("en" -> 0.4, "zh" -> 0.2, "de" -> 0.2, "es" -> 0.1, "fr" -> 0.1),
      totalDocs: Long = 150L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    require(weights.nonEmpty, "sampleMixture: weights must be non-empty")
    // a repeated language would silently resolve last-wins through the
    // cap MAP below (the old CASE resolved first-wins) — refuse instead
    // of picking either semantics silently
    require(weights.map(_._1).distinct.size == weights.size,
      s"sampleMixture: duplicate language keys in weights: ${weights.map(_._1).mkString(", ")}")
    val caps = weights.map { case (l, w) => (l, math.floor(totalDocs * w).toLong) }
    val maxCap = caps.map(_._2).max
    require(maxCap > 0,
      s"sampleMixture: totalDocs=$totalDocs floors every weighted cap to 0 " +
        s"(weights ${weights.map(_._2).mkString(", ")}); raise totalDocs")
    // caps as a literal MAP, not an interpolated CASE: language codes are
    // caller-supplied, and a quote inside one would break (or inject into)
    // a string-built SQL expression; element_at on a map literal treats
    // them as data
    val capExpr = coalesce(element_at(typedLit(caps.toMap), col("lang")), lit(0L))
    docs(spark, dir)
      // map-side: unweighted languages would heap-process and shuffle rows
      // only for the rank filter to drop them all — prune them at the scan
      .filter(col("lang").isin(caps.filter(_._2 > 0).map(_._1): _*))
      .select(col("doc_id"), col("lang"),
        Portable.polyHashNative("coalesce(text, '')", 43, 999999893L).as("rank_hash"))
      .groupBy("lang")
      .agg(expr(s"graft_topk(doc_id, -CAST(rank_hash AS DOUBLE), $maxCap)").as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as("doc_id"), col("lang"),
        (col("pos") + 1).cast("bigint").as("mix_rank"))
      .filter(col("mix_rank") <= capExpr)
  }

  /** TEMPERATURE-scaled mixture sampling — the mC4/multilingual α-sampling
    * step: where [[sampleMixture]] takes explicit target weights, this
    * DERIVES them from the observed per-key counts, flattened by a
    * temperature so low-resource keys are up-weighted relative to their
    * raw share (`w_k ∝ n_k^(1/T)`; T=1 is proportional, T→∞ uniform).
    *
    * The catalog contract pins T = 2 with INTEGER-EXACT arithmetic so both
    * engines compute identical targets: weight = `floor(sqrt(n_k))` (sqrt
    * is IEEE-correctly-rounded in any engine, floor makes it an integer —
    * a general `pow(n, 1/T)` is NOT correctly-rounded and could flip a
    * floor across engines), target_k = `totalDocs · w_k div Σw`. Slots
    * fill in portable-hash order — the same deterministic everywhere-same
    * sample as the rest of the family.
    *
    * Scale: identical plan to [[sampleMixture]] — per-key counts are a
    * tiny driver-side aggregate, selection is the bounded-heap
    * `graft_topk` with k = the largest target (map tasks forward ≤ k rows
    * per key, nothing global ever sorts), per-key targets post-filter the
    * rank via a literal map.
    */
  def sampleTemperature(spark: SparkSession, dir: String, totalDocs: Long = 200L,
      keyCol: String = "lang", maxKeys: Int = 10000): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    temperatureMix(
      docs(spark, dir).select(col("doc_id"), col(keyCol),
        Portable.polyHashNative("coalesce(text, '')", 43, 999999893L).as("rank_hash")),
      keyCol, totalDocs, maxKeys)
  }

  /** THE T=2 temperature-selection contract over a prepared
    * (doc_id, key, rank_hash) frame — one implementation shared by
    * [[sampleTemperature]] and [[pipelineCurate]] so the integer-exact
    * target arithmetic and tie-break can never drift between the
    * standalone row and the composed chain.
    */
  private def temperatureMix(prepared: DataFrame, keyCol: String,
      totalDocs: Long, maxKeys: Int = 10000): DataFrame = {
    // Cardinality guard: the per-key targets are a driver-side literal
    // map, so the key domain must be BOUNDED (lang, source, domain — not
    // doc_id or text). limit(maxKeys+1) caps what the driver ever holds
    // even on the failure path, and the require fails loudly instead of
    // silently collecting an unbounded aggregate.
    val counts = prepared.groupBy(keyCol).agg(count(lit(1)).as("n"))
      .limit(maxKeys + 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(counts.length <= maxKeys,
      s"temperatureMix: '$keyCol' has more than $maxKeys distinct values; " +
        "temperature targets are a per-key driver map — pass a bounded key " +
        "domain (lang/source/domain) or raise maxKeys explicitly")
    require(counts.nonEmpty, "temperatureMix: empty corpus")
    val weights = counts.map { case (k, n) => (k, math.sqrt(n.toDouble).toLong) }
    val sumW = weights.map(_._2).sum
    val targets = weights.map { case (k, w) => (k, totalDocs * w / sumW) }.toMap
    require(targets.values.max > 0,
      s"temperatureMix: totalDocs=$totalDocs floors every target to 0; raise totalDocs")
    val maxTarget = targets.values.max
    prepared.filter(col(keyCol).isin(targets.filter(_._2 > 0).keys.toSeq: _*))
      .groupBy(keyCol)
      .agg(expr(s"graft_topk(doc_id, -CAST(rank_hash AS DOUBLE), $maxTarget)").as("top"))
      .select(col(keyCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.id").as("doc_id"), col(keyCol),
        (col("pos") + 1).cast("bigint").as("mix_rank"))
      .filter(col("mix_rank") <= coalesce(element_at(typedLit(targets), col(keyCol)), lit(0L)))
  }

  /** Token-budget corpus selection — "the best documents that fit a token
    * budget", the curation step that turns a scored corpus into a training
    * set of a target size. Contract (greedy prefix, NOT a knapsack): order
    * documents by (quality_key DESC, doc_id ASC) and keep the longest
    * prefix whose running token sum stays ≤ `budgetTokens`; selection
    * stops at the first document that does not fit, even if later smaller
    * ones would. quality_key is the integer alpha-per-mille
    * `n_alpha·1000 div n_chars` — pure integer arithmetic, so both engines
    * rank identically (a double score could flip ties across engines).
    *
    * 100 TB plan — NO global sort: the naive form is ORDER BY quality
    * DESC + a running-sum window over one partition, i.e. a full-corpus
    * sort through a single task. Instead:
    *   1. one scan → per-key histogram (≤1001 rows: key ∈ 0..1000) of
    *      token sums — only the histogram reaches the driver;
    *   2. the driver walks keys descending to find the boundary key `t`
    *      and the budget remainder `r` left for it;
    *   3. keys above `t` are selected by a MAP-ONLY filter; the running
    *      sum window runs over the boundary key's docs alone (~1/1000 of
    *      the corpus; a finer key narrows it further).
    * Equivalent to the global prefix rule because ties in key are ordered
    * by doc_id on both paths.
    */
  def selectTokenBudget(spark: SparkSession, dir: String,
      budgetTokens: Long = 20000L): DataFrame = {
    val base = docs(spark, dir)
      .select(
        col("doc_id"),
        size(Portable.tokens("text")).cast("bigint").as("n_tokens"),
        expr("CAST(regexp_count(text, '[a-zA-Z]') AS BIGINT)").as("n_alpha"),
        length(col("text")).cast("bigint").as("n_chars"))
      .filter(col("n_chars") > 0)
      .withColumn("quality_key", expr("n_alpha * 1000 div n_chars"))
    // Pass 1: bounded histogram — the ONLY thing the driver ever holds.
    val hist = base.groupBy("quality_key")
      .agg(sum("n_tokens").as("toks"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    var acc = 0L
    var boundary = Long.MinValue // all-fit ⇒ no boundary key exists
    var remainder = 0L
    var i = 0
    while (i < hist.length && boundary == Long.MinValue) {
      val (k, toks) = hist(i)
      if (acc + toks <= budgetTokens) acc += toks
      else { boundary = k; remainder = budgetTokens - acc }
      i += 1
    }
    val selectedFull = base.filter(col("quality_key") > boundary)
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy("doc_id") // single partition BY DESIGN: boundary-key docs only
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val selectedBoundary = base.filter(col("quality_key") === boundary)
      .withColumn("cum", sum("n_tokens").over(wB))
      .filter(col("cum") <= remainder)
      .drop("cum")
    selectedFull.unionByName(selectedBoundary)
  }

  /** PII / content filtering: pattern counts (emails, URLs, numeric and
    * capitalized tokens) plus denylist redaction — the
    * scrub-before-training step of a data pipeline. Pure regex projections,
    * map-only.
    */
  def piiFilter(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      expr("regexp_count(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}')").cast("bigint").as("n_emails"),
      expr("regexp_count(text, 'https?://[^\\\\s]+')").cast("bigint").as("n_urls"),
      expr("regexp_count(text, '\\\\b[0-9]+\\\\b')").cast("bigint").as("n_number_tokens"),
      expr("regexp_count(text, '\\\\b[A-Z][a-z]+\\\\b')").cast("bigint").as("n_capitalized"),
      expr("regexp_replace(text, 'spark', '[TERM]')").as("redacted"),
      (expr("regexp_count(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\\\.[a-zA-Z]{2,}')") === 0).as("pii_clean"))

  /** Document fingerprinting: two independent rolling poly-hashes of the full
    * text plus a winnowing-style min-5-gram hash (stable under head/tail
    * edits). Portable across engines — see [[Portable]].
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir).select(
      col("doc_id"),
      Portable.polyHashNative("text", 31, Portable.P1).as("fp31"),
      Portable.polyHashNative("text", 37, Portable.P2).as("fp37"),
      // min over 5-gram poly-hashes via the ONE-PASS native shingle hasher
      // (bit-identical to the transform(substring) form, ExpressionsSpec).
      // The substring form was O(len²): substring(text, i, 5) seeks to
      // code point i from the start on every call, so a 1 MB doc burned
      // ~10^12 char steps (r16 adversarial-fixture find). Docs shorter
      // than 5 chars keep the old semantics exactly: substring(text, 1, 5)
      // of a short doc is the whole doc, so the min was hash(text).
      expr(s"CASE WHEN length(text) >= 5 THEN array_min(graft_shingle_poly(text, 5, 31, ${Portable.P1}L)) " +
        s"ELSE graft_poly_hash(text, 31, ${Portable.P1}L) END").as("fp_min5gram"))
  }

  /** Corpus term statistics — the inverted-index / TF-IDF building block:
    * document frequency and total term frequency of the 20 most widespread
    * tokens. One explode + one aggregation; at 100 TB the shuffle carries
    * (token, doc_id) pairs and partial counts only, and the final top-k is
    * a TakeOrdered, not a global sort.
    */
  def termStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(Portable.tokens("text")).as("token"))
      .groupBy("token")
      .agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf"))
      .orderBy(desc("df"), col("token"))
      .limit(20)

  /** C4/Dolma-style CLEANING CHAIN composed end-to-end — the order real
    * corpus builds use: quality filter FIRST (Gopher rule battery), exact
    * dedup on the survivors (min-id representative per identical text,
    * grouped on the 16-byte double fingerprint so the shuffle never
    * carries documents), language ID on the deduplicated set, and a
    * per-language rollup. One oracle over the whole chain: each stage
    * shares its body with the standalone catalog row
    * ([[gopherRulesOn]], [[langIdOn]]), so the composition cannot drift
    * from the pieces.
    */
  def pipelineC4(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val d = docs(spark, dir)
    val kept = gopherRulesOn(d).filter(col("keep")).select("doc_id")
    val keptDocs = d.join(kept, "doc_id").select("doc_id", "text")
    val canon = keptDocs
      .withColumn("fp31", Portable.polyHashNative("text", 31, Portable.P1))
      .withColumn("fp37", Portable.polyHashNative("text", 37, Portable.P2))
      .groupBy("fp31", "fp37")
      // texts in a group are identical (collision ≈ 1e-18) — max is a
      // deterministic way to carry the one text through the aggregate
      .agg(min(col("doc_id")).as("doc_id"), max(col("text")).as("text"))
    langIdOn(canon.select("doc_id", "text"))
      .withColumn("toks", Portable.tokens("text"))
      .groupBy("lang_pred")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("toks")).cast("bigint")).as("n_tokens"))
  }

  /** PROVENANCE DASHBOARD — per-source corpus accounting over the
    * `source` column (the Common-Crawl-dump / curated-set axis every
    * mixture decision keys on): document and token counts, token share of
    * the whole corpus in integer permille, mean quality in integer
    * permille (alpha-chars per char, the `text_quality` core), and the
    * Gopher keep rate as exact counts. One corpus scan + one
    * source-keyed aggregate (sources are few — the exchange is trivial);
    * the corpus-total join broadcasts one row.
    */
  def sourceStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select("doc_id", "source", "text")
    // gopherRulesOn projects text away; join its verdict back on doc_id
    val g = gopherRulesOn(d.select("doc_id", "text"))
      .select("doc_id", "n_words", "keep")
    val j = d.join(g, "doc_id")
      .withColumn("n_alpha",
        expr("CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS BIGINT)"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val perSource = j.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_alpha")).as("sum_alpha"),
        sum(col("n_chars")).as("sum_chars"))
    val total = perSource.agg(sum(col("n_tokens")).as("corpus_tokens"))
    perSource.join(broadcast(total))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("n_kept"),
        expr("n_tokens * 1000 div corpus_tokens").as("token_share_permille"),
        // NULL when a source's docs are ALL empty strings (sum_chars = 0 —
        // in-contract degenerate since the r15 empty-doc decision): ANSI
        // `div 0` would kill the job, DuckDB's division is NULL — the CASE
        // pins the oracle's semantics (r16 review, the triangles class)
        expr("CASE WHEN sum_chars > 0 THEN sum_alpha * 1000 div sum_chars END")
          .as("alpha_permille"))
  }

  /** Unicode NFC normalization over the corpus — the canonical-composition
    * pass that must precede fingerprinting/dedup on non-ASCII text (see
    * [[graft.functions.NfcNormalize]]). The synthetic corpus is ASCII, so
    * the query PLANTS decomposed sequences deterministically (a combining
    * acute on every 3rd doc, a combining ring on every 3rd+1) — the
    * engine must actually compose them ("e"+◌́ → "é") for the oracle's
    * `nfc_normalize` to agree on the changed flag, char counts, and the
    * normalized tail. Map-only, codegen.
    */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      // the literals below are DECOMPOSED: 'e'+U+0301 and 'A'+U+030A
      // (combining marks) — NFC must compose them to the precomposed forms
      .withColumn("aug", concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" Café"))
          .when(col("doc_id") % 3 === 1, lit(" Å"))
          .otherwise(lit(""))))
      .withColumn("norm", expr("graft_nfc(aug)"))
      .select(
        col("doc_id"),
        (col("aug") =!= col("norm")).as("changed"),
        length(col("aug")).cast("bigint").as("n_chars_raw"),
        length(col("norm")).cast("bigint").as("n_chars_nfc"),
        expr("right(norm, 6)").as("tail_nfc"))
  }

  /** TF-IDF top-terms — the classic IR weighting as a per-document keyword
    * extractor: term frequency × smoothed inverse document frequency,
    * quantized to integer micro-nats (`round(ln((N+1)/(df+1))·1e6)`, the
    * `text_lm_xent` quantization discipline — ln computed once per
    * DISTINCT df value, all downstream arithmetic exact so both engines
    * rank identically), top `k` terms per doc by (tfidf desc, token asc).
    *
    * Scale: tf is one map-combined aggregate over exploded tokens; df is
    * a second aggregate over the (doc, token)-distinct tf table; the join
    * back is an equi-join on token (AQE-sized — the token text must
    * travel anyway because it IS the output); the corpus count broadcasts
    * as one row; the rank window partitions by doc_id, whose partitions
    * are bounded by a document's distinct-token count, never the corpus.
    */
  def tfIdfTop(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir).filter(length(col("text")) > 0)
      .withColumn("toks", Portable.tokens("text"))
    val nDocs = d.agg(count(lit(1)).as("n"))
    val tf = d.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfCounts = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfCounts, "token")
      .join(broadcast(nDocs))
      .withColumn("tfidf_micro",
        col("tf") * expr("CAST(round(ln((n + 1.0) / (df + 1.0)) * 1000000) AS BIGINT)"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf_micro"), col("token"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("doc_id", "token", "tf", "df", "tfidf_micro", "rank")
  }

  /** Benchmark decontamination: distinct word `n`-gram overlap between every
    * training document and the eval/benchmark set (docs with `doc_id <
    * evalDocs` stand in for the benchmark). Output per train doc: how many
    * distinct n-grams it shares with ANY eval doc, plus a contamination flag.
    *
    * Scale design: benchmark sets are tiny (KBs–MBs) while the corpus is the
    * 100 TB side — so the distinct eval-gram set BROADCASTS, and the train
    * side is explode → broadcast hash join → partial-count agg. The corpus
    * never shuffles text: only (doc_id, matched-gram) survivors of the
    * broadcast join reach the aggregation, and the final left join restores
    * clean docs with a 0 count.
    */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 8, evalDocs: Long = 20): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      // < n tokens → no grams (mirrors the oracle's len(w) >= n guard)
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), Portable.wordShingles("toks", n).as("grams"))
    val evalGrams = d.filter(col("doc_id") < evalDocs)
      .select(explode(col("grams")).as("gram")).distinct()
    val hits = d.filter(col("doc_id") >= evalDocs)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs(spark, dir).filter(col("doc_id") >= evalDocs).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Graded contamination scoring — [[decontaminate]]'s boolean mark is the
    * remove/keep gate; real curation wants the OVERLAP FRACTION (what share
    * of a doc's distinct n-grams appear in the eval set) to separate
    * verbatim leaks (≈1.0) from idiom-level collisions (≈0.01) and set a
    * threshold. Same plan shape as the gate: eval grams broadcast, corpus
    * grams never shuffle; the fraction is ONE double division over two
    * exact integers, so the oracle matches bit-for-bit. Docs shorter than
    * n tokens have no grams and are excluded (both sides).
    */
  def contaminationScore(spark: SparkSession, dir: String, n: Int = 8,
      evalDocs: Long = 20): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), Portable.wordShingles("toks", n).as("grams"))
    val evalGrams = d.filter(col("doc_id") < evalDocs)
      .select(explode(col("grams")).as("gram")).distinct()
    val corpus = d.filter(col("doc_id") >= evalDocs)
      .select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"), col("grams"))
    val hits = corpus
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    corpus.select("doc_id", "n_grams")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination_frac"))
  }

  /** Sequence packing for training: documents are laid out in deterministic
    * (shard, doc_id) order into a concatenated token stream, and each doc is
    * stamped with its start offset and the fixed-capacity context window
    * (`bin_id`) it starts in — GPT-style concat-then-chunk packing.
    *
    * Packing is per shard (`doc_id % shards`): one running-sum window per
    * shard runs in parallel, whereas a single global packing order would be
    * a one-partition global sort — the version of this that still works on
    * a 100 TB corpus. All outputs are exact integers (`div`, not fp).
    */
  def packSequences(spark: SparkSession, dir: String, capacity: Long = 1024, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .select(
        col("doc_id"),
        pmod(col("doc_id"), lit(shards)).cast("int").as("shard"),
        size(Portable.tokens("text")).cast("bigint").as("n_tokens"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id", expr(s"start_offset div ${capacity}L"))
  }

  /** FIRST-FIT-DECREASING sequence packing — [[packSequences]]' quality
    * upgrade: instead of slicing the shard's doc stream at running-offset
    * boundaries (simple, but bins straddle documents), FFD packs WHOLE
    * documents into `capacity`-token bins, the packing real training
    * pipelines run so attention never crosses document boundaries without
    * masking. Classic guarantee: FFD uses ≤ 11/9·OPT + 1 bins; the gate
    * asserts the (looser, parameter-free) 2·LB + 1 bound per chunk plus
    * zero bin overflows.
    *
    * Scale contract: packing is sequential by nature, so it runs per
    * (shard, chunk) — shards are the parallelism knob, and chunks come
    * from PURE ID ARITHMETIC (`doc_id div (shards·chunkDocs)`): the id
    * range of one chunk holds at most `chunkDocs` ids of each shard, so
    * the in-memory FFD state (the open-bin list) is bounded by a
    * PARAMETER for ANY id distribution — and chunk assignment is
    * map-side, no ranking window over a corpus-sized per-shard partition
    * anywhere. Oversize docs (> capacity tokens) get a flagged singleton
    * bin instead of poisoning the fit. Deterministic: chunking is id
    * arithmetic and the in-chunk sort is (tokens desc, doc_id), so the
    * same corpus packs identically on any engine/partitioning.
    */
  def packBins(spark: SparkSession, dir: String, capacity: Long = 1024,
      shards: Int = 8, chunkDocs: Int = 4096): DataFrame = {
    import spark.implicits._
    val ranked = docs(spark, dir)
      .select(
        col("doc_id"),
        pmod(col("doc_id"), lit(shards)).cast("int").as("shard"),
        // NULL-text contract (r16): the typed encoder's Long field cannot
        // carry SQL NULL (NOT_NULL_ASSERT_VIOLATION kills the job on one
        // malformed row) — NULL packs like the empty doc, mirroring the
        // check oracle's count semantics
        size(Portable.tokens("coalesce(text, '')")).cast("bigint").as("n_tokens"))
      .withColumn("chunk",
        expr(s"CAST(doc_id div ${shards.toLong * chunkDocs}L AS INT)"))
      .as[(Long, Int, Long, Int)]
    ranked
      .groupByKey { case (_, shard, _, chunk) => (shard, chunk) }
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Long, Int, Long, Int)]) =>
        val (shard, chunk) = key
        val ds = it.toArray.sortBy { case (id, _, n, _) => (-n, id) }
        val remaining = scala.collection.mutable.ArrayBuffer[Long]()
        ds.iterator.map { case (id, _, n, _) =>
          if (n > capacity) {
            remaining += 0L // flagged singleton bin, never re-filled
            (id, shard, chunk, remaining.length - 1, n, true)
          } else {
            var b = 0
            while (b < remaining.length && remaining(b) < n) b += 1
            if (b == remaining.length) remaining += capacity
            remaining(b) -= n
            (id, shard, chunk, b, n, false)
          }
        }
      }
      .toDF("doc_id", "shard", "chunk", "bin_id", "n_tokens", "oversize")
  }

  /** Oracle-checked gate for [[packBins]]: zero overfilled bins (each
    * non-oversize bin's token sum ≤ capacity), and per (shard, chunk) the
    * bin count within 2·⌈tokens/capacity⌉ + 1 of the lower bound — both
    * computed DISTRIBUTED over the packed output; n_docs / n_oversize are
    * independently SQL-derivable, so the oracle checks the whole row.
    */
  def packBinsCheck(spark: SparkSession, dir: String,
      capacity: Long = 1024): DataFrame = {
    val packed = packBins(spark, dir, capacity)
    val fills = packed.filter(!col("oversize"))
      .groupBy("shard", "chunk", "bin_id")
      .agg(sum(col("n_tokens")).as("fill"))
    val overflows = fills.agg(
      sum(when(col("fill") > capacity, 1L).otherwise(0L)).as("n_overflow"))
    val perChunk = packed.filter(!col("oversize"))
      .groupBy("shard", "chunk")
      .agg(countDistinct(col("bin_id")).as("n_bins"), sum(col("n_tokens")).as("toks"))
      // r14 deep-read: the bound is the documented integer
      // 2·⌈tokens/capacity⌉ + 1 — the previous `/` was Spark's DOUBLE
      // division, which silently loosened the gate (e.g. toks=1024 gave a
      // threshold of 4.998 instead of 3)
      .agg(sum(when(
        col("n_bins") > expr(s"((toks + ${capacity - 1}) div $capacity) * 2 + 1"), 1L)
        .otherwise(0L)).as("n_loose"))
    val counts = packed.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("oversize"), 1L).otherwise(0L)).as("n_oversize"))
    counts.crossJoin(overflows).crossJoin(perChunk)
      .select(col("n_docs"), col("n_oversize"),
        (col("n_overflow") === 0L).as("zero_overflow_bins"),
        (col("n_loose") === 0L).as("bins_within_2x"))
  }

  /** Within-document repetition (a Gopher-style quality filter): the
    * fraction of word 3-grams that are repeats of an earlier gram in the
    * same document. High ratios flag boilerplate/spam for removal before
    * training. Map-only projection — counts are exact integers, the ratio
    * a single double division, so the oracle matches bit-for-bit.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      // let-bound (Portable.let): a pushed-down/inlined `toks = split(...)`
      // would otherwise re-split the whole doc per element access
      .withColumn("g", expr(Portable.let("tk_", "toks",
        "CASE WHEN size(tk_) >= 3 THEN transform(sequence(1, size(tk_) - 2), " +
          "i -> element_at(tk_, i) || ' ' || element_at(tk_, i + 1) || ' ' || element_at(tk_, i + 2)) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select(
        col("doc_id"),
        size(col("g")).cast("bigint").as("n_grams"),
        size(array_distinct(col("g"))).cast("bigint").as("n_distinct"))
      .withColumn("dup_ratio",
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .otherwise(lit(0.0)))

  /** Data mixing: stratified per-language downsampling to a uniform mix —
    * every language keeps exactly `cap = min(per-lang count)` documents,
    * chosen by deterministic portable-hash order (reproducible on any
    * engine and under any partitioning, which RAND() sampling never is).
    * Output: (doc_id, lang, mix_rank, kept).
    *
    * Scale: the per-lang counts aggregate is tiny and broadcast back; the
    * ranking is one window per language, parallel across languages. At
    * 100 TB with few languages the per-lang sort becomes the bottleneck —
    * swap the exact rank for a hash THRESHOLD (keep if h < cap/n_lang
    * scaled) to get the same mixture without sorting; the exact-rank form
    * is the oracle-checkable contract.
    */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // NULL-text contract (r16): the mix hash is a RANKING key, so it must
    // be total — NULL ranks as the empty string on both engines (the
    // oracle hashes coalesce(text, '')); plain SQL-NULL would sort NULLS
    // FIRST in Spark and NULLS LAST in DuckDB and shift every rank after it
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      Portable.polyHashNative("coalesce(text, '')", 43, Portable.P1).as("h"))
    val cap = d.groupBy("lang").agg(count(lit(1)).as("n")).agg(min("n").as("cap"))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    d.withColumn("mix_rank", row_number().over(w).cast("bigint"))
      .crossJoin(broadcast(cap))
      .select(col("doc_id"), col("lang"), col("mix_rank"),
        (col("mix_rank") <= col("cap")).as("kept"))
  }

  /** Width of one hash bucket in [[domainMixScale]]'s histogram: the
    * portable hash ranges over [0, P1) with P1 < 2^30, so `h div 2^20`
    * yields ≤ 954 buckets — the histogram is ≤ languages × 954 rows no
    * matter the corpus size.
    */
  private val MixBucketWidth: Long = 1L << 20

  /** [[domainMix]]'s 100 TB form — the docstring's hash-threshold selection,
    * implemented with the `selectTokenBudget` boundary recipe so `kept` is
    * EXACT and (almost entirely) map-only. The plain form ranks every doc
    * inside one window per language; with a handful of languages each
    * window task sorts a constant fraction of the corpus. Here:
    *
    *   1. one scan → per-(lang, hash-bucket) histogram (≤ langs × 954 rows
    *      — see [[MixBucketWidth]]); only the histogram reaches the driver;
    *   2. the driver walks each language's buckets ascending to find the
    *      boundary bucket where the cumulative count crosses `cap`
    *      (= min per-language count, the plain form's rule) and the
    *      remainder of cap left inside it;
    *   3. docs below the boundary bucket are kept — and above, dropped —
    *      by a MAP-ONLY filter; only the boundary bucket's docs (~1/954 of
    *      each language) enter a rank window, scoped BELOW the window by a
    *      bucket filter (PlanSpec-asserted).
    *
    * Exact because rank(lang, h, doc_id) = (count in lower buckets) +
    * (rank within the bucket) and a bucket is a contiguous range of h.
    * Output (doc_id, lang, kept) — the plain form minus the global
    * `mix_rank` (whose materialization for every row is inherently a full
    * ranking; selection needs only `kept`). Shares the plain form's oracle
    * projected to these columns.
    */
  def domainMixScale(spark: SparkSession, dir: String,
      forPlanInspection: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // cached: the full-text poly-hash frame feeds the histogram job AND
    // both output branches — without the cache each consumer re-hashes
    // the whole corpus
    val d = docs(spark, dir).select(col("doc_id"), col("lang"),
      Portable.polyHashNative("coalesce(text, '')", 43, Portable.P1).as("h"))
      .withColumn("bucket", expr(s"h div $MixBucketWidth"))
      .cache()
    // ONE aggregate reaches the driver: the (lang, bucket) histogram —
    // per-language counts (and so cap) are its per-lang sums, no second
    // corpus pass
    val hist = d.groupBy("lang", "bucket").agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    require(hist.nonEmpty, "domainMixScale: empty corpus")
    val cap = hist.values.map(_.map(_._3).sum).min
    val bounds: Map[String, (Long, Long)] = hist.map { case (lang, rows) =>
      var acc = 0L
      var boundary = -1L
      var remainder = 0L
      for ((_, bucket, cnt) <- rows.sortBy(_._2) if boundary < 0) {
        if (acc + cnt >= cap) { boundary = bucket; remainder = cap - acc }
        else acc += cnt
      }
      // cap = min per-lang count <= this lang's count, so the walk always
      // crosses; boundary >= 0 by construction
      lang -> (boundary, remainder)
    }
    val withB = d
      .withColumn("b_l", element_at(typedLit(bounds.map { case (l, (b, _)) => (l, b) }), col("lang")))
      .withColumn("r_l", element_at(typedLit(bounds.map { case (l, (_, r)) => (l, r) }), col("lang")))
    val offBoundary = withB.filter(col("bucket") =!= col("b_l"))
      .select(col("doc_id"), col("lang"), (col("bucket") < col("b_l")).as("kept"))
    val wB = Window.partitionBy("lang").orderBy("h", "doc_id")
    val onBoundary = withB.filter(col("bucket") === col("b_l"))
      .withColumn("rn", row_number().over(wB).cast("bigint"))
      .select(col("doc_id"), col("lang"), (col("rn") <= col("r_l")).as("kept"))
    val out = offBoundary.unionByName(onBoundary)
    // forPlanInspection=true: unmaterialized, cache released — plan-shape
    // assertions only (PlanSpec); executing that frame re-hashes per branch
    if (!forPlanInspection) Dedup.materializeAndRelease(Seq(d), out)
    else { d.unpersist(false); out }
  }

  /** The engine's operators composed as ONE end-to-end training-data
    * pipeline: quality-filter the corpus (integer-exact `2·n_alpha ≥
    * n_chars`), drop near-duplicates keeping each group's canonical
    * representative ([[graft.operators.Dedup.canonicalDocs]]), then
    * summarize per language what would be packed: surviving doc count,
    * total tokens, and the number of 1024-token context windows they fill.
    * One oracle over the whole chain is the strongest composability check
    * the driver can run.
    *
    * Scale: the dedup survivor set joins on doc ids only; everything else
    * is the same map-only projections + single-exchange agg as the
    * constituent operators.
    */
  def pipelineSummary(spark: SparkSession, dir: String): DataFrame = {
    val kept = graft.operators.Dedup.canonicalDocs(spark, dir).select("doc_id")
    docs(spark, dir)
      .withColumn("n_chars", length(col("text")).cast("bigint"))
      .withColumn("n_alpha", expr("CAST(regexp_count(text, '[a-zA-Z]') AS BIGINT)"))
      .withColumn("n_tokens", size(Portable.tokens("text")).cast("bigint"))
      .filter(col("n_alpha") * 2 >= col("n_chars"))
      .join(kept, Seq("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_tokens").as("total_tokens"))
      .withColumn("n_bins", expr("CAST((total_tokens + 1023) DIV 1024 AS BIGINT)"))
  }

  /** Corpus-level LINE dedup (the C4/RefinedWeb boilerplate-removal pass):
    * any "line" that occurs in at least `minDocs` DISTINCT documents is
    * boilerplate and is removed from every document; what survives is
    * re-assembled in original order. The synthetic corpus has no newlines,
    * so a "line" is an aligned `segWords`-word segment (segment k = words
    * [k·W, (k+1)·W)) — swap the segmenter for `split(text, '\n')` on a real
    * corpus; everything downstream is unchanged.
    *
    * Output per document: total/kept/removed segment counts plus the md5 of
    * the cleaned text (docs whose every segment was boilerplate keep a row
    * with `n_kept = 0` and `md5('')`).
    *
    * Scale design: the frequent-segment set is bounded ABOVE by corpus/
    * minDocs rows, but it IS the duplication being removed — on a 100 TB
    * boilerplate-heavy crawl it is billions of rows, so it must NOT be
    * unconditionally broadcast (VERDICT r12 #3: the old `broadcast(boiler)`
    * hint OOMs the driver exactly when the operator matters most). The
    * mark join is therefore a plain equi-join on `seg`: AQE size-gates the
    * broadcast at runtime (small boiler set → broadcast as before; big →
    * distributed hash join on the same key the frequency count already
    * shuffled on). PlanSpec pins the absence of the unconditional hint.
    * The frequency count itself is one hash-aggregate whose map-side
    * partials carry (segment, doc-distinct partial) — at 100 TB, group on
    * a 16-byte segment hash instead of the string so the shuffle never
    * moves text (exact-string form kept here for the oracle).
    */
  def lineDedup(spark: SparkSession, dir: String, segWords: Int = 10, minDocs: Long = 2,
      forPlanInspection: Boolean = false): DataFrame = {
    // ONE segment pass feeds both the frequency count and the reassembly
    // (cached — at 100 TB this spills to disk or is recomputed; either way
    // no third scan: the doc-level totals come out of the same aggregate).
    val segs = segments(spark, dir, segWords).cache()
    if (!forPlanInspection) segs.count() // eager fill before AQE fans out the two consumers
    val boiler = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("seg"), lit(true).as("is_boiler"))
    // mark-then-aggregate: one size-gated equi-join + ONE groupBy yields
    // totals, kept counts, and the order-restored reassembly together
    // (collect_list skips the nulled-out boilerplate rows; no global sort)
    val out = segs.join(boiler, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("is_boiler").isNull, 1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN is_boiler IS NULL THEN struct(pos, seg) END)), s -> s.seg), ' ')")
          .as("clean_text"))
      .select(
        col("doc_id"),
        col("n_segments"),
        col("n_kept"),
        (col("n_segments") - col("n_kept")).as("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
    // forPlanInspection=true: unmaterialized, cache released — plan-shape
    // assertions only (PlanSpec); executing that frame re-segments twice
    if (!forPlanInspection) Dedup.materializeAndRelease(Seq(segs), out)
    else { segs.unpersist(false); out }
  }

  /** The 100 TB form of [[lineDedup]] — identical output, but every
    * BOILER-side shuffle keys on the 60-bit segment fingerprint
    * (`graft_poly_hash` composition, the [[substringDupScore]] convention)
    * instead of the segment string:
    *
    *   - the frequency count groups on `gh` — the biggest exchange of the
    *     exact-string form (every segment of the corpus, pre-dedup) drops
    *     from ~70 B of text per row to 8 bytes;
    *   - the mark join keys on `gh`, so its build side is a bare long set.
    *
    * The reassembly aggregate still moves each SURVIVING segment's text to
    * its document's reducer — that exchange IS the output and no keying
    * trick removes it. Collision odds at 60 bits are ~1e-18 per segment
    * pair; a collision would surface as a hash mismatch against the
    * exact-string DuckDB oracle (`text_line_dedup_hashed` shares
    * `text_line_dedup`'s oracle verbatim — a green row proves the rewrite
    * changed the shuffle payload, not the answer). PlanSpec pins the
    * exchange keys (`hashpartitioning(gh`, never `hashpartitioning(seg`).
    */
  def lineDedupHashed(spark: SparkSession, dir: String, segWords: Int = 10,
      minDocs: Long = 2, forPlanInspection: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val segs = segments(spark, dir, segWords)
      .withColumn("gh", graft.functions.Portable.polyHash60Native("seg"))
      .cache()
    if (!forPlanInspection) segs.count()
    val boiler = segs.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("gh"), lit(true).as("is_boiler"))
    val out = segs.join(boiler, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("is_boiler").isNull, 1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN is_boiler IS NULL THEN struct(pos, seg) END)), s -> s.seg), ' ')")
          .as("clean_text"))
      .select(
        col("doc_id"),
        col("n_segments"),
        col("n_kept"),
        (col("n_segments") - col("n_kept")).as("n_removed"),
        md5(col("clean_text")).as("clean_md5"))
    if (!forPlanInspection) Dedup.materializeAndRelease(Seq(segs), out)
    else { segs.unpersist(false); out }
  }

  /** (doc_id, pos, seg) aligned `segWords`-word segments — the shared
    * segmenter behind [[lineDedup]] and [[pipelineVectorize]]. NULL text is
    * treated as '' (matching the oracles): every doc keeps ≥ 1 segment —
    * a null would otherwise drop out of the explode.
    */
  private def segments(spark: SparkSession, dir: String, segWords: Int): DataFrame =
    segmentsOf(docs(spark, dir), segWords)

  /** The same segmenter over ANY (doc_id, text) frame — shared with the
    * streaming boiler-count store ([[graft.streaming.StreamLineDedup]])
    * so the streaming path cannot drift from the batch segmentation.
    */
  private[graft] def segmentsOf(docsDf: DataFrame, segWords: Int): DataFrame =
    docsDf
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("w"))
      .select(col("doc_id"),
        posexplode(expr(Portable.let("w_", "w",
          s"transform(sequence(0, CAST(ceil(size(w_) / $segWords.0) AS INT) - 1), " +
            s"k -> array_join(slice(w_, k * $segWords + 1, $segWords), ' '))"))).as(Seq("pos", "seg")))

  /** EXACT substring-duplication scoring — the sliding-window dedup mode
    * of Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": for every document, the fraction of its distinct `k`-token
    * SLIDING windows that appear verbatim in at least one other document.
    * [[lineDedup]]'s aligned segments catch copy-paste that lands on
    * segment boundaries; sliding windows catch SHIFTED verbatim
    * duplication (quotes, syndicated passages, templated text with a
    * changed prefix) that alignment structurally misses — the
    * discriminating case is spec-pinned. Documents shorter than `k`
    * tokens have no windows and are excluded (mirrored by the oracle).
    *
    * Scale: every window is fingerprinted to a 60-bit portable poly-hash
    * IMMEDIATELY after the explode, so nothing downstream ever moves
    * window text — the df-count shuffle and the mark join both carry an
    * 8-byte key (~20× fewer shuffle bytes than shipping the ~150 B
    * 25-token strings; collision odds ~1e-18 per pair, and the DuckDB
    * oracle runs the exact-string form so a collision would surface as a
    * hash mismatch). The duplicated-window set is corpus-derived (every
    * gram with df ≥ 2): tiny on a clean corpus but GBs on a
    * heavily-duplicated one, so it is deliberately NOT broadcast — the
    * mark join is a plain equi-join on the fingerprint and AQE picks
    * broadcast vs shuffle from the observed size. The df count is a
    * plain `count` (one exchange, map-side partials): [[Portable.wordShingles]]
    * is per-doc distinct, so rows per (gh) group are one-per-doc and
    * `count == countDistinct(doc_id)` by construction.
    */
  def substringDupScore(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val g = docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(Portable.wordShingles("toks", k)).as("gram"))
      .select(col("doc_id"), Portable.polyHash60Native("gram").as("gh"))
    val dup = g.groupBy("gh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("gh"), lit(true).as("is_dup"))
    g.join(dup, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("is_dup"), 1)).as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast("double") / col("n_windows"))
  }

  /** The round-7 operators composed as ONE curation chain under a single
    * oracle — the strongest composability check the driver can run over
    * the new family: drop every document carrying verbatim duplication
    * ([[substringDupScore]]'s sliding-window contract: any shared 25-token
    * window disqualifies; sub-25-token docs have no windows and survive),
    * draw the temperature-scaled mixture over the SURVIVORS
    * ([[sampleTemperature]]'s integer-exact T=2 targets, recomputed on the
    * post-filter counts — order matters and the oracle pins it), and roll
    * up per language (docs drawn, total tokens).
    *
    * Plan shape: inherits each constituent's — the dup mark join is an
    * 8-byte-fingerprint equi-join (AQE-sized), the mixture is the
    * bounded-heap `graft_topk`, the rollup is one tiny exchange.
    */
  def pipelineCurate(spark: SparkSession, dir: String, totalDocs: Long = 150L): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val dup = substringDupScore(spark, dir)
      .filter(col("n_dup_windows") > 0).select("doc_id")
    val survivors = docs(spark, dir).join(dup, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"),
        Portable.polyHashNative("coalesce(text, '')", 43, 999999893L).as("rank_hash"),
        size(Portable.tokens("text")).cast("bigint").as("n_tokens"))
      .cache()
    // the mixture stage IS sampleTemperature's contract, via the shared
    // helper — the chain cannot drift from the standalone catalog row
    val mix = temperatureMix(
      survivors.select("doc_id", "lang", "rank_hash"), "lang", totalDocs)
    val out = mix.select("doc_id", "lang")
      .join(survivors.select("doc_id", "n_tokens"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
    Dedup.materializeAndRelease(Seq(survivors), out)
  }

  /** Feature-hashing text embedding (the hashing trick): each token's
    * portable poly-hash picks a bucket (`h mod dim`) and a sign
    * (`(h div dim) mod 2`), and the document's embedding is the signed
    * token-count per bucket — a deterministic, engine-portable,
    * vocabulary-free vectorization that bridges the text operators to the
    * vector operators (the output feeds [[graft.operators.Dedup.embeddingNearDupsGrid]]
    * or ANN directly after a cast). Exact integer weights, so the DuckDB
    * oracle matches bit-for-bit — the property a learned embedding can
    * never give the correctness gate.
    *
    * Output is the SPARSE form (doc_id, dim_idx, weight), one row per
    * occupied bucket: one explode + one aggregation, the shuffle carries
    * (doc_id, bucket, partial sum) — at 100 TB the map-side combine makes
    * the exchange ∝ docs × occupied buckets, not tokens.
    */
  def hashEmbedding(spark: SparkSession, dir: String, dim: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(col("doc_id"), explode(Portable.tokens("text")).as("token"))
      .filter(col("token") =!= "")
      .select(col("doc_id"), Portable.polyHashNative("token", 31, Portable.P1).as("h"))
      .groupBy(col("doc_id"), pmod(col("h"), lit(dim)).cast("bigint").as("dim_idx"))
      .agg(sum(when(pmod(expr(s"h div $dim"), lit(2)) === 1, 1L).otherwise(-1L)).as("weight"))
  }

  /** Round-4 operators composed end to end — the vectorization side of a
    * training pipeline: keep only documents the corpus-level
    * [[lineDedup]] left INTACT (no boilerplate segments), vectorize them
    * with [[hashEmbedding]], and summarize per language (doc count, total
    * L1 mass, total occupied dimensions). One oracle over the whole chain,
    * complementing [[pipelineSummary]]'s quality→dedup→pack chain.
    *
    * Scale: inherits each constituent's shape — size-gated (AQE) mark
    * join, map-side-combined embedding aggregation, id-only joins between
    * stages; the final per-lang rollup is a tiny exchange.
    */
  def pipelineVectorize(spark: SparkSession, dir: String): DataFrame = {
    // intact = docs with NO boilerplate segment — derived from the shared
    // segmenter directly (a full lineDedup call would also reassemble and
    // md5 every clean text, eagerly, just to read one flag)
    val segs = segments(spark, dir, 10).cache()
    segs.count()
    val boiler = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("seg")
    // plain equi-join on seg — the boiler set grows with corpus duplication,
    // so the broadcast is AQE's runtime size call, never an unconditional
    // hint (same treatment as lineDedup, VERDICT r12 #3)
    val contaminated = segs.join(boiler, Seq("seg"), "left_semi")
      .select("doc_id").distinct()
    val intact = docs(spark, dir).select("doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val l1 = hashEmbedding(spark, dir)
      .groupBy("doc_id")
      .agg(sum(abs(col("weight"))).as("l1"), count(lit(1)).as("n_dims"))
    val out = docs(spark, dir).select(col("doc_id"), col("lang"))
      .join(intact, Seq("doc_id"))
      .join(l1, Seq("doc_id"), "left") // a whitespace-only doc has no buckets
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("l1"), lit(0L))).as("total_l1"),
        sum(coalesce(col("n_dims"), lit(0L))).as("total_dims"))
    Dedup.materializeAndRelease(Seq(segs), out)
  }

  /** Heavy-hitter tokens via the mergeable frequent-items sketch — the
    * bounded-memory form of [[termStats]]'s exact aggregation: per-partition
    * sketches merge into one, no (token → count) shuffle. The way to find
    * corpus boilerplate at 100 TB. Rows-only driver check; accuracy
    * (no-false-negative guarantee, error bound) is spec-checked in FreqSpec.
    */
  def topkTermsSketch(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(explode(Portable.tokens("text")).as("token"))
      .createOrReplaceTempView("graft_tokens")
    spark.sql(
      s"SELECT inline(approx_top_k(token, 10, ${FreqItemsCheck.ItemsTracked})) FROM graft_tokens")
      .toDF("token", "estimate")
  }

  /** Driver-checkable accuracy gate for the frequent-items sketch (pairs
    * with [[topkTermsSketch]] the way `sketch_theta_check` pairs with
    * `sketch_theta_overlap`): for every token whose TRUE count exceeds
    * n/16, emit booleans the DuckDB oracle asserts TRUE —
    *
    *   - `present_in_sketch`: the no-false-negatives guarantee (any item
    *     with true count > the sketch's max error is in the cut);
    *   - `bounds_hold`: the per-item guarantee `lb <= true count <= ub`;
    *   - `error_within_threshold`: the sketch's data-dependent max error
    *     stayed below the n/16 heaviness threshold, which is what makes
    *     the presence guarantee apply to exactly this row set.
    *
    * The natural test vocabulary is 31 tokens at ~n/30 each — NEAR-UNIFORM,
    * i.e. it has no heavy hitters at all (and at maxMapSize 256 it fits in
    * the map, making every estimate trivially exact). So, like the planted
    * near-dups of `dedup_embedding_lsh_check`, genuine heavy hitters are
    * planted deterministically: 4 tokens `hh_0..hh_3` × 4000 occurrences
    * from a `sequence()` both engines generate identically. The sketch runs
    * at `maxMapSize = 32` — smaller than the 35-token augmented vocabulary,
    * so the uniform background churns the map and the planted heavies must
    * survive real purges for the gate to go green. True counts and the
    * threshold are exact aggregations both engines compute identically.
    */
  def freqSketchCheck(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs(spark, dir)
      .select(explode(Portable.tokens("text")).as("token"))
      .createOrReplaceTempView("graft_tokens")
    spark.sql(
      """WITH hh AS (
        | SELECT concat('hh_', CAST(i % 4 AS STRING)) AS token
        | FROM (SELECT explode(sequence(0, 15999)) AS i)),
        |allt AS (
        | SELECT token FROM graft_tokens UNION ALL SELECT token FROM hh),
        |sk AS (SELECT graft_freq_check(token, 32) AS c FROM allt),
        |items AS (SELECT inline(c.items) FROM sk),
        |err AS (SELECT c.max_error AS max_error, c.stream_len AS n FROM sk),
        |exact AS (SELECT token, CAST(count(*) AS BIGINT) AS true_cnt
        |          FROM allt GROUP BY token),
        |heavy AS (
        | SELECT e.token, e.true_cnt, r.max_error, r.n
        | FROM exact e CROSS JOIN err r WHERE e.true_cnt * 16 > r.n)
        |SELECT h.token, h.true_cnt, h.n AS stream_len,
        | i.item IS NOT NULL AS present_in_sketch,
        | i.lb <= h.true_cnt AND i.ub >= h.true_cnt AS bounds_hold,
        | h.max_error * 16 <= h.n AS error_within_threshold
        |FROM heavy h LEFT JOIN items i ON i.item = h.token""".stripMargin)
  }

  /** Round-5 operators composed end to end — the retrieval-index
    * construction side of a pipeline: quality-filter documents (alpha
    * ratio ≥ 0.5, the [[pipelineSummary]] gate), take the fixed-count
    * stratified sample per language ([[sampleStratified]]), chunk the
    * survivors into overlapping windows ([[chunk]] semantics inlined on
    * the filtered frame), and roll up per language: chunks, summed chunk
    * characters, docs represented. One oracle checks the whole chain —
    * the composition is where per-operator bugs hide.
    *
    * Plan shape: filter and chunking are map-side; the sample is one
    * per-lang window; the rollup is one partial-aggregated exchange.
    */
  def pipelineChunks(spark: SparkSession, dir: String, perStratum: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("rank_hash"), col("doc_id"))
    val sampled = docs(spark, dir)
      .filter(expr("CAST(regexp_count(text, '[a-zA-Z]') AS BIGINT) * 2 >= length(text)"))
      .select(col("doc_id"), col("lang"), col("text"),
        graft.functions.Portable.polyHashNative("coalesce(text, '')", 43, 999999893L).as("rank_hash"))
      .withColumn("stratum_rank", row_number().over(w))
      .filter(col("stratum_rank") <= perStratum)
    sampled
      .select(col("doc_id"), col("lang"),
        explode(expr("sequence(1, greatest(length(text), 1), 150)")).as("start"),
        col("text"))
      .withColumn("chunk_len", length(expr("substring(text, start, 200)")).cast("bigint"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum("chunk_len").as("total_chunk_chars"),
        countDistinct("doc_id").as("n_docs"))
  }

  /** RAG-style document chunking: fixed-size character windows with
    * overlap. Chunk k of a document covers characters
    * `[1 + k·stride, 1 + k·stride + size)` (1-based, like SQL `substr`);
    * windows start while the start position is within the text, so the
    * final chunk may be shorter and an empty document still yields one
    * empty chunk (a retrieval index wants every doc addressable).
    *
    * Scale: `sequence` + `posexplode` is a pure map-side row generator —
    * no shuffle, no UDF, whole-stage codegen; the parquet scan still
    * prunes to (doc_id, text). Output is ~`len/stride` rows per doc, the
    * natural input partitioning carries over, and downstream per-chunk
    * embedding / indexing parallelizes on the exploded rows directly.
    */
  def chunk(spark: SparkSession, dir: String, size: Int = 200, stride: Int = 150): DataFrame =
    chunkOf(docs(spark, dir), size, stride)

  /** The chunking transform itself — stateless and generator-only, so it
    * applies unchanged to a STREAMING DataFrame (no watermark, no state;
    * asserted stream==batch in StreamingSpec).
    */
  def chunkOf(docs: DataFrame, size: Int = 200, stride: Int = 150): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        posexplode(expr(s"sequence(1, greatest(length(text), 1), $stride)")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("chunk_start"),
        expr(s"substring(text, col, $size)").as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))

  /** Bigram language-model cross-entropy scoring — the CCNet/RefinedWeb
    * perplexity-filter shape: train an add-one-smoothed bigram LM on the
    * corpus ITSELF and score every document by its per-token cross-entropy
    * under that model. Low scores mark text made of corpus-typical
    * continuations (boilerplate, templates, duplicated passages); high
    * scores mark rare/garbled token sequences — the standard
    * quality-filter signal when no external LM is available.
    *
    * Exactness contract: the only transcendental step, `ln(p)`, is
    * quantized to integer MICRO-NATS per distinct probability
    * (`round(ln(p)·1e6)`), and everything after is exact integer
    * arithmetic — per-doc sums of micro-nat costs and one integer
    * division. `p = (c_pair+1)/(c_prev+V)` is a single IEEE division of
    * two exactly-agreed doubles, so both engines round the same value; a
    * 1-ulp `ln` divergence between libm implementations only matters if a
    * value lands within ~1e-10 of a .5 micro-nat boundary (odds ~1e-6 per
    * DISTINCT count pair, not per occurrence).
    *
    * Scale: bigram occurrences are fingerprinted to 60-bit poly-hashes
    * immediately (the [[substringDupScore]] discipline — no shuffle ever
    * carries token text); pair counts are one map-combined exchange on the
    * 8-byte key; the context count joins the PAIR TABLE (distinct bigrams),
    * not the occurrence relation, because every occurrence of a bigram
    * shares its context; the vocabulary size is a 1-row aggregate joined by
    * broadcast. The model table is corpus-derived and potentially huge, so
    * the score join is a plain equi-join on the fingerprint — AQE sizes it,
    * nothing is force-broadcast. No driver-side collects anywhere.
    */
  def lmCrossEntropy(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (bg, vocab) = lmBigramRelation(spark, dir)
    // one row per distinct bigram; min(fp_prev) is exact (all equal)
    val pairStats = bg.groupBy("fp_pair")
      .agg(count(lit(1)).as("c_pair"), min(col("fp_prev")).as("fp_prev"))
    // NOTE (r17 opt, tried and reverted): deriving ctxStats from pairStats
    // (c_prev = Σ c_pair) is algebraically identical but does NOT save the
    // corpus pass — Spark has no common-subtree elimination, so the model
    // join's second pairStats reference re-runs the whole scan+explode+agg
    // chain anyway (plan went 8 → 9 exchanges, scans unchanged at 4).
    // Caching pairStats/bg would fix it but either leaks the cache (the
    // catalog row returns a lazy frame) or checkpoint-materializes a
    // corpus-sized output, both against this file's lifecycle discipline.
    val ctxStats = bg.groupBy("fp_prev").agg(count(lit(1)).as("c_prev"))
    val model = pairStats.join(ctxStats, Seq("fp_prev"))
      .crossJoin(broadcast(vocab))
      .withColumn("p",
        (col("c_pair") + lit(1L)).cast("double") /
          (col("c_prev") + col("vocab")).cast("double"))
      .select(col("fp_pair"),
        expr("CAST(round(ln(p) * 1000000) AS BIGINT)").as("cost"))
    bg.select("doc_id", "fp_pair")
      .join(model, Seq("fp_pair"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cost")).as("sum_cost"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(-sum_cost) div n_bigrams").as("xent_micronats"))
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al. 2020): every document
    * lands in `head` / `middle` / `tail` by its LM cross-entropy tercile —
    * the standard corpus-quality partition (head ≈ most fluent third)
    * that decides which slice trains and which gets filtered or
    * down-weighted.
    *
    * Tercile boundaries are VALUE-ATOMIC: boundary b_k is the smallest
    * xent value whose cumulative doc count reaches k·n/3, and every doc
    * sharing a boundary value lands in the same bucket (head can exceed
    * n/3 only by ties). This removes rank-tie ambiguity entirely — both
    * engines compute identical buckets from identical integers.
    *
    * Scale: the boundary search runs on the VALUE HISTOGRAM (one
    * map-combined aggregate), with the cumulative count decomposed
    * chunk-locally + an explode prefix-sum over ≤ `maxChunks` chunk
    * totals — the same two-level recipe as `stats_histogram_eqdepth`; no
    * window ever sees a corpus-sized single partition. The two boundary
    * values then broadcast (1 row) and bucket assignment is map-only.
    */
  def pipelinePplBuckets(spark: SparkSession, dir: String,
      maxChunks: Int = 1024, forPlanInspection: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val xent = lmCrossEntropy(spark, dir).cache()
    // feeds the histogram AND the final assignment
    if (!forPlanInspection) xent.count()
    val hist0 = xent.groupBy(col("xent_micronats").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val span = hist0.agg(min("v").as("mn"), max("v").as("mx"))
    // hist and totals are read by 2 and 3 downstream branches respectively
    // (local; totals under bounds AND prefix) — uncached, the whole
    // histogram chain executed FOUR times per run (r17 opt, read in the
    // SQL tab: four identical InMemoryTableScan→agg→span-join chains).
    // Both frames are value-histogram-sized (≤ distinct xent values /
    // ≤ maxChunks rows), so the cache is bounded by construction.
    val hist = hist0.join(broadcast(span))
      .withColumn("cb", expr(s"(v - mn) div ((mx - mn) div $maxChunks + 1)"))
      .select("v", "cnt", "cb")
      .cache()
    if (!forPlanInspection) hist.count()
    val wLocal = Window.partitionBy("cb").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = hist.withColumn("local_cum", sum("cnt").over(wLocal))
    val totals = hist.groupBy("cb").agg(sum("cnt").as("tot")).cache()
    if (!forPlanInspection) totals.count()
    val bounds = totals.agg(max("cb").as("cb_max"), sum("tot").as("n"))
    val prefix = totals.join(broadcast(bounds))
      .filter(col("cb") < col("cb_max"))
      .select(explode(expr("sequence(cb + 1, cb_max)")).as("cb"), col("tot"))
      .groupBy("cb").agg(sum("tot").as("prev_cum"))
    val boundaries = local.join(prefix, Seq("cb"), "left")
      .join(broadcast(bounds.select("n")))
      .withColumn("cum", col("local_cum") + coalesce(col("prev_cum"), lit(0L)))
      .agg(
        min(when(col("cum") * 3 >= col("n"), col("v"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("v"))).as("b2"))
    val out = xent.crossJoin(broadcast(boundaries))
      .select(
        col("doc_id"), col("n_bigrams"), col("xent_micronats"),
        when(col("xent_micronats") <= col("b1"), "head")
          .when(col("xent_micronats") <= col("b2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
    if (forPlanInspection) { Seq(xent, hist, totals).foreach(_.unpersist(false)); out }
    else graft.operators.Dedup.materializeAndRelease(Seq(xent, hist, totals), out)
  }

  /** The fingerprinted bigram-occurrence relation + 1-row vocabulary —
    * shared corpus prep of the exact and pruned LM scorers (identical
    * relation, so the pruned twin cannot drift from the exact contract).
    */
  private def lmBigramRelation(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d0 = docs(spark, dir).withColumn("toks", Portable.tokens("text"))
    // vocabulary over ALL token occurrences (single-token docs included)
    val vocab = d0.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    val bg = d0.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(Portable.let("tk_", "toks",
        "transform(sequence(1, size(tk_) - 1), " +
          "i -> struct(element_at(tk_, i) AS prev, " +
          "element_at(tk_, i) || ' ' || element_at(tk_, i + 1) AS bigram))"))).as("bg"))
      .select(col("doc_id"),
        Portable.polyHash60Native("bg.prev").as("fp_prev"),
        Portable.polyHash60Native("bg.bigram").as("fp_pair"))
    (bg, vocab)
  }

  /** [[lmCrossEntropy]]'s PRUNED-MODEL twin — the scale answer for the
    * regime where the corpus-self-trained bigram table itself becomes a
    * shuffle burden (the model grows with the corpus; DESIGN.md's one
    * honestly-linear row): keep only the TOP-`topK` successors per
    * context (by pair count, ties to the smaller fingerprint — exactly
    * `graft_topk`'s (score desc, id asc) heap order, mirrored by the
    * oracle's `row_number` form), and score every pruned-away bigram
    * occurrence with the context's add-one BACKOFF cost
    * `ln(1/(c_prev+V))` — i.e. as if unseen. The deployed model is then
    * ≤ topK rows per distinct context plus ONE backoff row per context —
    * capped at `(topK+1)·|contexts|` regardless of how many distinct
    * continuations the corpus accumulates.
    *
    * Guarantee (gated by [[lmCrossEntropyPrunedCheck]]): backoff
    * probability `1/(c_prev+V)` is ≤ the true `(c_pair+1)/(c_prev+V)`
    * for every observed pair, and micro-nat quantization preserves ≤, so
    * the pruned score can only move UP (never scores garbled text as
    * more corpus-typical). Exactness contract is [[lmCrossEntropy]]'s:
    * both `ln`s quantize per distinct probability; everything after is
    * exact integer arithmetic, oracle bit-for-bit.
    *
    * Scale: the top-k selection is the bounded-heap `graft_topk`
    * partial/merge aggregate over the DISTINCT-pair table (map tasks
    * forward ≤ topK rows per context — no window, no sort); score joins
    * stay on 8-byte fingerprints, AQE-sized, nothing corpus-derived is
    * force-broadcast.
    */
  def lmCrossEntropyPruned(spark: SparkSession, dir: String,
      topK: Int = 24): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (bg, vocab) = lmBigramRelation(spark, dir)
    val pairStats = bg.groupBy("fp_pair")
      .agg(count(lit(1)).as("c_pair"), min(col("fp_prev")).as("fp_prev"))
    val ctxStats = bg.groupBy("fp_prev").agg(count(lit(1)).as("c_prev"))
    val kept = pairStats.groupBy("fp_prev")
      .agg(expr(s"graft_topk(fp_pair, CAST(c_pair AS DOUBLE), $topK)").as("top"))
      .select(explode(col("top.id")).as("fp_pair"))
    // the deployed pruned model: ≤ topK cost rows per context…
    val keptModel = pairStats.join(kept, Seq("fp_pair"), "left_semi")
      .join(ctxStats, Seq("fp_prev"))
      .crossJoin(broadcast(vocab))
      .select(col("fp_pair"), expr(
        "CAST(round(ln((c_pair + 1.0) / (c_prev + vocab)) * 1000000) AS BIGINT)").as("cost"))
    // …plus ONE backoff row per context
    val backoff = ctxStats.crossJoin(broadcast(vocab))
      .select(col("fp_prev"), expr(
        "CAST(round(ln(1.0 / (c_prev + vocab)) * 1000000) AS BIGINT)").as("b_cost"))
    bg.select("doc_id", "fp_prev", "fp_pair")
      .join(keptModel, Seq("fp_pair"), "left")
      .join(backoff, Seq("fp_prev"))
      .withColumn("c", coalesce(col("cost"), col("b_cost")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("c")).as("sum_cost"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("(-sum_cost) div n_bigrams").as("xent_micronats"))
  }

  /** The cross-entropy DELTA gate for [[lmCrossEntropyPruned]]: joins the
    * pruned and exact per-doc scores and pins (a) the monotone invariant —
    * pruning can NEVER lower a doc's cross-entropy (zero violations), and
    * (b) the quality bound — the total delta stays within
    * `maxDeltaPermille` (‰) of the exact total, i.e. the pruned model
    * still scores essentially like the exact one. All-integer outputs, so
    * the DuckDB oracle (both scorers re-derived in SQL) matches
    * bit-for-bit.
    *
    * The monotone invariant is scale-free; the delta bound is a
    * FIXTURE-CALIBRATED operating point: inflation at fixed `topK` grows
    * with corpus scale (more distinct successors per context ⇒ more mass
    * through backoff), so a (topK, bound) pair that holds at one SF can
    * silently flip at another — and because the oracle recomputes the
    * SAME boolean, the flip still hash-matches (GateMarginProbe r17
    * caught exactly this: topK=16 read 373‰ at sf0.01 but 734‰ at sf0.1
    * against the 450‰ bound). topK=24 is the measured point (LmPruneSweep
    * r17) where both gate fixtures prune substantially (135‰ / 302‰ —
    * non-vacuous: the fixtures' successor counts cap at 30, so topK ≥ 30
    * would prune NOTHING and gate nothing) and the worst fixture consumes
    * 671‰ of the bound.
    */
  def lmCrossEntropyPrunedCheck(spark: SparkSession, dir: String,
      topK: Int = 24, maxDeltaPermille: Int = 450): DataFrame = {
    val exact = lmCrossEntropy(spark, dir)
      .select(col("doc_id"), col("xent_micronats").as("xe"))
    val pruned = lmCrossEntropyPruned(spark, dir, topK)
      .select(col("doc_id"), col("xent_micronats").as("xp"))
    exact.join(pruned, Seq("doc_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("xp") < col("xe"), 1L).otherwise(0L)).as("n_violations"),
        sum(col("xe")).as("sum_exact"),
        sum(col("xp") - col("xe")).as("sum_delta"))
      .select(col("n_docs"), col("n_violations"), col("sum_exact"), col("sum_delta"),
        (col("sum_delta") * 1000 <= col("sum_exact") * maxDeltaPermille)
          .as("delta_within_bound"))
  }

  /** DSIR importance weighting (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") with hashed n-gram
    * features: every document scores `log(p_target(x) / p_raw(x))` under
    * bag-of-hashed-(uni+bi)gram models — the standard way to steer a raw
    * 100 TB crawl toward a target domain without training a classifier.
    * The target here is the corpus's own `lang = targetLang` slice (a
    * deployment would pass a curated in-domain sample); raw is the full
    * corpus. High weights mark raw docs that look like the target domain.
    *
    * Exactness contract ([[lmCrossEntropy]]'s): both `ln`s are quantized
    * to integer micro-nats PER BUCKET before the difference, so the
    * per-doc score is an exact integer sum of per-occurrence integer
    * costs; the oracle reproduces it bit-for-bit.
    *
    * Scale: features hash into `numBuckets` buckets via the portable
    * poly-hash (the hashing trick — vocabulary-free, fixed model size).
    * Both count tables and the cost table are ≤ `numBuckets` rows — a
    * CONSTANT of the operator, independent of corpus size — so the cost
    * broadcast is bounded by construction (unlike a corpus-derived set,
    * which must never be force-broadcast). The occurrence stream carries
    * only (doc_id, int bucket) through one map-combined aggregate; token
    * text never shuffles.
    */
  /** (doc_id, lang, b): one row per uni/bigram feature occurrence, hashed
    * into `numBuckets` buckets — the hashed-feature relation every DSIR
    * stage (model training AND scoring) is built from. Applies unchanged
    * to a STREAMING frame (pure generator + projection, no state).
    */
  private def dsirFeatureBuckets(d0: DataFrame, numBuckets: Int): DataFrame = {
    val d = d0.withColumn("toks", Portable.tokens("text"))
    val uni = d.select(col("doc_id"), col("lang"), explode(col("toks")).as("f"))
    val bi = d.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(Portable.let("tk_", "toks",
        "transform(sequence(1, size(tk_) - 1), " +
          "i -> element_at(tk_, i) || ' ' || element_at(tk_, i + 1))"))).as("f"))
    // empty-text docs tokenize to [""] — no feature, like the oracle
    uni.union(bi).filter(col("f") =!= "")
      .select(col("doc_id"), col("lang"),
        (Portable.polyHashNative("f") % numBuckets).as("b"))
  }

  /** The trained DSIR model: (b, c) — per-bucket micro-nat cost
    * `round(ln p_t·1e6) − round(ln p_r·1e6)` over the training corpus.
    * ≤ `numBuckets` rows by construction (a PARAMETER, not corpus-derived),
    * which is what makes broadcasting it safe at any corpus size.
    */
  def dsirCostModel(trainDocs: DataFrame, numBuckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    val hb = dsirFeatureBuckets(trainDocs, numBuckets)
    val raw = hb.groupBy("b").agg(count(lit(1)).as("c_r"))
    val tgt = hb.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("c_t"))
    val totals = hb.agg(count(lit(1)).as("r_tot"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_tot"))
    // buckets absent from raw cannot occur in any training doc, so the raw
    // table spans every reachable bucket; target counts left-join in
    raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (expr(s"CAST(round(ln((coalesce(c_t, 0) + 1.0) / (t_tot + $numBuckets)) * 1000000) AS BIGINT)") -
          expr(s"CAST(round(ln((c_r + 1.0) / (r_tot + $numBuckets)) * 1000000) AS BIGINT)")).as("c"))
  }

  /** Scores documents against a TRAINED cost model — the apply half of
    * DSIR, shared verbatim by the in-session path ([[dsirWeights]]), the
    * persisted-model path and the streaming scorer
    * ([[graft.streaming.StreamScore]]), so train-offline/score-online
    * cannot drift from the batch contract. Features hashing to buckets the
    * model never saw are DROPPED (inner join): the frozen model has no raw
    * probability for them — the standard OOV rule for a frozen hashed LM —
    * and `n_feats` counts in-model features only.
    */
  def dsirScoreAgainst(scoreDocs: DataFrame, cost: DataFrame,
      numBuckets: Int = 1024): DataFrame =
    dsirFeatureBuckets(scoreDocs, numBuckets)
      .select("doc_id", "b")
      .join(broadcast(cost), Seq("b")) // ≤ numBuckets rows by construction
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum(col("c")).as("logw_micronats"))

  def dsirWeights(spark: SparkSession, dir: String, numBuckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val d = docs(spark, dir)
    dsirScoreAgainst(d, dsirCostModel(d, numBuckets, targetLang), numBuckets)
  }

  /** Persists the trained DSIR model — ≤ numBuckets (b, c) rows of
    * parquet, the artifact a deployment trains once on a frozen corpus
    * snapshot and applies to every new shard and stream.
    */
  def writeDsirModel(spark: SparkSession, dir: String, storeDir: String,
      numBuckets: Int = 1024, targetLang: String = "en"): Unit = {
    graft.functions.GraftFunctions.register(spark)
    dsirCostModel(docs(spark, dir), numBuckets, targetLang)
      .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/dsir_cost.parquet")
  }

  /** Word-type table (word, cnt) — BPE's working set. The crucial scale
    * property of classic BPE training: after this one corpus scan the
    * iteration works on VOCABULARY-sized data (distinct word forms with
    * counts), not the corpus.
    */
  private def wordTypes(d: DataFrame): DataFrame =
    d.select(explode(Portable.tokens("text")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** One left-to-right greedy merge pass of pair (a, b) → ab over a symbol
    * array column — the BPE apply rule, as a codegen'd fold (no UDF): the
    * accumulator's last symbol merges with the current one iff they equal
    * (a, b); a freshly-merged `ab` cannot re-merge with the next symbol as
    * `a` unless `ab == a`, which matches the canonical non-overlapping
    * greedy semantics.
    */
  private def mergePass(s: Column, a: String, b: String): Column =
    aggregate(s, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, size(acc)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Distributed BPE merge-table training (Sennrich et al. 2016) — the
    * tokenizer-training step of a data pipeline, run where the data is:
    * each of `numMerges` rounds is ONE distributed pair-count aggregate
    * over the word-type table (map-side combined, weighted by word count)
    * of which only the single argmax row reaches the driver; the winning
    * merge is applied as a map-only fold and the loop continues. Ties
    * break (freq desc, left asc, right asc) so the table is deterministic
    * across runs, partitionings and engines.
    *
    * Output: (rank, left, right, merged, freq) — the merge table IS the
    * trained tokenizer artifact.
    *
    * Scale: corpus text is touched ONCE (the word-type aggregation);
    * every later stage is vocabulary-sized. Lineage is truncated with an
    * eager `localCheckpoint` every few rounds so round N's plan does not
    * nest N fold lambdas. No oracle (iterative argmax is not expressible
    * in one SQL statement) — gated by [[bpeCheck]], which re-derives the
    * table with an independent in-memory reference implementation.
    */
  def bpeMerges(spark: SparkSession, dir: String, numMerges: Int = 16,
      driverMergeThreshold: Int = 0, maxVocab: Int = 1 << 20): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    if (numMerges > driverMergeThreshold) {
      // The per-merge Spark-job barrier dominates the distributed trainer
      // at EVERY vocabulary that fits maxVocab (one distributed pair-count
      // + driver argmax PER RANK — 16 serial job barriers even at the
      // catalog's numMerges=16, 32k at a production vocabulary; r17 opt
      // measured the barriers at ~90% of text_bpe's wall). The word-type
      // histogram is vocab-bounded after the single corpus scan — the same
      // bound every production tokenizer trainer (and [[bpeCheck]]'s
      // reference) relies on — so the default threshold is now 0: collect
      // the histogram behind the maxVocab guard and train driver-side with
      // the incremental trainer — identical merge table (BpeSpec pins both
      // paths equal, and bpeCheck forces the distributed path via
      // driverMergeThreshold=Int.MaxValue to keep gating it against the
      // reference). A vocabulary past maxVocab no longer throws: it falls
      // THROUGH to the distributed trainer below (r17 opt — the guarded
      // collect must not turn a big-vocab corpus into a hard failure now
      // that the driver path is the default).
      import spark.implicits._
      wordTypesWithinVocab(docs(spark, dir), maxVocab) match {
        case Some(types) =>
          return bpeTrainOnTypes(types, numMerges)
            .toDF("rank", "left", "right", "merged", "freq")
        case None => () // vocabulary past the guard: distributed trainer below
      }
    }
    var syms = wordTypes(docs(spark, dir))
      // CODE-POINT split (a supplementary char is one symbol, never a
      // surrogate half) — matching the driver reference. ASCII words (the
      // overwhelming majority of any real vocabulary) take the cheap
      // split('') path, which is identical there (1 byte = 1 code point);
      // only words with non-ASCII bytes pay the regexp walk.
      .select(col("cnt"), concat(
        when(expr("w RLIKE '^[\\\\x01-\\\\x7F]*$'"), split(col("w"), ""))
          .otherwise(expr("regexp_extract_all(w, '(?s).', 0)")),
        array(lit("</w>"))).as("s"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var exhausted = false // a best pair under freq 2 ends training early
    for (rank <- 1 to numMerges if !exhausted) {
      val best = syms
        // a fully-merged word is ONE symbol — no pairs, and an unguarded
        // sequence(1, 0) would DESCEND and index out of bounds
        .filter(size(col("s")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> struct(element_at(s, i) AS a, element_at(s, i + 1) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("f"))
        .orderBy(desc("f"), col("a"), col("b"))
        .limit(1).collect()
      if (best.nonEmpty && best(0).getLong(2) >= 2) {
        val (a, b, f) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, a, b, a + b, f))
        val next = syms.withColumn("s", mergePass(col("s"), a, b))
        syms = if (rank % 8 == 0) next.localCheckpoint(true) else next
      } else exhausted = true
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "merged", "freq")
  }

  /** The oracle-checked gate for [[bpeMerges]]: an INDEPENDENT in-memory
    * reference BPE (plain Scala maps over the collected word-type table —
    * bounded by the vocabulary, which a spec-level gate may hold; a guard
    * refuses vocabularies past `maxVocab` rather than silently collecting
    * a corpus-sized set) must produce the IDENTICAL merge table. A green
    * row proves the distributed fold + argmax pipeline implements the
    * classic algorithm exactly, including tie-breaks.
    */
  def bpeCheck(spark: SparkSession, dir: String, numMerges: Int = 16,
      maxVocab: Int = 1 << 20): DataFrame = {
    val ref = bpeTrainOnTypes(collectWordTypes(docs(spark, dir), maxVocab), numMerges)
    // force the DISTRIBUTED path regardless of numMerges — the gate's point
    // is cross-implementation agreement, never reference-vs-itself
    val dist = bpeMerges(spark, dir, numMerges, driverMergeThreshold = Int.MaxValue)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    import spark.implicits._
    Seq((dist.length.toLong, dist.toSeq == ref))
      .toDF("n_merges", "merge_table_matches_reference")
  }

  /** BPE ENCODE at corpus scale — the APPLY half of the tokenizer story
    * ([[bpeMerges]] trains the merge table; this encodes every document
    * with it, the per-doc token accounting a token-budget pipeline runs):
    * the canonical encoder — split each word into code-point symbols +
    * `</w>`, then repeatedly merge the pair with the LOWEST RANK present
    * (ties to the leftmost occurrence) until no ranked pair remains.
    * Rank-order encoding (not training-order re-scan) is what real BPE
    * tokenizers ship.
    *
    * Output: (doc_id, n_words, n_tokens, n_chars_tokenized) — the doc's
    * token count under the TRAINED tokenizer, exact.
    *
    * Scale: the merge table is bounded by the `numMerges` PARAMETER, so
    * its broadcast is safe by construction; encoding is one
    * `mapPartitions` pass (per-doc work ∝ text length × merges applied,
    * no shuffle, partitioning preserved). The gate
    * ([[bpeEncodeCheck]]) asserts the lossless round trip distributed-ly:
    * concatenating each word's tokens and stripping `</w>` must rebuild
    * the exact word, for EVERY word of EVERY doc — plus token counts
    * bounded by [1, chars+1] per word.
    */
  def bpeEncode(spark: SparkSession, dir: String,
      numMerges: Int = 16): DataFrame = {
    val ranks: Map[(String, String), Int] =
      bpeMerges(spark, dir, numMerges).collect()
        .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    encodeDocsWith(spark, dir, ranks)
  }

  /** One word through the rank-order BPE encoder (code-point symbols +
    * `</w>` terminal; lowest rank first, leftmost on equal rank — the
    * leftmost rule is unreachable for a well-formed table since ranks are
    * unique, but pinned for safety).
    */
  private[graft] def encodeWord(w: String,
      ranks: Map[(String, String), Int]): Vector[String] = {
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      buf += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    buf += "</w>"
    var done = false
    while (!done && buf.length >= 2) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < buf.length - 1) {
        val rk = ranks.getOrElse((buf(j), buf(j + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) done = true
      else {
        buf(bestIdx) = buf(bestIdx) + buf(bestIdx + 1)
        buf.remove(bestIdx + 1)
      }
    }
    buf.toVector
  }

  /** Oracle-checked gate for [[bpeEncode]]: re-encodes every word of
    * every document and asserts, DISTRIBUTED (no corpus-sized collect),
    * that (a) concatenating the word's tokens and stripping the `</w>`
    * terminal rebuilds the word EXACTLY (the encoder is lossless), and
    * (b) each word's token count sits in [1, code-points + 1]. A green
    * row proves the broadcast-table encoder inverts cleanly over the
    * whole corpus; the oracle pins the constants (rows, zero mismatches)
    * the way `text_bpe_check` does.
    */
  def bpeEncodeCheck(spark: SparkSession, dir: String,
      numMerges: Int = 16): DataFrame = {
    import spark.implicits._
    val ranks: Map[(String, String), Int] =
      bpeMerges(spark, dir, numMerges).collect()
        .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val perDoc = docs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (id, text) =>
          // NULL-text contract (r16, pinned): imperative seams normalize
          // NULL to the empty string -- identical to the empty-doc path --
          // so one malformed row can never kill a 100 TB encode job.
          val words = (if (text == null) "" else text).trim.split("\\s+")
          var bad = 0L
          for (w <- words) {
            val toks = encodeWord(w, r)
            val rebuilt = toks.mkString("")
            val nCp = w.codePointCount(0, w.length)
            if (rebuilt != w + "</w>" || toks.length < 1 || toks.length > nCp + 1)
              bad += 1
          }
          (id, bad)
        }
      }
    perDoc.toDF("doc_id", "bad")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("bad")).as("n_roundtrip_mismatches"))
      .select(col("n_docs"), col("n_roundtrip_mismatches"),
        (col("n_roundtrip_mismatches") === 0L).as("encoder_lossless"))
  }

  /** Persists the trained BPE merge table — ≤ `numMerges` rows of parquet,
    * the tokenizer artifact a deployment trains once on a frozen corpus
    * snapshot and applies to every new shard and stream (the
    * `writeDsirModel` discipline for the tokenizer).
    */
  def writeBpeModel(spark: SparkSession, dir: String, storeDir: String,
      numMerges: Int = 16): Unit =
    bpeMerges(spark, dir, numMerges)
      .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/bpe_merges.parquet")

  /** [[bpeEncode]] against a PERSISTED merge table — loads the ≤ numMerges
    * artifact (bounded by the training parameter, never the corpus) and
    * encodes through the identical rank-order encoder, so store and
    * in-session paths cannot drift (spec-pinned bit-equal).
    */
  def bpeEncodeViaStore(spark: SparkSession, dir: String, storeDir: String): DataFrame = {
    val ranks: Map[(String, String), Int] =
      ParquetSource.read(spark, s"$storeDir/bpe_merges.parquet").collect()
        .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    encodeDocsWith(spark, dir, ranks)
  }

  /** Shared encode body of [[bpeEncode]] and [[bpeEncodeViaStore]]. */
  private def encodeDocsWith(spark: SparkSession, dir: String,
      ranks: Map[(String, String), Int]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(ranks)
    docs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (id, text) =>
          // NULL-text contract (r16, pinned): imperative seams normalize
          // NULL to the empty string -- identical to the empty-doc path --
          // so one malformed row can never kill a 100 TB encode job.
          val words = (if (text == null) "" else text).trim.split("\\s+")
          var nTokens = 0L
          var nChars = 0L
          for (w <- words) {
            val toks = encodeWord(w, r)
            nTokens += toks.length
            nChars += w.length.toLong
          }
          (id, words.length.toLong, nTokens, nChars)
        }
      }
      .toDF("doc_id", "n_words", "n_tokens", "n_chars_tokenized")
  }

  /** The collected, maxVocab-guarded word-type histogram — BPE's bounded
    * working set (refuses vocabularies past the guard rather than silently
    * collecting a corpus-sized set).
    */
  private def collectWordTypes(d: DataFrame, maxVocab: Int): Array[(String, Long)] =
    wordTypesWithinVocab(d, maxVocab).getOrElse(throw new IllegalArgumentException(
      s"requirement failed: BPE driver path: vocabulary exceeds maxVocab=$maxVocab — only bounded corpora"))

  /** The vocab-probing collect both driver-path entries share (ADVICE r17:
    * [[bpeMerges]] inlined this minus the guard): `Some(histogram)` when
    * the vocabulary fits `maxVocab`, `None` past the guard — the caller
    * decides whether that means fall-through ([[bpeMerges]]) or refusal
    * ([[collectWordTypes]]). The collect is bounded at maxVocab+1 rows
    * either way.
    */
  private def wordTypesWithinVocab(d: DataFrame,
      maxVocab: Int): Option[Array[(String, Long)]] = {
    val types = wordTypes(d).limit(maxVocab + 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    if (types.length <= maxVocab) Some(types) else None
  }

  /** UTF-8 byte-order string comparison — identical to Spark's
    * `UTF8String` binary ordering, so driver-side tie-breaks agree with
    * the distributed `orderBy` even on supplementary (non-BMP) characters,
    * where Java's UTF-16 `compareTo` sorts differently (surrogate blocks
    * sit below U+E000 in UTF-16 order but all supplementary code points
    * sort above every BMP char in UTF-8/code-point order).
    */
  private def utf8Cmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Driver-side INCREMENTAL BPE trainer over the vocab-bounded word-type
    * histogram — the classic algorithm with the classic data structures:
    * global pair counts, a pair→word-indices occurrence index, and a
    * lazy-deletion max-heap ordered by `(freq desc, left, right)` under
    * UTF-8 byte order. Per merge only the words CONTAINING the winning
    * pair are re-segmented (their old pair multiset is subtracted, the new
    * one added, touched heap keys re-pushed; stale heap entries are
    * discarded on pop by comparing against the live count) — total work is
    * proportional to the text actually touched by merges, NOT
    * merges × vocabulary, and there is no per-merge Spark job at all.
    * Words split into CODE POINTS (one symbol per code point, `</w>`
    * terminal), matching the distributed fold's `regexp_extract_all`.
    * Same exhaustion rule as the distributed loop: training ends when the
    * best pair's frequency drops under 2.
    */
  private[graft] def bpeTrainOnTypes(types: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    val words: Array[mutable.ArrayBuffer[String]] = types.map { case (w, _) =>
      val buf = mutable.ArrayBuffer[String]()
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        buf += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      buf += "</w>"
      buf
    }
    val wcnt: Array[Long] = types.map(_._2)

    val counts = mutable.HashMap[(String, String), Long]()
    val occ = mutable.HashMap[(String, String), mutable.HashSet[Int]]()
    def addPair(p: (String, String), c: Long, idx: Int): Unit = {
      counts.updateWith(p) { v => Some(v.getOrElse(0L) + c) }
      occ.getOrElseUpdate(p, mutable.HashSet[Int]()) += idx
    }
    for (idx <- words.indices; i <- 0 until words(idx).length - 1)
      addPair((words(idx)(i), words(idx)(i + 1)), wcnt(idx), idx)

    // max-heap by (freq, then left/right ASCENDING in utf8 order)
    val ord: Ordering[(Long, String, String)] = (p, q) => {
      if (p._1 != q._1) java.lang.Long.compare(p._1, q._1)
      else {
        val c = utf8Cmp(q._2, p._2)
        if (c != 0) c else utf8Cmp(q._3, p._3)
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    for (((a, b), f) <- counts) heap.enqueue((f, a, b))

    val out = mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      // pop until the entry matches the LIVE count (lazy deletion)
      var best: Option[(Long, String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.get((e._2, e._3)).contains(e._1) && e._1 > 0) best = Some(e)
      }
      best match {
        case Some((f, a, b)) if f >= 2 =>
          out += ((rank, a, b, a + b, f))
          val merged = a + b
          val touched = mutable.HashSet[(String, String)]()
          for (idx <- occ.getOrElse((a, b), mutable.HashSet[Int]()).toArray) {
            val s = words(idx); val c = wcnt(idx)
            // verify non-stale (lazy occurrence index)
            var has = false
            var i = 0
            while (!has && i < s.length - 1) { has = s(i) == a && s(i + 1) == b; i += 1 }
            if (has) {
              // subtract the word's old pairs, re-segment, add the new ones
              for (i <- 0 until s.length - 1) {
                val p = (s(i), s(i + 1))
                counts.updateWith(p)(v => Some(v.getOrElse(0L) - c)); touched += p
              }
              val ns = mutable.ArrayBuffer[String]()
              for (x <- s) {
                if (ns.nonEmpty && ns.last == a && x == b) ns(ns.length - 1) = merged
                else ns += x
              }
              words(idx) = ns
              for (i <- 0 until ns.length - 1) {
                val p = (ns(i), ns(i + 1))
                counts.updateWith(p)(v => Some(v.getOrElse(0L) + c)); touched += p
                occ.getOrElseUpdate(p, mutable.HashSet[Int]()) += idx
              }
            }
          }
          occ.remove((a, b))
          for (p <- touched) counts.get(p) match {
            case Some(f2) if f2 > 0 => heap.enqueue((f2, p._1, p._2))
            case _ => counts.remove(p); ()
          }
          rank += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  /** The composed DSIR selection chain under ONE oracle: importance
    * weights ([[dsirWeights]]) → exact top-`topN` docs by weight via the
    * bounded-heap `graft_topk` aggregate (map tasks forward ≤ topN rows
    * each — no global sort, no window) → per-lang rollup of the selected
    * slice. On the fixture the selection skews hard toward the `en`
    * target, which is the point of DSIR: the rollup row makes that
    * outcome oracle-visible. The selected-id set is bounded by the `topN`
    * PARAMETER, so its broadcast back onto the corpus is safe by
    * construction.
    */
  def pipelineDsirSelect(spark: SparkSession, dir: String, topN: Int = 200): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val sel = dsirWeights(spark, dir)
      .agg(expr(s"graft_topk(doc_id, CAST(logw_micronats AS DOUBLE), $topN)").as("top"))
      .select(explode(col("top.id")).as("doc_id"))
    docs(spark, dir)
      .join(broadcast(sel), Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_selected"),
        sum(length(col("text"))).cast("bigint").as("total_chars"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s scale twin for the
    * regime where the eval/benchmark side is itself large (full benchmark
    * suites at n-gram granularity: tens of millions of distinct grams,
    * where the exact distinct-gram broadcast set is GBs). The eval grams
    * fold into ONE fixed-size Bloom filter (`numBits` bound regardless of
    * eval cardinality — 32 KiB at the default), and the corpus side is
    * probed MAP-SIDE: no join against the eval set at all, and non-matching
    * grams die before any shuffle.
    *
    * Semantics: a SUPERSET mark. Bloom filters admit false positives but
    * never false negatives, so every exactly-contaminated document is
    * flagged (recall 1.0 by construction — [[decontaminateBloomCheck]]
    * gates it per corpus) and a bounded false-positive fraction of clean
    * documents is over-flagged — the safe direction for decontamination,
    * where a missed leak poisons the eval and an over-dropped clean doc
    * costs only data. Grams are probed by their 60-bit portable
    * fingerprint, so the filter stores 8-byte keys, never text.
    */
  def decontaminateBloom(spark: SparkSession, dir: String, n: Int = 8,
      evalDocs: Long = 20, numBits: Int = 262144, numHashes: Int = 6): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val d = docs(spark, dir)
      .withColumn("toks", Portable.tokens("text"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), Portable.wordShingles("toks", n).as("grams"))
    // ONE fixed-size blob reaches the driver (numBits/8 bytes), the
    // bloomSemiJoin precedent — bounded however many eval grams exist
    val bloomBytes = d.filter(col("doc_id") < evalDocs)
      .select(explode(col("grams")).as("gram"))
      .select(Portable.polyHash60Native("gram").as("fp"))
      .agg(expr(s"graft_bloom_build(fp, $numBits, $numHashes)"))
      .head().getAs[Array[Byte]](0)
    val bloomLit = "X'" + bloomBytes.map("%02X".format(_)).mkString + "'"
    val hits = d.filter(col("doc_id") >= evalDocs)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), Portable.polyHash60Native("gram").as("fp"))
      .filter(expr(s"graft_bloom_contains($bloomLit, fp)"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
    docs(spark, dir).filter(col("doc_id") >= evalDocs).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged_grams"),
        (coalesce(col("n_flagged"), lit(0L)) > 0).as("contaminated_bloom"))
  }

  /** The oracle-checked gate for [[decontaminateBloom]]: joins the Bloom
    * mark against the EXACT [[decontaminate]] mark and proves (a) zero
    * false negatives — every exactly-contaminated doc is Bloom-flagged —
    * and (b) the false-positive fraction of exactly-clean docs stays under
    * `maxFpFrac` (default 1%, generous vs the ~0.05% the default filter
    * geometry predicts at this corpus's eval-gram load). `n_contaminated`
    * is exact and oracle-recomputed; the booleans are the gate.
    */
  def decontaminateBloomCheck(spark: SparkSession, dir: String,
      maxFpFrac: Double = 0.01): DataFrame = {
    val exact = decontaminate(spark, dir)
      .select(col("doc_id"), col("contaminated"))
    val bloom = decontaminateBloom(spark, dir)
      .select(col("doc_id"), col("contaminated_bloom"))
    exact.join(bloom, Seq("doc_id"))
      .agg(
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated") && !col("contaminated_bloom"), 1L)
          .otherwise(0L)).as("n_missed"),
        (sum(when(!col("contaminated") && col("contaminated_bloom"), 1L)
          .otherwise(0L)).cast("double") /
          sum(when(!col("contaminated"), 1L).otherwise(0L))).as("fp_frac"))
      .select(
        col("n_contaminated").cast("bigint").as("n_contaminated"),
        (col("n_missed") === 0L).as("no_false_negatives"),
        (col("fp_frac") <= maxFpFrac).as("fp_frac_bounded"))
  }

  /** BM25 retrieval scoring against a fixed query-term set — the ranking
    * function a corpus search/retrieval layer runs, in EXACT integer
    * arithmetic. With Lucene's +1 idf variant (always positive — which
    * also keeps every division non-negative, so Spark `div` and DuckDB
    * `//` agree) and k1 = 6/5, b = 3/4 as exact rationals, the per-term
    * score folds to ONE integer division:
    *
    *   idf_micro = round(ln(1 + (2N − 2df + 1)/(2df + 1)) · 1e6)
    *   score     = (idf_micro · 44 · tf · T) div (20·tf·T + 6·T + 18·dl·N)
    *
    * where T = total corpus tokens, N = docs, dl = doc length (avgdl is
    * carried as the exact rational T/N, never a rounded double).
    *
    * Scale: tf is one aggregate over tokens FILTERED to the query terms
    * (the explode never shuffles non-query tokens); df and the corpus
    * stats are metadata-sized broadcasts; dl joins on doc_id. Overflow
    * bound: idf_micro·44·tf·T < 2^63 — fine to ~10^9-token corpora per
    * partition-group; larger corpora quantize avgdl to an integer first
    * (documented trade).
    */
  def bm25(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("spark", "table", "query")): DataFrame = {
    val d = docs(spark, dir).filter(length(col("text")) > 0)
      .withColumn("toks", Portable.tokens("text"))
    val perDoc = d.select(col("doc_id"), explode(col("toks")).as("tok"))
    val dl = perDoc.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tt"))
    val tf = perDoc.filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), "tok")
      .join(dl, "doc_id")
      .join(broadcast(corpus))
      .withColumn("idf_micro", expr(
        "CAST(round(ln(1.0 + (2 * nd - 2 * df + 1.0) / (2 * df + 1.0)) * 1000000) AS BIGINT)"))
      .withColumn("term_score_micro", expr(
        "(idf_micro * 44 * tf * tt) div (20 * tf * tt + 6 * tt + 18 * dl * nd)"))
      .groupBy("doc_id")
      .agg(sum(col("term_score_micro")).as("bm25_micro"),
        count(lit(1)).as("n_query_terms"))
      .select(col("doc_id"), col("bm25_micro").cast("bigint").as("bm25_micro"),
        col("n_query_terms").cast("bigint").as("n_query_terms"))
  }

  /** DOMAIN-SHIFT measurement — per-source unigram KL divergence from the
    * corpus distribution, the number a mixture-tuning pipeline watches
    * ("how far is this source's token distribution from the blend?"):
    * `KL(p_s ‖ p_c) = Σ_t p_s(t) · ln(p_s(t)/p_c(t))`, computed in EXACT
    * integers: each term's log-ratio is one micro-nat quantization of a
    * ratio of integer products (`ln((c_s·T) / (T_s·c))`, the lm_xent
    * discipline), weighted by the integer count and divided ONCE at the
    * end — so both engines agree bit-for-bit, and Gibbs' inequality keeps
    * the result ≥ 0 up to quantization.
    *
    * Scale: one (source, token) aggregate, one token aggregate broadcast
    * back on the token key, one per-source rollup — token text travels
    * only where it is the join key.
    */
  def domainShift(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).filter(length(col("text")) > 0)
      .select(col("source"), explode(Portable.tokens("text")).as("tok"))
    val bySource = toks.groupBy("source", "tok").agg(count(lit(1)).as("cs"))
    val corpus = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = bySource.groupBy("source").agg(sum(col("cs")).as("ts"))
    // sum over an EMPTY token relation (every doc empty/NULL) is SQL NULL —
    // getLong would throw; 0 is fine because every downstream frame is
    // empty in that case and the literal is never consulted (r16 review)
    val grandRow = corpus.agg(sum(col("c")).as("t")).head()
    val grand = if (grandRow.isNullAt(0)) 0L else grandRow.getLong(0)
    bySource
      .join(corpus, "tok")
      .join(broadcast(totals), "source")
      .withColumn("term", expr(
        s"cs * CAST(round(ln((cs * ${grand}D) / (ts * CAST(c AS DOUBLE))) * 1000000) AS BIGINT)"))
      .groupBy("source")
      .agg(sum(col("term")).as("num"), max(col("ts")).as("n_tokens"),
        count(lit(1)).as("n_terms"))
      .select(col("source"), col("n_tokens").cast("bigint").as("n_tokens"),
        col("n_terms").cast("bigint").as("n_terms"),
        expr("num div n_tokens").as("kl_micro"))
  }

  /** POSITIONAL PHRASE SEARCH (round-10 continuation) — the inverted-index
    * primitive a corpus-curation pipeline uses to find verbatim phrase
    * hits (boilerplate slogans, benchmark prompts, license headers):
    * tokens become 1-based positional postings `(term, doc_id, pos)`, and
    * an n-token phrase is n−1 self-equi-joins on `(doc_id, pos + i)`.
    *
    * Scale: the postings for terms NOT in the phrase are dropped in the
    * same map stage that explodes them — the only shuffled rows are
    * phrase-term postings (term-selective by construction), and each join
    * is a hash equi-join on `(doc_id, pos)`. At 100 TB the postings table
    * would be written once partitioned by term and the phrase probes read
    * only their term buckets; this operator is that probe's plan shape.
    */
  def phraseSearch(spark: SparkSession, dir: String, phrase: String = "fast table"): DataFrame = {
    // Documents are lowercased below, so the phrase must be too — an
    // uppercase term would otherwise silently match nothing.
    val terms = phrase.toLowerCase.split(" ").toSeq
    require(terms.nonEmpty && terms.forall(_.nonEmpty), s"bad phrase '$phrase'")
    val postings = docs(spark, dir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("p0", "term")))
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("term"))
    val first = postings.filter(col("term") === terms.head).select(col("doc_id"), col("pos"))
    val hits = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(postings.filter(col("term") === t)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
        Seq("doc_id", "pos"))
    }
    hits.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
      .select(col("doc_id"), col("n_matches").cast("bigint").as("n_matches"),
        col("first_pos").cast("bigint").as("first_pos"))
  }

  /** CONTAINMENT JOIN (round-10 continuation) — asymmetric near-dup
    * detection: `C(a, b) = |A ∩ B| / |A|` over distinct char-`k`-gram
    * shingle sets, the measure that catches a short doc COPIED INTO a
    * longer one (Jaccard is diluted by the size mismatch; containment is
    * not). Exact, via the standard prefix-filter candidate cut: order
    * every doc's shingles by ascending global document frequency (ties by
    * shingle — a total order), and probe the index with only the FIRST
    * `|A| − ⌈t·|A|⌉ + 1` shingles of each doc. Pigeonhole makes the cut
    * LOSSLESS: a B with `|A∩B| ≥ ⌈t·|A|⌉` leaves at most `|A| − ⌈t·|A|⌉`
    * of A outside B, so A's prefix must hit B. Candidates are then
    * verified with one sorted-array intersection per pair against the
    * full shingle arrays — brute-force pair enumeration never happens.
    *
    * Integer discipline: `⌈t·|A|⌉ = (tMilli·|A| + 999) div 1000` and the
    * reported `containment_milli = 1000·|A∩B| div |A|` are all
    * non-negative bigint ops, bit-equal to the brute-force DuckDB oracle.
    *
    * Scale: shuffles carry (docId, shingle-hash)-sized rows bounded by
    * prefix lengths, never text; the verify join moves only candidate
    * pairs plus each side's shingle array once. The df table is corpus-
    * derived and NOT broadcast (AQE decides). The degenerate all-same-
    * vocab corpus (this fixture) maximally stresses the filter — the spec
    * pins candidates ≪ all pairs even here.
    */
  def containmentJoin(spark: SparkSession, dir: String, k: Int = 12,
      tMilli: Int = 800): DataFrame = {
    val (docsArr, cand) = containmentCandidates(spark, dir, k, tMilli)
    // Verify arrays come STRAIGHT from the cached per-doc array frame —
    // r17 opt: the previous form rebuilt them from the exploded postings
    // with sort_array(collect_list(...)), a full-postings aggregate the
    // plan then executed TWICE (once per join side, ~0.4 s each at sf0.1)
    // — when the array is what the shingler produced in the first place
    // (array_intersect is set-semantics, so the sort was never needed).
    val out = cand
      .join(docsArr.select(col("doc_id").as("a_id"), col("arr").as("a_arr")), "a_id")
      .join(docsArr.select(col("doc_id").as("b_id"), col("arr").as("b_arr")), "b_id")
      .select(col("a_id"), col("b_id"), col("size_a").cast("bigint").as("size_a"),
        size(array_intersect(col("a_arr"), col("b_arr"))).cast("bigint").as("n_common"))
      .filter(expr(s"1000 * n_common div size_a >= $tMilli"))
      .withColumn("containment_milli", expr("1000 * n_common div size_a"))
    Dedup.materializeAndRelease(Seq(docsArr), out)
  }

  /** The candidate stage of [[containmentJoin]], exposed so the scale
    * probes can pin CANDIDATE-count growth (the filter's whole point)
    * directly rather than inferring it from wall/shuffle exponents.
    * Returns (the cached per-doc array frame (doc_id, arr, m), candidate
    * pairs); the caller owns releasing the cache (containmentJoin does so
    * via materializeAndRelease).
    *
    * r17 opt (plan read in the SQL tab): the cache now holds ONE array row
    * per doc instead of the exploded postings — the exploded relation is
    * derived on demand (explode from a columnar cache is cheap; the
    * previous exploded cache was re-scanned five times per run), the
    * per-doc set size is `size(arr)` instead of a count-over-partition
    * window, and the b-side size table is a projection instead of a
    * full-postings re-aggregation.
    */
  private[graft] def containmentCandidates(spark: SparkSession, dir: String,
      k: Int = 12, tMilli: Int = 800): (DataFrame, DataFrame) = {
    require(tMilli >= 1 && tMilli <= 1000, s"tMilli must be in [1, 1000], got $tMilli")
    graft.functions.GraftFunctions.register(spark)
    // shingles as 60-bit portable hashes, not strings: the candidate
    // verify compares ~300-element arrays per pair, and 8-byte long
    // compares beat 12-char string compares ~5× there (the same
    // hash-keyed discipline as [[Dedup.ngramNearDups]]; the oracle
    // computes the identical integers). r12: graft_shingle_hash60 slides
    // the two poly hashes over the text's code points in ONE codegen pass
    // — no substring allocations, no interpreted HOF lambda; bit-identical
    // to the transform(substring)->h60 form (ExpressionsSpec).
    val docsArr = docs(spark, dir)
      .filter(length(col("text")) >= k)
      .select(col("doc_id"),
        array_distinct(expr(s"graft_shingle_hash60(text, $k)")).as("arr"))
      .withColumn("m", size(col("arr")).cast("bigint"))
      .cache()
    docsArr.count() // eager fill before AQE fans out the consumers
    val shC = docsArr.select(col("doc_id"), col("m"), explode(col("arr")).as("s"))
    val df = shC.groupBy("s").agg(count(lit(1)).as("dfreq"))
    // rank each doc's shingles in the (df, shingle) total order; keep the
    // lossless prefix per doc (m is the exact per-doc set size — the array
    // is distinct by construction)
    val ranked = shC.join(df, "s")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("dfreq").asc, col("s").asc)))
    val prefix = ranked
      .filter(col("rk") <= col("m") - expr(s"($tMilli * m + 999) div 1000") + 1)
      .select(col("doc_id").as("a_id"), col("s"), col("m").as("size_a"))
    // pigeonhole size prune BEFORE the array verify: |A∩B| ≥ ⌈t·|A|⌉ is
    // impossible when |B| < ⌈t·|A|⌉ — candidates that cannot pass never
    // ship their arrays
    val cand = prefix.join(shC.select(col("doc_id").as("b_id"), col("s")), "s")
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id", "size_a").distinct()
      .join(docsArr.select(col("doc_id").as("b_id"), col("m").as("size_b")), "b_id")
      .filter(col("size_b") >= expr(s"($tMilli * size_a + 999) div 1000"))
      .select("a_id", "b_id", "size_a")
    (docsArr, cand)
  }

  /** WINNOWING fingerprint selection per document (round-10 continuation)
    * — the MOSS algorithm (Schleimer–Wilkerson–Aiken, SIGMOD'03): hash
    * every char `k`-gram with the portable poly-hash, slide a window of
    * `w` consecutive gram hashes, and record the RIGHTMOST minimum of
    * each window. The guarantee: any match of length ≥ `w + k − 1`
    * between two documents shares at least one selected fingerprint, at
    * an expected density of only `2/(w+1)` — the sparse-but-lossless
    * sampling real plagiarism/overlap detectors run at corpus scale.
    *
    * The whole selection is ARRAY arithmetic inside one projection (gram
    * hashes → per-window fold for the rightmost argmin → distinct) —
    * zero shuffles until the output row is one summary per doc. The fold
    * uses `<=` so later positions displace equal hashes, which is exactly
    * the `(h ASC, pos DESC)` rank-1 rule the DuckDB oracle states.
    *
    * `selected` is deduplicated on (pos, h) pairs — adjacent windows
    * usually re-pick the same minimum, which is WHY density lands near
    * 2/(w+1) rather than 1.
    */
  def winnowing(spark: SparkSession, dir: String, k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, s"need k >= 2 and w >= 2, got k=$k w=$w")
    graft.functions.GraftFunctions.register(spark)
    winnowSelected(spark, dir, k, w)
      .select(col("doc_id"), col("n_grams"),
        size(col("sel")).cast("bigint").as("n_selected"),
        size(array_distinct(expr("graft_struct_field(sel, 'h')"))).cast("bigint").as("n_distinct_h"),
        expr("graft_struct_sum(sel, 'h')").as("h_checksum"), // exact long sum, codegen'd
        expr(s"1000 * size(sel) div (n_grams - ${w - 1})").as("density_milli"))
  }

  /** The shared selection stage: per doc, the distinct (pos, h) winnowed
    * fingerprints as an array column `sel`, plus `n_grams`. Docs shorter
    * than one full window (`k + w − 1` chars) have no window and are
    * excluded on BOTH engines.
    */
  private def winnowSelected(spark: SparkSession, dir: String, k: Int, w: Int): DataFrame =
    docs(spark, dir)
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"),
        // r12: one codegen pass over the code points — bit-identical to
        // transform(sequence, i -> graft_poly_hash(substring(text, i, k)))
        expr(s"graft_shingle_poly(text, $k, 31, ${graft.functions.Portable.P1}L)").as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("bigint").as("n_grams"),
        // Dedup is CONSECUTIVE-RUN removal, not array_distinct: selections
        // of a position p are contiguous in the window index j (once any
        // later position with h <= h_p enters the window it out-displaces
        // p — the fold's `<=` rightmost rule — and stays in-window as
        // long as p does, so p never wins again), hence distinct ==
        // drop-if-equal-to-previous. array_distinct over STRUCT elements
        // takes Spark's O(n²) interpreted pairwise path — 10^12 compares
        // on a 1 MB doc's window array, the task never finishes (r16
        // adversarial find); the indexed filter is O(n).
        expr(Portable.let("hs_", "hs", Portable.let("raw_",
          s"""transform(sequence(1, size(hs_) - ${w - 1}),
           j -> aggregate(sequence(0, ${w - 1}),
             named_struct('h', 9223372036854775807L, 'pos', -1L),
             (acc, o) -> IF(element_at(hs_, CAST(j + o AS INT)) <= acc.h,
               named_struct('h', element_at(hs_, CAST(j + o AS INT)), 'pos', CAST(j + o AS BIGINT)),
               acc)))""",
          s"""filter(raw_, (x, i) ->
             CASE WHEN i = 0 THEN true
                  ELSE NOT (x = element_at(raw_, i)) END)"""))).as("sel"))

  /** WINNOWING OVERLAP pairs — the detector the fingerprints exist FOR:
    * join documents on shared selected hash values (positions dropped —
    * a match anywhere counts) and keep pairs whose shared-hash count
    * covers ≥ `minSharedMilli`/1000 of the SMALLER side's fingerprint
    * set. The fraction, not an absolute count, is the right gate: on a
    * shared-vocabulary corpus every pair shares a background of common
    * hashes (this fixture: ~13% of the smaller side for unrelated pairs),
    * while genuinely copied content pushes past half. By the winnowing guarantee
    * every common substring of length ≥ `w + k − 1` contributes ≥ 1
    * shared hash, so high containment cannot dodge the gate.
    *
    * STOP FINGERPRINTS are removed first — MOSS itself drops fingerprints
    * shared by too many documents (boilerplate is not evidence of
    * copying): hashes present in more than `maxDfPermille`/1000 of docs
    * are excluded from counts AND denominators, and pairs whose smaller
    * side keeps fewer than `minCount` rare fingerprints are dropped (a
    * 2-of-2 overlap is noise, not a copy). Measured necessity on this
    * shared-vocabulary fixture at sf0.1: only 6.4k distinct hashes carry
    * 540k postings (mean df ≈ 84), so the UNCAPPED pair aggregation is
    * 12M rows — the 2% df cap cuts it to 1.15M and the gated output from
    * 57.8 s to interactive. Disable with `maxDfPermille = 1000,
    * minCount = 1` to recover the raw guarantee join (what the
    * containment cross-check spec does).
    *
    * Scale: the only shuffled rows are (hash, doc_id) postings — text
    * never moves; the df cap bounds postings-per-hash by construction, so
    * the per-hash pair fan-out is ≤ (maxDfPermille·nDocs/1000)² summed
    * over rare hashes — never the uncapped quadratic. No all-pairs stage
    * exists: pairs only materialize through shared rare hashes.
    */
  def winnowingOverlap(spark: SparkSession, dir: String, k: Int = 8, w: Int = 4,
      minSharedMilli: Int = 500, maxDfPermille: Int = 20, minCount: Int = 20,
      blockCap: Int = Dedup.LshBucketCap): DataFrame = {
    require(blockCap >= 1, s"blockCap must be >= 1, got $blockCap")
    require(minSharedMilli >= 1 && minSharedMilli <= 1000,
      s"minSharedMilli must be in [1, 1000], got $minSharedMilli")
    require(maxDfPermille >= 1 && maxDfPermille <= 1000,
      s"maxDfPermille must be in [1, 1000], got $maxDfPermille")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    graft.functions.GraftFunctions.register(spark)
    // Lean selection: the detector drops positions, so the per-window fold
    // is a plain long MIN (no per-step struct allocation, no (pos, h)
    // dedup pass) — the distinct h set per doc is IDENTICAL to
    // [[winnowSelected]]'s (the window's min hash value does not depend on
    // which position carries it; WinnowProbe asserts a zero symmetric
    // difference at sf0.1), and the whole selection is two native codegen
    // expressions (zero substring allocations, no interpreted HOF lambdas)
    // — warm e2e 10.8 → ~4 s at sf0.1. The summary query keeps the full
    // struct selection its density/checksum need.
    val post = docs(spark, dir)
      .filter(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"graft_window_min(graft_shingle_poly(text, $k, 31, " +
          s"${graft.functions.Portable.P1}L), $w)"))).as("h"))
      .cache()
    post.count() // eager fill: df table, doc count, and the keep filter all read it
    val df = post.groupBy("h").agg(count(lit(1)).as("dfreq"))
    val nDocs = post.agg(countDistinct("doc_id").as("nd"))
    val keep = post.join(df, "h")
      .crossJoin(broadcast(nDocs))
      .filter(col("dfreq") * 1000 <= col("nd") * maxDfPermille)
      .select("doc_id", "h", "dfreq")
    val cnt = keep.groupBy("doc_id").agg(count(lit(1)).as("c"))
    // HOT-HASH SKEW (r14 deep-read): the df cap bounds a hash's postings
    // by a FRACTION of the corpus (maxDfPermille·n/1000), so a hash at
    // the cap still generates its quadratic pair stream on the single
    // reduce task owning `h` — the disease the round cured in the LSH
    // bucket joins, same cure here: split each hash's postings into
    // s = ⌈dfreq/cap⌉ sub-blocks and join on the block-exchange keys;
    // every pair meets in exactly one (bs, bo) cell (the property-tested
    // blocked-self-join lemma), hot hashes spread over s² keys, and
    // light hashes (s = 1, every fixture hash under the default cap)
    // degenerate to the plain equi-join. The cap filter drops whole
    // hashes, never individual postings, so `dfreq` IS the kept
    // per-hash population and seeds the block count directly.
    val blocked = keep
      .withColumn("s", expr(s"(dfreq + ${blockCap - 1}L) div ${blockCap}L"))
      .withColumn("bs", pmod(hash(col("doc_id")).cast("bigint"), col("s")))
      .withColumn("bo", explode(expr("sequence(0L, s - 1L)")))
      .select("doc_id", "h", "bs", "bo")
      .cache()
    blocked.count() // one subtree for both self-join sides
    val out = blocked.as("a").join(blocked.as("b"),
        col("a.h") === col("b.h") && col("a.bs") === col("b.bo") &&
          col("a.bo") === col("b.bs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      // per-doc count joins are equi-joins on the pair's own keys — the
      // counts table is corpus-sized, so it is NOT broadcast (AQE decides)
      .join(cnt.select(col("doc_id").as("a_id"), col("c").as("ca")), "a_id")
      .join(cnt.select(col("doc_id").as("b_id"), col("c").as("cb")), "b_id")
      .filter(least(col("ca"), col("cb")) >= minCount)
      .withColumn("shared_milli", expr("1000 * n_shared div least(ca, cb)"))
      .filter(col("shared_milli") >= minSharedMilli)
      .select(col("a_id"), col("b_id"), col("n_shared").cast("bigint").as("n_shared"),
        col("shared_milli").cast("bigint").as("shared_milli"))
    Dedup.materializeAndRelease(Seq(post, blocked), out)
  }

  /** PER-SOURCE CALIBRATED QUALITY FILTER (round-10 continuation) — keep
    * the most-fluent `keepMilli`/1000 of EACH source by LM cross-entropy
    * ([[lmCrossEntropy]]), not of the global pool. Global thresholds
    * ([[pipelinePplBuckets]]'s terciles) silently starve whole sources
    * whose register differs from the blend (code, forums, OCR); per-source
    * calibration is how CCNet applies its perplexity cut per language so
    * every partition survives at the same rate.
    *
    * The cut is VALUE-ATOMIC at milli-nat granularity: the threshold is
    * the smallest xent MILLI-nat value whose cumulative per-source doc
    * count reaches `keepMilli·n/1000` (integer cross-multiplied — no
    * ceil/float), and every doc sharing the boundary value is kept. Ties
    * can only push the kept fraction OVER the target, never under.
    *
    * Scale: quantizing to milli-nats bounds the per-source value
    * histogram by the value RANGE (a few thousand rows) rather than the
    * doc count, so the prefix-sum window never sees a corpus-sized
    * partition — the same reason [[pipelinePplBuckets]] works off a
    * histogram; thresholds broadcast (|sources| rows) and the keep
    * decision is map-only.
    */
  def qualityCalibrated(spark: SparkSession, dir: String, keepMilli: Int = 300): DataFrame = {
    require(keepMilli >= 1 && keepMilli <= 1000,
      s"keepMilli must be in [1, 1000], got $keepMilli")
    val x = lmCrossEntropy(spark, dir)
      .join(docs(spark, dir).select("doc_id", "source"), "doc_id")
      .withColumn("xent_milli", expr("xent_micronats div 1000"))
      .cache()
    x.count() // eager fill before the histogram + assignment consumers
    val n = x.groupBy("source").agg(count(lit(1)).as("n"))
    val byV = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("xent_milli").asc)
    val thr = x.groupBy("source", "xent_milli").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(
        byV.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .join(n, "source")
      .filter(col("cum") * 1000 >= col("n") * keepMilli)
      .groupBy("source").agg(min("xent_milli").as("thr_milli"))
    val out = x.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"), col("xent_micronats"),
        col("xent_milli"), col("thr_milli"),
        (col("xent_milli") <= col("thr_milli")).as("kept"))
    Dedup.materializeAndRelease(Seq(x), out)
  }

  /** DISTINCT-N DIVERSITY per source (round-10 continuation) — the
    * corpus-health metric (Li et al. '16): distinct word `n`-gram count
    * over total n-gram instances. A source whose ratio collapses is
    * template spam / boilerplate even when every individual doc passes
    * quality gates — the aggregate view per-doc filters cannot see.
    * Output: per source, token totals, n-gram instances, distinct
    * n-grams, and `distinct_milli = 1000·distinct div instances`.
    *
    * Scale: one explode of (source, shingle-HASH) — 8 bytes/row, text
    * never shuffles; distinct-count is a two-level hash aggregate. The
    * poly-hash keyed dedup is the same discipline every dedup operator
    * here uses (collision odds n²/2P ≈ harmless, and identical on both
    * engines so the oracle still matches bit-for-bit).
    */
  def distinctNgrams(spark: SparkSession, dir: String, n: Int = 3): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    graft.functions.GraftFunctions.register(spark)
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"), graft.functions.Portable.tokens("text").as("tk"))
    toks
      .select(col("source"),
        // Guarded: sequence(1, 0) is the DESCENDING [1, 0] in Spark (not
        // empty), so a doc with < n tokens would index out of range.
        expr(Portable.let("tk_", "tk",
          s"CASE WHEN size(tk_) >= $n THEN transform(sequence(1, size(tk_) - ${n - 1}), " +
          s"i -> graft_poly_hash(${(0 until n).map(j => s"element_at(tk_, CAST(i + $j AS INT))").mkString(" || ' ' || ")}, 31, ${graft.functions.Portable.P1}L)) ELSE array() END"))
          .as("gh"))
      .select(col("source"), explode_outer(col("gh")).as("h"))
      .groupBy("source")
      .agg(countDistinct(col("h")).as("n_distinct"),
        count(col("h")).as("n_instances"))
      .join(toks.groupBy("source").agg(sum(size(col("tk"))).cast("bigint").as("n_tokens"),
        count(lit(1)).as("n_docs")), "source")
      .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
        col("n_tokens"), col("n_instances").cast("bigint").as("n_instances"),
        col("n_distinct").cast("bigint").as("n_distinct"),
        expr("CASE WHEN n_instances > 0 THEN 1000 * n_distinct div n_instances END")
          .as("distinct_milli"))
  }
}
