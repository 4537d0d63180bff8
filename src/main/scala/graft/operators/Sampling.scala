package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic sampling and data-mixing operators for training-data
  * pipelines: reproducible train/eval splits and per-source mixing rates.
  *
  * Design: NO RNG. Membership is a pure integer hash of the stable row id —
  * the same row lands in the same split in every run, on every engine, at
  * any partitioning (rerunnable backfills, auditable eval sets). Both
  * operators are map-only scans: zero shuffle at 100 TB, and the sampling
  * predicate composes with parquet pushdown of other filters. Spark's
  * `sample()`/`sampleBy()` are partition-order-dependent by comparison.
  */
object Sampling {

  /** Multiplicative hash bucket in overflow-safe BIGINT arithmetic
    * (pre-reduce mod p keeps the product under 2^63 for any id), identical
    * in any engine with 64-bit integer SQL semantics. The `+ P` before the
    * multiply keeps the residue NONNEGATIVE under truncated modulo for
    * negative ids (r16 ADVICE — without it negative keys hashed negative
    * and passed every sampling rate); it changes no value for nonnegative
    * ids, since (x + P) * A ≡ x * A (mod P). */
  private[graft] val P = 1000000007L
  private[graft] val A = 2654435761L // Knuth's multiplicative constant
  def bucketOf(id: Column, buckets: Int): Column =
    ((id % P + P) * A) % P % buckets

  /** Full-range multiplicative hash (no bucket reduction): a bijection on
    * [0, P) for ids below P, so ordering by it is a deterministic
    * pseudo-random permutation — usable as a tie-free sampling rank. */
  def rankOf(id: Column): Column = ((id % P + P) * A) % P

  /** Reproducible 90/10 train/eval split. */
  private def sampleSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      when(bucketOf(col("doc_id"), 100) < 90, "train").otherwise("eval").as("split"))

  /** Per-source mixing: sources matching src1* keep 100%, the rest 30% —
    * the down-weighting shape of corpus mixing (e.g. dilute a crawl against
    * curated sources) with deterministic membership. */
  private def sampleMix(s: SparkSession, d: String): DataFrame = {
    val rate = when(col("source").like("src1%"), 100).otherwise(30)
    Tables.documents(s, d)
      .filter(bucketOf(col("doc_id"), 100) < rate)
      .select(col("doc_id"), col("source"))
  }

  /** Sequence packing: assign documents to fixed-token-budget bins — the
    * pretraining packing step (concatenate docs to fill context windows).
    * Distributed-friendly contiguous form: docs pack in (source, doc_id)
    * order via a running token sum per source, bin = where the doc STARTS.
    * The window shuffles by source and sorts within — no global order, no
    * driver loop; first-fit-decreasing packs ~1% tighter but is inherently
    * sequential, the wrong trade at 100 TB. Integer arithmetic throughout
    * (oracle-identical). */
  private def packBins(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 1000
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        // integer division (`div`), not `/`: Column./ is double division
        expr(s"(cum - n_tokens) div $budget").as("bin"))
  }

  /** Mixture reweighting: per-language corpus share and the sampling
    * weight that rebalances the mixture to uniform over languages
    * (weight_l = total / (k · n_l), so Σ_l n_l · weight_l / total = 1 with
    * equal per-language mass) — the reweighting step of multilingual
    * pretraining mixes. One tiny partial-combined groupBy (k rows) plus a
    * broadcast of the two global scalars: shuffle volume is O(languages),
    * independent of corpus size. Both ratios are one IEEE division over
    * exact integers — bitwise cross-engine, shipped unrounded. */
  private def mixWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tot = docs.agg(count(lit(1)).as("total"), countDistinct(col("lang")).as("k"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        (col("n_docs") * lit(1.0) / col("total")).as("share"),
        (col("total") * lit(1.0) / (col("k") * col("n_docs"))).as("weight"))
  }

  /** Data-recipe epoch planning: per-source repeat factors to hit a token
    * budget at a target mixture — the table every pretraining recipe
    * publishes (upsample small high-value sources by repeating them
    * EpochCap× at most, downsample the rest). Here: a 2×-total-tokens
    * budget split uniformly across sources; epochs = min(cap,
    * target/available) and planned_tokens derives from the ROUNDED epochs
    * so the arithmetic replays bit-exactly cross-engine (one IEEE
    * division over exact integer token counts, then round-6).
    *
    * Scale shape: one tokenize scan partial-aggregates to k source rows;
    * the budget scalars broadcast back — shuffle is O(sources) regardless
    * of corpus size. */
  val EpochCap = 4.0
  private def mixEpochs(s: SparkSession, d: String): DataFrame = {
    val perSource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("avail_tokens"))
    val tot = perSource.agg(sum(col("avail_tokens")).as("total_tokens"),
      count(lit(1)).as("k"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("avail_tokens"),
        round(least(lit(EpochCap),
          lit(2.0) * col("total_tokens") / (col("k") * col("avail_tokens"))), 6)
          .as("epochs"))
      .withColumn("planned_tokens",
        floor(col("epochs") * col("avail_tokens") + lit(0.5)).cast("long"))
  }

  /** Stratified per-language sample: the StratumK highest-hash documents
    * of every language — equal-size strata regardless of how skewed the
    * language mix is (the per-language twin of sampleSplit's global rate).
    * Shape: the bounded-heap `top_k` aggregate, NOT a row_number window —
    * each task keeps a k-element heap per stratum and the shuffle carries
    * k·strata rows per mapper instead of sorting every row of every
    * stratum. Deterministic: the hash is a bijection on doc_id, so there
    * are no ties to break. */
  val StratumK = 50
  private def sampleStratified(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), rankOf(col("doc_id")).as("h"))
      .groupBy(col("lang"))
      .agg(call_function("top_k", struct(col("h"), col("doc_id")), lit(StratumK)).as("picks"))
      .select(col("lang"), explode(col("picks")).as("p"))
      .select(col("lang"), col("p.doc_id").as("doc_id"), col("p.h").as("h"))

  /** Quality-proportional acceptance sampling: keep each document with
    * probability equal to its quality score (DoReMi/DSIR-style importance
    * weighting collapsed to acceptance sampling) — but deterministically:
    * the "coin" is the multiplicative hash bucket, so accept iff
    * bucket(doc_id) < quality·1000. Same row, same verdict, every run,
    * every engine. Per-row scan work, shuffle-free; the quality formula
    * is THE TextAnalysis one, so the gate and its sampler cannot drift.
    * The long-vs-double comparison is exact (the bucket is ≤ 999, far
    * inside double's integer range). */
  private def sampleWeighted(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("quality", TextAnalysis.qualityOf(col("text")))
      .filter(bucketOf(col("doc_id"), 1000) < col("quality") * 1000)
      .select(col("doc_id"), col("quality"))

  /** Temperature-flattened mixture sampling (τ = 2, i.e. target share
    * ∝ √n_s): down-sample big sources and keep small ones — the standard
    * multilingual/multi-source flattening rule (multinomial sampling with
    * p ∝ q^(1/τ)) at a fixed half-corpus budget. Acceptance stays the
    * deterministic hash coin. Why τ = 2 exactly: √ is a CORRECTLY-ROUNDED
    * IEEE op, so per-source rates are bitwise cross-engine — a general
    * pow(q, 1/τ) is libm-dependent and would break the oracle gate. The
    * √-sum over sources is fixed-pointed to DECIMAL(18,6) per source and
    * summed exactly (the moneySum doctrine): a plain double Σ√n would be
    * summation-order-dependent across engines. Shape: k-row per-source
    * agg → broadcast rates → map-only acceptance scan. */
  private def sampleTemperature(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val g = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val t = g.agg(
      sum(sqrt(col("n")).cast("decimal(18,6)")).cast("double").as("ssum"),
      sum(col("n")).as("total"))
    val r = g.crossJoin(broadcast(t))
      .select(col("source").as("r_source"),
        least(lit(1.0),
          (col("total") / 2.0) * sqrt(col("n")) / (col("ssum") * col("n"))).as("rate"))
    docs.join(broadcast(r), col("source") === col("r_source"))
      .filter(bucketOf(col("doc_id"), 1000000) < col("rate") * 1000000)
      .select(col("doc_id"), col("source"))
  }

  /** Winsorized per-source quality normalization: each document's length
    * signal clamped to its source's [p05, p95] and rescaled to [0, 1] —
    * the outlier-robust scaling applied to raw quality signals before
    * they feed weighted sampling (C38) or mixture dials, so one 10 MB
    * page can't own a source's whole quality range.
    *
    * Scale shape: the per-source bounds are a tiny exact-percentile
    * aggregate (sources ≪ rows) broadcast back over the corpus — one
    * shuffle of the value column for the sort-based percentile, then a
    * map-only rescale. Exact interpolated percentiles over INTEGER
    * n_chars match quantile_cont cross-engine (q_percentile discipline);
    * clamp comparisons against an interpolated bound can't flip for
    * integer inputs, and the final round(…,6) absorbs last-ulp
    * interpolation drift. Degenerate sources (p05 = p95) pin to 0.5. */
  private def winsorize(s: SparkSession, d: String): DataFrame = {
    val b = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(percentile(col("n_chars"), lit(0.05)).as("lo"),
        percentile(col("n_chars"), lit(0.95)).as("hi"))
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(b), "source")
      .select(col("doc_id"), col("source"),
        when(col("hi") === col("lo"), 0.5)
          .otherwise(round(
            (least(greatest(col("n_chars").cast("double"), col("lo")), col("hi"))
              - col("lo")) / (col("hi") - col("lo")), 6)).as("wq"))
  }

  /** Token-budget water-filling: allocate a global token budget (half the
    * corpus here) across sources so no source exceeds its fair share —
    * sources with fewer tokens than the water level keep everything,
    * and their surplus redistributes among the rest (the max-min-fair
    * allocation every mixture designer solves before sampling; closed
    * form instead of iteration because with avail sorted ascending the
    * capped set is a prefix: source i is capped iff
    * avail_i·(K−i+1) + cum_{<i} ≤ B). Exact integer token counts and
    * window sums end-to-end; the only double is the final water level
    * division. Scale shape: the corpus collapses to one row per source
    * first, so the global sort window ranks the per-source relation (a
    * bounded label domain, on the plan-audit allowlist); everything
    * else is broadcast scalars. */
  private def budgetWaterfill(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r17 optimization: the per-source token totals feed the grand total
    // AND the ranking (2 corpus scans), and the ranked relation feeds the
    // cap aggregate AND the final quota projection — materialize both
    // (source-cardinality relations; the corpus is scanned once).
    val avail = graft.SessionMemo.ofPersisted(s, d, "waterfill_avail")(
      Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("avail")))
    val tot = avail.agg(sum(col("avail")).as("total"), count(lit(1)).as("k"))
    val w = Window.orderBy(col("avail"), col("source"))
    val ranked = avail.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total div 2"))
      .withColumn("i", row_number().over(w))
      .withColumn("cum", sum(col("avail")).over(w))
      .withColumn("capped",
        col("avail") * (col("k") - col("i") + 1) + (col("cum") - col("avail"))
          <= col("budget"))
    val rankedM = graft.SessionMemo.ofPersisted(
      s, d, "waterfill_ranked")(ranked)
    val cap = rankedM.agg(
      sum(when(col("capped"), col("avail")).otherwise(0L)).as("cum_capped"),
      sum(when(col("capped"), 1L).otherwise(0L)).as("n_capped"))
    rankedM.crossJoin(broadcast(cap))
      .select(col("source"), col("avail"), col("capped"),
        when(col("capped"), col("avail").cast("double"))
          .otherwise((col("budget") - col("cum_capped")).cast("double")
            / (col("k") - col("n_capped"))).as("quota"))
  }

  /** Efraimidis–Spirakis weighted sampling WITHOUT replacement (exact
    * k=50, weight = quality): each row gets key = −ln(u)/w for a uniform
    * u, and the k smallest keys are the sample (Efraimidis & Spirakis
    * 2006 — the one-pass distributed weighted sample, vs C38's Bernoulli
    * acceptance which only controls the EXPECTED size). Determinism: u is
    * the multiplicative-hash bucket shifted to the open interval
    * ((b+0.5)/2^20 — a dyadic rational, exact in both engines), the only
    * libm op is one ln absorbed by round(…,9), and ties break on doc_id.
    * Scale shape: map-only scan then global TakeOrdered(k) — partial
    * per-partition heaps, no sort shuffle, the distributed-sample
    * primitive at any corpus size. */
  private def esSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.qualityOf(col("text")).as("quality"),
        ((bucketOf(col("doc_id"), 1048576) + lit(0.5)) / lit(1048576.0)).as("u"))
      .select(col("doc_id"), col("quality"),
        round(log(col("u")) * lit(-1.0) / col("quality"), 9).as("es_key"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(50)

  /** Nucleus (top-p) corpus selection per source: rank documents by size
    * (n_chars desc, doc_id tiebreak) and keep the head of the ranking
    * until it covers 80% of the source's character mass — the nucleus-
    * sampling idea applied to corpus curation (keep the dominant mass,
    * drop the long tail of scraps), and the dual of temperature
    * flattening: a hard per-source mass budget instead of a soft rate.
    * The boundary predicate is EXACT INTEGER arithmetic — a doc is kept
    * iff the mass BEFORE it is under the budget ((cum − n)·10 < total·8,
    * so at least one doc always survives) — no float cumsum can flip a
    * row at the boundary. Scale shape: the window partitions by source
    * over source-sized slices; output is per-source counts only. */
  private def nucleusSelect(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("source"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("total", sum(col("n_chars")).over(tot))
      .withColumn("kept",
        (col("cum") - col("n_chars")) * 10 < col("total") * 8)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"),
        max(col("total")).as("total_chars"))
  }

  /** Deterministic seeded corpus shuffle (C117): the reproducible
    * training-order primitive — every LLM data pipeline shuffles its
    * corpus with a seed, and the order must replay bit-for-bit across
    * reruns, engines, and partitionings. The shuffle key is the portable
    * content_fp polynomial over `id:seed` (no engine-private hash), so
    * the SAME permutation falls out of any implementation; ties (the
    * polynomial is mod 1e9+7) break on the id. Scale shape: a total
    * order by (key, id) is `repartitionByRange` + in-partition sort —
    * no global single-task sort; the gate key reads the first 200
    * positions, which plans as TakeOrdered (bounded at any corpus
    * size), and the bounded post-limit row_number assigns positions. */
  private def shuffleOrder(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, d).select(col("doc_id"),
      call_function("content_fp",
        concat(col("doc_id").cast("string"), lit(":s42"))).as("shuffle_key"))
    keyed.orderBy(col("shuffle_key"), col("doc_id")).limit(200)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("shuffle_key"), col("doc_id"))).cast("long"))
  }

  /** Stratified exact-k Efraimidis–Spirakis sampling (C118): the C86
    * quality-weighted without-replacement draw, but per LANGUAGE stratum
    * — k docs from EVERY language, each drawn with probability
    * proportional to quality WITHIN its stratum (the per-language corpus
    * refresh that a global draw starves minority languages of). Same
    * deterministic key (u from the doc_id hash, es_key = −ln(u)/quality,
    * smallest-k win), so the draw replays in any engine. Scale shape:
    * per-stratum top-k via the bounded-heap `top_k` aggregate — partial
    * heaps map-side, the shuffle carries k rows per (stratum ×
    * partition), never a per-stratum sort. */
  private def esStratified(s: SparkSession, d: String): DataFrame =
    esStratifiedOver(Tables.documents(s, d), 10)

  /** The per-stratum Efraimidis–Spirakis exact-k kernel over any
    * (lang, doc_id, text) relation — shared by the q_es_stratified
    * operator key and the `es_stratified` SQL table function (r15). */
  private[graft] def esStratifiedOver(docs: DataFrame, k: Int): DataFrame = {
    val keyed = docs
      .select(col("lang"), col("doc_id"),
        TextAnalysis.qualityOf(col("text")).as("quality"),
        ((bucketOf(col("doc_id"), 1048576) + lit(0.5)) / lit(1048576.0)).as("u"))
      .select(col("lang"), col("doc_id"), col("quality"),
        round(log(col("u")) * lit(-1.0) / col("quality"), 9).as("es_key"))
    keyed.groupBy(col("lang"))
      .agg(call_function("top_k",
        struct((-col("es_key")).as("neg_key"), (-col("doc_id")).as("neg_id")),
        lit(k)).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
        (-col("col.neg_id")).as("doc_id"),
        round(-col("col.neg_key"), 9).as("es_key"))
      .orderBy(col("lang"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_es_stratified" -> esStratified _,
    "q_shuffle_order" -> shuffleOrder _,
    "q_nucleus_select" -> nucleusSelect _,
    "q_es_sample" -> esSample _,
    "q_budget_waterfill" -> budgetWaterfill _,
    "q_winsorize" -> winsorize _,
    "q_sample_temperature" -> sampleTemperature _,
    "q_sample_weighted" -> sampleWeighted _,
    "q_sample_split" -> sampleSplit _,
    "q_sample_mix" -> sampleMix _,
    "q_pack_bins" -> packBins _,
    "q_mix_weights" -> mixWeights _,
    "q_mix_epochs" -> mixEpochs _,
    "q_sample_stratified" -> sampleStratified _
  )

  val oracles: Map[String, String] = Map(
    "q_es_stratified" ->
      """WITH t AS (
        | SELECT lang, doc_id,
        |  0.4 * least(1.0, len(string_split(text, ' ')) * 1.0 / 100.0)
        |   + 0.4 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |            / len(string_split(text, ' ')))
        |   + 0.2 * (CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |       / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |       THEN 1.0 ELSE 0.0 END) AS quality,
        |  (((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 1048576 + 0.5)
        |    / 1048576.0 AS u
        | FROM documents),
        |keyed AS (
        | SELECT lang, doc_id, round(ln(u) * -1.0 / quality, 9) AS es_key
        | FROM t)
        |SELECT lang, rank, doc_id, es_key FROM (
        | SELECT lang, doc_id, es_key, CAST(row_number() OVER (
        |   PARTITION BY lang ORDER BY es_key, doc_id) AS BIGINT) AS rank
        | FROM keyed) WHERE rank <= 10
        |ORDER BY lang, rank""".stripMargin,
    "q_shuffle_order" ->
      """WITH keyed AS (
        | SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |   list_transform(
        |     string_split(CONCAT(CAST(doc_id AS VARCHAR), ':s42'), ''),
        |     c -> CAST(ascii(c) AS BIGINT))),
        |   (acc, c) -> (acc * 31 + c) % 1000000007) AS shuffle_key
        | FROM documents)
        |SELECT doc_id, shuffle_key,
        | CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
        |FROM keyed ORDER BY shuffle_key, doc_id LIMIT 200""".stripMargin,
    "q_nucleus_select" ->
      """WITH r AS (
        | SELECT source, doc_id, n_chars,
        |  CAST(sum(n_chars) OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS total
        | FROM documents)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN (cum - n_chars) * 10 < total * 8
        |   THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        | CAST(sum(CASE WHEN (cum - n_chars) * 10 < total * 8
        |   THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        | max(total) AS total_chars
        |FROM r GROUP BY source""".stripMargin,
    "q_es_sample" ->
      """WITH t AS (
        | SELECT doc_id,
        |  0.4 * least(1.0, len(string_split(text, ' ')) * 1.0 / 100.0)
        |   + 0.4 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |            / len(string_split(text, ' ')))
        |   + 0.2 * (CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |       / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |       THEN 1.0 ELSE 0.0 END) AS quality,
        |  (((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 1048576 + 0.5)
        |    / 1048576.0 AS u
        | FROM documents)
        |SELECT doc_id, quality,
        | round(ln(u) * -1.0 / quality, 9) AS es_key
        |FROM t ORDER BY es_key, doc_id LIMIT 50""".stripMargin,
    "q_budget_waterfill" ->
      """WITH avail AS (
        | SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
        | FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
        |  count(*) AS k FROM avail),
        |r AS (
        | SELECT source, avail, total // 2 AS budget, k,
        |  row_number() OVER (ORDER BY avail, source) AS i,
        |  CAST(sum(avail) OVER (ORDER BY avail, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM avail CROSS JOIN tot),
        |c AS (
        | SELECT *, avail * (k - i + 1) + (cum - avail) <= budget AS capped
        | FROM r),
        |cap AS (
        | SELECT CAST(sum(CASE WHEN capped THEN avail ELSE 0 END) AS BIGINT)
        |    AS cum_capped,
        |  CAST(sum(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS n_capped
        | FROM c)
        |SELECT source, avail, capped,
        | CASE WHEN capped THEN CAST(avail AS DOUBLE)
        |  ELSE CAST(budget - cum_capped AS DOUBLE) / (k - n_capped) END AS quota
        |FROM c CROSS JOIN cap""".stripMargin,
    "q_mix_epochs" ->
      """WITH ps AS (
        | SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |   AS avail_tokens
        | FROM documents GROUP BY source),
        |t AS (SELECT sum(avail_tokens) AS total_tokens, count(*) AS k FROM ps)
        |SELECT source, avail_tokens,
        | round(least(CAST(4 AS DOUBLE),
        |   CAST(2 AS DOUBLE) * total_tokens / (k * avail_tokens)), 6) AS epochs,
        | CAST(floor(round(least(CAST(4 AS DOUBLE),
        |   CAST(2 AS DOUBLE) * total_tokens / (k * avail_tokens)), 6)
        |   * avail_tokens + CAST(0.5 AS DOUBLE)) AS BIGINT) AS planned_tokens
        |FROM ps, t""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        | SELECT source, quantile_cont(n_chars, 0.05) AS lo,
        |  quantile_cont(n_chars, 0.95) AS hi
        | FROM documents GROUP BY source)
        |SELECT doc_id, d.source,
        | CASE WHEN hi = lo THEN 0.5
        |  ELSE round((least(greatest(CAST(n_chars AS DOUBLE), lo), hi) - lo)
        |    / (hi - lo), 6) END AS wq
        |FROM documents d JOIN b ON d.source = b.source""".stripMargin,
    "q_sample_temperature" ->
      """WITH g AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(18,6))) AS DOUBLE) AS ssum,
        |             sum(n) AS total FROM g),
        |r AS (SELECT source,
        |  least(1.0, (total / 2.0) * sqrt(n) / (ssum * n)) AS rate
        | FROM g CROSS JOIN t)
        |SELECT doc_id, d.source FROM documents d JOIN r ON d.source = r.source
        |WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 1000000
        |  < rate * 1000000""".stripMargin,
    "q_sample_weighted" ->
      """WITH t AS (
        | SELECT doc_id,
        |  0.4 * least(1.0, len(string_split(text, ' ')) * 1.0 / 100.0)
        |   + 0.4 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |            / len(string_split(text, ' ')))
        |   + 0.2 * (CASE WHEN (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
        |       / len(string_split(text, ' ')) BETWEEN 3.0 AND 8.0
        |       THEN 1.0 ELSE 0.0 END) AS quality
        | FROM documents)
        |SELECT doc_id, quality FROM t
        |WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 1000
        |  < quality * 1000""".stripMargin,
    "q_sample_split" ->
      """SELECT doc_id,
        | CASE WHEN ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 < 90
        |   THEN 'train' ELSE 'eval' END AS split
        |FROM documents""".stripMargin,
    "q_sample_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 % 100 <
        |  (CASE WHEN source LIKE 'src1%' THEN 100 ELSE 30 END)""".stripMargin,
    "q_pack_bins" ->
      """WITH t AS (
        | SELECT doc_id, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT doc_id, source, n_tokens,
        | CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  - n_tokens) // 1000 AS BIGINT) AS bin
        |FROM t""".stripMargin,
    "q_mix_weights" ->
      """WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT count(*) AS total, count(DISTINCT lang) AS k FROM documents)
        |SELECT lang, n_docs,
        | n_docs * 1.0 / total AS share,
        | total * 1.0 / (k * n_docs) AS weight
        |FROM g CROSS JOIN t""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id, h FROM (
        | SELECT lang, doc_id,
        |  ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 AS h,
        |  row_number() OVER (PARTITION BY lang
        |   ORDER BY ((doc_id % 1000000007 + 1000000007) * 2654435761) % 1000000007 DESC) AS rn
        | FROM documents)
        |WHERE rn <= 50""".stripMargin
  )
}
