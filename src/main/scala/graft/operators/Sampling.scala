package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling (SURVEY §2.7 adjunct): training-data
  * pipelines need samples that are exact, reproducible, and
  * engine-independent — `RAND()`-based sampling is none of those, and
  * Spark's `sampleBy` is seeded-random per row. Systematic sampling
  * (every k-th row of a total order within each stratum) gives exact
  * per-stratum fractions (⌈n_s / k⌉ rows) with zero RNG state.
  *
  * Scale shape: one window partitioned BY THE STRATUM — parallelism is
  * the stratum count × AQE splitting; no global order, no partition-less
  * window. For very low-cardinality strata at extreme scale, substitute
  * the stratum-restricted [[GlobalOrder.withGlobalIndex]] rank.
  */
object Sampling {

  /** Keep rows whose 1-based rank within their stratum (ordered by
    * `orderCol`) is ≡ 1 (mod k) — expressed as `(rank − 1) % k == 0` so
    * the identity case k = 1 keeps every row (`rank % k == 1` would
    * keep none: any rank mod 1 is 0).
    */
  def stratifiedSystematic(
      df: DataFrame, stratum: Column, order: Column, k: Int): DataFrame = {
    require(k > 0, s"sampling interval must be > 0, got $k")
    val w = Window.partitionBy(stratum).orderBy(order)
    df.withColumn("_rk", row_number().over(w))
      .filter(pmod(col("_rk") - 1, lit(k)) === 0)
      .drop("_rk")
  }

  /** Sampled-estimate audit card — "measure on the every-k-th sample,
    * bill the corpus": per stratum, the mean of a per-row metric
    * (n08's punctuation ratio — the quality-family proxy) estimated
    * from the [[stratifiedSystematic]] sample against the TRUE
    * full-stratum mean, plus the error. At 100 TB every quality
    * dashboard runs on a sample; this card is the closed-loop audit of
    * that practice — the err column is the realized sampling bias at
    * this k, exact to the hash because both means are decimal-routed
    * sums over deterministic row sets and the metric is per-row IEEE.
    *
    * Scale shape: metric is scan-stage arithmetic; the sample rank is
    * the stratum-partitioned window [[stratifiedSystematic]] uses; two
    * stratum-sized hash aggs joined on the stratum key (S rows,
    * broadcast).
    */
  def sampledMeanEstimate(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"sampling interval must be >= 1, got $k")
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    def m12(c: Column): Column = sum(c.cast(dec)).cast("double")
    val nChars = length(col("text")).cast("double")
    val metric = (nChars -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))) / nChars
    val base = docs.select(col("source"), col("doc_id"),
      metric.as("metric"))
    val truth = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (m12(col("metric")) / count(lit(1))).as("true_mean"))
    val est = stratifiedSystematic(base, col("source"), col("doc_id"), k)
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"),
        (m12(col("metric")) / count(lit(1))).as("est_mean"))
    truth.join(est, "source")
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("true_mean"), col("est_mean"),
        (col("est_mean") - col("true_mean")).as("err"))
  }

  /** Deterministic training-mixture resampling: replicate (weight > 1)
    * or thin (weight < 1) each source to its target epoch weight,
    * expressed in integer per-mille so the realized fraction is EXACT —
    * a source at 2500‰ yields floor(2.5·n) ± 1 rows with zero RNG state.
    * The fractional remainder is spread by `id % 1000` (systematic, not
    * random — reproducible across engines, runs, and cluster sizes).
    * Sources absent from the map keep weight 1000‰ (pass-through).
    *
    * The exactness guarantee assumes ids are reasonably dense/uniform
    * modulo 1000 (sequential doc ids are). Block-allocated ids that
    * collide mod 1000 skew the realized remainder — pre-map such ids
    * through a hash (losing the cross-engine SQL oracle) or a dense
    * rank before reweighting.
    *
    * Scale shape: per-row arithmetic + a row explosion by its own copy
    * count; no shuffle at all. Emitted copies carry `copy_idx` so a
    * downstream packer/shuffler can decorrelate epochs.
    */
  def mixtureUpsample(
      df: DataFrame, id: Column, source: Column,
      perMille: Map[String, Int]): DataFrame = {
    require(perMille.values.forall(_ >= 0), "weights must be >= 0")
    val w = perMille.foldLeft(lit(1000)) { case (els, (s, v)) =>
      when(source === s, lit(v)).otherwise(els)
    }
    val copies = floor(w.cast("long") / 1000).cast("long") +
      when(pmod(id, lit(1000)) < w % 1000, 1L).otherwise(0L)
    df.withColumn("_n", copies)
      .filter(col("_n") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col("_n") - 1)))
      .drop("_n")
  }

  /** Per-source token-budget capping — the "no source dominates the
    * mix" governance rule: within each source, documents are taken in
    * deterministic doc_id order until the token budget is exhausted; a
    * document is kept iff its exclusive running-total start offset is
    * still under the budget (the crossing document is kept, matching
    * [[Packing.packSequences]]' start-based convention).
    *
    * Scale shape: one window partitioned BY SOURCE (parallelism = source
    * count — same story as [[stratifiedSystematic]]); the running total
    * is integer arithmetic, so the kept set is engine-independent.
    */
  def capSourceTokens(docs: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, s"token budget must be > 0, got $budget")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("kept", col("start_off") < budget)
  }

  /** Leakage-safe train/val/test split: the split key is the document's
    * NEAR-DUP CLUSTER representative ([[Clustering.dupClusters]]), not
    * the document itself, so near-duplicates can never straddle a split
    * boundary (the classic eval-contamination bug a per-doc split
    * invites). The bucket hash is a fixed LCG over the representative —
    * plain 64-bit integer arithmetic, reproducible in any engine, no RNG
    * state (same policy as [[stratifiedSystematic]]).
    *
    * Scale shape: adds only per-row arithmetic on top of the connected
    * components (which is the scale-dominant part, see n22); the split
    * assignment itself is shuffle-free.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      trainPerMille: Int = 800,
      valPerMille: Int = 100): DataFrame = {
    require(trainPerMille > 0 && valPerMille >= 0 &&
      trainPerMille + valPerMille < 1000,
      s"per-mille weights must fit in [0, 1000): $trainPerMille/$valPerMille")
    // pre-reduce the representative mod 2^31 so the LCG multiply can't
    // overflow Long (max product ≈ 2.4e18 < 2^63) — Spark would wrap
    // sign-preserving while DuckDB errors, so the unreduced form isn't
    // engine-portable for ids beyond ~8.4e9
    val bucket = (pmod(col("component"), lit(2147483648L)) * lit(1103515245L) +
      lit(12345L)) % lit(2147483648L) % lit(1000L)
    Clustering.dupClusters(docs, n, threshold)
      .select(col("doc_id"), col("component"),
        bucket.cast("int").as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPerMille, lit("train"))
          .when(col("bucket") < trainPerMille + valPerMille, lit("val"))
          .otherwise(lit("test")))
  }

  /** Per-source quality-QUANTILE gate: keep each source's top
    * `keepFrac` fraction of documents by a composite quality score —
    * per-domain calibration (an absolute threshold keeps 95% of a clean
    * source and 5% of a noisy one; a quantile gate keeps the BEST slice
    * of every source, the standard mixture-shaping move before
    * sampling).
    *
    * Score = stopword_ratio − punct_ratio − digit_ratio (each term the
    * exact [[TextAnalysis.qualityScore]] arithmetic, subtracted left to
    * right — single-rounded IEEE, oracle-replayable). The gate is
    * integer-exact: rank-within-source (score desc, doc_id asc ties) ≤
    * ⌈keepFrac · source size⌉.
    *
    * Scale shape: one window partitioned BY SOURCE (parallelism =
    * source count × AQE; no global order), and the count is a window
    * aggregate over the same partitioning — one shuffle total. Output:
    * (doc_id, source, score, src_rank, n_src_docs, kept).
    */
  def qualityQuantileGate(docs: DataFrame, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0,1], got $keepFrac")
    val q = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"),
        (col("stopword_ratio") - col("punct_ratio") - col("digit_ratio"))
          .as("score"))
    val scored = docs.select(col("doc_id"), col("source")).join(q, "doc_id")
    val w = Window.partitionBy(col("source"))
      .orderBy(desc("score"), asc("doc_id"))
    val cw = Window.partitionBy(col("source"))
    scored
      .withColumn("src_rank", row_number().over(w))
      .withColumn("n_src_docs", count(lit(1)).over(cw))
      .withColumn("kept", col("src_rank") <=
        ceil(lit(keepFrac) * col("n_src_docs").cast("double")))
      .select("doc_id", "source", "score", "src_rank", "n_src_docs", "kept")
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much its n-gram distribution looks like a TARGET
    * domain sample, keep the top `keepFrac` fraction.
    *
    * Features are unigrams + bigrams of the whitespace tokens. Each
    * gram g gets an add-one-smoothed target/raw rate ratio in integer
    * parts-per-million,
    *
    *   imp(g) = (10⁶ · (tgt_g + 1) · (N_raw + V)) div ((raw_g + 1) · (N_tgt + V))
    *
    * and a document scores Σ_g count_g(doc) · imp(g). This is the
    * arithmetic-mean form of DSIR's log-likelihood-ratio weight: libm
    * `ln` is not cross-engine bit-exact (the n42 bigram-LM policy), so
    * the ratios are combined linearly in exact BIGINT arithmetic rather
    * than multiplicatively in log space — same per-gram evidence, fully
    * engine-reproducible. The paper hashes grams into 10⁴ buckets; we
    * keep exact gram strings for oracle parity (swapping in a 64-bit
    * hash changes only the join key and makes the importance table
    * fixed-size — the 100 TB form). At 100 TB the BIGINT products need
    * one more cast up to DECIMAL(38,0).
    *
    * Scale shape (r17): training is ONE explode + vocab-keyed hash
    * aggregation (map-side partials collapse the fan-out before the
    * shuffle) with corpus totals crossJoin-broadcast; scoring is a
    * per-row native expression over the collected vocab-sized model
    * map ([[graft.expressions.DsirGramScore]]) — no per-(doc, gram)
    * frame, no model join, no per-doc aggregation exist anywhere; the
    * final rank is [[GlobalOrder.withGlobalIndexCols]] — a distributed
    * range-partitioned sort, NOT a partition-less window. Output:
    * (doc_id, score_ppm, rank, kept).
    */
  /** Unigram + bigram occurrences of the whitespace tokens, one row per
    * occurrence — the DSIR feature extraction, shared by the batch
    * selector and the streaming apply (it is plain scan-stage column
    * work, so it runs unchanged on a streaming DataFrame).
    */
  private def gramOccurrences(docs: DataFrame, isTarget: Column): DataFrame = {
    // the token array MUST be bound by its own projection before the
    // generator references it: inlined, `split(text, ' ')` appears in
    // the concat arg, both size() guards, and the bigram lambda's two
    // element_at calls, and Spark does not CSE across a generator
    // boundary — the split re-ran per lambda element (~tokens× per
    // row; r17 receipts, docs/PLANS.md: 3.3 s → 0.8 s on this agg alone)
    val bound = docs.select(col("doc_id"), isTarget.as("is_tgt"),
      split(col("text"), " ").as("ts"))
    val ts = col("ts")
    bound.select(col("doc_id"), col("is_tgt"),
      explode(concat(ts, when(size(ts) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(ts) - 2),
          i => concat_ws(" ", element_at(ts, i + 1), element_at(ts, i + 2))))))
        .as("g"))
  }

  /** Train the DSIR importance table alone — the MODEL artifact a
    * production pipeline materializes once and then applies to every
    * incoming shard (see `s19_stream_importance_gate` for the streaming
    * apply). Output: (g, imp_ppm), vocab-sized. One pass: occurrences
    * aggregate straight to per-gram (raw, target) totals — map-side
    * partials collapse the fan-out before the vocab-sized shuffle.
    */
  def dsirImportance(docs: DataFrame, isTarget: Column): DataFrame = {
    val gramStats = gramOccurrences(docs, isTarget).groupBy("g").agg(
      count(lit(1)).as("raw_g"),
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("tgt_g"))
    val totals = gramStats.agg(
      sum(col("raw_g")).as("n_raw"),
      sum(col("tgt_g")).as("n_tgt"),
      count(lit(1)).as("v"))
    gramStats.crossJoin(broadcast(totals))
      .withColumn("num", lit(1000000L) * (col("tgt_g") + 1L) * (col("n_raw") + col("v")))
      .withColumn("den", (col("raw_g") + 1L) * (col("n_tgt") + col("v")))
      .select(col("g"), expr("num div den").as("imp_ppm"))
  }

  /** Collect a trained importance table to the driver-side model map
    * the native scoring expression embeds. Vocab-sized by the same
    * contract that let the old formulation `broadcast()` it — and the
    * contract is now ENFORCED ([[DriverModel.collectBounded]]): a
    * degenerate vocabulary fails loud instead of OOMing the driver.
    */
  def collectImportance(imp: DataFrame): Map[String, Long] =
    DriverModel.collectBounded(imp, "Sampling.collectImportance")
      .iterator.map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The per-row native DSIR score (see
    * [[graft.expressions.DsirGramScore]]) — Σ_g count_g(doc)·imp(g)
    * with unseen grams contributing 0, bit-identical to the exploded
    * gram-join-aggregate lineage.
    */
  def dsirScoreCol(text: Column, imp: Map[String, Long]): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.expressions.DsirGramScore(
      ColumnBridge.expression(text), imp))
  }

  /** Score a (possibly STREAMING) document set against a trained
    * importance model held as a driver map: ONE stateless per-row
    * expression per document. The r16 formulation exploded ~2 gram
    * rows per token, broadcast-joined the model table, and aggregated
    * per doc_id — in the streaming gate that aggregation held one
    * state row per document; this holds none (the s21
    * TokenBucketMargin collapse, applied to the data-dependent-vocab
    * model). Null-text docs are dropped (the exploded path produced no
    * rows for them); assumes unique doc_id rows (the corpus contract).
    */
  def dsirScoreModel(docs: DataFrame, imp: Map[String, Long]): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), dsirScoreCol(col("text"), imp).as("score_ppm"))

  /** DataFrame-model form of [[dsirScoreModel]] — the model-artifact
    * API (production materializes `(g, imp_ppm)` as a table): collects
    * the vocab-sized table and applies the native expression. Unseen
    * grams contribute 0, so a document whose grams are ALL unseen at
    * train time still gets an explicit score of 0 for the gate
    * threshold to judge (the continuous-deployment case where the
    * stream's vocabulary drifts past the training corpus). Every
    * non-null text produces a score row — empty text splits to the
    * single "" gram.
    */
  def dsirScore(docs: DataFrame, imp: DataFrame): DataFrame =
    dsirScoreModel(docs, collectImportance(imp))

  /** Train the full DSIR gate model: the vocab-sized importance map
    * PLUS the keep threshold (the min score of the kept top-`keepFrac`
    * under the [[dsirSelect]] rank rule) — the two artifacts a
    * continuous pipeline materializes offline and then applies to every
    * incoming shard (`s19_stream_importance_gate`). Training is one
    * vocab-sized aggregation pass; the threshold pass scores docs with
    * the native expression (no per-(doc, gram) frame exists anywhere
    * anymore, so nothing needs a diamond persist).
    */
  def dsirTrainGate(docs: DataFrame, isTarget: Column,
      keepFrac: Double): (Map[String, Long], Long) = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0,1], got $keepFrac")
    val imp = collectImportance(dsirImportance(docs, isTarget))
    val k = math.ceil(keepFrac * docs.count()).toLong
    val thr = GlobalOrder
      .withGlobalIndexCols(dsirScoreModel(docs, imp),
        Seq(desc("score_ppm"), asc("doc_id")))
      .filter(col("_global_rank") <= k)
      .agg(min(col("score_ppm"))).head().getLong(0)
    (imp, thr)
  }

  def dsirSelect(
      docs: DataFrame, isTarget: Column, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0,1], got $keepFrac")
    val imp = collectImportance(dsirImportance(docs, isTarget))
    // k driver-side: ceil(keepFrac · n) over the same double multiply
    // the old column form ran — one less docs scan in the final plan
    val k = math.ceil(keepFrac * docs.count().toDouble).toLong
    GlobalOrder.withGlobalIndexCols(dsirScoreModel(docs, imp),
      Seq(desc("score_ppm"), asc("doc_id")))
      .withColumnRenamed("_global_rank", "rank")
      .withColumn("kept", col("rank") <= lit(k))
      .select("doc_id", "score_ppm", "rank", "kept")
  }

  /** Temperature-scaled source mixture (the mC4/multilingual recipe:
    * sample source s with probability ∝ |D_s|^α, α < 1 flattening the
    * head so low-resource sources aren't drowned). Fixed α = 0.5:
    * `sqrt` is IEEE-correctly-rounded in every engine, while arbitrary
    * `pow` is libm-dependent — the same exactness policy as n42's
    * no-`ln` rule. Each source's realized rate is reduced to integer
    * per-mille,
    *
    *   s_s  = ⌊√c_s · 10⁶⌋            (micro-units, exact in BIGINT)
    *   rate = (1000 · T · s_s) div (Σ_m s_m · c_s)
    *
    * and applied with [[mixtureUpsample]]'s systematic `id % 1000`
    * remainder spread — zero RNG state, reproducible at any
    * parallelism. `targetTotal` T is the desired expected output size
    * in documents; rates over 1000‰ replicate (upsample), under 1000‰
    * thin.
    *
    * Scale shape: per-source counts are one tiny hash aggregate (rows =
    * source count), the rate table broadcasts back onto the corpus, and
    * the copy explosion is per-row arithmetic — no other shuffle.
    * Output: (doc_id, source, per_mille, copy_idx).
    */
  def temperatureMixture(docs: DataFrame, targetTotal: Long): DataFrame = {
    require(targetTotal > 0, s"targetTotal must be > 0, got $targetTotal")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("c_s"))
      .withColumn("s_s", floor(sqrt(col("c_s").cast("double")) * lit(1e6)).cast("long"))
    val denom = counts.agg(sum(col("s_s")).as("s_tot"))
    val rates = counts.crossJoin(broadcast(denom))
      .withColumn("num", lit(1000L) * lit(targetTotal) * col("s_s"))
      .withColumn("den", col("s_tot") * col("c_s"))
      .select(col("source"), expr("num div den").as("per_mille"))
    val copies = expr("per_mille div 1000") +
      when(pmod(col("doc_id"), lit(1000)) < col("per_mille") % 1000, 1L)
        .otherwise(0L)
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), "source")
      .withColumn("_n", copies)
      .filter(col("_n") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col("_n") - 1)))
      .select("doc_id", "source", "per_mille", "copy_idx")
  }

  /** Multi-signal quality selection by Borda rank fusion: the ENSEMBLE
    * member of the quality family (heuristic n08/n62, rank-calibration
    * n64, generative-importance n59, discriminative-trained n68 are the
    * single-signal members). Each document is ranked independently
    * under three signals —
    *
    *   1. the composite heuristic score (the n56/n64 arithmetic:
    *      stopword − punct − digit ratios),
    *   2. the DSIR importance score toward `isTarget` (the n59 BIGINT
    *      score_ppm),
    *   3. the Gopher rule pass count (0–4 of the n62 word-level rules),
    *
    * and fused by rank SUM (Borda): signals on incomparable scales
    * combine on the one scale they share — position. Rank fusion is the
    * standard way to ensemble quality filters whose scores have no
    * common calibration (the RRF idea with integer weights); the
    * all-integer form keeps the whole trajectory hash-exact with no FP
    * policy at all.
    *
    * Scale shape: each per-signal rank is a
    * [[GlobalOrder.withGlobalIndexCols]] distributed range-partitioned
    * sort (NEVER a partition-less window); the three rank frames join
    * back on doc_id (co-partitioned hash joins); the fused rank is one
    * more distributed sort. The DSIR signal rides the r17 collapse:
    * one vocab-sized training aggregation, then per-row native scoring
    * ([[graft.expressions.DsirGramScore]]) — the gram explode that
    * used to dominate this query's cost runs once, not per consumer,
    * and the per-(doc, gram) frame is gone.
    * Output: (doc_id, r_heur, r_imp, r_rules, borda, fused_rank, kept).
    */
  def rankFusionGate(
      docs: DataFrame, isTarget: Column, keepFrac: Double): DataFrame = {
    require(keepFrac > 0 && keepFrac <= 1,
      s"keepFrac must be in (0,1], got $keepFrac")
    val heur = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"),
        (col("stopword_ratio") - col("punct_ratio") - col("digit_ratio"))
          .as("q"))
    val dsir = dsirScoreModel(docs,
      collectImportance(dsirImportance(docs, isTarget)))
    val rules = TextAnalysis.gopherQualityRules(docs)
      .select(col("doc_id"),
        (col("word_count_ok").cast("int") + col("mean_len_ok").cast("int") +
          col("alpha_ok").cast("int") + col("stop_ok").cast("int"))
          .as("n_rules"))
    def ranked(df: DataFrame, sig: String, as: String): DataFrame =
      GlobalOrder.withGlobalIndexCols(df, Seq(desc(sig), asc("doc_id")))
        .select(col("doc_id"), col("_global_rank").as(as))
    val fusedIn = ranked(heur, "q", "r_heur")
      .join(ranked(dsir, "score_ppm", "r_imp"), "doc_id")
      .join(ranked(rules, "n_rules", "r_rules"), "doc_id")
      .withColumn("borda", col("r_heur") + col("r_imp") + col("r_rules"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    GlobalOrder.withGlobalIndexCols(fusedIn, Seq(asc("borda"), asc("doc_id")))
      .withColumnRenamed("_global_rank", "fused_rank")
      .crossJoin(broadcast(n))
      .withColumn("kept",
        col("fused_rank") <= ceil(lit(keepFrac) * col("n_docs").cast("double")))
      .select("doc_id", "r_heur", "r_imp", "r_rules", "borda", "fused_rank",
        "kept")
  }

  /** Curriculum schedule under a root-pacing function: order the
    * corpus easiest-first (the length curriculum — difficulty = token
    * count, ties to doc_id) and assign every document the first
    * training phase whose unlocked prefix contains it. Phase p of P
    * unlocks the easiest ⌊N·√(p/P)⌋ documents (the standard
    * competence-based pacing curve: fast early growth, then
    * saturation), so `first_phase` is the min p with
    * rank ≤ ⌊N·√(p/P)⌋ — a bounded fold over the P phase indices.
    * √ on a correctly-rounded IEEE implementation is bit-exact in any
    * engine, so the phase boundaries replay without an FP policy.
    *
    * Scale shape: the rank is [[GlobalOrder]]'s distributed
    * range-partitioned sort (no partition-less window); the phase
    * assignment is scan-stage expression work against one broadcast
    * corpus-count scalar. Output: (doc_id, n_tok, rank, first_phase).
    */
  def curriculumSchedule(docs: DataFrame, phases: Int = 10): DataFrame = {
    require(phases >= 1, s"phases must be >= 1, got $phases")
    val t = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    val n = t.agg(count(lit(1)).as("nn"))
    GlobalOrder.withGlobalIndexCols(t, Seq(asc("n_tok"), asc("doc_id")))
      .withColumnRenamed("_global_rank", "rank")
      .crossJoin(broadcast(n))
      .withColumn("first_phase",
        expr(s"""element_at(filter(sequence(1, $phases),
          p -> rank <= floor(nn * sqrt(p / ${phases}.0D))), 1)""")
          .cast("int"))
      .select("doc_id", "n_tok", "rank", "first_phase")
  }

  /** Largest-remainder (Hamilton) apportionment of a fixed eval budget
    * across (lang, source) strata, realized as a sample manifest: each
    * stratum gets `floor(k·n_h/N)` slots, and the `k − Σfloor`
    * leftover slots go to the strata with the largest fractional
    * remainders (ties broken by stratum name) — the allocation whose
    * per-stratum error is provably < 1 slot, which is what an eval
    * suite wants from "proportional". Slots are then filled by the
    * first `alloc` docs of each stratum in md5(doc_id ':eval') order
    * (the n73/n76 zero-RNG draw) — exact, reproducible,
    * engine-independent.
    *
    * All-integer arithmetic (`k·n_h DIV N`, `%`, rank compares), so
    * every column sits under the exact-hash oracle.
    *
    * Scale shape: one stratum aggregate (D rows), two one-row scalars
    * (N, leftover) broadcast back over the D-row frame, the remainder
    * rank via [[GlobalOrder.withGlobalIndexCols]] (range-partitioned —
    * never a partition-less window even if D grows), and one window
    * partitioned BY STRATUM to fill slots. Nothing global touches the
    * corpus.
    */
  def evalSuiteAllocation(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"eval budget must be > 0, got $k")
    val strata = docs.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"))
    val total = strata.agg(sum(col("n_docs")).as("n_total"))
    val quota = strata.crossJoin(broadcast(total))
      .withColumn("floor_alloc", expr(s"($k * n_docs) DIV n_total"))
      .withColumn("rem", expr(s"($k * n_docs) % n_total"))
    val leftover = quota
      .agg((lit(k.toLong) - sum(col("floor_alloc"))).as("leftover"))
    val ranked = GlobalOrder.withGlobalIndexCols(quota,
      Seq(col("rem").desc, col("lang").asc, col("source").asc))
    val alloc = ranked.crossJoin(broadcast(leftover))
      .withColumn("alloc",
        col("floor_alloc") +
          when(col("_global_rank") <= col("leftover"), 1L).otherwise(0L))
      .select("lang", "source", "n_docs", "alloc")
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("_ord"), col("doc_id"))
    docs.join(alloc, Seq("lang", "source"))
      .withColumn("_ord",
        md5(concat(col("doc_id").cast("string"), lit(":eval"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("alloc"))
      .select("lang", "source", "n_docs", "alloc", "doc_id", "rk")
  }

}
