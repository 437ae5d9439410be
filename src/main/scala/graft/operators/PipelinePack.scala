package graft.operators

import graft.sim.IndexStore.member
import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The training-data corpus-prep pipeline as ONE declarative plan — the
  * composition the individual operators exist for: language filter →
  * quality filter → exact dedup → MinHash-LSH near-dup removal → token
  * accounting. At 100 TB this is the nightly corpus build; expressing it as
  * a single DataFrame lets Catalyst fuse the per-row stages (lang-ID,
  * quality, hashing are one codegen'd pass over `text`) and schedule the
  * two wide stages (content-hash groupBy, LSH bucket groupBy) back to back
  * on the already-filtered minority of rows.
  *
  * Stage semantics (each deterministic, mirrored in the oracle):
  *  1. keep docs whose n-gram language guess is 'en'
  *     (TextFunctions.langGuess — reference-shaped validation gate,
  *     db/data.py:114-135);
  *  2. keep docs with >= [[MinTokens]] whitespace tokens and stopword
  *     ratio >= [[MinStopRatio]] (the classic Gopher-style quality cuts);
  *  3. exact dedup: keep the lowest doc_id per md5(text) group (reference
  *     D1's content-hash dedup, db/data.py:250-257);
  *  4. near-dup removal: greedy keep-lowest — drop any surviving doc that
  *     appears as `doc_b` (the higher id) in a MinHash-LSH candidate pair
  *     over the SURVIVING corpus ([[DedupPack.minhashPairs]]). Greedy-by-id
  *     is order-deterministic and needs no connected components; chains
  *     a<b<c drop both b and c.
  *
  * Scale note: exact dedup is a `row_number` window over the content hash
  * (one shuffle, no join-back — the groupBy+self-join formulation scans the
  * filtered corpus twice). The deduped-corpus subtree is referenced twice
  * (LSH pair generation + final output), so it is persisted
  * (MEMORY_AND_DISK) between the stages — the lang/quality/dedup cascade
  * runs once, and at 100 TB the survivors spill instead of recomputing.
  */
object PipelinePack {

  /** Minimum whitespace-token count to survive the quality cut. */
  val MinTokens = 15

  /** Token budget per packed training sequence (`pipe_pack_sequences`). */
  val PackBudget = 512L

  /** Minimum stopword ratio (stopword-looking docs are prose, not noise). */
  val MinStopRatio = 0.01

  /** Target training-mixture weights by language, as integer parts of
    * [[MixDen]] (en-heavy, the usual pre-training mixture shape). Integer
    * weights keep every threshold computation in exact BIGINT arithmetic
    * on both engines — no float rounding to diverge on. */
  private[graft] val MixWeights: Seq[(String, Long)] =
    Seq("de" -> 2L, "en" -> 4L, "es" -> 1L, "fr" -> 2L, "zh" -> 1L)

  /** Denominator of the mixture weights (= sum of [[MixWeights]]). */
  private[graft] val MixDen = 10L

  /** Hash-threshold scale: u = first 8 hex chars of md5 ∈ [0, 2^32). */
  private[graft] val MixScale = 4294967296L

  /** Negatives per document / bucket count for `pipe_negative_pairs`. */
  private[graft] val NegK = 4L
  private[graft] val NegBuckets = 256L

  /** Exact integer division for positive longs: `a - a%b` is an exact
    * multiple of `b`, and IEEE double division of exact multiples below
    * 2^53 is exact — unlike `(a / b).cast(long)`, which truncates a
    * correctly-rounded but inexact quotient. (Spark's DataFrame `/` on
    * longs is double division; SQL's `div` has no `functions` twin.) */
  private def idiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** The domain-mix resample: documents kept so the corpus matches the
    * [[MixWeights]] target language mixture, sized to the largest total the
    * mixture permits (the scarcest language binds: N_out = min over langs
    * of n_l · MixDen / w_l).
    *
    * Membership is a pure hash-threshold filter — doc kept iff
    * `u(doc_id) < w_l · N_out · 2^32 / (MixDen · n_l)` with u uniform from
    * md5 — NOT a per-language rank window. The window formulation
    * (`row_number() OVER (PARTITION BY lang ORDER BY hash) <= k_l`) hits
    * the exact counts but pays a full shuffle + sort of the corpus; the
    * threshold form touches each row once with a 5-row broadcast joined in,
    * which is the only shape that survives 100 TB. The price is sampling
    * noise in the achieved counts (binomial around k_l) — exactly the
    * trade a production mixture sampler makes.
    *
    * The threshold arithmetic runs in DECIMAL(38,0) (HUGEINT in the
    * oracle) — see [[mixThresholdsFromCounts]]; the BIGINT form wrapped
    * at ~10^9 docs per language, i.e. AT deployment scale. Returns
    * per-doc rows with `u` and `thresh` attached. */
  private def domainMix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("lang").isin(MixWeights.map(_._1): _*))
    mixApply(docs, mixThresholds(s, d))
  }

  /** The 5-row (lang, n, wt, thresh) mixture-threshold frame derived from
    * `dir`'s corpus counts — in deployment this is computed once per
    * corpus VERSION and frozen (thresholds are a function of the corpus a
    * mixture was sized against, not of the batch being filtered), which
    * is what lets the streaming mix gate apply it per micro-batch without
    * rescanning the corpus. */
  private[graft] def mixThresholds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weights = MixWeights.toDF("lang", "wt")
    val counts = Tables.documents(s, d)
      .filter(col("lang").isin(MixWeights.map(_._1): _*))
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .join(weights, "lang")
    mixThresholdsFromCounts(counts)
  }

  /** Threshold arithmetic of the mix over a (lang, n, wt) counts frame —
    * all products in DECIMAL(38,0) (`div` = IntegralDivide, defined on
    * decimals, result BIGINT; the oracle mirrors with HUGEINT). The
    * all-BIGINT form wrapped at `wt·N_out·2³²` ≈ 10⁹ docs per language —
    * exactly deployment scale; the decimal form is exact to ~10²⁶ docs.
    * The threshold itself is < 2³², so the OUTPUT type stays BIGINT.
    * Factored out so the overflow spec can drive it with counts past the
    * long boundary against a BigInt reference. */
  private[graft] def mixThresholdsFromCounts(counts: DataFrame): DataFrame = {
    val nout = counts.agg(min(
        expr(s"(CAST(n AS DECIMAL(38,0)) * $MixDen) div wt")).as("nout"))
    counts.crossJoin(broadcast(nout)).select(
      col("lang"), col("n"), col("wt"),
      expr(s"(CAST(wt AS DECIMAL(38,0)) * nout * ${MixScale}L) div " +
        s"(CAST(n AS DECIMAL(38,0)) * $MixDen)").as("thresh"))
  }

  /** Draw domain of the temperature sampler: 24-bit (6 md5 hex chars).
    * Narrower than [[MixScale]] ON PURPOSE — the threshold is an integer
    * square root, and with a 24-bit domain every x = n_min·2^48 div n_l
    * stays ≤ 2^48 < 2^53: CAST(x AS DOUBLE) is exact, IEEE sqrt of an
    * exact input is correctly rounded identically on both engines, and
    * floor cannot mis-floor because the gap between √(k²−1) and k
    * (≈ 2^-49 relative at k = 2^24) exceeds double ulp (2^-52). A wider
    * domain would push x past 2^53 where floor(sqrt(double)) silently
    * forks from integer sqrt. 24-bit probability granularity (6e-8) is
    * far below a mixture sampler's binomial noise. */
  private[graft] val TempScale = 16777216L
  private[graft] val TempScaleSq: Long = TempScale * TempScale // 2^48

  /** Temperature-flattened mixture thresholds over a (lang, n) counts
    * frame — the (n_l/N)^α resampling of multilingual pretraining
    * corpora (Devlin et al. 2019 §mBERT data; Conneau et al. 2020 §3.1
    * use α ∈ [0.3, 0.7]) at α = 1/2: each language keeps
    * r_l = √(n_min/n_l) of its documents, flattening achieved counts
    * from n_l to √(n_min·n_l). The scarcest language keeps everything;
    * dominant ones are √-downsampled. Unlike [[domainMix]], which hits a
    * FIXED target mixture, the temperature mixture derives from the
    * corpus itself — the two are the complementary halves of production
    * mixture control. Same scale shape as the mix: thresholds are a
    * per-corpus-version constant (a |langs|-row broadcast), membership a
    * per-row hash compare — no rank window, no corpus shuffle.
    *
    * thresh_l = floor(√(n_min·2^48 div n_l)) — the product in
    * DECIMAL(38,0) (HUGEINT in the oracle; BIGINT would wrap at
    * n_min ≈ 2^15), the quotient ≤ 2^48 back in BIGINT, the sqrt
    * bit-identical across engines (see [[TempScale]]). */
  private[graft] def tempThresholdsFromCounts(counts: DataFrame): DataFrame = {
    val nmin = counts.agg(min(col("n")).as("n_min"))
    counts.crossJoin(broadcast(nmin)).select(col("lang"), col("n"),
      expr(s"CAST(floor(sqrt(CAST((CAST(n_min AS DECIMAL(38,0)) * " +
        s"${TempScaleSq}L) div n AS DOUBLE))) AS BIGINT)").as("thresh"))
  }

  /** The corpus-derived temperature thresholds for `dir` — like
    * [[mixThresholds]], a per-corpus-VERSION constant (thresholds are a
    * property of the corpus the mixture was sized against, not of a
    * batch being filtered), which is what lets the streaming gate apply
    * them per micro-batch without rescanning the corpus. */
  private[graft] def tempThresholds(s: SparkSession, d: String): DataFrame =
    tempThresholdsFromCounts(
      Tables.documents(s, d).groupBy("lang").agg(count(lit(1)).as("n")))

  /** Membership half of the temperature sampler: tag each doc with its
    * 24-bit draw and its language's threshold — a per-row filter against
    * a |langs|-row broadcast, shared by the batch resample and the
    * streaming gate. Unlike [[mixApply]] (whose explicit weight list
    * DEFINES the admitted languages, so unlisted ones drop), the
    * temperature mixture has no list — every language participates and
    * the scarcest keeps everything. A language absent from the frozen
    * frame (a NEW language arriving at a streaming gate between corpus
    * versions) is therefore the scarcest case by definition: LEFT join +
    * full-domain default keeps it entirely instead of silently
    * discarding it (spec-pinned; `n` defaults to 0 = "not in the sized
    * corpus"). The batch path derives thresholds from the same corpus it
    * filters, so every lang matches and the default is inert there. */
  private[graft] def tempApply(docs: DataFrame,
      thresholds: DataFrame): DataFrame = {
    val u = conv(substring(
      md5(concat(lit("tsamp:"), col("doc_id").cast("string"))), 1, 6),
      16, 10).cast("long")
    docs.join(broadcast(thresholds), Seq("lang"), "left")
      .withColumn("thresh", coalesce(col("thresh"), lit(TempScale)))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("u", u)
  }

  /** The corpus-derived (lang, n, thresh) frame + per-doc draw for the
    * temperature sampler's gate rows. All languages participate — the
    * temperature mixture needs no weight list. */
  private def tempSample(s: SparkSession, d: String): DataFrame =
    tempApply(Tables.documents(s, d), tempThresholds(s, d))

  /** Membership half of the mix: tag each doc with its hash draw `u` and
    * its language's threshold — a pure per-row filter against a 5-row
    * broadcast, shared by the batch resample and the streaming gate. */
  private[graft] def mixApply(docs: DataFrame,
      thresholds: DataFrame): DataFrame = {
    val u = conv(
      substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    docs.join(broadcast(thresholds), "lang").withColumn("u", u)
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * bins — the batch-prep step between a cleaned corpus and a training
    * run (every LLM data pipeline ends in some form of this). Streaming
    * first-fit in doc_id order WITHIN each source: a document goes to bin
    * `floor(preceding_cum_tokens / budget)`, so bins are contiguous id
    * ranges and a bin can overflow its budget by at most one document —
    * the standard overflow-tolerant streaming pack (the alternative,
    * best-fit bin packing, is NP-hard and inherently sequential; this
    * formulation is one window computation and fully deterministic).
    *
    * Scale: `source` is an enum-domain key (constant partition count), so
    * the running token sum CANNOT be one window per source — that would
    * funnel each shard's whole frame through one task (the a17 lesson,
    * round 15). It decomposes as the shared [[Chunked]] two-level prefix
    * instead: within-(source, doc_id-chunk) prefix sums (a PARTITIONED
    * window over range-bounded chunks) plus the token total of all
    * strictly-lower chunks of the same source (a broadcast triangle over
    * the ≤ sources·4096-row chunk rollup). `bin_pos` keeps its window:
    * (source, bin) partitions GROW with the data and each holds at most
    * one budget's worth of documents. */
  private[graft] def packSequences(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      tokenCount(col("text")).as("n_tokens"))
    // checkpoint once: the consumers below prune different columns, so
    // exchange reuse cannot share this frame — without it each branch
    // re-scans the corpus and re-runs the tokenizer (measured 10× scans)
    // range bounds from the raw id column (pruned scan — footer-stats
    // cheap), never from `base`: that would re-run the tokenizer
    val mm = docs.agg(min(col("doc_id")).as("dlo"),
      max(col("doc_id")).as("dhi"))
    val lvl = graft.plans.Checkpointed("PipelinePack.packBase", base
      .crossJoin(broadcast(mm))
      .withColumn("chunk", Chunked.chunkId("doc_id", "dlo", "dhi")))
    val wIn = Window.partitionBy(col("source"), col("chunk"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunkAgg = lvl.groupBy(col("source"), col("chunk"))
      .agg(sum(col("n_tokens")).as("cs"))
    val loSum = chunkAgg.as("a")
      .join(broadcast(chunkAgg.as("b")),
        col("b.source") === col("a.source") &&
          col("b.chunk") < col("a.chunk"), "left")
      .groupBy(col("a.source").as("source"), col("a.chunk").as("chunk"))
      .agg(sum(col("b.cs")).as("lo_sum"))
    val wPos = Window.partitionBy(col("source"), col("bin"))
      .orderBy(col("doc_id"))
    lvl
      .withColumn("cum_in", sum(col("n_tokens")).over(wIn))
      .join(broadcast(loSum), Seq("source", "chunk"))
      .withColumn("cum", col("cum_in") + coalesce(col("lo_sum"), lit(0L)))
      .withColumn("bin",
        floor((col("cum") - col("n_tokens")) / PackBudget).cast("long"))
      .withColumn("bin_pos", row_number().over(wPos).cast("long"))
      .select("doc_id", "source", "n_tokens", "bin", "bin_pos")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- training-sequence packing over the documents table --------------
    "pipe_pack_sequences" -> ((s, d) =>
      packSequences(Tables.documents(s, d))
        .orderBy("source", "bin", "bin_pos")),

    // ---- per-bin fill accounting: the packing-efficiency monitor ---------
    // (fill_ratio > 1 marks the overflow bins — bounded by one document)
    "pipe_pack_stats" -> ((s, d) =>
      packSequences(Tables.documents(s, d))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"))
        .withColumn("fill_ratio",
          round(col("bin_tokens").cast("double") / PackBudget, 6))
        .orderBy("source", "bin")),

    // ---- contrastive negative sampling ----------------------------------
    // Deterministic pseudo-random negative partners per document — the
    // pair-generation step of contrastive / embedding training. Each
    // (doc, i < NegK) hashes into one of [[NegBuckets]] buckets whose
    // REPRESENTATIVE (lowest doc_id hashed into it) becomes the negative;
    // self-pairs and same-source pairs (near-positives) are dropped —
    // "up to K negatives, with replacement" is the defined contract,
    // mirrored in the oracle. Scale shape: ONE aggregate builds the
    // B-row representative table, then a broadcast join — no corpus
    // self-join, no global sort, no RNG (the md5-prefix recipe shared
    // with the domain-mix sampler reproduces bit-identically on any
    // engine). ------------------------------------------------------------
    "pipe_negative_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      def u(prefix: String, c: Column) = conv(
        substring(md5(concat(lit(prefix), c)), 1, 8), 16, 10).cast("long")
      val reps = docs
        .withColumn("bkt",
          pmod(u("negrep:", col("doc_id").cast("string")), lit(NegBuckets)))
        .groupBy("bkt").agg(min(col("doc_id")).as("neg_id"))
        .join(docs.select(col("doc_id").as("neg_id"),
          col("source").as("neg_source")), Seq("neg_id"))
      docs
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0L), lit(NegK - 1L))).as("i"))
        .withColumn("bkt", pmod(
          u("neg:", concat(col("doc_id").cast("string"), lit(":"),
            col("i").cast("string"))), lit(NegBuckets)))
        .join(broadcast(reps), Seq("bkt"))
        .filter(col("neg_id") =!= col("doc_id") &&
          col("neg_source") =!= col("source"))
        .select(col("doc_id"), col("i"), col("neg_id"))
        .orderBy("doc_id", "i")
    }),

    // ---- temperature-flattened resample (α = 1/2): kept rows ------------
    "pipe_temp_sample" -> ((s, d) =>
      tempSample(s, d).filter(col("u") < col("thresh"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- temperature accounting: totals, kept counts, thresholds --------
    "pipe_temp_sample_stats" -> ((s, d) =>
      tempSample(s, d)
        .groupBy(col("lang"), col("n"), col("thresh"))
        .agg(count(when(col("u") < col("thresh"), 1)).as("n_kept"))
        .select(col("lang"), col("n"), col("n_kept"), col("thresh"))
        .orderBy("lang")),

    // ---- domain-mix resample: kept rows (the corpus a training run reads) -
    "pipe_domain_mix" -> ((s, d) =>
      domainMix(s, d).filter(col("u") < col("thresh"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // ---- mixture accounting: per-language totals, kept counts, thresholds -
    "pipe_domain_mix_stats" -> ((s, d) =>
      domainMix(s, d)
        .groupBy(col("lang"), col("wt"), col("thresh"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("u") < col("thresh"), 1)).as("n_kept"))
        .select(col("lang"), col("wt"), col("n_total"), col("n_kept"),
          col("thresh"))
        .orderBy("lang")),

    "pipe_corpus_prep" -> ((s, d) => {
      val t = col("text")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), t,
          tokenCount(t).as("n_tokens"),
          stopwordRatio(t).as("stop_ratio"),
          langGuess(t).as("pred_lang"),
          bpeTokenEstimate(t).as("est_bpe_tokens"))
      val filt = scored
        .filter(col("pred_lang") === "en" &&
          col("n_tokens") >= MinTokens && col("stop_ratio") >= MinStopRatio)
      // exact dedup as a window (keep lowest doc_id per content hash): one
      // shuffle on the hash and NO join back — the groupBy+self-join
      // formulation scans the filtered corpus twice
      val wHash = Window.partitionBy(md5(col("text")))
        .orderBy(col("doc_id"))
      // the deduped corpus feeds BOTH the LSH pair generation and the final
      // anti-join; persist it so the filter→window subtree runs once, not
      // per reference (MEMORY_AND_DISK: at 100 TB the survivors of the
      // lang/quality/dedup cuts are a minority of the input but can still
      // exceed executor memory — spill, don't recompute)
      val corpus = filt
        .withColumn("rn", row_number().over(wHash))
        .filter(col("rn") === 1)
        .drop("rn")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nearDupLosers = DedupPack.minhashPairs(corpus.select("doc_id", "text"))
        .select(col("doc_b").as("doc_id"))
        .distinct()
      corpus.join(nearDupLosers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens"), col("est_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // ---- quality-gate cascade: per-document first-failing rule -----------
    // The C4/Gopher-style rule CASCADE with attributed drop reasons — the
    // form a production filter runs in, because "how many docs did each
    // rule kill" (the funnel below) is how the thresholds get tuned.
    // Rules fire in fixed order (first failure names the reason):
    // too_short → too_long → low_stopword → repetitive. Every comparison
    // is integer cross-multiplication (stop-ratio < 2% is `50·n_stop <
    // n_tokens`), so the engine and the oracle compare exact BIGINTs and
    // no float rounding can flip a boundary document. Plan: one codegen'd
    // pass computes the per-row signals; the top-token count is the only
    // wide stage (the tx_repetition explode + two-level combinable
    // aggregate, shuffle keyed on high-cardinality (doc_id, token) — no
    // skew), joined back on bucketed doc_id. --------------------------------
    "pipe_quality_gate" -> ((s, d) =>
      qualityGate(Tables.documents(s, d))
        .select(col("doc_id"), col("n_tokens"), col("reason"), col("keep"))
        .orderBy("doc_id")),

    // ---- gate funnel: docs killed per rule (threshold-tuning monitor) ----
    // Exact integer per-mille (idiv) — no float share to diverge on.
    "pipe_quality_funnel" -> ((s, d) => {
      val g = qualityGate(Tables.documents(s, d))
        .groupBy(col("reason")).agg(count(lit(1)).as("n_docs"))
      g.crossJoin(broadcast(g.agg(sum(col("n_docs")).as("total"))))
        .select(col("reason"), col("n_docs"),
          idiv(col("n_docs") * 1000L, col("total")).as("permille"))
        .orderBy("reason")
    }),

    // ---- leakage-safe train/val split ------------------------------------
    // Hash-split the corpus so near-duplicate documents NEVER straddle the
    // train/val boundary — splitting by raw doc hash leaks val content
    // into training through its near-copies, which inflates eval. The
    // split key is the near-dup component representative (connected
    // components over the MinHash-LSH pair graph), falling back to the
    // document's own id for singletons; side = md5-threshold on the GROUP
    // key, so every member of a component lands together by construction.
    // Scale shape: the component labels exist only for docs in some
    // near-dup pair (a small minority), so the join-back is corpus ×
    // small on bucketed doc_id; the side assignment is a pure per-row
    // hash against a literal threshold — no shuffle beyond the label
    // propagation itself ([[DedupPack.connectedComponents]], bounded
    // iterations). ---------------------------------------------------------
    "pipe_leak_safe_split" -> ((s, d) => leakSafeSplit(s, d)
      .select(col("doc_id"), col("grp"), col("side"))
      .orderBy("doc_id")),

    // ---- split accounting: per-side doc and group counts -----------------
    // r18: the accounting monitor rides the PERSISTED component labels
    // (the dd_semantic_dedup / ann_recall served-artifact pattern): a
    // production split audit consumes the deployed label assignment, not
    // a per-job rebuild of the pair graph. Rows identical by construction
    // (pipe_split_indexed ≡ pipe_leak_safe_split is the pinned row-
    // identity), and the recompute ORACLE now gates the artifact content
    // — the strictly stronger pin. ------------------------------------------
    "pipe_split_stats" -> ((s, d) =>
      splitServe(s, d, Tables.documents(s, d))
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("grp")).as("n_groups"))
        .orderBy("side")),

    // ---- the split served from the PERSISTED component labels ------------
    // The production twin of `pipe_leak_safe_split` (the `_indexed`
    // artifact-vs-inline pattern): component labels are a build-once
    // IndexStore artifact, and side assignment touches ONLY the assigned
    // docs plus the label member — the pair graph is never rebuilt per
    // job (plan-asserted: no re-shingling in the serving plan). Rows are
    // identical to the inline entry by construction (shared sideAssign
    // over the same label policy), which is what the row-identity oracle
    // checks. --------------------------------------------------------------
    "pipe_split_indexed" -> ((s, d) =>
      splitServe(s, d, Tables.documents(s, d))
        .select(col("doc_id"), col("grp"), col("side"))
        .orderBy("doc_id"))
  )

  /** Quality-gate thresholds (rule order: shortest prefix that fails).
    * Integer forms of: < 16 tokens; > 520 chars; stopword ratio < 2%
    * (50·n_stop < nt); top-token mass > 18% (50·max_tf > 9·nt) or
    * duplicate-bigram fraction > 9% (100·dup > 9·(nt−1)). */
  private[graft] val GateMinTokens = 16L
  private[graft] val GateMaxChars = 520L

  /** Validation share of [[leakSafeSplit]], in exact per-mille of the
    * md5-uniform hash (125 = 12.5%). */
  private[graft] val ValPermille = 125L

  /** Per-document gate signals + first-failing-rule verdict — shared by
    * the gate and funnel queries. Zero-token documents have no top-token
    * row; they fail `too_short` before `max_tf` is consulted (the
    * coalesce is belt-and-braces for the when-chain). */
  private[graft] def qualityGate(docs: DataFrame): DataFrame = {
    import graft.functions.HashFunctions.bindArray
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("max_tf"))
    val sig = docs
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        bindArray(tokens(col("text")), t => struct(
          size(t).cast("long").as("nt"),
          size(filter(t, x =>
            array_contains(typedLit(EnglishStopwords), x)))
            .cast("long").as("n_stop"),
          when(size(t) >= 2,
            size(array_distinct(transform(sequence(lit(1), size(t) - 1),
              i => concat(element_at(t, i), lit(" "),
                element_at(t, i + 1))))))
            .otherwise(lit(0)).cast("long").as("nbgd"))).as("b"))
      .select(col("doc_id"), col("n_chars"),
        col("b.nt").as("nt"), col("b.n_stop").as("n_stop"),
        col("b.nbgd").as("nbgd"))
    val mtf = coalesce(col("max_tf"), lit(0L))
    sig.join(tf, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("nt") < GateMinTokens, "too_short")
          .when(col("n_chars") > GateMaxChars, "too_long")
          .when(col("n_stop") * 50L < col("nt"), "low_stopword")
          .when(mtf * 50L > col("nt") * 9L ||
            (col("nt") - 1L - col("nbgd")) * 100L > (col("nt") - 1L) * 9L,
            "repetitive")
          .otherwise("kept"))
      .select(col("doc_id"), col("nt").as("n_tokens"), col("reason"),
        (col("reason") === "kept").as("keep"))
  }

  /** Leak-safe split rows: (doc_id, grp, side) — see `pipe_leak_safe_split`. */
  private def leakSafeSplit(s: SparkSession, d: String): DataFrame =
    leakSafeSplitOf(Tables.documents(s, d))

  /** Frame-based core of the leak-safe split. The side is a pure function
    * of the GROUP key alone — never of corpus size or composition — which
    * is what makes assignments STABLE as the corpus grows: a document
    * changes side only if new near-duplicates merge its component into
    * one with a lower representative (property-spec'd). */
  private[graft] def leakSafeSplitOf(docs: DataFrame): DataFrame =
    sideAssign(docs,
      DedupPack.connectedComponents(DedupPack.minhashPairs(docs)))

  /** Side-assignment half of the split, shared by the inline rebuild, the
    * artifact-served twin, and the streaming gate (ONE definition — the
    * `_indexed` row-identity oracle rests on all three assigning
    * identically): docs LEFT-join the (doc_id, rep) component labels,
    * grp = rep with the document's own id as the singleton fallback (docs
    * in no near-dup pair carry no label row — a small minority of the
    * corpus, so the join is corpus × small), side = md5 threshold on the
    * GROUP key so every member of a component lands together by
    * construction. */
  private def sideAssign(docs: DataFrame, comps: DataFrame): DataFrame = {
    val grp = coalesce(col("rep"), col("doc_id"))
    val u = conv(
      substring(md5(concat(lit("split:"), grp.cast("string"))), 1, 8),
      16, 10).cast("long")
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), grp.as("grp"),
        when(pmod(u, lit(1000L)) < ValPermille, "val").otherwise("train")
          .as("side"))
  }

  /** Build-once near-dup component-label artifact: the connected-component
    * representatives over the corpus's MinHash-LSH pair graph, persisted
    * as an IndexStore member — the split analogue of the dedup band index.
    * At 100 TB the pair graph + iterative label propagation is a
    * corpus-build step, not a per-job recompute: every split consumer
    * (and the streaming split gate) reads the labels, never re-shingles.
    * Params stamp the LSH recipe AND the split constant, so a banding or
    * threshold change rebuilds instead of serving stale labels. */
  private[graft] def ensureComponentsIndex(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensure(s, d, "split_components",
      Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id",
      s"${DedupPack.lshParams},val_permille=$ValPermille") { p =>
      DedupPack.connectedComponents(
        DedupPack.minhashPairs(Tables.documents(s, d)))
        .write.mode("overwrite").parquet(s"$p/components")
    }

  /** Serve split sides for an arbitrary (doc_id, …) batch from the
    * persisted component labels — the serving core of
    * `pipe_split_indexed` and the streaming `DocStream.splitGate`.
    * Arriving docs pay ONE bucket-join against the label member; docs the
    * artifact has never seen (no near-dup pair at build time) fall back
    * to their own id, which is exactly the stability property's singleton
    * case — their side can only change if a future rebuild merges them
    * into a lower-rep component. */
  private[graft] def splitServe(s: SparkSession, d: String,
      batch: DataFrame): DataFrame =
    splitServeAt(s, ensureComponentsIndex(s, d), batch)

  /** Path-resolved split serving — the streaming gate's per-batch half
    * (artifact ensured once at stream start; a batch pays one label
    * join). */
  private[graft] def splitServeAt(s: SparkSession, p: String,
      batch: DataFrame): DataFrame =
    sideAssign(batch, member(s, p, "components"))

  /** Shared CTE chain for the two domain-mix oracles — mirrors
    * [[domainMix]] stage for stage, all-BIGINT (`//` is DuckDB integer
    * division; the hex-prefix cast is its `'0x…'::BIGINT`). */
  private def mixCtes: String = {
    val langList = MixWeights.map(w => s"'${w._1}'").mkString(", ")
    val valuesSql = MixWeights
      .map { case (l, w) => s"('$l', CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
       |  WHERE lang IN ($langList) GROUP BY lang),
       |w(lang, wt) AS (VALUES $valuesSql),
       |cw AS (SELECT c.lang, c.n, w.wt FROM c JOIN w USING (lang)),
       |no AS (SELECT MIN(CAST(n AS HUGEINT) * $MixDen // wt) AS nout
       |  FROM cw),
       |th AS (SELECT lang, n, wt,
       |  CAST(CAST(wt AS HUGEINT) * no.nout * $MixScale
       |    // (CAST(n AS HUGEINT) * $MixDen) AS BIGINT) AS thresh
       |  FROM cw, no),
       |uu AS (SELECT d.doc_id, d.lang, th.wt, th.thresh,
       |  ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
       |    AS u
       |  FROM documents d JOIN th USING (lang))""".stripMargin
  }

  private def tempCtes: String =
    s"""WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents GROUP BY lang),
       |nm AS (SELECT MIN(n) AS n_min FROM c),
       |th AS (SELECT lang, n,
       |  CAST(floor(sqrt(CAST(CAST(n_min AS HUGEINT) * $TempScaleSq // n
       |    AS DOUBLE))) AS BIGINT) AS thresh
       |  FROM c, nm),
       |tu AS (SELECT d.doc_id, d.lang, th.n, th.thresh,
       |  ('0x' || substr(md5('tsamp:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
       |    ::BIGINT AS u
       |  FROM documents d JOIN th USING (lang))""".stripMargin

  /** Shared CTE chain for the two quality-gate oracles — mirrors
    * [[qualityGate]] stage for stage (same tokenizer, same all-BIGINT
    * threshold comparisons), ending in `gated(doc_id, n_tokens, reason,
    * keep)`. */
  private[operators] def gateCtes: String = {
    import TextPack.toksSql
    val stopList = EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |  $toksSql AS tk FROM documents),
       |rw AS (SELECT doc_id, n_chars, CAST(len(tk) AS BIGINT) AS nt,
       |  CAST(len(list_filter(tk, x -> list_contains($stopList, x)))
       |    AS BIGINT) AS n_stop,
       |  CAST(CASE WHEN len(tk) >= 2 THEN len(list_distinct(list_transform(
       |      generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])))
       |    ELSE 0 END AS BIGINT) AS nbgd
       |  FROM t),
       |tf AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_tf FROM (
       |    SELECT doc_id, tk2, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(tk) AS tk2 FROM t) x
       |    GROUP BY doc_id, tk2) y GROUP BY doc_id),
       |sig AS (SELECT r.doc_id, r.n_chars, r.nt, r.n_stop, r.nbgd,
       |  COALESCE(f.max_tf, 0) AS max_tf
       |  FROM rw r LEFT JOIN tf f USING (doc_id)),
       |gated AS (SELECT doc_id, nt AS n_tokens,
       |  CASE WHEN nt < $GateMinTokens THEN 'too_short'
       |       WHEN n_chars > $GateMaxChars THEN 'too_long'
       |       WHEN n_stop * 50 < nt THEN 'low_stopword'
       |       WHEN max_tf * 50 > nt * 9
       |         OR (nt - 1 - nbgd) * 100 > (nt - 1) * 9 THEN 'repetitive'
       |       ELSE 'kept' END AS reason
       |  FROM sig)""".stripMargin
  }

  /** Shared CTE chain for the two split oracles — the dd_components
    * recursive chain plus the md5-threshold side assignment, ending in
    * `sides(doc_id, grp, side)`. */
  private def splitCtes: String =
    s"""WITH RECURSIVE ${DedupPack.minhashPairCtes("documents")},
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mhpairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM mhpairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, rc.r FROM edges e
       |  JOIN reach rc ON rc.id = e.dst),
       |comp AS (SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
       |sides AS (SELECT d.doc_id,
       |  COALESCE(c.rep, d.doc_id) AS grp,
       |  CASE WHEN ('0x' || substr(md5('split:' ||
       |      CAST(COALESCE(c.rep, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT
       |      % 1000 < $ValPermille
       |    THEN 'val' ELSE 'train' END AS side
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)"""
      .stripMargin

  val oracles: Map[String, String] = Map(
    "pipe_quality_gate" ->
      s"""$gateCtes
         |SELECT doc_id, n_tokens, reason, reason = 'kept' AS keep
         |FROM gated ORDER BY doc_id""".stripMargin,

    "pipe_quality_funnel" ->
      s"""$gateCtes,
         |f AS (SELECT reason, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM gated GROUP BY reason)
         |SELECT reason, n_docs,
         |  CAST(n_docs * 1000 // (SELECT SUM(n_docs) FROM f) AS BIGINT)
         |    AS permille
         |FROM f ORDER BY reason""".stripMargin,

    "pipe_leak_safe_split" ->
      s"""$splitCtes
         |SELECT doc_id, grp, side FROM sides ORDER BY doc_id""".stripMargin,

    // row-identity against the inline split's already-oracle-checked
    // verify output (the `_indexed` twins' pattern — the artifact serves
    // IDENTICAL rows by construction; the plan-level "reads the labels,
    // never re-shingles" half is PlanSpec's)
    "pipe_split_indexed" ->
      "SELECT * FROM '__GRAFT_OUT__/pipe_leak_safe_split/*.parquet'",

    "pipe_split_stats" ->
      s"""$splitCtes
         |SELECT side, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups
         |FROM sides GROUP BY side ORDER BY side""".stripMargin,

    "pipe_negative_pairs" ->
      s"""WITH d AS (SELECT doc_id, source FROM documents),
         |reps0 AS (
         |  SELECT ('0x' || substr(md5('negrep:' || CAST(doc_id AS VARCHAR)),
         |      1, 8))::BIGINT % $NegBuckets AS bkt,
         |    MIN(doc_id) AS neg_id
         |  FROM d GROUP BY 1),
         |reps AS (SELECT r.bkt, r.neg_id, d.source AS neg_source
         |  FROM reps0 r JOIN d ON d.doc_id = r.neg_id),
         |cand AS (
         |  SELECT d.doc_id, d.source, gi.i,
         |    ('0x' || substr(md5('neg:' || CAST(d.doc_id AS VARCHAR) || ':'
         |        || CAST(gi.i AS VARCHAR)), 1, 8))::BIGINT % $NegBuckets
         |      AS bkt
         |  FROM d, (SELECT unnest(generate_series(0, ${NegK - 1})) AS i) gi)
         |SELECT c.doc_id, c.i, r.neg_id
         |FROM cand c JOIN reps r USING (bkt)
         |WHERE r.neg_id <> c.doc_id AND r.neg_source <> c.source
         |ORDER BY doc_id, i""".stripMargin,

    // the temperature thresholds replayed: same HUGEINT product, same
    // integer quotient, same exact-input IEEE sqrt+floor, same 24-bit
    // md5 draw — membership matches row-for-row
    "pipe_temp_sample" ->
      s"""$tempCtes
         |SELECT doc_id, lang FROM tu WHERE u < thresh
         |ORDER BY doc_id""".stripMargin,

    "pipe_temp_sample_stats" ->
      s"""$tempCtes
         |SELECT lang, n, CAST(COUNT(*) FILTER (WHERE u < thresh) AS BIGINT)
         |    AS n_kept,
         |  thresh
         |FROM tu GROUP BY lang, n, thresh ORDER BY lang""".stripMargin,

    "pipe_domain_mix" ->
      s"""$mixCtes
         |SELECT doc_id, lang FROM uu WHERE u < thresh
         |ORDER BY doc_id""".stripMargin,

    "pipe_domain_mix_stats" ->
      s"""$mixCtes
         |SELECT lang, wt, CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(COUNT(*) FILTER (WHERE u < thresh) AS BIGINT) AS n_kept,
         |  thresh
         |FROM uu GROUP BY lang, wt, thresh ORDER BY lang""".stripMargin,

    "pipe_pack_sequences" -> {
      import TextPack.toksSql
      s"""WITH toks AS (SELECT doc_id, source,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |cum AS (SELECT doc_id, source, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM toks)
         |SELECT doc_id, source, n_tokens,
         |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS bin,
         |  CAST(row_number() OVER (PARTITION BY source,
         |    (cum - n_tokens) // $PackBudget ORDER BY doc_id) AS BIGINT)
         |    AS bin_pos
         |FROM cum ORDER BY source, bin, bin_pos""".stripMargin
    },

    "pipe_pack_stats" -> {
      import TextPack.toksSql
      s"""WITH toks AS (SELECT doc_id, source,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |cum AS (SELECT doc_id, source, n_tokens,
         |  SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
         |  FROM toks),
         |binned AS (SELECT source, n_tokens,
         |  CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS bin FROM cum)
         |SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  round(CAST(SUM(n_tokens) AS DOUBLE) / $PackBudget, 6)
         |    AS fill_ratio
         |FROM binned GROUP BY source, bin
         |ORDER BY source, bin""".stripMargin
    },

    "pipe_corpus_prep" -> {
      import TextPack.{countSql, langCaseSql, toksSql}
      import graft.functions.TextFunctions.EnglishStopwords
      s"""WITH scored AS (SELECT doc_id, text,
         |  CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |  CAST(${countSql(EnglishStopwords)} AS DOUBLE)
         |    / len($toksSql) AS stop_ratio,
         |  $langCaseSql AS pred_lang,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
         |FROM documents),
         |filt AS (SELECT doc_id, text, n_tokens, est_bpe_tokens FROM scored
         |  WHERE pred_lang = 'en' AND n_tokens >= $MinTokens
         |    AND stop_ratio >= $MinStopRatio),
         |corpus AS (SELECT doc_id, text, n_tokens, est_bpe_tokens FROM (
         |  SELECT f.*, row_number() OVER (PARTITION BY md5(text)
         |    ORDER BY doc_id) AS rn
         |  FROM filt f) t WHERE rn = 1),
         |${DedupPack.minhashPairCtes("corpus")}
         |SELECT doc_id, n_tokens, est_bpe_tokens FROM corpus
         |WHERE doc_id NOT IN (SELECT doc_b FROM mhpairs)
         |ORDER BY doc_id""".stripMargin
    }
  )
}
