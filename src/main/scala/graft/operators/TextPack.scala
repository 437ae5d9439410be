package graft.operators

import graft.sim.IndexStore.member
import graft.plans.Checkpointed

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (token counting, quality scoring, language ID, document
  * fingerprinting) layered on the reference's document-processing shapes
  * (reference: db/data.py:114-135 validation/normalization,
  * similarity/metrics.py transform pipeline).
  *
  * Everything is per-row Catalyst expression work (no shuffle except final
  * aggregation queries), so throughput scales with executor count; the only
  * wide operation is the confusion-matrix groupBy on a 25-cell key space.
  */
object TextPack {

  /** Empty-filtered whitespace token list — mirrors TextFunctions.tokens. */
  private[operators] val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""

  /** DuckDB SQL for the marker-word count of one language (must mirror
    * TextFunctions.wordSetCount). */
  private[operators] def countSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> list_contains($lst, x))) AS BIGINT)"
  }

  /** DuckDB CASE expression mirroring TextFunctions.langGuess. */
  private[operators] val langCaseSql: String = {
    val counts = LangMarkers.map { case (l, ws) => l -> countSql(ws) }
    val whens = counts.zipWithIndex.dropRight(1).map { case ((lang, c), i) =>
      val conds = counts.drop(i + 1)
        .map { case (_, o) => s"$c >= $o" }.mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }
    s"CASE ${whens.mkString(" ")} ELSE '${counts.last._1}' END"
  }

  /** PII patterns — Java-regex ∩ RE2 common dialect, shared verbatim with
    * the DuckDB oracles (no alternation → leftmost-first and
    * leftmost-longest matching coincide; ASCII \d in both engines). */
  private[graft] val PiiEmail =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PiiPhone = "\\d{3}-\\d{4}"
  private[graft] val PiiIpv4 =
    "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** CCNet-style perplexity bucket edges, applied to the ROUNDED mean
    * surprisal so both engines threshold the identical value (head ≈ best
    * quartile, tail ≈ worst quartile on the fixture corpus).
    *
    * Calibration scope: these edges were fit on the EXACT core's score
    * scale (ln(N/c)). The Laplace-smoothed core shifts every score
    * upward (ln((N+V)/(c+1)) > ln(N/c) whenever V > c+… mass moves to
    * unseen tokens), so the same document can land one bucket later
    * under the smoothed gate than under the exact batch entries — an
    * intentional semantic difference (the smoothed gate scores
    * out-of-distribution batches the exact core cannot see at all), not
    * drift. A consumer needing bucket parity between the two cores must
    * recalibrate edges on smoothed scores for its frozen LM (the shift
    * is corpus-dependent: ≈ ln((N+V)/N) for high-frequency tokens,
    * larger for rare ones), rather than reuse these. */
  private[graft] val PplHeadMax = 3.399
  private[graft] val PplMiddleMax = 3.405

  /** Per-(doc, token) term frequencies — the shared first stage of the
    * LM scoring paths. */
  private def docTf(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))

  /** Shared unigram-LM scoring core: per-(doc, token) surprisal mass
    * tf·(ln N − ln c), quantized to the 1e-9 decimal grid BEFORE summation
    * (the A6/dimStats discipline) — decimal sums are exact and
    * order-independent, so the result is bit-stable across PARTITIONINGS
    * and the inline/indexed/streaming callers. Cross-ENGINE agreement is
    * to the 1e-9 grid with a documented ulp-boundary caveat (JVM
    * Math.log vs libm ln, and double→decimal rounding conventions, can
    * disagree by one grid cell when a term lands within an ulp of a
    * half-cell boundary — see BASELINE.md "known cross-engine tolerance
    * class"; probability ~1e-8 per value, never observed at the gates). Tokens absent
    * from the LM drop out of the join — correct for same-corpus scoring;
    * a deployment scoring FUTURE drops against a frozen LM adds add-one
    * smoothing to the count member (the formula, not the plan, changes). */
  private[graft] def pplScore(tf: org.apache.spark.sql.DataFrame,
      lm: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    bucketize(tf.join(lm, Seq("tk")).crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum((col("tf").cast(DoubleType) *
          (log(col("n").cast(DoubleType)) - log(col("c").cast(DoubleType))))
          .cast(DecimalType(28, 9))).as("nll")))
  }

  /** Shared (doc_id, n_tokens, nll) → scored-row tail of BOTH LM scoring
    * cores: the 1e-6 rounding grid and the head/middle/tail thresholds
    * are oracle-mirrored in the exact AND smoothed entries, so they live
    * in exactly one place — a one-sided change would silently break one
    * oracle. */
  private def bucketize(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val mean = round(col("nll").cast(DoubleType) /
      col("n_tokens").cast(DoubleType), 6)
    scored.select(col("doc_id"), col("n_tokens"), mean.as("mean_nll"),
      when(mean < PplHeadMax, "head").when(mean < PplMiddleMax, "middle")
        .otherwise("tail").as("bucket"))
  }

  /** Add-one-smoothed LM scoring core — the POST-FREEZE variant of
    * [[pplScore]] for scoring arbitrary future batches against a frozen
    * LM: p(t) = (c(t)+1)/(N+V) (Laplace; Σ_t (c_t+1) = N+V so the seen
    * vocabulary still sums to one, unseen tokens carry mass 1/(N+V)).
    * The LEFT join keeps every batch token, so `n_tokens` counts the
    * batch's own tokens — a document whose vocabulary the LM has never
    * seen still gets a row (high surprisal, `tail` bucket) instead of
    * silently vanishing, which is exactly the out-of-distribution case a
    * streaming quality gate exists to catch. Same 1e-9-grid decimal
    * summation discipline as the exact core. */
  private[graft] def pplScoreSmoothed(tf: org.apache.spark.sql.DataFrame,
      lm: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cEff = coalesce(col("c"), lit(0L))
    bucketize(tf.join(lm, Seq("tk"), "left")
      .crossJoin(broadcast(total)).crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum((col("tf").cast(DoubleType) *
          (log((col("n") + col("v")).cast(DoubleType)) -
            log((cEff + lit(1L)).cast(DoubleType))))
          .cast(DecimalType(28, 9))).as("nll")))
  }

  /** Inline LM scoring over `docs` — the LM is built from the same frame
    * it scores (the `tx_unigram_ppl` contract; the indexed twin and the
    * streaming gate read the persisted artifact instead). */
  private[graft] def lmScoreInline(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tf = docTf(docs)
    val lm = tf.groupBy(col("tk")).agg(sum(col("tf")).as("c"))
    val n = lm.agg(sum(col("c")).as("n"))
    pplScore(tf, lm, n)
  }

  /** Build constants of [[ensureLmIndex]] — the tokenizer recipe is the
    * only thing the member layout depends on. */
  private[graft] val LmIndexParams = "tokenizer=ws_v1"

  /** (doc_id, u, v) adjacent-token bigram stream — the shared first stage
    * of the bigram-LM family (inline scoring, artifact build, serving). */
  private def docBigrams(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), explode(when(size(col("t")) >= 2, expr(
        "transform(sequence(2, size(t)), " +
          "i -> struct(element_at(t, i - 1) AS u, element_at(t, i) AS v))"))
        .otherwise(expr(
          "CAST(array() AS array<struct<u:string,v:string>>)"))).as("b"))
      .select(col("doc_id"), col("b.u").as("u"), col("b.v").as("v"))

  /** Per-(doc, u, v) bigram frequencies. */
  private def bigramTf(docs: org.apache.spark.sql.DataFrame) =
    docBigrams(docs).groupBy(col("doc_id"), col("u"), col("v"))
      .agg(count(lit(1)).as("tf2"))

  /** Jelinek-Mercer interpolation weight of [[bigramScore]]. */
  private[graft] val BigramLambda = 0.75

  /** Shared bigram scoring core: p(v|u) = lambda*c2(u,v)/c1(u) +
    * (1-lambda)*c1(v)/N, per-position surprisal on the 1e-9 decimal grid
    * BEFORE summation (the pplScore discipline) — one definition for the
    * inline entry and the artifact twin, the expression tree mirrored
    * verbatim in the oracle (same division order, same weighted sum). */
  private[graft] def bigramScore(tf2: org.apache.spark.sql.DataFrame,
      lm2: org.apache.spark.sql.DataFrame,
      lm1: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pInterp =
      (lit(BigramLambda) *
        (col("c2").cast(DoubleType) / col("c1u").cast(DoubleType))) +
        (lit(1.0 - BigramLambda) *
          (col("c1v").cast(DoubleType) / col("n").cast(DoubleType)))
    tf2
      .join(lm2, Seq("u", "v"))
      .join(lm1.select(col("tk").as("u"), col("c").as("c1u")), Seq("u"))
      .join(lm1.select(col("tk").as("v"), col("c").as("c1v")), Seq("v"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf2")).as("n_bigrams"),
        sum((col("tf2").cast(DoubleType) * -log(pInterp))
          .cast(DecimalType(28, 9))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType), 6).as("mean_nll"))
  }

  /** Add-one-backed smoothed bigram scoring — the POST-FREEZE variant of
    * [[bigramScore]] for arbitrary future batches against a frozen
    * artifact: the unigram backoff term goes Laplace
    * ((c₁(v)+1)/(N+V) — proper over the frozen vocab, unseen tokens
    * carry mass), the bigram term contributes only where the frozen LM
    * has the context (c₁(u) > 0; LEFT joins keep every batch bigram), so
    * p > 0 always and a document whose vocabulary the LM has never seen
    * still scores instead of silently vanishing — the pplScoreSmoothed
    * treatment one order up. On the corpus itself every count is present,
    * so the oracle entry pins the arithmetic end to end. */
  private[graft] def bigramScoreSmoothed(tf2: org.apache.spark.sql.DataFrame,
      lm2: org.apache.spark.sql.DataFrame,
      lm1: org.apache.spark.sql.DataFrame,
      total: org.apache.spark.sql.DataFrame,
      prefilter: Boolean): org.apache.spark.sql.DataFrame = {
    val c2e = coalesce(col("c2"), lit(0L))
    val c1ue = coalesce(col("c1u"), lit(0L))
    val c1ve = coalesce(col("c1v"), lit(0L))
    val pBig = when(c1ue > 0,
      lit(BigramLambda) * (c2e.cast(DoubleType) / c1ue.cast(DoubleType)))
      .otherwise(lit(0.0))
    val pUni = lit(1.0 - BigramLambda) *
      ((c1ve + lit(1L)).cast(DoubleType) /
        (col("n") + col("vsz")).cast(DoubleType))
    // Scale shape of the PER-BATCH serve (prefilter = true, the gate
    // path): lm2 is corpus-vocabulary-squared-scale, so a plain LEFT
    // join would shuffle the whole count table per micro-batch. The
    // broadcast SEMI-join prefilter keeps only the batch's own bigram
    // keys (one columnar scan of lm2, no shuffle), after which the left
    // join's right side is batch-sized and broadcasts. Pure optimization
    // — a semi-filtered left join returns identical rows (rows dropped
    // by the semi could only have joined nothing). A CORPUS-sized caller
    // (the tx_bigram_ppl_smoothed batch entry) passes prefilter = false:
    // broadcasting its corpus-sized key set would be the scale bug the
    // prefilter exists to avoid, and the plain shuffle join is the right
    // plan there.
    val lm2b =
      if (prefilter)
        lm2.join(broadcast(tf2.select(col("u"), col("v")).distinct()),
          Seq("u", "v"), "left_semi")
      else lm2
    tf2
      .join(lm2b, Seq("u", "v"), "left")
      .join(lm1.select(col("tk").as("u"), col("c").as("c1u")),
        Seq("u"), "left")
      .join(lm1.select(col("tk").as("v"), col("c").as("c1v")),
        Seq("v"), "left")
      .crossJoin(broadcast(total)) // total carries BOTH n and vsz
      .groupBy(col("doc_id"))
      .agg(sum(col("tf2")).as("n_bigrams"),
        sum((col("tf2").cast(DoubleType) * -log(pBig + pUni))
          .cast(DecimalType(28, 9))).as("nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("nll").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType), 6).as("mean_nll"))
  }

  /** Score an arbitrary (doc_id, text) batch against the frozen bigram
    * artifact with the smoothed core — shared by the
    * `tx_bigram_ppl_smoothed` batch entry and the streaming gate
    * (DocStream.bigramPplGate). `at` is [[bigramLmAt]]'s pair: bigram
    * counts and the frozen (N, V) from the child's `lm2` and one-row
    * `total`, so no call re-aggregates a member to recompute a constant,
    * and unigram counts from the parent's `lm`. */
  private[graft] def bigramServeSmoothedAt(s: SparkSession,
      at: (String, String), docs: org.apache.spark.sql.DataFrame,
      prefilter: Boolean = true): org.apache.spark.sql.DataFrame =
    bigramScoreSmoothed(bigramTf(docs),
      member(s, at._1, "lm2"), member(s, at._2, "lm"),
      member(s, at._1, "total"), prefilter)

  /** Build constants of [[ensureBigramLmIndex]]: its parent's (so their
    * change makes it stale), members=v3 for the `lm2` + `total` layout. */
  private[graft] val BigramLmIndexParams =
    s"$LmIndexParams,lambda=$BigramLambda,members=v3"

  /** Persisted corpus bigram LM, a child of [[ensureLmIndex]]: (u, v, c2)
    * counts plus a one-row (n, vsz) total of the parent's `lm` member.
    * Scoring reads these and the parent's counts, never the corpus. */
  private[graft] def ensureBigramLmIndex(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensure(s, d, "bigram_lm",
      Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id",
      BigramLmIndexParams) { p =>
      docBigrams(Tables.documents(s, d)).groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("c2"))
        .write.mode("overwrite").parquet(s"$p/lm2")
      // NOT "v": the bigram frame has a `v` (second token) column
      member(s, ensureLmIndex(s, d), "lm")
        .agg(sum(col("c")).as("n"), count(lit(1)).as("vsz")).coalesce(1)
        .write.mode("overwrite").parquet(s"$p/total")
    }

  /** (bigram LM, unigram LM) artifact paths through the child's gate: a
    * fresh child was built after its parent passed the same corpus stamp. */
  private[graft] def bigramLmAt(s: SparkSession, d: String): (String, String) =
    (ensureBigramLmIndex(s, d), graft.sim.IndexStore.path(d, "unigram_lm"))

  /** Persisted corpus unigram LM: the (token, count) member plus the
    * one-row total — the text-side build-once/serve-many artifact (the
    * ANN IndexStore posture applied to LM quality scoring): built once at
    * ingest, every scoring job and the streaming ppl gate read only the
    * members, never re-counting the corpus. */
  private[graft] def ensureLmIndex(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensure(s, d, "unigram_lm",
      Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id",
      LmIndexParams) { p =>
      val lm = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("tk"))
        .groupBy(col("tk")).agg(count(lit(1)).as("c"))
      lm.write.mode("overwrite").parquet(s"$p/lm")
      lm.agg(sum(col("c")).as("n")).coalesce(1)
        .write.mode("overwrite").parquet(s"$p/total")
    }

  /** Score an arbitrary (doc_id, text) frame against `dir`'s persisted LM
    * artifact — the MLE serving core. Its suite row retired in the r14
    * audit (tx_unigram_ppl pins the MLE arithmetic, tx_unigram_ppl_smoothed
    * full-oracle-verifies the same artifact's content); PlanSpec still pins
    * the serving plan ("reads the artifact, never re-counts the corpus")
    * and the inline-equality via a direct call here. */
  private[graft] def pplServe(s: SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = ensureLmIndex(s, d)
    pplScore(docTf(docs), member(s, p, "lm"),
      member(s, p, "total"))
  }

  /** Smoothed artifact-served scoring — the streaming ppl gate's core
    * (DocStream.pplGate): batches arriving AFTER the LM freeze carry
    * vocabulary the LM has never seen, so the exact-match core would drop
    * all-unseen documents and undercount partially-unseen ones. The vocab
    * size V is one count over the LM member (vocab-sized, not
    * corpus-sized). The batch twin is `tx_unigram_ppl_smoothed`. */
  private[graft] def pplServeSmoothed(s: SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pplServeSmoothedAt(s, ensureLmIndex(s, d), docs)

  /** Path-resolved smoothed serving — the streaming gate's per-batch
    * half: the artifact is already ensured (one corpus fingerprint at
    * stream/job start), so a batch pays ONLY its own token counts plus
    * the member joins. */
  private[graft] def pplServeSmoothedAt(s: SparkSession, p: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val lm = member(s, p, "lm")
    pplScoreSmoothed(docTf(docs), lm, member(s, p, "total"),
      lm.agg(count(lit(1)).as("v")))
  }

  /** Overflow-safe cast for the L1 cross-multiplication members: two
    * DECIMAL(38,0) longs multiply into DECIMAL(38,0) (max long² ≈ 8.5e37
    * < 10³⁸, so the product is always exact), the engine's own `dimStats`
    * exact-decimal discipline. The ppm step bounds the whole chain:
    * num·10⁶ ≤ 2·N·Ns·10⁶ must stay under 10³⁸, i.e. exact up to
    * ~7·10¹⁵-token corpora — petatoken scale, vs the ~2·10⁶-token wrap
    * the all-BIGINT form silently hit with ANSI off (the DuckDB mirror
    * uses HUGEINT, bound 1.7e38). Pinned against a BigInt reference past
    * the long boundary in OperatorInvariantsSpec. */
  private def big(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(38, 0))

  /** L1 unigram drift of an arbitrary (text) frame against `dir`'s
    * persisted LM artifact — the `tx_source_drift` arithmetic (exact
    * DECIMAL(38,0) cross-multiplication, ppm by integer division)
    * generalized for post-freeze vocabulary: the LM side joins LEFT with
    * `coalesce(c, 0)`, so batch tokens the frozen LM has never seen
    * contribute their full |cs·N − 0| mass — an all-unseen batch (the
    * encoding-break / language-shift alert case) yields the full-drift
    * row l1_ppm = 2,000,000 instead of silently vanishing (spec-pinned).
    * One row (n_tokens, l1_ppm); empty frames yield no row (the L1 of an
    * empty distribution is undefined, not zero). Serving core of the
    * streaming drift gate (DocStream.driftGate). */
  private[graft] def driftServe(s: SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    driftServeAt(s, ensureLmIndex(s, d), docs)

  /** Path-resolved drift serving (see [[pplServeSmoothedAt]]). */
  private[graft] def driftServeAt(s: SparkSession, p: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val lm = member(s, p, "lm")
    val total = member(s, p, "total")
    val bt = docs.select(explode(tokens(col("text"))).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("cs"))
    val ns = bt.agg(sum(col("cs")).as("ns"))
    val cEff = coalesce(col("c"), lit(0L))
    bt.join(lm, Seq("tk"), "left")
      .crossJoin(broadcast(ns)).crossJoin(broadcast(total))
      .groupBy(col("ns"), col("n"))
      .agg(sum(abs(big(col("cs")) * big(col("n")) - big(cEff) * big(col("ns"))))
          .as("num_present"),
        sum(cEff).as("c_present"))
      // tokens ABSENT from the batch contribute their full c·Ns mass via
      // the complement term (N − Σ_present c)·Ns; batch tokens absent from
      // the LM are already inside num_present as cs·N (coalesced c = 0)
      .withColumn("num",
        col("num_present") + (big(col("n")) - big(col("c_present"))) * big(col("ns")))
      .filter(col("ns") > 0)
      .withColumn("den", big(col("n")) * big(col("ns")))
      .select(col("ns").as("n_tokens"),
        expr("(num * 1000000L) div den").as("l1_ppm"))
  }

  /** Number of BPE merge operations `tx_bpe_merges` induces. */
  private[graft] val BpeMerges = 6

  /** Symbol separator of the BPE working representation — a control
    * character no sane corpus token contains (defined constraint,
    * shared with the oracle's chr(1)). */
  private[graft] val BpeSep = "\u0001"

  /** Tokenizer vocabulary induction: the first `k` byte-pair-encoding
    * merges over `docs`' whitespace-token stream (Sennrich et al. 2016)
    * — the step that turns a cleaned corpus into a tokenizer. Exact
    * deterministic semantics, mirrored stage-for-stage in the oracle:
    * symbols start as characters; each round counts ADJACENT symbol
    * pairs weighted by word frequency (overlapping positions each
    * count, the canonical tally), picks the max-count pair with a
    * lexicographic (lhs, rhs) tie-break, and rewrites every word by the
    * canonical greedy left-to-right non-overlapping merge — expressed
    * as a fold (`aggregate`) whose "merge here" test is anchored on the
    * separator, so a symbol just produced by this round's merge can
    * never be the left half of another merge at the same site.
    *
    * Scale shape: one corpus scan builds the (word, freq) table — BPE
    * state is VOCAB-sized from then on, never corpus-sized — and each
    * round is one explode + combinable pair-count aggregate + a 1-row
    * top-1 over the vocab frame. Rounds are data-dependent (round k's
    * pairs exist only after k−1's rewrite), so the k-round chain is
    * inherently sequential — the same unrolled-iteration discipline as
    * the tuned-IVF Lloyd training, with `localCheckpoint` truncating
    * the per-round lineage. The driver sees k one-row winners (grid
    * metadata, like m4's fold scores), never data. */
  /** The canonical greedy left-to-right merge of pair (l, r) over a
    * [[BpeSep]]-joined symbol string, as a fold: append r WITHOUT a
    * separator when the accumulated tail symbol is exactly l (the
    * separator anchor makes "exactly" precise — a longer symbol merely
    * ENDING in l's characters never matches). ONE definition shared by
    * induction ([[bpeMerges]]) and application ([[bpeEncodeWith]]) — the
    * oracle-parity and artifact-twin contracts both rest on the two
    * staying semantically identical. */
  private def greedyMergeFold(rep: org.apache.spark.sql.Column,
      l: String, r: String): org.apache.spark.sql.Column =
    aggregate(split(rep, BpeSep), lit(""),
      (acc, x) => when(acc === "", x)
        .when(x === lit(r) &&
          (acc === lit(l) || acc.endsWith(lit(BpeSep + l))),
          concat(acc, x))
        .otherwise(concat(acc, lit(BpeSep), x)))

  /** Vocabulary-size ceiling under which the merge loop runs DRIVER-LOCAL
    * after the one corpus scan. BPE state is vocab-sized (word types ×
    * short symbol strings) the moment the (f, rep) table exists; at 10⁶
    * types it is tens of MB — driver metadata, like m4's grid scores.
    * Below the ceiling a K-round induction is a driver loop over that
    * table (seconds for K in the hundreds — measured in BpeSpec's note)
    * instead of 2 sequential Spark jobs per round (~100k job round-trips
    * for a production K≈50k tokenizer — driver-orchestration cost, not
    * data cost). Above it, the per-round Spark path below remains the
    * shape: its pair-count aggregate and top-1 are distributed and
    * combinable. */
  private[graft] val BpeDriverMaxVocab = 1000000L

  /** Unsigned UTF-8 byte order — Spark's UTF8String (and DuckDB's
    * VARCHAR) comparison, which the driver-local tie-break must mirror
    * bit-for-bit; JVM String.compareTo is UTF-16 code-unit order and
    * diverges on supplementary characters. UTF-8 byte order equals
    * Unicode code-point order, so this IS the engine's existing
    * cross-engine collation ([[graft.plans.PyJson.codePointOrdering]])
    * — one definition, not a second one that could drift. */
  private def utf8Less(a: String, b: String): Boolean =
    graft.plans.PyJson.codePointOrdering.lt(a, b)

  /** Driver-local K-round merge loop over a collected (f, symbols)
    * vocabulary — semantics identical to the per-round Spark path
    * (overlapping adjacent-pair tally weighted by word frequency,
    * max-count winner with unsigned-UTF8 (lhs, rhs) tie-break, canonical
    * greedy left-to-right non-overlapping rewrite), property-pinned
    * against the Spark path in BpeSpec and against the DuckDB round
    * replay by the `tx_bpe_merges` oracle. Incremental bookkeeping (the
    * strategy of Sennrich et al. 2016's published implementation): a
    * pair→count table plus a pair→words inverted index, so each round
    * rewrites ONLY the words containing the winning pair and adjusts the
    * tally by their delta — rounds after the first touch a shrinking
    * fraction of the vocabulary. */
  private def bpeMergeLoopLocal(vocab: Array[(Long, Array[String])],
      k: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val pairCnt = mutable.HashMap[(String, String), Long]()
    val pairWords = mutable.HashMap[(String, String), mutable.Set[Int]]()
    def tally(wi: Int, syms: Array[String], f: Long, sign: Long): Unit = {
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val c = pairCnt.getOrElse(p, 0L) + sign * f
        if (c == 0L) { pairCnt.remove(p); pairWords.remove(p) }
        else {
          pairCnt(p) = c
          if (sign > 0L) pairWords.getOrElseUpdate(p, mutable.Set[Int]()) += wi
        }
        i += 1
      }
    }
    val reps = vocab.map(_._2)
    val freqs = vocab.map(_._1)
    var wi = 0
    while (wi < reps.length) { tally(wi, reps(wi), freqs(wi), 1L); wi += 1 }
    val merges = mutable.ArrayBuffer[(Long, String, String, Long)]()
    var round = 1
    while (round <= k && pairCnt.nonEmpty) {
      var bl: String = null; var br: String = null; var bc = Long.MinValue
      pairCnt.foreach { case ((l, r), c) =>
        if (c > bc || (c == bc && (utf8Less(l, bl) ||
            (l == bl && utf8Less(r, br))))) { bl = l; br = r; bc = c }
      }
      merges += ((round.toLong, bl, br, bc))
      // snapshot: the tally mutates the inverted index as it goes. The
      // index may hold words that no longer contain the pair (their
      // occurrences merged away in an earlier round while OTHER words
      // kept the count alive) — remove-then-re-add below is a no-op
      // rewrite for those, so staleness costs a scan, never correctness.
      val affected = pairWords.get((bl, br))
        .map(_.toArray).getOrElse(Array.empty[Int])
      java.util.Arrays.sort(affected)
      affected.foreach { w =>
        val old = reps(w)
        tally(w, old, freqs(w), -1L)
        val out = mutable.ArrayBuffer[String]()
        old.foreach { x =>
          if (out.nonEmpty && out.last == bl && x == br)
            out(out.length - 1) = bl + br
          else out += x
        }
        reps(w) = out.toArray
        tally(w, reps(w), freqs(w), 1L)
      }
      round += 1
    }
    merges.toSeq
  }

  private[graft] def bpeMerges(docs: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    bpeMerges(docs, k, BpeDriverMaxVocab)

  /** `driverMaxVocab` is a test seam: 0 forces the distributed per-round
    * path regardless of vocabulary size (BpeSpec pins the two paths
    * identical on the same corpus). */
  private[graft] def bpeMerges(docs: org.apache.spark.sql.DataFrame,
      k: Int, driverMaxVocab: Long): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    var cur = docs
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("f"), expr(
        "concat_ws('\u0001', transform(sequence(1, length(w)), " +
          "i -> substring(w, i, 1)))").as("rep"))
      .transform(df => Checkpointed("TextPack.bpe.init", df))
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    if (cur.count() <= driverMaxVocab) {
      // vocab fits in driver metadata: one collect, then the whole
      // K-round loop runs local — zero per-round Spark jobs
      val vocab = cur.select(col("f"), split(col("rep"), BpeSep).as("sy"))
        .as[(Long, Array[String])].collect()
      cur.unpersist()
      merges ++= bpeMergeLoopLocal(vocab, k)
    } else {
      var round = 1
      while (round <= k) {
        val best = cur
          .select(col("f"), split(col("rep"), BpeSep).as("sy"))
          .select(col("f"), explode(when(size(col("sy")) >= 2, expr(
            "transform(sequence(1, size(sy) - 1), " +
              "i -> struct(element_at(sy, i) AS lhs, element_at(sy, i + 1) AS rhs))"))
            .otherwise(expr(
              "CAST(array() AS array<struct<lhs:string,rhs:string>>)")))
            .as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("f")).as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1)
          .collect()
        if (best.isEmpty) round = k + 1
        else {
          val (l, r, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((round.toLong, l, r, cnt))
          val next = cur
            .select(col("f"), greedyMergeFold(col("rep"), l, r).as("rep"))
            .transform(df => Checkpointed("TextPack.bpe.round", df))
          cur.unpersist() // superseded round state — free it now
          cur = next
          round += 1
        }
      }
      cur.unpersist() // merges are driver metadata; the rep frame is done
    }
    merges.toSeq.toDF("merge_idx", "lhs", "rhs", "cnt")
      .orderBy("merge_idx")
  }

  /** DuckDB CTE chain replaying the [[bpeMerges]] rounds: `w0..wK`
    * carry (w, f, rep) — the word string rides along so consumers can
    * join the fully-merged vocabulary `wK` back to a token stream —
    * and `b1..bK` are the per-round 1-row winners. chr(1) mirrors the
    * engine's \u0001 separator; `list_reduce` is the engine's
    * `aggregate` fold with ends_with anchoring the "tail symbol is
    * exactly lhs" test identically. Rounds join `bN` via LEFT JOIN ON
    * TRUE: a vocabulary that fully merges before round K leaves later
    * `bN` empty, and the null-guard passes reps through unchanged —
    * matching the engine's early exit — instead of a comma cross join
    * annihilating the vocabulary (and with it every tx_bpe_encode
    * row). */
  private def bpeRoundCtes: String = {
    val rounds = (1 to BpeMerges).map { n =>
      s"""p$n AS (SELECT s[i] AS lhs, s[i+1] AS rhs, f
         |  FROM (SELECT f, str_split(rep, chr(1)) AS s FROM w${n - 1}) t,
         |  unnest(generate_series(1, len(s) - 1)) AS u(i)),
         |b$n AS (SELECT lhs, rhs, CAST(SUM(f) AS BIGINT) AS cnt FROM p$n
         |  GROUP BY 1, 2 ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |w$n AS (SELECT w, f, CASE WHEN b.lhs IS NULL THEN rep
         |  ELSE list_reduce(str_split(rep, chr(1)),
         |    (acc, x) -> CASE WHEN x = b.rhs AND (acc = b.lhs
         |        OR ends_with(acc, chr(1) || b.lhs)) THEN acc || x
         |      ELSE acc || chr(1) || x END) END AS rep
         |  FROM w${n - 1} LEFT JOIN b$n b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM
       |  (SELECT unnest($toksSql) AS w FROM documents) t GROUP BY w),
       |w0 AS (SELECT w, f, array_to_string(list_transform(
       |    generate_series(1, length(w)), i -> substring(w, i, 1)), chr(1))
       |    AS rep FROM wf),
       |$rounds""".stripMargin
  }

  /** Build constants of [[ensureBpeIndex]]. */
  private[graft] val BpeIndexParams =
    s"merges=$BpeMerges,tokenizer=ws_v1,sep=u0001"

  /** Persisted trained tokenizer: the [[bpeMerges]] winner table as a
    * build-once IndexStore artifact — induction is the expensive
    * sequential half (K corpus-vocab rounds), application is a pure
    * per-word fold any job or stream can serve from the K-row member. */
  private[graft] def ensureBpeIndex(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensure(s, d, "bpe_merges",
      Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id",
      BpeIndexParams) { p =>
      bpeMerges(Tables.documents(s, d), BpeMerges)
        .coalesce(1).write.mode("overwrite").parquet(s"$p/merges")
    }

  /** Tokenize arbitrary documents with an ordered merge list: per-doc
    * whitespace-token count and REAL BPE token count under the trained
    * tokenizer (replacing the `est_bpe_tokens` length heuristic where
    * the real number matters — packing budgets, billing, curricula).
    * Unseen words need no OOV path: they enter as characters and any
    * learned pair inside them still merges — the defining BPE property.
    * Plan shape: the fold chain runs once per DISTINCT batch word
    * (vocab-sized), then one join back to the token stream and a per-doc
    * combinable aggregate. */
  private[graft] def bpeEncodeWith(docs: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val words0 = docs.select(explode(tokens(col("text"))).as("w")).distinct()
      .withColumn("rep", expr(
        "concat_ws('\u0001', transform(sequence(1, length(w)), " +
          "i -> substring(w, i, 1)))"))
    val folded = merges.foldLeft(words0) { case (df, (l, r)) =>
      df.withColumn("rep", greedyMergeFold(col("rep"), l, r))
    }
    val wtok = folded.select(col("w"),
      size(split(col("rep"), BpeSep)).cast(LongType).as("n_sym"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(wtok, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("n_sym")).as("n_bpe_tokens"))
  }

  /** Serve BPE tokenization from `dir`'s persisted merge artifact — the
    * core of `tx_bpe_encode` and the streaming token-count gate
    * (DocStream.bpeCountGate). The K-row merge table is driver-side
    * metadata by construction (K literals parameterize the fold), the
    * same posture as m4's winner scalars. */
  private[graft] def bpeEncodeServe(s: SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bpeEncodeWith(docs, bpeMergesAt(s, ensureBpeIndex(s, d)))

  /** The K-row merge list off an already-ensured artifact — resolve it
    * once per stream/job, then [[bpeEncodeWith]] each batch against the
    * literal list (see [[pplServeSmoothedAt]] for the posture). */
  private[graft] def bpeMergesAt(s: SparkSession,
      p: String): Seq[(String, String)] =
    member(s, p, "merges")
      .orderBy("merge_idx").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq

  /** Keywords kept per document by the BM25-idf extractor. */
  private[graft] val Bm25TopK = 3L

  /** Shared BM25-idf ranking core over a prebuilt (doc_id, tk, tf) frame
    * and (tk, df) / one-row (nd) statistics — the inline entry derives
    * df/nd from the corpus, the `_indexed` twin reads them from the
    * artifact; sharing the arithmetic (idf formula, 1e-6 rounding, the
    * string tiebreak) is what makes the twins row-identical by
    * construction. df joins on doc-DISTINCT tokens (vocab-sized frame);
    * the one window per doc is the only non-combinable step. */
  private[graft] def bm25RankFromTf(tf: org.apache.spark.sql.DataFrame,
      df: org.apache.spark.sql.DataFrame,
      nd: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val idf = log(lit(1.0) +
      (col("nd").cast(DoubleType) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val scored = tf.join(df, Seq("tk")).crossJoin(broadcast(nd))
      .select(col("doc_id"), col("tk").as("token"),
        round(col("tf").cast(DoubleType) * idf, 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= Bm25TopK)
      .select(col("doc_id"), col("rank"), col("token"), col("score"))
  }

  /** Build constants of [[ensureBm25Index]]. */
  private[graft] val Bm25IndexParams =
    s"tokenizer=ws_v1,topk=$Bm25TopK,members=v1"

  /** Persisted corpus BM25 statistics: the (tk, df) document-frequency
    * member plus the one-row document count — the LM IndexStore posture
    * applied to the keyword extractor. */
  private[graft] def ensureBm25Index(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensure(s, d, "bm25_stats",
      Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id",
      Bm25IndexParams) { p =>
      docTf(Tables.documents(s, d))
        .groupBy(col("tk")).agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$p/df")
      Tables.documents(s, d).agg(count(lit(1)).as("nd")).coalesce(1)
        .write.mode("overwrite").parquet(s"$p/nd")
    }

  /** Rank an arbitrary (doc_id, text) batch's tokens against the frozen
    * df/N artifact — exact-match core (a post-freeze token absent from
    * the frozen df drops from the ranking, the unigram exact core's
    * semantics; a smoothed treatment would LEFT-join with df coalesced
    * to 0, where the BM25+ idf stays defined and maximal). */
  private[graft] def bm25Serve(s: SparkSession, d: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bm25ServeAt(s, ensureBm25Index(s, d), docs)

  /** Path-resolved BM25 serving — the streaming gate's per-batch half
    * (DocStream.bm25Gate): the artifact is already ensured (one corpus
    * fingerprint at stream start), so a batch pays ONLY its own token
    * counts plus the vocab-sized df join. */
  private[graft] def bm25ServeAt(s: SparkSession, p: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bm25RankFromTf(docTf(docs), member(s, p, "df"),
      member(s, p, "nd"))

  /** Boilerplate df floor denominator: a shingle is boilerplate within its
    * source when `BoilerDfDen · df >= n_docs(source)` (≥ 10% of the
    * source's documents carry it). */
  private[graft] val BoilerDfDen = 10L

  /** Context-window chunking: tokens per training chunk. */
  private[graft] val ChunkLen = 64

  /** Chunk stride (ChunkLen − stride = 16 tokens of overlap). */
  private[graft] val ChunkStride = 48

  /** PMI collocations: minimum bigram count — PMI is dominated by hapax
    * noise without a support floor (a pair seen once between two rare
    * tokens maxes the score); 5 is the classic Church & Hanks cutoff. */
  private[graft] val PmiMinPair = 5L

  /** PMI collocations: result size. */
  private[graft] val PmiTopK = 30

  /** Arithmetic core of `tx_source_drift` over a pre-aggregated
    * (source, tk, cs) token-count frame: per-source L1 distance to the
    * corpus mixture, Σ_t |c_s(t)·N − c(t)·N_s| over the common denominator
    * N_s·N, scaled to exact-integer parts-per-million. All
    * cross-multiplications and their sum run in DECIMAL(38,0) (see [[big]]
    * — the all-BIGINT form silently wrapped past N·Ns ≈ 4.6e12 with ANSI
    * off, i.e. at ~2M-token corpora; the decimal form is exact to
    * petatoken scale and mirrored by HUGEINT in the oracle). Tokens ABSENT
    * from a source still contribute c·Ns — added via the complement term
    * Σ_{t∉s} c(t)·Ns = (N − Σ_{t∈s} c(t))·Ns. Factored out so the
    * overflow spec can drive it with synthetic counts past the long
    * boundary (real corpora that size don't fit a test). */
  private[graft] def sourceDriftFromCounts(
      st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val corpus = st.groupBy(col("tk")).agg(sum(col("cs")).as("c"))
    val totals = st.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val n = corpus.agg(sum(col("c")).as("n"))
    val present = st.join(corpus, Seq("tk"))
      .join(broadcast(totals), Seq("source")).crossJoin(broadcast(n))
      .groupBy(col("source"), col("ns"), col("n"))
      .agg(sum(abs(big(col("cs")) * big(col("n")) - big(col("c")) * big(col("ns"))))
          .as("num_present"),
        sum(col("c")).as("c_present"))
    present
      .withColumn("num",
        col("num_present") + (big(col("n")) - big(col("c_present"))) * big(col("ns")))
      .withColumn("den", big(col("n")) * big(col("ns")))
      // exact integer division (`div` = IntegralDivide, defined on
      // decimals, result BIGINT; mirrored by DuckDB HUGEINT `//`)
      .select(col("source"), col("ns").as("n_tokens"),
        expr("(num * 1000000L) div den").as("l1_ppm"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- token counting (whitespace + distinct + BPE estimate) -----------
    "tx_token_stats" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          tokenCount(t).as("n_tokens"),
          distinctTokenCount(t).as("n_distinct"),
          bpeTokenEstimate(t).as("est_bpe_tokens"),
          length(t).cast(LongType).as("n_chars_actual"))
        .orderBy("doc_id")
    }),

    // ---- quality scoring (length / stopword / token-shape ratios) --------
    "tx_quality_score" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          tokenCount(t).as("n_tokens"),
          wordSetCount(t, EnglishStopwords).as("n_stop"),
          stopwordRatio(t).as("stop_ratio"),
          meanTokenLength(t).as("mean_tok_len"))
        .orderBy("doc_id")
    }),

    // ---- language-ID heuristic ------------------------------------------
    "tx_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), langGuess(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // ---- document fingerprint (min-MD5 over 8-char shingles) -------------
    "tx_fingerprint" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), shingleFingerprint(col("text"), 8).as("fp"))
        .orderBy("doc_id")
    }),

    // ---- repetition quality signals (Gopher-style repeated-content
    //      filters: top-token mass + duplicate-bigram fraction; repetitive
    //      boilerplate is the highest-volume junk class at web scale) ------
    // Top-token frequency needs a per-(doc, token) count — an explode +
    // two-level combinable aggregate (shuffle keys are (doc_id, token):
    // high cardinality, no skew). Bigram distinctness stays a pure array
    // expression — no second explode, no shuffle.
    "tx_repetition" -> ((s, d) => {
      import graft.functions.HashFunctions.bindArray
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tk"))
        .groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("max_tf"), sum(col("c")).as("n"))
      val bg = docs.select(col("doc_id"),
        bindArray(tokens(col("text")), t =>
          struct(
            size(t).as("nt"),
            when(size(t) >= 2,
              size(array_distinct(transform(sequence(lit(1), size(t) - 1),
                i => concat(element_at(t, i), lit(" "),
                  element_at(t, i + 1))))))
              .otherwise(lit(0)).as("nbgd"))).as("b"))
        .select(col("doc_id"), col("b.nt").as("nt"), col("b.nbgd").as("nbgd"))
      // left join from bg (one row per doc): a zero-token doc has no tf row
      bg.join(tf, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_tokens"),
          when(col("n").isNull, lit(0.0))
            .otherwise(col("max_tf").cast(DoubleType) / col("n"))
            .as("top_token_ratio"),
          when(col("nt") >= 2,
            lit(1.0) - col("nbgd").cast(DoubleType) / (col("nt") - 1))
            .otherwise(lit(0.0)).as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // ---- PII scrubbing (emails / phone numbers / IPv4) — the standard
    //      pre-training redaction pass. The document text is synthetic, so
    //      deterministic PII is injected per row first (derived from
    //      doc_id) — every row then exercises a real match+replace, not a
    //      0-match no-op. Each pattern is counted on the text the previous
    //      replacement produced, mirroring the sequential scrub. Patterns
    //      are restricted to the Java-regex ∩ RE2 common dialect (no
    //      backrefs, no lookaround, ASCII \d) so the DuckDB oracle runs
    //      the very same strings. Pure per-row codegen'd expression work:
    //      no shuffle, scales linearly with executors. ---------------------
    "tx_pii_scrub" -> ((s, d) => {
      val id = col("doc_id")
      val t0 = concat(col("text"),
        lit(" contact user"), id.cast(StringType), lit("@example.com tel "),
        (id % 900 + 100).cast(StringType), lit("-"),
        (id % 9000 + 1000).cast(StringType),
        lit(" from 10."), (id % 200).cast(StringType), lit(".0."),
        (id % 250).cast(StringType))
      val t1 = regexp_replace(t0, PiiEmail, "<EMAIL>")
      val t2 = regexp_replace(t1, PiiPhone, "<PHONE>")
      val t3 = regexp_replace(t2, PiiIpv4, "<IP>")
      Tables.documents(s, d).select(
        col("doc_id"),
        regexp_count(t0, lit(PiiEmail)).cast(LongType).as("n_emails"),
        regexp_count(t1, lit(PiiPhone)).cast(LongType).as("n_phones"),
        regexp_count(t2, lit(PiiIpv4)).cast(LongType).as("n_ips"),
        t3.as("scrubbed"))
        .orderBy("doc_id")
    }),

    // ---- corpus-wide top-K n-grams — vocabulary/boilerplate profiling
    //      over the whole corpus. One explode + one hash aggregate keyed
    //      on the bigram (high cardinality, partial map-side combine does
    //      the heavy lifting), then a global top-K that Spark executes as
    //      TakeOrderedAndProject — per-partition top-20 on the map side,
    //      only 20 rows per partition reach the driver-side merge. --------
    "tx_ngram_topk" -> ((s, d) => {
      import graft.functions.HashFunctions.bindArray
      Tables.documents(s, d)
        .select(explode(bindArray(tokens(col("text")), t =>
          when(size(t) >= 2,
            transform(sequence(lit(1), size(t) - 1),
              i => concat(element_at(t, i), lit(" "),
                element_at(t, i + 1))))
            .otherwise(array().cast(ArrayType(StringType))))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bigram")).limit(20)
    }),

    // ---- PMI collocations — the word2vec-era association score
    //      (Church & Hanks 1990), ranked WITHOUT a float log: exp(PMI) is
    //      monotone in PMI, so ranking by the exact-integer lift
    //      c_xy·N_uni² / (N_bg·c_x·c_y) in parts-per-million (DECIMAL(38,0)
    //      products, integer div — HUGEINT mirror in the oracle) gives the
    //      PMI order bit-reproducibly on both engines. Scale shape: the two
    //      corpus passes (unigram + bigram rollups, both map-side
    //      combinable) do the heavy lifting; the support floor prunes the
    //      bigram frame BEFORE its two vocab-keyed joins (at 100 TB the
    //      vocabulary is not broadcastable — these are shuffle joins on the
    //      token, and the floor keeps the left side collocation-sized); the
    //      totals ride in as broadcast 1-row frames and the final top-K is
    //      a TakeOrderedAndProject, never a global sort. N_bg sums over ALL
    //      bigrams (pre-floor) — the floor prunes candidates, it must not
    //      reweight the distribution. ------------------------------------
    "tx_pmi_pairs" -> ((s, d) => {
      import graft.functions.HashFunctions.bindArray
      val docs = Tables.documents(s, d)
      val uni = docs.select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val bgAll = docs
        .select(explode(bindArray(tokens(col("text")), t =>
          when(size(t) >= 2,
            transform(sequence(lit(1), size(t) - 1),
              i => concat(element_at(t, i), lit(" "),
                element_at(t, i + 1))))
            .otherwise(array().cast(ArrayType(StringType))))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
      val nUni = uni.agg(sum(col("c")).as("n_uni"))
      val nBg = bgAll.agg(sum(col("c_xy")).as("n_bg"))
      // tokens are whitespace-split, so the single-space join in the bigram
      // key is unambiguous — splitting it back is lossless
      val bg = bgAll.filter(col("c_xy") >= PmiMinPair)
        .withColumn("x", element_at(split(col("bigram"), " "), 1))
        .withColumn("y", element_at(split(col("bigram"), " "), 2))
      bg.join(uni.select(col("tok").as("x"), col("c").as("c_x")), Seq("x"))
        .join(uni.select(col("tok").as("y"), col("c").as("c_y")), Seq("y"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBg))
        .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
          expr("(CAST(c_xy AS DECIMAL(38,0)) * n_uni * n_uni * 1000000L)" +
            " div (CAST(n_bg AS DECIMAL(38,0)) * c_x * c_y)").as("lift_ppm"))
        .orderBy(desc("lift_ppm"), asc("x"), asc("y")).limit(PmiTopK)
    }),

    // ---- context-window chunking — split each document into overlapping
    //      fixed-token windows (start every ChunkStride tokens, ChunkLen
    //      tokens per chunk, last chunk ragged), the step that turns a
    //      cleaned corpus into model-ready training rows. Pure per-row
    //      Generate work: tokens are split ONCE per row (bindArray
    //      let-binding — CollapseProject would otherwise re-run the regex
    //      split per chunk reference), chunks explode in the same stage, no
    //      shuffle until the final presentation sort. Empty docs vanish via
    //      explode's null-skip rather than a second tokens() pass in a
    //      filter. ----------------------------------------------------------
    "tx_chunk_windows" -> ((s, d) => {
      import graft.functions.HashFunctions.bindArray
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(bindArray(tokens(col("text")), t => {
            val n1 = size(t) - 1
            val lastIdx = ((n1 - pmod(n1, lit(ChunkStride))) / ChunkStride)
              .cast("long")
            when(size(t) >= 1,
              transform(sequence(lit(0L), lastIdx), i =>
                struct(i.as("chunk_idx"),
                  slice(t, (i * ChunkStride + 1).cast("int"), lit(ChunkLen))
                    .as("toks"))))
          })).as("c"))
        .select(col("doc_id"), col("c.chunk_idx"),
          size(col("c.toks")).cast(LongType).as("n_chunk_toks"),
          array_join(col("c.toks"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- confusion matrix actual-vs-predicted (reference A8:
    //      dataset_eval/gaia_wrapper.py:80-119) ---------------------------
    "a8_confusion_matrix" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), langGuess(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    }),

    // ---- unigram-LM perplexity scoring (CCNet-style quality buckets) -----
    // The language-model quality filter: score each document by its mean
    // token surprisal under the corpus's own unigram LM (−ln c(t)/N), and
    // bucket into head/middle/tail (CCNet's split) on the ROUNDED score so
    // both engines threshold the identical value. Plan shape: one corpus
    // aggregate builds the (token, count) LM; per-doc (doc, token, tf)
    // rows — already a combinable aggregate — join the LM on token and
    // reduce per doc. The join keys on (doc-distinct) tokens, not token
    // OCCURRENCES, so hot tokens cost one row per document, not per
    // occurrence; at deployment scale the LM frame is vocab-sized
    // (broadcastable for real vocabularies, sharded join otherwise). -------
    "tx_unigram_ppl" -> ((s, d) =>
      lmScoreInline(Tables.documents(s, d)).orderBy("doc_id")),

    // ---- interpolated bigram-LM scoring (the CCNet-style quality score
    //      one order up) -------------------------------------------------
    // Jelinek–Mercer interpolation: p(v|u) = λ·c₂(u,v)/c₁(u) +
    // (1−λ)·c₁(v)/N, λ = 3/4 — the standard fix for the bigram MLE's
    // zero-probability holes WITHOUT the count-dependent discounts
    // (Kneser-Ney) whose float accumulation can't be oracle-mirrored
    // bit-for-bit. Every per-position surprisal is quantized to the 1e-9
    // decimal grid BEFORE summation (the pplScore discipline), so the
    // score is bit-stable across partitionings and engines. Documents
    // under 2 tokens have no bigram and no row (defined semantics).
    // Scale shape: the bigram LM is a (u,v)-keyed count table —
    // combinable partial aggregation, shuffle keyed on the bigram; the
    // two probability joins key on (u,v) and u/v respectively, all
    // count-table-sized, corpus-scan-count fixed at 2. ------------------
    "tx_bigram_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val big = docBigrams(docs)
      val toks = docs.select(explode(tokens(col("text"))).as("tk"))
      bigramScore(bigramTf(docs),
        big.groupBy(col("u"), col("v")).agg(count(lit(1)).as("c2")),
        toks.groupBy(col("tk")).agg(count(lit(1)).as("c")),
        toks.agg(count(lit(1)).as("n")))
        .orderBy("doc_id")
    }),

    // ---- the same scoring served from the PERSISTED bigram-LM artifact --
    // The `_indexed` posture one order up: (u,v)/unigram/total count
    // members are a build-once IndexStore artifact; scoring touches ONLY
    // the scored documents plus the members — the corpus is never
    // re-counted per scoring job (plan-asserted). Rows identical to the
    // inline entry by construction (shared bigramScore core over the
    // same exact counts) — the row-identity oracle's contract. ----------
    "tx_bigram_ppl_indexed" -> ((s, d) => {
      val (p, lm) = bigramLmAt(s, d)
      bigramScore(bigramTf(Tables.documents(s, d)),
        member(s, p, "lm2"), member(s, lm, "lm"), member(s, p, "total"))
        .orderBy("doc_id")
    }),

    // ---- smoothed post-freeze bigram scoring (the streaming bigram
    //      gate's batch twin — see bigramScoreSmoothed) ------------------
    "tx_bigram_ppl_smoothed" -> ((s, d) =>
      bigramServeSmoothedAt(s, bigramLmAt(s, d),
        Tables.documents(s, d), prefilter = false).orderBy("doc_id")),

    // ---- add-one-smoothed scoring from the persisted LM ------------------
    // The POST-FREEZE serving semantics (and the streaming ppl gate's
    // batch twin — DocStream.pplGate runs this core verbatim): Laplace
    // p(t) = (c+1)/(N+V), LEFT-joined so documents whose vocabulary the
    // frozen LM has never seen still score (tail bucket) instead of
    // silently dropping, and n_tokens counts the BATCH's tokens, not the
    // LM-matched subset. On the corpus itself every token is present, so
    // this entry pins the smoothing arithmetic end to end in DuckDB. ------
    "tx_unigram_ppl_smoothed" -> ((s, d) =>
      pplServeSmoothed(s, d, Tables.documents(s, d)).orderBy("doc_id")),

    // ---- BPE merge induction (tokenizer vocabulary training) -------------
    // See [[bpeMerges]]: the first [[BpeMerges]] byte-pair-encoding merge
    // operations over the corpus token stream — max-count adjacent symbol
    // pair per round (lexicographic tie-break), canonical greedy rewrite,
    // all-integer counts. The oracle unrolls the identical rounds as a
    // CTE chain (the tuned-IVF Lloyd-unroll technique), with the greedy
    // rewrite as a list_reduce fold matching the engine's aggregate(). ----
    "tx_bpe_merges" -> ((s, d) =>
      bpeMerges(Tables.documents(s, d), BpeMerges)),

    // ---- trained-tokenizer application (real BPE token accounting) -------
    // Serves the persisted merge artifact over the corpus: per-document
    // whitespace and BPE token counts. The oracle replays the induction
    // chain and applies its fully-merged vocabulary — artifact and
    // replay coincide by determinism (the ivf-oracle pattern). ------------
    "tx_bpe_encode" -> ((s, d) =>
      bpeEncodeServe(s, d, Tables.documents(s, d)).orderBy("doc_id")),

    // ---- BM25-idf keyword extraction (top-K tokens per document) ---------
    // The per-document keyword surface (search indexing / tagging / topic
    // drift monitors all start here): rank each document's tokens by
    // tf·idf with the BM25+ idf (ln(1 + (N − df + ½)/(df + ½)), always
    // positive), keep the top [[Bm25TopK]]. The score is ROUNDED to 1e-6
    // before ranking and the token string breaks ties, so the order is
    // identical in both engines (two tokens with equal (tf, df) score
    // exactly equal and fall to the string tiebreak). Plan: two combinable
    // aggregates (per-doc tf, corpus df) + a join keyed on doc-DISTINCT
    // tokens, then one per-doc window — df rides a vocab-sized frame. ------
    "tx_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = docTf(docs)
      val df = tf.groupBy(col("tk"))
        .agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("nd"))
      bm25RankFromTf(tf, df, nd).orderBy("doc_id", "rank")
    }),

    // ---- artifact-served BM25 keyword extraction --------------------------
    // The build-once/serve-many twin of tx_bm25_topk (the LM `_indexed`
    // posture): df and N are CORPUS statistics — a serving job should
    // read them from the persisted artifact, not re-count the corpus per
    // batch. Shares [[bm25RankFromTf]] with the inline entry, so the rows
    // are identical by construction (the row-identity oracle checks that;
    // PlanSpec pins the artifact scan and the strictly-fewer corpus
    // scans). ---------------------------------------------------------------
    "tx_bm25_indexed" -> ((s, d) =>
      bm25Serve(s, d, Tables.documents(s, d)).orderBy("doc_id", "rank")),

    // ---- boilerplate detection (C4-style repeated-shingle scrub) ---------
    // Per-SOURCE frequent 3-gram shingles are boilerplate (headers,
    // footers, templates repeat within a crawl source, not across the
    // corpus): a shingle is boilerplate in its source when it appears in
    // ≥ 1/[[BoilerDfDen]] of that source's documents (exact integer
    // cross-multiplication), and each document reports what fraction of
    // its shingles that set covers — the score C4's boilerplate scrub
    // thresholds on. Plan: doc-distinct shingles → one (source, shingle)
    // combinable df aggregate; the qualifying set is tiny and BROADCASTS
    // back; per-source doc totals ride a #sources-row broadcast. -----------
    "tx_boilerplate" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      val docs = Tables.documents(s, d)
      val sh = docs.select(col("doc_id"), col("source"),
        explode(wordShingles(col("text"), 3)).as("g"))
      val df = sh.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("df"))
      val nd = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val boiler = df.join(broadcast(nd), Seq("source"))
        .filter(col("df") * BoilerDfDen >= col("n"))
        .select(col("source"), col("g"))
        .withColumn("inb", lit(1))
      sh.join(broadcast(boiler), Seq("source", "g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(col("inb")).as("n_boiler"))
        .withColumn("boiler_frac",
          round(col("n_boiler").cast(DoubleType) / col("n_shingles"), 8))
        .orderBy("doc_id")
    }),

    // ---- per-source curation dashboard (the dataset-card view) -----------
    // The cross-operator report a corpus build publishes per ingest
    // source: document count, quality-gate keep rate (exact integer
    // per-mille), and mean LM surprisal (decimal-exact average of the
    // already-1e-6-grid per-doc scores — rounded inputs make the decimal
    // sum exact, so the average is engine-identical). One gate pass + one
    // LM scoring pass, joined per doc on the bucketed id, one #sources
    // aggregate. ----------------------------------------------------------
    "tx_source_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gate = PipelinePack.qualityGate(docs)
        .select(col("doc_id"), col("reason"))
      val ppl = lmScoreInline(docs).select(col("doc_id"), col("mean_nll"))
      docs.select(col("doc_id"), col("source"))
        .join(gate, Seq("doc_id"))
        .join(ppl, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("reason") === "kept", 1)).as("n_kept"),
          count(col("mean_nll")).as("n_scored"),
          sum(col("mean_nll").cast(DecimalType(18, 6))).as("nllsum"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          expr("(n_kept * 1000L) div n_docs").as("kept_permille"),
          round(col("nllsum").cast(DoubleType) /
            col("n_scored").cast(DoubleType), 6).as("mean_nll_avg"))
        .orderBy("source")
    }),

    // ---- per-source unigram drift vs the corpus (mixture monitor) --------
    // The distribution-shift monitor a corpus build runs per ingest
    // source: L1 distance between each source's unigram distribution and
    // the whole corpus's, in EXACT integer arithmetic —
    // Σ_t |c_s(t)·N − c(t)·N_s| over the common denominator N_s·N, scaled
    // to parts-per-million via exact integer division. No floats anywhere,
    // so the oracle hash can never flake on summation order. Two
    // combinable aggregates + a join on (doc-distinct) tokens; the
    // per-source totals ride a 20-row broadcast. ---------------------------
    "tx_source_drift" -> ((s, d) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tk"))
        .groupBy(col("source"), col("tk")).agg(count(lit(1)).as("cs"))
      sourceDriftFromCounts(st).orderBy("source")
    })
  )

  val oracles: Map[String, String] = Map(
    "tx_token_stats" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS BIGINT) AS n_tokens,
         | CAST(len(list_distinct($toksSql)) AS BIGINT) AS n_distinct,
         | CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
         | CAST(length(text) AS BIGINT) AS n_chars_actual
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tx_quality_score" ->
      s"""SELECT doc_id,
         | CAST(len($toksSql) AS BIGINT) AS n_tokens,
         | ${countSql(EnglishStopwords)} AS n_stop,
         | CAST(${countSql(EnglishStopwords)} AS DOUBLE)
         |   / len($toksSql) AS stop_ratio,
         | CAST(length(regexp_replace(text, '[ \\t\\n\\x0b\\f\\r]+', '', 'g')) AS DOUBLE)
         |   / len($toksSql) AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tx_lang_id" ->
      s"""SELECT doc_id, lang, $langCaseSql AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin,

    "tx_fingerprint" ->
      """SELECT doc_id, min(md5(substring(text, i, 8))) AS fp
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
        |      FROM documents) shingles
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "tx_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |tf AS (SELECT doc_id, tk, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest(t) AS tk FROM toks) x
         |       GROUP BY doc_id, tk),
         |agg AS (SELECT doc_id, MAX(c) AS max_tf, SUM(c) AS n
         |        FROM tf GROUP BY doc_id),
         |bg AS (SELECT doc_id, len(t) AS nt,
         |  CASE WHEN len(t) >= 2 THEN len(list_distinct(list_transform(
         |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])))
         |  ELSE 0 END AS nbgd
         |  FROM toks)
         |SELECT b.doc_id,
         |  CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens,
         |  CASE WHEN a.n IS NULL THEN 0.0
         |       ELSE CAST(a.max_tf AS DOUBLE) / a.n END AS top_token_ratio,
         |  CASE WHEN b.nt >= 2
         |       THEN 1.0 - CAST(b.nbgd AS DOUBLE) / (b.nt - 1)
         |       ELSE 0.0 END AS dup_bigram_frac
         |FROM bg b LEFT JOIN agg a ON a.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "tx_pii_scrub" -> {
      val t0 = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com tel ' || CAST(doc_id % 900 + 100 AS VARCHAR) || " +
        "'-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) || " +
        "' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || " +
        "CAST(doc_id % 250 AS VARCHAR)"
      val t1 = s"regexp_replace($t0, '$PiiEmail', '<EMAIL>', 'g')"
      val t2 = s"regexp_replace($t1, '$PiiPhone', '<PHONE>', 'g')"
      val t3 = s"regexp_replace($t2, '$PiiIpv4', '<IP>', 'g')"
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all($t0, '$PiiEmail')) AS BIGINT)
         |   AS n_emails,
         | CAST(len(regexp_extract_all($t1, '$PiiPhone')) AS BIGINT)
         |   AS n_phones,
         | CAST(len(regexp_extract_all($t2, '$PiiIpv4')) AS BIGINT)
         |   AS n_ips,
         | $t3 AS scrubbed
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "tx_ngram_topk" ->
      s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
         |bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |         i -> t[i] || ' ' || t[i+1])) AS bigram
         |       FROM toks WHERE len(t) >= 2)
         |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg
         |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,

    "tx_pmi_pairs" ->
      s"""WITH toks AS (SELECT $toksSql AS t FROM documents),
         |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
         |bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i+1])) AS bigram
         |    FROM toks WHERE len(t) >= 2) GROUP BY bigram),
         |tot AS (SELECT (SELECT SUM(c) FROM uc) AS n_uni,
         |               (SELECT SUM(c_xy) FROM bc) AS n_bg)
         |SELECT split_part(bigram, ' ', 1) AS x,
         |  split_part(bigram, ' ', 2) AS y, c_xy, ux.c AS c_x, uy.c AS c_y,
         |  CAST((CAST(c_xy AS HUGEINT) * n_uni * n_uni * 1000000)
         |    // (CAST(n_bg AS HUGEINT) * ux.c * uy.c) AS BIGINT) AS lift_ppm
         |FROM bc CROSS JOIN tot
         |JOIN uc ux ON ux.tok = split_part(bigram, ' ', 1)
         |JOIN uc uy ON uy.tok = split_part(bigram, ' ', 2)
         |WHERE c_xy >= $PmiMinPair
         |ORDER BY lift_ppm DESC, x, y LIMIT $PmiTopK""".stripMargin,

    "tx_chunk_windows" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS t FROM documents),
         |ch AS (SELECT doc_id, t,
         |  unnest(generate_series(0,
         |    CAST((len(t) - 1) // $ChunkStride AS BIGINT))) AS chunk_idx
         |  FROM toks WHERE len(t) >= 1)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(t[chunk_idx * $ChunkStride + 1 :
         |             chunk_idx * $ChunkStride + $ChunkLen]) AS BIGINT)
         |    AS n_chunk_toks,
         |  array_to_string(t[chunk_idx * $ChunkStride + 1 :
         |                    chunk_idx * $ChunkStride + $ChunkLen], ' ')
         |    AS chunk_text
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    "a8_confusion_matrix" ->
      s"""SELECT lang, $langCaseSql AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n
         |FROM documents GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin,

    "tx_unigram_ppl" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |tf AS (SELECT doc_id, tk2 AS tk, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tk2 FROM t) x
         |  GROUP BY doc_id, tk2),
         |lm AS (SELECT tk, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY tk),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM lm),
         |sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  SUM(CAST(CAST(tf AS DOUBLE) * (ln(CAST(nn.n AS DOUBLE))
         |    - ln(CAST(c AS DOUBLE))) AS DECIMAL(28,9))) AS nll
         |  FROM tf JOIN lm USING (tk) CROSS JOIN nn GROUP BY doc_id),
         |m AS (SELECT doc_id, n_tokens,
         |  round(CAST(nll AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |    AS mean_nll FROM sc)
         |SELECT doc_id, n_tokens, mean_nll,
         |  CASE WHEN mean_nll < $PplHeadMax THEN 'head'
         |       WHEN mean_nll < $PplMiddleMax THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM m ORDER BY doc_id""".stripMargin,

    // the interpolation replayed with the identical expression tree
    // (same division order, same weighted sum, same -ln, same 1e-9
    // decimal quantization before the per-doc sum)
    "tx_bigram_ppl" ->
      s"""WITH tt AS (SELECT doc_id, $toksSql AS t FROM documents),
         |big AS (SELECT doc_id, b[1] AS u, b[2] AS v FROM
         |  (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |      THEN list_transform(generate_series(2, len(t)),
         |        i -> [t[i-1], t[i]])
         |      ELSE CAST([] AS VARCHAR[][]) END) AS b FROM tt) s),
         |tf2 AS (SELECT doc_id, u, v, CAST(COUNT(*) AS BIGINT) AS tf2
         |  FROM big GROUP BY 1, 2, 3),
         |lm2 AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM big GROUP BY 1, 2),
         |toks AS (SELECT unnest(t) AS tk FROM tt),
         |lm1 AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS c1
         |  FROM toks GROUP BY tk),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |sc AS (SELECT f.doc_id,
         |    CAST(SUM(f.tf2) AS BIGINT) AS n_bigrams,
         |    SUM(CAST(CAST(f.tf2 AS DOUBLE) * -ln(
         |        0.75 * (CAST(l2.c2 AS DOUBLE) / CAST(cu.c1 AS DOUBLE)) +
         |        0.25 * (CAST(cv.c1 AS DOUBLE) / CAST(tot.n AS DOUBLE)))
         |      AS DECIMAL(28,9))) AS nll
         |  FROM tf2 f
         |  JOIN lm2 l2 ON l2.u = f.u AND l2.v = f.v
         |  JOIN lm1 cu ON cu.tk = f.u
         |  JOIN lm1 cv ON cv.tk = f.v, tot
         |  GROUP BY f.doc_id)
         |SELECT doc_id, n_bigrams,
         |  round(CAST(nll AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         |    AS mean_nll
         |FROM sc ORDER BY doc_id""".stripMargin,

    // row-identity against the inline bigram entry (the `_indexed`
    // twins' pattern; plan half is PlanSpec's)
    "tx_bigram_ppl_indexed" ->
      "SELECT * FROM '__GRAFT_OUT__/tx_bigram_ppl/*.parquet'",

    // full smoothing-arithmetic mirror: Laplace unigram backoff
    // (c1+1)/(N+V) plus the context-guarded bigram term, LEFT joins —
    // structural on the corpus itself (every count present), but the
    // formula is the post-freeze one the streaming bigram gate serves
    "tx_bigram_ppl_smoothed" ->
      s"""WITH tt AS (SELECT doc_id, $toksSql AS t FROM documents),
         |big AS (SELECT doc_id, b[1] AS u, b[2] AS v FROM
         |  (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
         |      THEN list_transform(generate_series(2, len(t)),
         |        i -> [t[i-1], t[i]])
         |      ELSE CAST([] AS VARCHAR[][]) END) AS b FROM tt) s),
         |tf2 AS (SELECT doc_id, u, v, CAST(COUNT(*) AS BIGINT) AS tf2
         |  FROM big GROUP BY 1, 2, 3),
         |lm2 AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c2
         |  FROM big GROUP BY 1, 2),
         |toks AS (SELECT unnest(t) AS tk FROM tt),
         |lm1 AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS c1
         |  FROM toks GROUP BY tk),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lm1),
         |sc AS (SELECT f.doc_id,
         |    CAST(SUM(f.tf2) AS BIGINT) AS n_bigrams,
         |    SUM(CAST(CAST(f.tf2 AS DOUBLE) * -ln(
         |        (CASE WHEN COALESCE(cu.c1, 0) > 0
         |          THEN 0.75 * (CAST(COALESCE(l2.c2, 0) AS DOUBLE) /
         |            CAST(COALESCE(cu.c1, 0) AS DOUBLE))
         |          ELSE 0.0 END) +
         |        0.25 * (CAST(COALESCE(cv.c1, 0) + 1 AS DOUBLE) /
         |          CAST(tot.n + voc.v AS DOUBLE)))
         |      AS DECIMAL(28,9))) AS nll
         |  FROM tf2 f
         |  LEFT JOIN lm2 l2 ON l2.u = f.u AND l2.v = f.v
         |  LEFT JOIN lm1 cu ON cu.tk = f.u
         |  LEFT JOIN lm1 cv ON cv.tk = f.v, tot, voc
         |  GROUP BY f.doc_id)
         |SELECT doc_id, n_bigrams,
         |  round(CAST(nll AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6)
         |    AS mean_nll
         |FROM sc ORDER BY doc_id""".stripMargin,

    // full smoothing-arithmetic mirror: Laplace (c+1)/(N+V) with the LEFT
    // join (structural on the corpus itself — every token is LM-present —
    // but the formula is the post-freeze one the streaming gate serves)
    "tx_unigram_ppl_smoothed" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |tf AS (SELECT doc_id, tk2 AS tk, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tk2 FROM t) x
         |  GROUP BY doc_id, tk2),
         |lm AS (SELECT tk, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY tk),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM lm),
         |vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lm),
         |sc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  SUM(CAST(CAST(tf AS DOUBLE) * (ln(CAST(nn.n + vv.v AS DOUBLE))
         |    - ln(CAST(COALESCE(c, 0) + 1 AS DOUBLE))) AS DECIMAL(28,9)))
         |    AS nll
         |  FROM tf LEFT JOIN lm USING (tk) CROSS JOIN nn CROSS JOIN vv
         |  GROUP BY doc_id),
         |m AS (SELECT doc_id, n_tokens,
         |  round(CAST(nll AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         |    AS mean_nll FROM sc)
         |SELECT doc_id, n_tokens, mean_nll,
         |  CASE WHEN mean_nll < $PplHeadMax THEN 'head'
         |       WHEN mean_nll < $PplMiddleMax THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM m ORDER BY doc_id""".stripMargin,

    // the engine's k sequential BPE rounds unrolled: pair tally → 1-row
    // winner → list_reduce greedy rewrite, per round; chr(1) mirrors the
    // engine's \u0001 symbol separator, ends_with anchors the fold's
    // "tail symbol is exactly lhs" test identically
    "tx_bpe_merges" -> {
      val sel = (1 to BpeMerges).map(n =>
        s"SELECT CAST($n AS BIGINT) AS merge_idx, lhs, rhs, cnt FROM b$n")
        .mkString("\nUNION ALL ")
      s"""WITH $bpeRoundCtes
         |$sel
         |ORDER BY merge_idx""".stripMargin
    },

    // the trained-tokenizer application: the same unrolled round chain
    // produces the fully-merged vocabulary w<K>, whose per-word symbol
    // counts join back to the document token stream (the engine serves
    // the same winners from the persisted artifact — determinism makes
    // replay and artifact identical, the ivf-oracle pattern)
    "tx_bpe_encode" ->
      s"""WITH $bpeRoundCtes,
         |tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(len(str_split(x.rep, chr(1)))) AS BIGINT)
         |    AS n_bpe_tokens
         |FROM tok t JOIN w$BpeMerges x USING (w)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    "tx_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |tf AS (SELECT doc_id, tk2 AS tk, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tk2 FROM t) x
         |  GROUP BY doc_id, tk2),
         |df AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |  GROUP BY tk),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
         |sc AS (SELECT doc_id, tf.tk AS token,
         |  round(CAST(tf AS DOUBLE) * ln(1.0 +
         |    (CAST(nd.nd AS DOUBLE) - df + 0.5) / (df + 0.5)), 6) AS score
         |  FROM tf JOIN df USING (tk) CROSS JOIN nd),
         |rk AS (SELECT doc_id, token, score,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, token) AS BIGINT) AS rank
         |  FROM sc)
         |SELECT doc_id, rank, token, score FROM rk
         |WHERE rank <= $Bm25TopK ORDER BY doc_id, rank""".stripMargin,

    // row-identity against the inline entry's already-oracle-checked
    // verify output (the LM `_indexed` twins' pattern — the artifact
    // serves IDENTICAL rows by the shared bm25RankFromTf core; the
    // plan-level "reads the artifact, never re-counts the corpus" half
    // is PlanSpec's)
    "tx_bm25_indexed" ->
      "SELECT * FROM '__GRAFT_OUT__/tx_bm25_topk/*.parquet'",

    "tx_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, source,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t, text FROM documents),
         |sh AS (SELECT doc_id, source, unnest(
         |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
         |      generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |    ELSE [text] END) AS g
         |  FROM t),
         |df AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM sh GROUP BY source, g),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM documents GROUP BY source),
         |boiler AS (SELECT d.source, d.g, 1 AS inb
         |  FROM df d JOIN nd USING (source)
         |  WHERE df * $BoilerDfDen >= n)
         |SELECT s.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(b.inb) AS BIGINT) AS n_boiler,
         |  round(CAST(COUNT(b.inb) AS DOUBLE) / COUNT(*), 8) AS boiler_frac
         |FROM sh s LEFT JOIN boiler b ON b.source = s.source AND b.g = s.g
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "tx_source_quality" ->
      s"""${PipelinePack.gateCtes},
         |ptf AS (SELECT doc_id, tk2 AS tk, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tk2 FROM t) x
         |  GROUP BY doc_id, tk2),
         |plm AS (SELECT tk, CAST(SUM(tf) AS BIGINT) AS c FROM ptf
         |  GROUP BY tk),
         |pnn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM plm),
         |psc AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS nt,
         |  SUM(CAST(CAST(tf AS DOUBLE) * (ln(CAST(pnn.n AS DOUBLE))
         |    - ln(CAST(c AS DOUBLE))) AS DECIMAL(28,9))) AS nll
         |  FROM ptf JOIN plm USING (tk) CROSS JOIN pnn GROUP BY doc_id),
         |pm AS (SELECT doc_id,
         |  round(CAST(nll AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_nll
         |  FROM psc),
         |jq AS (SELECT d.source, g.reason, pm.mean_nll
         |  FROM documents d JOIN gated g ON g.doc_id = d.doc_id
         |  LEFT JOIN pm ON pm.doc_id = d.doc_id)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) FILTER (WHERE reason = 'kept') AS BIGINT)
         |    AS n_kept,
         |  CAST(COUNT(*) FILTER (WHERE reason = 'kept') * 1000 // COUNT(*)
         |    AS BIGINT) AS kept_permille,
         |  round(CAST(SUM(CAST(mean_nll AS DECIMAL(18,6))) AS DOUBLE)
         |    / COUNT(mean_nll), 6) AS mean_nll_avg
         |FROM jq GROUP BY source ORDER BY source""".stripMargin,

    // HUGEINT (int128) cross-multiplication — the oracle's mirror of the
    // engine's DECIMAL(38,0) overflow-safe L1 arithmetic
    "tx_source_drift" ->
      s"""WITH t AS (SELECT source, $toksSql AS tk FROM documents),
         |st AS (SELECT source, tk2 AS tk, CAST(COUNT(*) AS BIGINT) AS cs
         |  FROM (SELECT source, unnest(tk) AS tk2 FROM t) x
         |  GROUP BY source, tk2),
         |corpus AS (SELECT tk, CAST(SUM(cs) AS BIGINT) AS c
         |  FROM st GROUP BY tk),
         |totals AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ns
         |  FROM st GROUP BY source),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM corpus),
         |present AS (SELECT st.source, ns, n,
         |  SUM(abs(CAST(cs AS HUGEINT) * n - CAST(c AS HUGEINT) * ns))
         |    AS num_present,
         |  CAST(SUM(c) AS BIGINT) AS c_present
         |  FROM st JOIN corpus USING (tk) JOIN totals USING (source)
         |    CROSS JOIN nn
         |  GROUP BY st.source, ns, n)
         |SELECT source, ns AS n_tokens,
         |  CAST((num_present + CAST(n - c_present AS HUGEINT) * ns) * 1000000
         |    // (CAST(n AS HUGEINT) * ns) AS BIGINT) AS l1_ppm
         |FROM present ORDER BY source""".stripMargin
  )
}
