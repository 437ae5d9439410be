package graft.operators

import graft.sim.IndexStore.member
import graft.plans.Checkpointed

import graft.Tables
import graft.Exprs.asLong
import graft.functions.HashFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators over `documents` — exact content-hash dedup
  * (reference D1: db/data.py:250-257 sha256 canonical-JSON dedup) plus the
  * approximate near-dup family a training-data pipeline needs: exact n-gram
  * Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale design: signatures are per-row expression work (no shuffle, no
  * driver involvement). Candidate generation never cross-joins — Jaccard
  * uses an inverted shingle index (shuffle on shingle), LSH groups by
  * (band, key). Both plans keep the quadratic blow-up bounded to documents
  * that actually collide — AND both are capped: shingles with document
  * frequency above [[MaxShingleDf]] are dropped (boilerplate shingles carry
  * no near-dup signal but produce O(df²) pairs — the classic hot-key skew at
  * web scale), and LSH buckets above [[MaxLshBucket]] are skipped (a
  * degenerate bucket of k identical docs would otherwise materialize k²/2
  * structs in a single aggregation row and OOM an executor). Both caps are
  * mirrored in the DuckDB oracles, so capped semantics are the *defined*
  * semantics, not a silent divergence.
  */
object DedupPack {

  private val NumHashes = 16
  private val Bands = 4
  private val Rows = 4
  // private[graft]: the streaming ingest gate (streaming/DocStream) shares
  // this width so the ingest-time and batch contamination sweeps flag the
  // same documents by construction — a literal 3 there would silently
  // de-synchronize on a future change here.
  private[graft] val ShingleN = 3

  /** Token-window width of the ExactSubstr duplicated-span signal
    * (`dd_exact_substr`) — Lee et al. use 50 BPE tokens; 8 whitespace
    * tokens is the equivalent discrimination on the fixture vocabulary. */
  private[graft] val SpanK = 8
  private[graft] val JaccardThreshold = 0.8

  /** Document-frequency cap: shingles appearing in more documents than this
    * are excluded from the Jaccard universe (and from per-doc sizes). */
  val MaxShingleDf = 1000

  /** Containment threshold (0.9) in exact parts per million. */
  private[graft] val ContainmentPpm = 900000L

  /** LSH buckets larger than this are skipped (hot-bucket guard). */
  val MaxLshBucket = 1000

  /** The shard standing in for the benchmark/eval corpus in
    * `dd_contamination` (deployments pass the real benchmark set). */
  val ContaminationEvalSource = "src0"

  /** The shard standing in for a freshly-arrived ingest batch in
    * `dd_incremental_lsh` (deployments pass the actual batch). */
  val IncrementalBatchSource = "src6"

  /** Shingle-overlap fraction above which a corpus document counts as
    * benchmark-contaminated. */
  val ContaminationThreshold = 0.5

  /** Members kept per near-dup component by `dd_component_cap` (lowest
    * ids first — the canonical-first policy). */
  val ComponentCap = 2

  /** SimHash banding: 4 blocks of 16 bits guarantee recall for pairs with
    * Hamming distance <= 3 (pigeonhole: 3 differing bits can dirty at most
    * 3 of the 4 blocks). */
  val SimhashBlocks = 4
  val MaxHamming = 3

  private val minhashAggsList = minhashAggs(col("h"), NumHashes)

  /** The keep-N cap policy over a (doc_id, rep) component-label frame:
    * every document gets its group (label, or own id for singletons), a
    * rank among the group's members (lowest ids first — canonical-first),
    * and the keep verdict. ONE definition shared by the inline entry
    * (labels recomputed in-plan — the verification shape) and the
    * `_indexed` twin (labels read off the split_components artifact —
    * the 100 TB shape), so the two can only diverge if the labels do. */
  private[graft] def capAssign(docs: DataFrame, comps: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("doc_id"))
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("grp"))
      .withColumn("member_rank", row_number().over(w).cast(LongType))
      .withColumn("kept", col("member_rank") <= ComponentCap)
  }

  /** (doc_id, shingles) with distinct word-3-gram shingles. Shingling +
    * hashing is the pipeline's expression-bound map stage; the bucketed
    * documents layout scans one task per bucket, so it parallelizes
    * natively. */
  private def shingled(s: SparkSession, d: String): DataFrame =
    shingledOf(Tables.documents(s, d))

  /** [[shingled]] over an arbitrary documents-shaped frame — the
    * self-tuning capped join is spec-tested on constructed corpora. */
  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), wordShingles(col("text"), ShingleN).as("sh"))

  /** Edit-distance threshold for the blocked fuzzy-match join. */
  private[graft] val EditMax = 2

  /** Member cap per (brand, length) blocking cell in [[queries]]'
    * `dd_edit_blocked` — the MaxShingleDf discipline: the cap IS the
    * defined semantics, replayed by the oracle. The outer pruning layers
    * (brand, ±EditMax length band) have CONSTANT cell cardinality — cells
    * do not multiply with the corpus, so in-cell candidates grew
    * quadratically with the data (VERDICT r14 #2: the one heavy operator
    * with no scale bound). A deterministic hash-ranked cap of
    * [[EditCellCap]] members per cell bounds the candidate stream at
    * rows · (2·EditMax+1) · cap — linear with a fixed constant — while
    * staying the identity below the cap (every verification scale; the
    * SvmTrainCap posture). Lossless in-cell alternatives were measured
    * and rejected: the PassJoin τ+1-segment filter ran 4× slower at 1×
    * (small color vocabulary ⇒ segments collide pervasively) and
    * collision density only worsens as cells fill, so the pigeonhole
    * conclusion cannot invert at 64× — under this vocabulary every
    * content-derived lossless layer degenerates toward all-pairs, which
    * is exactly why the defined-semantics cap is the scale answer. The
    * monitor twin `dd_edit_cells` makes a capped production run visible
    * (per-brand capped-cell counts and dropped members — the
    * CMS-overcount-monitor precedent). */
  private[graft] val EditCellCap = 256

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- blocked edit-distance fuzzy match (entity resolution) ---------
    // Near-duplicate part names within a brand at Levenshtein ≤ [[EditMax]]
    // — the record-linkage primitive (typo'd titles, OCR'd labels). Three
    // pruning layers before any distance is computed: the brand blocking
    // key (an equi-join — cross-brand pairs never materialize); the
    // length filter |len(a) − len(b)| ≤ t (an edit can change length by
    // at most 1; Gravano et al., VLDB'01) expressed as an EQUI-join too —
    // the probe side explodes each name to its 2t+1 admissible partner
    // lengths, so out-of-band pairs are never formed rather than
    // formed-and-filtered; and the deterministic [[EditCellCap]] member
    // cap per (brand, len) cell (DEFINED semantics, replayed by the
    // oracle — identity at every verification scale; see EditCellCap's
    // scaling rationale). Only the surviving candidates pay the O(len·t)
    // distance; each unordered pair forms exactly once (the probe row
    // with key_a < key_b). The oracle is the within-brand quadratic over
    // the same capped universe — the two lossless layers must be
    // semantically invisible, the cap replayed bit-for-bit.
    "dd_edit_blocked" -> ((s, d) => {
      val pr0 = Tables.part(s, d)
        .select(col("p_partkey").as("k"), col("p_brand").as("brand"),
          col("p_name").as("name"), length(col("p_name")).as("len"))
      // third layer (round 15): deterministic [[EditCellCap]] members per
      // (brand, len) cell — row_number ≤ cap plans as a map-side
      // WindowGroupLimit, so the rank itself never funnels a cell
      val wCell = Window.partitionBy(col("brand"), col("len"))
        .orderBy(md5(concat(lit("edit:"), col("k").cast(StringType))),
          col("k"))
      val pr = pr0.withColumn("cr", row_number().over(wCell))
        .filter(col("cr") <= EditCellCap).drop("cr")
      val probe = pr.select(col("k").as("key_a"), col("brand"),
        col("name").as("name_a"),
        explode(sequence(col("len") - EditMax, col("len") + EditMax))
          .as("lb"))
      val build = pr.select(col("k").as("key_b"), col("brand"),
        col("name").as("name_b"), col("len").as("lb"))
      // threshold form: banded O(len·t) DP with early exit (returns −1
      // past the band) instead of the full O(len²) matrix — measured
      // 2.1× on the candidate stream. A PassJoin segment filter
      // (pigeonhole over τ+1 disjoint segments) was built and MEASURED
      // 4× SLOWER here: these short names draw from a small vocabulary,
      // so 3-char segments collide pervasively and the filter pays its
      // key explosion without shrinking the candidate set — the
      // length-band equi-join is the right filter for this shape.
      probe.join(build, Seq("brand", "lb"))
        .filter(col("key_a") < col("key_b"))
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b"), EditMax)
            .cast(LongType))
        .filter(col("dist") >= 0)
        .select("brand", "key_a", "key_b", "name_a", "name_b", "dist")
        .orderBy("brand", "key_a", "key_b")
    }),

    // ---- blocking-cell monitor for dd_edit_blocked ----------------------
    // Per-brand cell-size structure of the (brand, len) blocking grid:
    // how many cells, the largest, and what the [[EditCellCap]] drops —
    // all zeros below the cap (every verification scale), and the FIRST
    // thing a production run at 100× checks before trusting the capped
    // match set (the CMS-overcount-monitor precedent: a cap without a
    // monitor is silent truncation).
    "dd_edit_cells" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_brand").as("brand"), length(col("p_name")).as("len"))
        .groupBy(col("brand"), col("len"))
        .agg(count(lit(1)).as("n_members"))
        .groupBy(col("brand"))
        .agg(count(lit(1)).as("n_cells"),
          max(col("n_members")).as("max_cell"),
          sum(when(col("n_members") > EditCellCap, lit(1L)).otherwise(0L))
            .as("n_capped_cells"),
          sum(when(col("n_members") > EditCellCap,
            col("n_members") - EditCellCap).otherwise(0L))
            .as("n_dropped"))
        .orderBy("brand")
    }),

    // ---- exact dedup by content hash (reference D1) ----------------------
    "dd_exact_hash" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }),

    // (r16 retirement: `dd_jaccard_pairs` — the fixed-df-cap inverted
    // shingle index — left the suite; its exact-threshold-Jaccard
    // semantics are gated LOSSLESSLY by `dd_jaccard_prefix` below (spec
    // pins ≡ naive all-pairs), its capped-universe production posture by
    // the self-tuning `dd_jaccard_capped`, and the [[jaccardPairs]] plan
    // itself stays spec-driven (PropertySpec id-domain + df-cap contracts,
    // OperatorInvariantsSpec LSH-recall and containment cross-checks).)

    // ---- the SELF-TUNING capped variant: CMS pass -> budgeted threshold
    //      -> pushable map-side filter; cap_df + dropped_shingles ride in
    //      the schema (see the jaccardCappedOver section scaladoc) --------
    "dd_jaccard_capped" -> ((s, d) =>
      jaccardCappedOver(Tables.documents(s, d))),

    // ---- asymmetric containment pairs (sub-document detection) ----------
    "dd_containment" -> ((s, d) =>
      containmentPairs(shingled(s, d)).orderBy("doc_a", "doc_b")),

    // ---- prefix-filtered exact Jaccard join (PPJoin-style) ---------------
    // The LOSSLESS scale lever for exact threshold-Jaccard, complementing
    // the jaccardPairs df cap (which drops hot shingles from the
    // universe, changing the measured Jaccard): order every document's
    // shingles by ascending global frequency and index only the first
    // |d| − ⌈t·|d|⌉ + 1 of them — two sets with J ≥ t MUST share a
    // prefix token (J ≥ t ⟹ overlap ≥ t·|d| on each side; if all common
    // tokens sat past both prefixes the overlap couldn't fit — Chaudhuri
    // 2006 / Xiao PPJoin 2008), so candidate generation explodes ~1/5th
    // of the postings AND the hot boilerplate shingles sort LAST — out of
    // nearly every prefix — without being dropped from the verify
    // universe. Candidates then pay one exact full-set intersect; the
    // output is the TRUE capless threshold join (spec pins ≡ naive
    // all-pairs at fixture scale; the oracle replays the prefix algebra
    // value-for-value, both engines ordering by (df, shingle) — binary
    // string order in both). ----------------------------------------------
    "dd_jaccard_prefix" -> ((s, d) =>
      prefixJaccardPairs(shingled(s, d)).orderBy("doc_a", "doc_b")),

    // ---- its pruning monitor: pair EVENTS, like for like -----------------
    // full_pairs = Σ C(df,2) (what the capless inverted index would
    // shuffle) vs prefix_pairs = Σ C(df_pref,2) (what the prefix postings
    // shuffle) — multiplicity-counted on BOTH sides, so pruned_permille
    // measures the shuffle-event reduction honestly; n_candidates is the
    // separate post-distinct verify-cost meter. Cross-products run in
    // DECIMAL(38,0)/HUGEINT (the drift rows' overflow discipline — an
    // all-BIGINT Σ df² wraps silently with ANSI off at a scale the gate
    // never tests). Only the CANDIDATE frame (small, consumed twice —
    // count + verify) is checkpointed: materializing the token-scale
    // prefix frame too was MEASURED SLOWER (4.1 s vs 1.7 s at sf0.1) —
    // the checkpoint write/read of ~10⁵ token rows costs more than the
    // one extra window-chain pass it saves, at gate scale and a fortiori
    // at 100 TB where token rows dwarf candidates. The 1-row result
    // materializes eagerly and cand unpersists before returning (the
    // components pattern — repeated inline calls in a long-lived driver
    // must not accumulate pinned checkpoint blocks; resid_rdds is the
    // canary).
    "dd_jaccard_prefix_stats" -> ((s, d) => {
      val sh = shingled(s, d)
      val (dfk, pref) = prefixTokens(sh)
      val cand = Checkpointed("DedupPack.prefixCand",
        prefixCandidates(pref))
      val dfp = pref.groupBy(col("g")).agg(count(lit(1)).as("dfp"))
      val full = dfk.agg(
        expr("sum(CAST(df AS DECIMAL(38,0)) * (df - 1))").as("full2"))
      val pp = dfp.agg(
        expr("sum(CAST(dfp AS DECIMAL(38,0)) * (dfp - 1))").as("pref2"))
      val c = cand.agg(count(lit(1)).as("n_candidates"))
      val m = verifyPrefixPairs(sh, cand)
        .agg(count(lit(1)).as("n_matched"))
      val result = sh.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(full)).crossJoin(broadcast(pp))
        .crossJoin(broadcast(c)).crossJoin(broadcast(m))
        .select(col("n_docs"),
          expr("full2 div 2").as("full_pairs"),
          expr("pref2 div 2").as("prefix_pairs"),
          col("n_candidates"), col("n_matched"),
          when(col("full2") > 0,
            expr("((full2 - pref2) * 1000) div full2"))
            .otherwise(0L).as("pruned_permille"))
        .transform(df => Checkpointed("DedupPack.prefixStats", df))
      cand.unpersist()
      result
    }),

    // ---- MinHash + LSH banding candidate pairs ---------------------------
    "dd_minhash_lsh" -> ((s, d) =>
      minhashPairs(Tables.documents(s, d))
        .orderBy("doc_a", "doc_b")),

    // ---- near-dup pairs → canonical groups (connected components) --------
    // The step after every pair generator: pairs are edges, a dup GROUP is
    // a connected component, and the canonical representative is the
    // component's minimum doc_id (the reference keeps the earliest
    // submission as canonical — db/data.py:250-262 — so min id is the same
    // policy lifted to groups). Pairs alone under-merge: {A,B} and {B,C}
    // from different LSH bands are one group even though (A,C) was never a
    // candidate pair.
    "dd_components" -> ((s, d) => {
      connectedComponents(
        minhashPairs(Tables.documents(s, d)))
        .orderBy("doc_id")
    }),

    // ---- near-dup cluster CAP (diversity-preserving dedup policy) --------
    // The RefinedWeb-style middle ground between keeping everything and
    // the greedy collapse-to-one of `pipe_corpus_prep`: keep up to
    // [[ComponentCap]] members of each near-dup COMPONENT (lowest ids
    // first — the same canonical-first policy as D1), because moderate
    // duplication can carry signal and collapsing over-prunes; N = 1
    // recovers the greedy policy. Pure compose: the component labels +
    // one per-group window over the corpus (at scale the labels come
    // from the split_components artifact — same frame). ------------------
    "dd_component_cap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      capAssign(docs, connectedComponents(minhashPairs(docs)))
        .orderBy("doc_id")
    }),

    // ---- the cap policy served from the PERSISTED component labels -------
    // Production twin of `dd_component_cap` (the `_indexed` pattern): the
    // keep-N policy is a label CONSUMER, exactly like the leak-safe split
    // — at 100 TB the pair graph + propagation is the corpus-build step
    // behind [[graft.operators.PipelinePack.ensureComponentsIndex]], and
    // applying a cap is one label join + one per-group window, never a
    // re-shingle (plan-asserted). Rows identical to the inline entry by
    // construction (shared capAssign over the same labels), which is what
    // the row-identity oracle checks. -------------------------------------
    "dd_component_cap_indexed" -> ((s, d) => {
      val p = PipelinePack.ensureComponentsIndex(s, d)
      capAssign(Tables.documents(s, d),
        member(s, p, "components"))
        .orderBy("doc_id")
    }),

    // ---- LSH recall monitor (banding-quality gate row) --------------------
    // The number every LSH deployment watches: what fraction of the TRUE
    // near-dup pairs the banded candidate generator actually surfaces —
    // banding trades recall for never forming the all-pairs quadratic,
    // and this row prices that trade in values, not in a spec tolerance.
    // The exact side is the LOSSLESS prefix-filtered join
    // (dd_jaccard_prefix — the capped jaccardPairs would measure recall
    // against a universe that silently drops hot shingles once the df
    // cap binds), the monitor's declared exact anchor exactly like
    // ann_recall's brute-force top-k (the kmvDistinct split: at 100 TB
    // the exact join is the cost LSH exists to avoid — run the monitor
    // on a held sample). The CANDIDATE side is SERVED from the persisted
    // band-index artifact ([[servedMinhashPairs]] — the ann_recall
    // pattern, r17): the corpus is never re-minhashed for the monitor,
    // and the number describes the deployed buckets, not a recompute
    // that could drift from them. Both pair frames feed two consumers
    // (count + semi-join), so they materialize once (localCheckpoint,
    // freed on return — the components pattern; the un-pinned plan
    // re-ran both pair pipelines per consumer). Oracle rides BOTH
    // already-verified outputs (OutToken road), so the monitor can never
    // desynchronize from the entries it describes — and since the served
    // reconstruction is row-identical to inline minhashPairs by
    // construction, riding dd_minhash_lsh's output also pins artifact ≡
    // inline every verify run.
    "dd_lsh_recall" -> ((s, d) => {
      // The exact side and the served candidate side are INDEPENDENT
      // pipelines, each an eager one-job checkpoint — materialize them
      // concurrently (guide §2.6: overlap independent jobs so the second
      // back-fills the first's stage tails) instead of paying their sum;
      // r18 measured the sequential construct as this row's entire cost.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // The global pool's threads keep the job group they inherited when
      // they were created, so each future runs its job under the CALLER's
      // group (and description) and clears it again on the way out.
      val sc = s.sparkContext
      val group = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
      def inCallerGroup[T](body: => T): Future[T] = Future {
        group.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        try body finally group.foreach(g => sc.setLocalProperty(g._1, null))
      }
      val exactF = inCallerGroup(Checkpointed("DedupPack.recall.exact",
        prefixJaccardPairs(shingled(s, d)).select("doc_a", "doc_b")))
      val candF = inCallerGroup(Checkpointed("DedupPack.recall.cand",
        servedMinhashPairs(s, d)))
      val exact = Await.result(exactF,
        scala.concurrent.duration.Duration.Inf)
      val cand = Await.result(candF,
        scala.concurrent.duration.Duration.Inf)
      val hit = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      val result = exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(hit.agg(count(lit(1)).as("n_recalled")))
        .select(col("n_exact"), col("n_candidates"), col("n_recalled"),
          when(col("n_exact") > 0,
            expr("n_recalled * 1000L div n_exact")).as("recall_permille"))
        .transform(df => Checkpointed("DedupPack.recallStats", df))
      exact.unpersist(); cand.unpersist()
      result
    }),

    // ---- component-size distribution (dedup-quality monitor) -------------
    // The first chart a dedup operator reads: how big are the near-dup
    // clusters (a fat tail means boilerplate families the cap policy is
    // about to decimate; all-2s means pair noise). Served from the
    // SAME persisted component labels the policies consume
    // (ensureComponentsIndex — the production shape: the monitor must
    // describe the labels that drive decisions, not a recomputation that
    // could drift), collapsed twice: labels → per-component size →
    // per-size count. Both rollups are combinable; the second runs on a
    // component-count-sized frame. Oracle rides the already-verified
    // dd_components output (the row-identity discipline: the label frame
    // IS what dd_components emits), re-aggregating it in SQL.
    "dd_component_sizes" -> ((s, d) => {
      val p = PipelinePack.ensureComponentsIndex(s, d)
      member(s, p, "components")
        .groupBy(col("rep")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("component_size"))
        .agg(count(lit(1)).as("n_components"))
        .orderBy("component_size")
    }),

    // ---- benchmark decontamination: n-gram overlap vs an eval set --------
    // The training-corpus stage every LLM pipeline runs before release:
    // flag corpus documents whose shingle set overlaps a benchmark/eval
    // document set above a threshold (the doc is — or quotes — eval data,
    // and would leak the benchmark into training). Here the eval set is
    // the [[ContaminationEvalSource]] shard; deployments pass the actual
    // benchmark corpus. Shape: the eval shingle set is benchmark-sized
    // (tiny vs the corpus) so it BROADCASTS; the corpus pays one scan and
    // one partial-aggregated groupBy(doc_id) — no shuffle keyed on
    // shingles, no self-join, nothing grows with corpus size but the
    // linear scan. Shingle identity is xxhash64 like the Jaccard plan
    // (8-byte keys; the oracle joins the raw strings — equal unless two
    // shingles collide in 64 bits).
    // ---- duplicated-span fraction (ExactSubstr-style signal) -------------
    // Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    // Better") deduplicates exact TOKEN SPANS, not whole documents; this
    // operator computes its per-document signal: the fraction of a
    // document's [[SpanK]]-token windows that also occur verbatim in some
    // OTHER document (internal repeats don't count — the doc-distinct df
    // decides). The reference method builds a suffix array; the
    // distributed re-expression is a shingle-position stream aggregated on
    // a span key — one shuffle keyed on xxhash64(span) (8-byte keys, the
    // jaccard-plan trick; collisions ~n²/2⁶⁵, the oracle joins the raw
    // strings), a doc-distinct df over the same stream, and a join back.
    // The cross-doc span set can be corpus-sized, so the tag join stays a
    // shuffle join by design — never a broadcast assumption. ---------------
    "dd_exact_substr" -> ((s, d) => {
      // r18 shuffle surgery (the rewrite r17 deferred with numbers): the
      // former plan shuffled the FULL span stream twice — once into the
      // doc-distinct df rollup's join and once into the per-doc count.
      // The (doc_id, gh, multiplicity) rollup aggregates ON the doc_id
      // bucket layout (zero exchange — hash(doc_id) clusters (doc_id,
      // gh) groups), the cross-doc df is ONE gh-window over that rollup
      // (rollup rows are distinct per (doc, gh), so the window count IS
      // the doc-distinct df), and the per-doc counts are multiplicity-
      // weighted sums — 2 data-proportional exchanges instead of 3, and
      // both carry rollup rows, never raw span instances.
      val docs = Tables.documents(s, d)
      val spans = spanStream(docs).select(col("doc_id"), col("gh"))
      val rolled = spans.groupBy(col("doc_id"), col("gh"))
        .agg(count(lit(1)).as("k"))
      val wDf = Window.partitionBy(col("gh"))
      val agg = rolled.withColumn("ddf", count(lit(1)).over(wDf))
        .groupBy(col("doc_id"))
        .agg(sum(col("k")).as("n_spans"),
          coalesce(sum(when(col("ddf") >= 2, col("k"))), lit(0L))
            .as("n_dup_spans"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
        .withColumn("dup_frac", when(col("n_spans") === 0, lit(0.0))
          .otherwise(
            round(col("n_dup_spans").cast(DoubleType) / col("n_spans"), 8)))
        .orderBy("doc_id")
    }),

    // ---- ExactSubstr SCRUB: rewrite documents with cross-document
    //      duplicated spans removed ----------------------------------------
    // The transform half of Lee et al. 2022 (the entry above only measures
    // the signal): every token covered by a [[SpanK]]-token span that
    // occurs verbatim in ≥2 distinct documents is dropped from every doc
    // EXCEPT the span's KEEPER — the lowest doc_id containing it, the
    // same keep-lowest policy as exact dedup (D1). Defined semantics,
    // mirrored in the oracle: (a) span identity is the verbatim
    // whitespace-token window (xxhash64 key, raw strings in the oracle);
    // (b) a token is dropped iff ≥1 non-keeper duplicated span covers it;
    // (c) `scrubbed_text` is the space-join of surviving tokens in
    // position order (whitespace-NORMALIZED output — the rewrite is a
    // token stream, not a byte splice). Plan shape: the same
    // non-quadratic span-hash shuffle as the signal (one groupBy on the
    // 8-byte span key derives ddf AND keeper together), the marked spans
    // explode to ≤ SpanK positions each, and the rebuild is one
    // (doc_id)-keyed aggregate over the linear token stream — nothing
    // grows faster than the corpus token count. ---------------------------
    "dd_exact_substr_scrub" -> ((s, d) => {
      // r18: the same rollup/gh-window surgery as the signal row above —
      // the former plan shuffled the RAW span stream twice (a (doc,gh)
      // distinct plus a gh-keyed join against the keeper set, whose build
      // side was corpus-proportional). Now the only exchanged frame is
      // the (doc_id, gh, positions) rollup (aggregated exchange-free on
      // the doc_id bucket layout), one gh-window derives ddf AND keeper
      // together (rollup rows are distinct per (doc, gh), so the window
      // count IS the doc-distinct df), and non-keeper rows explode their
      // own carried positions — no join anywhere before the rebuild.
      val docs = Tables.documents(s, d)
      val wG = Window.partitionBy(col("gh"))
      val dropped = spanStream(docs)
        .groupBy(col("doc_id"), col("gh"))
        .agg(collect_list(col("i")).as("is"))
        .withColumn("ddf", count(lit(1)).over(wG))
        .withColumn("keeper", min(col("doc_id")).over(wG))
        .filter(col("ddf") >= 2 && col("keeper") =!= col("doc_id"))
        .select(col("doc_id"), explode(col("is")).as("i"))
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + (SpanK - 1))).as("j"))
        .distinct()
      rebuildWithout(docs, dropped).orderBy("doc_id")
    }),

    // ---- span-level benchmark DECONTAMINATION scrub ----------------------
    // The transform half of `dd_contamination` (which only FLAGS whole
    // documents): every corpus token covered by a [[SpanK]]-token window
    // that occurs verbatim anywhere in the eval set is dropped — the
    // surgical alternative to dropping the whole document, for corpora
    // where a doc QUOTES a benchmark item but is otherwise clean. The
    // eval span set is benchmark-sized and BROADCASTS (the
    // dd_contamination shape); the corpus pays one span stream + the
    // shared position-rebuild — nothing grows faster than the corpus
    // token count. Same whitespace-normalized rewrite contract as
    // `dd_exact_substr_scrub` (shared [[rebuildWithout]] core). ------------
    "dd_contamination_scrub" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contaminationScrub(
        docs.filter(col("source") =!= ContaminationEvalSource),
        evalSpanHashes(
          docs.filter(col("source") === ContaminationEvalSource)))
        .orderBy("doc_id")
    }),

    "dd_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          wordShingles(col("text"), ShingleN).as("sh"))
      val ev = docs.filter(col("source") === ContaminationEvalSource)
        .select(explode(transform(col("sh"), g => xxhash64(g))).as("g"))
        .distinct()
        .withColumn("inev", lit(1))
      docs.filter(col("source") =!= ContaminationEvalSource)
        .select(col("doc_id"),
          explode(transform(col("sh"), g => xxhash64(g))).as("g"))
        .join(broadcast(ev), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("inev")).as("n_hits"))
        .withColumn("overlap",
          round(col("n_hits").cast(DoubleType) / col("n_shingles"), 8))
        .filter(col("overlap") >= ContaminationThreshold)
        .orderBy("doc_id")
    }),

    // ---- SimHash signatures ---------------------------------------------
    "dd_simhash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), simhashBits(col("text")).as("simhash"))
        .orderBy("doc_id")
    }),

    // ---- SimHash near-dup pairs: block-banded candidates + native
    //      hamming verification ------------------------------------------
    // The 64-bit signature splits into 4 16-bit blocks; by pigeonhole, any
    // pair with Hamming distance <= 3 shares at least one identical block,
    // so grouping on (block index, block value) finds all such pairs without
    // a self-join — the same bounded-bucket plan as MinHash LSH. Candidates
    // are verified with the engine's native `hamming_distance` expression
    // (graft.plans.HammingDistance, registered via SparkSessionExtensions):
    // a codegen'd byte loop, not a UDF.
    "dd_simhash_pairs" -> ((s, d) => {
      val sigs = Tables.documents(s, d)
        .select(col("doc_id"), simhashBits(col("text")).as("sh"))
      val blockCols = (0 until SimhashBlocks).map(b =>
        substring(col("sh"), b * 16 + 1, 16))
      val pairs = sigs
        .select(col("doc_id"), col("sh"),
          posexplode(array(blockCols: _*)).as(Seq("blk", "key")))
        .groupBy(col("blk"), col("key"))
        .agg(array_sort(collect_list(struct(col("doc_id"), col("sh"))))
          .as("items"))
        .filter(size(col("items")).between(2, MaxLshBucket))
        .select(explode(pairCombos(col("items"))).as("p"))
        .select(col("p.doc_a.doc_id").as("doc_a"), col("p.doc_a.sh").as("sa"),
          col("p.doc_b.doc_id").as("doc_b"), col("p.doc_b.sh").as("sb"))
        .distinct()
      pairs
        .withColumn("hamming",
          asLong(call_function("hamming_distance", col("sa"), col("sb"))))
        .filter(col("hamming") <= MaxHamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }),

    // ---- INCREMENTAL ingest dedup: a new batch probes the corpus --------
    // Continuous-ingestion pipelines must not re-dedup the whole corpus
    // when a batch arrives: the batch computes its own MinHash band keys
    // and PROBES the corpus's band buckets (at scale, a persisted band
    // index — exactly the [[bandedKeys]] frame written once per corpus
    // build, the same artifact-vs-inline split as the ANN IndexStore).
    // Candidates are verified with EXACT full-set Jaccard (candidate count
    // is O(batch · bucket), so the verify join is batch-sized, never
    // corpus-quadratic), and each contaminated new doc reports its best
    // corpus match (highest Jaccard, ties → lowest id). Corpus-side hot
    // buckets are skipped under the pack-wide [[MaxLshBucket]] cap,
    // mirrored in the oracle: capped semantics are defined semantics. ----
    "dd_incremental_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = shingled(s, d)
      val b2 = bandedKeys(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      val newB = b2.filter(col("source") === IncrementalBatchSource)
      val buckets = b2.filter(col("source") =!= IncrementalBatchSource)
        .groupBy(col("band"), col("key"))
        .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) <= MaxLshBucket)
      val cand = newB.join(buckets, Seq("band", "key"))
        .select(col("doc_id").as("new_id"), explode(col("ids")).as("corp_id"))
        .distinct()
      bestMatchAbove(cand,
        sh.select(col("doc_id").as("new_id"), col("sh").as("sa")),
        sh.select(col("doc_id").as("corp_id"), col("sh").as("sb")))
    }),

    // ---- incremental dedup served from the PERSISTED band index ----------
    // The production twin of `dd_incremental_lsh` (same artifact-vs-inline
    // split as the ANN `_indexed` entries): the corpus's MinHash band
    // buckets are a build-once IndexStore artifact stamped with the corpus
    // fingerprint, so an arriving batch pays batch-side signatures + a
    // bucket-join probe — the corpus is never re-shingled. The exact-
    // Jaccard verify re-shingles ONLY candidate corpus docs (semi-join
    // prune first): at 100 TB the verify cost scales with the candidate
    // set, not the corpus. Rows are identical to the inline entry by
    // construction (fingerprint-fresh artifact = the same bucket frame);
    // the oracle is row-identity against its already-checked output, and
    // the serving plan is asserted to read the artifact, not re-hash the
    // corpus (PlanSpec).
    "dd_incremental_indexed" -> ((s, d) =>
      probeBandIndexed(s, d,
        Tables.documents(s, d)
          .filter(col("source") === IncrementalBatchSource)))
  )

  /** (doc_id, i, gh) ExactSubstr span-position stream over any
    * (doc_id, text, …) frame: one row per [[SpanK]]-token window, `i` the
    * 1-based start position, `gh` the xxhash64 of the verbatim
    * space-joined window — shared by the `dd_exact_substr` signal (which
    * drops `i`) and the `dd_exact_substr_scrub` rewrite (which explodes
    * `i..i+K−1` into dropped positions). One Generate per document; the
    * token array is let-bound ([[bindArray]]) so the regex split runs
    * once per row, not once per span reference. */
  private[graft] def spanStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(bindArray(split(col("text"), graft.functions.TextFunctions.WsRe), t =>
          when(size(t) >= SpanK,
            transform(sequence(lit(1), size(t) - (SpanK - 1)),
              i => struct(i.cast(LongType).as("i"),
                xxhash64(concat_ws(" ",
                  (0 until SpanK).map(k => element_at(t, i + k)): _*))
                  .as("gh"))))
            .otherwise(array().cast("array<struct<i:bigint,gh:bigint>>"))))
          .as("sp"))
      .select(col("doc_id"), col("sp.i").as("i"), col("sp.gh").as("gh"))

  /** The eval-set span hashes for [[contaminationScrub]], from any
    * (doc_id, text, …) benchmark frame — build ONCE per benchmark
    * version (benchmarks are tiny and static), broadcast to every batch
    * (the [[graft.streaming.DocStream.evalShingles]] posture at span
    * granularity). */
  private[graft] def evalSpanHashes(benchmark: DataFrame): DataFrame =
    spanStream(benchmark).select(col("gh")).distinct()

  /** Frame-based core of `dd_contamination_scrub`, shared verbatim with
    * the streaming span-decontamination gate
    * (DocStream.contaminationScrubGate) so stream/batch parity holds by
    * construction: drop every token covered by a [[SpanK]]-window
    * occurring in the (broadcast, benchmark-sized) eval span set, and
    * rebuild via the shared [[rebuildWithout]] contract. */
  private[graft] def contaminationScrub(corpus: DataFrame,
      evSpanHashes: DataFrame): DataFrame = {
    val evSpans = broadcast(evSpanHashes.select(col("gh")).distinct())
    val dropped = spanStream(corpus).join(evSpans, Seq("gh"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (SpanK - 1))).as("j"))
      .distinct()
    rebuildWithout(corpus, dropped)
  }

  /** Shared rewrite core of the two span scrubs (`dd_exact_substr_scrub`,
    * `dd_contamination_scrub`): drop the (doc_id, j) token positions in
    * `dropped` from each document and rebuild the text as the
    * position-ordered space-join of the survivors — ONE definition so
    * the two transforms can never diverge on the rewrite contract
    * (accounting columns, empty-result coalescing, ordering). Linear:
    * one positional token explode + an anti join on (doc_id, j) + one
    * per-doc aggregate. */
  private def rebuildWithout(docs: DataFrame,
      dropped: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), graft.functions.TextFunctions.WsRe)).as(Seq("p", "tok")))
      .select(col("doc_id"), (col("p") + 1).cast(LongType).as("j"),
        col("tok"))
    val rebuilt = toks.join(dropped, Seq("doc_id", "j"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("scrubbed_text"))
    docs.select(col("doc_id"),
        size(split(col("text"), graft.functions.TextFunctions.WsRe)).cast(LongType).as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  /** Probe the persisted corpus band index with an arbitrary batch of
    * (doc_id, text) rows — the serving core of `dd_incremental_indexed`,
    * shared verbatim with the streaming `DocStream.dedupGate` micro-batch
    * serve so stream/batch parity holds by construction. The batch pays
    * its own signatures + a bucket-join probe; the exact-Jaccard verify
    * re-shingles only semi-join-pruned corpus candidates. */
  private[graft] def probeBandIndexed(s: SparkSession, d: String,
      batch: DataFrame): DataFrame =
    probeBandIndexedAt(s, d, ensureBandIndex(s, d), batch)

  /** Path-resolved probe — the streaming gate's per-batch half: the band
    * index is already ensured (one corpus fingerprint at stream start),
    * so a batch pays only its own signatures, the bucket join, and the
    * semi-join-pruned candidate re-shingle. `d` is still needed for the
    * candidates' TEXT: that lookup semi-joins the documents table on the
    * (typically tiny, broadcast) candidate id set — the shingling
    * COMPUTE is candidate-sized, while the underlying table read prunes
    * only as far as the bucketed-by-doc_id layout lets the join push
    * (at deployment scale, the id-bucketed store is what makes this
    * lookup cheap, not the semi join alone). */
  private[graft] def probeBandIndexedAt(s: SparkSession, d: String,
      p: String, batch: DataFrame): DataFrame = {
    val buckets = member(s, p, "buckets")
      .filter(size(col("ids")) <= MaxLshBucket)
    val docs = Tables.documents(s, d)
    val cand = bandedKeys(batch)
      .join(buckets, Seq("band", "key"))
      .select(col("doc_id").as("new_id"), explode(col("ids")).as("corp_id"))
      .distinct()
    def shOf(df: DataFrame) =
      df.select(col("doc_id"), wordShingles(col("text"), ShingleN).as("sh"))
    val shBatch = shOf(batch)
    val shCand = shOf(docs.join(
      cand.select(col("corp_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi"))
    bestMatchAbove(cand,
      shBatch.select(col("doc_id").as("new_id"), col("sh").as("sa")),
      shCand.select(col("doc_id").as("corp_id"), col("sh").as("sb")))
  }

  /** Shared verify half of the incremental-dedup twins: exact full-set
    * Jaccard over (new_id, corp_id) candidates, threshold filter, and
    * best-corpus-match selection (highest Jaccard, ties → lowest corpus
    * id). ONE definition on purpose — the `_indexed` twin's row-identity
    * oracle rests on both entries verifying identically, so the tie-break,
    * rounding and threshold must be structurally shared, not
    * hand-synchronized copies. `shNew`/`shCorp` are (new_id|corp_id, sa|sb)
    * shingle frames — the inline entry passes the full shingled corpus,
    * the indexed twin only semi-join-pruned candidates. */
  private def bestMatchAbove(cand: DataFrame, shNew: DataFrame,
      shCorp: DataFrame): DataFrame = {
    val jac = cand
      .join(shNew, Seq("new_id"))
      .join(shCorp, Seq("corp_id"))
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (size(col("sa")) + size(col("sb")) - col("shared")))
      .filter(col("jaccard") >= JaccardThreshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("corp_id"))
    jac.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("new_id").as("doc_id"), col("corp_id").as("dup_of"),
        round(col("jaccard"), 8).as("jaccard"))
      .orderBy("doc_id")
  }

  /** Build-once corpus band-bucket index for incremental dedup: MinHash
    * band keys of every non-batch document, grouped to (band, key,
    * sorted ids) bucket lists — the dedup analogue of the ANN IndexStore
    * artifacts (reference posture: the corpus index lives on shared
    * storage, ingest batches only probe it). Freshness is the standard
    * fingerprint gate over (doc_id, text) of the corpus slice. */
  /** Build-constant string of the MinHash-LSH recipe — every artifact
    * whose member layout depends on the banding (the band index here, the
    * split-components index in PipelinePack) stamps this into its
    * IndexStore params hash, so a recipe change can never serve a stale
    * artifact built under the old banding. */
  private[graft] def lshParams: String =
    s"shingle=$ShingleN,hashes=$NumHashes,bands=$Bands,rows=$Rows"

  private[graft] def ensureBandIndex(s: SparkSession, d: String): String = {
    val corpus = Tables.documents(s, d)
      .filter(col("source") =!= IncrementalBatchSource)
    def build(p: String): Unit =
      bandedKeys(corpus)
        .groupBy(col("band"), col("key"))
        .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
        .write.mode("overwrite").parquet(s"$p/buckets")
    // Freshness gate, in preference order (VERDICT r16 #2): when the
    // ingest maintains an incremental-dump ledger for this corpus, its
    // head is the authoritative version and resolving a fresh index is
    // ONE manifest read — no corpus scan at any corpus size (the
    // reference's high-watermark posture, db/similarity.py:162-181).
    // Without a ledger, the scanned fingerprint stays the gate.
    graft.sim.CorpusLedger.version(s, d) match {
      case Some(v) =>
        graft.sim.IndexStore.ensureVersioned(s, d, "minhash_bands", v,
          lshParams)(build)
      case None =>
        graft.sim.IndexStore.ensure(s, d, "minhash_bands",
          corpus.select(col("doc_id"), col("text")), "doc_id",
          lshParams)(build)
    }
  }

  /** The capped inverted-index pair core shared by the Jaccard and
    * containment joins over a (doc_id, sh) shingled frame: `(shared,
    * sizes)` — shuffle once on shingle, generate pairs inside each
    * df-capped posting list, aggregate shared-counts — no self-join.
    * Per-doc sizes derive from the SAME df-filtered posting lists (one
    * exchange, reused by both branches), so every ratio downstream is
    * computed consistently over the capped shingle universe. The shuffle
    * key is xxhash64(shingle), not the shingle string: 8-byte fixed keys
    * cut shuffle width ~3× (measured ~20% on the whole query); results
    * equal the string-keyed plan unless two distinct shingles collide in
    * 64 bits (~n²/2⁶⁵ — at a trillion distinct shingles, widen to two
    * independent hashes).
    *
    * Candidate pairs aggregate on TWO flat long group columns (doc_a,
    * doc_b) — an UnsafeRow fixed-width hash aggregate, valid over the FULL
    * 64-bit doc-id domain. (An earlier formulation packed the pair into one
    * `(a << 32) | b` long, which capped ids at 2³¹ behind a raise_error
    * guard; the two-column key measures within noise of the packed one and
    * removes the cap — pinned by the >2³² property test in PropertySpec.) */
  private def cappedPairCore(sh: DataFrame): (DataFrame, DataFrame) =
    cappedPairCoreTok(sh.select(col("doc_id"),
      explode(transform(col("sh"), g => xxhash64(g))).as("g")))

  /** [[cappedPairCore]] over an already-exploded (doc_id, g) token frame
    * (g 64-bit-hashed) — the CMS-capped join pre-filters its tokens
    * map-side and shares everything downstream of the explode. */
  private def cappedPairCoreTok(tok: DataFrame): (DataFrame, DataFrame) = {
    val postings = tok
      .groupBy(col("g"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= MaxShingleDf)
    val sizes = postings
      .select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    val shared = postings
      .filter(size(col("ids")) >= 2)
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    (shared, sizes)
  }

  /** Exact n-gram Jaccard near-dup pairs at J ≥ [[JaccardThreshold]] over
    * the [[cappedPairCore]] universe. */
  private[graft] def jaccardPairs(sh: DataFrame): DataFrame = {
    val (shared, sizes) = cappedPairCore(sh)
    jaccardFrom(shared, sizes)
  }

  /** The threshold-Jaccard tail shared by the fixed-cap and CMS-capped
    * joins: size joins + the J ≥ [[JaccardThreshold]] filter. */
  private def jaccardFrom(shared: DataFrame, sizes: DataFrame): DataFrame =
    shared
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast(DoubleType) /
          (col("sa.n") + col("sb.n") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)

  // ---- self-tuning df cap (`dd_jaccard_capped`, VERDICT r12 item 4) -----
  // jaccardPairs' MaxShingleDf is a CONSTANT: on a corpus whose
  // boilerplate lands just under it (measured: semi-boilerplate at
  // df≈800 on the 8x smoke corpus), the fixed cap admits C(df,2) pair
  // events per junk shingle and the audit blows up 3-4x for zero recall
  // gain. Here the cap DERIVES from the corpus: one CMS pass over the
  // shingle stream (StatsPack's grid recipe at a width sized for ~10^6
  // tokens), the df-ESTIMATE histogram's cumulative pair mass, and the
  // largest cap whose mass fits a budget linear in corpus size —
  // boilerplate is dropped exactly when it is what the mass consists of.
  // The filter is PUSHABLE: per-token estimates come from 4 broadcast
  // grid lookups ahead of the postings shuffle, so hot postings are
  // never built. Est ≥ true df (CMS overestimates members of its own
  // stream), so df ≤ cap survives per-shingle work bounds. The drop is
  // LOUD: cap_df and dropped_shingles ride in the output schema, and
  // the oracle recomputes the entire derivation (grid, estimates,
  // histogram, threshold) value-for-value.
  private[graft] val CmsJacWidth = 65536
  private[graft] val CmsJacPrefix = "cmsjac"
  private[graft] val CapFloor = 16L
  private[graft] val PairBudgetPerDoc = 4096L

  /** Memoized derived caps per input plan (see the cap resolution note
    * inside [[jaccardCappedOver]]). Keyed on the EXACT canonicalized
    * plan string, not a 32-bit hash: unlike Skew's hot set (correctness-
    * neutral by split invisibility), a collision here would ship a wrong
    * cap_df into the output schema. Bounded like Skew.hotCache. */
  private val capCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private[graft] def jaccardCappedOver(docs: DataFrame): DataFrame = {
    // Materialize the token stream and the counter grid ONCE: five
    // consumers (grid build, token estimates, histogram estimates, the
    // kept-token filter, postings) would otherwise each re-run the
    // regex shingle split (the CollapseProject re-inlining trap — the
    // split dominates; measured 6.6 s -> ~2 s at sf0.1), and the eight
    // broadcast grid slices would each rebuild the grid shuffle. At
    // scale these are the staged temp tables an ingest pipeline would
    // write anyway.
    val tok = Checkpointed("DedupPack.capTokens", shingledOf(docs)
      .select(col("doc_id"), explode(col("sh")).as("g")))
    val grid = Checkpointed("DedupPack.capGrid",
      StatsPack.cmsGrid(tok.select(col("g").as("k")),
        CmsJacWidth, CmsJacPrefix))
    // map-side estimate: the key's CmsDepth cells against broadcast
    // per-row grid slices (canonical CMS: missing cell = 0 counter)
    def withEst(keys: DataFrame): DataFrame = {
      val cells = StatsPack.cmsCells(col("g"), CmsJacWidth, CmsJacPrefix)
      var t = keys.withColumn("cells", cells)
      for (i <- 0 until StatsPack.CmsDepth)
        t = t.join(broadcast(grid.filter(col("row") === i)
            .select(col("bucket").as(s"_b$i"), col("c").as(s"_c$i"))),
          element_at(col("cells"), i + 1) === col(s"_b$i"), "left")
      val est = least((0 until StatsPack.CmsDepth)
        .map(i => coalesce(col(s"_c$i"), lit(0L))): _*)
      t.withColumn("est", est)
        .drop("cells" +: (0 until StatsPack.CmsDepth)
          .flatMap(i => Seq(s"_b$i", s"_c$i")): _*)
    }
    val tokEst = withEst(tok)
    // distinct-shingle df-estimate histogram -> cumulative DOUBLED pair
    // mass (cnt·est·(est−1), the /2 folded into the budget — all-integer
    // DECIMAL(38,0), HUGEINT in the oracle). The cumulative window runs
    // over the df-VALUE histogram — value-domain bounded (one row per
    // distinct estimate), and it executes once inside the eager 1-row
    // cap resolution below, never in the shipped query plan. Estimates
    // for the histogram run over the DISTINCT shingle frame
    // (vocabulary-sized), not the token stream.
    val hist = withEst(tok.select(col("g")).distinct())
      .groupBy(col("est")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("est"))
    val cum = hist.withColumn("mass",
      sum(col("cnt").cast(DecimalType(38, 0)) *
        col("est").cast(DecimalType(38, 0)) *
        (col("est") - 1).cast(DecimalType(38, 0))).over(wCum))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    // The derived cap is ONE long — resolve it eagerly (bounded metadata,
    // the t1 ledger-head discipline) instead of threading a 1-row frame
    // through four plan branches: the cum window's subtree would
    // otherwise replicate into every consumer (4 executions of the
    // histogram chain, and the registry sweep flagged exactly that).
    // Memoized per input fingerprint, like Skew.hotKeysOf — repeat
    // constructions over the same corpus reuse the harvested cap.
    if (capCache.size > 64) capCache.clear()
    val cap = capCache.computeIfAbsent(
      docs.queryExecution.analyzed.canonicalized.toString, _ =>
        cum.crossJoin(broadcast(nDocs))
          .agg(least(lit(MaxShingleDf.toLong), greatest(lit(CapFloor),
            coalesce(
              max(when(col("mass") <=
                (col("n_docs") * (2L * PairBudgetPerDoc))
                  .cast(DecimalType(38, 0)),
                col("est"))),
              lit(CapFloor)))).as("cap_df"))
          .head().getLong(0))
    val monitor = hist
      .agg(lit(cap).as("cap_df"),
        coalesce(sum(when(col("est") > cap, col("cnt"))
          .otherwise(0L)), lit(0L)).as("dropped_shingles"))
    val keep = tokEst.filter(col("est") <= cap)
      .select(col("doc_id"), xxhash64(col("g")).as("g"))
    val (shared, sizes) = cappedPairCoreTok(keep)
    // components pattern: materialize the (output-sized) result, then
    // free the token/grid checkpoint blocks — no pins after return
    val result = Checkpointed("DedupPack.capResult",
      jaccardFrom(shared, sizes)
        .crossJoin(broadcast(monitor))
        .orderBy("doc_a", "doc_b"))
    tok.unpersist(); grid.unpersist()
    result
  }

  /** Asymmetric near-duplication: C(A→B) = |A∩B| / |A| — "A is (mostly)
    * inside B", the sub-document/quotation relation Jaccard misses when
    * the sizes are lopsided (a paragraph quoted inside a long page has
    * tiny J but containment ≈ 1 on the paragraph side). Exact ppm integer
    * ratios; a pair qualifies when EITHER direction clears
    * [[ContainmentPpm]]. Same capped inverted-index core as the Jaccard
    * join. */
  private[graft] def containmentPairs(sh: DataFrame): DataFrame = {
    val (shared, sizes) = cappedPairCore(sh)
    shared
      .join(sizes.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(sizes.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"),
        expr(s"shared * 1000000L div ca.n").as("cont_a_ppm"),
        expr(s"shared * 1000000L div cb.n").as("cont_b_ppm"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm"))
        >= ContainmentPpm)
  }

  /** The prefix layer shared by the join and its monitor: `(dfk, pref)` —
    * global shingle frequencies, and each document's prefix tokens (its
    * `|d| − ⌈t·|d|⌉ + 1` globally-rarest shingles; ties broken by the
    * shingle itself — binary string order, identical in DuckDB). The hot
    * boilerplate shingles sort LAST and fall out of nearly every prefix,
    * so no df cap is needed — and none is applied: the filter is
    * lossless for J ≥ [[JaccardThreshold]]. t = 4/5 exactly:
    * ⌈4n/5⌉ = (4n+4) div 5. */
  private[graft] def prefixTokens(sh: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val tok = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfk = tok.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pref = tok.join(dfk, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))))
      .join(sizes, "doc_id")
      .filter(col("rn") <= expr("n - (4L * n + 4L) div 5 + 1L"))
      .select(col("doc_id"), col("g"))
    (dfk, pref)
  }

  /** Candidate pairs from the prefix postings, as a STREAMED self-join on
    * the token (renamed frames — alias-based self-joins can silently
    * cross sides): pairs flow out of the join, so a pathological prefix
    * posting never buffers C(k,2) structs inside one aggregation row the
    * way a collect_list + pairCombos shape would (the OOM pattern the df
    * caps elsewhere in this file exist to prevent — here the lossless
    * contract forbids a cap, so the SHAPE has to be the guard). */
  private[graft] def prefixCandidates(pref: DataFrame): DataFrame = {
    val a = pref.select(col("doc_id").as("doc_a"), col("g"))
    val b = pref.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    a.join(b, col("g") === col("gb") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The exact verify half: one full-set intersect per candidate pair,
    * threshold filter — same output columns as [[jaccardPairs]]. */
  private[graft] def verifyPrefixPairs(sh: DataFrame,
      cand: DataFrame): DataFrame = {
    val sets = sh.select(col("doc_id"), col("sh"),
      size(col("sh")).cast(LongType).as("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"),
        col("n").as("nb")), "doc_b")
      .withColumn("shared",
        size(array_intersect(col("sa"), col("sb"))).cast(LongType))
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))
  }

  /** Prefix-filtered exact threshold-Jaccard join — the TRUE capless
    * J ≥ t pair set (spec-pinned ≡ the naive all-pairs road). */
  private[graft] def prefixJaccardPairs(sh: DataFrame): DataFrame = {
    val (_, pref) = prefixTokens(sh)
    verifyPrefixPairs(sh, prefixCandidates(pref))
  }

  /** Connected components over an undirected edge list `(doc_a, doc_b)` →
    * `(doc_id, rep)` where `rep` is the component's minimum id — one row per
    * node that appears in any edge. Deterministic regardless of
    * partitioning (min is order-free).
    *
    * Algorithm: min-label propagation to a fixpoint — each iteration every
    * node takes the min of its own label and its neighbours' labels; stop
    * when no label changed. O(component diameter) iterations, each ONE
    * shuffle join on id (this is the GraphX/Pregel pattern expressed in
    * DataFrames). Near-dup components are dense (LSH buckets emit cliques),
    * so the diameter — and the iteration count — is small in practice.
    *
    * Scale notes: (a) `localCheckpoint(eager)` each iteration truncates the
    * lineage, without which iteration k re-plans k nested joins and the
    * driver OOMs long before the executors do; (b) the per-iteration state
    * is (node, label) — two longs per node, far smaller than the input
    * corpus; (c) at extreme skew (one giant component) the upgrade is
    * large-star/small-star [Kiveris et al., "Connected Components in
    * MapReduce and Beyond"], which converges in O(log² n) with the same
    * join-per-iteration shape. */
  /** Iteration ceiling for [[connectedComponents]]' min-label phase.
    * Propagation converges in O(graph diameter) rounds; near-dup graphs
    * are dense clique unions (diameter a few hops), so a propagation
    * still changing labels after this many rounds means the input is NOT
    * near-dup-shaped (e.g. a pathological long chain) — the computation
    * then switches to the large-star/small-star decomposition
    * ([[connectedComponentsLSS]]), which converges in O(log² n) rounds on
    * ANY graph, instead of grinding a join loop per diameter hop on a
    * 1000-executor cluster. Deliberately TIGHT (was 50 when tripping it
    * was fatal): the cap is now a cheap same-answer restart, and every
    * capped iteration is a wasted shuffle join + count, so wrong-shaped
    * inputs should hand off early — real near-dup graphs converge well
    * under this. */
  private[graft] val MaxComponentIters = 15

  /** Rounds the LAST min-label-propagation run took — the hash-min
    * counterpart of [[LastLssRounds]] (dd_components' actual path; LSS
    * runs only on the diameter fallback or direct calls). Spec-pinned
    * small at fixture scale; the scale smoke reads it at 8x/64x. */
  private[graft] val LastHashMinRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def connectedComponents(
      edges: DataFrame, maxIters: Int = MaxComponentIters): DataFrame = {
    LastHashMinRounds.set(0)
    val e = edges.persist() // re-read every iteration
    val adj = e.select(col("doc_a").as("id"), col("doc_b").as("nbr"))
      .union(e.select(col("doc_b").as("id"), col("doc_a").as("nbr")))
    var labels = adj.select(col("id")).distinct()
      .withColumn("rep", col("id"))
      .transform(df => Checkpointed("DedupPack.hashmin.init", df))
    var changed = 1L
    var iters = 0
    while (changed > 0) {
      iters += 1
      if (iters > maxIters) {
        // not near-dup-shaped after all — restart under the
        // diameter-independent decomposition (identical labels: the
        // component minimum is unique, so the two algorithms agree
        // row-for-row; property-spec'd)
        e.unpersist()
        labels.unpersist()
        return connectedComponentsLSS(edges)
      }
      val nbrRep = adj
        .join(labels.select(col("id").as("nid"), col("rep")),
          col("nbr") === col("nid"))
        .select(col("id"), col("rep"))
      val next = labels.select(col("id"), col("rep")).union(nbrRep)
        .groupBy(col("id")).agg(min(col("rep")).as("rep"))
        .transform(df => Checkpointed("DedupPack.hashmin.round", df))
      // monotone: labels only decrease, so "changed" = any strict decrease
      changed = next
        .join(labels.select(col("id"), col("rep").as("old")), "id")
        .filter(col("rep") < col("old")).count()
      labels.unpersist() // superseded checkpoint blocks — free them now
      labels = next
      LastHashMinRounds.set(iters)
    }
    e.unpersist()
    labels.select(col("id").as("doc_id"), col("rep"))
  }

  /** Round-ceiling FLOOR for [[connectedComponentsLSS]] — the actual
    * ceiling scales with the node count as `max(floor, 4·⌈log₂ n⌉²)`:
    * Kiveris et al. prove O(log² n) alternations, so a fixed constant
    * would mislabel a legitimately huge pathological graph as a bug
    * (⌈log₂ n⌉² alone exceeds 64 past ~256 nodes in the worst case,
    * though real graphs converge in a handful of rounds). A run still
    * moving past the SCALED ceiling is a genuine bug. */
  private[graft] val MinLssRounds = 64

  /** Rounds the LAST components run took to reach its fixpoint — pure
    * observability (the loop is already hard-bounded by the O(log^2 n)
    * throw). The spec pins convergence at a small constant on the
    * fixture, and the scale smoke reads it at 8x/64x pair-graph scale:
    * alternating large-star/small-star contracts star-forest components
    * in O(log n) rounds regardless of input size, so a rounds count that
    * GROWS with replication would flag a contraction bug long before the
    * maxRounds throw. */
  private[graft] val LastLssRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Connected components by large-star/small-star alternation [Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014] —
    * the diameter-INDEPENDENT algorithm min-label propagation hands off
    * to: each round is two neighborhood aggregations instead of one
    * label join, but the round count is O(log² n) on ANY graph (a
    * million-hop chain finishes in tens of rounds, not a million).
    * Same contract as [[connectedComponents]]: (doc_id, rep) with rep =
    * the component's minimum id, one row per node appearing in any edge
    * — the two implementations agree row-for-row (property-spec'd),
    * because the component minimum is unique whatever the algorithm.
    *
    * Round semantics (edges kept as unordered pairs, self-loops dropped):
    *   large-star: every node u links each STRICTLY-LARGER neighbor v to
    *     m(u) = min(N(u) ∪ {u}) — big nodes shortcut toward small ones;
    *   small-star: every node u links each not-larger neighbor (and
    *     itself) to the minimum of that closed not-larger neighborhood —
    *     local stars flatten onto their minimum.
    * The fixpoint is a star forest: every edge is (root, member) with
    * root = component min, read off directly as the label frame. */
  private[graft] def connectedComponentsLSS(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    // canonical undirected pair set (a < b), self-loops out
    def canon(e: DataFrame): DataFrame =
      e.filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
        .distinct()
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id"))).distinct()
      .transform(df => Checkpointed("DedupPack.nodes", df))
    def adj(e: DataFrame): DataFrame =
      e.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val a = adj(e)
      val m = a.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      canon(a.join(m, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("doc_a"), col("m").as("doc_b")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // closed not-larger neighborhood: neighbors v <= u plus u itself —
      // the self rows come from the already-checkpointed node set (nodes
      // never vanish mid-computation: both contractions keep every
      // non-isolated node in some edge), so the adjacency is built and
      // scanned ONCE per round instead of paying a second union plus a
      // distinct just to enumerate nodes
      val a = adj(e).filter(col("v") <= col("u"))
        .union(nodes.select(col("doc_id").as("u"), col("doc_id").as("v")))
      val m = a.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(a.join(m, Seq("u"))
        .select(col("v").as("doc_a"), col("m").as("doc_b")))
    }
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, nodes.count() - 1)) // ⌈log₂ n⌉ for n ≥ 1
    val maxRounds = math.max(MinLssRounds, 4 * log2n * log2n)
    var cur = Checkpointed("DedupPack.lss.init", canon(edges))
    var rounds = 0
    var stable = false
    LastLssRounds.set(0)
    while (!stable) {
      rounds += 1
      if (rounds > maxRounds) {
        cur.unpersist(); nodes.unpersist() // no leak on the failure path
        throw new IllegalStateException(
          s"large-star/small-star still moving after $maxRounds rounds" +
            " — beyond the O(log^2 n) bound; this is a bug, not an input")
      }
      val next = Checkpointed("DedupPack.lss.round",
        smallStar(largeStar(cur)))
      // fixpoint: the canonical pair sets coincide (both directions of
      // except, since counts alone can't see a swap)
      stable = next.exceptAll(cur).isEmpty && cur.exceptAll(next).isEmpty
      LastLssRounds.set(rounds)
      cur.unpersist() // superseded checkpoint blocks — free them now
      cur = next
    }
    // star forest: (root, member) pairs; roots label themselves
    val members = cur.select(col("doc_b").as("doc_id"), col("doc_a").as("rep"))
      .union(cur.select(col("doc_a").as("doc_id"), col("doc_a").as("rep")))
      .groupBy(col("doc_id")).agg(min(col("rep")).as("rep"))
    // isolated-in-the-star-forest guard: every input node gets a row.
    // Materialize the label frame EAGERLY so `nodes` and the final `cur`
    // intermediates can be freed before returning — repeated inline calls
    // (components, cap, split builds) in a long-lived driver must not
    // accumulate two pinned checkpoint blocks per invocation; the single
    // result block is label-sized (two longs per node) and is the one
    // frame the caller actually reads.
    val result = nodes.join(members, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .transform(df => Checkpointed("DedupPack.components", df))
    cur.unpersist(); nodes.unpersist()
    result
  }

  /** MinHash+LSH candidate pairs (doc_a < doc_b, distinct) over any
    * (doc_id, text, …) frame — the staged plan with Generate/Aggregate
    * barriers so every expensive expression evaluates exactly once: explode
    * shingles → 4 md5s per shingle (hashMaterial) → 16-column minhash via
    * codegen'd hash aggregate → band keys → bucket groupBy (NULL keys
    * dropped, hot buckets capped) → local pair expansion. Shared by
    * `dd_minhash_lsh` (whole table) and PipelinePack's corpus prep
    * (filtered corpus). */
  private[graft] def minhashPairs(docs: DataFrame): DataFrame =
    bandedKeys(docs)
      .groupBy(col("band"), col("key"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, MaxLshBucket))
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** [[minhashPairs]] over the full documents table, reconstructed from
    * the PERSISTED band-index artifact instead of re-minhashing the
    * corpus (the ann_recall served-artifact pattern, r17): the
    * non-batch corpus contributes its bucket id-lists straight from
    * [[ensureBandIndex]]'s parquet (built uncapped, so nothing is lost
    * to serve-time policy), the incremental batch slice — the only rows
    * the artifact excludes — re-signatures batch-side only, and the two
    * merge per (band, key) before the pack-wide bucket cap and pair
    * expansion apply to the COMBINED list, exactly as the inline plan
    * applies them to the full table. Row-identical to
    * `minhashPairs(documents)` by construction (groupBy over a disjoint
    * source split); the shuffle is keyed on (band, key) over
    * bucket-count-sized rows, never on the corpus shingle stream. */
  private[graft] def servedMinhashPairs(s: SparkSession, d: String): DataFrame = {
    val p = ensureBandIndex(s, d)
    val batchKeys = bandedKeys(Tables.documents(s, d)
        .filter(col("source") === IncrementalBatchSource))
      .groupBy(col("band"), col("key"))
      .agg(collect_list(col("doc_id")).as("bids"))
    member(s, p, "buckets")
      .join(batchKeys, Seq("band", "key"), "full_outer")
      .select(array_sort(concat(
        coalesce(col("ids"), array().cast("array<bigint>")),
        coalesce(col("bids"), array().cast("array<bigint>")))).as("ids"))
      .filter(size(col("ids")).between(2, MaxLshBucket))
      .select(explode(pairCombos(col("ids"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** (doc_id, band, key) MinHash band keys (NULL keys dropped) over any
    * (doc_id, text, …) frame — the signature half of [[minhashPairs]],
    * shared with the incremental probe (`dd_incremental_lsh`), whose
    * corpus side is exactly this frame persisted as an index at scale. */
  private[graft] def bandedKeys(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), wordShingles(col("text"), ShingleN).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), hashMaterial(col("g")).as("h"))
      .groupBy(col("doc_id"))
      .agg(minhashAggsList.head, minhashAggsList.tail: _*)
      .select(col("doc_id"),
        posexplode(array(bandKeyCols(Bands, Rows): _*)).as(Seq("band", "key")))
      .filter(col("key").isNotNull)

  /** DuckDB CTE producing (doc_id, sh) distinct word-3-gram shingle lists
    * from any (doc_id, text, …) relation — mirrors `wordShingles`. */
  private def shingleCteFrom(src: String): String =
    s"""toks AS (SELECT doc_id, text, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
       |         FROM $src),
       |sh AS (SELECT doc_id,
       |         CASE WHEN len(t) >= 3 THEN
       |           list_distinct(list_transform(generate_series(1, len(t) - 2),
       |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |         ELSE [text] END AS sh
       |       FROM toks)""".stripMargin

  private val shingleCte = shingleCteFrom("documents")

  /** DuckDB CTE chain mirroring [[prefixTokens]] + [[prefixCandidates]]:
    * ends in `cand(doc_a, doc_b)` with `ex`/`dfk`/`sizes`/`pref` in
    * scope — ONE definition shared by the join oracle and its stats
    * oracle, so the prefix-length formula can never de-synchronize the
    * join from its own monitor. */
  private val prefixCtes =
    s"""$shingleCte,
       |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |dfk AS (SELECT g, COUNT(*) AS df FROM ex GROUP BY g),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
       |          FROM ex GROUP BY doc_id),
       |pos AS (SELECT doc_id, ex.g,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY df, ex.g)
       |      AS rn
       |  FROM ex JOIN dfk USING (g)),
       |pref AS (SELECT doc_id, g FROM pos JOIN sizes USING (doc_id)
       |         WHERE rn <= n - (4 * n + 4) // 5 + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b
       |    ON a.g = b.g AND a.doc_id < b.doc_id)""".stripMargin

  /** The exact-verify shared-count body over `cand` (one per oracle). */
  private val prefixShrSql =
    """SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS shared
      |  FROM cand c
      |  JOIN ex a ON a.doc_id = c.doc_a
      |  JOIN ex b ON b.doc_id = c.doc_b AND b.g = a.g
      |  GROUP BY c.doc_a, c.doc_b""".stripMargin

  /** DuckDB CTE chain mirroring [[bandedKeys]] over relation `src`, ending
    * in `banded(doc_id, band, key)` (key may be NULL — consumers filter). */
  private[operators] def bandedCtes(src: String): String = {
    val mats = (0 until MinhashMd5s).map(j => s"md5('$j:' || g)")
      .mkString(" || ")
    val minCols = (0 until NumHashes)
      .map(j => s"min(CAST('0x' || substring(h, ${j * 8 + 1}, 8) AS BIGINT)) AS m$j")
      .mkString(", ")
    val bandExprs = (0 until Bands)
      .map(b => (0 until Rows).map(r => s"m${b * Rows + r}")
        .mkString("md5(", " || '|' || ", ")"))
    s"""${shingleCteFrom(src)},
       |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |hs AS (SELECT doc_id, $mats AS h FROM ex),
       |sig AS (SELECT doc_id, $minCols FROM hs GROUP BY doc_id),
       |banded AS (SELECT doc_id, band,
       |  CASE band ${bandExprs.zipWithIndex
            .map { case (e, b) => s"WHEN $b THEN $e" }.mkString(" ")} END
       |    AS key
       |  FROM sig CROSS JOIN
       |    (SELECT unnest(generate_series(0, ${Bands - 1})) AS band) b)"""
      .stripMargin
  }

  /** DuckDB CTE chain mirroring [[minhashPairs]] over relation `src`, ending
    * in `mhpairs(doc_a, doc_b)` (distinct, doc_a < doc_b). */
  private[operators] def minhashPairCtes(src: String): String =
    s"""${bandedCtes(src)},
       |buckets AS (SELECT band, key FROM banded
       |  WHERE key IS NOT NULL GROUP BY band, key
       |  HAVING COUNT(*) BETWEEN 2 AND $MaxLshBucket),
       |mhpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM banded a
       |JOIN buckets k ON a.band = k.band AND a.key = k.key
       |JOIN banded b ON a.band = b.band AND a.key = b.key
       |  AND a.doc_id < b.doc_id)""".stripMargin

  /** DuckDB CTE chain producing sims(doc_id, simhash) — mirrors
    * `simhashBits`. */
  private val simhashCte =
    """tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS tk
      |  FROM documents),
      |th AS (SELECT doc_id, md5(tk) AS h FROM tok),
      |bt AS (
      |  SELECT doc_id, i,
      |    CASE WHEN SUM(
      |      (CAST(floor(
      |         (strpos('0123456789abcdef',
      |            substring(h, CAST(i // 4 AS INTEGER) + 1, 1)) - 1)
      |         / power(2, 3 - (i % 4))) AS BIGINT) % 2) * 2 - 1) > 0
      |    THEN '1' ELSE '0' END AS b
      |  FROM th CROSS JOIN
      |    (SELECT unnest(generate_series(0, 63)) AS i) bits
      |  GROUP BY doc_id, i),
      |sims AS (SELECT doc_id, string_agg(b, '' ORDER BY i) AS simhash
      |  FROM bt GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // row-identity against the inline incremental entry's already-oracle-
    // checked verify output (the ANN `_indexed` twins' pattern — the
    // artifact serves IDENTICAL rows by construction; the plan-level
    // "reads the artifact" half is PlanSpec's)
    "dd_incremental_indexed" ->
      "SELECT * FROM '__GRAFT_OUT__/dd_incremental_lsh/*.parquet'",

    // plain within-brand quadratic — blocking and the length filter must
    // be invisible
    "dd_edit_blocked" ->
      s"""WITH pr0 AS (SELECT p_partkey AS k, p_brand AS brand,
         |    p_name AS name, length(p_name) AS len FROM part),
         |  pr AS (SELECT k, brand, name FROM (
         |    SELECT k, brand, name, row_number() OVER (
         |      PARTITION BY brand, len
         |      ORDER BY md5('edit:' || CAST(k AS VARCHAR)), k) AS cr
         |    FROM pr0) WHERE cr <= $EditCellCap)
         |SELECT x.brand, x.k AS key_a, y.k AS key_b,
         |  x.name AS name_a, y.name AS name_b,
         |  CAST(levenshtein(x.name, y.name) AS BIGINT) AS dist
         |FROM pr x JOIN pr y ON x.brand = y.brand AND x.k < y.k
         |WHERE levenshtein(x.name, y.name) <= $EditMax
         |ORDER BY x.brand, key_a, key_b""".stripMargin,

    "dd_edit_cells" ->
      s"""WITH cells AS (SELECT p_brand AS brand, length(p_name) AS len,
         |    CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM part GROUP BY 1, 2)
         |SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  max(n_members) AS max_cell,
         |  CAST(sum(CASE WHEN n_members > $EditCellCap THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_capped_cells,
         |  CAST(sum(CASE WHEN n_members > $EditCellCap
         |    THEN n_members - $EditCellCap ELSE 0 END) AS BIGINT)
         |    AS n_dropped
         |FROM cells GROUP BY brand ORDER BY brand""".stripMargin,

    "dd_exact_hash" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY min(doc_id)""".stripMargin,

    // same capped universe as jaccardPairs, ppm integer ratios
    "dd_containment" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |dfk AS (SELECT g, COUNT(*) AS c FROM ex GROUP BY g),
         |keep AS (SELECT doc_id, ex.g FROM ex JOIN dfk USING (g)
         |         WHERE c <= $MaxShingleDf),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM keep GROUP BY doc_id),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS shared
         |  FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, shared, sa.n AS n_a, sb.n AS n_b,
         |  shared * 1000000 // sa.n AS cont_a_ppm,
         |  shared * 1000000 // sb.n AS cont_b_ppm
         |FROM shared
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE greatest(shared * 1000000 // sa.n,
         |  shared * 1000000 // sb.n) >= $ContainmentPpm
         |ORDER BY doc_a, doc_b""".stripMargin,


    // mirrors jaccardCappedOver: the CMS grid at the cmsjac family
    // (CmsJacWidth buckets), per-shingle MIN-cell estimates, the
    // heavy CTEs MATERIALIZED (DuckDB 1.0 inlines multiply-referenced
    // CTEs — ckeep feeds sizes + both join sides, so the whole grid
    // chain would otherwise re-execute per reference; the
    // SimilarityPack.materializeCtes lesson), then the
    // df-estimate histogram's cumulative doubled pair mass (HUGEINT),
    // the budgeted threshold, and the same pairs tail over the kept
    // universe — every derived value replayed, incl. the monitor columns
    "dd_jaccard_capped" ->
      s"""WITH $shingleCte,
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |cgrid AS MATERIALIZED (SELECT i,
         |    ('0x' || substr(md5('$CmsJacPrefix' || CAST(i AS VARCHAR)
         |      || ':' || g), 1, 8))::BIGINT % $CmsJacWidth AS bucket,
         |    COUNT(*) AS c
         |  FROM ex CROSS JOIN (SELECT unnest(generate_series(0,
         |    ${StatsPack.CmsDepth - 1})) AS i) gi
         |  GROUP BY 1, 2),
         |cdest AS MATERIALIZED (SELECT g, MIN(COALESCE(c, 0)) AS est FROM (
         |  SELECT d.g, gr.c FROM (SELECT DISTINCT g FROM ex) d
         |  CROSS JOIN (SELECT unnest(generate_series(0,
         |    ${StatsPack.CmsDepth - 1})) AS i) gi
         |  LEFT JOIN cgrid gr ON gr.i = gi.i AND gr.bucket =
         |    ('0x' || substr(md5('$CmsJacPrefix' || CAST(gi.i AS VARCHAR)
         |      || ':' || d.g), 1, 8))::BIGINT % $CmsJacWidth) t
         |  GROUP BY g),
         |chist AS MATERIALIZED (SELECT est, COUNT(*) AS cnt FROM cdest GROUP BY est),
         |ccum AS (SELECT est,
         |    SUM(CAST(cnt AS HUGEINT) * est * (est - 1))
         |      OVER (ORDER BY est) AS mass
         |  FROM chist),
         |cnd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |cthr AS (SELECT LEAST($MaxShingleDf, GREATEST($CapFloor,
         |    COALESCE((SELECT MAX(est) FROM ccum, cnd
         |      WHERE mass <= 2 * $PairBudgetPerDoc * n_docs), $CapFloor)))
         |  AS cap_df),
         |cmon AS (SELECT COALESCE(SUM(CASE WHEN est > cap_df THEN cnt
         |    ELSE 0 END), 0) AS dropped_shingles FROM chist, cthr),
         |ckeep AS MATERIALIZED (SELECT e.doc_id, e.g FROM ex e JOIN cdest USING (g),
         |  cthr WHERE est <= cap_df),
         |csizes AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM ckeep GROUP BY doc_id),
         |cshared AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS shared
         |  FROM ckeep a JOIN ckeep b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, shared,
         |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard,
         |  (SELECT CAST(cap_df AS BIGINT) FROM cthr) AS cap_df,
         |  (SELECT CAST(dropped_shingles AS BIGINT) FROM cmon)
         |    AS dropped_shingles
         |FROM cshared
         |JOIN csizes sa ON doc_a = sa.doc_id
         |JOIN csizes sb ON doc_b = sb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
         |  >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,

    // replays the prefix algebra value-for-value: df, the (df, g) order
    // (binary string comparison in both engines), the ⌈4n/5⌉ integer
    // prefix length, candidate pairing, and the capless exact verify —
    // the CTE chain is ONE definition (prefixCtes) shared with the stats
    // oracle, like the Spark side's shared prefixTokens
    "dd_jaccard_prefix" ->
      s"""WITH $prefixCtes,
         |shr AS ($prefixShrSql)
         |SELECT doc_a, doc_b, shared,
         |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
         |FROM shr
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
         |  >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,

    // HUGEINT cross-products mirroring the engine's DECIMAL(38,0)
    "dd_jaccard_prefix_stats" ->
      s"""WITH $prefixCtes,
         |shr AS ($prefixShrSql),
         |mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched FROM shr
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
         |    >= $JaccardThreshold),
         |dfp AS (SELECT g, COUNT(*) AS dfp FROM pref GROUP BY g),
         |f2 AS (SELECT SUM(CAST(df AS HUGEINT) * (df - 1)) AS full2
         |       FROM dfk),
         |p2 AS (SELECT SUM(CAST(dfp AS HUGEINT) * (dfp - 1)) AS pref2
         |       FROM dfp)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sh) AS n_docs,
         |  CAST(full2 // 2 AS BIGINT) AS full_pairs,
         |  CAST(pref2 // 2 AS BIGINT) AS prefix_pairs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
         |  mt.n_matched,
         |  CAST(CASE WHEN full2 > 0
         |    THEN (full2 - pref2) * 1000 // full2 ELSE 0 END AS BIGINT)
         |    AS pruned_permille
         |FROM mt, f2, p2""".stripMargin,

    "dd_minhash_lsh" ->
      s"""WITH ${minhashPairCtes("documents")}
         |SELECT doc_a, doc_b FROM mhpairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dd_exact_substr" -> {
      val spanSql = (0 until SpanK).map(k => s"t[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM documents),
         |pos AS (SELECT doc_id, $spanSql AS g
         |  FROM t, unnest(generate_series(1, greatest(len(t) - ${SpanK - 1},
         |    0))) AS u(i)
         |  WHERE len(t) >= $SpanK),
         |ddf AS (SELECT g, COUNT(DISTINCT doc_id) AS ddf FROM pos GROUP BY g),
         |dup AS (SELECT g, 1 AS ind FROM ddf WHERE ddf >= 2),
         |agg AS (SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  CAST(COUNT(dup.ind) AS BIGINT) AS n_dup_spans
         |  FROM pos p LEFT JOIN dup ON dup.g = p.g GROUP BY p.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(a.n_spans, 0) AS n_spans,
         |  COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
         |  CASE WHEN COALESCE(a.n_spans, 0) = 0 THEN 0.0
         |    ELSE round(CAST(a.n_dup_spans AS DOUBLE) / a.n_spans, 8)
         |  END AS dup_frac
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },

    // mirrors dd_exact_substr_scrub: span keeper = MIN(doc_id) over the
    // doc-distinct span stream, positions of non-keeper duplicated spans
    // explode to their covered token indexes, and the rewrite is a
    // position-ordered string_agg of the surviving tokens (raw span
    // strings here vs xxhash64 keys in the engine — equal unless two
    // spans collide in 64 bits)
    "dd_exact_substr_scrub" -> {
      val spanSql = (0 until SpanK).map(k => s"t[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t
         |  FROM documents),
         |pos AS (SELECT doc_id, i, $spanSql AS g
         |  FROM t, unnest(generate_series(1, greatest(len(t) - ${SpanK - 1},
         |    0))) AS u(i)
         |  WHERE len(t) >= $SpanK),
         |dup AS (SELECT g, MIN(doc_id) AS keeper FROM pos GROUP BY g
         |  HAVING COUNT(DISTINCT doc_id) >= 2),
         |marked AS (SELECT p.doc_id, p.i FROM pos p
         |  JOIN dup ON dup.g = p.g AND dup.keeper <> p.doc_id),
         |dropped AS (SELECT DISTINCT m.doc_id, j FROM marked m,
         |  unnest(generate_series(m.i, m.i + ${SpanK - 1})) AS v(j)),
         |toks AS (SELECT doc_id, CAST(j AS BIGINT) AS j, t[j] AS tok
         |  FROM t, unnest(generate_series(1, len(t))) AS w(j)),
         |kept AS (SELECT k.doc_id, k.j, k.tok FROM toks k
         |  LEFT JOIN dropped d ON d.doc_id = k.doc_id AND d.j = k.j
         |  WHERE d.j IS NULL),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY j) AS scrubbed_text
         |  FROM kept GROUP BY doc_id)
         |SELECT tt.doc_id, CAST(len(tt.t) AS BIGINT) AS n_tokens,
         |  CAST(len(tt.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
         |  COALESCE(a.scrubbed_text, '') AS scrubbed_text
         |FROM t tt LEFT JOIN agg a ON a.doc_id = tt.doc_id
         |ORDER BY tt.doc_id""".stripMargin
    },

    // mirrors dd_contamination_scrub: eval span set (raw strings vs
    // xxhash64 keys — equal unless two spans collide in 64 bits), marked
    // corpus positions, and the shared position-ordered rebuild
    "dd_contamination_scrub" -> {
      val spanSql = (0 until SpanK).map(k => s"t[i+$k]")
        .mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id, source,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |cpos AS (SELECT doc_id, i, $spanSql AS g
         |  FROM t, unnest(generate_series(1, greatest(len(t) - ${SpanK - 1},
         |    0))) AS u(i)
         |  WHERE len(t) >= $SpanK AND source <> '$ContaminationEvalSource'),
         |epos AS (SELECT DISTINCT $spanSql AS g
         |  FROM t, unnest(generate_series(1, greatest(len(t) - ${SpanK - 1},
         |    0))) AS u(i)
         |  WHERE len(t) >= $SpanK AND source = '$ContaminationEvalSource'),
         |marked AS (SELECT c.doc_id, c.i FROM cpos c JOIN epos e
         |  ON e.g = c.g),
         |dropped AS (SELECT DISTINCT m.doc_id, j FROM marked m,
         |  unnest(generate_series(m.i, m.i + ${SpanK - 1})) AS v(j)),
         |toks AS (SELECT doc_id, CAST(j AS BIGINT) AS j, t[j] AS tok
         |  FROM t, unnest(generate_series(1, len(t))) AS w(j)
         |  WHERE source <> '$ContaminationEvalSource'),
         |kept AS (SELECT k.doc_id, k.j, k.tok FROM toks k
         |  LEFT JOIN dropped d ON d.doc_id = k.doc_id AND d.j = k.j
         |  WHERE d.j IS NULL),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  string_agg(tok, ' ' ORDER BY j) AS scrubbed_text
         |  FROM kept GROUP BY doc_id)
         |SELECT tt.doc_id, CAST(len(tt.t) AS BIGINT) AS n_tokens,
         |  CAST(len(tt.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
         |  COALESCE(a.scrubbed_text, '') AS scrubbed_text
         |FROM t tt LEFT JOIN agg a ON a.doc_id = tt.doc_id
         |WHERE tt.source <> '$ContaminationEvalSource'
         |ORDER BY tt.doc_id""".stripMargin
    },

    "dd_contamination" ->
      s"""WITH tokc AS (SELECT doc_id, source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shc AS (SELECT doc_id, source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tokc),
         |ev AS (SELECT DISTINCT unnest(sh) AS g FROM shc
         |  WHERE source = '$ContaminationEvalSource'),
         |cx AS (SELECT doc_id, unnest(sh) AS g FROM shc
         |  WHERE source <> '$ContaminationEvalSource'),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(*) FILTER (WHERE g IN (SELECT g FROM ev)) AS BIGINT)
         |    AS n_hits
         |  FROM cx GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / n_shingles, 8) AS overlap
         |FROM agg
         |WHERE round(CAST(n_hits AS DOUBLE) / n_shingles, 8)
         |  >= $ContaminationThreshold
         |ORDER BY doc_id""".stripMargin,

    // the dd_components recursive chain + per-group rank over ALL docs
    // (singleton fallback = own id, like the split oracles)
    "dd_component_cap" ->
      s"""WITH RECURSIVE ${minhashPairCtes("documents")},
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mhpairs
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM mhpairs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src AS id, rc.r FROM edges e
         |  JOIN reach rc ON rc.id = e.dst),
         |comp AS (SELECT id AS doc_id, MIN(r) AS rep FROM reach GROUP BY id),
         |g AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS grp
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, grp,
         |  CAST(row_number() OVER (PARTITION BY grp ORDER BY doc_id)
         |    AS BIGINT) AS member_rank,
         |  row_number() OVER (PARTITION BY grp ORDER BY doc_id)
         |    <= $ComponentCap AS kept
         |FROM g ORDER BY doc_id""".stripMargin,

    // row-identity against the inline cap's already-oracle-checked verify
    // output (the `_indexed` twins' pattern; the plan-level "reads the
    // labels, never re-shingles" half is PlanSpec's)
    "dd_component_cap_indexed" ->
      "SELECT * FROM '__GRAFT_OUT__/dd_component_cap/*.parquet'",

    // component minimum via transitive closure (UNION-dedup bounds the
    // recursion; near-dup components are tiny at oracle scale)
    "dd_components" ->
      s"""WITH RECURSIVE ${minhashPairCtes("documents")},
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mhpairs
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM mhpairs),
         |reach AS (
         |  SELECT src AS id, src AS r FROM edges
         |  UNION
         |  SELECT e.src AS id, rc.r FROM edges e
         |  JOIN reach rc ON rc.id = e.dst)
         |SELECT id AS doc_id, MIN(r) AS rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // counts over the two verified pair sets and their join — the
    // recall number can only be right if both entries are
    "dd_lsh_recall" ->
      """WITH e AS (SELECT doc_a, doc_b
        |  FROM '__GRAFT_OUT__/dd_jaccard_prefix/*.parquet'),
        |c AS (SELECT doc_a, doc_b
        |  FROM '__GRAFT_OUT__/dd_minhash_lsh/*.parquet'),
        |n AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_exact,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_candidates,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e
        |     JOIN c USING (doc_a, doc_b)) AS n_recalled)
        |SELECT n_exact, n_candidates, n_recalled,
        |  CASE WHEN n_exact > 0
        |    THEN n_recalled * 1000 // n_exact END AS recall_permille
        |FROM n""".stripMargin,

    // re-aggregates the already-verified label frame (OutToken road) —
    // the artifact the engine serves from must match what dd_components
    // emits, so a drifted artifact is a value mismatch here
    "dd_component_sizes" ->
      """WITH sz AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM '__GRAFT_OUT__/dd_components/*.parquet' GROUP BY rep)
        |SELECT sz AS component_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_components
        |FROM sz GROUP BY sz ORDER BY component_size""".stripMargin,

    "dd_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,

    "dd_simhash_pairs" ->
      s"""WITH $simhashCte,
         |blocks AS (SELECT doc_id, simhash, blk,
         |  substring(simhash, blk * 16 + 1, 16) AS key
         |  FROM sims CROSS JOIN
         |    (SELECT unnest(generate_series(0, ${SimhashBlocks - 1})) AS blk) bl),
         |buckets AS (SELECT blk, key FROM blocks GROUP BY blk, key
         |  HAVING COUNT(*) BETWEEN 2 AND $MaxLshBucket),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
         |    b.doc_id AS doc_b, b.simhash AS sb
         |  FROM blocks a
         |  JOIN buckets k ON a.blk = k.blk AND a.key = k.key
         |  JOIN blocks b ON a.blk = b.blk AND a.key = b.key
         |    AND a.doc_id < b.doc_id),
         |ham AS (SELECT doc_a, doc_b,
         |  CAST(len(list_filter(generate_series(1, 64),
         |    i -> substring(sa, CAST(i AS INTEGER), 1)
         |      <> substring(sb, CAST(i AS INTEGER), 1))) AS BIGINT) AS hamming
         |  FROM cand)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= $MaxHamming ORDER BY doc_a, doc_b""".stripMargin,

    // Mirrors dd_incremental_lsh: batch band keys probe corpus buckets
    // (capped), candidates verified with exact full-set Jaccard, best
    // corpus match per new doc (Jaccard DESC, id ASC — the double division
    // is integer-fed, so both engines rank identical IEEE values).
    "dd_incremental_lsh" ->
      s"""WITH ${bandedCtes("documents")},
         |nb AS (SELECT b.doc_id, band, key FROM banded b
         |  JOIN documents d ON d.doc_id = b.doc_id
         |  WHERE d.source = '$IncrementalBatchSource' AND key IS NOT NULL),
         |cb AS (SELECT b.doc_id, band, key FROM banded b
         |  JOIN documents d ON d.doc_id = b.doc_id
         |  WHERE d.source <> '$IncrementalBatchSource' AND key IS NOT NULL),
         |kb AS (SELECT band, key FROM cb GROUP BY band, key
         |  HAVING COUNT(*) <= $MaxLshBucket),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corp_id
         |  FROM nb n JOIN kb k ON n.band = k.band AND n.key = k.key
         |  JOIN cb c ON c.band = n.band AND c.key = n.key),
         |shex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |szs AS (SELECT doc_id, COUNT(*) AS n FROM shex GROUP BY doc_id),
         |shr AS (SELECT cand.new_id, cand.corp_id, COUNT(*) AS shared
         |  FROM cand JOIN shex xa ON xa.doc_id = cand.new_id
         |  JOIN shex xb ON xb.doc_id = cand.corp_id AND xb.g = xa.g
         |  GROUP BY 1, 2),
         |jac AS (SELECT new_id, corp_id,
         |    CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS j
         |  FROM shr JOIN szs sa ON sa.doc_id = new_id
         |  JOIN szs sb ON sb.doc_id = corp_id
         |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared)
         |    >= $JaccardThreshold),
         |rk AS (SELECT new_id, corp_id, j,
         |    row_number() OVER (PARTITION BY new_id
         |      ORDER BY j DESC, corp_id) AS rn FROM jac)
         |SELECT new_id AS doc_id, corp_id AS dup_of, round(j, 8) AS jaccard
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin
  )
}
