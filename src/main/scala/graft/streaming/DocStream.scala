package graft.streaming

import graft.sim.IndexStore.member
import graft.functions.TextFunctions._
import graft.operators.PipelinePack
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming half of the corpus-prep pipeline: the stateless quality/language
  * gates plus content-hash dedup applied AT INGEST, as documents land.
  *
  * This is the standard split for a continuous corpus build: the per-row
  * gates and exact dedup are streaming-safe (pure codegen expressions + one
  * state row per distinct content hash inside the watermark horizon), while
  * the MinHash-LSH near-dup sweep stays a periodic batch pass over the
  * accumulated corpus ([[graft.operators.PipelinePack]] `pipe_corpus_prep`)
  * — LSH bucketing needs the whole corpus, so it has no bounded-state
  * streaming form. Gate constants are shared with the batch pipeline, so
  * the GATES accept the same rows by construction. The dedup tie-break
  * differs by design: the stream keeps the first-ARRIVED copy of a
  * duplicate (arrival order — there is no "lowest id so far" in an
  * unbounded stream), while the batch rebuild keeps the lowest doc_id; the
  * surviving sets have identical content hashes, but a consumer reconciling
  * stream vs batch output must compare by content hash, not doc_id.
  */
object DocStream {

  /** Operational translation for a streaming-state incompatibility: when a
    * stateful gate's state tuple widens (the packing gate went 3 → 4 longs
    * to carry the order-guard cursor), a deployment restarting from a
    * checkpoint written by the OLD encoder fails with an opaque
    * state-schema/decode error buried in the cause chain. This names it:
    * walk the causes of a failed `StreamingQuery` and, if the failure is a
    * state schema/decode mismatch, return the "start a fresh checkpoint"
    * guidance (there is no in-place migration — the old state cannot
    * reconstruct the new cursor anyway, see [[packingGate]]). `None` means
    * the failure is something else; rethrow it. */
  def explainStreamFailure(t: Throwable): Option[String] = {
    def causes(x: Throwable): List[Throwable] =
      if (x == null) Nil else x :: causes(x.getCause)
    val stateMarkers = Seq(
      "STATE_STORE_", "StateSchemaNotCompatible", "state schema",
      "does not match existing state", "Error reading streaming state",
      "Error reading delta file", "InvalidUnsafeRowException")
    val hit = causes(t).exists { c =>
      val s = c.toString
      stateMarkers.exists(m => s.toLowerCase.contains(m.toLowerCase))
    }
    if (hit) Some(
      "streaming state is incompatible with this gate version (a state " +
        "tuple widened across an upgrade — e.g. the packing gate's 3→4 " +
        "long cursor). There is no in-place state migration: restart the " +
        "stream with a FRESH checkpoint location and replay the shard " +
        "from a clean cursor.")
    else None
  }

  /** Raw schema of the documents parquet. */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over the documents table (at scale: the landing
    * directory new document files drop into). */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Benchmark-decontamination gate at ingest: drop documents whose
    * word-shingle overlap with the (static, broadcast) eval shingle set
    * reaches [[graft.operators.DedupPack.ContaminationThreshold]] — the
    * ingest-time half of the batch `dd_contamination` sweep, sharing its
    * constants and arithmetic so both flag the same documents by
    * construction (spec-pinned).
    *
    * Deployment shape: apply PER MICRO-BATCH via `foreachBatch` —
    * `stream.writeStream.foreachBatch((b, _) =>
    * contaminationGate(b, ev).write…)` — the standard pattern for a
    * join+aggregate transform inside a stream. The gate is per-document,
    * so batches are independent and no state accumulates; the eval set is
    * a static versioned frame (benchmarks are tiny), costing each batch
    * one broadcast join and a partial-aggregated per-doc count.
    *
    * `evalShingleHashes` is a one-column (g: xxhash64 of shingle) frame —
    * build it once from the benchmark corpus with [[evalShingles]]. */
  def contaminationGate(docs: DataFrame, evalShingleHashes: DataFrame): DataFrame = {
    import graft.functions.HashFunctions.wordShingles
    import graft.operators.DedupPack
    val ev = broadcast(evalShingleHashes.select(col("g")).distinct()
      .withColumn("inev", lit(1)))
    // Aggregate the shingle hits on doc_id ALONE and join text back
    // afterwards (the batch dd_contamination shape): carrying `text`
    // through the exploded frame would copy each document's full text into
    // ~n_shingles rows before the partial aggregate collapses it — an
    // O(n_shingles × doc_bytes) per-row copy cost the aggregate-then-join
    // form never pays. The join-back is by doc_id within the same
    // micro-batch, so it adds one batch-local shuffle of (doc_id, text) —
    // bytes proportional to the batch, not to batch × shingles.
    val clean = docs
      .select(col("doc_id"),
        explode(transform(wordShingles(col("text"), DedupPack.ShingleN),
          g => xxhash64(g))).as("g"))
      .join(ev, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("inev")).as("n_hits"))
      .filter(round(col("n_hits").cast("double") / col("n_shingles"), 8) <
        DedupPack.ContaminationThreshold)
      .select("doc_id")
    docs.select(col("doc_id"), col("text")).join(clean, Seq("doc_id"))
  }

  /** The eval-set shingle hashes for [[contaminationGate]], from any
    * (text, …) benchmark frame. */
  def evalShingles(benchmark: DataFrame): DataFrame = {
    import graft.functions.HashFunctions.wordShingles
    benchmark
      .select(explode(transform(
        wordShingles(col("text"), graft.operators.DedupPack.ShingleN),
        g => xxhash64(g))).as("g"))
      .distinct()
  }

  /** Span-level DECONTAMINATION gate at ingest: rewrite each arriving
    * document with every token covered by an eval-set
    * [[graft.operators.DedupPack.SpanK]]-token window removed — the
    * surgical sibling of [[contaminationGate]] (which drops whole
    * documents) for arrivals that QUOTE a benchmark item but are
    * otherwise clean. `evalSpanHashes` is built once per benchmark
    * version with [[graft.operators.DedupPack.evalSpanHashes]] and
    * broadcasts per batch; the gate runs the batch operator's core
    * verbatim ([[graft.operators.DedupPack.contaminationScrub]]), so
    * stream/batch parity holds by construction (StreamingSpec). */
  def contaminationScrubGate(evalSpanHashes: DataFrame)(
      batch: DataFrame): DataFrame =
    graft.operators.DedupPack.contaminationScrub(batch, evalSpanHashes)

  /** Gated, exact-deduped document stream. Documents have no event time —
    * dedup keys on arrival (processing) time: `current_timestamp()` is
    * fixed per micro-batch, and `dropDuplicatesWithinWatermark` evicts hash
    * state an hour after arrival, so a continuous deployment holds one
    * state row per distinct recent document, not per distinct document
    * ever (the same state-leak guard as the events stream dedup). */
  def corpusGate(spark: SparkSession, dir: String): DataFrame =
    source(spark, dir)
      .select(col("doc_id"), col("text"),
        tokenCount(col("text")).as("n_tokens"),
        stopwordRatio(col("text")).as("stop_ratio"),
        langGuess(col("text")).as("pred_lang"))
      .filter(col("pred_lang") === "en" &&
        col("n_tokens") >= PipelinePack.MinTokens &&
        col("stop_ratio") >= PipelinePack.MinStopRatio)
      .withColumn("content_hash", md5(col("text")))
      .withColumn("arrival", current_timestamp())
      .withWatermark("arrival", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")
      .select("doc_id", "text", "n_tokens", "content_hash")

  /** NEAR-dup gate at ingest: serve one micro-batch of arriving
    * (doc_id, text) documents against the corpus's PERSISTED MinHash
    * band-bucket index ([[graft.operators.DedupPack.ensureBandIndex]]) —
    * each flagged row reports its best corpus match (doc_id, dup_of,
    * jaccard). Deployment shape: `val gate = dedupGate(spark, dir);
    * stream.writeStream.foreachBatch((b, _) => gate(b)…)` — resolve the
    * artifact ONCE at stream start, like [[contaminationGate]] — the
    * verify half is a per-batch join + window, bounded by the batch's
    * candidate set, so no streaming state accumulates.
    *
    * The serve is [[graft.operators.DedupPack.probeBandIndexed]] — the
    * SAME code the batch `dd_incremental_indexed` query runs, so
    * stream/batch parity holds by construction (pinned in StreamingSpec):
    * the corpus is never re-shingled per batch, signatures are paid only
    * on the arriving rows, and serving cost scales with ingest rate ×
    * bucket size, independent of corpus size. */
  def dedupGate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    // resolve ONCE at stream start — the per-batch half never re-pays the
    // corpus fingerprint (hoist: `val gate = dedupGate(s, d)` outside
    // foreachBatch; StreamingSpec counts ensure() calls to pin this)
    val p = graft.operators.DedupPack.ensureBandIndex(spark, dir)
    batch => graft.operators.DedupPack
      .probeBandIndexedAt(spark, dir, p, batch)
  }

  /** Attributed quality-gate at ingest: the batch `pipe_quality_gate`
    * CASCADE (first-failing rule per document, C4/Gopher rule order)
    * applied to one arriving micro-batch — the ingest half of the
    * threshold-tuning loop, because the funnel a pipeline operator reads
    * is built from these per-document reasons. Deployment shape:
    * `foreachBatch((b, _) => qualityGate(b)…)`, like [[dedupGate]].
    * Every signal (token counts, stopword ratio, top-token mass,
    * duplicate-bigram fraction) is per-DOCUMENT, so batches are
    * independent and no streaming state accumulates; the one wide stage
    * (the top-token aggregate) is batch-local. Runs the batch operator's
    * code verbatim ([[graft.operators.PipelinePack.qualityGate]]), so
    * stream/batch parity holds by construction (pinned in
    * StreamingSpec). */
  def qualityGate(batch: DataFrame): DataFrame =
    graft.operators.PipelinePack.qualityGate(batch)

  /** LM-quality gate at ingest: score one arriving micro-batch's mean
    * token surprisal against the PERSISTED corpus unigram LM
    * ([[graft.operators.TextPack.ensureLmIndex]]) — the CCNet perplexity
    * filter in its deployment form. Deployment shape: hoist `val gate =
    * pplGate(spark, dir)` then `foreachBatch((b, _) => gate(b)…)` like
    * [[dedupGate]] — the artifact (and its corpus fingerprint) resolves
    * once at stream start; each batch pays its
    * own token counts plus an LM-member join, the corpus is never
    * re-counted (same build-once/serve-many posture as the ANN serving
    * gates). Serving is the ADD-ONE-SMOOTHED core
    * ([[graft.operators.TextPack.pplServeSmoothed]], batch twin
    * `tx_unigram_ppl_smoothed`): post-freeze batches carry vocabulary the
    * LM has never seen, and the smoothed LEFT join scores those documents
    * (high surprisal → tail) with n_tokens from the batch's own counts —
    * the exact-match core would silently drop all-unseen documents and
    * underweight partially-unseen ones, losing precisely the most
    * out-of-distribution arrivals. Stream/batch parity and the all-unseen
    * case are pinned in StreamingSpec. */
  def pplGate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val p = graft.operators.TextPack.ensureLmIndex(spark, dir)
    batch => graft.operators.TextPack.pplServeSmoothedAt(spark, p, batch)
  }

  /** Distribution-drift gate at ingest: one (n_tokens, l1_ppm) row per
    * arriving micro-batch — the L1 distance between the batch's unigram
    * distribution and the PERSISTED corpus LM (exact DECIMAL(38,0)
    * cross-multiplication end to end, the `tx_source_drift` formula with
    * the LM side LEFT-joined so post-freeze vocabulary keeps its full
    * mass — an all-unseen batch reports the full-drift row l1_ppm =
    * 2,000,000, the encoding-break / language-shift alarm, instead of
    * emitting nothing). The alerting monitor of a continuous corpus
    * build: a source gone rogue (spam flood, encoding break, language
    * shift) moves this number long before any per-doc gate fires.
    * Deployment shape: hoist the gate like [[pplGate]];
    * each batch pays its own token counts plus the vocab-sized LM join —
    * the corpus is never re-counted. Parity pins (StreamingSpec): a batch
    * holding exactly one source's documents equals that source's
    * `tx_source_drift` row; an all-unseen batch yields the full-drift
    * row. */
  def driftGate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val p = graft.operators.TextPack.ensureLmIndex(spark, dir)
    batch => graft.operators.TextPack.driftServeAt(spark, p, batch)
  }

  /** Bigram-LM quality gate at ingest: score arriving micro-batches
    * against the FROZEN bigram artifact with the smoothed core
    * ([[graft.operators.TextPack.bigramServeSmoothedAt]] — Laplace
    * unigram backoff + context-guarded bigram term, so post-freeze
    * vocabulary still scores). The unigram `pplGate`'s posture one order
    * up; both artifacts resolve once at gate construction, each batch pays
    * its own bigram counts plus count-table-sized joins. Batch twin:
    * `tx_bigram_ppl_smoothed` (parity by shared core, pinned in
    * StreamingSpec incl. the all-unseen batch). */
  def bigramPplGate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val at = graft.operators.TextPack.bigramLmAt(spark, dir)
    batch => graft.operators.TextPack.bigramServeSmoothedAt(spark, at, batch)
  }

  /** Keyword-extraction gate at ingest: rank one arriving micro-batch's
    * tokens against the FROZEN corpus df/N statistics
    * ([[graft.operators.TextPack.ensureBm25Index]]) — per-document top-K
    * BM25-idf keywords in the serving posture (tagging / routing /
    * search-indexing at ingest). Artifact resolved once at gate
    * construction; each batch pays its own token counts plus the
    * vocab-sized df join, the corpus is never re-counted. Serving is the
    * exact-match core (batch twin `tx_bm25_indexed`; parity by the shared
    * bm25RankFromTf core, pinned in StreamingSpec — sound per batch
    * because a document's keywords depend only on its OWN tf plus the
    * frozen df/N, never on batch co-arrivals): a post-freeze token absent
    * from the frozen vocabulary drops from the ranking — it has no df
    * evidence to rank on; a novelty-seeking consumer would instead
    * LEFT-join with df coalesced to 0, where the BM25+ idf is defined and
    * maximal. */
  def bm25Gate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val p = graft.operators.TextPack.ensureBm25Index(spark, dir)
    batch => graft.operators.TextPack.bm25ServeAt(spark, p, batch)
  }

  /** Domain-mix gate at ingest: apply a FROZEN mixture-threshold frame
    * ([[graft.operators.PipelinePack.mixThresholds]], computed once per
    * corpus version — thresholds are a property of the corpus the mixture
    * was sized against, never of the arriving batch) to one micro-batch:
    * a pure per-row md5-threshold filter against the 5-row broadcast,
    * the only mixture-sampling shape that needs no per-batch corpus
    * work. Runs the batch membership code verbatim
    * ([[graft.operators.PipelinePack.mixApply]]), so gating the corpus
    * stream reproduces `pipe_domain_mix` exactly (StreamingSpec). */
  def mixGate(thresholds: DataFrame)(batch: DataFrame): DataFrame =
    graft.operators.PipelinePack.mixApply(batch, thresholds)
      .filter(col("u") < col("thresh"))
      .select(col("doc_id"), col("lang"))

  /** Temperature-mixture gate at ingest — the α = 1/2 twin of [[mixGate]]
    * with the SAME frozen-thresholds contract: the (lang, n, thresh)
    * frame ([[graft.operators.PipelinePack.tempThresholds]]) is computed
    * once per corpus version, each micro-batch pays one per-row 24-bit
    * md5-threshold compare against the |langs|-row broadcast. Runs the
    * batch membership code verbatim
    * ([[graft.operators.PipelinePack.tempApply]]), so gating the corpus
    * stream reproduces `pipe_temp_sample` exactly (StreamingSpec). */
  def tempGate(thresholds: DataFrame)(batch: DataFrame): DataFrame =
    graft.operators.PipelinePack.tempApply(batch, thresholds)
      .filter(col("u") < col("thresh"))
      .select(col("doc_id"), col("lang"))

  /** Trained-tokenizer accounting gate at ingest: real BPE token counts
    * per arriving document, served from the PERSISTED merge artifact
    * ([[graft.operators.TextPack.ensureBpeIndex]]) — the token-budget
    * meter of a continuous corpus build (packing budgets, billing,
    * curricula want the trained tokenizer's counts, not the length
    * heuristic). Deployment shape: hoist the gate like [[pplGate]] (the
    * merge list collects once at stream start); each batch pays
    * one fold pass over its own DISTINCT words — unseen post-freeze
    * words enter as characters and still receive any learned merges
    * that apply inside them (BPE's defining no-OOV property). Runs the
    * batch serving core verbatim
    * ([[graft.operators.TextPack.bpeEncodeServe]]), so stream/batch
    * parity holds by construction (pinned in StreamingSpec). */
  def bpeCountGate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val ms = graft.operators.TextPack.bpeMergesAt(spark,
      graft.operators.TextPack.ensureBpeIndex(spark, dir))
    batch => graft.operators.TextPack.bpeEncodeWith(batch, ms)
  }

  /** Leak-safe split gate at ingest: assign each arriving document its
    * train/val side from the PERSISTED near-dup component labels
    * ([[graft.operators.PipelinePack.ensureComponentsIndex]]) — the
    * serving half of `pipe_leak_safe_split` in its deployment form.
    * Deployment shape: hoist the gate like [[pplGate]]; each batch pays
    * one join against the label member, the pair graph is never rebuilt
    * per batch. Documents the
    * artifact has never seen fall back to their own-id hash — the
    * stability property's singleton case, so a label-rebuild can only
    * move them by merging them into a lower-rep component. Runs the batch
    * serving core verbatim ([[graft.operators.PipelinePack.splitServe]]),
    * so stream/batch parity holds by construction (pinned in
    * StreamingSpec). */
  def splitGate(spark: SparkSession, dir: String): DataFrame => DataFrame = {
    val p = graft.operators.PipelinePack.ensureComponentsIndex(spark, dir)
    batch => graft.operators.PipelinePack.splitServeAt(spark, p, batch)
  }

  /** Near-dup cluster-cap gate at ingest: the `dd_component_cap` keep-N
    * policy applied AS DOCUMENTS LAND — each arriving doc takes its
    * component from the PERSISTED labels
    * ([[graft.operators.PipelinePack.ensureComponentsIndex]], resolved
    * ONCE at stream construction; per batch it is one stream-static label
    * join), and a per-component member counter in
    * `flatMapGroupsWithState` assigns the arrival rank — two longs of
    * state per component seen, never corpus-sized. Parity with the batch
    * `dd_component_cap_indexed` rows holds whenever docs arrive in
    * ascending doc_id (the append-only ingest pattern — the batch rank
    * orders by doc_id); the contract is ENFORCED like [[packingGate]]'s:
    * an id at or below a component's cursor fails the query loudly
    * instead of silently re-ranking. Unseen docs fall back to their own
    * id (singleton rank 1, always kept — the stability property's
    * singleton case). */
  def capGate(spark: SparkSession, dir: String)(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val p = graft.operators.PipelinePack.ensureComponentsIndex(spark, dir)
    val labels = member(spark, p, "components")
    val tagged = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
    // State discipline: the label member only holds docs that had a
    // near-dup edge at build time, so post-freeze ingest is MOSTLY
    // unlabeled — and an unlabeled doc is its own singleton component
    // (grp = own id, rank 1, always kept) that needs NO cross-batch
    // state. Routing singletons around the stateful operator keeps the
    // state store bounded by the LABELED component count (two longs per
    // component seen), not the corpus; the order/duplicate guard
    // protects exactly the rows whose rank parity depends on it.
    val singles = tagged.filter(col("rep").isNull)
      .select(col("doc_id"), col("doc_id").as("grp"),
        lit(1L).as("member_rank"), lit(true).as("kept"))
    val ranked = tagged.filter(col("rep").isNotNull)
      .select(col("doc_id"), col("rep").as("grp"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (grp: Long, rows: Iterator[(Long, Long)],
         state: GroupState[(Long, Long)]) => {
          var (cnt, lastId) = state.getOption.getOrElse((0L, Long.MinValue))
          val sorted = rows.toSeq.sortBy(_._1)
          sorted.iterator.foldLeft(lastId) { (prev, r) =>
            if (r._1 <= prev)
              throw new IllegalStateException(
                s"capGate: component $grp received doc_id ${r._1} at or " +
                  s"below its ranked cursor $prev — out-of-order or " +
                  "duplicate ingest breaks rank parity with the batch " +
                  "cap; replay in ascending doc_id order")
            r._1
          }
          val out = sorted.map { case (id, g) =>
            cnt += 1L; lastId = id
            (id, g, cnt, cnt <= graft.operators.DedupPack.ComponentCap)
          }
          state.update((cnt, lastId))
          out.iterator
        })
      .toDF("doc_id", "grp", "member_rank", "kept")
    ranked.unionByName(singles)
  }

  /** Streaming first-fit sequence packing: the batch `pipe_pack_sequences`
    * assignment (bin = floor(preceding-cum-tokens / budget), position
    * within bin) computed AS DOCUMENTS LAND, one running token cursor per
    * source shard held in `flatMapGroupsWithState`. The batch window
    * formulation needs the whole shard sorted; the stream needs only the
    * cursor — (cum, last bin, last pos), three longs per SOURCE, so state
    * is bounded by shard count, not corpus size, and no timeout/eviction
    * is needed (shards are a fixed deployment property). Each micro-batch
    * slice is sorted per source in memory (slices are batch-bounded);
    * parity with the batch rebuild holds whenever each source's documents
    * arrive in ascending doc_id across batches — the append-only ingest
    * pattern — and is spec-pinned across a multi-batch delivery.
    *
    * The append-only contract is ENFORCED, not assumed: the state carries
    * each source's highest packed doc_id, and a batch delivering an id at
    * or below it fails the query loudly. (Adding the id widened the state
    * tuple from 3 to 4 longs — a deployment restarting from a checkpoint
    * written by the 3-field encoder must start a fresh checkpoint; there
    * is no in-place state migration, and the guard's cursor cannot be
    * reconstructed from the old state anyway.) Out-of-order delivery would
    * otherwise pack the late document at the cursor's CURRENT position —
    * a silently different binning from the batch rebuild, which is the
    * one failure mode a deterministic packer must not have (spec-pinned:
    * regression delivery throws, it never diverges quietly). */
  def packingGate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).as("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[(Long, String, Long)],
         state: GroupState[(Long, Long, Long, Long)]) => {
          var (cum, lastBin, lastPos, lastId) =
            state.getOption.getOrElse((0L, -1L, 0L, Long.MinValue))
          val sorted = rows.toSeq.sortBy(_._1)
          // strict monotonic increase across the WHOLE sorted batch, not
          // just its head: a duplicate doc_id arriving twice within one
          // micro-batch sorts adjacent and would otherwise be packed
          // twice — the same silent divergence from the batch packer the
          // cross-batch guard exists to prevent
          sorted.iterator.foldLeft(lastId) { (prev, row) =>
            if (row._1 <= prev)
              throw new IllegalStateException(
                s"packingGate: source '$source' delivered doc_id " +
                  s"${row._1} at or below the already-packed cursor $prev " +
                  "— out-of-order or duplicate ingest breaks first-fit " +
                  "parity with the batch packer; replay the shard in " +
                  "strictly ascending doc_id order")
            row._1
          }
          val out = sorted.map { case (id, _, nt) =>
            // floor(cum-before / budget): cum and budget are non-negative,
            // so Long division IS the floor — same bin as the batch window
            val bin = cum / PipelinePack.PackBudget
            val pos = if (bin == lastBin) lastPos + 1 else 1L
            cum += nt; lastBin = bin; lastPos = pos; lastId = id
            (id, source, nt, bin, pos)
          }
          state.update((cum, lastBin, lastPos, lastId))
          out.iterator
        })
      .toDF("doc_id", "source", "n_tokens", "bin", "bin_pos")
  }
}
