package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Physical-plan invariants: the properties that make these plans survive a
  * 100 TB / 1000-executor scale-up. Value-level correctness is the oracle
  * gate's job; these specs pin the plan *shapes* — broadcasts where a dim
  * is small, pushed filters and pruned schemas on the scans, no accidental
  * cartesian products, no global-sort funnels where a partial top-K
  * suffices. Assertions run on the final (post-AQE) executed-plan text. */
class PlanSpec extends SparkSpec {

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfTiny)

  /** Corpus dir for the construct-only suite sweeps (window funnel,
    * auto-broadcast-off, shuffle ratchet). Defaults to sfTiny; point
    * GRAFT_PLAN_SF at a replicated corpus (tools/scale_smoke.py) to audit
    * the same invariants against 64× file-size ESTIMATES — planner
    * behavior is size-dependent, and an invariant that only holds while
    * everything is broadcastable is exactly what these sweeps hunt. The
    * ratchet manifest is pinned at the default dir; regen/compare runs
    * with an override are for eyeballing, not CI. */
  private val planSweepDir = sys.env.getOrElse("GRAFT_PLAN_SF", sfTiny)

  /** Allowlist hygiene (VERDICT r15 #8): every name-keyed justification
    * must point at a LIVE query — a retirement that leaves its allowlist
    * line behind would strand prose nobody re-argues. (Site-label maps
    * are exempt: warm memos legitimately skip their checkpoint capture,
    * so site presence is run-dependent.) */
  private def assertAllowlistLive(which: String, names: Set[String]): Unit = {
    val stale = names.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty,
      s"$which allowlist names retired queries — delete or re-argue the " +
        s"lines: ${stale.toSeq.sorted.mkString(", ")}")
  }

  /** Final physical plan text (AQE re-plans at runtime, so execute first). */
  private def planText(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("dimension joins broadcast instead of shuffling the fact table") {
    for (q <- Seq("j1_equi_join", "j2_threeway_join", "q5_nation_revenue")) {
      val plan = planText(run(q))
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: expected a broadcast hash join in:\n$plan")
    }
  }

  /** The FINAL (post-AQE) plan section only — `executedPlan.toString`
    * appends the "== Initial Plan ==" section, which would double-count
    * every node in an exact-count pin. */
  private def finalPlanText(df: DataFrame): String =
    planText(df).split("== Initial Plan ==")(0)

  test("io_profile_stats: the unpivot reads orders ONCE (never per column)") {
    val plan = finalPlanText(run("io_profile_stats"))
    val scans = "FileScan parquet [^\\s]*graft_orders".r.findAllIn(plan).size
    assert(scans == 1,
      s"io_profile_stats: $scans orders scans (per-column profiling " +
        s"re-reads the table):\n$plan")
  }

  test("d7_bag_ops: one scan, one conditional rollup, no join") {
    val plan = finalPlanText(run("d7_bag_ops"))
    assert("FileScan parquet [^\\s]*graft_orders".r.findAllIn(plan).size == 1,
      s"d7_bag_ops: per-side scans crept back in:\n$plan")
    assert(!plan.contains("Join"),
      s"d7_bag_ops: the full-outer merge shape crept back in:\n$plan")
  }

  test("ev_nearest_touch: both carries share one user_id exchange, " +
    "no inequality join") {
    val plan = finalPlanText(run("ev_nearest_touch"))
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"ev_nearest_touch: the naive inequality join appeared:\n$plan")
    // exchanges: one hash partitioning for the two window passes + the
    // final presentation sort's range exchange — nothing else
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"ev_nearest_touch: $hashEx hash exchanges (the dual carries must " +
        s"share one user_id partitioning):\n$plan")
  }

  test("w11_keyset_page: cursor seek pushes to the scan and the page is " +
    "a partial top-K, never sort-all-then-skip") {
    val plan = finalPlanText(run("w11_keyset_page"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"w11_keyset_page: expected a partial top-K in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"w11_keyset_page: global sort appeared:\n$plan")
    // the RANGE filter itself, not just the inferred IsNotNull (which
    // would keep this green while the scan reads every row group)
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(o_orderdate".r
      .findFirstIn(plan).isDefined,
      s"w11_keyset_page: cursor range not pushed to the scan:\n$plan")
  }

  test("n4_topk_param: request resolution broadcasts, corpus never sort-merges") {
    // the BulkParams-resolved id list is request-sized: both the mbid
    // dimension join and the query-set semi join must broadcast it —
    // a sort-merge join here would shuffle the corpus per request
    val plan = planText(run("n4_topk_param"))
    assert(plan.contains("BroadcastExchange"),
      s"n4_topk_param: expected broadcast request resolution in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"n4_topk_param: corpus-side sort-merge join in:\n$plan")
  }

  test("dd_incremental_indexed serves from the band-index artifact") {
    val indexed = run("dd_incremental_indexed")
    val served = indexed.collect()
    val idxPlan = indexed.queryExecution.executedPlan.toString
    // the probe side reads the persisted bucket lists …
    assert(idxPlan.contains("minhash_bands"),
      s"dd_incremental_indexed: no artifact scan in:\n$idxPlan")
    // … and replaces the corpus-wide banding: the serving plan must scan
    // the documents table STRICTLY FEWER times than the inline recompute
    // (batch banding + candidate re-shingle remain; the corpus band
    // aggregation is the artifact's). A refactor that re-hashes the
    // corpus AND reads the artifact would pass a contains() check alone.
    val inlineDf = run("dd_incremental_lsh")
    val inline = inlineDf.collect()
    val inPlan = inlineDf.queryExecution.executedPlan.toString
    def docScans(p: String) = "graft_documents".r.findAllIn(p).size
    assert(docScans(idxPlan) < docScans(inPlan),
      s"indexed plan scans documents ${docScans(idxPlan)}x vs inline " +
        s"${docScans(inPlan)}x:\n$idxPlan")
    // and the serving rows equal the inline recompute (artifact-vs-inline
    // split contract, same as the ANN `_indexed` twins)
    assert(served.nonEmpty &&
      served.map(_.toString).sameElements(inline.map(_.toString)))
  }

  test("dd_lsh_recall candidate side serves from the band-index artifact") {
    // The recall monitor's candidate pairs must ride the persisted
    // buckets (the ann_recall served-artifact pattern, r17) — only the
    // incremental batch slice may re-signature. Same three-way pin as
    // dd_incremental_indexed: artifact scan present, strictly fewer
    // documents scans than the inline recompute, rows identical (the
    // full-table reconstruction contract servedMinhashPairs documents).
    import graft.operators.DedupPack
    val servedDf = DedupPack.servedMinhashPairs(spark, sfTiny)
      .orderBy("doc_a", "doc_b")
    val served = servedDf.collect()
    val srvPlan = servedDf.queryExecution.executedPlan.toString
    assert(srvPlan.contains("minhash_bands"),
      s"servedMinhashPairs: no artifact scan in:\n$srvPlan")
    // every documents scan the served plan retains must be the pushed
    // batch slice (source = src6) — the corpus half rides the artifact,
    // so a scan without the batch filter means the corpus is being
    // re-minhashed behind the artifact read
    val docScanLines =
      srvPlan.linesIterator.filter(_.contains("graft_documents")).toSeq
    assert(docScanLines.nonEmpty &&
      docScanLines.forall(_.contains(DedupPack.IncrementalBatchSource)),
      s"served plan scans documents without the batch filter:\n$srvPlan")
    val inline = DedupPack.minhashPairs(Tables.documents(spark, sfTiny))
      .orderBy("doc_a", "doc_b").collect()
    assert(served.nonEmpty &&
      served.map(_.toString).sameElements(inline.map(_.toString)))
  }

  test("no accidental cartesian products in any query plan") {
    // intended broadcast-cross plans (tiny single-row / query-set side):
    val allowedCross = Set("n5_pairwise_distance", "p6_distance_threshold",
      "ann_ivf_nprobe", "n4_topk_cosine", "ann_lsh_bucketed")
    assertAllowlistLive("allowedCross", allowedCross)
    for ((name, fn) <- SparkEntry.queries if !allowedCross(name)) {
      val plan = planText(fn(spark, sfTiny))
      assert(!plan.contains("CartesianProduct"),
        s"$name: unexpected CartesianProduct")
    }
  }

  test("time-range dump filter is pushed down to the parquet scan") {
    val plan = planText(run("s4_dump_select"))
    assert(plan.contains("PushedFilters: [IsNotNull"),
      s"pushed filters missing in:\n$plan")
  }

  test("projection queries prune the parquet read schema") {
    // p1 selects 5 of part's columns; the scan must not read the rest
    val plan = planText(run("p1_projection_defaults"))
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("p_size"), s"scan reads unneeded p_size:\n$plan")
  }

  test("w8 pagination takes a partial top-K, not a global sort+window funnel") {
    val plan = planText(run("w8_pagination"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("sequence packing shuffles once on source — never a global sort") {
    val plan = planText(run("pipe_pack_sequences"))
    // both windows (cumsum, bin_pos) and the final presentation sort must
    // key on `source` first: a window or range partition NOT anchored on
    // the shard key would be the global-ordered-scan shape that cannot
    // scale (the whole corpus through one task's sort)
    val exchanges = "Exchange (hash|range)partitioning\\(([a-z_]+)"
      .r.findAllMatchIn(plan).map(_.group(2)).toSet
    assert(exchanges.nonEmpty && exchanges == Set("source"),
      s"expected only source-keyed exchanges, got $exchanges in:\n$plan")
  }

  test("group-by aggregations use partial (map-side) aggregation") {
    val plan = planText(run("a2_grouped_count"))
    val nAggs = "HashAggregate".r.findAllIn(plan).size
    assert(nAggs >= 2, s"expected partial+final agg, got $nAggs in:\n$plan")
    assert(plan.contains("Exchange"))
  }

  test("bucketed layout: orderkey joins and aggs run without a hash exchange") {
    // j7 aggregates lineitem by its bucket key; s8 is the fact-fact join
    // (orders ⋈ lineitem-aggregate on orderkey) with BOTH sides bucketed.
    // Broadcast is disabled so the join can't hide behind the small SF —
    // at 100 TB neither side broadcasts, and this layout is what keeps the
    // join shuffle-free. The only exchange left is the final ORDER BY's
    // range partitioning.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq("j7_order_lines_agg", "s8_hl_reassembly")) {
        val plan = planText(run(q))
        assert(!plan.contains("Exchange hashpartitioning"),
          s"$q: bucketed layout should leave no hash exchange:\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("doc-keyed aggregation consumes the bucketed documents clustering") {
    import org.apache.spark.sql.functions._
    // the dedup packs' signature-assembly shape: explode per-doc tokens,
    // re-aggregate by doc_id — on the bucketed layout the scan's
    // partitioning feeds the aggregate directly, no exchange at all
    val df = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"doc_id aggregation should be exchange-free on the bucketed layout:\n$plan")
  }

  test("day-partitioned events prune date ranges at the directory level") {
    import org.apache.spark.sql.functions._
    val ev = Tables.eventsPartitioned(spark, sfTiny)
    val day = ev.agg(min(col("event_day"))).head().getDate(0)
    val df = ev.filter(col("event_day") === lit(day))
    assert(df.count() > 0)
    val scanLine = df.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("event_day")),
      s"expected a partition filter on event_day, got: $scanLine")
  }

  test("semi/anti join lookups stay joins (no collect-to-driver IN lists)") {
    for (q <- Seq("j8_semi_join", "j3_anti_join", "p2_keyset_lookup")) {
      val plan = planText(run(q))
      // physical nodes print e.g. "BroadcastHashJoin [k], [k], LeftSemi" /
      // "SortMergeJoin ... LeftAnti" — match the join type token itself
      assert(plan.contains("LeftSemi") || plan.contains("LeftAnti"),
        s"$q: expected a semi/anti/broadcast join in:\n$plan")
    }
  }

  test("tx_ngram_topk: partial agg + partial top-K, never a global sort") {
    val plan = planText(run("tx_ngram_topk"))
    // the bigram count must combine map-side before the exchange…
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final agg in:\n$plan")
    // …and the global top-20 must be a TakeOrderedAndProject (per-partition
    // top-K, 20 rows per partition to the driver), not Sort+GlobalLimit
    // (the whole bigram vocabulary through one range-partitioned sort)
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("pipe_corpus_prep: deduped corpus is persisted, not recomputed per use") {
    val plan = planText(run("pipe_corpus_prep"))
    assert(plan.contains("InMemoryTableScan"),
      s"expected the persisted corpus subtree in:\n$plan")
  }

  test("pipe_domain_mix: threshold broadcast, no rank window over the corpus") {
    val plan = planText(run("pipe_domain_mix"))
    // the 5-row per-language threshold table joins in as a broadcast…
    assert(plan.contains("BroadcastHashJoin"),
      s"expected threshold broadcast join in:\n$plan")
    // …and membership is a hash-threshold FILTER: the corpus is never
    // rank-windowed or sort-merge-joined (either would shuffle all rows)
    assert(!plan.contains("Window"), s"unexpected Window in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected SortMergeJoin in:\n$plan")
  }

  test("tx_chunk_windows: chunks explode map-side — no shuffle before the sort") {
    // AQE's toString repeats the pre-adaptive plan under "== Initial
    // Plan =="; count exchanges in the executed half only
    val plan = planText(run("tx_chunk_windows"))
      .split("== Initial Plan ==").head
    assert(plan.contains("Generate"), s"expected Generate in:\n$plan")
    // only the final presentation sort exchanges; chunking itself is
    // embarrassingly parallel
    assert("Exchange".r.findAllIn(plan).size <= 1,
      s"expected at most the final sort exchange in:\n$plan")
  }

  test("exact heavy-hitter pass pushes the candidate set into the scan") {
    import graft.operators.Skew
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfTiny)
    val exact = Skew.exactCountsFor(docs, col("source"), Seq("src1", "src2"))
    val plan = planText(exact)
    assert(plan.contains("PushedFilters") && plan.contains("In(source"),
      s"candidate In-filter not pushed to the scan:\n$plan")
    // and the pass agrees with the full groupBy on the candidates
    val want = docs.filter(col("source").isin("src1", "src2"))
      .groupBy(col("source").as("key")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val got = exact.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("pipe_split_indexed serves from the component-label artifact and " +
    "equals the inline split") {
    val indexed = run("pipe_split_indexed")
    val served = indexed.collect()
    val idxPlan = indexed.queryExecution.executedPlan.toString
    // the serving side reads the persisted label member …
    assert(idxPlan.contains("split_components"),
      s"pipe_split_indexed: no artifact scan in:\n$idxPlan")
    // … and replaces the pair-graph rebuild entirely. (The usual
    // docScans(indexed) < docScans(inline) comparison is meaningless
    // here: the inline rebuild's label propagation runs EAGERLY behind
    // localCheckpoint, so its executed plan hides the pair-graph scans.)
    // Serving must be pure storage-backed join work: no Generate (the
    // rebuild's shingle explode), and no ExistingRDD (the rebuild's
    // checkpointed in-memory labels — an artifact serve depends on
    // nothing a fresh job wouldn't have).
    assert(!idxPlan.contains("Generate"),
      s"pipe_split_indexed re-computes signatures:\n$idxPlan")
    assert(!idxPlan.contains("ExistingRDD"),
      s"pipe_split_indexed depends on in-memory checkpoint state:\n$idxPlan")
    // and the serving rows equal the inline recompute (artifact-vs-inline
    // split contract, same as the other `_indexed` twins)
    val inline = run("pipe_leak_safe_split").collect()
    assert(served.nonEmpty &&
      served.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("sk_cms_freq probes the grid by broadcast: the depth-x-width " +
    "counter table must never shuffle the key stream to meet it") {
    val plan = planText(run("sk_cms_freq"))
    assert(plan.contains("BroadcastHashJoin"),
      s"CMS grid join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"CMS fell off the broadcast path:\n$plan")
  }

  test("m9_dataset_lifecycle stays broadcast-shaped: an edit batch over " +
    "metadata-scale tables must never sort-merge or go cartesian") {
    val plan = planText(run("m9_dataset_lifecycle"))
    // every join keys on dataset/class/member dims (metadata-scale at any
    // corpus size — the corpus itself is never joined); the only
    // nested-loop joins are the broadcast ONE-ROW min-dataset key
    assert(!plan.contains("SortMergeJoin"),
      s"m9 fell off the broadcast path:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"m9 has an unconstrained cross join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("n4_serve_composed is one corpus-free plan: artifact members plus " +
    "an id-only dimension lookup") {
    val composed = run("n4_serve_composed")
    val plan = composed.queryExecution.executedPlan.toString
    // vectors come from the tuned artifact, never the corpus table …
    assert(plan.contains("angular_ivf_tuned"),
      s"n4_serve_composed: no artifact scan in:\n$plan")
    // … the only embeddings-table touch is the mbid→vec_id dimension
    // lookup, which must prune to the id column (never read the vectors)
    val embScans = plan.linesIterator
      .filter(l => l.contains("embeddings") && l.contains("ReadSchema"))
      .toSeq
    assert(embScans.forall(
      _.contains("ReadSchema: struct<vec_id:bigint>")),
      s"n4_serve_composed reads corpus vectors:\n${embScans.mkString("\n")}")
    // and no shingle/vector re-derivation anywhere
    assert(!plan.contains("Generate"),
      s"n4_serve_composed re-derives data in-plan:\n$plan")
    // the composition is non-vacuous on the gate corpus: the threshold
    // and the submission-dedup each drop at least one row vs the raw
    // capped serve (guards against a parameterization that silently
    // reduces this row to the plain bulk top-K)
    val rows = composed.collect()
    assert(rows.nonEmpty)
    val raw = graft.operators.SimilarityPack
      .indexedTopkFor(spark, sfTiny,
        run("n4_serve_composed")
          .select(org.apache.spark.sql.functions.col("query_id")
            .as("vec_id"))
          .distinct())
    assert(rows.length < raw.count(),
      "composition dropped nothing — parameterization is vacuous")
  }

  test("dd_component_cap_indexed serves from the component-label artifact " +
    "and equals the inline cap") {
    val indexed = run("dd_component_cap_indexed")
    val served = indexed.collect()
    val idxPlan = indexed.queryExecution.executedPlan.toString
    // same three-way pin as pipe_split_indexed: reads the persisted label
    // member, never re-shingles (no Generate), depends on nothing a fresh
    // job wouldn't have (no checkpointed in-memory labels)
    assert(idxPlan.contains("split_components"),
      s"dd_component_cap_indexed: no artifact scan in:\n$idxPlan")
    assert(!idxPlan.contains("Generate"),
      s"dd_component_cap_indexed re-computes signatures:\n$idxPlan")
    assert(!idxPlan.contains("ExistingRDD"),
      s"dd_component_cap_indexed depends on checkpoint state:\n$idxPlan")
    val inline = run("dd_component_cap").collect()
    assert(served.nonEmpty &&
      served.map(_.toString).toSeq == inline.map(_.toString).toSeq)
  }

  test("tx_bigram_ppl_indexed serves from the bigram-LM artifact and " +
    "equals the inline scoring") {
    val indexed = run("tx_bigram_ppl_indexed")
    val served = indexed.collect()
    val idxPlan = indexed.queryExecution.executedPlan.toString
    assert(idxPlan.contains("bigram_lm"),
      s"tx_bigram_ppl_indexed: no LM artifact scan in:\n$idxPlan")
    val inlineDf = run("tx_bigram_ppl")
    val inline = inlineDf.collect()
    val inPlan = inlineDf.queryExecution.executedPlan.toString
    def docScans(p: String) = "graft_documents".r.findAllIn(p).size
    assert(docScans(idxPlan) < docScans(inPlan),
      s"indexed plan scans documents ${docScans(idxPlan)}x vs inline " +
        s"${docScans(inPlan)}x:\n$idxPlan")
    assert(served.map(_.toString).toSeq == inline.map(_.toString).toSeq &&
      served.nonEmpty)
  }

  test("tx_bm25_indexed serves from the df/N artifact and equals the " +
    "inline ranking") {
    val indexed = run("tx_bm25_indexed")
    val served = indexed.collect()
    val idxPlan = indexed.queryExecution.executedPlan.toString
    assert(idxPlan.contains("bm25_stats"),
      s"tx_bm25_indexed: no BM25 artifact scan in:\n$idxPlan")
    val inlineDf = run("tx_bm25_topk")
    val inline = inlineDf.collect()
    val inPlan = inlineDf.queryExecution.executedPlan.toString
    def docScans(p: String) = "graft_documents".r.findAllIn(p).size
    assert(docScans(idxPlan) < docScans(inPlan),
      s"indexed plan scans documents ${docScans(idxPlan)}x vs inline " +
        s"${docScans(inPlan)}x:\n$idxPlan")
    assert(served.map(_.toString).toSeq == inline.map(_.toString).toSeq &&
      served.nonEmpty)
  }

  test("pplServe serves from the LM artifact and equals the inline " +
    "scoring (the retired tx_unigram_ppl_indexed row's plan pin)") {
    // suite row retired in the r14 audit (tx_unigram_ppl_smoothed's full
    // oracle verifies the same artifact's content); the PLAN halves —
    // artifact scan present, corpus never re-counted — stay pinned here
    // against the serving core directly
    val indexed = graft.operators.TextPack
      .pplServe(spark, sfTiny, Tables.documents(spark, sfTiny))
      .orderBy("doc_id")
    val served = indexed.collect()
    val idxPlan = indexed.queryExecution.executedPlan.toString
    assert(idxPlan.contains("unigram_lm"),
      s"tx_unigram_ppl_indexed: no LM artifact scan in:\n$idxPlan")
    // the artifact replaces the corpus-wide LM build: the serving plan
    // scans the documents table strictly fewer times than the inline
    // recompute (only the scored docs' own token counts remain)
    val inlineDf = run("tx_unigram_ppl")
    val inline = inlineDf.collect()
    val inPlan = inlineDf.queryExecution.executedPlan.toString
    def docScans(p: String) = "graft_documents".r.findAllIn(p).size
    assert(docScans(idxPlan) < docScans(inPlan),
      s"indexed plan scans documents ${docScans(idxPlan)}x vs inline " +
        s"${docScans(inPlan)}x:\n$idxPlan")
    assert(served.map(_.toString).toSeq == inline.map(_.toString).toSeq &&
      served.nonEmpty)
  }

  test("dd_exact_substr: span stream shuffles on the hashed key, " +
    "no cartesian and no corpus self-join") {
    val plan = planText(run("dd_exact_substr"))
    // the span tag join is a SHUFFLE join by design (the cross-doc span
    // set can be corpus-sized — a broadcast assumption would OOM at
    // scale), and nothing in the plan may degenerate to a cross product
    assert(plan.contains("xxhash64"),
      s"dd_exact_substr: span keys not hashed in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dd_exact_substr: quadratic join in:\n$plan")
  }

  test("ev_retention: cohort sizes broadcast, no inequality or cartesian " +
    "join") {
    val plan = planText(run("ev_retention"))
    assert(plan.contains("BroadcastHashJoin"),
      s"ev_retention: expected broadcast cohort-size join in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ev_retention: quadratic join in:\n$plan")
  }

  test("tx_boilerplate: the qualifying set broadcasts back over the " +
    "shingle stream — no sort-merge join anywhere") {
    // the boilerplate set is df-thresholded (tiny by construction); a
    // sort-merge join would re-shuffle the full doc-distinct shingle
    // stream a second time just to tag it
    val plan = planText(run("tx_boilerplate"))
    assert(plan.contains("BroadcastHashJoin"),
      s"tx_boilerplate: expected broadcast tag join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"tx_boilerplate: shingle-stream sort-merge join in:\n$plan")
  }

  test("tx_source_drift: per-source totals and the grand total ride " +
    "broadcasts — the token-level join is the only wide work") {
    val plan = planText(run("tx_source_drift"))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"tx_source_drift: expected broadcast totals in:\n$plan")
    // the corpus-level count must never become a cartesian shuffle
    assert(!plan.contains("CartesianProduct"),
      s"tx_source_drift: cartesian product in:\n$plan")
  }

  test("pipe_quality_gate: signal pass joins the top-token aggregate on " +
    "the bucketed id — no cartesian, single aggregate chain") {
    val plan = planText(run("pipe_quality_gate"))
    assert(!plan.contains("CartesianProduct"),
      s"pipe_quality_gate: cartesian product in:\n$plan")
    // the only explodes are the token stream feeding the tf aggregate
    assert(plan.contains("Generate"),
      s"pipe_quality_gate: expected the token explode in:\n$plan")
  }

  test("scd2 history: collapse + versioning + interval chain reuse one " +
    "window sort — a single hash exchange beyond the presentation sort") {
    val plan = planText(run("d6_scd2_history"))
      .split("== Initial Plan ==").head
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected exactly one window exchange, got $hashEx in:\n$plan")
  }

  test("bloom probe is row-local: the pruned branch scans with no " +
    "exchange, inside whole-stage codegen") {
    import graft.operators.Bloom
    import org.apache.spark.sql.functions.col
    val right = Tables.lineitem(spark, sfTiny)
      .filter(col("l_discount") > 0.09 && col("l_quantity") >= 48)
    val words = Bloom.collectWords(right.select(col("l_partkey").as("k")))
    val pruned = Tables.part(spark, sfTiny)
      .filter(!Bloom.mightContain(col("p_partkey"), words))
    val plan = planText(pruned).split("== Initial Plan ==").head
    // the membership test is a literal-array expression — the bulk of a
    // 100 TB probe side must pass through without any shuffle
    assert(!plan.contains("Exchange"),
      s"bloom probe branch shuffled:\n$plan")
    // executedPlan.toString marks whole-stage-codegen'd operators "*(n)"
    assert(plan.contains("*(1) Filter"),
      s"bloom probe fell out of codegen:\n$plan")
  }

  test("j12_range_join: the interval predicate runs as a cell EQUI join — " +
    "no nested-loop, no cartesian, anywhere in the plan") {
    // a naive `p.ts BETWEEN w.lo AND w.hi` with no equi key can only run
    // as BroadcastNestedLoopJoin (quadratic once both sides are large);
    // the cell quantization must turn EVERY join in the plan into a hash
    // or sort-merge equi join. (The _stats twin is exempt from the strict
    // form: its final assembly crossJoins two broadcast ONE-ROW count
    // frames — the established monitor pattern — which plan as nested
    // loops over single rows; its data-sized candidate join is the same
    // shared cell join pinned here.)
    val plan = planText(run("j12_range_join"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"j12_range_join: non-equi join shape survived:\n$plan")
  }

  test("g1_pagerank rounds broadcast the node-sized rank frame onto the " +
    "edges — the edge list never sort-merges") {
    // the UNmaterialized frame: the served entry's per-round checkpoints
    // (r17 — they stop each round's broadcast build re-running all prior
    // rounds) would hide the round joins behind ExistingRDD leaves
    val plan = planText(
      operators.GraphPack.pagerankFrame(spark, sfTiny, materialize = false))
    assert(plan.contains("BroadcastHashJoin"),
      s"g1_pagerank: rank frame not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"g1_pagerank: edge-side sort-merge join:\n$plan")
  }

  test("g1_pagerank SERVED entry: the executed per-round plans between " +
    "checkpoints broadcast the rank frame — no sort-merge sneaks in") {
    // ADVICE r17: the unmaterialized assertion above cannot see the
    // materialized path's executed shape (each round's plan is truncated
    // at the previous round's checkpoint), so a broadcast→sort-merge
    // regression INSIDE a round would pass it. Capture the pre-checkpoint
    // round plans while the served entry executes and pin them directly.
    graft.plans.Checkpointed.startCapture()
    try {
      operators.GraphPack.pagerankFrame(spark, sfTiny, materialize = true)
      val rounds = graft.plans.Checkpointed.stopCapture()
        .filter(_._1 == "GraphPack.pagerank.rank")
      assert(rounds.nonEmpty, "g1_pagerank served entry captured no rounds")
      rounds.foreach { case (_, p) =>
        val t = p.toString
        assert(t.contains("BroadcastHashJoin"),
          s"g1_pagerank served round: rank frame not broadcast:\n$t")
        assert(!t.contains("SortMergeJoin"),
          s"g1_pagerank served round: edge-side sort-merge join:\n$t")
      }
    } finally graft.plans.Checkpointed.stopCapture()
  }

  test("sk_priority_sample: the top-K is a distributed partial top-K " +
    "(TakeOrdered), never a global sort of the weighted table") {
    // assert on the UNcheckpointed top-(K+1) frame — the served entry's
    // checkpoint would hide the weighted scan behind an ExistingRDD and
    // the test would match an unrelated window-limit rewrite instead
    val plan = planText(operators.StatsPack.prioTop(spark, sfTiny))
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "),
      s"sk_priority_sample: no partial top-K over the weighted scan:\n$plan")
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"),
      s"sk_priority_sample: weighted-table scan missing from plan:\n$plan")
  }

  test("dd_edit_blocked: both pruning layers are equi-joins — no " +
    "nested-loop or cartesian shape anywhere in the plan") {
    val plan = planText(run("dd_edit_blocked"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"dd_edit_blocked: quadratic join shape leaked in:\n$plan")
    assert(plan.contains("Generate"), // the length-band explode
      s"dd_edit_blocked: length-filter explode missing:\n$plan")
  }

  test("g2_triangles: degree frame broadcasts onto the edges, top-100 " +
    "plans as a partial top-K, and no join degenerates to nested loops") {
    // the UNmaterialized frame: the served entry's checkpoints would hide
    // every join upstream of them behind Scan ExistingRDD leaves
    val plan = planText(
      operators.GraphPack.trianglesFrame(spark, sfTiny, materialize = false))
    assert(plan.contains("BroadcastHashJoin"),
      s"g2_triangles: degree frame not broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"g2_triangles: global sort instead of partial top-K:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"g2_triangles: non-equi join shape:\n$plan")
  }

  test("g3_neighbor_jaccard: inverted-index pair generation joins on the " +
    "shared neighbour (hash join), degrees broadcast, partial top-K") {
    val plan = planText(operators.GraphPack
      .neighborJaccardFrame(spark, sfTiny, materialize = false))
    assert(plan.contains("BroadcastHashJoin"),
      s"g3_neighbor_jaccard: no broadcast join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"g3_neighbor_jaccard: global sort instead of partial top-K:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"g3_neighbor_jaccard: all-pairs shape leaked in:\n$plan")
  }

  test("u1_user_get_or_create: the registry never shuffles — request " +
    "batch broadcasts into the match, anti join stays request-sized") {
    // auto-broadcast off: at 100 TB the registry outgrows it, and only
    // the EXPLICIT request-batch broadcasts may remain
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for (q <- Seq("u1_user_get_or_create", "u2_api_key_resolve")) {
        val plan = finalPlanText(run(q))
        assert(!plan.contains("SortMergeJoin") &&
          !plan.contains("ShuffledHashJoin"),
          s"$q: registry-wide shuffle join appeared:\n$plan")
        assert(plan.contains("BroadcastHashJoin"),
          s"$q: expected the broadcast request-batch match in:\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t1_incremental: history comes from the ledger artifact; the " +
    "catch-up scan prunes to the days past the watermark") {
    val df = run("t1_incremental")
    val plan = finalPlanText(df)
    // the prior series is an artifact read, never an events rescan
    assert(plan.contains("stats_ledger"),
      s"t1_incremental: no ledger artifact scan in:\n$plan")
    // the ONLY events scan is the catch-up branch, pruned at the
    // DIRECTORY level to event_day > watermark
    val evScans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("graft_events"))
      .toSeq
    assert(evScans.size == 1,
      s"t1_incremental: ${evScans.size} events scans (history rescan?):\n$plan")
    assert(evScans.head.contains("PartitionFilters") &&
      "event_day[#0-9L]* >".r.findFirstIn(evScans.head).isDefined,
      s"t1_incremental: watermark not a partition filter:\n${evScans.head}")
    // incremental equals batch, in-engine (the oracle pins it cross-engine)
    assert(df.collect().sameElements(run("t1_daily_stats").collect()))
  }

  test("j13_skew_join: hot slice broadcasts (never shuffles), cold slice " +
    "shuffle-joins, and the split equals the plain join") {
    import org.apache.spark.sql.functions.col
    // disable auto-broadcast so the small fixture dim can't hide the
    // cold slice's shuffle join — at 100 TB neither side auto-broadcasts,
    // and the ≤ k-row HOT dim slice must be the only broadcast left
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def select(df: DataFrame): DataFrame = df
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("event_type"))
        .orderBy("event_id")
      // shape pin with a PINNED hot set: the MG pass is data-driven (at
      // this fixture's scale it may class every key hot, emptying the
      // cold branch), so the hot/cold split is pinned explicitly here
      val df = select(operators.Skew.skewGuardedJoin(
        Tables.events(spark, sfTiny), Tables.customer(spark, sfTiny),
        col("user_id"), col("c_custkey"), k = 16,
        hotKeys = Some(Seq("3", "7"))))
      val got = df.collect()
      val plan = finalPlanText(df)
      assert(plan.contains("BroadcastHashJoin"),
        s"j13: hot slice must broadcast the ≤ k dim rows:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"),
        s"j13: cold slice must remain an ordinary shuffle join:\n$plan")
      // the typed hot-key In() predicate prunes the fact scan itself
      assert("PushedFilters: \\[[^\\]]*In\\(user_id".r
        .findFirstIn(plan).isDefined,
        s"j13: hot-key In filter not pushed to the events scan:\n$plan")
      // invariance: identical to the unsplit join, row for row — for
      // the pinned split AND for the shipped MG-driven entry
      val plain = select(Tables.events(spark, sfTiny)
        .join(Tables.customer(spark, sfTiny),
          col("user_id") === col("c_custkey"))).collect()
      assert(got.nonEmpty && got.sameElements(plain))
      assert(run("j13_skew_join").collect().sameElements(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** All WindowExec nodes of a physical plan (window partitioning is fixed
    * at planning time — AQE never changes a partitionSpec, so the
    * pre-adaptive plan is authoritative and nothing needs to execute).
    * Main tree only: the suite's plans carry scalars via broadcast
    * crossJoins, never scalar subqueries, so there is no subquery side
    * channel for a window to hide in. */
  private def windowNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] =
    p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }

  test("ev_concentration: no unpartitioned WindowExec anywhere — the " +
    "Lorenz deciles never funnel the user frame through one task") {
    val df = run("ev_concentration")
    val unpart = windowNodes(df.queryExecution.sparkPlan)
      .filter(_.partitionSpec.isEmpty)
    assert(unpart.isEmpty,
      s"ev_concentration: ${unpart.size} single-partition window(s):\n" +
        unpart.mkString("\n"))
    // the one window it DOES have is the within-chunk prefix sum
    val part = windowNodes(df.queryExecution.sparkPlan)
    assert(part.nonEmpty && part.forall(_.partitionSpec.nonEmpty))
    // and the expensive pre-shuffle pipeline (events scan + user rollup)
    // is SHARED across the offset/total/decile branches by exchange
    // reuse — a per-branch re-scan would triple the 100 TB cost
    val plan = finalPlanText(df)
    val scans = "FileScan parquet [^\\s]*graft_events".r.findAllIn(plan).size
    assert(scans == 1,
      s"ev_concentration: $scans events scans (branches must reuse " +
        s"the rollup exchange):\n$plan")
  }

  test("suite sweep: every unpartitioned global window runs on a provably " +
    "bounded frame — never a data-proportional one") {
    // A WindowExec with an empty partitionSpec funnels its WHOLE input
    // through a single task. That is acceptable only when the frame is
    // bounded by CONSTRUCTION — a value-domain rollup (calendar days,
    // deciles, distinct price levels, a 64-file manifest) or a K+1-row
    // top-K carry — and a scale bug when the frame grows with the data
    // (users, events, documents, pairs). This sweep turns the convention
    // into a gate: any query whose plan contains an unpartitioned window
    // must appear here with its boundedness justification, so a new
    // data-proportional funnel cannot land silently.
    //
    // The old blind spot — lineage truncated by localCheckpoint(true)
    // replaces the upstream plan with a leaf scan, hiding any window
    // INSIDE a checkpointed segment — is closed generically (round 13):
    // every checkpoint funnels through plans.Checkpointed, the capture
    // below records each segment's PRE-truncation plan while the queries
    // construct, and those frames are swept with the same invariant. The
    // source meta-gate (next test) keeps new builders inside the funnel.
    val bounded: Map[String, String] = Map(
      "t1_daily_stats" -> "calendar-day rollup frame (date-domain bounded)",
      "t1_incremental" -> "catch-up cumulative over the ≤ 7-day horizon",
      "t5_period_delta" -> "calendar-period rollup frame",
      "t6_moving_avg" -> "7-day moving average over the day rollup frame",
      "w8_pagination" -> ("window over a .limit(pageEnd) frame (≤40 rows " +
        "by construction; the scalable form is w11_keyset_page)"),
      "u1_user_get_or_create" -> ("id allocation over the UNMATCHED slice " +
        "of the request batch only (request-sized, like BulkParams)"),
      "s3_highlevel_write" -> "distinct (model, data) dimension vocabulary",
      "io_zorder_layout" -> ("ntile layout gate — documented verification " +
        "shape (LayoutPack header: production = repartitionByRange + " +
        "sortWithinPartitions, same contiguous-range property, spec-pinned)"),
      "io_compaction_plan" -> ("same layout gate + cumulative window over " +
        "the 64-file manifest frame (metadata-proportional)"),
      "io_zorder_prune" -> ("same layout gate × two layouts; monitors the " +
        "64-file manifest frame"))
    assertAllowlistLive("bounded windows", bounded.keySet)
    // bench-profile trims m4's eager 360-combo grid (the builders run
    // driver-side work at construction; only plan TOPOLOGY is inspected
    // here and the reduced grid plans identically)
    System.setProperty("graft.bench.profile", "true")
    graft.plans.Checkpointed.startCapture()
    val (offenders, frames) =
      try {
        val off = (for ((name, fn) <- SparkEntry.queries.toSeq) yield {
          val unpart = windowNodes(
            fn(spark, planSweepDir).queryExecution.sparkPlan)
            .filter(_.partitionSpec.isEmpty)
          (name, unpart.size)
        }).filter(_._2 > 0).filterNot { case (n, _) => bounded.contains(n) }
        (off, graft.plans.Checkpointed.stopCapture())
      } finally {
        graft.plans.Checkpointed.stopCapture()
        System.clearProperty("graft.bench.profile")
      }
    assert(offenders.isEmpty,
      "unjustified unpartitioned windows: " + offenders.sortBy(_._1)
        .map { case (n, k) => s"$n($k)" }.mkString(", "))
    // The checkpoint-hidden segments, swept via the registry: eager
    // checkpoints EXECUTE at query construction, so the loop above
    // captured every pre-truncation frame the suite builds (iterative
    // rounds included — one capture per iteration). Same invariant, same
    // justification map (labels are site names, not query names, so a
    // bounded site lists itself here).
    val boundedSites: Map[String, String] = Map(
      "StatsPack.prioSample" -> ("global rank over prioTop's (K+1)-row " +
        "TakeOrdered carry (K = PrioSampleK — sketch-sized, never data); " +
        "previously invisible behind the checkpoint, caught by this " +
        "registry the day it landed"))
    assert(frames.nonEmpty, "no checkpointed frames captured — registry " +
      "wiring broke (every iterative operator checkpoints)")
    val badFrames = frames
      .map { case (label, plan) =>
        (label, windowNodes(plan).count(_.partitionSpec.isEmpty)) }
      .filter(_._2 > 0)
      .filterNot { case (l, _) => boundedSites.contains(l) }
    assert(badFrames.isEmpty,
      "unpartitioned windows INSIDE checkpointed segments: " +
        badFrames.distinct.sortBy(_._1)
          .map { case (l, k) => s"$l($k)" }.mkString(", "))
  }

  test("suite sweep: no window partitioned ONLY by enum-domain keys — a " +
    "3-value partitionSpec is an unpartitioned funnel wearing a disguise") {
    // The unpartitioned sweep above catches empty partitionSpecs; this one
    // closes the blind spot it left (VERDICT r14: a17's flag-partitioned
    // running sum passed the gate while funneling the whole distinct-price
    // frame through 3 tasks). A window keyed solely on columns whose value
    // DOMAIN is a fixed enum (return flags, line statuses, market
    // segments, event types, languages, sources) has a constant partition
    // count: per-partition input grows linearly with the data, exactly
    // like an unpartitioned window, just k× cheaper for constant k.
    // Gate: every WindowExec must either carry at least one non-enum
    // partition key (ids, chunk ids, days) or be justified below with a
    // boundedness argument for its INPUT frame. Name-based on the
    // testdata's enum columns — a rename could evade it, but the point is
    // catching convenience regressions, not adversarial evasion.
    val enumCols = Set(
      "l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority",
      "l_shipmode", "l_shipinstruct", "c_mktsegment", "r_name", "n_name",
      "event_type", "prev_type", "etype", "source", "src", "src_a", "src_b",
      "lang", "status", "label", "model", "cls", "klass")
    // query -> justification: the window input is bounded by CONSTRUCTION
    // (a value-domain rollup), so constant-partition parallelism is moot.
    val bounded: Map[String, String] = Map(
      "t4_gap_fill" -> ("LOCF over the per-type calendar frame (≤ types × " +
        "span-hours rows — wall-clock-bounded, the post-rollup argument)"),
      "ev_transitions" -> ("row normalizer over the |types+1|² transition " +
        "matrix rollup — enum² frame, never the event stream"),
      "sk_kmv_overlap" -> ("pair-rank over the min-union draw frame: both " +
        "inputs are k-row group-limited sketches, so each (src_a, src_b) " +
        "partition holds ≤ 2k rows by construction"))
    assertAllowlistLive("enum-window bounded", bounded.keySet)
    // Structural exemption: a window whose partitionSpec also plans a
    // WindowGroupLimitExec (Spark's rank-filter pushdown from
    // `row_number/rank ≤/= k` filters) is bounded at k rows per group per
    // map partition BEFORE the shuffle — the funnel never sees the data.
    def groupLimited(p: org.apache.spark.sql.execution.SparkPlan)
        : Set[Set[String]] = p.collect {
      case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
        g.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet
    }.toSet
    System.setProperty("graft.bench.profile", "true")
    val offenders =
      try {
        (for ((name, fn) <- SparkEntry.queries.toSeq) yield {
          val plan = fn(spark, planSweepDir).queryExecution.sparkPlan
          val gl = groupLimited(plan)
          val enumOnly = windowNodes(plan)
            .filter(_.partitionSpec.nonEmpty)
            .map(_.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet)
            .filter(ks => ks.nonEmpty && ks.forall(enumCols) && !gl(ks))
          (name, enumOnly)
        }).filter(_._2.nonEmpty).filterNot { case (n, _) => bounded.contains(n) }
      } finally System.clearProperty("graft.bench.profile")
    assert(offenders.isEmpty,
      "enum-only window partitionings (constant partition count — add a " +
        "chunk key or justify the frame): " + offenders.sortBy(_._1)
        .map { case (n, ks) => s"$n${ks.map(_.mkString("(", ",", ")"))}" }
        .mkString(", "))
  }

  test("dd_jaccard_capped: grid lookups broadcast map-side, corpus never " +
    "sort-merges") {
    // the pushability claim: per-token CMS estimates come from CmsDepth
    // broadcast joins against the (materialized) grid slices AHEAD of
    // the postings shuffle — a sort-merge join anywhere means a corpus
    // shuffle the map-side filter was supposed to avoid. The returned
    // frame is the eager result checkpoint (a leaf), so the shape lives
    // in the PRE-truncation plan the registry records.
    graft.plans.Checkpointed.startCapture()
    val frames =
      try { run("dd_jaccard_capped"); graft.plans.Checkpointed.stopCapture() }
      finally graft.plans.Checkpointed.stopCapture()
    val res = frames.filter(_._1 == "DedupPack.capResult").map(_._2.toString)
    assert(res.nonEmpty, s"no capResult frame captured: ${frames.map(_._1)}")
    for (plan <- res) {
      // (the shared/sizes joins downstream are fact-sized and sort-merge
      // legitimately — the same inverted-index shape jaccardPairs runs; the claim
      // here is only that the GRID lookups broadcast)
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(bhj >= operators.StatsPack.CmsDepth,
        s"dd_jaccard_capped: $bhj broadcast joins, expected >= " +
          s"${operators.StatsPack.CmsDepth} grid-slice lookups:\n$plan")
    }
  }

  test("ann_clustered_recall: seeds/probes broadcast, corpus never " +
    "sort-merges") {
    // the returned frame is the eager result checkpoint — assert on the
    // registry's pre-truncation plan (every frame: seeds, probes, query
    // set and the ≤ 25-row stats assembly are broadcast sides)
    graft.plans.Checkpointed.startCapture()
    val frames =
      try {
        run("ann_clustered_recall")
        graft.plans.Checkpointed.stopCapture()
      } finally graft.plans.Checkpointed.stopCapture()
    val res = frames.filter(_._1 == "SimilarityPack.clustered.result")
      .map(_._2.toString)
    assert(res.nonEmpty, s"no clustered.result frame: ${frames.map(_._1)}")
    for (plan <- res) {
      assert(!plan.contains("SortMergeJoin"),
        s"ann_clustered_recall: corpus-side sort-merge join in:\n$plan")
      assert(plan.contains("BroadcastExchange") ||
        plan.contains("BroadcastHashJoin"),
        s"ann_clustered_recall: expected broadcast seed/probe sides:\n$plan")
    }
  }

  test("g2_triangles_approx: the triangle join runs broadcast on the " +
    "m^(2/3)-bounded sample, never a sort-merge or cartesian") {
    // the estimator's whole point is that everything past the edge scan
    // is sample-sized; a sort-merge join here would mean the corpus-side
    // frame leaked into the wedge join
    graft.plans.Checkpointed.startCapture()
    val frames =
      try {
        run("g2_triangles_approx")
        graft.plans.Checkpointed.stopCapture()
      } finally graft.plans.Checkpointed.stopCapture()
    val rep = frames.filter(_._1 == "GraphPack.triangles.approx.report")
      .map(_._2.toString)
    assert(rep.nonEmpty,
      s"no triangles.approx.report frame: ${frames.map(_._1)}")
    for (plan <- rep) {
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("CartesianProduct"),
        s"g2_triangles_approx: non-broadcast join in the sample path:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"g2_triangles_approx: expected broadcast wedge probes:\n$plan")
    }
  }

  test("t3_cached_stats serves from the TTL'd artifact — no events scan") {
    // the caching contract's plan half: after the build, the QUERY reads
    // only the persisted member (the reference serves the homepage from
    // redis, not by re-running the stats SQL)
    run("t3_cached_stats").collect() // ensure built
    val plan = planText(run("t3_cached_stats"))
    assert(plan.contains("ttl_recent_stats"),
      s"t3_cached_stats: no stats-cache artifact scan in:\n$plan")
    assert(!plan.contains("graft_events") && !plan.contains("events.parquet"),
      s"t3_cached_stats: events scan on the hit path:\n$plan")
  }

  test("meta-gate: localCheckpoint appears ONLY inside plans.Checkpointed") {
    // The registry sweep above is only exhaustive while every checkpoint
    // site funnels through the wrapper — turn that from convention into
    // a gate by scanning main source. (Comments mentioning the API are
    // fine; a call is `.localCheckpoint(`.)
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.exists(root), s"source root missing: $root")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("plans/Checkpointed.scala"))
      .filter(p => java.nio.file.Files.readString(p)
        .contains(".localCheckpoint("))
      .map(_.toString).toList
    assert(offenders.isEmpty,
      s"raw localCheckpoint outside plans.Checkpointed: $offenders")
  }

  test("meta-gate: the artifact gate lives ONLY in sim.IndexStore") {
    // Every artifact family commits and proves freshness through
    // IndexStore's one gate; a second manifest writer, committer or
    // freshness check elsewhere in main source is a gate growing back.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.exists(root), s"source root missing: $root")
    val gate = """commitBuild\(|writeManifest\(|def\s+isFresh\b""".r
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.toString.endsWith("sim/IndexStore.scala"))
      .flatMap(p => gate.findAllIn(java.nio.file.Files.readString(p))
        .map(m => s"$p: $m"))
      .toList
    assert(offenders.isEmpty,
      s"artifact gate code outside sim.IndexStore: $offenders")
  }

  test("suite sweep: auto-broadcast OFF — no query degrades to a " +
    "cartesian product when nothing fits the threshold") {
    // At 100 TB no join side clears an auto-broadcast threshold: every
    // broadcast the plans rely on must come from an EXPLICIT hint on a
    // bounded-by-construction frame, never from the test corpus being
    // small. This sweep re-plans every query with both the static and
    // adaptive thresholds disabled — the planner's view of the
    // nothing-is-small regime — and rejects any CartesianProductExec: a
    // query that is cartesian-free only at sfTiny sizes would detonate on
    // the first real corpus. (Hinted bounded crossJoins survive as
    // BroadcastNestedLoopJoin — correct and intended; unhinted ones
    // surface here as cartesians.)
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    System.setProperty("graft.bench.profile", "true")
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val offenders = for {
        (name, fn) <- SparkEntry.queries.toSeq
        cart = preparedPlan(fn(spark, planSweepDir)).collect {
          case c: org.apache.spark.sql.execution.joins
              .CartesianProductExec => c
        }
        if cart.nonEmpty
      } yield s"$name(${cart.size})"
      assert(offenders.isEmpty,
        "cartesian products under auto-broadcast OFF (these queries only " +
          "survive because the test corpus is tiny): " +
          offenders.sorted.mkString(", "))
    } finally {
      System.clearProperty("graft.bench.profile")
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  /** The PREPARED (exchange-bearing) physical plan without executing:
    * `sparkPlan` predates EnsureRequirements (no Exchange nodes exist in
    * it at all), and under AQE the prepared tree hides behind the
    * AdaptiveSparkPlanExec leaf wrapper — unwrap it (`executedPlan` on an
    * unexecuted adaptive root IS the initial prepared plan). */
  private def preparedPlan(df: DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  /** Structural shuffle count of a prepared, not-yet-executed plan: every
    * ShuffleExchangeExec instance in the main tree. Runtime exchange
    * REUSE (AQE stage cache) deduplicates some of these at execution —
    * the count here is the structural upper bound the optimizer plans,
    * which is the number a code change moves. */
  private def shuffleCount(p: org.apache.spark.sql.execution.SparkPlan): Int =
    p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size

  test("suite sweep: shuffle-count ratchet — no query gains an exchange " +
    "silently") {
    // Every groupBy/join/distinct/window that isn't broadcast- or
    // bucket-satisfied is a full repartition of its input — at 100 TB the
    // difference between 2 and 3 exchanges in a hot query is the
    // difference between a plan that fits the night and one that doesn't.
    // The per-query plan pins above guard the queries someone thought
    // about; this ratchet guards ALL of them: the committed manifest
    // records each query's structural shuffle count (and each
    // checkpointed segment's, via the pre-truncation registry — the same
    // blind spot the window sweep closes), and the gate fails BOTH ways.
    // More shuffles than the manifest = a regression that must be fixed
    // or consciously justified by editing the manifest line in the same
    // diff (where a reviewer sees it). Fewer = an improvement that must
    // be banked by ratcheting the line down, so the manifest never goes
    // stale-loose. New/removed queries must add/drop their lines.
    // Regenerate with GRAFT_REGEN_SHUFFLE_MANIFEST=1 on a STANDALONE
    // `testOnly graft.PlanSpec -- -z ratchet` run: cold memos capture the
    // maximal checkpoint-site set (in-suite runs see fewer sites because
    // earlier tests warm the harvest memos — which is also why absent
    // pinned sites are not treated as stale below).
    val manifestPath =
      java.nio.file.Paths.get("src/test/resources/shuffle_manifest.tsv")
    // The manifest is pinned at sfTiny BY CONSTRUCTION: a GRAFT_PLAN_SF
    // override points this sweep at a replicated corpus whose plans may
    // legitimately differ (file counts, AQE thresholds), so both the
    // compare AND the regen branch must not touch the sfTiny manifest —
    // an override regen would silently commit 64×-derived counts under
    // a header claiming sfTiny. Override runs are eyeball-only.
    if (sys.env.contains("GRAFT_PLAN_SF")) {
      assert(!sys.env.contains("GRAFT_REGEN_SHUFFLE_MANIFEST"),
        "refusing to regenerate the sfTiny shuffle manifest under a " +
        "GRAFT_PLAN_SF override — unset one of the two")
      cancel("GRAFT_PLAN_SF override active: shuffle-manifest compare is " +
        "pinned to the default sfTiny corpus; this run is eyeball-only")
    }
    // bench-profile trims m4's eager 360-combo grid, as in the window
    // sweep — construction only; plan topology is identical
    System.setProperty("graft.bench.profile", "true")
    graft.plans.Checkpointed.startCapture()
    val (queryCounts, frames) =
      try {
        val c = SparkEntry.queries.toSeq.map { case (name, fn) =>
          name -> shuffleCount(preparedPlan(fn(spark, planSweepDir)))
        }
        (c, graft.plans.Checkpointed.stopCapture())
      } finally {
        graft.plans.Checkpointed.stopCapture()
        System.clearProperty("graft.bench.profile")
      }
    // Iterative sites re-checkpoint per round with a stable per-round
    // shape (round k reads round k-1's leaf); pin the max across rounds.
    val siteCounts = frames.groupBy(_._1).map { case (label, ps) =>
      s"site:$label" -> ps.map(f => shuffleCount(f._2)).max }
    val current: Map[String, Int] = queryCounts.toMap ++ siteCounts
    if (sys.env.contains("GRAFT_REGEN_SHUFFLE_MANIFEST")) {
      val body = current.toSeq.sortBy(_._1)
        .map { case (n, k) => s"$n\t$k" }.mkString("\n")
      java.nio.file.Files.createDirectories(manifestPath.getParent)
      java.nio.file.Files.writeString(manifestPath,
        "# Structural shuffle counts per query plan (sfTiny, pre-AQE) —\n" +
        "# maintained by PlanSpec's shuffle-count ratchet. Edit a line\n" +
        "# ONLY alongside the change that moves it; regenerate with\n" +
        "# GRAFT_REGEN_SHUFFLE_MANIFEST=1 sbt 'testOnly graft.PlanSpec'.\n" +
        body + "\n")
      info(s"manifest regenerated: ${current.size} entries")
    } else {
      assert(java.nio.file.Files.exists(manifestPath),
        s"missing $manifestPath — regenerate (see test comment)")
      import scala.jdk.CollectionConverters._
      val pinned: Map[String, Int] =
        java.nio.file.Files.readAllLines(manifestPath).asScala
          .filterNot(l => l.startsWith("#") || l.isBlank)
          .map { l => val Array(n, k) = l.split("\t"); n -> k.toInt }.toMap
      val regressed = current.collect {
        case (n, k) if pinned.get(n).exists(k > _) => s"$n(${pinned(n)}->$k)"
      }.toSeq.sorted
      val improved = current.collect {
        case (n, k) if pinned.get(n).exists(k < _) => s"$n(${pinned(n)}->$k)"
      }.toSeq.sorted
      val missing = (current.keySet -- pinned.keySet).toSeq.sorted
      // `site:` frames only register when their builder actually RUNS —
      // memoized harvests (Gonzalez seeds, skew hot sets) skip their
      // checkpoint entirely once another test has warmed them, so a
      // pinned site absent from this sweep is a warm memo, not a stale
      // line. Query entries have no such excuse.
      val stale = (pinned.keySet -- current.keySet)
        .filterNot(_.startsWith("site:")).toSeq.sorted
      assert(regressed.isEmpty, "queries GAINED structural shuffles — fix " +
        "the plan or justify by editing shuffle_manifest.tsv in this " +
        s"diff: ${regressed.mkString(", ")}")
      assert(improved.isEmpty, "queries LOST shuffles — bank the win by " +
        s"ratcheting shuffle_manifest.tsv down: ${improved.mkString(", ")}")
      assert(missing.isEmpty,
        s"queries not in shuffle_manifest.tsv: ${missing.mkString(", ")}")
      assert(stale.isEmpty,
        s"stale manifest entries: ${stale.mkString(", ")}")
    }
  }

  test("codegen class cache holds the analytics working set: a second " +
    "pass recompiles at most 10% of the first") {
    // The generated-class cache is JVM-wide and LRU. At Spark's default
    // of 100 entries these four queries' classes do not fit, so every
    // pass recompiled them all (Engine.CodegenCacheEntries). The bound is
    // a ratio, not zero: g3_neighbor_jaccard and w9_window_ranks each
    // compile ~4 new classes on the second pass. When earlier suites in this JVM already ran these plan
    // shapes, the first pass starts warm and compiles few classes; the
    // base is then the default cache size, which these queries overflow.
    val qs = Seq("g1_pagerank", "g3_neighbor_jaccard", "w9_window_ranks",
      "io_zorder_prune")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val c0 = compiles()
      qs.foreach(q => run(q).write.format("noop").mode("overwrite").save())
      compiles() - c0
    }
    val first = pass()
    val second = pass()
    info(s"compiles: first pass $first, second pass $second")
    assert(second <= 0.1 * math.max(first, 100L),
      s"second pass recompiled $second classes (first pass: $first) — " +
        "the codegen cache no longer holds these queries' classes")
  }
}
