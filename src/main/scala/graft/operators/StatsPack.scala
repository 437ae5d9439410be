package graft.operators

import graft.sim.IndexStore.member
import graft.plans.Checkpointed

import graft.Exprs._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Submission-statistics operators (reference T1/T2:
  * db/submission_stats.py:80-124, 168-218) over the `events` time series,
  * plus the composite ingest pipeline (reference §3.2: validate → dedup →
  * per-key offset → cap) expressed as one deterministic batch plan.
  *
  * Scale: the daily rollup groups on (day) — a low-cardinality shuffle that
  * AQE coalesces; the cumulative series is a window over days (thousands of
  * rows, not billions — safe as a single partition after the rollup). At
  * 100 TB the input would be date-partitioned parquet so the daily groupBy
  * is partition-local (no shuffle of raw rows, partial aggregation only).
  */
object StatsPack {

  /** The event-type vocabulary — ONE definition for every wide-format
    * rollup (`t2_stats_series` per-type counts, `a13_pivot`'s explicit
    * value list and zero-fill): adding a type is a one-site edit, and the
    * pivot's value list can never diverge from its own column selection. */
  private[graft] val EventTypes =
    Seq("click", "error", "purchase", "signup", "view")

  /** The (day, n) volume rollup shared by the t5/t6 reporting windows —
    * ONE bucketing definition, so a timezone or ts-normalization change
    * cannot drift between them. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(count(lit(1)).as("n"))

  /** Priority-sampling constants: sample size and the 30-bit draw domain
    * (u = h/2^30, h ∈ [1, 2^30] — q = w·2^30 div h stays in BIGINT). */
  private[graft] val PrioSampleK = 100
  private[graft] val PrioDrawMod = 1073741824L

  /** The weighted-table top-(K+1) of the priority sample, as ONE lazy
    * plan: exposed so PlanSpec can assert the real TakeOrdered shape over
    * the weighted scan (the served entry checkpoints this frame, which
    * would hide the scan behind an ExistingRDD in the asserted plan). */
  private[graft] def prioTop(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast(LongType).as("w_cents"))
      .withColumn("h",
        pmod(conv(substring(md5(concat(lit("psamp:"),
          col("o_orderkey").cast(StringType))), 1, 8), 16, 10)
          .cast(LongType), lit(PrioDrawMod)) + 1)
      .withColumn("q", expr(s"w_cents * ${PrioDrawMod}L div h"))
      .orderBy(col("q").desc, col("o_orderkey"))
      .limit(PrioSampleK + 1)

  /** The oracle-side image of [[EventTypes]]: one `COUNT(*) FILTER` column
    * per type, named `n_<type>` like the Spark side. */
  private def typeFilterCols(): String =
    EventTypes.map(t =>
      s" CAST(COUNT(*) FILTER (WHERE event_type = '$t') AS BIGINT)" +
        s" AS n_$t").mkString(",\n")

  /** Count-Min grid shape for `sk_cms_freq`: 4 independent md5-derived
    * rows × 4096 buckets — 16k longs of state (always broadcastable),
    * ε = e/4096 ≈ 0.066% of the stream length per estimate at δ = e⁻⁴:
    * on the fixture's ~10⁵-shingle stream that is a ≈±60 absolute error
    * band, tight enough that a hot-posting guard at MaxShingleDf-scale
    * thresholds reads the estimate directly; the fixture still produces
    * visible (one-sided) collisions for the overcount monitor. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 4096

  /** Deployment CMS probe: estimates for an ARBITRARY (key) frame against
    * a prebuilt grid — no exact counting anywhere (the `sk_cms_freq` gate
    * row carries the exact column as its calibration monitor, the same
    * split as kmvDistinct vs kmvDistinctSketch). At scale the grid is
    * built once per corpus version ([[cmsGrid]]; cell counts are
    * additive, so per-partition partial grids merge by sum — spec-pinned)
    * and any number of key lists probe the broadcastable depth×width
    * table. */
  def cmsEstimateFor(grid: DataFrame, keys: DataFrame): DataFrame =
    // LEFT join + coalesce(0): an untouched cell IS a zero counter —
    // the inner-join form silently dropped never-seen keys (no row at
    // all) and over-estimated keys with a mix of empty and collided
    // cells (min over only the non-empty ones); canonical CMS answers 0
    keys.select(col("key"),
      org.apache.spark.sql.functions.posexplode(cmsCells(col("key")))
        .as(Seq("row", "bucket")))
      .join(grid, Seq("row", "bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** The (row, bucket, c) counter grid over a one-column `k` key-stream
    * frame — reusable for tokens, shingles, ids, …; ONE hashing
    * definition ([[cmsCells]]) shared with the gate row and the probe.
    * `width`/`prefix` size an independent grid family (DedupPack's
    * self-tuning df cap uses a wider one — at its ~10⁶-token streams the
    * 4096-bucket default drowns the estimate in ~stream/width collision
    * mass, the gate row's own overcount monitor made measurable). */
  def cmsGrid(keyStream: DataFrame, width: Int = CmsWidth,
      prefix: String = "cms"): DataFrame =
    keyStream
      .select(org.apache.spark.sql.functions
        .posexplode(cmsCells(col("k"), width, prefix))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("c"))

  /** The depth md5-derived cell coordinates of one key. */
  private[graft] def cmsCells(key: org.apache.spark.sql.Column,
      width: Int = CmsWidth,
      prefix: String = "cms"): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.array((0 until CmsDepth).map(i =>
      pmod(conv(substring(md5(concat(lit(s"$prefix$i:"), key)), 1, 8), 16, 10)
        .cast(LongType), lit(width.toLong))): _*)

  /** The T1 per-day rollup — ONE definition shared by the full recompute
    * and the incremental catch-up, so their day bucketing and aggregate
    * policies (exact-decimal sums) can never drift. */
  private def t1Rollup(ev: DataFrame): DataFrame = ev
    .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
    .agg(
      count(lit(1)).as("n"),
      countDistinct(col("user_id")).as("users"),
      dsum(col("value")).as("total_value"))

  private[graft] val StatsLedgerParams = "members=v1,horizon=7"

  /** The persisted daily-stats LEDGER the incremental catch-up reads —
    * the reference's `statistics` table (db/submission_stats.py:110-124
    * `_write_stats`) as a build-once artifact: the T1 series through a
    * high-watermark of max_day − 7 (a fixed catch-up horizon, so the
    * fresh branch always has days to compute at any SF). Production
    * appends to this ledger after every catch-up run; here each ensure
    * call rebuilds only when the corpus fingerprint moved. */
  private[graft] def ensureStatsLedger(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensure(s, d, "stats_ledger",
      Tables.events(s, d).select("event_id", "ts", "user_id", "value"),
      "event_id", StatsLedgerParams) { p =>
      val ev = Tables.eventsPartitioned(s, d)
      val wm = ev.agg(date_sub(max(col("event_day")), 7)).head().getDate(0)
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t1Rollup(ev.filter(col("event_day") <= lit(wm)))
        .withColumn("cum_n", sum(col("n")).over(w))
        .coalesce(1).write.mode("overwrite").parquet(s"$p/daily")
    }

  /** The ledger's high watermark and cumulative seed, read once.
    * EMPTY-ledger degenerate (a corpus spanning ≤ the 7-day horizon):
    * max(day) would be null and `event_day > lit(null)` would drop
    * every fresh row — the catch-up must instead treat ALL days as
    * fresh with a zero seed (the reference's own no-stats-yet branch,
    * db/submission_stats.py:95-100). The fixture never hits this, but
    * the operator's contract should not depend on that. */
  private[graft] def ledgerHead(ledger: DataFrame): (Option[java.sql.Date], Long) = {
    val head = ledger.agg(max(col("day")).as("wm"),
      coalesce(max(col("cum_n")), lit(0L)).as("seed")).head()
    (Option(head.getDate(0)), head.getLong(1))
  }

  /** ONE catch-up core shared by the batch operator (`t1_incremental`)
    * and its streaming gate (EventStream.ledgerCatchupGate): fresh rows
    * (already filtered past the ledger watermark) roll up by day and
    * continue the cumulative from the frozen seed; the output is the
    * full ledger ∪ fresh series. The fresh cumulative window spans only
    * the catch-up horizon (≤ 7 day rows). */
  private[graft] def ledgerCatchupCore(ledger: DataFrame, seed: Long,
      fresh: DataFrame): DataFrame = {
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ledger.unionByName(t1Rollup(fresh)
        .withColumn("cum_n", lit(seed) + sum(col("n")).over(w)))
      .orderBy("day")
  }

  /** The T1 daily series with its running cumulative — ONE definition
    * shared by the t1 row and the T3 cache's build, so the cached and
    * recomputed rows can never drift. */
  private def t1Series(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t1Rollup(Tables.events(s, d))
      .withColumn("cum_n", sum(col("n")).over(w))
      .orderBy("day")
  }

  /** The reference's 1-hour stats-cache TTL (STATS_CACHE_TIMEOUT,
    * db/submission_stats.py:20) — far above any gate run's wall time,
    * so verification always serves the hit path after the first build. */
  private[graft] val StatsCacheTtlMs = 60L * 60 * 1000

  /** Build-or-serve the TTL'd stats artifact (see `t3_cached_stats`). */
  private[graft] def ensureStatsCache(s: SparkSession, d: String): String =
    graft.sim.IndexStore.ensureTtl(s, d, "recent_stats",
      Tables.events(s, d).select("event_id", "ts", "user_id", "value"),
      "event_id", StatsCacheTtlMs, "members=v1") { p =>
      t1Series(s, d).coalesce(1).write.mode("overwrite").parquet(s"$p/stats")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- daily incremental stats + running cumulative (T1) ---------------
    "t1_daily_stats" -> ((s, d) => t1Series(s, d)),

    // ---- T3: the serving-cache layer (reference db/submission_stats.py
    //      :20-25, 127-165 — the redis STATS_CACHE with its 1 h TTL).
    //      The ONE §2 row previously out of scope, closed Spark-first:
    //      IndexStore.ensureTtl persists the computed series once per TTL
    //      window (redis setex == member + built_at manifest; get ==
    //      freshness-gated member read; expiry == age > ttl rebuilds), and
    //      the QUERY plan reads ONLY the artifact — no events scan on a
    //      hit (plan-pinned), and no schema-inference job once the member
    //      is resolved. Caching is row-invisible: hit or miss, the rows
    //      equal t1_daily_stats' recompute, which is what the shared
    //      oracle checks. Corpus-fingerprint invalidation rides on top of
    //      the TTL (strictly fresher than redis). ------------------------
    "t3_cached_stats" -> ((s, d) =>
      member(s, ensureStatsCache(s, d), "stats").orderBy("day")),

    // ---- incremental T1 catch-up off the persisted ledger ----------------
    // The reference's compute_stats daemon loop (db/submission_stats.py:
    // 80-124): take the most recent stats date, compute ONLY the missing
    // days, append. Here as one plan: the high-watermark comes from a
    // tiny read of the ledger artifact, the catch-up rollup scans ONLY
    // the day partitions past it (directory-level PartitionFilters —
    // pinned in PlanSpec: history is never rescanned), the cumulative
    // seeds from the ledger's last cum_n as a broadcast scalar, and the
    // result is ledger ∪ fresh days. The oracle is the FULL recompute —
    // incremental-equals-batch is the whole contract. The fresh branch's
    // cumulative window spans only the catch-up horizon (≤ 7 day rows).
    "t1_incremental" -> ((s, d) => {
      val ledger = member(s, ensureStatsLedger(s, d), "daily")
      val (wmOpt, seed) = ledgerHead(ledger)
      val freshSrc = wmOpt match {
        case Some(wm) => Tables.eventsPartitioned(s, d)
          .filter(col("event_day") > lit(wm))
        case None => Tables.eventsPartitioned(s, d)
      }
      ledgerCatchupCore(ledger, seed, freshSrc)
    }),

    // ---- period-over-period deltas (DoD / WoW growth) --------------------
    // The reporting layer over T1's rollup: each day's volume against the
    // previous and the seventh-previous ROLLUP ROW, as signed exact
    // per-milles — the growth numbers every dashboard leads with. Row
    // lags equal calendar DoD/WoW only while the daily frame is gap-free
    // (true of this fixture; compose with t4's gap fill when days can be
    // missing). Two lags over the day-rollup frame (thousands of rows —
    // the t1 POST-ROLLUP window discipline); the division is integer `div`,
    // which truncates toward zero in BOTH engines (DuckDB `//` is
    // truncating, not flooring — checked, so NEGATIVE deltas agree).
    // First-day / first-week rows carry NULL deltas by lag semantics.
    "t5_period_delta" -> ((s, d) => {
      val w = Window.orderBy(col("day"))
      dailyCounts(s, d)
        .withColumn("prev_n", lag(col("n"), 1).over(w))
        .withColumn("prev7_n", lag(col("n"), 7).over(w))
        .select(col("day"), col("n"), col("prev_n"),
          expr("(n - prev_n) * 1000L div prev_n").as("dod_permille"),
          col("prev7_n"),
          expr("(n - prev7_n) * 1000L div prev7_n").as("wow_permille"))
        .orderBy("day")
    }),

    // ---- bounded-frame sliding window: 7-day trailing average -------------
    // The smoothing every volume dashboard overlays — and the one window
    // FRAME class the suite's other windows don't exercise (t1 runs the
    // unbounded cumulative frame, t5 point lags, ev_rolling_wau shows why
    // DISTINCT can't frame): a plain additive aggregate over ROWS 6
    // PRECEDING..CURRENT decomposes perfectly, so the frame is the right
    // tool here. Like t5, ROW frames equal calendar days only while the
    // daily frame is gap-free (true of this fixture; compose with t4's
    // gap fill when days can be missing). Exact integers end to end
    // (trailing milli-mean = win_sum·1000 div win_days); the short head
    // frames average over the rows that exist (win_days < 7), which the
    // output makes explicit.
    "t6_moving_avg" -> ((s, d) => {
      val w = Window.orderBy(col("day")).rowsBetween(-6, Window.currentRow)
      dailyCounts(s, d)
        .withColumn("win_sum", sum(col("n")).over(w))
        .withColumn("win_days", count(lit(1)).over(w))
        .select(col("day"), col("n"), col("win_sum"), col("win_days"),
          expr("win_sum * 1000L div win_days").as("avg_milli"))
        .orderBy("day")
    }),

    // ---- per-day series for charting: epoch ms + per-type counts (T2) ----
    "t2_stats_series" -> ((s, d) => {
      val types = EventTypes
      val perType = types.map(t =>
        count(when(col("event_type") === t, 1)).as(s"n_$t"))
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day_ts"))
        .agg(perType.head, perType.tail: _*)
        .select(col("day_ts").cast(DateType).as("day") +:
          unix_millis(col("day_ts")).as("epoch_ms") +:
          types.map(t => col(s"n_$t")): _*)
        .orderBy("day")
    }),

    // ---- gap-filled hourly series + forward fill (T4) --------------------
    // The charting/monitoring twin of T2 at hour grain: every hour between
    // each type's own first and last active hour gets a row — missing hours
    // carry n=0 and the last observed hourly value (LOCF). Scale shape: the
    // ONE real shuffle is the events→hourly rollup (map-side combinable);
    // everything after runs on calendar-cardinality frames (≤ types ×
    // span-hours rows, bounded by wall-clock time, not data volume — the
    // same post-rollup-window argument as t1's cumulative sum). The
    // calendar comes from a per-type sequence() explode, so no driver-side
    // date loop and no generate_series temp table.
    "t4_gap_fill" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("hour_value"))
      val cal = hourly.groupBy(col("event_type"))
        .agg(min(col("hour_ts")).as("lo"), max(col("hour_ts")).as("hi"))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR")))
            .as("hour_ts"))
      // lo is each type's first ACTIVE hour, so row 1 of every partition
      // has data and value_locf is never NULL
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(hourly, Seq("event_type", "hour_ts"), "left")
        .withColumn("filled", when(col("n").isNull, 1L).otherwise(0L))
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .withColumn("value_locf",
          last(col("hour_value"), ignoreNulls = true).over(w))
        .select("event_type", "hour_ts", "n", "filled", "value_locf")
        .orderBy("event_type", "hour_ts")
    }),

    // ---- composite ingest: content-hash dedup → per-key offset → cap
    //      (reference §3.2 / D1+W6+D2: db/data.py:211-270) -----------------
    "s2_ingest_pipeline" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("content_hash",
          eventContentHash(col("event_type"), col("value"), col("props")))
      // D1: exact-duplicate rejection — keep earliest per (user, hash)
      val dedupW = Window.partitionBy(col("user_id"), col("content_hash"))
        .orderBy(col("ts"), col("event_id"))
      val deduped = ev.withColumn("dup_rn", row_number().over(dedupW))
        .filter(col("dup_rn") === 1)
      // W6: per-key submission offset; D2: cap at 10 submissions per key
      val offsetW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      deduped.withColumn("submission_offset",
          asLong(row_number().over(offsetW)) - 1)
        .filter(col("submission_offset") < 10)
        .select("user_id", "event_id", "submission_offset")
        .orderBy("user_id", "submission_offset")
    }),

    // ---- exact grouped percentiles (the stats layer's distribution
    //      summary; Spark `percentile` and DuckDB `quantile_cont` share the
    //      linear-interpolation definition and match bit-for-bit).
    //      Scale note: exact percentile buffers every value of a group in
    //      one aggregation buffer — with few groups that is the 100 TB
    //      memory wall; the swap there is `approx_percentile` (t-digest,
    //      bounded memory), kept out of the oracle gate because its merge
    //      result is partition-order dependent. -------------------------
    "a10_percentiles" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.95)).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- hash-sampled quantile sketch (the mergeable-summaries answer
    //      to a10's 100 TB memory wall) ----------------------------------
    // Exact percentile buffers every group value; approx_percentile
    // (t-digest) bounds memory but its merge is partition-order-dependent
    // and can never share an oracle. The middle ground a monitor actually
    // wants: a DETERMINISTIC md5-threshold row sample (keep 1-in-8 by
    // event_id draw) + the EXACT percentile of the sample. The sample is
    // a pure row filter, so partition-wise samples union losslessly
    // (trivially mergeable — spec-pinned), the per-group buffer shrinks
    // by the sampling factor, and both engines compute identical
    // interpolated values over the identical sampled rows — the SKETCH
    // output is oracle-checked, not just the exact calibration columns
    // riding along. ------------------------------------------------------
    "sk_sampled_quantiles" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val u = conv(
        substring(md5(concat(lit("qsamp:"), col("event_id").cast(StringType))),
          1, 8), 16, 10).cast(LongType)
      val samp = ev.filter(pmod(u, lit(8L)) === 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_sample"),
          percentile(col("value"), lit(0.5)).as("p50_sample"),
          percentile(col("value"), lit(0.95)).as("p95_sample"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.95)).as("p95"))
        .join(samp, Seq("event_type"), "left")
        .orderBy("event_type")
    }),

    // ---- grouped correlation + OLS line (exact-sums method) -------------
    // Pearson r and the least-squares line of price on quantity per
    // return flag — built-in corr()/regr_slope() aggregate FLOATS in
    // partition order (nondeterministic across engines and runs), so the
    // engine computes the five sufficient statistics (Σx, Σy, Σx², Σy²,
    // Σxy) in EXACT decimal, casts once to double, and finishes with one
    // fixed IEEE formula — both engines run the identical op sequence on
    // identical doubles, so r/slope/intercept are bit-equal. This is also
    // the scale shape: sufficient statistics are map-side combinable (one
    // tiny shuffle), where a naive two-pass corr would rescan. ------------
    "a16_grouped_regression" -> ((s, d) => {
      // exact integer units (cents / quantity-hundredths): squares of a
      // decimal(18,4) overflow DuckDB's int64 multiply, so the sums run
      // in the suite's DECIMAL(38,0)/HUGEINT cross-product discipline;
      // corr and slope are scale-invariant, the intercept de-scales once
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_quantity") * 100).cast(LongType).as("x"),
          floor(col("l_extendedprice") * 100).cast(LongType).as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(col("x")).cast(DoubleType).as("sx"),
          sum(col("y")).cast(DoubleType).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).cast(DoubleType)
            .as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).cast(DoubleType)
            .as("syy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).cast(DoubleType)
            .as("sxy"))
        // degenerate groups (n = 1, or zero x/y variance — a single-member
        // group happens at ANY corpus scale) get NULL corr/slope, the SQL
        // corr() contract; NULLIF mirrors DuckDB's native x/0 → NULL, and
        // without it Spark's ANSI divide throws on the first such group
        .select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy")), lit(0.0)))
            .as("corr"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
            .as("slope"))
        .select(col("l_returnflag"), col("n").cast(LongType).as("n"),
          col("corr"), col("slope"),
          ((col("sy") - col("slope") * col("sx")) / col("n") / lit(100.0))
            .as("intercept"))
        .orderBy("l_returnflag")
    }),

    // ---- exact weighted median / p90 (cumulative-weight crossing) -------
    // The weighted percentile of price under quantity weights per return
    // flag — the mixture/curriculum question ("the price level below
    // which half the shipped QUANTITY sits") that a10's unweighted
    // percentiles cannot answer. Engine-defined LOWER weighted
    // percentile: the smallest value v whose cumulative weight reaches
    // the quantile of the total — pure integer comparisons (cw·2 ≥ W ⇔
    // cw ≥ ⌈W/2⌉), so both engines replay it bit-for-bit where an
    // interpolated float definition would diverge on the weights. Shape:
    // collapse to (flag, value) levels FIRST (ties merge, so the running
    // sum is over a deterministic set and the window input shrinks to
    // the distinct-value frame — the w10 POST-ROLLUP discipline). The
    // running sum itself is the shared [[Chunked]] two-level prefix
    // (round 15, closing VERDICT r14 #3): a flag-partitioned window has
    // only 3 partitions, so the whole distinct-price frame (millions of
    // levels at 100 TB) would funnel through 3 tasks — instead the
    // cumulative weight decomposes as within-(flag, chunk) prefix sum
    // (a PARTITIONED window over range-bounded chunks) plus the total
    // of all strictly-lower chunks of the SAME flag (a broadcast
    // triangle over the ≤ 3·4096-row (flag, chunk) rollup — crossChunk
    // generalized to a secondary key by hand, since the shared helper
    // joins on chunk alone). Crossing values via conditional MIN,
    // unchanged — the oracle cannot see the split.
    "a17_weighted_median" -> ((s, d) => {
      val lvl0 = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast(LongType).as("v"),
          floor(col("l_quantity") * 100).cast(LongType).as("w"))
        .groupBy(col("l_returnflag"), col("v"))
        .agg(sum(col("w")).as("wv"))
      // range bounds from the RAW table, not the rollup: min/max of a
      // grid-floored price is the floor of the raw min/max, and the raw
      // aggregate is a column-pruned scan (parquet footer-stats cheap)
      // where a rollup-derived bound would pay the full groupBy shuffle
      // a second time (measured: the double rollup was most of a 2.7×)
      val mm = Tables.lineitem(s, d)
        .agg(floor(min(col("l_extendedprice")) * 100).cast(LongType)
          .as("vlo"),
          floor(max(col("l_extendedprice")) * 100).cast(LongType)
          .as("vhi"))
      // checkpoint the chunk-assigned rollup ONCE: the three consumers
      // below (window branch, chunk rollup, flag totals) prune different
      // columns, so exchange reuse cannot share the lineitem rollup and
      // each branch would re-scan the raw table (measured 10 scans / 3.6×
      // at sf0.1 without this)
      val lvl = graft.plans.Checkpointed("StatsPack.a17Levels", lvl0
        .crossJoin(broadcast(mm))
        .withColumn("chunk", Chunked.chunkId("v", "vlo", "vhi")))
      val wIn = Window.partitionBy(col("l_returnflag"), col("chunk"))
        .orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val chunkAgg = lvl.groupBy(col("l_returnflag"), col("chunk"))
        .agg(sum(col("wv")).as("cs"), count(lit(1)).as("nl"))
      val loSum = chunkAgg.as("a")
        .join(broadcast(chunkAgg.as("b")),
          col("b.l_returnflag") === col("a.l_returnflag") &&
            col("b.chunk") < col("a.chunk"), "left")
        .groupBy(col("a.l_returnflag").as("l_returnflag"),
          col("a.chunk").as("chunk"))
        .agg(sum(col("b.cs")).as("lo_sum"))
      val cum = lvl
        .withColumn("cw_in", sum(col("wv")).over(wIn))
        .join(broadcast(loSum), Seq("l_returnflag", "chunk"))
        .withColumn("cw", col("cw_in") + coalesce(col("lo_sum"), lit(0L)))
      // flag totals from the CHUNK ROLLUP, not a third pass over the
      // level frame: w_total/n_levels are sums of the per-chunk partials
      val tot = chunkAgg.groupBy(col("l_returnflag"))
        .agg(sum(col("cs")).as("w_total"), sum(col("nl")).as("n_levels"))
      cum.join(broadcast(tot), "l_returnflag")
        .groupBy(col("l_returnflag"), col("w_total"), col("n_levels"))
        .agg(
          min(when(col("cw") * 2 >= col("w_total"), col("v")))
            .as("wmed_cents"),
          min(when(col("cw") * 10 >= col("w_total") * 9, col("v")))
            .as("wp90_cents"))
        .select(col("l_returnflag"), col("w_total"), col("n_levels"),
          col("wmed_cents"), col("wp90_cents"))
        .orderBy("l_returnflag")
    }),

    // ---- winsorized mean (robust location by percentile clipping) -------
    // The feature-prep twin of ev_anomaly_mad's detection: clip each
    // event value into its type's exact [p05, p95] band and report the
    // clipped mean — the robust location outliers cannot drag, plus the
    // clip counts (the monitoring signal: a rising n_clip_hi IS the
    // anomaly). Percentiles ride the proven a10 pairing (Spark
    // percentile ≡ DuckDB quantile_cont bit-for-bit); the clipped value
    // is least/greatest over those bit-equal doubles, summed EXACTLY on
    // the 1e-9 decimal grid (the ppl discipline — order-independent) and
    // divided once. Scale: two passes over events (exact percentile
    // buffers per group — the a10 wall; the sampled-quantile sketch is
    // the at-scale swap), percentile frame broadcasts back, clip pass is
    // map-side combinable.
    "a19_winsorized_mean" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val pcts = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.05)).as("p05"),
          percentile(col("value"), lit(0.95)).as("p95"))
      ev.join(broadcast(pcts), "event_type")
        .select(col("event_type"), col("value"), col("p05"), col("p95"),
          least(greatest(col("value"), col("p05")), col("p95")).as("wv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("p05"), 1L).otherwise(0L))
            .as("n_clip_lo"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L))
            .as("n_clip_hi"),
          min(col("p05")).as("p05"), min(col("p95")).as("p95"),
          (sum(col("wv").cast(DecimalType(28, 9))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).as("wins_mean"))
        .orderBy("event_type")
    }),

    // ---- priority sampling: weighted top-K summary --------------------
    // Duffield, Lund & Thorup (JACM 2007): item i draws u_i ~ U(0,1],
    // priority q_i = w_i / u_i, keep the top K priorities; τ = the
    // (K+1)-th priority, and ŵ_i = max(w_i, τ) is the unbiased
    // per-item weight estimate — Σŵ tracks the population total from K
    // rows. The weighted sample every mixture/curriculum builder wants
    // when "sample proportional to quality×size" meets "one pass, no
    // global shuffle": the top-K is a TakeOrdered partial, never a sort.
    // Engine-defined integer draw: u = h/2^30 with h a 30-bit md5 slice
    // (+1 — never zero), so q = w_cents · 2^30 div h stays under 2^56
    // (w_cents < 2^26) in exact BIGINT arithmetic both engines replay.
    // τ comes from the (K+1)-row frame itself (the one-row agg crossJoins
    // back — the suite's monitor pattern); n ≤ K degrades to τ = 0
    // (everything sampled exactly, ŵ = w). ------------------------------
    "sk_priority_sample" -> ((s, d) => {
      val top = Checkpointed("StatsPack.prioTop", prioTop(s, d))
      val tau = top.agg(min(col("q")).as("tau_min"),
        count(lit(1)).as("n_top"))
      val w = Window.orderBy(col("q").desc, col("o_orderkey"))
      val result = top.withColumn("rn", asLong(row_number().over(w)))
        .filter(col("rn") <= PrioSampleK)
        .crossJoin(broadcast(tau))
        .select(col("rn"), col("o_orderkey"), col("w_cents"), col("q"),
          greatest(col("w_cents"),
            when(col("n_top") === PrioSampleK + 1, col("tau_min"))
              .otherwise(lit(0L))).as("est_cents"))
        .orderBy("rn")
        .transform(df => Checkpointed("StatsPack.prioSample", df))
      top.unpersist() // components pattern — no pinned blocks after return
      result
    }),

    // ---- salted two-phase aggregation (hot-key skew guard) --------------
    //      AQE re-plans skewed JOINS at runtime; a skewed AGGREGATION key
    //      (one key holding a large share of a 100 TB table) still funnels
    //      its partials into a single reducer. Skew.saltedSumCount spreads
    //      each key over 8 salt buckets in phase one and merges the tiny
    //      per-salt partials in phase two; sums are exact decimal
    //      (Exprs policy) so the result is BIT-IDENTICAL to the unsalted
    //      plan no matter how rows land in buckets — which is exactly what
    //      the oracle pins: DuckDB computes the PLAIN single-phase
    //      aggregate and the hashes must match. -------------------------
    "a11_salted_agg" -> ((s, d) =>
      Skew.saltedSumCount(Tables.events(s, d), col("event_type"),
          col("value"), col("event_id"), buckets = 8)
        .orderBy("key")),

    // ---- hot-key differentiated join (skew-join guard) ------------------
    //      The join-side twin of a11: the heaviest fact keys (surfaced by
    //      the shuffle-free MG pass — the same signal ev_concentration's
    //      Lorenz curve diagnoses) route through a broadcast of the ≤ k
    //      matching dim rows and never shuffle; everything else takes the
    //      plain shuffle join. The oracle computes the UNSPLIT join —
    //      mitigation must be bit-invisible regardless of which keys the
    //      partition-order-dependent MG pass happens to surface. --------
    "j13_skew_join" -> ((s, d) =>
      Skew.skewGuardedJoin(Tables.events(s, d), Tables.customer(s, d),
          col("user_id"), col("c_custkey"), k = 16)
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("event_type"))
        .orderBy("event_id")),

    // ---- fixed-width histogram over the value column --------------------
    // 20 equal-width bins between the data's own min and max. The one
    // float step is floor(value·1000) — IEEE-exact and identical in both
    // engines — after which everything is integer: width = span div 20
    // + 1 (so the max lands in bin 19, never 20), bin = (v − lo) div
    // width. Plain double division into bins would be bit-identical too,
    // but a boundary value's bin would hinge on the last ulp of a
    // quotient — the integer domain makes the edges part of the SPEC.
    // Scale shape: one broadcast 1-row min/max pass, then a map-side
    // groupBy on (type, bin) — a ≤ 20·|types|-row result, no sort until
    // presentation. -------------------------------------------------------
    "a14_histogram" -> ((s, d) => {
      // null measurements carry no bin: drop them (standard histogram
      // semantics; `value` is contractually nullable) — without the
      // filter both engines emit a NULL-bin group but PLACE it
      // differently (Spark sorts nulls first, DuckDB last)
      val ev = Tables.events(s, d)
        .select(col("event_type"),
          floor(col("value") * 1000).cast(LongType).as("v"))
        .filter(col("v").isNotNull)
      ev.crossJoin(broadcast(
          ev.agg(min(col("v")).as("vlo"), max(col("v")).as("vhi"))))
        .withColumn("width", expr("(vhi - vlo) div 20 + 1L"))
        .withColumn("bin", expr("(v - vlo) div width"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bin")
    }),

    // ---- ROLLUP hierarchy: detail + subtotal + grand total in one pass --
    // The OLAP dashboard's drill-down table. Spark expands the grouping
    // sets inside a single hash aggregate (one Expand + one exchange — a
    // row fans out once per grouping set map-side, partials combine as
    // usual), so the hierarchy costs one shuffle, not one job per level.
    // grouping_id() disambiguates a NULL subtotal key from a real NULL
    // key; sums go through the exact-decimal policy so every level is
    // bit-identical to DuckDB's ROLLUP. ----------------------------------
    "a12_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sum_qty"),
          dRevenue(col("l_extendedprice"), col("l_discount"))
            .as("revenue"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("gid").cast(LongType).as("gid"), col("n"), col("sum_qty"),
          col("revenue"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- CUBE: every status × priority margin in one pass --------------
    // The full-lattice sibling of a12's ROLLUP: detail, BOTH one-dimension
    // margins, and the grand total from a single Expand + one exchange (a
    // row fans out once per grouping set map-side; four jobs' worth of
    // margins for one shuffle). Same bit-exactness machinery as a12:
    // grouping_id() disambiguates subtotal NULLs, sums ride the exact-
    // decimal policy, and the decimal→double goes through the oracle's
    // VARCHAR hop. ---------------------------------------------------------
    "a15_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("gid").cast(LongType).as("gid"), col("n"), col("sum_price"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)),

    // ---- pivot: per-day event counts, one column per type --------------
    // The wide-format rollup every dashboard export wants. The value list
    // is EXPLICIT — pivot without one runs a distinct-collect job over
    // the pivot column before planning, a hidden driver round-trip at
    // 100 TB; with it, the plan is a single hash aggregate over
    // conditional counts (no extra scan, no shuffle beyond the groupBy).
    // Absent combinations zero-fill to match the oracle's FILTER counts. -
    "a13_pivot" -> ((s, d) => {
      val piv = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy(col("day"))
        .pivot("event_type", EventTypes)
        .agg(count(lit(1)))
      piv.select(col("day") +: EventTypes.map(t =>
          coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
        .orderBy("day")
    }),

    // ---- KMV distinct-count sketch per source (vocabulary monitor) -------
    // Per-source distinct word-3-gram-shingle cardinality via the
    // k-minimum-values sketch (Skew.kmvDistinct, k = 64): the
    // mergeable-summaries answer to "distinct per group" that never pays
    // a full distinct shuffle at 100 TB, with the exact count riding
    // along as the calibration column. Integer-exact estimator — the
    // oracle reproduces the ESTIMATE bit-for-bit, not just the exact
    // count. Shingles, not tokens, as the counted value: the fixture's
    // per-source token vocabulary (~30) sits below k, which would leave
    // the estimator path dead code at the gate; the shingle space
    // (thousands per source) exercises it — and n-gram-space cardinality
    // is the monitor a dedup pipeline actually watches (it sizes the
    // MinHash universe). ---------------------------------------------------
    "sk_kmv_distinct" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(wordShingles(col("text"), 3)).as("w"))
      Skew.kmvDistinct(sh, "source", col("w"), k = 64)
        .orderBy("source")
    }),

    // ---- the sketch-only KMV deployment path, oracle-gated --------------
    // Same estimator as `sk_kmv_distinct` with the calibration columns
    // dropped — the at-scale entry point whose plan never runs the
    // per-group COUNT(DISTINCT) (spec-pinned); this row gates the
    // deployment path's VALUES, not just its plan shape. ------------------
    "sk_kmv_sketch" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(wordShingles(col("text"), 3)).as("w"))
      Skew.kmvDistinctSketch(sh, "source", col("w"), k = 64)
        .orderBy("source")
    }),

    // ---- HyperLogLog cardinality (Flajolet, Fusy, Gandouet, Meunier,
    //      "HyperLogLog: the analysis of a near-optimal cardinality
    //      estimation algorithm", AofA 2007) ------------------------------
    // The fifth mergeable summary, over the SAME per-source shingle
    // universe as KMV so the two estimators calibrate against the same
    // exact column. The register layout is engine-DEFINED (md5-prefix
    // draw, 9-bit register / 51-bit remainder split, integer-folded
    // digest), so — uniquely among HLL implementations, whose buffers are
    // normally engine-private — the ESTIMATE itself is oracle-replayed
    // stage-for-stage. vs KMV: the HLL union (register max) is EXACT
    // under any merge order while KMV's min-union degrades below k draws
    // per part; the state is a fixed ~384 bytes/group vs KMV's k draws;
    // error 4.6% (m=512) vs 12.7% (k=64). Calibration columns gate-scale
    // only, same posture as the KMV pair. ---------------------------------
    "sk_hll_distinct" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(wordShingles(col("text"), 3)).as("w"))
      Skew.hllDistinct(sh, "source", col("w"))
        .orderBy("source")
    }),

    // ---- the sketch-only HLL deployment path, oracle-gated --------------
    // No exact-count calibration — the plan's only shuffle past the
    // map-side register fold is O(sources · 512) tiny rows (spec-pinned);
    // this row gates the deployment path's VALUES, digest included. ------
    "sk_hll_sketch" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      val sh = Tables.documents(s, d)
        .select(col("source"),
          explode(wordShingles(col("text"), 3)).as("w"))
      Skew.hllDistinctSketch(sh, "source", col("w"))
        .orderBy("source")
    }),

    // ---- Count-Min point-frequency sketch (Cormode & Muthukrishnan,
    //      "An Improved Data Stream Summary: the Count-Min Sketch and its
    //      Applications", J. Algorithms 2005) -----------------------------
    // The fourth member of the mergeable-summaries family (Misra-Gries
    // heavy hitters, KMV cardinality, hash-sampled quantiles, CMS point
    // frequency): a depth×width counter grid, est(x) = min over rows of
    // the cell x hashes into — one-sided (never an undercount), ε = e/w
    // relative to the stream length, mergeable by CELL-WISE SUM (the
    // 100 TB contract: per-partition grids union by +, nothing but
    // depth·width longs ever moves). The estimator is deterministic given
    // the md5-derived row hashes, so — like KMV and the defined-layout
    // HLL — the ESTIMATE itself is oracle-checkable bit-for-bit. The probe side
    // joins the (≤ depth·width)-row grid, which broadcasts. Calibration
    // columns (n_exact, overcount ≥ 0) are the gate-scale monitor, same
    // posture as `sk_kmv_distinct` vs `sk_kmv_sketch`. ------------------
    "sk_cms_freq" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      // the counted stream is the MinHash universe itself: per-document
      // DISTINCT word-3-gram shingles, so est(x) approximates x's
      // document frequency — the statistic dedup's hot-posting guard
      // (MaxShingleDf) actually needs at 100 TB, for every shingle at
      // once in depth·width longs
      val toks = Tables.documents(s, d)
        .select(explode(wordShingles(col("text"), DedupPack.ShingleN)).as("tk"))
      // ONE (shingle, count) rollup serves both halves (r17): the grid
      // over the FULL stream equals the count-weighted cell sum over the
      // rollup (addition commutes — cell c's counter is Σ_tk n(tk)·[tk
      // hits c]), so the second shingle explosion over the corpus (the
      // regex-split pass cmsGrid's raw stream form pays) collapses into
      // a vocabulary-sized posexplode, and exchange reuse shares the
      // rollup between the grid and the df ≥ 2 point-query keys.
      val rollup = toks.groupBy(col("tk")).agg(count(lit(1)).as("n_exact"))
      val grid = rollup
        .select(col("n_exact"),
          posexplode(cmsCells(col("tk"))).as(Seq("row", "bucket")))
        .groupBy(col("row"), col("bucket")).agg(sum(col("n_exact")).as("c"))
      // point-query the repeated shingles (df ≥ 2 — the dedup-relevant
      // ones). The exact count is the gate-scale calibration column; the
      // deployment probe is [[cmsEstimateFor]] (no exact counting
      // anywhere).
      val keys = rollup.filter(col("n_exact") >= 2)
      keys
        .select(col("tk"), col("n_exact"),
          posexplode(cmsCells(col("tk"))).as(Seq("row", "bucket")))
        .join(grid, Seq("row", "bucket"))
        .groupBy(col("tk"), col("n_exact"))
        .agg(min(col("c")).as("est_cms"))
        .withColumn("overcount", col("est_cms") - col("n_exact"))
        .orderBy("tk")
    }),

    // ---- upsert / MERGE semantics as a deterministic batch plan
    //      (reference D5: ON CONFLICT DO UPDATE, db/similarity.py:501-513;
    //      on Delta this is a MERGE — here the equivalent full-outer
    //      coalesce, which is what MERGE compiles to) ---------------------
    "d5_upsert" -> ((s, d) => {
      // session-timezone-safe literal (a java.sql.Timestamp literal would
      // parse in the JVM default zone, diverging from the naive-UTC oracle)
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      def latestPerUser(df: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      }
      val ev = Tables.events(s, d)
      // presence markers, not value-nullness: a NULL-valued update row must
      // still win the merge (MERGE updates to NULL, it doesn't resurrect
      // the stale row)
      val existing = latestPerUser(ev.filter(col("ts") < cut))
        .select(col("user_id"), col("value").as("e_value"),
          lit(true).as("in_e"))
      val updates = latestPerUser(ev.filter(col("ts") >= cut))
        .select(col("user_id"), col("value").as("u_value"),
          lit(true).as("in_u"))
      existing.join(updates, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          when(col("in_u").isNotNull, col("u_value"))
            .otherwise(col("e_value")).as("value"),
          when(col("in_u").isNull, "keep")
            .when(col("in_e").isNull, "insert")
            .otherwise("update").as("action"))
        .orderBy("user_id")
    }),

    // ---- job-queue status scan (reference M5: db/dataset_eval.py:167-187 —
    //      latest status per job, oldest pending first) -------------------
    "m5_queue_status" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") === "error")
        .select("user_id", "event_id", "ts")
        .orderBy("ts", "event_id")
        .limit(10)
    }),

    // ---- SCD type-2 history build (Kimball slowly-changing dimension):
    //      the change log's versioned-interval form — the warehouse twin
    //      of D5's MERGE. Consecutive same-status rows collapse (a
    //      version exists only where the attribute CHANGED), intervals
    //      close with lead(), the open interval is the current row.
    //      Scale: every step windows on the same (user_id | ts, event_id)
    //      spec — filter preserves hash distribution and in-partition
    //      sort, so the collapse + versioning + interval chain runs on
    //      ONE exchange+sort of the log (plan-pinned). ------------------
    "d6_scd2_history" -> ((s, d) =>
      scd2History(s, d).orderBy("user_id", "version")),

    // ---- the SCD2 read path: point-in-time reconstruction — each
    //      user's status as of the cut, straight off the intervals ------
    "d6_scd2_asof" -> ((s, d) => {
      val cut = to_timestamp(lit("2024-01-15 00:00:00"))
      scd2History(s, d)
        .filter(col("valid_from") <= cut &&
          (col("valid_to").isNull || col("valid_to") > cut))
        .select(col("user_id"), col("status"), col("valid_from"))
        .orderBy("user_id")
    }),

    // ---- KMV set algebra: pairwise source overlap FROM THE SKETCHES
    //      (Beyer et al. 2007 §5 — union via min-union merge, Jaccard as
    //      ρ over the union-k, intersection as ρ·est_union). The shape of
    //      "overlap matrix across crawl snapshots" at 100 TB: one sketch
    //      pass over data, then O(groups²·k) sketch-row algebra. The
    //      exact pairwise intersection rides along as the gate-scale
    //      calibration monitor (it pays the self-join the sketch path
    //      exists to avoid). ----------------------------------------------
    "sk_kmv_overlap" -> ((s, d) => {
      import graft.functions.HashFunctions.wordShingles
      val sh = Tables.documents(s, d)
        .select(col("source"), explode(wordShingles(col("text"), 3)).as("w"))
      // ONE deduped token frame feeds both the sketch and the exact
      // calibration: KMV is duplicate-invariant (kmvDraws distincts its
      // (group, hash) draws), so handing it the already-distinct frame is
      // value-identical while letting exchange reuse collapse what used
      // to be two independent shingle explosions over the corpus (r17 —
      // the regex split is the dominant per-row cost here)
      val toks = sh.distinct()
      val est = Skew.kmvOverlap(toks, "source", col("w"), k = 64)
      val ex = toks.select(col("source").as("src_a"), col("w"))
        .join(toks.select(col("source").as("src_b"), col("w")), Seq("w"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_exact_int"))
      est.join(ex, Seq("src_a", "src_b"), "left")
        .withColumn("n_exact_int", coalesce(col("n_exact_int"), lit(0L)))
        .orderBy("src_a", "src_b")
    }),

    // ---- Bloom filter: the sixth mergeable summary (see [[Bloom]]).
    //      The fixture's build side is the J4 "processed ledger" shape —
    //      distinct part keys of a rare lineitem predicate (~190 keys at
    //      sf0.01 against a deliberately small m=2048 ⇒ a visible
    //      false-positive band, the CMS-overcount-monitor precedent).
    //      The packed (word, wval) rows ARE the sketch that persists and
    //      merges (bitwise OR); the oracle replays the draw and the
    //      packing bit-for-bit. -------------------------------------------
    "sk_bloom_words" -> ((s, d) => {
      Bloom.bloomWords(bloomLedger(s, d)).orderBy("word")
    }),

    // ---- bloom-pruned EXACT anti-join (J4 at ledger-too-big-to-
    //      broadcast scale): bloom-negative parts pass shuffle-free,
    //      bloom-positive candidates pay the exact left_anti recheck.
    //      The oracle is the PLAIN anti-join — the bloom must be
    //      semantically invisible. ----------------------------------------
    "j11_bloom_anti" -> ((s, d) =>
      // the same bloomLedger the sketch and stats rows use — ONE
      // Spark-side predicate, so the monitor always describes THIS join
      Bloom.bloomAntiJoin(Tables.part(s, d), col("p_partkey"),
          bloomLedger(s, d), col("k"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    // ---- the pruning monitor: how much of the probe side the bitset
    //      removed before the shuffle, and the false-positive band the
    //      recheck absorbed — every column replayed by the oracle against
    //      the same bit layout. --------------------------------------------
    "j11_bloom_stats" -> ((s, d) => {
      val rk = bloomLedger(s, d)
      val words = Bloom.collectWords(rk)
      val flags = Tables.part(s, d)
        .select(col("p_partkey").as("k"),
          Bloom.mightContain(col("p_partkey"), words).as("cand"))
        .join(rk.withColumn("mem", lit(1L)), Seq("k"), "left")
      flags.agg(
        count(lit(1)).as("n_left"),
        sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidates"),
        sum(coalesce(col("mem"), lit(0L))).as("n_members"),
        sum(when(col("cand") && col("mem").isNull, 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("cand"), 1L).otherwise(0L)).as("n_pruned"))
    })
  )

  /** The versioned SCD2 intervals over the events change log: entity =
    * user, tracked attribute = event_type. Shared by the history dump
    * and the as-of read. */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_status", lag(col("event_type"), 1).over(w))
      .filter(col("prev_status").isNull ||
        col("prev_status") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast(LongType))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"),
        col("event_type").as("status"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  /** The bloom fixture's build side: distinct "already processed" part
    * keys (a rare lineitem predicate), shared by all three gate rows. */
  private def bloomLedger(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_discount") > 0.09 && col("l_quantity") >= 48)
      .select(col("l_partkey").as("k"))
      .distinct()

  /** The T1 series oracle — shared verbatim by t1_daily_stats and the
    * cache-served t3_cached_stats (identity is the caching contract). */
  private val T1SeriesSql: String =
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |  FROM events GROUP BY 1)
      |SELECT day, n, users, total_value,
      |  CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND CURRENT ROW) AS BIGINT) AS cum_n
      |FROM daily ORDER BY day""".stripMargin

  val oracles: Map[String, String] = Map(
    "t1_daily_stats" -> T1SeriesSql,

    // cache hit or miss, the served rows ARE the recompute — the
    // row-invisible-caching contract, checked by the identical oracle
    "t3_cached_stats" -> T1SeriesSql,

    // the FULL recompute: incremental-equals-batch is the contract
    "t1_incremental" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1)
        |SELECT day, n, users, total_value,
        |  CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS cum_n
        |FROM daily ORDER BY day""".stripMargin,

    // the per-type FILTER columns interpolate [[EventTypes]] — the Spark
    // side and the oracle can only ever disagree on the vocabulary if the
    // shared constant itself changes
    "t2_stats_series" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         | epoch_ms(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS epoch_ms,
         |${typeFilterCols()}
         |FROM events GROUP BY date_trunc('day', ts) ORDER BY day""".stripMargin,

    "t4_gap_fill" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS hour_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT event_type, min(hour_ts) AS lo, max(hour_ts) AS hi
        |  FROM hourly GROUP BY 1),
        |cal AS (
        |  SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
        |  FROM spans),
        |joined AS (
        |  SELECT c.event_type, c.hour_ts,
        |    CAST(COALESCE(h.n, 0) AS BIGINT) AS n,
        |    CAST(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled,
        |    h.hour_value
        |  FROM cal c LEFT JOIN hourly h USING (event_type, hour_ts))
        |SELECT event_type, hour_ts, n, filled,
        |  last_value(hour_value IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hour_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
        |FROM joined ORDER BY event_type, hour_ts""".stripMargin,

    "s2_ingest_pipeline" ->
      """WITH hashed AS (
        |  SELECT user_id, event_id, ts,
        |    md5(event_type || '|' || CAST(value AS VARCHAR) || '|' || props)
        |      AS content_hash
        |  FROM events),
        |deduped AS (
        |  SELECT user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, content_hash
        |      ORDER BY ts, event_id) AS dup_rn
        |  FROM hashed),
        |offsets AS (
        |  SELECT user_id, event_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) - 1 AS submission_offset
        |  FROM deduped WHERE dup_rn = 1)
        |SELECT user_id, event_id, submission_offset FROM offsets
        |WHERE submission_offset < 10
        |ORDER BY user_id, submission_offset""".stripMargin,

    "a10_percentiles" ->
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.95) AS p95,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the identical deterministic 1-in-8 draw, exact quantiles over the
    // identical sampled rows — both engines' linear interpolation agrees
    // bit-for-bit (the a10 precedent), so the sketch halves match too
    "sk_sampled_quantiles" ->
      """WITH u AS (SELECT event_type, value,
        |  ('0x' || substr(md5('qsamp:' || CAST(event_id AS VARCHAR)), 1, 8))
        |    ::BIGINT % 8 AS b
        |  FROM events),
        |samp AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
        |  quantile_cont(value, 0.5) AS p50_sample,
        |  quantile_cont(value, 0.95) AS p95_sample
        |  FROM u WHERE b = 0 GROUP BY event_type),
        |ex AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, e.n, e.p50, e.p95,
        |  s.n_sample, s.p50_sample, s.p95_sample
        |FROM ex e LEFT JOIN samp s USING (event_type)
        |ORDER BY e.event_type""".stripMargin,

    // the KMV estimator replayed stage-for-stage: same md5-prefix draw,
    // same (k−1)·2^32 // kth integer estimator — the ESTIMATE matches
    // bit-for-bit, not just the exact calibration column
    "sk_kmv_distinct" ->
      s"""WITH tt AS (SELECT source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shl AS (SELECT source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tt),
         |tok AS (SELECT source, unnest(sh) AS w FROM shl),
         |draws AS (SELECT DISTINCT source,
         |  ('0x' || substr(md5('kmv:' || w), 1, 8))::BIGINT AS u FROM tok),
         |ranked AS (SELECT source, u,
         |  row_number() OVER (PARTITION BY source ORDER BY u) AS rn
         |  FROM draws),
         |kth AS (SELECT source, u AS kth_u FROM ranked WHERE rn = 64),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_draws
         |  FROM draws GROUP BY source),
         |ex AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
         |  FROM tok GROUP BY source),
         |est AS (SELECT ex.source, ex.n_exact,
         |  CAST(CASE WHEN kth.kth_u IS NULL THEN nd.n_draws
         |    ELSE 63 * 4294967296 // greatest(kth.kth_u, 1) END AS BIGINT)
         |    AS est_distinct
         |  FROM ex JOIN nd USING (source) LEFT JOIN kth USING (source))
         |SELECT source, n_exact, est_distinct,
         |  CAST(abs(est_distinct - n_exact) * 1000 // n_exact AS BIGINT)
         |    AS err_permille
         |FROM est ORDER BY source""".stripMargin,

    // the CMS estimator replayed: same md5-derived row hashes, same grid
    // counts, same min-over-rows — bit-for-bit including the overcounts
    "sk_cms_freq" ->
      s"""WITH tt AS (SELECT source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shl AS (SELECT source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tt),
         |toks AS (SELECT unnest(sh) AS tk FROM shl),
         |cells AS (SELECT t.tk, g.i,
         |    ('0x' || substr(md5('cms' || g.i || ':' || t.tk), 1, 8))
         |      ::BIGINT % ${CmsWidth} AS bucket
         |  FROM toks t CROSS JOIN generate_series(0, ${CmsDepth - 1})
         |    AS g(i)),
         |grid AS (SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM cells GROUP BY i, bucket),
         |keys AS (SELECT tk, CAST(COUNT(*) AS BIGINT) AS n_exact
         |  FROM toks GROUP BY tk HAVING COUNT(*) >= 2),
         |probes AS (SELECT DISTINCT k.tk, k.n_exact, g.i,
         |    ('0x' || substr(md5('cms' || g.i || ':' || k.tk), 1, 8))
         |      ::BIGINT % ${CmsWidth} AS bucket
         |  FROM keys k CROSS JOIN generate_series(0, ${CmsDepth - 1})
         |    AS g(i)),
         |est AS (SELECT p.tk, p.n_exact, MIN(gr.c) AS est_cms
         |  FROM probes p JOIN grid gr
         |    ON gr.i = p.i AND gr.bucket = p.bucket
         |  GROUP BY p.tk, p.n_exact)
         |SELECT tk, n_exact, est_cms, est_cms - n_exact AS overcount
         |FROM est ORDER BY tk""".stripMargin,

    // the sketch-only twin: same chain minus the exact-count calibration
    "sk_kmv_sketch" ->
      s"""WITH tt AS (SELECT source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shl AS (SELECT source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tt),
         |tok AS (SELECT source, unnest(sh) AS w FROM shl),
         |draws AS (SELECT DISTINCT source,
         |  ('0x' || substr(md5('kmv:' || w), 1, 8))::BIGINT AS u FROM tok),
         |ranked AS (SELECT source, u,
         |  row_number() OVER (PARTITION BY source ORDER BY u) AS rn
         |  FROM draws),
         |kth AS (SELECT source, u AS kth_u FROM ranked WHERE rn = 64),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_draws
         |  FROM draws GROUP BY source)
         |SELECT nd.source,
         |  CAST(CASE WHEN kth.kth_u IS NULL THEN nd.n_draws
         |    ELSE 63 * 4294967296 // greatest(kth.kth_u, 1) END AS BIGINT)
         |    AS est_distinct
         |FROM nd LEFT JOIN kth USING (source)
         |ORDER BY source""".stripMargin,

    // the HLL estimator replayed register-for-register: same 60-bit
    // md5-prefix draw, same 9/51 split, same ρ = 52 − bitlen(rem), same
    // integer digest and HUGEINT raw-estimator chain; the ln() of the
    // linear-counting branch is the suite's one documented ulp class
    "sk_hll_distinct" ->
      s"""WITH tt AS (SELECT source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shl AS (SELECT source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tt),
         |tok AS (SELECT source, unnest(sh) AS w FROM shl),
         |h AS (SELECT source,
         |  ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS hv FROM tok),
         |rr AS (SELECT source, hv // 2251799813685248 AS reg,
         |  hv % 2251799813685248 AS rem FROM h),
         |rho AS (SELECT source, reg,
         |  CASE WHEN rem = 0 THEN 52 ELSE 52 - length(bin(rem)) END AS rho
         |  FROM rr),
         |regs AS (SELECT source, reg, MAX(rho) AS mj FROM rho GROUP BY 1, 2),
         |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_regs,
         |  SUM(1::BIGINT << CAST(52 - mj AS INT)) AS sum_present
         |  FROM regs GROUP BY source),
         |dig AS (SELECT source, 512 - n_regs AS v_zero,
         |  CAST(sum_present + (512 - n_regs) * 4503599627370496 AS BIGINT)
         |    AS sum_scaled FROM agg),
         |raw AS (SELECT source, v_zero, sum_scaled,
         |  CAST(('${Skew.HllNumerator}'::HUGEINT // sum_scaled::HUGEINT)
         |    // 1000000 AS BIGINT) AS est_raw FROM dig),
         |est AS (SELECT source, v_zero, sum_scaled,
         |  CASE WHEN v_zero > 0 AND est_raw <= 1280
         |    THEN CAST(floor(512 * ln(512.0 / v_zero)) AS BIGINT)
         |    ELSE est_raw END AS est_distinct FROM raw),
         |ex AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_exact
         |  FROM tok GROUP BY source)
         |SELECT ex.source, ex.n_exact, est.v_zero, est.sum_scaled,
         |  est.est_distinct,
         |  CAST(abs(est.est_distinct - ex.n_exact) * 1000 // ex.n_exact
         |    AS BIGINT) AS err_permille
         |FROM ex JOIN est USING (source)
         |ORDER BY source""".stripMargin,

    // the sketch-only twin: same register chain minus the exact column
    "sk_hll_sketch" ->
      s"""WITH tt AS (SELECT source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shl AS (SELECT source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tt),
         |tok AS (SELECT source, unnest(sh) AS w FROM shl),
         |h AS (SELECT source,
         |  ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS hv FROM tok),
         |rr AS (SELECT source, hv // 2251799813685248 AS reg,
         |  hv % 2251799813685248 AS rem FROM h),
         |rho AS (SELECT source, reg,
         |  CASE WHEN rem = 0 THEN 52 ELSE 52 - length(bin(rem)) END AS rho
         |  FROM rr),
         |regs AS (SELECT source, reg, MAX(rho) AS mj FROM rho GROUP BY 1, 2),
         |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_regs,
         |  SUM(1::BIGINT << CAST(52 - mj AS INT)) AS sum_present
         |  FROM regs GROUP BY source),
         |dig AS (SELECT source, 512 - n_regs AS v_zero,
         |  CAST(sum_present + (512 - n_regs) * 4503599627370496 AS BIGINT)
         |    AS sum_scaled FROM agg),
         |raw AS (SELECT source, v_zero, sum_scaled,
         |  CAST(('${Skew.HllNumerator}'::HUGEINT // sum_scaled::HUGEINT)
         |    // 1000000 AS BIGINT) AS est_raw FROM dig)
         |SELECT source, v_zero, sum_scaled,
         |  CASE WHEN v_zero > 0 AND est_raw <= 1280
         |    THEN CAST(floor(512 * ln(512.0 / v_zero)) AS BIGINT)
         |    ELSE est_raw END AS est_distinct
         |FROM raw ORDER BY source""".stripMargin,

    // the plain single-phase aggregate: salting must be invisible in the
    // result (decimal-exact partial merge), so the oracle needs no salt
    "a11_salted_agg" ->
      """SELECT event_type AS key,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the PLAIN join — the hot/cold split must be invisible
    "j13_skew_join" ->
      """SELECT e.event_id, e.user_id, c.c_name, e.event_type
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id
        |ORDER BY e.event_id""".stripMargin,

    "a14_histogram" ->
      """WITH v AS (SELECT event_type,
        |    CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
        |  WHERE value IS NOT NULL),
        |b AS (SELECT MIN(v) AS vlo,
        |    (MAX(v) - MIN(v)) // 20 + 1 AS width FROM v)
        |SELECT event_type, (v - vlo) // width AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM v, b GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,

    // GROUPING() bit order matches Spark's grouping_id() (first listed
    // column = most significant bit); the decimal→double goes through the
    // VARCHAR hop like every revenue mirror (DuckDB rounds the direct
    // decimal cast differently)
    "a12_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        | CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |   (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR) AS DOUBLE)
        |   AS revenue
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin,

    // identical IEEE formula over VARCHAR-hopped exact decimal sums —
    // every input double is bit-identical, so every output is
    "a16_grouped_regression" ->
      """WITH u AS (SELECT l_returnflag,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (SELECT l_returnflag,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR) AS DOUBLE)
        |      AS sxx,
        |    CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
        |      AS syy,
        |    CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR) AS DOUBLE)
        |      AS sxy
        |  FROM u GROUP BY l_returnflag),
        |t AS (SELECT l_returnflag, n, sx, sy,
        |    (n * sxy - sx * sy) / NULLIF(
        |      sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy), 0.0)
        |      AS corr,
        |    (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS slope
        |  FROM s)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n, corr, slope,
        |  (sy - slope * sx) / n / 100.0 AS intercept
        |FROM t ORDER BY l_returnflag""".stripMargin,

    "t6_moving_avg" ->
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n,
        |  CAST(SUM(n) OVER w AS BIGINT) AS win_sum,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS win_days,
        |  CAST(SUM(n) OVER w AS BIGINT) * 1000
        |    // CAST(COUNT(*) OVER w AS BIGINT) AS avg_milli
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
        |  AND CURRENT ROW)
        |ORDER BY day""".stripMargin,

    // row lags over the same day rollup; `//` truncates toward zero like
    // Spark's div, so signed deltas agree
    "t5_period_delta" ->
      """WITH daily AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |l AS (SELECT day, n,
        |    lag(n, 1) OVER (ORDER BY day) AS prev_n,
        |    lag(n, 7) OVER (ORDER BY day) AS prev7_n
        |  FROM daily)
        |SELECT day, n, prev_n,
        |  (n - prev_n) * 1000 // prev_n AS dod_permille,
        |  prev7_n,
        |  (n - prev7_n) * 1000 // prev7_n AS wow_permille
        |FROM l ORDER BY day""".stripMargin,

    // percentile ≡ quantile_cont (a10 pairing), decimal-grid sum with the
    // a16 VARCHAR hop, one division — bit-equal end to end
    "a19_winsorized_mean" ->
      """WITH p AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS p05,
        |    quantile_cont(value, 0.95) AS p95
        |  FROM events GROUP BY event_type),
        |j AS (SELECT e.event_type, e.value, p.p05, p.p95,
        |    least(greatest(e.value, p.p05), p.p95) AS wv
        |  FROM events e JOIN p USING (event_type))
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  MIN(p05) AS p05, MIN(p95) AS p95,
        |  CAST(CAST(SUM(CAST(wv AS DECIMAL(28,9))) AS VARCHAR) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS wins_mean
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same level-rollup-first shape as the engine: the running sum is
    // over collapsed (flag, value) levels, so ROWS ≡ RANGE framing
    "a17_weighted_median" ->
      """WITH lvl AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
        |    CAST(SUM(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |      AS wv
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT l_returnflag, v, wv,
        |    CAST(SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cw
        |  FROM lvl),
        |tot AS (SELECT l_returnflag, CAST(SUM(wv) AS BIGINT) AS w_total,
        |    CAST(COUNT(*) AS BIGINT) AS n_levels
        |  FROM lvl GROUP BY 1)
        |SELECT t.l_returnflag, t.w_total, t.n_levels,
        |  MIN(CASE WHEN c.cw * 2 >= t.w_total THEN c.v END) AS wmed_cents,
        |  MIN(CASE WHEN c.cw * 10 >= t.w_total * 9 THEN c.v END)
        |    AS wp90_cents
        |FROM cum c JOIN tot t ON t.l_returnflag = c.l_returnflag
        |GROUP BY t.l_returnflag, t.w_total, t.n_levels
        |ORDER BY t.l_returnflag""".stripMargin,

    "sk_priority_sample" ->
      s"""WITH scored AS (SELECT o_orderkey,
         |    CAST(floor(o_totalprice * 100) AS BIGINT) AS w_cents,
         |    (('0x' || substr(md5('psamp:' || CAST(o_orderkey AS VARCHAR)),
         |      1, 8))::BIGINT % $PrioDrawMod) + 1 AS h
         |  FROM orders),
         |q AS (SELECT o_orderkey, w_cents,
         |    w_cents * $PrioDrawMod // h AS q FROM scored),
         |top AS (SELECT o_orderkey, w_cents, q,
         |    row_number() OVER (ORDER BY q DESC, o_orderkey) AS rn
         |  FROM q ORDER BY q DESC, o_orderkey LIMIT ${PrioSampleK + 1}),
         |t AS (SELECT MIN(q) AS tau_min, COUNT(*) AS n_top FROM top)
         |SELECT CAST(rn AS BIGINT) AS rn, o_orderkey, w_cents, q,
         |  greatest(w_cents, CASE WHEN t.n_top = ${PrioSampleK + 1}
         |    THEN t.tau_min ELSE 0 END) AS est_cents
         |FROM top, t WHERE rn <= $PrioSampleK ORDER BY rn""".stripMargin,

    // same GROUPING() bit-order and VARCHAR-hop notes as a12_rollup
    "a15_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR)
        |   AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,

    // the long-format conditional-count mirror of the engine's pivot,
    // over the same interpolated [[EventTypes]]
    "a13_pivot" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         |${typeFilterCols()}
         |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "d5_upsert" ->
      """WITH latest_e AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00') t
        |  WHERE rn = 1),
        |latest_u AS (
        |  SELECT user_id, value FROM (
        |    SELECT user_id, value, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') t
        |  WHERE rn = 1)
        |SELECT COALESCE(e.user_id, u.user_id) AS user_id,
        |  CASE WHEN u.user_id IS NULL THEN e.value ELSE u.value END AS value,
        |  CASE WHEN u.user_id IS NULL THEN 'keep'
        |       WHEN e.user_id IS NULL THEN 'insert'
        |       ELSE 'update' END AS action
        |FROM latest_e e FULL OUTER JOIN latest_u u ON e.user_id = u.user_id
        |ORDER BY user_id""".stripMargin,

    "m5_queue_status" ->
      """SELECT user_id, event_id, ts FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type = 'error'
        |ORDER BY ts, event_id LIMIT 10""".stripMargin,

    "d6_scd2_history" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_status
        |  FROM events),
        |changes AS (SELECT user_id, event_id, ts, event_type FROM ordered
        |  WHERE prev_status IS NULL OR prev_status <> event_type)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS BIGINT) AS version,
        |  event_type AS status, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    IS NULL AS is_current
        |FROM changes ORDER BY user_id, version""".stripMargin,

    "d6_scd2_asof" ->
      """WITH ordered AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_status
        |  FROM events),
        |changes AS (SELECT user_id, event_id, ts, event_type FROM ordered
        |  WHERE prev_status IS NULL OR prev_status <> event_type),
        |hist AS (SELECT user_id, event_type AS status, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS valid_to
        |  FROM changes)
        |SELECT user_id, status, valid_from FROM hist
        |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
        |ORDER BY user_id""".stripMargin,

    // the overlap estimator replayed sketch-row for sketch-row: same
    // draws, same k-min sketches, same min-union merge, same integer
    // ρ/union/intersection arithmetic — estimates match bit-for-bit
    "sk_kmv_overlap" ->
      s"""WITH tt AS (SELECT source, text,
         |  regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+') AS t FROM documents),
         |shl AS (SELECT source,
         |  CASE WHEN len(t) >= 3 THEN
         |    list_distinct(list_transform(generate_series(1, len(t) - 2),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
         |  ELSE [text] END AS sh
         |  FROM tt),
         |tok AS (SELECT DISTINCT source, unnest(sh) AS w FROM shl),
         |draws AS (SELECT DISTINCT source AS g,
         |  ('0x' || substr(md5('kmv:' || w), 1, 8))::BIGINT AS u FROM tok),
         |sk AS (SELECT g, u FROM (SELECT g, u,
         |    row_number() OVER (PARTITION BY g ORDER BY u) AS rn FROM draws)
         |  WHERE rn <= 64),
         |gs AS (SELECT DISTINCT g FROM sk),
         |pairs AS (SELECT a.g AS src_a, b.g AS src_b
         |  FROM gs a JOIN gs b ON a.g < b.g),
         |ua AS (SELECT p.src_a, p.src_b, s.u, 1 AS ia, 0 AS ib
         |  FROM pairs p JOIN sk s ON s.g = p.src_a),
         |ub AS (SELECT p.src_a, p.src_b, s.u, 0 AS ia, 1 AS ib
         |  FROM pairs p JOIN sk s ON s.g = p.src_b),
         |uni AS (SELECT src_a, src_b, u, MAX(ia) AS ia, MAX(ib) AS ib
         |  FROM (SELECT * FROM ua UNION ALL SELECT * FROM ub)
         |  GROUP BY src_a, src_b, u),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY src_a, src_b
         |    ORDER BY u) AS rn FROM uni),
         |st AS (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_union,
         |  MAX(CASE WHEN rn = 64 THEN u END) AS kth_u,
         |  CAST(SUM(CASE WHEN rn <= 64 THEN ia * ib ELSE 0 END) AS BIGINT)
         |    AS rho_num
         |  FROM ranked GROUP BY src_a, src_b),
         |est AS (SELECT src_a, src_b,
         |  CAST(CASE WHEN kth_u IS NULL THEN n_union
         |    ELSE 63 * 4294967296 // greatest(kth_u, 1) END AS BIGINT)
         |    AS est_union,
         |  rho_num, least(64, n_union) AS m FROM st),
         |ex AS (SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact_int
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
         |  GROUP BY a.source, b.source)
         |SELECT e.src_a, e.src_b, e.est_union, e.rho_num,
         |  CAST(e.rho_num * e.est_union // e.m AS BIGINT) AS est_intersect,
         |  CAST(e.rho_num * 1000 // e.m AS BIGINT) AS jaccard_permille,
         |  COALESCE(ex.n_exact_int, CAST(0 AS BIGINT)) AS n_exact_int
         |FROM est e LEFT JOIN ex
         |  ON e.src_a = ex.src_a AND e.src_b = ex.src_b
         |ORDER BY e.src_a, e.src_b""".stripMargin,

    // the bloom layout replayed: same md5 draw, same mod-2048 positions,
    // same Σ 2^(bit mod 32) packing — the sketch words match bit-for-bit
    "sk_bloom_words" ->
      """WITH r AS (SELECT DISTINCT l_partkey AS k FROM lineitem
        |  WHERE l_discount > 0.09 AND l_quantity >= 48),
        |rb AS (SELECT DISTINCT
        |  ('0x' || substr(md5('bloom' || g.i || ':' || CAST(k AS VARCHAR)),
        |    1, 8))::BIGINT % 2048 AS bit
        |  FROM r CROSS JOIN generate_series(0, 2) AS g(i))
        |SELECT bit // 32 AS word,
        |  CAST(SUM(1::BIGINT << CAST(bit % 32 AS INTEGER)) AS BIGINT)
        |    AS wval,
        |  CAST(COUNT(*) AS BIGINT) AS bits_in_word
        |FROM rb GROUP BY bit // 32 ORDER BY word""".stripMargin,

    // the bloom is a pruning device, not a semantics change: the oracle
    // is the plain anti-join
    "j11_bloom_anti" ->
      """SELECT p_partkey, p_name FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_partkey = p.p_partkey
        |    AND l.l_discount > 0.09 AND l.l_quantity >= 48)
        |ORDER BY p_partkey""".stripMargin,

    // bloom membership replayed per probe key: a key is a candidate iff
    // all three of its bits are set in the build-side bitset
    "j11_bloom_stats" ->
      """WITH r AS (SELECT DISTINCT l_partkey AS k FROM lineitem
        |  WHERE l_discount > 0.09 AND l_quantity >= 48),
        |rb AS (SELECT DISTINCT
        |  ('0x' || substr(md5('bloom' || g.i || ':' || CAST(k AS VARCHAR)),
        |    1, 8))::BIGINT % 2048 AS bit
        |  FROM r CROSS JOIN generate_series(0, 2) AS g(i)),
        |lp AS (SELECT p_partkey AS k,
        |  ('0x' || substr(md5('bloom' || g.i || ':' ||
        |    CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT % 2048 AS bit
        |  FROM part CROSS JOIN generate_series(0, 2) AS g(i)),
        |cand AS (SELECT lp.k, bool_and(rb.bit IS NOT NULL) AS cand
        |  FROM lp LEFT JOIN rb ON lp.bit = rb.bit GROUP BY lp.k),
        |flags AS (SELECT c.k, c.cand, r.k IS NOT NULL AS mem
        |  FROM cand c LEFT JOIN r ON c.k = r.k)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
        |  CAST(COUNT(*) FILTER (WHERE cand) AS BIGINT) AS n_candidates,
        |  CAST(COUNT(*) FILTER (WHERE mem) AS BIGINT) AS n_members,
        |  CAST(COUNT(*) FILTER (WHERE cand AND NOT mem) AS BIGINT)
        |    AS n_false_pos,
        |  CAST(COUNT(*) FILTER (WHERE NOT cand) AS BIGINT) AS n_pruned
        |FROM flags""".stripMargin
  )
}
