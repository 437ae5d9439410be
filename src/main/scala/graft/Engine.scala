package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory: every entry point (Verify, Bench, tests,
  * dev tools) builds its session here so the engine's extensions
  * ([[graft.plans.GraftExtensions]] — native expressions) and baseline
  * configs are installed consistently. */
object Engine {
  /** Entries in the JVM-wide generated-class cache (see [[session]]). */
  private[graft] val CodegenCacheEntries = 4096L

  def session(cpus: String): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local-mode only: skip the per-file chmod fork + .crc sidecar of
      // Hadoop's default local FS (see graft.io.BareLocalFileSystem —
      // measured 14.3 s → sub-second for a 1000-dir sharded dump)
      .config("spark.hadoop.fs.file.impl",
        classOf[io.BareLocalFileSystem].getName)
      // AQE's partition coalescer is BYTE-driven and compute-blind: with
      // the default minPartitionSize (1 MiB), a small-bytes/heavy-compute
      // shuffle output (a capped blocking grid feeding a Levenshtein join,
      // a distinct-level rollup feeding chunked windows — this suite's
      // profile) coalesces to 1-2 partitions and serializes the expensive
      // stage on one core (measured r17: dd_edit_blocked 6.1 s → 1.3 s by
      // lifting the floor). parallelismFirst (default true) exists for
      // exactly this — "maximize parallelism, respect only the minimum
      // partition size" — but the 1 MiB floor defeats it for MB-scale
      // frames. 64 KiB keeps the floor's real job at scale (never splits
      // a frame finer than 64 KiB/task, so a small rollup at production
      // parallelism still coalesces to a bounded task count) while letting
      // compute-dense small shuffles use the cores. Scale posture: at
      // 100 TB every data-proportional shuffle partition is ≫ 1 MiB, so
      // this floor is inert there; it binds only on small intermediate
      // frames, where parallelism beats coalescing. Overridable below.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "64kb")
      // Reliable-checkpoint deployments (spark.checkpoint.dir set) write
      // shared-storage checkpoint files per Checkpointed call; without the
      // cleaner they accumulate for the app's lifetime (hundreds per
      // Verify drive alone — ADVICE r15). Default the reference-tracking
      // cleanup ON so out-of-scope checkpoint RDDs are deleted when their
      // dataset is GC'd; GRAFT_ENGINE_CONF below can still override it.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Compiled-class cache (a static conf, so it is set here). Spark's
      // default of 100 entries is smaller than one heavy query's working
      // set (ann_recall compiles 286 classes at 100, 177–185 with room),
      // so the LRU evicted classes the next query needed and Janino
      // recompiled ~135 classes on every pass of the 4-query analytics
      // contract. A cold pass over all 215 SparkEntry.queries at sf0.001
      // compiles 3,071–3,085 distinct classes; the headroom holds one-shot
      // classes (~2 per fresh top-K id set), which the LRU evicts first.
      // Measured on a 4-vCPU host: analytics compiles per pass ~135 → 0–8,
      // warm 215-query pass 130–141 s → 85–96 s, metaspace + code cache
      // ≈ +40 MB.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // Value lists of two or more plan as InSet, whose set the generated
      // code reads as a reference object; an In list (Spark converts only
      // past 10 values) inlines its literals, so every top-K request with
      // new ids compiled two classes again: 40–60 ms of a 190–220 ms warm
      // tuned-IVF request at sf0.001 on 4 threads, 150–155 ms without.
      // Parquet pushdown and bucket pruning read InSet as they read In.
      .config("spark.sql.optimizer.inSetConversionThreshold", "1")
    // Drive overrides (GRAFT_ENGINE_CONF="k=v;k=v"): the recomputation-
    // determinism and memory-pressure drives re-run the FULL suite under
    // adversarial planner/runtime settings (AQE off, speculation on,
    // non-default shuffle partitioning, starved memory fractions) without
    // forking the entry points — results must stay oracle-identical under
    // any of them, which is the point of the drives.
    sys.env.get("GRAFT_ENGINE_CONF").foreach { kvs =>
      kvs.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => b = b.config(k, v)
          case _ => sys.error(s"bad GRAFT_ENGINE_CONF entry (no '='): $kv")
        }
      }
    }
    val s = b.withExtensions(new plans.GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Reliable-checkpoint mode (multi-executor deployments): when the conf
    // names a checkpoint dir, make sure the context actually has it — the
    // Checkpointed funnel switches from executor-local to shared-storage
    // checkpoints on this signal (executor-loss survival; see
    // plans.Checkpointed).
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.conf.getOption("spark.checkpoint.dir")
        .foreach(s.sparkContext.setCheckpointDir)
    s
  }
}
