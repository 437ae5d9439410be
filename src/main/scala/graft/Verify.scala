package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Self-diagnosing by construction (the r7 gate produced an EMPTY artifact
  * because a mid-run abort left nothing for the checker to load):
  *   - `oracle_sql.json` is written FIRST, before any query runs, so a
  *     killed drive still leaves the full oracle set for whatever parquet
  *     did land;
  *   - `verify_summary.json` is rewritten after EVERY query completes
  *     (per-query ok/failed + wall seconds + progress counts), so a partial
  *     run is diagnosable from the output dir alone. */
object Verify {

  /** Placeholder in oracle SQL for the verify output directory. The
    * `_indexed` ANN twins serve IDENTICAL rows to their inline trainer
    * variants (the plan-level "reads the artifact" half is
    * IndexStoreSpec's), so their oracle is row-identity against the inline
    * entry's ALREADY-ORACLE-CHECKED parquet (a `SELECT *` over the inline
    * entry's output glob) rather than a verbatim second copy of the
    * unrolled Lloyd/PQ training-chain SQL. That halves the DuckDB
    * gate's dominant cost (the r7 gate paid every training chain twice and
    * blew the driver's budget; see VERDICT r7 #1). The placeholder is
    * resolved here, at dump time, because only Verify knows the out dir. */
  val OutToken = "__GRAFT_OUT__"

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset]
    // The driver always passes two args (full drive); the optional subset
    // is the builder's iteration loop — drive + oracle-check ONE query in
    // seconds instead of re-paying the whole suite.
    val (sfDir, outDir) = (args(0), args(1))
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet)
      else None
    val selected = subset match {
      case Some(ks0) =>
        // Row-identity oracles (the `_indexed` twins) read ANOTHER entry's
        // verify output via OutToken — a subset naming only the twin would
        // dump an oracle over a glob this run never writes. Expand the
        // subset with every OutToken-referenced entry (to fixpoint, in
        // case of chains) so single-query iteration keeps working.
        val dep = (s"""$OutToken/([A-Za-z0-9_]+)/""").r
        var ks = ks0
        var grown = true
        while (grown) {
          val more = ks.flatMap(k => SparkEntry.oracleSql.get(k).toSeq
            .flatMap(sql => dep.findAllMatchIn(sql).map(_.group(1))))
            .diff(ks)
          grown = more.nonEmpty
          if (grown) {
            System.err.println(
              s"[verify] subset expanded with oracle dependencies: $more")
            ks = ks ++ more
          }
        }
        SparkEntry.select(ks)
      case None => SparkEntry.queries
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(cpus)
    // Every stage's spill, peak memory and shuffle bytes land in
    // verify_spill.json, billed to the query whose job group ran it: the
    // starved-heap (-Xmx4g) drive reads pressure from here, and a
    // sequential drive feeds the shuffle-bytes ratchet.
    val ledger = tools.JobLedger.install(spark.sparkContext)
    new java.io.File(outDir).mkdirs()
    val absOut = Paths.get(outDir).toAbsolutePath.toString
    // JSON string escape (JsonUtil): backslash, quote, and ALL control
    // chars (<0x20) — a tab or CR in builder-authored SQL would otherwise
    // make the driver's json.load fail and silently zero the round's
    // correctness.
    // subset runs dump only the subset's oracles, so check_oracle.py over
    // the subset dir doesn't report every other query as missing
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) =>
        s"${JsonUtil.str(k)}: ${JsonUtil.str(v.replace(OutToken, absOut))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Incremental per-query status: rewritten (atomically, tmp+move) after
    // each completion so a mid-run kill leaves the scoreboard of everything
    // that finished. Keyed map under a lock; rewrite cost is ~KBs.
    val status = scala.collection.mutable.LinkedHashMap[String, String]()
    val t0 = System.nanoTime()
    def writeSummary(): Unit = status.synchronized {
      val done = status.size
      val failed = status.valuesIterator.count(_.startsWith("{\"ok\":false"))
      val body = status.map { case (k, v) => s"${JsonUtil.str(k)}: $v" }
        .mkString("{", ",", "}")
      val wall = (System.nanoTime() - t0) / 1e9
      val js = s"""{"total": ${selected.size}, "subset": ${subset.nonEmpty}, """ +
        s""""done": $done, """ +
        s""""failed": $failed, "wall_sec": ${math.rint(wall * 100) / 100}, """ +
        s""""queries": $body}"""
      val tmp = Paths.get(s"$outDir/.verify_summary.json.tmp")
      Files.writeString(tmp, js)
      Files.move(tmp, Paths.get(s"$outDir/verify_summary.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    writeSummary()
    // Materialize the bucketed/partitioned layout and build every artifact
    // family before the concurrent drive: every query then reads stored
    // layouts and artifacts, and the ledger bills each build to its own
    // `artifact:<name>` row, not to whichever query reached it first. It
    // runs after the first summary, so a drive killed in prepare leaves
    // one, and inside `wall_sec`, which counted builds when queries ran
    // them.
    SparkEntry.prepare(spark, Seq(sfDir))
    // Run queries concurrently: Spark's scheduler interleaves independent
    // jobs, so 8 in flight keep all cores busy while single-threaded
    // stages (sorts, tiny outputs) of one query overlap another's scans.
    // Builds ran in prepare, so concurrency does not move a query's shuffle
    // bytes: an 8-thread fresh-root sf0.1 drive matched a sequential one
    // byte for byte on 178 of 226 ledger rows, and within 1.3 % on the
    // rest.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = selected.toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        val q0 = System.nanoTime()
        def secs = math.rint((System.nanoTime() - q0) / 1e7) / 100
        // thread-local job group: attributes every stage this future's
        // jobs run to the query name (read back by the ledger)
        spark.sparkContext.setJobGroup(name, name)
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          status.synchronized {
            status(name) = s"""{"ok":true,"sec":$secs}"""
          }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          status.synchronized {
            status(name) = s"""{"ok":false,"sec":$secs,""" +
              s""""err":${JsonUtil.str(String.valueOf(e.getMessage))}}"""
          }
          // remove any stale output from a previous run so a now-broken
          // query can never be graded against its old results — recursively:
          // a write that dies mid-job leaves a _temporary/ subtree, and
          // File#delete silently no-ops on non-empty directories
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) {
            val walk = Files.walk(dir)
            try {
              walk.sorted(java.util.Comparator.reverseOrder())
                .forEach { p =>
                  try Files.deleteIfExists(p)
                  catch { case io: java.io.IOException =>
                    System.err.println(s"[verify] could not delete $p: $io")
                  }
                }
            } finally walk.close()
          }
        }
        writeSummary()
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    writeSummary()
    // Serialize the ledger only AFTER spark.stop(): the listener bus
    // is asynchronous, and onStageCompleted events for the last stages may
    // still be queued when the futures resolve — stop() drains every queue
    // before returning, so the post-stop snapshot is complete (a pre-stop
    // write under-counted spill, biasing the memory drive toward "clean").
    spark.stop()
    Files.writeString(Paths.get(s"$outDir/verify_spill.json"), ledger.json())
  }
}
