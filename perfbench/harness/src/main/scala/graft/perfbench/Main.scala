package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{Engine, Tables}
import graft.ingest.{EssentiaSchema, Ingest}
import graft.operators.{DedupPack, PipelinePack, SimilarityPack, StatsPack,
  TextPack}
import graft.sim.IndexStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Everything one run reports. `e2e` feeds the benchmark's result line,
  * `detail` the workload-specific figures printed beside it, `layer` the
  * per-layer figures of a traced run. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, msg: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else msg))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $msg")
  }
}

/** Inputs and state shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val dir: String, val inputs: Path,
    val work: Path, val probe: Probe, val seconds: Double,
    val report: Report) {
  /** The serve/ingest document store written during set-up. */
  var storePath: String = _
  /** Traced runs: the corpus copy every artifact family was built on. */
  var familiesDir: String = _
}

object Main {

  private val t00 = System.nanoTime()
  /** Progress line on stderr (the harness log), seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t00) / 1e9}%7.2f $msg")

  /** The artifact families graft.Bench prepares, by name. */
  val families: Seq[(String, (SparkSession, String) => String)] = Seq(
    "lsh" -> SimilarityPack.ensureLshIndex,
    "kmeans" -> SimilarityPack.ensureKmeansIndex,
    "tuned" -> SimilarityPack.ensureTunedIndex,
    "pq" -> SimilarityPack.ensurePqIndex,
    "ivfpq" -> SimilarityPack.ensureIvfPqIndex,
    "sq8" -> SimilarityPack.ensureSq8Index,
    "bm25" -> TextPack.ensureBm25Index,
    "stats_ledger" -> StatsPack.ensureStatsLedger,
    "band" -> DedupPack.ensureBandIndex,
    "lm" -> TextPack.ensureLmIndex,
    "bigram_lm" -> TextPack.ensureBigramLmIndex,
    "bpe" -> TextPack.ensureBpeIndex,
    "components" -> PipelinePack.ensureComponentsIndex,
    "stats_cache" -> StatsPack.ensureStatsCache)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = kv("workload")
    val inputs = Util.path(kv("inputs")).toAbsolutePath
    val work = Util.path(kv("work")).toAbsolutePath
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val cpus = kv("cpus").toInt
    val report = new Report
    // The reduced m4 profile graft.Bench uses; recorded in the result.
    System.setProperty("graft.bench.profile", "true")

    // ---- set-up (setup_s): session, fact-table layouts, the workload's
    // artifact builds on the fresh root, the seeded store, warm-up --------
    val t0 = System.nanoTime()
    val spark = Engine.session(cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val dirPath = work.resolve("corpus")
    Util.copyTree(inputs.resolve("corpus"), dirPath)
    val dir = dirPath.toString
    val storePath = work.resolve("store").toString
    def secs[T](f: => T): Double = {
      val u0 = System.nanoTime(); f; (System.nanoTime() - u0) / 1e9
    }
    // serve reads one fact table (the embeddings); analytics all of them
    val prepareS = secs(if (workload == "serve") Tables.embeddings(spark, dir)
      else Tables.prepareUnits(spark, dir).foreach(_.apply()))
    if (workload == "serve") SimilarityPack.ensureTunedIndex(spark, dir)
    val storeS = secs(if (workload == "serve") buildStore(spark,
      inputs.resolve("store_docs.jsonl").toString, storePath))
    val sc = spark.sparkContext
    val probe = new Probe(sc, traced)
    val ctx = new Ctx(spark, dir, inputs, work, probe, seconds, report)
    ctx.storePath = storePath

    val w: Workload = workload match {
      case "serve" => new Serve(ctx)
      case "analytics" => new Analytics(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val warmT0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = (System.nanoTime() - t0) / 1e9
    note(f"setup $setupS%.2f s (session $sessionS%.2f s, warm $warmS%.2f s)")
    // the measured phase starts from here: nothing warm-up recorded counts
    probe.reset()
    Spans.buf.clear()
    val listener = if (traced) {
      val l = new Listener
      sc.addSparkListener(l)
      Some(l)
    } else None
    val cpuCal = Util.cpuCalMs()
    val gc0 = Util.gcMillis()
    val timedT0 = System.nanoTime()
    w.timed()
    val wallS = (System.nanoTime() - timedT0) / 1e9
    val gcMs = Util.gcMillis() - gc0
    listener.foreach(_.drain(sc))
    note(f"timed $wallS%.2f s")
    w.checks()
    note("checks done")

    val r = report
    r.e2e("setup_s") = (setupS, "s")
    w.endToEnd()
    r.detail("wall_s") = (wallS, "s")
    r.detail("warm.pass_s") = (warmS, "s")
    r.detail("cpu_cal_ms") = (cpuCal, "ms")
    r.detail("error_rate") = (r.failed.toDouble / math.max(1L, r.attempted), "ratio")
    r.detail("session_parallelism") = (sc.defaultParallelism.toDouble, "threads")

    if (traced) {
      // every artifact family, built one after another on a fresh copy of
      // the corpus (fresh artifact paths) after the measured phase
      val famDir = work.resolve("corpus_families")
      Util.copyTree(inputs.resolve("corpus"), famDir)
      var builds = 0L
      var fresh = 0L
      val ensureS = families.map { case (name, ensure) =>
        val b0 = IndexStore.buildsRun.get
        val e0 = System.nanoTime()
        ensure(spark, famDir.toString)
        val nb = IndexStore.buildsRun.get - b0
        builds += nb
        if (nb == 0) fresh += 1
        name -> (System.nanoTime() - e0) / 1e9
      }
      ctx.familiesDir = famDir.toString
      val L = r.layer
      L("engine.session_s") = (sessionS, "s")
      L("tables.prepare_s") = (prepareS, "s")
      L("tables.layout_bytes") = (Util.listDir(Util.path(
        System.getProperty("java.io.tmpdir")))
        .filter(_.getFileName.toString.startsWith("graft_warehouse"))
        .map(Util.dirBytes).sum.toDouble, "bytes")
      L("warm.pass_s") = (warmS, "s")
      ensureS.foreach { case (n, v) => L(s"indexstore.ensure_s.$n") = (v, "s") }
      L("indexstore.builds") = (builds.toDouble, "count")
      L("indexstore.fresh") = (fresh.toDouble, "count")
      L("indexstore.artifact_bytes") = (Util.dirBytes(Util.path(
        sys.env.getOrElse("SPARK_GRAFT_INDEX_ROOT", "."))).toDouble, "bytes")
      L("store.build_s") = (storeS, "s")
      val ops = math.max(1L, probe.tracedOps.get)
      w.layers()
      val t = listener.get.totals
      def per(v: Double) = v / ops
      L("spark.jobs") = (per(t.jobs.toDouble), "count/op")
      L("spark.jobs_in_construct") = (per(t.jobsInConstruct.toDouble), "count/op")
      L("spark.stages") = (per(t.stages.toDouble), "count/op")
      L("spark.tasks") = (per(t.tasks.toDouble), "count/op")
      L("spark.sched_delay_s") = (per(t.schedDelayMs / 1e3), "s/op")
      L("spark.deser_s") = (per(t.deserMs / 1e3), "s/op")
      L("spark.run_s") = (per(t.runMs / 1e3), "s/op")
      L("spark.cpu_s") = (per(t.cpuNs / 1e9), "s/op")
      L("spark.gc_s") = (per(t.gcMs / 1e3), "s/op")
      L("spark.shuffle_read_bytes") = (per(t.shuffleRead.toDouble), "bytes/op")
      L("spark.shuffle_write_bytes") = (per(t.shuffleWrite.toDouble), "bytes/op")
      L("spark.spill_bytes") = (per(t.spill.toDouble), "bytes/op")
      L("spark.longest_stage_s") = (t.longestStageMs / 1e3, "s")
      L("spark.failed_tasks") = (t.failedTasks.toDouble, "count")
      L("spark.unattributed_jobs") = (listener.get.unattributedJobs.get.toDouble, "count")
      L("checkpoint.sites") = (probe.sites.get.toDouble / ops, "count/op")
      L("jvm.gc_ms") = (gcMs.toDouble, "ms")
      L("jvm.heap_peak_mb") = (Util.heapPeakMb(), "MB")
      traceSummary(probe, r)
      Util.write(work.resolve("trace.json"), spansJson())
    }
    spark.stop()
    Util.write(work.resolve("result.json"), Util.json(Map(
      "workload" -> workload,
      "correct" -> r.checks.forall(_._2),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "e2e" -> r.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> r.detail.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer" -> r.layer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> r.checks.map { case (n, ok, m) =>
        Map("name" -> n, "ok" -> ok, "msg" -> m) },
      "cpus" -> cpus,
      "profile" -> System.getProperty("graft.bench.profile"))))
  }

  /** Residual (operation wall time its phases do not cover) and the
    * tracing overhead (see [[Probe.run]]). */
  private def traceSummary(probe: Probe, r: Report): Unit = {
    val L = r.layer
    import scala.jdk.CollectionConverters._
    val all = Spans.buf.asScala.toSeq
    val ops = all.filter(_.name.startsWith("op."))
    val opIds = ops.map(_.id).toSet
    val byParent = all.filter(s => opIds(s.parent)).groupBy(_.parent)
    val opWall = ops.map(s => s.end - s.start).sum.toDouble
    val covered = ops.map(o => byParent.getOrElse(o.id, Nil)
      .map(s => s.end - s.start).sum).sum.toDouble
    L("trace.residual_share") = (if (opWall > 0) 1 - covered / opWall else 0.0,
      "ratio")
    val on = probe.tracedPairs.asScala.toSeq
    val off = probe.controlPairs.asScala.toSeq
    L("trace.overhead_share") = (if (on.isEmpty || off.isEmpty) 0.0
      else Util.median(on) / Util.median(off) - 1, "ratio")
    r.detail("trace.traced_pairs") = (on.size.toDouble, "count")
    r.detail("trace.control_pairs") = (off.size.toDouble, "count")
    L("trace.spans") = (all.size.toDouble, "count")
  }

  private def spansJson(): String = {
    import scala.jdk.CollectionConverters._
    val all = Spans.buf.asScala.toSeq.sortBy(_.start)
    val self = Spans.selfTimes(all)
    all.map(s => Util.json(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "start_ns" -> s.start,
      "end_ns" -> s.end, "self_ns" -> self(s.id)))).mkString("[\n", ",\n", "\n]\n")
  }

  // ---- the Essentia document store -----------------------------------------

  val rawSchema: StructType = StructType(Seq(
    StructField("gid", StringType), StructField("submitted", LongType),
    StructField("raw", StringType)))

  /** Raw submissions → (gid, raw, submitted, doc, valid, reject_reason). */
  def parsed(df: DataFrame): DataFrame = Ingest.validateChecks(
    df.withColumn("doc", from_json(col("raw"), EssentiaSchema.document)),
    EssentiaSchema.requiredChecks("doc"))

  /** Valid submissions → the payload the store hashes: canonical JSON. */
  def hashed(df: DataFrame): DataFrame = df.filter(col("valid"))
    .withColumn("payload", Ingest.canonicalJsonString(col("raw")))
    .drop("raw", "valid", "reject_reason")

  def emptyStore(s: SparkSession): DataFrame = s.createDataFrame(
    s.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(Seq(
      StructField("gid", StringType), StructField("payload", StringType),
      StructField("submitted", LongType),
      StructField("content_hash", StringType),
      StructField("submission_offset", LongType))))

  /** Ingest the seeded store documents in one batch and write the store. */
  def buildStore(s: SparkSession, docs: String, out: String): Unit = {
    val in = s.read.schema(rawSchema).json(docs)
    Ingest.ingestBatch(emptyStore(s), hashed(parsed(in)).withColumn(
      "batch", lit(-1))).write.mode("overwrite").parquet(out)
  }
}

/** One benchmark workload. */
trait Workload {
  /** Untimed: fill caches and JIT, record what the checks need. */
  def warm(): Unit
  /** The measured phase: runs for the configured seconds. */
  def timed(): Unit
  /** Output checks, outside the timed region. */
  def checks(): Unit
  /** Fill the report's end-to-end and detail metrics. */
  def endToEnd(): Unit
  /** Fill the workload's own per-layer metrics (traced runs). */
  def layers(): Unit
}

object Workload {
  def meanMs(ns: Seq[Long]): Double =
    if (ns.isEmpty) 0.0 else ns.sum / 1e6 / ns.size
}
