package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.ingest.Ingest
import graft.operators.SimilarityPack
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The write path of `serve`: one submitter thread sends seeded
  * micro-batches of raw Essentia JSON (with exact duplicates, over-cap
  * resubmissions and documents missing a required key) through validate →
  * canonical JSON + content hash → ingestBatch against the growing store →
  * append, while the readers serve from the same store. A traced run then
  * appends seeded vectors to a copy of the embeddings corpus and refreshes
  * the serving artifacts over it. */
final class Writer(ctx: Ctx) {
  private val spark = ctx.spark
  import spark.implicits._

  private val batches: IndexedSeq[IndexedSeq[JsonNode]] =
    Util.readJsonLines(ctx.inputs.resolve("ingest_batches.jsonl"))
      .map(_.elements().asScala.toIndexedSeq)
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private var processed = 0
  private var docs = 0L
  private var failed = 0L
  private var wallS = 0.0
  private var lateS = 0.0

  private def frame(b: IndexedSeq[JsonNode], idx: Int): DataFrame =
    b.map(d => (d.get("gid").asText, d.get("submitted").asLong,
      d.get("raw").asText)).toDF("gid", "submitted", "raw")
      .withColumn("batch", lit(idx))

  private def ingestOne(idx: Int, timed: Boolean,
      due: Long = System.nanoTime()): Unit = {
    val b = batches(idx)
    // an ingest changes the store, so a traced run cannot repeat it
    val (ok, _) = ctx.probe.run("ingest_batch", paired = false) { op =>
      try {
        // each stage materialized, so its time is its own
        val v = op.phase("validate")(Main.parsed(frame(b, idx))
          .localCheckpoint(eager = true))
        val h = op.phase("hash")(Main.hashed(v)
          .withColumn("content_hash", Ingest.contentHash(col("payload")))
          .localCheckpoint(eager = true))
        val out = op.phase("batch")(Ingest.ingestBatch(
          spark.read.parquet(ctx.storePath), h).localCheckpoint(eager = true))
        op.phase("write")(out.write.mode("append").parquet(ctx.storePath))
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch $idx failed: $e")
          false
      }
    }
    if (timed) {
      if (ok) batchMs += Util.ms(System.nanoTime() - due) else failed += 1
      docs += b.size
    }
  }

  def warm(): Unit = {
    // the last batch, against a throwaway copy of the store
    val real = ctx.storePath
    val scratch = ctx.work.resolve("store_warm")
    Util.copyTree(Util.path(real), scratch)
    ctx.storePath = scratch.toString
    ingestOne(batches.size - 1, timed = false)
    ctx.storePath = real
  }

  /** Seconds between batch submissions (an input, see gen.py): the
    * submitters are independent of the engine, so the writer runs
    * open-loop at a fixed rate. */
  private val IntervalS = Util.readJson(ctx.inputs.resolve("traffic.json"))
    .get("batch_interval_s").asDouble

  /** Submit batches on schedule until the deadline. A batch's latency
    * runs from when it was due, so a stall also charges the batches that
    * queue behind it. */
  def loop(deadline: Long): Unit = {
    val t0 = System.nanoTime()
    var due = t0
    while (due < deadline && processed < batches.size - 1) {
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      ingestOne(processed, timed = true, due)
      processed += 1
      due += (IntervalS * 1e9).toLong
    }
    lateS = math.max(0.0, (System.nanoTime() - due) / 1e9)
    wallS = (System.nanoTime() - t0) / 1e9
    ctx.report.attempted += docs
    ctx.report.failed += failed
  }

  /** Append the seeded refresh vectors to a benchmark-owned copy of the
    * embeddings corpus (serve's corpus is the embeddings alone) and
    * rebuild the serving artifacts over it; returns the rebuild seconds. */
  private def refresh(): Double = {
    val e = ctx.work.resolve("refresh").resolve("embeddings.parquet")
    Files.createDirectories(e)
    Files.copy(Util.path(ctx.dir).resolve("embeddings.parquet"),
      e.resolve("part-base.parquet"))
    Files.copy(ctx.inputs.resolve("refresh_vecs.parquet"),
      e.resolve("part-new.parquet"))
    val dir = e.getParent.toString
    val t0 = System.nanoTime()
    val ok = try {
      SimilarityPack.ensureTunedIndex(spark, dir)
      SimilarityPack.ensureIvfPqIndex(spark, dir)
      SimilarityPack.ensureKmeansIndex(spark, dir)
      true
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] index refresh failed: $e")
        false
    }
    ctx.report.attempted += 1
    if (!ok) ctx.report.failed += 1
    (System.nanoTime() - t0) / 1e9
  }

  def checks(): Unit = {
    val R = ctx.report
    val sent = batches.take(processed).flatten
    def expect(k: String) = sent.count(_.get("expect").asText == k).toLong
    // the engine's verdict on every processed submission: valid, and the
    // content hash it would store
    val verdict = Main.parsed(batches.take(processed).zipWithIndex
      .map { case (b, i) => frame(b, i) }.reduceOption(_ union _)
      .getOrElse(frame(IndexedSeq.empty, 0)))
      .select(col("gid"), col("submitted"), col("valid"), Ingest.contentHash(
        Ingest.canonicalJsonString(col("raw"))).as("h"))
      .collect()
    val store = spark.read.parquet(ctx.storePath)
      .select("gid", "content_hash", "submitted", "submission_offset", "batch")
      .collect()
    val stored = store.map(r => (r.getString(0), r.getString(1))).toSet
    val storedAt = store.map(r => (r.getString(0), r.getString(1),
      r.getLong(2))).toSet
    val valid = verdict.filter(_.getBoolean(2))
    val invalid = (verdict.length - valid.length).toLong
    val accepted = store.count(_.getInt(4) >= 0).toLong
    // a valid submission not stored is a duplicate when its (gid, hash)
    // is stored from another submission, and over the cap when it is not
    val dup = valid.count(r => !storedAt((r.getString(0), r.getString(3),
      r.getLong(1))) && stored((r.getString(0), r.getString(3)))).toLong
    val cap = valid.count(r => !stored((r.getString(0), r.getString(3)))).toLong
    counts = Map("accepted" -> accepted, "dup" -> dup, "cap" -> cap,
      "invalid" -> invalid)
    def chk(name: String, ok: Boolean, msg: => String): Unit = {
      R.attempted += 1
      if (!ok) R.failed += 1
      R.check(s"ingest.$name", ok, msg)
    }
    chk("outcomes", accepted == expect("accept") && dup == expect("dup") &&
      cap == expect("cap") && invalid == expect("invalid"),
      s"engine accepted/dup/cap/invalid $accepted/$dup/$cap/$invalid vs " +
      s"expected ${expect("accept")}/${expect("dup")}/${expect("cap")}/" +
      s"${expect("invalid")}")
    chk("conservation", accepted + dup + cap + invalid == sent.size,
      s"accepted + rejected != attempted (${sent.size})")
    val badGid = store.groupBy(_.getString(0)).filterNot { case (_, rs) =>
      val offs = rs.map(_.getLong(3)).sorted.toSeq
      offs == offs.indices.map(_.toLong) &&
        offs.size <= Ingest.MaxDuplicateSubmissions &&
        rs.map(_.getString(1)).distinct.length == rs.length
    }.keys
    chk("offsets", badGid.isEmpty, s"${badGid.size} gids with non-dense " +
      s"offsets, over the cap, or a duplicate content hash " +
      s"(e.g. ${badGid.headOption})")
  }

  private var counts = Map.empty[String, Long]

  def batchMedianMs: Double = Util.median(batchMs.toSeq)

  def detail(): Unit = {
    val D = ctx.report.detail
    D("docs_per_s") = (docs / wallS, "1/s")
    D("batch_p50_ms") = (batchMedianMs, "ms")
    D("batch_p90_ms") = (Util.quantile(batchMs.toSeq, 0.9), "ms")
    D("batches") = (batchMs.size.toDouble, "count")
    D("writer_late_s") = (lateS, "s")
  }

  def layers(): Unit = {
    val L = ctx.report.layer
    for (s <- Seq("validate", "hash", "batch", "write"))
      L(s"ingest.${s}_s") = (Workload.meanMs(
        ctx.probe.phaseValues("ingest_batch", s)) / 1e3, "s")
    val attempted = counts.values.sum.toDouble
    L("ingest.accepted") = (counts.getOrElse("accepted", 0L).toDouble, "count")
    L("ingest.dup_rejected") = (counts.getOrElse("dup", 0L).toDouble, "count")
    L("ingest.cap_rejected") = (counts.getOrElse("cap", 0L).toDouble, "count")
    L("ingest.invalid") = (counts.getOrElse("invalid", 0L).toDouble, "count")
    L("ingest.accept_ratio") = (counts.getOrElse("accepted", 0L) /
      math.max(1.0, attempted), "ratio")
    val userBytes = batches.take(processed).flatten
      .map(_.get("raw").asText.length.toLong).sum
    L("ingest.store_bytes_per_user_byte") = (Util.dirBytes(
      Util.path(ctx.storePath)).toDouble / math.max(1L, userBytes), "ratio")
    L("index_refresh_s") = (refresh(), "s")
  }
}
