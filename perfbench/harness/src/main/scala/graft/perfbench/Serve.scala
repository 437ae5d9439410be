package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.Tables
import graft.api.{BulkParams, Features, Responses}
import graft.operators.SimilarityPack
import graft.streaming.QueryStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `serve`: a closed loop of two reader clients over the seeded request
  * stream — bulk low-level lookups (parse → (gid, offset) lookup on the
  * store → feature projection → nested JSON response) and top-K
  * similarity requests over the exact, tuned-IVF and composed serving
  * paths — while one submitter ([[Writer]]) ingests micro-batches
  * into the store the lookups read. Requests are small, so the per-job
  * floor, planning and artifact reads dominate; the writer makes a gain
  * for reads that costs writes show in the same run. */
final class Serve(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  val Clients = 2
  /** Requests whose responses are kept for the output checks. */
  val CheckedPerKind = 3

  private val requests: IndexedSeq[JsonNode] =
    Util.readJsonLines(ctx.inputs.resolve("requests.jsonl"))
  private val storeSchema = spark.read.parquet(ctx.storePath).schema
  /** The store as it is now: the writer appends to it while readers
    * serve, so every request lists it afresh. */
  private def store: DataFrame =
    spark.read.schema(storeSchema).parquet(ctx.storePath)
  private val writer = new Writer(ctx)
  private lazy val gate = QueryStream.composedGate(spark, ctx.dir)

  private val next = new AtomicInteger(0)
  /** (kind, latency ns) of every completed request. */
  private val lat = new ConcurrentLinkedQueue[(String, Long)]()
  private val kept = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
  private val keptPerKind = new java.util.concurrent.ConcurrentHashMap[String,
    AtomicInteger]()
  private val rejected = new AtomicLong(0)
  /** Request index -> rejected?, for every lookup served in the timed
    * phase. */
  private val lookupRejected =
    new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
  private val failed = new AtomicLong(0)
  private var reads = 0L
  private var wallS = 0.0

  private def ids(r: JsonNode): Seq[Long] =
    r.get("ids").elements().asScala.map(_.asLong).toSeq

  private def lookupFrame(items: Seq[BulkParams.Item], features: String)
      : DataFrame = {
    val keys = items.map(i => (i.mbid, i.offset.toLong))
      .toDF("gid", "submission_offset")
    val rows = store.join(broadcast(keys), Seq("gid", "submission_offset"),
      "left_semi")
    val doc = Features.parseFeatureParam(features)
      .map(f => Features.projectDoc(col("doc"), f)).getOrElse(col("doc"))
    Responses.bulkResponseWithMapping(rows, col("gid"),
      col("submission_offset"), doc, BulkParams.mbidMapping(items))
  }

  private def similarFrame(kind: String, q: Seq[Long]): DataFrame = {
    val idf = q.toDF("vec_id")
    kind match {
      case "exact" => SimilarityPack.topkFor(spark, ctx.dir, idf)
      case "ivf" => SimilarityPack.indexedTopkFor(spark, ctx.dir, idf)
      case "composed" => gate(idf)
    }
  }

  /** One request through the probe. Returns its result (response string,
    * rejection, or result rows) — None when it failed. */
  private def serveOne(i: Int): Option[AnyRef] = {
    val r = requests(i)
    val kind = r.get("kind").asText
    val (res, ns) = ctx.probe.run(kind) { op =>
      try {
        if (kind == "lookup") {
          op.phase("api")(BulkParams.parse(r.get("param").asText)) match {
            case BulkParams.Invalid(reason) => Some(("rejected", reason))
            case BulkParams.Parsed(items) =>
              val df = op.phase("construct")(
                lookupFrame(items, r.get("features").asText))
              op.phase("plan")(df.queryExecution.executedPlan)
              Some(op.phase("exec")(df.collect().head.getString(0)))
          }
        } else {
          val df = op.phase("construct")(similarFrame(kind, ids(r)))
          op.phase("plan")(df.queryExecution.executedPlan)
          Some(op.phase("exec")(df.collect().toSeq))
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] request $i ($kind) failed: $e")
          None
      }
    }
    res match {
      case Some(("rejected", _)) => rejected.incrementAndGet()
      case Some(_) => lat.add((kind, ns))
      case None => failed.incrementAndGet()
    }
    res
  }

  def warm(): Unit = {
    // every request kind once, on requests past the timed stream's reach
    // (the stream is consumed from its start)
    val seen = mutable.Set.empty[String]
    for (i <- requests.indices.reverse.take(requests.size / 2)) {
      if (seen.add(requests(i).get("kind").asText)) serveOne(i)
    }
    writer.warm()
    lat.clear(); rejected.set(0); failed.set(0)
  }

  def timed(): Unit = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val pool = (0 until Clients).map { _ =>
      val t = new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          if (i >= requests.size / 2) go = false
          else {
            val res = serveOne(i)
            val k = requests(i).get("kind").asText
            if (k == "lookup") res.foreach(r => lookupRejected.put(i,
              r match { case ("rejected", _) => true; case _ => false }))
            val c = keptPerKind.computeIfAbsent(k, _ => new AtomicInteger(0))
            if (res.isDefined && c.getAndIncrement() < CheckedPerKind)
              kept.put(i, res.get)
          }
        }
      })
      t.start(); t
    }
    val w = new Thread(() => writer.loop(deadline))
    w.start()
    (pool :+ w).foreach(_.join())
    wallS = (System.nanoTime() - t0) / 1e9
    reads = lat.size + rejected.get + failed.get
    ctx.report.attempted += reads
    ctx.report.failed += failed.get
  }

  def checks(): Unit = {
    writer.checks()
    val R = ctx.report
    var bad = 0
    var checked = 0
    kept.asScala.toSeq.sortBy(_._1).foreach { case (i, res) =>
      val r = requests(i)
      val kind = r.get("kind").asText
      R.attempted += 1
      checked += 1
      val ok = kind match {
        case "lookup" => (res, BulkParams.parse(r.get("param").asText)) match {
          // a malformed request must be rejected, and only a malformed one
          case (("rejected", _), BulkParams.Invalid(_)) =>
            r.get("malformed").asBoolean
          case (resp: String, BulkParams.Parsed(items)) =>
            !r.get("malformed").asBoolean &&
              resp == expectedLookup(items, r.get("features").asText)
          case _ => false
        }
        case "exact" =>
          val rows = res.asInstanceOf[Seq[Row]]
          ids(r).forall { q =>
            rows.filter(_.getLong(0) == q).sortBy(_.getLong(1))
              .map(_.getLong(2)) == exactTop(q, 10)
          }
        case "ivf" =>
          // approximate: valid rows only; recall is checked below on a
          // fixed id set
          val rows = res.asInstanceOf[Seq[Row]]
          rows.groupBy(_.getLong(0)).values.forall(_.size <= 10) &&
            rows.forall(row => ids(r).contains(row.getLong(0)))
        case "composed" =>
          // (query_id, rec_id, sub_offset, dist): distances must be the
          // exact angular distances of those pairs, within the threshold
          // and the n_neighbours cap
          val rows = res.asInstanceOf[Seq[Row]]
          rows.groupBy(_.getLong(0)).values.forall(_.size <= 7) &&
            rows.forall { row =>
              val q = row.getLong(0)
              val nb = row.getLong(1) * 4 + row.getLong(2)
              val c = math.min(cos(vecs(q), vecs(nb)), 1.0)
              val d = math.sqrt(2 * (1 - c)) / 2
              ids(r).contains(q) && math.abs(d - row.getDouble(3)) < 1e-6 &&
                row.getDouble(3) <= 0.61
            }
      }
      if (!ok) {
        bad += 1
        R.check(s"serve.$kind.$i", ok = false, s"request $i ($kind) output " +
          s"does not match the reference computation")
      }
    }
    R.failed += bad
    R.check("serve.outputs", bad == 0, s"$bad of $checked checked " +
      "responses differ")
    R.check("serve.checked_all_kinds", Kinds.forall(k =>
      kept.asScala.exists { case (i, _) => requests(i).get("kind").asText == k }),
      "a request kind went unchecked")
    // every served lookup: rejected exactly when its request is malformed
    val wrong = lookupRejected.asScala.toSeq.sortBy(_._1).filter {
      case (i, rej) => rej != requests(i).get("malformed").asBoolean }
    R.attempted += lookupRejected.size
    R.failed += wrong.size
    R.check("serve.rejections", wrong.isEmpty, s"${wrong.size} of " +
      s"${lookupRejected.size} lookups rejected when valid or served when " +
      s"malformed, e.g. request ${wrong.headOption.map(_._1).getOrElse(-1)}")
    recallCheck("ivf", ctx.dir)
    val storeRows = store.count()
    R.attempted += 1
    R.check("serve.store", storeRows >= StoreDocs, s"store holds $storeRows " +
      s"rows, fewer than the $StoreDocs seeded documents")
    if (storeRows < StoreDocs) R.failed += 1
  }

  /** The read request kinds. */
  val Kinds = Seq("lookup", "exact", "ivf", "composed")

  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, ctx.dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
    while (j < a.length) {
      d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j); j += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Brute-force cosine top-k in the harness, ties broken by id. */
  private def exactTop(q: Long, k: Int): Seq[Long] = vecs.toSeq
    .filter(_._1 != q).map { case (id, v) => (id, cos(vecs(q), v)) }
    .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  /** Query ids of the recall check. */
  val RecallIds = 50

  /** ANN recall@10 against the exact neighbours, on a fixed id set of the
    * fixed corpus, so it is deterministic and pinned like the floors of
    * tools/recall_floor.py: a dip below the floor is a code change. */
  private def recallCheck(kind: String, dir: String): Unit = {
    val R = ctx.report
    val fixed = (0L until RecallIds).toDF("vec_id")
    val got = (if (kind == "ivf") SimilarityPack.indexedTopkFor(spark, dir,
      fixed) else SimilarityPack.ivfPqTopkFor(spark, dir, fixed))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val hits = (0L until RecallIds).map(q =>
      exactTop(q, 10).count(got.getOrElse(q, Set.empty[Long]).contains)).sum
    val v = hits.toDouble / (10 * RecallIds)
    recallAt10(kind) = v
    R.detail(s"recall_at_10.$kind") = (v, "ratio")
    val floor = Util.readJson(ctx.inputs.resolve("recall_floors.json"))
      .get(kind).asDouble
    R.attempted += 1
    if (v < floor) R.failed += 1
    R.check(s"serve.recall.$kind", v >= floor, f"recall@10 $v%.4f < floor $floor")
  }
  private val StoreDocs = java.nio.file.Files.readAllLines(
    ctx.inputs.resolve("store_docs.jsonl")).size

  private val recallAt10 = mutable.Map.empty[String, Double]

  /** The lookup response rebuilt by a direct projection of the same rows:
    * a plain filter on the store, one JSON document per row, nested and
    * key-sorted in the harness. */
  private def expectedLookup(items: Seq[BulkParams.Item],
      features: String): String = {
    val want = items.map(i => (i.mbid, i.offset.toLong)).toSet
    val doc = Features.parseFeatureParam(features)
      .map(f => Features.projectDoc(col("doc"), f)).getOrElse(col("doc"))
    val rows = store.filter(col("gid").isin(want.map(_._1).toSeq: _*))
      .select(col("gid"), col("submission_offset"),
        to_json(doc, Map("ignoreNullFields" -> "false")))
      .collect().filter(r => want.contains((r.getString(0), r.getLong(1))))
    val byGid = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).map {
      case (g, rs) =>
        graft.JsonUtil.str(g) + ":" + rs.map(r =>
          (r.getLong(1).toString, r.getString(2))).sortBy(_._1)
          .map { case (o, d) => graft.JsonUtil.str(o) + ":" + d }
          .mkString("{", ",", "}")
    }
    val mapping = BulkParams.mbidMapping(items).toSeq.sortBy(_._1)
      .map { case (k, v) => graft.JsonUtil.str(k) + ":" + graft.JsonUtil.str(v) }
      .mkString("{", ",", "}")
    (byGid :+ ("\"mbid_mapping\":" + mapping)).mkString("{", ",", "}")
  }

  private def latencies(kinds: Set[String]): Seq[Double] =
    lat.asScala.toSeq.filter(x => kinds(x._1)).map(x => Util.ms(x._2))

  def endToEnd(): Unit = {
    val R = ctx.report
    val all = latencies(Kinds.toSet)
    val sims = Kinds.toSet - "lookup"
    R.e2e("ops_per_s") = (reads / wallS, "1/s")
    R.e2e("geomean_ms") = (Util.geomean(Kinds.map(k =>
      Util.median(latencies(Set(k)))) :+ writer.batchMedianMs), "ms")
    writer.detail()
    val lk = latencies(Set("lookup"))
    val sm = latencies(sims)
    R.detail("read_p50_ms") = (Util.median(all), "ms")
    R.detail("read_p90_ms") = (Util.quantile(all, 0.9), "ms")
    R.detail("read_samples") = (all.size.toDouble, "count")
    R.detail("lookup_p50_ms") = (Util.median(lk), "ms")
    R.detail("lookup_p90_ms") = (Util.quantile(lk, 0.9), "ms")
    R.detail("lookup_samples") = (lk.size.toDouble, "count")
    R.detail("similar_p50_ms") = (Util.median(sm), "ms")
    R.detail("similar_p90_ms") = (Util.quantile(sm, 0.9), "ms")
    R.detail("similar_samples") = (sm.size.toDouble, "count")
    R.detail("api.rejected") = (rejected.get.toDouble, "count")
  }

  def layers(): Unit = {
    val L = ctx.report.layer
    val p = ctx.probe
    L("api.parse_us") = (Util.median(
      p.phaseValues("lookup", "api").map(_ / 1e3)), "us")
    L("api.rejected") = (rejected.get.toDouble, "count")
    for (ph <- Seq("construct", "plan", "exec")) {
      L(s"phase.lookup.${ph}_ms") = (Workload.meanMs(p.phaseValues("lookup", ph)), "ms")
      L(s"phase.similar.${ph}_ms") = (Workload.meanMs(
        Kinds.tail.flatMap(k => p.phaseValues(k, ph))), "ms")
    }
    // IVF-PQ is not served in the timed mix (its build would double the
    // set-up); its recall is checked on the traced run's family pass
    recallCheck("ivfpq", ctx.familiesDir)
    L("sim.recall_at_10.ivf") = (recallAt10.getOrElse("ivf", 0.0), "ratio")
    L("sim.recall_at_10.ivfpq") = (recallAt10.getOrElse("ivfpq", 0.0), "ratio")
    writer.layers()
  }
}
