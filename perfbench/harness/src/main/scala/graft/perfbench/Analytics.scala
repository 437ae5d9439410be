package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `analytics`: the long-running part of the query contract, one query at
  * a time, whole passes over the frozen query set in a seed-shuffled
  * order. Construct (eager checkpoint chains, harvests) and shuffle-heavy
  * execution do the work here; the api layer does none. */
final class Analytics(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val manifestPath = ctx.inputs.resolve("analytics_manifest.json")
  private val manifest: Map[String, String] = {
    val n = Util.readJson(manifestPath).get("queries")
    n.fieldNames().asScala.map(k => k -> n.get(k).asText).toMap
  }
  private val order: Seq[String] = Util.readJson(
    ctx.inputs.resolve("query_order.json")).elements().asScala
    .map(_.asText).toSeq
  private val hashes = mutable.Map.empty[String, String]
  private val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var done = 0L
  private var failed = 0L
  private var passes = 0
  val MinPasses = 4
  // one query at a time, so the process-wide checkpoint capture sees only
  // the traced operation it is opened for
  ctx.probe.captureSites = true

  private def runOne(name: String, collect: Boolean): Option[Double] = {
    val fn = SparkEntry.queries(name)
    // the hash pass runs once: a traced run need not collect twice
    val (ok, ns) = ctx.probe.run(s"query.$name", paired = !collect) { op =>
      try {
        val df = op.phase("construct")(fn(spark, ctx.dir))
        op.phase("plan")(df.queryExecution.executedPlan)
        op.phase("exec") {
          if (collect)
            hashes(name) = Util.sha256(df.collect().iterator.map(Util.canon))
          else df.write.format("noop").mode("overwrite").save()
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
      }
    }
    if (ok) Some(Util.ms(ns)) else None
  }

  /** Two untimed passes: the first collects the result hashes the checks
    * compare with the manifest; JIT and codegen are still settling during
    * it (a third slower than later passes), so a second pass follows. */
  def warm(): Unit = {
    order.foreach(q => runOne(q, collect = true))
    order.foreach(q => runOne(q, collect = false))
  }

  def timed(): Unit = {
    // whole passes only, so every query weighs the same in every run, and
    // at least MinPasses of them, so each query's median has that many
    // samples
    val t0 = System.nanoTime()
    val budget = ctx.seconds * 1e9
    do {
      order.foreach { q =>
        runOne(q, collect = false) match {
          case Some(t) => times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
          case None => failed += 1
        }
        done += 1
      }
      passes += 1
    } while (passes < MinPasses || System.nanoTime() - t0 < budget)
    ctx.report.attempted += done
    ctx.report.failed += failed
    times.toSeq.sortBy(_._1).foreach { case (q, v) =>
      Main.note(s"$q ${v.map(x => f"$x%.0f").mkString(" ")} ms") }
  }

  def checks(): Unit = {
    val R = ctx.report
    val regen = sys.env.contains("PERFBENCH_REGEN_MANIFEST")
    order.sorted.foreach { q =>
      R.attempted += 1
      val ok = hashes.get(q).exists(h => regen || manifest(q) == h)
      if (!ok) R.failed += 1
      R.check(s"analytics.hash.$q", ok,
        s"result hash ${hashes.getOrElse(q, "<failed>")} != manifest ${manifest(q)}")
    }
    if (regen) Util.write(ctx.work.resolve("analytics_manifest.json"),
      Util.json(Map("queries" -> scala.collection.immutable.TreeMap(
        hashes.toSeq: _*))) + "\n")
  }

  private def medians: Seq[Double] =
    order.sorted.flatMap(q => times.get(q).map(v => Util.median(v.toSeq)))

  def endToEnd(): Unit = {
    val R = ctx.report
    val all = times.values.flatten.toSeq
    val wall = all.sum / 1e3
    R.e2e("ops_per_s") = (done / wall, "1/s")
    R.e2e("geomean_ms") = (Util.geomean(medians), "ms")
    R.detail("p50_ms") = (Util.median(all), "ms")
    R.detail("p90_ms") = (Util.quantile(all, 0.9), "ms")
    R.detail("samples") = (all.size.toDouble, "count")
    R.detail("query_geomean_ms") = (Util.geomean(medians), "ms")
    R.detail("passes") = (passes.toDouble, "count")
    order.sorted.foreach { q =>
      times.get(q).foreach(v =>
        R.detail(s"query.$q.median_ms") = (Util.median(v.toSeq), "ms"))
    }
  }

  def layers(): Unit = {
    val L = ctx.report.layer
    for (ph <- Seq("construct", "plan", "exec"))
      L(s"phase.query.${ph}_ms") =
        (Workload.meanMs(ctx.probe.phaseValues("query", ph)), "ms")
  }
}
