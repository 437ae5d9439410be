package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import scala.collection.concurrent.TrieMap

/** The engine's one SparkListener: a per-job-group ledger of what each
  * query's stages spent. Verify and Bench run every query under its own
  * job group, so one row per group is one row per query (Bench: per timed
  * attempt); jobs with no group land in "ungrouped".
  *
  * A row holds spill, peak task memory and shuffle bytes (the
  * memory-pressure drive and the shuffle-bytes ratchet read these from
  * Verify's `verify_spill.json`) and the stage-level time split: jobs,
  * executed stages, tasks, executor run and deserialize ms, and the
  * longest stage's id and wall ms.
  *
  * The reference's own bounded-memory discipline is the contract the
  * spill columns watch: its dump path streams 10k-row chunks precisely so
  * the full table never lives in RAM (reference db/dump.py:34,585-696).
  *
  * Stage attempts are SUMMED (a retried stage re-pays its spill — that
  * is real I/O, not double counting); `peak_mem` is the max single-task
  * execution-memory footprint seen in the group, the number that must
  * stay under executor-memory/cores at any scale. Events arrive on the
  * asynchronous listener bus: read rows after `spark.stop()`, which
  * drains it.
  *
  * `parallelism` is the session's defaultParallelism: shuffle BYTES are
  * deterministic per parallelism but NOT across them (local[16] vs
  * local[32] regroups splits and shuffle-block compression, ±~2.4× on
  * ~1 MB shuffles, r17), so the bytes ratchet refuses other settings. */
final class JobLedger(val parallelism: Int) extends SparkListener {
  import JobLedger.Row

  private val jobGroup = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  private val rows = TrieMap.empty[String, Row]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("ungrouped")
    jobGroup.put(js.jobId, g)
    // putIfAbsent: a stage shared with an earlier job is SKIPPED by later
    // jobs — the first (executing) job must keep the attribution, or a
    // stage that ran under query A gets billed to query B's group.
    js.stageIds.foreach(sid => stageJob.putIfAbsent(sid, js.jobId))
    rows.updateWith(g)(r => Some(r.fold(Row(jobs = 1))(o =>
      o.copy(jobs = o.jobs + 1))))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      val g = stageJob.get(i.stageId).flatMap(jobGroup.get)
        .getOrElse("ungrouped")
      val wall = (for {a <- i.completionTime; b <- i.submissionTime}
        yield a - b).getOrElse(0L)
      rows.updateWith(g) { r =>
        val o = r.getOrElse(Row())
        Some(Row(o.memSpill + m.memoryBytesSpilled,
          o.diskSpill + m.diskBytesSpilled,
          o.peakMem.max(m.peakExecutionMemory),
          o.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          o.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          o.jobs, o.stages + 1, o.tasks + i.numTasks,
          o.runMs + m.executorRunTime, o.deserMs + m.executorDeserializeTime,
          if (wall > o.longestStageMs) i.stageId else o.longestStage,
          wall.max(o.longestStageMs)))
      }
    }
  }

  def row(group: String): Option[Row] = rows.get(group)

  /** One JSON object: heap bound, totals, and the per-group rows (every
    * group that spilled, peaked above 64 MiB, or shuffled any bytes — the
    * shuffle-bytes ratchet needs all shuffling groups — plus an
    * `n_groups` count so silence is distinguishable from an uninstalled
    * listener). */
  def json(): String = {
    val all = rows.toSeq.sortBy(-_._2.diskSpill)
    val body = all.filter { case (_, r) => r.memSpill > 0 ||
      r.diskSpill > 0 || r.peakMem > (64L << 20) || r.shuffleRead > 0 ||
      r.shuffleWrite > 0 }
      .map { case (g, r) => s"${graft.JsonUtil.str(g)}: {${r.fields}}" }
      .mkString("{", ",", "}")
    s"""{"heap_max": ${Runtime.getRuntime.maxMemory()}, """ +
      s""""parallelism": $parallelism, """ +
      s""""n_groups": ${all.size}, """ +
      s""""total_mem_spill": ${all.map(_._2.memSpill).sum}, """ +
      s""""total_disk_spill": ${all.map(_._2.diskSpill).sum}, """ +
      s""""groups": $body}"""
  }
}

object JobLedger {
  final case class Row(memSpill: Long = 0, diskSpill: Long = 0,
      peakMem: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
      jobs: Int = 0, stages: Int = 0, tasks: Long = 0, runMs: Long = 0,
      deserMs: Long = 0, longestStage: Int = -1, longestStageMs: Long = -1) {
    /** JSON fields without braces: Bench prepends its time split. */
    def fields: String =
      s""""mem_spill": $memSpill, "disk_spill": $diskSpill, """ +
      s""""peak_mem": $peakMem, "shuffle_read": $shuffleRead, """ +
      s""""shuffle_write": $shuffleWrite, "jobs": $jobs, """ +
      s""""stages": $stages, "tasks": $tasks, "run_ms": $runMs, """ +
      s""""deser_ms": $deserMs, "longest_stage": $longestStage, """ +
      s""""longest_stage_ms": $longestStageMs"""
  }

  /** A ledger stamped with the session's parallelism, already listening. */
  def install(sc: SparkContext): JobLedger = {
    val l = new JobLedger(sc.defaultParallelism)
    sc.addSparkListener(l)
    l
  }
}
