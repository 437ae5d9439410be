package graft.tools

/** Dev tool: write each named query's `.explain("formatted")` output to
  * `<outDir>/<query>_<tag>.txt` — the round's committed plan evidence
  * (plans/rNN/). Usage: PlanDump <sfDir> <outDir> <tag> <q1> [q2 ...].
  * The plan is the POST-AQE executed plan, with the initial formatted
  * plan appended for the scan/pushdown sections that only the formatted
  * renderer carries. The query runs through THIS DataFrame's own
  * QueryExecution (a row-discarding foreachPartition over `toRdd`): a
  * noop-sink write would plan a separate one and leave the initial
  * adaptive tree here, and a collect() could exhaust the driver on a
  * large-output query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "PlanDump <sfDir> <outDir> <tag> <q1> [q2 ...]")
    val Array(d, outDir, tag) = args.take(3)
    val spark = graft.Engine.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    graft.SparkEntry.prepare(spark, Seq(d))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- args.drop(3)) {
      val df = graft.SparkEntry.queries(q)(spark, d)
      df.queryExecution.toRdd.foreachPartition(_ => ())
      val post = df.queryExecution.executedPlan.toString
      val fmt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q}_$tag.txt"),
        s"== Post-AQE executed plan ==\n$post\n\n== Formatted (initial) ==\n$fmt\n")
      println(s"[plandump] wrote $outDir/${q}_$tag.txt")
    }
    spark.stop()
  }
}
