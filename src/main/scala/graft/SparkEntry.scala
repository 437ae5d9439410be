package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator pack; each key has a matching DuckDB
  * oracle in `oracleSql` with identical column names and row ordering.
  */
object SparkEntry {
  private def packs: Seq[(Map[String, (SparkSession, String) => DataFrame],
                          Map[String, String])] = Seq(
    (operators.Relational.queries, operators.Relational.oracles),
    (operators.IoPack.queries, operators.IoPack.oracles),
    (operators.TextPack.queries, operators.TextPack.oracles),
    (operators.DedupPack.queries, operators.DedupPack.oracles),
    (operators.SimilarityPack.queries, operators.SimilarityPack.oracles),
    (operators.StatsPack.queries, operators.StatsPack.oracles),
    (operators.EventsPack.queries, operators.EventsPack.oracles),
    (operators.MLPack.queries, operators.MLPack.oracles),
    (operators.MultimodalPack.queries, operators.MultimodalPack.oracles),
    (operators.PipelinePack.queries, operators.PipelinePack.oracles),
    (operators.LayoutPack.queries, operators.LayoutPack.oracles),
    (operators.GraphPack.queries, operators.GraphPack.oracles)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(_._1).reduce(_ ++ _)

  /** `queries` narrowed to a main's subset; an unknown name fails the run
    * instead of silently timing nothing. */
  def select(names: Set[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val missing = names.diff(queries.keySet).toSeq.sorted
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    queries.view.filterKeys(names).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.map(_._2).reduce(_ ++ _)

  final case class Family(name: String, ensure: (SparkSession, String) => Any, parents: String*)

  /** Every persisted artifact family a query serves from, by the name its
    * build is billed to (job group `artifact:<name>`) and perfbench reports
    * it under, with the families whose committed members it reads (a
    * parent names none). [[prepare]] builds them all, so adding a family
    * is one line (IndexStoreSpec's coverage gate fails on a query that
    * builds after [[prepare]]). `n1_popstats` needs a corpus ledger. */
  val artifacts: Seq[Family] = Seq(
    Family("lsh", operators.SimilarityPack.ensureLshIndex),
    Family("kmeans", operators.SimilarityPack.ensureKmeansIndex),
    Family("tuned", operators.SimilarityPack.ensureTunedIndex),
    Family("pq", operators.SimilarityPack.ensurePqIndex),
    Family("ivfpq", operators.SimilarityPack.ensureIvfPqIndex, "tuned", "pq"),
    Family("sq8", operators.SimilarityPack.ensureSq8Index),
    Family("n1_popstats", operators.SimilarityPack.ensurePopStats),
    Family("bm25", operators.TextPack.ensureBm25Index),
    Family("stats_ledger", operators.StatsPack.ensureStatsLedger),
    Family("band", operators.DedupPack.ensureBandIndex),
    Family("lm", operators.TextPack.ensureLmIndex),
    Family("bigram_lm", operators.TextPack.ensureBigramLmIndex, "lm"),
    Family("bpe", operators.TextPack.ensureBpeIndex),
    Family("components", operators.PipelinePack.ensureComponentsIndex),
    Family("stats_cache", operators.StatsPack.ensureStatsCache))

  /** A drive's build-once work over `dirs`: the fact-table layouts
    * ([[Tables.prepareUnits]]) and every [[artifacts]] family, fanned out
    * over a pool of 8 (one build underuses the cores; 8 keeps per-build
    * memory headroom). Each unit sets its own job group (`prepare` for
    * layouts, `artifact:<name>`), so the ledger bills a build to its
    * family, never to the first query that reaches it. Children run in a
    * second wave: a child's build ensures its parents, so beside them it
    * could win a parent's lock and bill the parent's build to itself.
    * A failed unit is logged and surfaces as its query's failure. */
  def prepare(spark: SparkSession, dirs: Seq[String]): Unit = {
    def units(children: Boolean): Seq[(String, () => Any)] =
      for (d <- dirs; f <- artifacts if f.parents.nonEmpty == children)
        yield s"artifact:${f.name}" -> (() => f.ensure(spark, d))
    val layouts = dirs.flatMap(Tables.prepareUnits(spark, _).map("prepare" -> _))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try for (wave <- Seq(layouts ++ units(false), units(true)))
      wave.map { case (group, unit) => pool.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setJobGroup(group, group)
          try unit() catch { case e: Throwable =>
            System.err.println(s"[prepare] $group failed: $e")
          } finally spark.sparkContext.clearJobGroup()
        }
      }) }.foreach(_.get())
    finally pool.shutdown()
  }
}
