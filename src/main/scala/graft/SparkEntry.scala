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
}
