package graft

import graft.api.Responses
import org.apache.spark.sql.functions._

/** Bulk-response nesting (reference §3.1 step 6: rows → {mbid: {offset:
  * doc}} JSON). */
class ResponsesSpec extends SparkSpec {
  import spark.implicits._

  test("rows nest into {gid: {offset: doc}} with sorted keys") {
    val rows = Seq(
      ("b-uuid", 1, 4.5, "mp3"),
      ("a-uuid", 0, 3.0, "flac"),
      ("b-uuid", 0, 2.0, "ogg"))
      .toDF("gid", "offset", "length", "codec")
    val out = Responses.bulkResponse(rows, $"gid", $"offset",
      struct($"length", $"codec")).collect()(0).getString(0)
    assert(out ==
      """{"a-uuid":{"0":{"length":3.0,"codec":"flac"}},""" +
      """"b-uuid":{"0":{"length":2.0,"codec":"ogg"},""" +
      """"1":{"length":4.5,"codec":"mp3"}}}""")
  }

  test("assembly is deterministic regardless of input row order") {
    // doc_id as the offset: unique per gid by construction (duplicate map
    // keys would make map_from_entries throw, not test determinism)
    val base = Tables.documents(spark, sfTiny).limit(30)
      .select(col("source").as("gid"),
        col("doc_id").as("offset"),
        struct(col("doc_id"), col("lang")).as("doc"))
    val a = Responses.bulkResponse(base, col("gid"), col("offset"), col("doc"))
      .collect()(0).getString(0)
    val b = Responses.bulkResponse(base.orderBy(rand(7)), col("gid"),
      col("offset"), col("doc")).collect()(0).getString(0)
    assert(a == b && a.nonEmpty)
  }

  test("empty input renders {} and keeps the mbid_mapping key") {
    val empty = Seq.empty[(String, Int, Double)].toDF("gid", "offset", "x")
    assert(Responses.bulkResponse(empty, $"gid", $"offset", struct($"x"))
      .head().getString(0) == "{}")
    assert(Responses.bulkResponseWithMapping(empty, $"gid", $"offset",
      struct($"x"), Map.empty).head().getString(0) ==
      """{"mbid_mapping":{}}""")
  }

  test("offset keys sort as strings: 10 before 2") {
    val rows = Seq(("g", 10, 1.5), ("g", 2, 2.5), ("f", 0, 0.5))
      .toDF("gid", "offset", "x")
    assert(Responses.bulkResponse(rows, $"gid", $"offset", struct($"x"))
      .head().getString(0) ==
      """{"f":{"0":{"x":0.5}},"g":{"10":{"x":1.5},"2":{"x":2.5}}}""")
  }

  test("a null selected feature renders as an explicit null") {
    val rows = Seq[(String, Int, Option[Double], String)](
      ("a", 0, None, "mp3"), ("a", 1, Some(2.0), null))
      .toDF("gid", "offset", "length", "codec")
    val doc = struct($"length", $"codec")
    val nested = """{"a":{"0":{"length":null,"codec":"mp3"},""" +
      """"1":{"length":2.0,"codec":null}}"""
    assert(Responses.bulkResponse(rows, $"gid", $"offset", doc)
      .head().getString(0) == nested + "}")
    assert(Responses.bulkResponseWithMapping(rows, $"gid", $"offset", doc,
      Map("A" -> "a")).head().getString(0) ==
      nested + ""","mbid_mapping":{"A":"a"}}""")
  }

  test("the nesting is one aggregate: one exchange in the prepared plan") {
    // 40 rows over 4 partitions, 5 gids x 8 offsets
    val rows = spark.range(0, 40, 1, 4)
      .select(concat(lit("g"), (col("id") % 5).cast("string")).as("gid"),
        (col("id") / 5).cast("int").as("offset"), col("id"))
    val df = Responses.bulkResponse(rows, col("gid"), col("offset"),
      struct(col("id")))
    def gid(g: Int) = (0 until 8)
      .map(o => s""""$o":{"id":${o * 5 + g}}""").mkString(s""""g$g":{""",
        ",", "}")
    // the prepared plan, read before this frame executes
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(df.head().getString(0) == (0 until 5).map(gid)
      .mkString("{", ",", "}"))
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, s"expected one exchange in:\n$plan")
  }
}
