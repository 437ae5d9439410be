package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Response-side assembly of the bulk lookup result (reference §3.1 step 6:
  * `db/data.py:695-752` + `core.py:284-349` — rows re-nested into
  * `{mbid: {offset: document}}` before jsonify).
  *
  * The nesting is built WITH Catalyst, not driver-side dict loops: one
  * global aggregate collects every (gid, offset, doc) row, and
  * higher-order functions (`filter`/`transform`/`map_from_entries`) nest
  * the list by gid in the same expression. The whole response is one
  * ≤25-key row, so the single aggregate is the whole funnel: the rows
  * cross one exchange. Keys are emitted in sorted string order at both
  * levels so the response bytes are deterministic — same engine answer
  * on any cluster, any run. */
object Responses {

  /** Comparator ordering entry structs by their `key` field alone (the
    * default struct ordering can't compare entries whose value is a map). */
  private val byKey = (l: Column, r: Column) => {
    val (lk, rk) = (l.getField("key"), r.getField("key"))
    when(lk < rk, -1).when(lk > rk, 1).otherwise(0)
  }

  /** Nest (gid, offset, doc) rows into one JSON response
    * `{gid: {offset: doc}}`. `doc` may be any struct/map column. */
  def bulkResponse(rows: DataFrame, gid: Column, offset: Column,
      doc: Column): DataFrame = {
    val all = col("all")
    val byGid = (g: Column) => map_from_entries(array_sort(transform(
      filter(all, x => x.getField("g") <=> g),
      x => struct(x.getField("key").as("key"),
        x.getField("value").as("value"))), byKey))
    rows
      .agg(collect_list(struct(gid.as("g"),
        offset.cast("string").as("key"), doc.as("value"))).as("all"))
      .select(map_from_entries(array_sort(transform(
        array_distinct(transform(all, _.getField("g"))),
        g => struct(g.cast("string").as("key"), byGid(g).as("value"))),
        byKey)).as("m"))
      // ignoreNullFields=false: a selected-but-absent feature must render
      // as an explicit null (the reference jsonifies Python None), not
      // disappear from the response
      .select(to_json(col("m"), Map("ignoreNullFields" -> "false"))
        .as("response"))
  }

  /** As [[bulkResponse]], plus the reference's `mbid_mapping` top-level key
    * (core.py:335-347: `{original: normalised}` for every request mbid the
    * client did not send in canonical form, `{}` when all were canonical —
    * the key is ALWAYS present). The mapping is request-derived (≤25
    * driver-side entries, see BulkParams.mbidMapping), so it is spliced
    * into the JSON next to the mbid keys — it can't live inside the typed
    * outer map, whose values are offset→document maps. */
  def bulkResponseWithMapping(rows: DataFrame, gid: Column, offset: Column,
      doc: Column, mapping: Map[String, String]): DataFrame = {
    val mappingJson = mapping.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${graft.JsonUtil.str(k)}:${graft.JsonUtil.str(v)}" }
      .mkString("{", ",", "}")
    bulkResponse(rows, gid, offset, doc).select(
      concat(
        col("response").substr(lit(1), length(col("response")) - 1),
        when(length(col("response")) > 2, lit(",")).otherwise(lit("")),
        lit("\"mbid_mapping\":" + mappingJson + "}")).as("response"))
  }
}
