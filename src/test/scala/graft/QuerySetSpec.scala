package graft

import graft.api.BulkParams
import graft.operators.SimilarityPack
import org.apache.spark.sql.functions._

/** Parameterized ANN query sets: the reference's similarity API serves
  * arbitrary bulk lookup lists (api/v1/similarity.py:114-185); here the
  * whole ANN/top-K family takes an injected query frame, and the
  * oracle-gated entries are ONE instantiation of that path (the fixed
  * ids < 10 set). */
class QuerySetSpec extends SparkSpec {
  import spark.implicits._

  private def mbidOf(i: Long): String = f"00000000-0000-4000-8000-$i%012d"

  test("the oracle-gated default set is one instantiation of topkFor") {
    val ids = (0L until 10L).toDF("vec_id")
    val fixed = SparkEntry.queries("n4_topk_cosine")(spark, sfTiny)
      .collect().map(_.toString).toSeq
    val injected = SimilarityPack.topkFor(spark, sfTiny, ids)
      .collect().map(_.toString).toSeq
    assert(injected == fixed)
  }

  test("index-served bulk lookups honor arbitrary query frames too") {
    val ids = (0L until 10L).toDF("vec_id")
    // fixed-set instantiation matches the oracle-gated served entries …
    assert(SimilarityPack.indexedTopkFor(spark, sfTiny, ids)
      .collect().map(_.toString).toSeq ==
      SparkEntry.queries("ann_tuned_indexed")(spark, sfTiny)
        .collect().map(_.toString).toSeq)
    assert(SimilarityPack.ivfPqTopkFor(spark, sfTiny, ids)
      .collect().map(_.toString).toSeq ==
      SparkEntry.queries("ann_ivfpq_indexed")(spark, sfTiny)
        .collect().map(_.toString).toSeq)
    // … and an arbitrary set serves the full per-query contract
    val req = Seq(123L, 404L).toDF("vec_id")
    val out = SimilarityPack.indexedTopkFor(spark, sfTiny, req)
    assert(out.select("query_id").distinct().as[Long].collect().toSet ==
      Set(123L, 404L))
    assert(out.count() == 20)
    // an empty request is a valid request: zero rows, no failure
    val none = spark.emptyDataset[Long].toDF("vec_id")
    assert(SimilarityPack.topkFor(spark, sfTiny, none).count() == 0)
    assert(SimilarityPack.indexedTopkFor(spark, sfTiny, none).count() == 0)
  }

  test("composed serving honors every remove_dups mode and threshold=None") {
    import graft.api.IndexParams
    val ids = Seq(5L, 23L, 77L, 311L).toDF("vec_id")
    def prm(rd: String, th: Option[String], nn: String = "7") =
      IndexParams.check("mfccs",
        nNeighbours = Some(nn), threshold = th, removeDups = Some(rd))
        .toOption.get
    def rows(rd: String, th: Option[String]) =
      SimilarityPack.composedServe(spark, sfTiny, ids, prm(rd, th))
        .collect().map(_.toString).toSeq
    val none = rows("none", Some("0.61"))
    val same = rows("samescore", Some("0.61"))
    val all = rows("all", Some("0.61"))
    // the oracle-gated entry IS the `all` instantiation
    assert(all == SparkEntry.queries("n4_serve_composed")(spark, sfTiny)
      .collect().map(_.toString).toSeq)
    // dedup strength ordering: none ⊇ samescore ⊇ all, strict at the
    // fixture for `all` (a same-recording pair inside top-7) and every
    // mode's rows are a subset of `none`'s
    assert(none.size >= same.size && same.size >= all.size)
    assert(all.size < none.size, "`all` dedup never fired")
    assert(same.toSet.subsetOf(none.toSet) && all.toSet.subsetOf(none.toSet))
    // threshold=None disables distance filtering entirely (reference
    // :33-35): with no threshold the capped serve passes 7 rows/query
    val unfiltered = rows("none", None)
    assert(unfiltered.size == 4 * 7)
    assert(none.size < unfiltered.size, "threshold never filtered")
    // the n_neighbours clamp is REAL above the exact-contract 10: a
    // 50-neighbour request serves more than 10 per query (bounded only
    // by the probed-cells candidate pool, like the reference index —
    // the regression was a silent truncation at 10)
    val wide = SimilarityPack
      .composedServe(spark, sfTiny, ids, prm("none", None, nn = "50"))
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(wide.nonEmpty && wide.values.forall(_ > 10),
      s"wide request still truncated at 10: $wide")
    assert(wide.values.forall(_ <= 50))
  }

  test("a BulkParams-parsed request drives an arbitrary bulk top-K") {
    // the reference's recording_ids param shape: `mbid`, `mbid:offset`,
    // duplicates dropped order-preserving (core.py:253-254)
    val want = Seq(17L, 42L, 255L, 311L)
    val param = s"${mbidOf(17)};${mbidOf(42)}:1;${mbidOf(255)};" +
      s"${mbidOf(17)};${mbidOf(311)}:0"
    val items = BulkParams.parse(param) match {
      case BulkParams.Parsed(it) => it
      case BulkParams.Invalid(r) => fail(s"parse failed: $r")
    }
    // deployments resolve mbids through their recording dimension; the
    // lookup is a broadcast join, never a collect
    val dim = (0L until 500L).map(i => (mbidOf(i), i)).toDF("mbid", "vec_id")
    val req = items.map(_.mbid).toDF("mbid")
      .join(broadcast(dim), Seq("mbid"))
      .select("vec_id")
    val out = SimilarityPack.topkFor(spark, sfTiny, req)
    assert(out.select("query_id").distinct().as[Long].collect().toSet ==
      want.toSet)
    // full contract per query: 10 neighbours, ranks 1..10
    val perQuery = out.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .collect()
    assert(perQuery.forall(r => r.getLong(1) == 10 &&
      r.getLong(2) == 1 && r.getLong(3) == 10))
    // and a query id never appears among its own neighbours
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  /** The left-semi-join form the harvested query set replaced. */
  private def semiJoinOf(ids: org.apache.spark.sql.DataFrame)
      : SimilarityPack.QuerySet =
    _.join(broadcast(ids.select(col("vec_id")).distinct()), Seq("vec_id"),
      "left_semi")

  test("the harvested query set selects the semi-join rows: duplicate " +
    "ids, a null id, an empty frame") {
    val corpus = Tables.embeddings(spark, sfTiny).select("vec_id", "label")
    def rows(qs: SimilarityPack.QuerySet) =
      qs(corpus).orderBy("vec_id").collect().map(_.toString).toSeq
    val dups = Seq(7L, 3L, 7L, 3L, 41L).toDF("vec_id")
    val withNull = Seq(Some(3L), None, Some(12L), None).toDF("vec_id")
    val empty = spark.emptyDataset[Long].toDF("vec_id")
    for (ids <- Seq(dups, withNull, empty))
      assert(rows(SimilarityPack.querySetOf(ids)) == rows(semiJoinOf(ids)))
    assert(rows(SimilarityPack.querySetOf(dups)).size == 3)
    assert(rows(SimilarityPack.querySetOf(withNull)).size == 2)
    assert(rows(SimilarityPack.querySetOf(empty)).isEmpty)
    // duplicates change nothing downstream either
    assert(SimilarityPack.topkFor(spark, sfTiny, dups)
      .collect().map(_.toString).toSeq ==
      SimilarityPack.topkFor(spark, sfTiny, Seq(3L, 7L, 41L).toDF("vec_id"))
        .collect().map(_.toString).toSeq)
  }

  test("a query-set frame over QuerySetMax rows fails, naming the cap") {
    val cap = SimilarityPack.QuerySetMax
    assert(SimilarityPack.querySetOf(spark.range(cap).toDF("vec_id"))(
      Tables.embeddings(spark, sfTiny)).count() > 0)
    val e = intercept[IllegalArgumentException](
      SimilarityPack.querySetOf(spark.range(cap + 1).toDF("vec_id")))
    assert(e.getMessage.contains(s"QuerySetMax = $cap"), e.getMessage)
  }

  test("topkFor prunes its query-side embeddings scan to the ids' buckets") {
    // three ids in three different buckets (bucket = pmod(hash(id), 32),
    // the bucketed layout's hash)
    val ids = (0L until 64L).toDF("vec_id")
      .select(col("vec_id"), pmod(hash(col("vec_id")), lit(32)).as("b"))
      .dropDuplicates("b").orderBy("vec_id").limit(3)
      .select("vec_id")
    val df = SimilarityPack.topkFor(spark, sfTiny, ids)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 3 out of 32"),
      s"query-side scan not bucket-pruned:\n$plan")
  }

  test("a warm request runs at most three Spark jobs on each serving path") {
    // exact 5 → 3, tuned IVF and composed 7 → 3: the probes are a
    // map-side kernel over harvested centroids, and the bounded request
    // order plans no range sort
    val p = SimilarityPack.ensureTunedIndex(spark, sfTiny)
    val ids = Seq(3L, 17L, 42L).toDF("vec_id")
    val paths = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "topkFor" -> (() => SimilarityPack.topkFor(spark, sfTiny, ids)),
      "indexedTopkFor" ->
        (() => SimilarityPack.indexedTopkFor(spark, sfTiny, ids)),
      "composedServeAt" -> (() => SimilarityPack.composedServeAt(spark, p,
        ids, SimilarityPack.ComposedDefaultParams)))
    for ((what, frame) <- paths) {
      frame().collect() // warm: artifact, member schemas, centroids
      val g = s"serve-jobs-$what-${System.nanoTime()}"
      val jobs = jobGroupsDuring(g)(frame().collect()).count(_ == g)
      assert(jobs <= 3, s"$what launched $jobs Spark jobs")
    }
  }

  test("a warm request with new ids compiles no generated classes") {
    // the ids reach the filter as an InSet (Engine), whose generated code
    // reads the set as a reference, not as inlined literals
    import org.apache.spark.metrics.source.CodegenMetrics
    val p = SimilarityPack.ensureTunedIndex(spark, sfTiny)
    def serve(ids: Seq[Long]): Unit = {
      val req = ids.toDF("vec_id")
      SimilarityPack.topkFor(spark, sfTiny, req).collect()
      SimilarityPack.indexedTopkFor(spark, sfTiny, req).collect()
      SimilarityPack.composedServeAt(spark, p, req,
        SimilarityPack.ComposedDefaultParams).collect()
    }
    serve(Seq(3L, 17L, 42L))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    serve(Seq(5L, 211L, 318L, 407L))
    serve(Seq(8L, 99L))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("a request of every corpus id keeps every row, in the order of " +
    "the unbounded sort") {
    val all = Tables.embeddings(spark, sfTiny).select("vec_id")
      .limit(SimilarityPack.QuerySetMax)
    val bounded = SimilarityPack.querySetOf(all)
    // the same ids behind a plain selector: no bound, so a plain sort
    val plain: SimilarityPack.QuerySet = df => bounded(df)
    val p = SimilarityPack.ensureTunedIndex(spark, sfTiny)
    val prm = SimilarityPack.ComposedDefaultParams
    val paths = Seq[(String, SimilarityPack.QuerySet =>
        org.apache.spark.sql.DataFrame)](
      "exact" -> (qs => SimilarityPack.topkExact(spark, sfTiny, qs)),
      "ivf" -> (qs => SimilarityPack.ivfTunedServe(spark, sfTiny, qs)),
      "composed" -> (qs => SimilarityPack.composedServeWith(spark, p, qs,
        prm)))
    for ((what, frame) <- paths) {
      val top = frame(bounded)
      val got = top.collect().map(_.toString).toSeq
      assert(got.nonEmpty && got == frame(plain).collect().map(_.toString)
        .toSeq, what)
      val plan = top.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"),
        s"$what: the bounded order did not plan a top-n:\n$plan")
    }
  }

  test("serveTunedBatch serves a batch larger than QuerySetMax whole") {
    import graft.streaming.QueryStream
    // three copies of the corpus under distinct ids: unseen vectors, as
    // a stream delivers them, and more of them than a harvested set holds
    val emb = Tables.embeddings(spark, sfTiny).select("vec_id", "embedding")
    val batch = (0 until 3).map(i => emb.select(
      (col("vec_id") + i * 1000000L).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    val n = batch.count()
    assert(n > SimilarityPack.QuerySetMax)
    val out = QueryStream.serveTunedBatch(spark, sfTiny, batch)
    assert(out.count() == 10 * n)
    assert(out.select("query_id").distinct().count() == n)
  }
}
