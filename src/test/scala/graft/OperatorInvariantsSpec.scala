package graft

import org.apache.spark.sql.functions._

/** Engine-level invariants per operator pack, on the sf0.001 tables.
  * (Value-level correctness is covered by the DuckDB oracle gate; these
  * specs pin the semantic invariants that survive data changes.) */
class OperatorInvariantsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfTiny)

  test("oracle keys map to queries; flagship and invariant inputs have rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // flagship smoke
    assert(SparkEntry.entry(spark).count() > 0)
    // the queries whose invariants are asserted below must be non-empty,
    // or those tests pass vacuously
    for (q <- Seq("w6_offset_assignment", "d2_duplicate_cap",
        "q1_pricing_summary", "n4_topk_cosine", "n1_vector_normalize",
        "m2_artist_split", "t1_daily_stats", "d5_upsert"))
      assert(run(q).count() > 0, s"$q returned no rows at sfTiny")
  }

  test("w6 submission offsets are dense AND unique per key starting at zero") {
    val df = run("w6_offset_assignment")
      .groupBy("l_orderkey")
      .agg(min("submission_offset").as("mn"), max("submission_offset").as("mx"),
        count(lit(1)).as("n"),
        countDistinct(col("submission_offset")).as("u"))
    // uniqueness guard: rank()-style ties would satisfy mn/mx but not u==n
    assert(df.filter(col("mn") =!= 0 || col("mx") =!= col("n") - 1 ||
      col("u") =!= col("n")).count() == 0)
  }

  test("d2 duplicate cap keeps at most 5 events per user") {
    val over = run("d2_duplicate_cap")
      .groupBy("user_id").count().filter(col("count") > 5)
    assert(over.count() == 0)
  }

  test("q1 aggregates are deterministic across runs") {
    val a = run("q1_pricing_summary").collect().map(_.toString).toSeq
    val b = run("q1_pricing_summary").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("dedup: LSH candidates recall the exact-Jaccard near-dup pairs") {
    // drives the [[DedupPack.jaccardPairs]] frame directly: the suite
    // entry retired in r16 (dd_jaccard_prefix is the lossless gated form)
    val exact = operators.DedupPack.jaccardPairs(
        operators.DedupPack.shingledOf(Tables.documents(spark, sfTiny)))
      .select("doc_a", "doc_b")
    val lsh = run("dd_minhash_lsh")
    // with 4x4 banding, P(miss) = (1-J^4)^4: ~12% per pair AT J=0.8, far
    // lower for the higher-J pairs the fixture contains — allow 25%
    val missed = exact.except(lsh).count()
    assert(missed <= math.max(1, (exact.count() * 0.25).toLong),
      s"LSH missed $missed of ${exact.count()} near-dup pairs")
  }

  test("multi-table LSH recall dominates single-table recall per query") {
    // table 0's 4-plane key is a prefix of the single-table 8-plane key
    // (equal 8-bit buckets => equal 4-bit buckets), so the multi-table
    // candidate set is a superset — and any exact-top-10
    // member in a candidate set always survives exact-cosine re-ranking
    // (only globally-higher-cosine candidates can displace it, and there
    // are at most 9 of those). Dominance is therefore an invariant, not a
    // statistical expectation. Computed from the standalone rows since
    // r16 retired the inline single-table columns from the ann_recall
    // monitor (both standalone rows share the same default query set).
    val exact = operators.SimilarityPack.topkExact(spark, sfTiny)
      .select("query_id", "neighbor_id")
    def hitsOf(name: String, as: String) =
      exact.join(run(name).select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as(as))
    val rec = hitsOf("ann_lsh_multitable", "tables")
      .join(hitsOf("ann_lsh_bucketed", "single"), Seq("query_id"), "full")
      .na.fill(0L, Seq("tables", "single")).collect()
    assert(rec.nonEmpty)
    for (r <- rec) {
      val (single, tables) =
        (r.getAs[Long]("single"), r.getAs[Long]("tables"))
      assert(tables >= single,
        s"query ${r.get(0)}: hits_tables $tables < hits_single $single")
    }
    assert(rec.map(_.getAs[Long]("tables")).sum > 0)
  }

  test("clustered corpus: the index prunes 7/8 of the corpus at >=96% recall") {
    // The VERDICT-12 claim, gated: on data WITH cluster structure the
    // Gonzalez-seeded IVF probing nprobe/K = 2/16 = 1/8 of its cells
    // recovers (nearly) the whole exact top-10, and the scanned fraction
    // is IN the row — the 100 TB value of the index family is a measured
    // number here, not an argument. (The unclustered ann_recall monitor
    // needs a 1/2 candidate fraction for 82/100 on the same shapes.)
    val rows = run("ann_clustered_recall").collect()
    assert(rows.length == operators.SimilarityPack.ClusSampleN)
    val hitsIvf = rows.map(_.getAs[Long]("hits_ivf")).sum
    val hitsLsh = rows.map(_.getAs[Long]("hits_lsh")).sum
    val hitsMp = rows.map(_.getAs[Long]("hits_lsh_mp")).sum
    assert(hitsIvf >= 240, s"IVF recall $hitsIvf/250 at 1/8 scan")
    assert(hitsLsh >= 180, s"LSH recall $hitsLsh/250")
    // multiprobe probes a SUPERSET of the base arm's buckets per table,
    // so per-query dominance is an invariant (the survival argument),
    // and the scanned price stays bounded (≤ ~2× the base buckets)
    for (r <- rows) {
      assert(r.getAs[Long]("hits_lsh_mp") >= r.getAs[Long]("hits_lsh"),
        s"query ${r.get(0)}: multiprobe hits below base")
      assert(r.getAs[Long]("scanned_lsh_mp") >=
        r.getAs[Long]("scanned_lsh"))
      assert(r.getAs[Long]("frac_lsh_mp_ppm") <= 500000,
        s"query ${r.get(0)} multiprobe scanned " +
          s"${r.getAs[Long]("frac_lsh_mp_ppm")} ppm")
    }
    assert(hitsMp >= hitsLsh)
    assert(rows.map(_.getAs[Long]("frac_lsh_mp_ppm")).sum
      / rows.length <= 285714, "multiprobe mean scan above 2/7")
    // every query's scanned fraction stays near 1/8 of the corpus
    // (IVF <= 1/6 allows bounded cell imbalance, never a half-corpus
    // probe; LSH buckets are random-plane cuts, so individual queries
    // can union a couple of colliding clusters — bound the MEAN at 1/7
    // and each query at 1/4)
    for (r <- rows) {
      assert(r.getAs[Long]("frac_ivf_ppm") <= 166666,
        s"query ${r.get(0)} IVF scanned ${r.getAs[Long]("frac_ivf_ppm")} ppm")
      assert(r.getAs[Long]("frac_lsh_ppm") <= 250000,
        s"query ${r.get(0)} LSH scanned ${r.getAs[Long]("frac_lsh_ppm")} ppm")
    }
    assert(rows.map(_.getAs[Long]("frac_ivf_ppm")).sum / rows.length <= 142857)
    assert(rows.map(_.getAs[Long]("frac_lsh_ppm")).sum / rows.length <= 142857)
  }

  test("ivf nprobe=2 recall of the exact top-5 dominates nprobe=1 per query") {
    // top-2 cells contain the top-1 cell, so the nprobe=2 candidate set is
    // a superset — the same survival argument as the LSH dominance test
    // makes per-query dominance an invariant, not an expectation
    val exact = run("n4_topk_cosine").filter(col("rank") <= 5)
      .select("query_id", "neighbor_id")
    // nprobe=1 retired from the suite (r14 audit: covered by nprobe=2's
    // oracle) — the dominance invariant drives the frame directly
    def hitsOf(df: org.apache.spark.sql.DataFrame) = df
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    def hits(q: String) = hitsOf(run(q))
    val joined =
      hitsOf(operators.SimilarityPack.ivfTopk(spark, sfTiny, nprobe = 1))
        .as("one")
      .join(hits("ann_ivf_nprobe").as("two"), Seq("query_id"), "full")
      .select(col("query_id"),
        coalesce(col("one.h"), lit(0L)).as("h1"),
        coalesce(col("two.h"), lit(0L)).as("h2"))
      .collect()
    assert(joined.nonEmpty)
    for (r <- joined)
      assert(r.getAs[Long]("h2") >= r.getAs[Long]("h1"),
        s"query ${r.get(0)}: nprobe=2 hits ${r.get(2)} < nprobe=1 ${r.get(1)}")
  }

  test("pq recall of the exact top-10 dominates with a wider shortlist") {
    // a 30-row ADC shortlist is a prefix of the 100-row one (same ADC
    // ordering, wider cut), so the wide candidate set is a superset and
    // the LSH dominance test's survival argument applies — up to one
    // caveat: the re-rank orders by the exact 1e-9-GRID cosine while the
    // reference set (n4_topk_cosine) orders by double cosine, so a pair of
    // candidates whose true cosines differ by ≲1e-9 across the top-10
    // boundary could in principle break per-query dominance. No such tie
    // exists in the fixture corpus (deterministic data, deterministic
    // ranks), so the assertion is exact here, near-invariant in general.
    val exact = run("n4_topk_cosine").select("query_id", "neighbor_id")
    def hits(df: org.apache.spark.sql.DataFrame) = df
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    val narrow = operators.SimilarityPack.pqTopkWith(spark, sfTiny, 30)
    // the wide side is the inline ADC pipeline at its default shortlist
    // (its queries-map anchor retired in the r15 audit)
    val joined = hits(narrow).as("nr")
      .join(hits(operators.SimilarityPack.pqTopk(spark, sfTiny)).as("wd"),
        Seq("query_id"), "full")
      .select(col("query_id"),
        coalesce(col("nr.h"), lit(0L)).as("h1"),
        coalesce(col("wd.h"), lit(0L)).as("h2"))
      .collect()
    assert(joined.nonEmpty)
    for (r <- joined)
      assert(r.getAs[Long]("h2") >= r.getAs[Long]("h1"),
        s"query ${r.get(0)}: shortlist=100 hits ${r.get(2)} < shortlist=30 ${r.get(1)}")
    assert(joined.map(_.getAs[Long]("h2")).sum > 0)
  }

  test("nearest-centroid kernel: highest score wins, exact ties go to the " +
    "LOWER cell whatever the listing order") {
    // the seeded corpora never produce an exact tie, so the rule every ANN
    // trainer shares is pinned on hand-built centroids
    import operators.SimilarityPack.{kmeansCell, nearestCell, pqCell}
    import spark.implicits._
    val v = Seq(Seq(1.0, 2.0, 0.0)).toDF("v")
    def cellOf(c: org.apache.spark.sql.Column): Long =
      v.select(c).head().getLong(0)
    val c = Seq(1.0, 1.0, 0.0)
    for (cents <- Seq(Seq(7L -> c, 3L -> c), Seq(3L -> c, 7L -> c)))
      assert(cellOf(kmeansCell(cents)) == 3L, s"identical centroids $cents")
    assert(cellOf(kmeansCell(Seq(9L -> c))) == 9L, "single centroid")
    assert(cellOf(kmeansCell(Seq(3L -> c, 7L -> Seq(1.0, 2.0, 0.0)))) == 7L,
      "a strictly nearer centroid wins whatever its cell id")
    assert(cellOf(nearestCell(Seq(5L -> lit(1.0), 2L -> lit(1.0),
      1L -> lit(0.5))).getField("cell")) == 2L, "tie on the top score")
    // PQ, subspace 3: x = (1,0,0,0) scores 2·dot − ‖c‖² = 0 against both
    // (2,0,0,0) and (0,0,0,0) — the lower cell wins whichever code it names
    val x = Seq((3, Seq(1L, 0L, 0L, 0L))).toDF("s", "x")
    val (two, zero) = (Seq(2L, 0L, 0L, 0L), Seq(0L, 0L, 0L, 0L))
    for ((lo, hi) <- Seq((two, zero), (zero, two))) {
      val book = Map((3, 11L) -> hi, (3, 5L) -> lo, (0, 1L) -> two)
      assert(x.select(pqCell(book)).head().getLong(0) == 5L,
        s"PQ tie: cell 5 = $lo, cell 11 = $hi")
    }
  }

  test("top-n probe kernel: nearestCells keeps exactly the cells a " +
    "row_number window over (score desc, cell) keeps, and n = 1 is " +
    "nearestCell") {
    // the nearest-centroid fixture above: identical centroids in both
    // listing orders, a raw-score tie, one centroid, no centroids
    import operators.SimilarityPack.{nearestCell, nearestCells}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val v = Seq(Seq(1.0, 2.0, 0.0)).toDF("v")
    val c = Seq(1.0, 1.0, 0.0)
    def cos(cv: Seq[Double]) =
      graft.functions.VectorFunctions.cosine(col("v"), typedLit(cv))
    val fixtures = Seq(
      "identical centroids" -> Seq(7L -> cos(c), 3L -> cos(c)),
      "identical centroids, reversed" -> Seq(3L -> cos(c), 7L -> cos(c)),
      "nearer centroid" -> Seq(3L -> cos(c), 7L -> cos(Seq(1.0, 2.0, 0.0)),
        5L -> cos(c)),
      "raw-score tie" -> Seq(5L -> lit(1.0), 2L -> lit(1.0), 1L -> lit(0.5),
        4L -> lit(0.5), 9L -> lit(1.0)),
      "one centroid" -> Seq(9L -> cos(c)),
      "no centroids" -> Seq.empty[(Long, org.apache.spark.sql.Column)])
    for ((what, cells) <- fixtures; n <- 1 to 4) {
      val got = Option(v.select(nearestCells(cells, n).getField("cell"))
        .head().getSeq[Long](0)).getOrElse(Seq.empty)
      // the probe window the kernel replaced, over one row per cell
      val rows = if (cells.isEmpty) Seq.empty[Long] else v
        .select(explode(array(cells.map { case (cell, score) =>
          struct(lit(cell).as("cell"), score.as("score")) }: _*)).as("c"))
        .select(lit(0).as("q"), col("c.cell"), col("c.score"))
        .withColumn("rn", row_number().over(Window.partitionBy("q")
          .orderBy(col("score").desc, col("cell"))))
        .filter(col("rn") <= n).orderBy("rn").as[(Int, Long, Double, Int)]
        .collect().map(_._2).toSeq
      assert(got == rows, s"$what, n = $n")
    }
    // n = 1 takes greatest, not the sort: the same winner either way
    for ((what, cells) <- fixtures) {
      val one = v.select(nearestCell(cells), nearestCells(cells, 1)(0),
        nearestCells(cells, 4)(0)).head()
      assert(one.get(0) == one.get(1) && one.get(1) == one.get(2), what)
    }
  }

  test("dd_incremental_lsh flags only batch docs against verified corpus matches") {
    import graft.functions.HashFunctions._
    import operators.DedupPack
    val got = run("dd_incremental_lsh")
    val docs = Tables.documents(spark, sfTiny)
    val src = docs.select(col("doc_id"), col("source"))
    // flagged ids are batch docs; their dup_of is never a batch doc
    assert(got.join(src, Seq("doc_id"))
      .filter(col("source") =!= DedupPack.IncrementalBatchSource).count() == 0)
    assert(got.select(col("dup_of").as("doc_id")).join(src, Seq("doc_id"))
      .filter(col("source") === DedupPack.IncrementalBatchSource).count() == 0)
    // one best match per flagged doc; threshold respected
    assert(got.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    assert(got.filter(col("jaccard") < DedupPack.JaccardThreshold).count() == 0)
    // completeness: every (batch, corpus) pair that shares an uncapped band
    // bucket AND clears exact full-set Jaccard must be flagged
    val banded = DedupPack.bandedKeys(docs).join(src, Seq("doc_id"))
    val nb = banded.filter(col("source") === DedupPack.IncrementalBatchSource)
    val cb = banded.filter(col("source") =!= DedupPack.IncrementalBatchSource)
    val uncapped = cb.groupBy("band", "key").count()
      .filter(col("count") <= DedupPack.MaxLshBucket).select("band", "key")
    val sh = docs.select(col("doc_id"),
      wordShingles(col("text"), DedupPack.ShingleN).as("sh"))
    val pairs = nb.select(col("band"), col("key"), col("doc_id"))
      .join(cb.select(col("band"), col("key"), col("doc_id").as("dup_of")),
        Seq("band", "key"))
      .join(uncapped, Seq("band", "key"))
      .select("doc_id", "dup_of").distinct()
      .join(sh.select(col("doc_id"), col("sh").as("sa")), Seq("doc_id"))
      .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sb")),
        Seq("dup_of"))
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("shared").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("shared"))
        >= DedupPack.JaccardThreshold)
    assert(pairs.select("doc_id").distinct()
      .exceptAll(got.select("doc_id")).count() == 0,
      "a batch doc with an in-bucket corpus near-dup was not flagged")
    assert(got.count() > 0, "fixture produced no incremental dups")
  }

  test("dd_incremental_lsh boundaries: empty batch / batch-only corpus") {
    import operators.DedupPack
    // the probe join's two degenerate inputs (Dedup incremental entry):
    // a drop with no arriving batch must flag nothing, and a drop that is
    // ALL batch (no corpus to probe) must flag nothing — both as empty
    // results, not failures
    val docs = Tables.table(spark, sfTiny, "documents")
    def fixture(pred: org.apache.spark.sql.Column): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_inc_lsh_boundary").toString
      docs.filter(pred).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      dir
    }
    val corpusOnly = fixture(
      col("source") =!= DedupPack.IncrementalBatchSource)
    val batchOnly = fixture(
      col("source") === DedupPack.IncrementalBatchSource)
    assert(SparkEntry.queries("dd_incremental_lsh")(spark, corpusOnly)
      .count() == 0, "empty batch must yield no flagged docs")
    assert(SparkEntry.queries("dd_incremental_lsh")(spark, batchOnly)
      .count() == 0, "batch-only corpus must yield no flagged docs")
  }

  test("dd_semantic_dedup removes exactly the within-cell near-dups, keep-lowest-id") {
    import graft.functions.VectorFunctions._
    import operators.SimilarityPack
    val got = run("dd_semantic_dedup")
    // one row per removed vector; dup_of strictly smaller; threshold holds
    assert(got.filter(col("dup_of") >= col("vec_id")).count() == 0)
    assert(got.groupBy("vec_id").count().filter(col("count") > 1).count() == 0)
    assert(got.filter(col("cosine") < SimilarityPack.NearDupCosine).count() == 0)
    // ground truth: brute-force pairs within the TRAINED cells (cells at
    // sfTiny are far below the hot-cell cap, so equality is exact)
    val a1 = SimilarityPack.kmeansTrain(spark, sfTiny)._2
      .withColumn("nrm", l2Norm(col("v")))
    val bb = a1.select(col("cell"), col("vec_id").as("doc_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a1.select(col("cell"), col("vec_id").as("doc_a"),
        col("v").as("va"), col("nrm").as("na"))
      .join(bb, Seq("cell"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= SimilarityPack.NearDupCosine)
    val want = pairs.groupBy(col("doc_b")).agg(min(col("doc_a")).as("dup_of"))
      .select(col("doc_b").as("vec_id"), col("dup_of"))
    assert(got.select("vec_id", "dup_of").exceptAll(want).count() == 0,
      "removed a vector no smaller-id cell-mate justifies")
    assert(want.exceptAll(got.select("vec_id", "dup_of")).count() == 0,
      "kept a vector that has a smaller-id near-dup in its cell")
    assert(got.count() > 0, "fixture produced no semantic dups")
  }

  test("dd_embedding_lsh emits exactly the in-bucket near-dup pairs") {
    import graft.functions.VectorFunctions._
    import operators.{DedupPack, SimilarityPack}
    val threshold = SimilarityPack.NearDupCosine
    val got = run("dd_embedding_lsh")
    // ordered pairs, threshold respected
    assert(got.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(got.filter(col("cosine") < threshold).count() == 0)
    // brute-force ground truth at sfTiny: all pairs >= threshold, plus each
    // side's LSH bucket (same plane family as the engine)
    val hp = lshHyperplanes(SimilarityPack.LshPlanes, SimilarityPack.Dim)
    val emb = Tables.embeddings(spark, sfTiny)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("bucket", lshBucket(col("v"), hp))
    val b = emb.select(col("vec_id").as("doc_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket").as("bb"))
    val brute = emb.select(col("vec_id").as("doc_a"), col("v").as("va"),
        col("nrm").as("na"), col("bucket").as("ba"))
      .join(b, col("doc_a") < col("doc_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
    // precision: every emitted pair really is >= threshold (unrounded)
    assert(got.select("doc_a", "doc_b")
      .exceptAll(brute.select("doc_a", "doc_b")).count() == 0,
      "emitted a pair below the true threshold")
    // completeness: every qualifying pair whose docs share an uncapped
    // bucket is emitted — a silent candidate drop cannot pass this
    val bucketSizes = emb.groupBy(col("bucket")).count()
      .filter(col("count").between(2, DedupPack.MaxLshBucket))
      .select(col("bucket").as("ba"))
    val wanted = brute.filter(col("ba") === col("bb"))
      .join(bucketSizes, Seq("ba"), "left_semi")
      .select("doc_a", "doc_b")
    assert(wanted.exceptAll(got.select("doc_a", "doc_b")).count() == 0,
      "missed an in-bucket pair above the threshold")
    assert(wanted.count() > 0, "completeness check is vacuous at sfTiny")
  }

  test("pipe_corpus_prep survivors pass every stage's postcondition") {
    val out = run("pipe_corpus_prep")
    assert(out.count() > 0, "pipeline dropped the whole corpus at sfTiny")
    // quality gate held
    assert(out.filter(col("n_tokens") < operators.PipelinePack.MinTokens)
      .count() == 0)
    // survivor ids unique, and exact-dedup held: no two survivors share text
    assert(out.select("doc_id").distinct().count() == out.count())
    val texts = out.join(Tables.documents(spark, sfTiny), Seq("doc_id"))
      .select("text")
    assert(texts.distinct().count() == texts.count(),
      "two surviving documents share identical text")
  }

  test("simhash block banding finds every pair within the hamming bound") {
    // pigeonhole completeness: every pair with hamming <= 3 shares a block
    val sigs = Tables.documents(spark, sfTiny)
      .select(col("doc_id"),
        graft.functions.HashFunctions.simhashBits(col("text")).as("sh"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
    val exact = a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        call_function("hamming_distance", col("sa"), col("sb")).cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
    val banded = run("dd_simhash_pairs")
    assert(exact.exceptAll(banded).count() == 0,
      "banding missed a pair within the hamming bound")
    assert(banded.exceptAll(exact).count() == 0,
      "banding emitted a pair beyond the hamming bound")
  }

  test("d5 upsert actions partition the key space correctly") {
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val ev = Tables.events(spark, sfTiny)
    val before = ev.filter(col("ts") < cut).select("user_id").distinct()
    val after = ev.filter(col("ts") >= cut).select("user_id").distinct()
    val d5 = run("d5_upsert")
    assert(d5.filter(col("action") === "insert")
      .join(before, "user_id", "left_semi").count() == 0)
    assert(d5.filter(col("action") === "keep")
      .join(after, "user_id", "left_semi").count() == 0)
    assert(d5.count() == before.union(after).distinct().count())
  }

  test("n4 top-k neighbours are unique per query and rank-dense") {
    val df = run("n4_topk_cosine")
    val byQuery = df.groupBy("query_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("neighbor_id")).as("u"),
        min("rank").as("mn"), max("rank").as("mx"),
        countDistinct(col("rank")).as("ur"))
    // ur==n rejects rank()-style duplicate/skipped ranks, not just bounds
    assert(byQuery.filter(col("n") =!= col("u") || col("mn") =!= 1 ||
      col("mx") =!= col("n") || col("ur") =!= col("n")).count() == 0)
  }

  test("n1 normalization yields ~zero mean and ~unit std per dimension") {
    val stats = run("n1_vector_normalize")
      .groupBy("pos")
      .agg(avg("norm_val").as("m"), stddev_pop(col("norm_val")).as("sd"))
      .filter(abs(col("m")) > 1e-9 || abs(col("sd") - 1.0) > 1e-6)
    assert(stats.count() == 0)
  }

  test("m2 split puts exactly one doc per (class, source) group into train") {
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "source")
    val split = run("m2_artist_split")
    val perGroup = split.join(docs, "doc_id")
      .filter(col("split") === "train")
      .groupBy("class", "source").count()
    assert(perGroup.filter(col("count") =!= 1).count() == 0)
  }

  test("m2 split keeps NULL (class, source) rows as their own group") {
    // The oracle's PARTITION BY lang, source window puts NULL-keyed rows
    // in one partition of their own; the broadcast-min rewrite must match
    // (null-safe join keys — a plain equi-join would DROP these rows from
    // both splits, ADVICE r15). Reference data is non-null here, so this
    // contract needs a synthetic corpus.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_m2_null").toString
    Seq((1L, "en", "web"), (2L, "en", "web"),
        (3L, null, null), (4L, null, null), (5L, "fr", null))
      .asInstanceOf[Seq[(Long, String, String)]]
      .toDF("doc_id", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("m2_artist_split")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    // no row vanishes, and each group — including the NULL ones — has
    // exactly one train member (hash-order min: doc 3 of {3,4}, doc 5 solo)
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(Seq(3L, 4L).count(out(_) == "train") == 1)
    assert(out(5L) == "train")
  }

  test("t1 cumulative count ends at total event count") {
    val t1 = run("t1_daily_stats")
    val last = t1.orderBy(col("day").desc).limit(1)
      .select("cum_n").collect()(0).getLong(0)
    assert(last == Tables.events(spark, sfTiny).count())
  }

  test("connected components: min-label fixpoint on a path needs >1 hop") {
    import spark.implicits._
    // path 10-11-...-17 (diameter 7 forces several propagation rounds),
    // a triangle {30,31,32}, an isolated edge (50,51)
    val edges = ((10L to 16L).map(i => (i, i + 1)) ++
      Seq((30L, 31L), (31L, 32L), (30L, 32L), (50L, 51L)))
      .toDF("doc_a", "doc_b")
    val got = operators.DedupPack.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ((10L to 17L).map(_ -> 10L) ++
      (30L to 32L).map(_ -> 30L) ++ Seq(50L -> 50L, 51L -> 50L)).toMap
    assert(got == want)
  }

  test("connected components: a 50-link chain exceeds the propagation cap " +
    "and COMPLETES via the large-star/small-star fallback") {
    import spark.implicits._
    // min-label propagation is O(diameter); near-dup graphs (clique unions
    // from LSH buckets) have tiny diameters, so a 50-link chain is outside
    // the propagation's shape contract. Since round 10 the cap is a cheap
    // restart into the diameter-independent LSS decomposition, not a
    // fatal throw — the same labels come back whichever algorithm ran.
    // (The lower test ceiling keeps the spec from grinding checkpointed
    // propagation iterations before the handoff.)
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = operators.DedupPack
      .connectedComponents(chain, maxIters = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(labels == (0L to 50L).map(i => (i, 0L)),
      s"fallback labels wrong: $labels")
  }

  test("ev_asof_join: every match is the latest view at or before the click") {
    val asof = run("ev_asof_join")
    assert(asof.count() > 0)
    // matched views never postdate their click
    assert(asof.filter(col("view_ts") > col("click_ts")).count() == 0)
    // no view event between the matched view and the click for that user
    val views = Tables.events(spark, sfTiny)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
    val gaps = asof.filter(col("view_id").isNotNull).join(views, "user_id")
      .filter(col("v_ts") > col("view_ts") && col("v_ts") <= col("click_ts"))
    assert(gaps.count() == 0)
  }

  test("ivfpq recall never exceeds its own pruning baseline, per query") {
    // IVF-PQ's candidates are exactly tuned-IVF's (same cells, same
    // probes); ADC shortlisting can only LOSE true neighbours relative to
    // full-precision scoring of those candidates, and the exact re-rank
    // restores order within the shortlist — so per query
    // hits_ivfpq <= hits_ivf_tuned, with equality when the shortlist is
    // wide enough (the tuned IvfPqShortlist). A violation would mean the
    // composition scored candidates outside its probed cells.
    val r = run("ann_recall")
    assert(r.count() > 0)
    assert(r.filter(col("hits_ivfpq") > col("hits_ivf_tuned")).count() == 0)
    // all monitors are bounded by the exact contract's k
    val hitCols = r.columns.filter(_.startsWith("hits_"))
    for (c <- hitCols)
      assert(r.filter(col(c) > 10).count() == 0, s"$c exceeds k")
  }

  test("n1_incremental: above-watermark slice, stats from existing rows only") {
    val inc = run("n1_incremental")
    val emb = Tables.embeddings(spark, sfTiny)
    val maxId = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
    // the batch is exactly the 50 ids above the watermark — the id-domain
    // analogue of a ledger window's (start, end] slice contract
    val ids = inc.select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(ids == ((maxId - 49) to maxId).toSet)
    // normalization uses the EXISTING slice's stats, not the full-corpus
    // stats: the same ids normalized by n1_vector_normalize (full-corpus
    // stats) must differ somewhere, or the watermark split is vacuous
    val full = run("n1_vector_normalize")
      .filter(col("vec_id") > maxId - 50)
    assert(inc.count() == full.count())
    assert(inc.exceptAll(full).count() > 0)
  }

  test("dd_contamination flags only above-threshold non-eval docs") {
    val flagged = run("dd_contamination")
    assert(flagged.count() > 0, "fixture plants eval near-dups; none found")
    assert(flagged.filter(col("n_hits") > col("n_shingles")).count() == 0)
    assert(flagged.filter(
      col("overlap") < operators.DedupPack.ContaminationThreshold)
      .count() == 0)
    // the eval shard itself is never scored against itself
    val evalIds = Tables.documents(spark, sfTiny)
      .filter(col("source") === operators.DedupPack.ContaminationEvalSource)
      .select("doc_id")
    assert(flagged.join(evalIds, Seq("doc_id"), "left_semi").count() == 0)
  }

  test("pipe_pack_sequences: bins partition docs in contiguous id runs") {
    val packed = run("pipe_pack_sequences")
    // every document lands in exactly one bin
    assert(packed.count() == Tables.documents(spark, sfTiny).count())
    assert(packed.select("doc_id").distinct().count() == packed.count())
    // positions are dense 1..n within each (source, bin)
    val posChk = packed.groupBy("source", "bin")
      .agg(count(lit(1)).as("n"), min("bin_pos").as("lo"),
        max("bin_pos").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(posChk.count() == 0)
    // streaming pack ⇒ bins are contiguous doc_id runs per source: a
    // bin's highest id precedes the next non-empty bin's lowest id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin")
    val runs = packed.groupBy("source", "bin")
      .agg(min("doc_id").as("lo_id"), max("doc_id").as("hi_id"))
      .withColumn("next_lo", lead(col("lo_id"), 1).over(w))
      .filter(col("next_lo").isNotNull && col("hi_id") >= col("next_lo"))
    assert(runs.count() == 0)
    // stats view agrees with the packing it summarizes
    val stats = run("pipe_pack_stats")
    val fromPacked = packed.groupBy("source", "bin")
      .agg(sum("n_tokens").as("bin_tokens"))
    val joined = stats.join(fromPacked, Seq("source", "bin"))
      .filter(stats("bin_tokens") =!= fromPacked("bin_tokens"))
    assert(joined.count() == 0 && stats.count() == fromPacked.count())
  }

  test("ev_sessionize: sessions partition events; durations within bounds") {
    val sess = run("ev_sessionize")
    // every event lands in exactly one session
    val total = sess.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sfTiny).count())
    // non-negative duration; a session's span is bounded by gap*(n-1)
    assert(sess.filter(col("duration_us") < 0).count() == 0)
    assert(sess.filter(col("duration_us") >
      (col("n_events") - 1) * operators.EventsPack.SessionGapUs).count() == 0)
  }

  test("tx_pii_scrub: every injected PII instance is found and removed") {
    val df = run("tx_pii_scrub")
    assert(df.count() == Tables.documents(spark, sfTiny).count())
    // injection guarantees >= 1 of each per row
    assert(df.filter(col("n_emails") < 1 || col("n_phones") < 1 ||
      col("n_ips") < 1).count() == 0)
    // scrub is complete: no pattern matches what it itself produced
    for (p <- Seq(operators.TextPack.PiiEmail, operators.TextPack.PiiPhone,
        operators.TextPack.PiiIpv4))
      assert(df.filter(col("scrubbed").rlike(p)).count() == 0,
        s"pattern $p still matches scrubbed text")
  }

  test("tx_ngram_topk: at most K rows, counts non-increasing, mass sane") {
    val rows = run("tx_ngram_topk").collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val counts = rows.map(_.getAs[Long]("cnt")).toSeq
    assert(counts == counts.sorted.reverse, "counts must be non-increasing")
    // every top bigram occurs at least as often as any absent bigram could
    assert(counts.last >= 1)
  }

  test("pipe_domain_mix: kept set matches stats; binding language keeps all") {
    import operators.PipelinePack.{MixDen, MixScale, MixWeights}
    val stats = run("pipe_domain_mix_stats").collect()
    assert(stats.map(_.getAs[String]("lang")).toSet ==
      MixWeights.map(_._1).toSet)
    // the row query and the stats query agree on the kept count
    assert(run("pipe_domain_mix").count() ==
      stats.map(_.getAs[Long]("n_kept")).sum)
    for (r <- stats) {
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_total"))
      assert(r.getAs[Long]("thresh") <= MixScale)
    }
    // the language scarcest relative to its weight binds the mixture: its
    // threshold is the full hash range, so it keeps every row
    val binding = stats.minBy(r =>
      r.getAs[Long]("n_total") * MixDen / r.getAs[Long]("wt"))
    assert(binding.getAs[Long]("thresh") == MixScale)
    assert(binding.getAs[Long]("n_kept") == binding.getAs[Long]("n_total"))
    // hash-threshold sampling: achieved counts track thresh/2^32 · n
    for (r <- stats) {
      val exp = r.getAs[Long]("thresh").toDouble / MixScale *
        r.getAs[Long]("n_total")
      assert(math.abs(r.getAs[Long]("n_kept") - exp) <=
        5 * math.sqrt(exp max 1) + 1,
        s"${r.getAs[String]("lang")}: kept ${r.getAs[Long]("n_kept")} " +
          s"vs expected $exp")
    }
  }

  test("tx_chunk_windows: chunk count and widths follow the stride formula") {
    import graft.functions.TextFunctions.tokenCount
    import operators.TextPack.{ChunkLen, ChunkStride}
    val ch = run("tx_chunk_windows").cache()
    // widths: every chunk holds 1..ChunkLen tokens, and its declared width
    // matches its text
    assert(ch.filter(col("n_chunk_toks") < 1 ||
      col("n_chunk_toks") > ChunkLen).count() == 0)
    assert(ch.filter(size(split(col("chunk_text"), " ")) =!=
      col("n_chunk_toks")).count() == 0)
    // count: a doc with n tokens yields (n-1) div stride + 1 chunks,
    // indexed densely from 0
    val perDoc = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"),
      max("chunk_idx").as("max_idx"))
    val n1 = tokenCount(col("text")) - 1
    val expected = Tables.documents(spark, sfTiny).select(col("doc_id"),
      ((n1 - pmod(n1, lit(ChunkStride))) / ChunkStride + 1)
        .cast("long").as("want"))
      .filter(tokenCount(col("text")) >= 1)
    val j = perDoc.join(expected, "doc_id")
    assert(j.filter(col("n_chunks") =!= col("want")).count() == 0)
    assert(j.filter(col("max_idx") =!= col("want") - 1).count() == 0)
    ch.unpersist()
  }

  test("kmeans trainSample: identity below cap, ~n/K deterministic rows above") {
    import operators.SimilarityPack
    val emb = Tables.embeddings(spark, sfTiny).select(col("vec_id"))
    val n = emb.count()
    // below the cap the modulus is 1: the gate is exact identity
    assert(SimilarityPack.trainSample(emb).count() == n)
    // above: K = n div cap, membership by id-hash modulus — deterministic
    val cap = 20L
    val s1 = SimilarityPack.trainSample(emb, cap)
      .collect().map(_.getLong(0)).toSet
    val s2 = SimilarityPack.trainSample(emb, cap)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < n)
    val k = math.max(1L, n / cap)
    val exp = n.toDouble / k
    assert(math.abs(s1.size - exp) <= 5 * math.sqrt(exp) + 1,
      s"sampled ${s1.size} of $n, expected ~$exp (K=$k)")
  }

  test("mm_resize_bmp: thumbnail dims halve and hex length matches; garbage → sentinel") {
    import graft.multimodal.BinaryColumns
    val df = run("mm_resize_bmp").cache()
    // no sentinel rows on encoder-built payloads
    assert(df.filter(col("out_w") === 0 || col("out_h") === 0).count() == 0)
    assert(df.filter(length(col("out_hex")) =!=
      col("out_w") * col("out_h") * 6).count() == 0)
    df.unpersist()
    // a truncated / non-BMP payload must yield the sentinel, not a crash
    val junk = Tables.documents(spark, sfTiny).limit(3)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
    val thumbs = BinaryColumns.resizeBmp(spark, junk).collect()
    assert(thumbs.length == 3 &&
      thumbs.forall(t => t.out_w == 0 && t.out_h == 0 && t.out_hex.isEmpty))
  }

  test("mm_frame_sample: every 4th 32-byte frame, reassembly covers the prefix") {
    val df = run("mm_frame_sample").cache()
    // frame 0 is the payload's first 32 bytes for every non-empty doc
    val docs = Tables.documents(spark, sfTiny).filter(length(col("text")) > 0)
    assert(df.filter(col("sample_pos") === 0).count() == docs.count())
    val joined = df.filter(col("sample_pos") === 0)
      .join(docs.select(col("doc_id").as("media_id"), col("text")), "media_id")
    assert(joined.filter(col("frame_text") =!=
      substring(col("text"), 1, 32)).count() == 0)
    // only full or final-partial frames
    assert(df.filter(col("frame_bytes") < 1 ||
      col("frame_bytes") > 32).count() == 0)
    df.unpersist()
  }

  test("s11 dataset-tables round-trip: member rows cover every document") {
    val df = run("s11_dataset_tables_roundtrip").cache()
    val docs = Tables.documents(spark, sfTiny)
    assert(df.filter(col("tbl") === "dataset_member").count() == docs.count())
    // one dataset row per distinct source; class rows = distinct pairs
    assert(df.filter(col("tbl") === "dataset").count() ==
      docs.select("source").distinct().count())
    assert(df.filter(col("tbl") === "dataset_class").count() ==
      docs.select("source", "lang").distinct().count())
    df.unpersist()
  }

  test("m4_train_eval: confusion matrix partitions the test split; " +
    "best params come from the declared grid") {
    // bench-profile grid (2 combos) — the full 360-combo sweep is the
    // driver gate's job at sf0.01; this pins the end-to-end path
    System.setProperty("graft.bench.profile", "true")
    try {
      val df = run("m4_train_eval").cache()
      val rows = df.collect()
      assert(rows.nonEmpty)
      // confusion-matrix counts sum to the test-split size
      val testN = Tables.embeddings(spark, sfTiny)
        .filter(col("vec_id") % 5 === 0).count()
      assert(rows.map(_.getAs[Long]("n")).sum == testN)
      assert(rows.forall(_.getAs[Long]("grid_size") == 2L))
      assert(rows.forall(_.getAs[String]("best_arm") == "svm_rbf"))
      // winning params are members of the reference lattice
      val c = rows.head.getAs[Double]("best_c")
      val g = rows.head.getAs[Double]("best_gamma")
      assert(math.abs(math.log(c) / math.log(2.0) -
        math.round(math.log(c) / math.log(2.0))) < 1e-9)
      assert(math.abs(math.log(g) / math.log(2.0) -
        math.round(math.log(g) / math.log(2.0))) < 1e-9)
      // deterministic: a second run yields the identical frame
      val again = run("m4_train_eval").collect()
      assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
      df.unpersist()
    } finally System.clearProperty("graft.bench.profile")
  }

  test("m4_train_eval GOLDEN: the full-grid run at gate scale is a fixed " +
    "value — exact confusion matrix, winning (C, gamma, prep), CV accuracy") {
    // The SMO solver is deterministic by construction (stable vec_id row
    // order, analytic two-variable steps), so its output on a fixed
    // corpus is ONE exact answer — pinned here byte-for-byte, which
    // closes m4's unverified remainder down to the solver internals: the
    // split is m4_split_sizes' oracle, the kernel m4_rbf_kernel's, the
    // vote argmax m4_ovo_votes', and the end-to-end matrix THIS pin. A
    // solver change that alters any prediction flips the md5.
    // Scope: deterministic per HOST class — the kernel runs through
    // Math.exp, a JVM intrinsic whose last ulp may differ across
    // CPU/JDK families, so a decision value within ulps of 0 could in
    // principle predict differently elsewhere (the same class of caveat
    // m4_rbf_kernel's 8-decimal rounding absorbs for its oracle). The
    // gate and this suite run in the same container; if the pin ever
    // trips on a new host with an UNCHANGED solver, re-harvest the
    // constants rather than suspecting a regression.
    val rows = run("m4_train_eval").collect()
    // host-class-independent shape asserts first
    assert(rows.length == 58)
    assert(rows.head.getAs[Long]("grid_size") == 360L)
    // Host-class gate (ADVICE r12): the exact pins below are only claimed
    // where Math.exp produces the SAME BITS the constants were harvested
    // under. The probe hashes exp's bit patterns over a fixed lattice —
    // any libm/intrinsic difference that could flip a near-zero decision
    // value flips the probe first. On a foreign host class the test keeps
    // tolerance-grade asserts (winner in-lattice, accuracy within ulp
    // slack) instead of false-flagging an unchanged solver.
    val probe = (0 until 256).map(i => java.lang.Double.doubleToLongBits(
      Math.exp(-i / 17.0))).foldLeft(0L)((a, b) => a * 1099511628211L + b)
    val harvestHostClass = probe == 1638089683766848796L
    if (harvestHostClass) {
      assert(rows.head.getAs[Double]("best_c") == 512.0)
      assert(rows.head.getAs[Double]("best_gamma") == 0.00048828125) // 2^-11
      assert(rows.head.getAs[String]("best_prep") == "normalized")
      assert(rows.head.getAs[Double]("cv_accuracy") == 0.115)
      val body = rows.map(r => s"${r.getAs[Long]("label")}:" +
        s"${r.getAs[Long]("predicted")}:${r.getAs[Long]("n")}").mkString(";")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(body.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      assert(hex == "880e3b8673ecadbe45cd6492aecddd8c",
        s"confusion matrix drifted: md5=$hex body=$body")
    } else {
      info(s"foreign Math.exp host class (probe=$probe): tolerance asserts")
      val c = rows.head.getAs[Double]("best_c")
      val g = rows.head.getAs[Double]("best_gamma")
      assert(math.abs(math.log(c) / math.log(2.0) -
        math.round(math.log(c) / math.log(2.0))) < 1e-9)
      assert(math.abs(math.log(g) / math.log(2.0) -
        math.round(math.log(g) / math.log(2.0))) < 1e-9)
      // 0.115 = 23/200 CV hits; allow ±2 flipped folds of ulp drift
      assert(math.abs(rows.head.getAs[Double]("cv_accuracy") - 0.115) <=
        2.0 / 200.0 + 1e-12)
      assert(rows.map(_.getAs[Long]("n")).sum ==
        Tables.embeddings(spark, sfTiny).filter(col("vec_id") % 5 === 0)
          .count())
    }
  }

  test("pipe_quality_gate/funnel: cascade partitions the corpus, every " +
    "rule fires, funnel reconciles with the per-doc gate") {
    val docs = Tables.documents(spark, sfTiny).count()
    val gate = run("pipe_quality_gate").cache()
    // one verdict per document; keep <=> reason 'kept'
    assert(gate.count() == docs)
    assert(gate.filter(col("keep") =!= (col("reason") === "kept"))
      .count() == 0)
    val funnel = run("pipe_quality_funnel").collect()
    val byReason = funnel.map(r =>
      r.getAs[String]("reason") -> r.getAs[Long]("n_docs")).toMap
    // thresholds are tuned so EVERY rule kills something at the fixture —
    // a silent rule is an untested rule
    assert(byReason.keySet ==
      Set("kept", "too_short", "too_long", "low_stopword", "repetitive"))
    assert(byReason.values.forall(_ > 0) && byReason.values.sum == docs)
    // funnel rows are exactly the gate's grouped counts
    val grouped = gate.groupBy("reason").count().collect()
      .map(r => r.getAs[String]("reason") -> r.getAs[Long]("count")).toMap
    assert(grouped == byReason)
    gate.unpersist()
  }

  test("pipe_leak_safe_split: no near-dup pair straddles the train/val " +
    "boundary; sides partition the corpus") {
    import operators.DedupPack
    val docs = Tables.documents(spark, sfTiny)
    val split = run("pipe_leak_safe_split").cache()
    assert(split.count() == docs.count())
    val sides = split.select(col("doc_id"), col("side"))
    // the operator's contract: every MinHash-LSH candidate pair lands on
    // ONE side (this is what hash-splitting on the raw doc id violates)
    val pairs = DedupPack.minhashPairs(docs)
    assert(pairs.count() > 0, "no near-dup pairs at sfTiny — vacuous")
    val straddle = pairs
      .join(sides.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("side", "side_a"), Seq("doc_a"))
      .join(sides.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("side", "side_b"), Seq("doc_b"))
      .filter(col("side_a") =!= col("side_b"))
    assert(straddle.count() == 0)
    // both sides materially populated (split fraction is sane)
    val bySide = split.groupBy("side").count().collect()
      .map(r => r.getAs[String]("side") -> r.getAs[Long]("count")).toMap
    assert(bySide.keySet == Set("train", "val") &&
      bySide.values.forall(_ > 0))
    split.unpersist()
  }

  test("pipe_leak_safe_split: assignments are stable under corpus growth " +
    "(side is a function of the group key alone)") {
    import operators.PipelinePack
    val docs = Tables.documents(spark, sfTiny)
    // grow the corpus: a prefix slice vs the full fixture (new docs have
    // strictly higher ids, the ingest pattern)
    val cut = 350L
    val sub = PipelinePack.leakSafeSplitOf(docs.filter(col("doc_id") < cut))
      .select(col("doc_id"), col("grp").as("g1"), col("side").as("s1"))
    val full = PipelinePack.leakSafeSplitOf(docs)
      .select(col("doc_id"), col("grp").as("g2"), col("side").as("s2"))
    val j = sub.join(full, Seq("doc_id")).cache()
    // a doc whose component rep did not change keeps its side — growth
    // can never reshuffle the split (what corpus-size-dependent hashing
    // would break, and why eval sets stay valid across ingest)
    assert(j.filter(col("g1") === col("g2") && col("s1") =!= col("s2"))
      .count() == 0)
    // reps are min-ids: growth can only MERGE components, never raise a
    // surviving doc's rep
    assert(j.filter(col("g2") > col("g1")).count() == 0)
    // non-vacuous: the prefix overlaps the full corpus with unchanged groups
    assert(j.filter(col("g1") === col("g2")).count() > 0)
    j.unpersist()
  }

  test("tx_unigram_ppl: one verdict per doc, surprisal positive, every " +
    "bucket populated, token counts agree with tx_token_stats") {
    val ppl = run("tx_unigram_ppl").cache()
    val docs = Tables.documents(spark, sfTiny).count()
    assert(ppl.count() == docs)
    assert(ppl.filter(col("mean_nll") <= 0).count() == 0)
    val buckets = ppl.groupBy("bucket").count().collect()
      .map(r => r.getAs[String]("bucket") -> r.getAs[Long]("count")).toMap
    assert(buckets.keySet == Set("head", "middle", "tail") &&
      buckets.values.forall(_ > 0))
    val toks = run("tx_token_stats").select(col("doc_id"),
      col("n_tokens").as("nt2"))
    assert(ppl.join(toks, Seq("doc_id"))
      .filter(col("n_tokens") =!= col("nt2")).count() == 0)
    ppl.unpersist()
  }

  test("tx_bm25_topk: dense positive-score top-K per document, " +
    "non-increasing within a document") {
    import operators.TextPack
    val kw = run("tx_bm25_topk").cache()
    val perDoc = kw.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("rank").as("mn"), max("rank").as("mx"),
        countDistinct(col("rank")).as("u"))
    // every fixture doc has >= K distinct tokens, so exactly K dense ranks
    assert(perDoc.filter(col("n") =!= TextPack.Bm25TopK ||
      col("mn") =!= 1 || col("mx") =!= TextPack.Bm25TopK ||
      col("u") =!= col("n")).count() == 0)
    assert(kw.filter(col("score") <= 0).count() == 0)
    // rank order implies score order (ties broken by token, never by rank
    // inversion)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("rank")
    assert(kw.withColumn("prev", lag(col("score"), 1).over(w))
      .filter(col("prev").isNotNull && col("score") > col("prev"))
      .count() == 0)
    kw.unpersist()
  }

  test("tx_boilerplate: one row per doc, fraction within [0,1], " +
    "boilerplate non-vacuous at the fixture") {
    val b = run("tx_boilerplate").cache()
    assert(b.count() == Tables.documents(spark, sfTiny).count())
    assert(b.filter(col("n_boiler") > col("n_shingles") ||
      col("boiler_frac") < 0 || col("boiler_frac") > 1).count() == 0)
    assert(b.filter(col("n_boiler") > 0).count() > 0,
      "no boilerplate shingles at sfTiny — threshold is vacuous")
    b.unpersist()
  }

  test("dd_exact_substr: every span of an exact-duplicate doc is shared; " +
    "fractions bounded; coverage complete") {
    val spans = run("dd_exact_substr").cache()
    assert(spans.count() == Tables.documents(spark, sfTiny).count())
    assert(spans.filter(col("n_dup_spans") > col("n_spans") ||
      col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    // sharing is mutual: a cross-doc span lives in >= 2 documents, so
    // flagged documents can never be a singleton set
    val flagged = spans.filter(col("n_dup_spans") > 0).count()
    assert(flagged >= 2, s"$flagged flagged docs — sharing must be mutual")
    spans.unpersist()
  }

  test("ev_retention: day-0 retention is total, cells bounded by cohort " +
    "size, cohorts partition the user base") {
    val r = run("ev_retention").cache()
    // every user is active on their first day: offset-0 cells saturate
    val day0 = r.filter(col("day_offset") === 0)
    assert(day0.count() > 0)
    assert(day0.filter(col("n_active") =!= col("cohort_n") ||
      col("retention_permille") =!= 1000).count() == 0)
    assert(r.filter(col("n_active") > col("cohort_n") ||
      col("day_offset") < 0).count() == 0)
    // cohort sizes sum to the distinct user count
    val users = Tables.events(spark, sfTiny)
      .select("user_id").distinct().count()
    val cohortTotal = r.select("cohort_day", "cohort_n").distinct()
      .agg(sum("cohort_n")).head().getLong(0)
    assert(cohortTotal == users)
    r.unpersist()
  }

  test("tx_source_quality: per-source totals reconcile with the gate " +
    "funnel and the corpus") {
    val sq = run("tx_source_quality").cache()
    val docs = Tables.documents(spark, sfTiny)
    assert(sq.count() == docs.select("source").distinct().count())
    val agg = sq.agg(sum("n_docs"), sum("n_kept")).head()
    assert(agg.getLong(0) == docs.count())
    // total kept across sources = the funnel's kept row
    val kept = run("pipe_quality_funnel")
      .filter(col("reason") === "kept").head().getAs[Long]("n_docs")
    assert(agg.getLong(1) == kept)
    assert(sq.filter(col("kept_permille") < 0 ||
      col("kept_permille") > 1000 || col("mean_nll_avg") <= 0)
      .count() == 0)
    sq.unpersist()
  }

  test("tx_source_drift: one row per source, L1 within its exact bounds") {
    val drift = run("tx_source_drift").cache()
    val sources = Tables.documents(spark, sfTiny)
      .select("source").distinct().count()
    assert(drift.count() == sources)
    // L1 distance between two distributions lies in [0, 2] — ppm-scaled
    assert(drift.filter(col("l1_ppm") < 0 || col("l1_ppm") > 2000000L)
      .count() == 0)
    // non-degenerate: at least one source measurably drifts
    assert(drift.filter(col("l1_ppm") > 0).count() > 0)
    drift.unpersist()
  }

  test("tx_bpe_merges reproduces an independent reference BPE on the " +
    "classic constructed corpus (greedy rewrite, tie-breaks, counts)") {
    import spark.implicits._
    // Sennrich et al.'s canonical example vocabulary, as documents
    val docs = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val got = operators.TextPack.bpeMerges(docs, 6).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    // independent driver-side reference of the same contract
    var words: Map[Vector[String], Long] = Map(
      "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
      .map { case (w, f) => w.toVector.map(_.toString) -> f }
    def mergeGreedy(sy: Vector[String], l: String, r: String): Vector[String] =
      sy.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r)
          acc.init :+ (l + r)
        else acc :+ x
      }
    val want = (1 to 6).map { k =>
      val pairs = words.toSeq.flatMap { case (sy, f) =>
        sy.zip(sy.tail).map(p => p -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      val ((l, r), c) = pairs.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      words = words.map { case (sy, f) => mergeGreedy(sy, l, r) -> f }
      (k.toLong, l, r, c)
    }
    assert(got == want, s"got $got want $want")
    // the reference fold works on symbol VECTORS while the operator's
    // works on a separator-joined string — equality pins that the
    // separator-anchored "tail symbol is exactly lhs" test preserves
    // canonical greedy semantics. Non-vacuity: at least one merge
    // consumes an already-merged (multi-char) symbol
    assert(want.exists(m => m._2.length > 1 || m._3.length > 1))
  }

  test("bpeMerges driver-local loop equals the distributed per-round path " +
    "merge-for-merge on a tie-heavy corpus") {
    import spark.implicits._
    // constructed to exercise tie-breaks (equal-count pairs), multi-char
    // merges consuming earlier merges, and words that run dry
    val rnd = new scala.util.Random(7)
    val alpha = "abcd"
    val words = (1 to 120).map { _ =>
      val len = 2 + rnd.nextInt(6)
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    } ++ Seq("x", "yy", "zzz")
    val docs = words.flatMap(w => Seq.fill(1 + rnd.nextInt(5))(w))
      .mkString(" ").split(" ").grouped(20).map(_.mkString(" "))
      .toSeq.toDF("text")
    val local = operators.TextPack.bpeMerges(docs, 10).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    // driverMaxVocab = 0 forces every round through the Spark path
    val dist = operators.TextPack.bpeMerges(docs, 10, 0L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(local == dist, s"local $local\ndistributed $dist")
    assert(local.size == 10) // non-vacuous: the corpus survives 10 rounds
  }

  test("driver-local BPE induction runs hundreds of merge rounds in " +
    "seconds, not Spark jobs (the production-K posture)") {
    import spark.implicits._
    // vocab-scale corpus: ~6k word types over a 6-letter alphabet
    val rnd = new scala.util.Random(11)
    val alpha = "abcdef"
    val words = (1 to 6000).map { _ =>
      val len = 3 + rnd.nextInt(8)
      (1 to len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    val docs = words.grouped(50).map(_.mkString(" ")).toSeq.toDF("text")
    val t0 = System.nanoTime()
    val m = operators.TextPack.bpeMerges(docs, 200).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(m.length == 200, s"ran dry at ${m.length}")
    // one corpus scan + collect, then 200 local rounds: the bound is
    // generous (CI machines vary) but two orders of magnitude under the
    // ~2 jobs/round Spark loop's driver-orchestration floor
    assert(sec < 60.0, s"took $sec s")
    info(f"K=200 merges over ${words.distinct.size} word types: $sec%.2f s")
  }

  test("large-star/small-star components equal min-label propagation AND " +
    "a union-find reference; the propagation cap falls back instead of " +
    "failing") {
    import spark.implicits._
    import operators.DedupPack
    def unionFind(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.map(k => k -> find(k)).sorted
    }
    val rnd = new scala.util.Random(42)
    val chain = (1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      chain, // diameter 11 — the shape propagation is worst at
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L))
    ) ++ (1 to 3).map { _ =>
      (1 to 25).map(_ =>
        (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(p => p._1 != p._2)
    }
    for (g <- graphs) {
      val e = g.toDF("doc_a", "doc_b")
      val want = unionFind(g)
      val lss = DedupPack.connectedComponentsLSS(e).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(lss == want, s"LSS mismatch on $g: $lss vs $want")
      val prop = DedupPack.connectedComponents(e).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(prop == want, s"propagation mismatch on $g")
    }
    // a graph deeper than the propagation cap now COMPLETES via the LSS
    // fallback (identical labels) instead of throwing
    val viaFallback = DedupPack
      .connectedComponents(chain.toDF("doc_a", "doc_b"), maxIters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaFallback == unionFind(chain))
  }

  test("sk_sampled_quantiles: the deterministic sample is a pure row " +
    "filter (losslessly mergeable across any split) and the sketch is " +
    "internally consistent") {
    val r = run("sk_sampled_quantiles").cache()
    assert(r.count() > 0)
    // ordering sanity on both halves; sample fraction ~1/8 (binomial —
    // generous 4x bounds so the pin never flakes)
    assert(r.filter(col("p50") > col("p95")).count() == 0)
    assert(r.filter(col("p50_sample") > col("p95_sample")).count() == 0)
    assert(r.filter(col("n_sample") * 2L > col("n") ||
      col("n_sample") * 32L < col("n")).count() == 0,
      "sample fraction far from 1/8")
    r.unpersist()
    // mergeability: sampling is a per-row predicate, so the union of two
    // disjoint partitions' samples IS the global sample — the property
    // t-digest merges lack, and the reason this sketch can shard freely
    val ev = Tables.events(spark, sfTiny)
    val u = conv(substring(md5(concat(lit("qsamp:"),
      col("event_id").cast("string"))), 1, 8), 16, 10).cast("long")
    def sampleIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(pmod(u, lit(8L)) === 0)
        .select("event_id").collect().map(_.getLong(0)).toSet
    val whole = sampleIds(ev)
    val split = sampleIds(ev.filter(col("user_id") % 2 === 0)) ++
      sampleIds(ev.filter(col("user_id") % 2 =!= 0))
    assert(whole == split && whole.nonEmpty)
  }

  test("kmvDistinctSketch: bit-identical estimates to the calibrated " +
    "monitor without paying the exact-distinct aggregate") {
    import operators.Skew
    val sh = Tables.documents(spark, sfTiny)
      .select(col("source"), explode(graft.functions.HashFunctions
        .wordShingles(col("text"), 3)).as("w"))
    val calibrated = Skew.kmvDistinct(sh, "source", col("w"), 64)
    val sketch = Skew.kmvDistinctSketch(sh, "source", col("w"), 64)
    // deployment contract: same estimate values per group …
    val want = calibrated.collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val got = sketch.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want && got.nonEmpty)
    // … but the sketch-only plan never runs the per-group COUNT(DISTINCT)
    // the sketch exists to avoid (the calibrated monitor does — that is
    // its job at gate scale)
    assert(calibrated.queryExecution.optimizedPlan.toString
      .contains("count(distinct"))
    assert(!sketch.queryExecution.optimizedPlan.toString
      .contains("count(distinct"),
      "sketch-only path still pays the exact distinct aggregate")
  }

  test("tokenizer whitespace class is explicit: vertical tab splits like " +
    "every other whitespace on BOTH engines' regex dialects") {
    import spark.implicits._
    // Java \s includes U+000B, RE2's does not — a bare \s+ tokenizer
    // diverges cross-engine on VT documents (invisible at gate scale:
    // the fixtures carry none). WsRe spells the class out; this pins the
    // Spark half (the DuckDB half is the shared literal in the oracles,
    // confirmed against DuckDB: the explicit class splits chr(11), the
    // bare \s+ does not).
    val vt = 11.toChar // U+000B, no raw control char in source
    val t = Seq(s"a${vt}b c\td\ne\rf\fg h").toDF("text")
      .select(graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .collect()(0).getSeq[String](0)
    assert(t == Seq("a", "b", "c", "d", "e", "f", "g", "h"),
      s"Spark tokenized: $t")
  }

  test("sk_cms_freq: one-sided inside the epsilon envelope, collisions " +
    "really fire, and per-half grids merge by cell-wise sum") {
    import operators.StatsPack
    val r = run("sk_cms_freq").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.nonEmpty)
    // CMS contract: NEVER an undercount …
    assert(r.forall(_._4 >= 0L), "CMS undercounted — not a CMS")
    // … collisions genuinely fire at the fixture (else the grid is
    // oversized and the monitor is vacuous) …
    assert(r.exists(_._4 > 0L), "no collision observed — vacuous grid")
    // … and every overcount respects the ε = e/w envelope on the stream
    // length (loose bound; a violation means broken hashing, not luck)
    val streamLen = Tables.documents(spark, sfTiny)
      .select(explode(graft.functions.HashFunctions
        .wordShingles(col("text"), 3)).as("w")).count()
    val eps = math.E / StatsPack.CmsWidth
    val bound = math.ceil(3 * eps * streamLen).toLong
    assert(r.forall(_._4 <= bound),
      s"overcount past 3x the epsilon envelope ($bound): " +
        r.filter(_._4 > bound).take(3).mkString(", "))
    // mergeability (the 100 TB contract): the grid built over the WHOLE
    // stream equals the cell-wise SUM of grids built over two halves —
    // counts are additive, so partial grids union by +
    import spark.implicits._
    // the PRODUCTION cell hashing (StatsPack.cmsCells), not a re-derived
    // copy — a hash-definition change must not leave this test passing
    // against a stale formula
    def cellsOf(half: org.apache.spark.sql.DataFrame) = half
      .select(explode(graft.functions.HashFunctions
        .wordShingles(col("text"), 3)).as("tk"))
      .select(posexplode(StatsPack.cmsCells(col("tk")))
        .as(Seq("row", "bucket")))
      .groupBy(col("row"), col("bucket")).agg(count(lit(1)).as("c"))
      .collect()
      .map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    val docs = Tables.documents(spark, sfTiny)
    val whole = cellsOf(docs)
    val a = cellsOf(docs.filter(col("doc_id") % 2 === 0))
    val b = cellsOf(docs.filter(col("doc_id") % 2 =!= 0))
    val merged = (a.keySet ++ b.keySet)
      .map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    assert(merged == whole)
    // the deployment probe (prebuilt grid + arbitrary key list, no exact
    // counting anywhere) returns the gate row's exact same estimates
    val stream = docs.select(explode(graft.functions.HashFunctions
      .wordShingles(col("text"), 3)).as("k"))
    val grid = StatsPack.cmsGrid(stream)
    val someKeys = r.take(50).map(_._1).toSeq.toDF("key")
    val probed = StatsPack.cmsEstimateFor(grid, someKeys).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val want = r.take(50).map(x => x._1 -> x._3).toMap
    assert(probed == want && probed.nonEmpty)
    // a never-seen key still gets a ROW (an inner join would silently
    // drop it), and against a SPARSE grid — where untouched cells are
    // guaranteed — its answer is the canonical CMS 0, not a min over
    // only the collided cells
    val ghost = StatsPack.cmsEstimateFor(grid,
      Seq("zz never seen shingle zz").toDF("key")).collect()
    assert(ghost.length == 1 && ghost(0).getLong(1) >= 0L)
    val sparse = StatsPack.cmsGrid(Seq("one", "two").toDF("k"))
    val ghost0 = StatsPack.cmsEstimateFor(sparse,
      Seq("zz never seen shingle zz").toDF("key")).collect()
    assert(ghost0.length == 1 && ghost0(0).getLong(1) == 0L,
      s"sparse-grid ghost estimate: ${ghost0.mkString}")
  }

  test("sk_kmv_distinct: sub-k groups are exact, large groups estimate " +
    "inside the k=64 error envelope, and min-union merge is lossless") {
    import spark.implicits._
    import operators.Skew
    val r = run("sk_kmv_distinct").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.nonEmpty)
    // every fixture source's shingle space is comfortably past k — the
    // estimator path — and the relative error stays inside ~3σ of
    // 1/√(k−2) ≈ 12.7%
    assert(r.forall(_._2 > 64), "fixture group below k — estimator untested")
    assert(r.forall(_._4 <= 400), s"KMV error blew the envelope: $r")
    // sub-k groups report the EXACT cardinality (the sketch's identity
    // regime), duplicates notwithstanding
    val tiny = Seq(("g", "x"), ("g", "y"), ("g", "z"), ("g", "x"))
      .toDF("source", "w")
    val t = Skew.kmvDistinct(tiny, "source", col("w"), 64).collect()
    assert(t.length == 1 && t(0).getLong(1) == 3L &&
      t(0).getLong(2) == 3L && t(0).getLong(3) == 0L)
    // mergeability (the 100 TB contract): the k smallest of the UNION of
    // two halves' k-min sets equal the global k-min set — so the kth
    // draw, and with it the estimate, survives any partitioning
    val src = Tables.documents(spark, sfTiny)
      .filter(col("source") === "src3")
      .select(explode(graft.functions.HashFunctions
        .wordShingles(col("text"), 3)).as("w"))
      .select(conv(substring(md5(concat(lit("kmv:"), col("w"))), 1, 8),
        16, 10).cast("long").as("u"), (col("w").substr(1, 1) <= "m").as("half"))
      .collect().map(x => (x.getLong(0), x.getBoolean(1)))
    val k = 64
    val (a, b) = src.partition(_._2)
    def kmin(xs: Seq[Long]) = xs.distinct.sorted.take(k)
    val merged = kmin(kmin(a.map(_._1).toSeq) ++ kmin(b.map(_._1).toSeq))
    assert(merged == kmin(src.map(_._1).toSeq) && merged.length == k)
  }

  test("sk_hll_distinct: estimates inside the m=512 envelope, register " +
    "state merges by elementwise max losslessly, and the sketch-only twin " +
    "skips the exact aggregate") {
    import operators.Skew
    val r = run("sk_hll_distinct").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getLong(5)))
    assert(r.nonEmpty)
    // digest sanity: v_zero ∈ [0, 512]; sum_scaled ≤ m·2^52 and at least
    // the empty-register floor
    assert(r.forall(x => x._3 >= 0 && x._3 <= 512))
    assert(r.forall(x => x._4 >= x._3 * 4503599627370496L &&
      x._4 <= 512L * 4503599627370496L))
    // error envelope: ~3σ of 1.04/√512 ≈ 4.6% (and the linear-counting
    // regime below 2.5m is tighter still)
    assert(r.forall(_._6 <= 150), s"HLL error blew the envelope: " +
      r.filter(_._6 > 150).mkString(", "))
    // mergeability (the 100 TB contract): the register state over the
    // WHOLE corpus equals the elementwise MAX of the two halves' states —
    // the union is EXACT under any sharding (unlike KMV's below-k decay),
    // so the digest and the estimate survive any partitioning. Uses the
    // PRODUCTION state builder (Skew.hllRegisters), not a re-derivation.
    val docs = Tables.documents(spark, sfTiny)
    def regsOf(half: org.apache.spark.sql.DataFrame) = Skew
      .hllRegisters(half.select(col("source"),
        explode(graft.functions.HashFunctions
          .wordShingles(col("text"), 3)).as("w")), "source", col("w"))
      .collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getInt(2)).toMap
    val whole = regsOf(docs)
    val a = regsOf(docs.filter(col("doc_id") % 2 === 0))
    val b = regsOf(docs.filter(col("doc_id") % 2 =!= 0))
    val merged = (a.keySet ++ b.keySet)
      .map(k => k -> math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))).toMap
    assert(merged == whole && whole.nonEmpty)
    // duplicates cannot move a register max: doubling the stream leaves
    // the state bit-identical (the reason HLL needs no DISTINCT anywhere)
    assert(regsOf(docs.union(docs)) == whole)
    // the sketch-only deployment twin returns the calibrated monitor's
    // exact digest and estimate per group …
    val sh = docs.select(col("source"),
      explode(graft.functions.HashFunctions
        .wordShingles(col("text"), 3)).as("w"))
    val calibrated = Skew.hllDistinct(sh, "source", col("w"))
    val sketch = Skew.hllDistinctSketch(sh, "source", col("w"))
    val want = calibrated.collect()
      .map(x => x.getString(0) -> (x.getLong(2), x.getLong(3), x.getLong(4)))
      .toMap
    val got = sketch.collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(got == want && got.nonEmpty)
    // … without paying the per-group COUNT(DISTINCT) the sketch avoids
    assert(calibrated.queryExecution.optimizedPlan.toString
      .contains("count(distinct"))
    assert(!sketch.queryExecution.optimizedPlan.toString
      .contains("count(distinct"),
      "HLL sketch-only path still pays the exact distinct aggregate")
  }

  test("bpeMerges early-exits when the vocabulary runs dry; the shorter " +
    "merge list still encodes every document (oracle LEFT-JOIN twin)") {
    import spark.implicits._
    import operators.TextPack
    // a corpus whose only pair merges in round 1 — rounds 2..6 find no
    // pairs and must stop, not fail or fabricate winners
    val docs = Seq((1L, "ab ab"), (2L, "ab")).toDF("doc_id", "text")
    val m = TextPack.bpeMerges(docs, 6).collect()
    assert(m.length == 1)
    assert((m(0).getString(1), m(0).getString(2), m(0).getLong(3)) ==
      ("a", "b", 3L))
    val enc = TextPack.bpeEncodeWith(docs,
        m.map(r => (r.getString(1), r.getString(2))).toSeq)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(enc == Seq((1L, 2L, 2L), (2L, 1L, 1L)), s"got $enc")
  }

  test("bpeEncodeWith applies an explicit merge list with canonical " +
    "greedy semantics, including merged-symbol pairs and unseen words") {
    import spark.implicits._
    import operators.TextPack
    val docs = Seq((1L, "abab ab x"), (2L, "aaa zq")).toDF("doc_id", "text")
    val out = TextPack.bpeEncodeWith(docs,
        Seq(("a", "b"), ("ab", "ab"), ("a", "a")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1: "abab" → [ab, ab] → [abab] (1 symbol); "ab" → [ab] (1);
    // "x" → [x] (1) → 3 BPE tokens from 3 words
    // doc 2: "aaa" → greedy (a,a) → [aa, a] (2 — NOT 1: non-overlapping);
    // "zq" has no merges → [z, q] (2) → 4 BPE tokens from 2 words
    assert(out == Seq((1L, 3L, 3L), (2L, 2L, 4L)), s"got $out")
  }

  test("m7_validate_rules: every validator rule family fires on the " +
    "perturbed fixture and each violation genuinely breaks its rule") {
    val v = run("m7_validate_rules").cache()
    val rules = v.select("rule").distinct().collect()
      .map(_.getString(0)).toSet
    // the three injected families must fire (completeness rules depend on
    // fixture class sizes and may legitimately be empty)
    assert(Set("dataset_name_length", "class_name_length",
      "recording_mbid_invalid").subsetOf(rules), s"rules seen: $rules")
    // name-length violations really exceed the reference's 100-char bound
    assert(v.filter(col("rule").isin("dataset_name_length",
        "class_name_length") &&
      length(col("item")).between(1, 100)).count() == 0)
    // every flagged MBID carries the corrupted version nibble, and every
    // corrupted id (doc_id % 97 == 0) is flagged — no more, no less
    val flagged = v.filter(col("rule") === "recording_mbid_invalid")
    assert(flagged.filter(!col("item").contains("-z000-")).count() == 0)
    val corrupted = Tables.documents(spark, sfTiny)
      .filter(col("doc_id") % 97 === 0).count()
    assert(flagged.count() == corrupted && corrupted > 0)
    v.unpersist()
  }

  test("dd_component_cap keeps exactly min(size, cap) lowest-id members " +
    "per near-dup component and the cap genuinely fires") {
    import operators.DedupPack
    val r = run("dd_component_cap").cache()
    assert(r.count() == Tables.documents(spark, sfTiny).count())
    // per group: kept = min(size, cap); kept members are the LOWEST ids
    val per = r.groupBy("grp").agg(
      count(lit(1)).as("size"),
      count(when(col("kept"), 1)).as("n_kept"),
      max(when(col("kept"), col("doc_id"))).as("max_kept"),
      min(when(!col("kept"), col("doc_id"))).as("min_dropped"))
    assert(per.filter(col("n_kept") =!=
      least(col("size"), lit(DedupPack.ComponentCap.toLong))).count() == 0)
    assert(per.filter(col("min_dropped").isNotNull &&
      col("max_kept") > col("min_dropped")).count() == 0,
      "a dropped member has a lower id than a kept one")
    // non-vacuous: at least one component is actually capped, and
    // singletons are all kept
    assert(per.filter(col("size") > DedupPack.ComponentCap).count() > 0)
    assert(r.filter(col("grp") === col("doc_id") &&
      col("member_rank") === 1 && !col("kept")).count() == 0)
    r.unpersist()
  }

  test("dd_contamination_scrub: no eval span survives in the scrubbed " +
    "corpus, accounting reconciles, and flagged near-copies lose mass") {
    import operators.DedupPack
    val scrub = run("dd_contamination_scrub").cache()
    val docs = Tables.documents(spark, sfTiny)
    val corpusN = docs
      .filter(col("source") =!= DedupPack.ContaminationEvalSource).count()
    assert(scrub.count() == corpusN)
    assert(scrub.filter(col("n_dropped") < 0 ||
      col("n_dropped") > col("n_tokens")).count() == 0)
    assert(scrub.filter(col("n_dropped") > 0).count() > 0,
      "no token was decontaminated — test is vacuous")
    // the decontamination guarantee: re-span the scrubbed corpus and
    // intersect with the eval span set — must be empty
    val evSpans = DedupPack.spanStream(docs
        .filter(col("source") === DedupPack.ContaminationEvalSource))
      .select("gh").distinct()
    val after = DedupPack.spanStream(
        scrub.select(col("doc_id"), col("scrubbed_text").as("text")))
      .select("gh").distinct()
    assert(after.join(evSpans, Seq("gh")).count() == 0,
      "eval spans survived the scrub")
    // docs the WHOLE-DOC sweep flags (>=50% 3-gram overlap) are the
    // near-copies — the span scrub must bite them hard
    val flagged = run("dd_contamination").select("doc_id")
    val bitten = scrub.join(flagged, Seq("doc_id"))
      .filter(col("n_dropped") * 2L >= col("n_tokens"))
    assert(flagged.count() > 0 && bitten.count() == flagged.count(),
      "a flagged near-copy kept most of its tokens")
    scrub.unpersist()
  }

  test("dd_exact_substr_scrub: no non-keeper duplicated span survives, " +
    "token accounting reconciles, and corpus dup mass collapses") {
    import operators.DedupPack
    val scrub = run("dd_exact_substr_scrub").cache()
    val docs = Tables.documents(spark, sfTiny)
    // accounting: drops bounded by the doc's own tokens; scrub non-vacuous
    assert(scrub.filter(col("n_dropped") < 0 ||
      col("n_dropped") > col("n_tokens")).count() == 0)
    assert(scrub.filter(col("n_dropped") > 0).count() > 0,
      "no document was scrubbed — invariant test is vacuous")
    // original duplicated spans + their keepers
    val origSpans = DedupPack.spanStream(docs).select("doc_id", "gh")
    val dup = origSpans.distinct().groupBy("gh")
      .agg(count(lit(1)).as("ddf"), min("doc_id").as("keeper"))
      .filter(col("ddf") >= 2).cache()
    assert(dup.count() > 0, "fixture has no duplicated spans — vacuous")
    // re-span the SCRUBBED corpus: every original dup span may survive
    // ONLY in its keeper document
    val scrubbed = scrub.select(col("doc_id"),
      col("scrubbed_text").as("text"))
    val afterSpans = DedupPack.spanStream(scrubbed)
      .select("doc_id", "gh").cache()
    val survivors = afterSpans.distinct()
      .join(dup.select("gh", "keeper"), Seq("gh"))
      .filter(col("doc_id") =!= col("keeper"))
    assert(survivors.count() == 0,
      s"duplicated spans survived outside their keeper")
    // and the scrubbed corpus's OWN duplicated-span mass is ~zero (the
    // rewrite can create new adjacencies, so exactly-zero is not the
    // contract — but the dup fraction must collapse)
    val afterDup = afterSpans.distinct().groupBy("gh")
      .agg(count(lit(1)).as("ddf")).filter(col("ddf") >= 2).select("gh")
    val afterDupSpans = afterSpans.join(afterDup, Seq("gh")).count()
    val beforeDupSpans = origSpans
      .join(dup.select("gh"), Seq("gh")).count()
    assert(afterDupSpans * 20 < beforeDupSpans,
      s"dup span mass $beforeDupSpans -> $afterDupSpans did not collapse")
    scrub.unpersist(); dup.unpersist(); afterSpans.unpersist()
  }

  test("tx_source_drift L1 arithmetic stays exact past the BIGINT product " +
    "boundary (DECIMAL(38,0) cross-multiplication vs a BigInt reference)") {
    import spark.implicits._
    // petatoken-scale synthetic counts: cs·N ≈ 7.8e30 — the all-BIGINT
    // formulation silently wrapped here (ANSI off); real corpora this
    // size don't fit a test, which is why the core takes a counts frame
    val T = 1000000000000000L // 1e15 tokens
    val counts = Seq(
      ("srcA", "x", 2 * T), ("srcA", "z", T / 2),
      ("srcB", "y", T), ("srcB", "z", T / 2))
    val got = operators.TextPack
      .sourceDriftFromCounts(counts.toDF("source", "tk", "cs"))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // independent BigInt reference of the same formula
    val c = counts.groupBy(_._2).map { case (tk, xs) =>
      tk -> xs.map(x => BigInt(x._3)).sum }
    val n = c.values.sum
    val want = counts.groupBy(_._1).toSeq.sortBy(_._1).map { case (src, xs) =>
      val ns = xs.map(x => BigInt(x._3)).sum
      val present = xs.map { case (_, tk, cs) =>
        (BigInt(cs) * n - c(tk) * ns).abs }.sum
      val cPresent = xs.map(x => c(x._2)).sum
      val num = present + (n - cPresent) * ns
      (src, ns.toLong, (num * 1000000 / (n * ns)).toLong)
    }
    assert(got == want, s"got $got want $want")
    // non-vacuous: the cross-products genuinely exceed Long range
    assert(BigInt(2 * T) * n > BigInt(Long.MaxValue))
    // and the values are sane L1 ppm
    assert(want.forall(w => w._3 >= 0 && w._3 <= 2000000L))
  }

  test("domain-mix thresholds stay exact past the BIGINT product boundary " +
    "(DECIMAL(38,0) vs a BigInt reference at ~10^9 docs per language)") {
    import spark.implicits._
    import operators.PipelinePack
    // per-language corpus sizes at real deployment scale: wt·nout·2^32
    // wraps Long here (the latent bug the widening fixes)
    val counts = Seq(("de", 2000000000L, 2L), ("en", 5000000000L, 4L),
      ("es", 800000000L, 1L), ("fr", 1900000000L, 2L), ("zh", 700000000L, 1L))
    val got = PipelinePack
      .mixThresholdsFromCounts(counts.toDF("lang", "n", "wt"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq
    val mixDen = BigInt(PipelinePack.MixDen)
    val scale = BigInt(PipelinePack.MixScale)
    val nout = counts.map(c => BigInt(c._2) * mixDen / c._3).min
    val want = counts.map { case (l, n, wt) =>
      (l, (BigInt(wt) * nout * scale / (BigInt(n) * mixDen)).toLong) }
    assert(got == want, s"got $got want $want")
    // non-vacuous: the widest product genuinely exceeds Long range …
    assert(BigInt(4) * nout * scale > BigInt(Long.MaxValue))
    // … and every threshold lands in the hash-draw domain [0, 2^32]
    assert(want.forall(w => w._2 >= 0 && w._2 <= 4294967296L))
  }

  test("kmvOverlap: identical sets → Jaccard 1000 and intersect = union; " +
    "disjoint sets → zero; pair union estimate = sketch of merged group") {
    import operators.Skew
    import spark.implicits._
    // a: ids 0-999; b: identical to a; c: disjoint 5000-5999;
    // d: half-overlapping 500-1499
    val rows =
      (0 until 1000).map(i => ("a", i.toLong)) ++
      (0 until 1000).map(i => ("b", i.toLong)) ++
      (0 until 1000).map(i => ("c", 5000L + i)) ++
      (0 until 1000).map(i => ("d", 500L + i))
    val df = rows.toDF("g", "v")
    val ov = Skew.kmvOverlap(df, "g", col("v"), k = 64).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val ab = ov(("a", "b")) // identical sets
    assert(ab._2 == 64 && ab._4 == 1000 && ab._3 == ab._1,
      s"identical-set overlap broken: $ab")
    val ac = ov(("a", "c")) // disjoint sets
    assert(ac._2 == 0 && ac._3 == 0 && ac._4 == 0,
      s"disjoint-set overlap broken: $ac")
    val ad = ov(("a", "d")) // true Jaccard 500/1500 = 333‰
    assert(ad._4 > 150 && ad._4 < 550, s"half-overlap way off: $ad")
    // the min-union merge IS the sketch of the concatenation: the pair
    // (a, c) union estimate must equal kmvDistinctSketch on a ∪ c
    val merged = df.filter(col("g").isin("a", "c"))
      .withColumn("g", lit("ac"))
    val est = Skew.kmvDistinctSketch(merged, "g", col("v"), k = 64)
      .collect()(0).getLong(1)
    assert(ac._1 == est,
      s"pair union estimate ${ac._1} != merged-group sketch $est")
  }

  test("scd2 intervals tile each user's timeline: dense versions, abutting " +
    "intervals, exactly one open interval, no same-status adjacency") {
    import org.apache.spark.sql.expressions.Window
    val h = run("d6_scd2_history")
    val users = h.select("user_id").distinct().count()
    assert(users > 0)
    // exactly one current (open) interval per user
    val cur = h.filter(col("is_current")).groupBy("user_id").count()
    assert(cur.count() == users && cur.filter(col("count") =!= 1).count() == 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
    val x = h
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("prev_status", lag(col("status"), 1).over(w))
    // closed intervals abut the successor exactly (no gap, no overlap) …
    assert(x.filter(col("valid_to").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0)
    // … and only the last interval is open
    assert(x.filter(col("valid_to").isNull &&
      col("next_from").isNotNull).count() == 0)
    // versions are dense from 1, and a version exists only on change
    val v = h.groupBy("user_id").agg(min("version").as("mn"),
      max("version").as("mx"), count(lit(1)).as("n"),
      countDistinct(col("version")).as("u"))
    assert(v.filter(col("mn") =!= 1 || col("mx") =!= col("n") ||
      col("u") =!= col("n")).count() == 0)
    assert(x.filter(col("prev_status") === col("status")).count() == 0)
  }

  test("temperature thresholds equal the BigInt integer-sqrt reference, " +
    "including near-perfect-square quotients and deployment-scale counts") {
    import operators.PipelinePack
    import spark.implicits._
    val sq = PipelinePack.TempScaleSq // 2^48
    // n_min is the first entry (1L): quotients sweep perfect squares,
    // squares ± 1 (the floor(sqrt(double)) hazard cases), primes, and
    // counts far past the BIGINT-product wrap point (n_min · 2^48
    // overflows Long for n_min ≥ 32768 — the decimal path must not)
    val cases: Seq[(String, Long)] =
      Seq("a" -> 1L, "b" -> 4L, "c" -> 3L, "d" -> 16L, "e" -> 17L,
        "f" -> 15L, "g" -> 7L, "h" -> 1048576L, "i" -> 1048577L,
        "j" -> 999983L, "k" -> 281474976710656L) ++
      (1 to 40).map(i => s"r$i" -> ((1L << (i % 40)) + i * 31L))
    val counts = cases.toDF("lang", "n")
    val got = PipelinePack.tempThresholdsFromCounts(counts)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val nmin = BigInt(cases.map(_._2).min)
    def isqrt(x: BigInt): BigInt = {
      var r = BigInt(math.sqrt(x.toDouble).toLong + 2)
      while (r * r > x) r -= 1
      r
    }
    cases.foreach { case (l, n) =>
      val want = isqrt(nmin * sq / n).toLong
      assert(got(l) == want, s"lang $l n $n: got ${got(l)} want $want")
    }
    // the deployment-scale wrap guard is non-vacuous
    assert(BigInt(cases.map(_._2).max) * sq > BigInt(Long.MaxValue))
  }

  test("temperature sample keeps ALL of the scarcest language and " +
    "sqrt-flattens the dominant one") {
    import operators.PipelinePack
    val stats = run("pipe_temp_sample_stats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val scarce = stats.minBy(_._2)
    assert(scarce._3 == scarce._2, s"scarcest lang dropped docs: $scarce")
    assert(scarce._4 == PipelinePack.TempScale) // thresh = full domain
    val dom = stats.maxBy(_._2)
    // achieved count concentrates around sqrt(n_min · n_dom)
    val expect = math.sqrt(scarce._2.toDouble * dom._2.toDouble)
    assert(dom._3 < dom._2 && math.abs(dom._3 - expect) < 6 * math.sqrt(expect),
      s"dominant lang not flattened toward $expect: $dom")
  }

  test("bloom: no false negatives, packed words equal the driver bitset, " +
    "and partial filters merge by bitwise OR") {
    import operators.Bloom
    val keys = Tables.documents(spark, sfTiny)
      .select(col("doc_id").cast("string").as("k"))
    val words = Bloom.collectWords(keys)
    // Bloom's contract: a member NEVER probes false
    assert(keys.filter(!Bloom.mightContain(col("k"), words)).count() == 0)
    // the persisted (word, wval) rows reconstruct the probe-side bitset
    val rows = Bloom.bloomWords(keys).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(rows.getOrElse(i, 0L) == w, s"word $i") }
    // mergeable-summaries: filter(A ∪ B) = filter(A) OR filter(B)
    val a = keys.filter(pmod(xxhash64(col("k")), lit(2)) === 0)
    val b = keys.filter(pmod(xxhash64(col("k")), lit(2)) === 1)
    assert(a.count() > 0 && b.count() > 0) // both halves non-vacuous
    val merged = Bloom.collectWords(a).zip(Bloom.collectWords(b))
      .map { case (x, y) => x | y }
    assert(merged.sameElements(words))
  }

  test("bloomAntiJoin equals the plain anti-join under a saturating " +
    "false-positive load (m=64)") {
    import operators.Bloom
    val left = Tables.part(spark, sfTiny)
    val right = Tables.lineitem(spark, sfTiny)
      .filter(col("l_discount") > 0.09 && col("l_quantity") >= 40)
    val rk = right.select(col("l_partkey").as("k")).distinct()
    // tiny m ⇒ the false-positive band is large; the exact recheck must
    // absorb every one of them
    val w64 = Bloom.collectWords(rk, m = 64, k = 2)
    val fp = left.select(col("p_partkey").as("k"))
      .join(rk, Seq("k"), "left_anti")
      .filter(Bloom.mightContain(col("k"), w64, m = 64, k = 2)).count()
    assert(fp > 0, "fixture produced no false positives — test is vacuous")
    val got = Bloom.bloomAntiJoin(left, col("p_partkey"), right,
        col("l_partkey"), m = 64, k = 2).select("p_partkey")
    val plain = left.join(right, col("p_partkey") === col("l_partkey"),
        "left_anti").select("p_partkey")
    assert(got.count() == plain.count() &&
      got.except(plain).isEmpty && plain.except(got).isEmpty)
  }

  test("bloomAntiJoin keeps NULL-key probe rows and a NULL build key " +
    "neither throws nor poisons the filter — matching the plain anti-join") {
    import operators.Bloom
    import spark.implicits._
    val left = Seq(Some(1L), Some(2L), None, Some(99L)).toDF("id")
    val right = Seq(Some(1L), None).toDF("rid") // null build key: no bits
    val got = Bloom.bloomAntiJoin(left, col("id"), right, col("rid"),
        m = 64, k = 2)
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    val plain = left.join(right, col("id") === col("rid"), "left_anti")
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted
    // the NULL probe row never equi-matches, so BOTH keep it (-1 marker)
    assert(got.sameElements(plain) && got.contains(-1L),
      s"got ${got.toSeq} want ${plain.toSeq}")
  }

  test("ev_funnel ordering semantics: a click BEFORE the first signup " +
    "does not convert; an event AT the prior step's instant does") {
    import operators.EventsPack
    import spark.implicits._
    val ev = Seq(
      // user 1: clean ordered conversion
      (1L, 1L, "signup", "2024-03-01 10:00:00"),
      (2L, 1L, "click", "2024-03-01 10:05:00"),
      (3L, 1L, "purchase", "2024-03-01 10:10:00"),
      // user 2: the click PRECEDES the signup — must not count, and the
      // later purchase has no qualifying click to follow
      (4L, 2L, "click", "2024-03-01 09:00:00"),
      (5L, 2L, "signup", "2024-03-01 10:00:00"),
      (6L, 2L, "purchase", "2024-03-01 10:30:00"),
      // user 3: every step at the SAME instant — >= ties convert
      (7L, 3L, "signup", "2024-03-01 10:00:00"),
      (8L, 3L, "click", "2024-03-01 10:00:00"),
      (9L, 3L, "purchase", "2024-03-01 10:00:00"),
      // user 4: never signed up
      (10L, 4L, "purchase", "2024-03-01 09:00:00"))
      .toDF("event_id", "user_id", "event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = EventsPack.funnelSummary(ev).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 4L, 3L, 750L), (2L, 3L, 2L, 666L),
      (3L, 2L, 2L, 1000L)), s"got ${got.toSeq}")
  }

  test("ev_concurrency sweep: inclusive ends (touching sessions are " +
    "concurrent) and a midnight-crossing session counts on both days") {
    import operators.EventsPack
    import spark.implicits._
    def ev(rows: Seq[(Long, Long, String)]) =
      rows.map { case (id, u, t) => (id, u, "view", t) }
        .toDF("event_id", "user_id", "event_type", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp"))
    // day 1: u1 [10:00,10:10], u2 [10:05,10:05], u5 [10:04,10:06] → peak 3
    // at 10:05; u3 [10:10,10:10] touches u1's END exactly; u4 spans
    // midnight (23:50 → 00:05, 15-min gap = one session)
    val df = ev(Seq(
      (1L, 1L, "2024-03-01 10:00:00"), (2L, 1L, "2024-03-01 10:10:00"),
      (3L, 2L, "2024-03-01 10:05:00"),
      (4L, 5L, "2024-03-01 10:04:00"), (5L, 5L, "2024-03-01 10:06:00"),
      (6L, 3L, "2024-03-01 10:10:00"),
      (7L, 4L, "2024-03-01 23:50:00"), (8L, 4L, "2024-03-02 00:05:00")))
    val got = EventsPack.dailyPeakConcurrency(df).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("2024-03-01", 3L, 5L), ("2024-03-02", 1L, 1L)),
      s"got ${got.toSeq}")
    // the touching pair in isolation: u1 ends at the exact instant u3's
    // session starts — inclusive ends make that instant concurrent
    val touch = ev(Seq(
      (1L, 1L, "2024-03-01 10:00:00"), (2L, 1L, "2024-03-01 10:10:00"),
      (3L, 3L, "2024-03-01 10:10:00"), (4L, 3L, "2024-03-01 10:15:00")))
    val t = EventsPack.dailyPeakConcurrency(touch).collect()
    assert(t.length == 1 && t.head.getLong(1) == 2L,
      s"touching sessions not concurrent: ${t.toSeq}")
  }

  test("j12 range join: window bounds are inclusive to the microsecond, " +
    "and the cell-blocked join equals the naive BETWEEN join") {
    import operators.EventsPack
    import spark.implicits._
    // boundary pins: window around 12:00 is [11:55:00.000000,
    // 12:05:00.000000]; probes a microsecond outside must not match
    val b = Seq(
      (1L, "error", "2024-03-01 12:00:00"),
      (2L, "purchase", "2024-03-01 11:54:59.999999"),
      (3L, "purchase", "2024-03-01 11:55:00"),
      (4L, "purchase", "2024-03-01 12:05:00"),
      (5L, "purchase", "2024-03-01 12:05:00.000001"))
      .toDF("event_id", "event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val winsB = EventsPack.incidentWindows(b)
    val matchedB = EventsPack.cellCandidates(winsB,
        EventsPack.purchaseProbes(b))
      .filter(col("p_us") >= col("lo_us") && col("p_us") <= col("hi_us"))
    assert(matchedB.count() == 2L,
      s"inclusive-bound match count: ${matchedB.count()}")
    // equivalence on a deterministic pseudo-random layout (at test scale
    // the naive cross join is affordable; at data scale it is not — that
    // asymmetry is the operator's whole point)
    val big = (0 until 300).map { i =>
      val t = (i * 7919L) % 86400
      val typ = if (i < 30) "error" else "purchase"
      (i.toLong, typ,
        f"2024-03-01 ${t / 3600}%02d:${t % 3600 / 60}%02d:${t % 60}%02d")
    }.toDF("event_id", "event_type", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val wins = EventsPack.incidentWindows(big)
    val probes = EventsPack.purchaseProbes(big)
    val blocked = EventsPack.cellCandidates(wins, probes)
      .filter(col("p_us") >= col("lo_us") && col("p_us") <= col("hi_us"))
      .groupBy("win_id").count()
    val naive = wins.crossJoin(probes.select(col("p_us")))
      .filter(col("p_us") >= col("lo_us") && col("p_us") <= col("hi_us"))
      .groupBy("win_id").count()
    assert(blocked.except(naive).isEmpty && naive.except(blocked).isEmpty,
      "cell blocking changed the join result")
  }

  test("a12_rollup hierarchy is self-consistent: subtotals and the grand " +
    "total aggregate their detail rows") {
    val rows = run("a12_rollup").collect().map(r =>
      (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val detail = rows.filter(_._3 == 0L)
    val subs = rows.filter(_._3 == 1L)
    val grand = rows.filter(_._3 == 3L)
    assert(grand.length == 1 &&
      grand.head._4 == detail.map(_._4).sum, "grand-total count")
    for ((flag, _, _, n, qty) <- subs) {
      val d = detail.filter(_._1 == flag)
      assert(n == d.map(_._4).sum, s"subtotal count for $flag")
      assert(math.abs(qty - d.map(_._5).sum) < 1e-6 * math.abs(qty),
        s"subtotal qty for $flag")
    }
    // subtotal rows carry NULL in the aggregated position, gid says why
    assert(subs.forall(_._2.isEmpty) && grand.head._1.isEmpty)
  }

  test("z-order layout: files own contiguous non-overlapping z ranges " +
    "under BOTH the gate's ntile assignment and the production " +
    "repartitionByRange path, which also preserves row totals") {
    import operators.LayoutPack
    import org.apache.spark.sql.expressions.Window
    val rows = LayoutPack.normalizedKeys(
      Tables.lineitem(spark, sfTiny)
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")))
      .withColumn("z", LayoutPack.zvalue(col("zpk"), col("zsk")))
    def assertContiguous(maps: Array[(Long, Long, Long)], label: String)
        : Unit = {
      val sorted = maps.sortBy(_._1)
      for (Array((_, _, hi), (_, lo, _)) <- sorted.sliding(2)
          .map(_.toArray))
        assert(hi <= lo, s"$label: overlapping file z ranges")
    }
    // gate shape: ntile over the total z order
    val ntiled = rows.withColumn("f",
        ntile(64).over(Window.orderBy(col("z"))).cast("long"))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ntiled.length == 64)
    assertContiguous(ntiled, "ntile")
    // production shape: range partition + local sort, no global window
    val parted = rows.repartitionByRange(64, col("z"))
      .sortWithinPartitions(col("z"))
      .withColumn("f", spark_partition_id().cast("long"))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"),
        count(lit(1)).as("n"))
      .collect()
    assertContiguous(parted.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))), "repartitionByRange")
    assert(parted.map(_.getLong(3)).sum == rows.count(),
      "production layout dropped rows")
    // and the monitor's headline: the partkey-sorted layout cannot prune
    // the suppkey-only probe at all; z-order prunes both shapes
    val p = run("io_zorder_prune").collect().head
    val (nf, zbox, zsk, lbox, lsk) =
      (p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3), p.getLong(4))
    assert(lsk == nf, "linear layout unexpectedly pruned the sk-only probe")
    assert(zsk < nf / 2, s"z-order sk-only pruning too weak: $zsk/$nf")
    assert(zbox < nf / 4 && lbox < nf / 4,
      s"pk-box pruning broken: z=$zbox lin=$lbox")
  }

  test("a14_histogram: bins stay inside [0,20), masses add to the row " +
    "count, and ev_transitions rows conserve events and normalize") {
    val h = run("a14_histogram").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val total = Tables.events(spark, sfTiny).count()
    assert(h.forall { case (b, _) => b >= 0 && b < 20 })
    assert(h.map(_._2).sum == total, "histogram dropped rows")
    val t = run("ev_transitions").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(t.map(_._2).sum == total, "transition cells dropped events")
    // floor-division per-milles: each row's cells sum to ≤ 1000 and
    // within |types| of it (one floor loss per cell)
    for ((prev, g) <- t.groupBy(_._1)) {
      val pm = g.map(_._3).sum
      assert(pm <= 1000 && pm > 1000 - g.length,
        s"row $prev permille sum $pm")
    }
    // every user's first event feeds START exactly once
    val users = Tables.events(spark, sfTiny)
      .select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(t.filter(_._1 == "START").map(_._2).sum == users)
  }

  test("dd_jaccard_prefix is LOSSLESS: identical pair set, shares and " +
    "jaccards to the naive capless all-pairs threshold join") {
    import operators.DedupPack
    import graft.functions.HashFunctions.wordShingles
    val sh = Tables.documents(spark, sfTiny)
      .select(col("doc_id"),
        wordShingles(col("text"), DedupPack.ShingleN).as("sh"))
    val got = DedupPack.prefixJaccardPairs(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9)))
    // the naive road: EVERY posting pairs up, no prefix, no cap.
    // (Columns renamed BEFORE the self-join — `tok.as("a")`-style alias
    // resolution on a self-join can silently cross the two sides.)
    val tok = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ta = tok.select(col("doc_id").as("doc_a"), col("g"))
    val tb = tok.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    val naive = ta
      .join(tb, col("g") === col("gb") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        "doc_b")
      .withColumn("jaccard", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= DedupPack.JaccardThreshold)
      // USING-joins hoist their key to column 0 — pin the order
      .select("doc_a", "doc_b", "shared", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e9)))
    assert(naive.nonEmpty && got.toSet == naive.toSet,
      s"prefix join lost/invented pairs: got ${got.length}, " +
        s"naive ${naive.length}")
  }

  test("g1_pagerank structure: full page of descending ranks above the " +
    "damping floor, and the high-degree side of the bipartite graph " +
    "surfaces as the hubs") {
    val rows = run("g1_pagerank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 100)
    // ORDER BY rank DESC with a total tiebreak
    assert(rows.map(_._3).sliding(2).forall(p => p.head >= p.last))
    // every node keeps at least the damping mass (the shared constant —
    // the spec floor moves with the engine and oracle)
    assert(rows.forall(_._3 >= operators.GraphPack.PrBase))
    // suppliers are ~20× rarer than parts with ~20× the degree — the
    // random walk concentrates on them; the whole top-10 must be
    // suppliers at every fixture scale
    assert(rows.take(10).forall(_._1 == "supplier"),
      s"top-10 not all suppliers: ${rows.take(10).toSeq}")
  }

  test("sk_priority_sample equals the in-memory Duffield-Lund-Thorup " +
    "replay and its estimator tracks the population total") {
    import operators.StatsPack.{PrioDrawMod, PrioSampleK}
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val orders = Tables.orders(spark, sfTiny)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val scored = orders.map { case (k, price) =>
      val w = math.floor(price * 100).toLong
      val h = java.lang.Long.parseLong(
        md5hex(s"psamp:$k").substring(0, 8), 16) % PrioDrawMod + 1
      (k, w, w * PrioDrawMod / h)
    }
    val top = scored.sortBy { case (k, _, q) => (-q, k) }
      .take(PrioSampleK + 1)
    val tau = if (top.length == PrioSampleK + 1) top.last._3 else 0L
    val expect = top.take(PrioSampleK).zipWithIndex.map {
      case ((k, w, q), i) => (i + 1L, k, w, q, math.max(w, tau))
    }.toSeq
    val got = run("sk_priority_sample").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"priority sample diverges from replay: " +
      s"got ${got.take(3)} expect ${expect.take(3)}")
    // unbiased-estimator sanity on the fixed fixture draw: the K-row
    // summary's Σŵ lands near the full population total
    val total = scored.map(_._2).sum.toDouble
    val est = got.map(_._5).sum.toDouble
    assert(est > 0.5 * total && est < 2.0 * total,
      s"estimator off: est=$est total=$total")
  }

  test("dd_edit_blocked equals the naive within-brand quadratic (length " +
    "filter lossless, each pair once, threshold inclusive)") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    val parts = Tables.part(spark, sfTiny)
      .select("p_partkey", "p_brand", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expect = (for {
      (brand, ps) <- parts.groupBy(_._2).toSeq
      sorted = ps.sortBy(_._1)
      i <- sorted.indices; j <- (i + 1) until sorted.length
      d = lev(sorted(i)._3, sorted(j)._3)
      if d <= operators.DedupPack.EditMax
    } yield (brand, sorted(i)._1, sorted(j)._1, d.toLong))
      .sortBy { case (b, a, c, _) => (b, a, c) }
    val got = run("dd_edit_blocked").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
      .toSeq
    assert(expect.nonEmpty && got == expect,
      s"blocked join diverges from naive: got ${got.length} pairs, " +
        s"expect ${expect.length}")
  }

  test("a15_cube lattice is self-consistent: every margin aggregates its " +
    "detail rows and the grand total closes the cube") {
    val rows = run("a15_cube").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3)))
    val detail = rows.filter(_._3 == 0L)
    val byStatus = rows.filter(_._3 == 1L) // priority rolled away
    val byPrio = rows.filter(_._3 == 2L)   // status rolled away
    val grand = rows.filter(_._3 == 3L)
    assert(detail.nonEmpty && byStatus.nonEmpty && byPrio.nonEmpty &&
      grand.length == 1)
    for ((st, pr, _, n) <- byStatus) {
      assert(pr.isEmpty)
      assert(detail.filter(_._1 == st).map(_._4).sum == n,
        s"status margin $st diverges from its detail rows")
    }
    for ((st, pr, _, n) <- byPrio) {
      assert(st.isEmpty)
      assert(detail.filter(_._2 == pr).map(_._4).sum == n,
        s"priority margin $pr diverges from its detail rows")
    }
    assert(grand.head._4 == detail.map(_._4).sum)
  }

  test("w9_window_ranks: rank algebra holds per segment (rank = strictly-" +
    "greater + 1, cume = at-least / n, quartiles balanced)") {
    val rows = run("w9_window_ranks").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getLong(7)))
    assert(rows.nonEmpty)
    for ((seg, inSeg) <- rows.groupBy(_._1)) {
      val n = inSeg.length.toLong
      val bals = inSeg.map(_._2)
      for ((_, bal, rnk, drnk, pr, cume, _) <- inSeg) {
        assert(rnk == bals.count(_ > bal) + 1, s"$seg rank definition")
        assert(drnk == bals.filter(_ > bal).distinct.length + 1,
          s"$seg dense_rank definition")
        assert(pr == (if (n == 1) 0.0 else (rnk - 1).toDouble / (n - 1)),
          s"$seg percent_rank definition")
        assert(cume == bals.count(_ >= bal).toDouble / n,
          s"$seg cume_dist definition")
      }
      val sizes = inSeg.groupBy(_._7).values.map(_.length).toSeq
      assert(sizes.max - sizes.min <= 1, s"$seg quartiles unbalanced: $sizes")
    }
  }

  test("ev_attribution equals the naive in-memory last-touch replay " +
    "(horizon, tie order, null trio)") {
    val ev = Tables.events(spark, sfTiny)
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    val touches = ev.filter(e => e._3 == "click" || e._3 == "view")
      .groupBy(_._2)
    val horizon = operators.EventsPack.AttribHorizonUs
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000 + (t.getNanos / 1000) % 1000
    val expect = ev.filter(_._3 == "purchase").sortBy(_._1).map { p =>
      val best = touches.getOrElse(p._2, Array.empty)
        .filter(t => us(t._4) <= us(p._4) && us(p._4) - us(t._4) <= horizon)
        .sortBy(t => (us(t._4), t._1)).lastOption
      (p._1, best.map(_._1), best.map(_._3),
        best.map(t => us(p._4) - us(t._4)))
    }.toSeq
    val got = run("ev_attribution").collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        Option(r.getString(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))
    }.toSeq
    assert(expect.nonEmpty && got == expect,
      s"attribution diverges from naive replay: got ${got.take(3)} " +
        s"expect ${expect.take(3)}")
    // coverage: BOTH branches of the horizon gate must be exercised —
    // some purchase with an in-horizon touch, some with none
    assert(expect.exists(_._2.isEmpty) && expect.exists(_._2.nonEmpty),
      "fixture exercises only one branch of the horizon gate")
  }

  test("g2_triangles: degree-oriented wedge enumeration equals the naive " +
    "in-memory triangle count per node (orientation invariance)") {
    // naive replay on the sfTiny graph: build the bulk co-order edge set
    // in memory and count triangles per node by closed-wedge scan
    val li = Tables.lineitem(spark, sfTiny)
      .filter(col("l_quantity") >= operators.GraphPack.TriQtyMin)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { lines =>
      val pks = lines.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- (i + 1) until pks.length)
        yield (pks(i), pks(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
    val naive = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a) if c > b && adj(b).contains(c)) {
      naive(a) += 1; naive(b) += 1; naive(c) += 1
    }
    val expect = naive.toSeq.sortBy { case (n, c) => (-c, n) }.take(100)
    val got = run("g2_triangles").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(expect.nonEmpty && got == expect,
      s"oriented vs naive triangle counts diverge: got ${got.take(5)}… " +
        s"expect ${expect.take(5)}…")
  }

  test("g2_triangles_approx: DOULION coins, sampled-exact count and " +
    "rescale all replay in memory; keep-all regime degenerates to exact") {
    // in-memory bulk co-order edge set (same derivation as the g2 replay)
    val li = Tables.lineitem(spark, sfTiny)
      .filter(col("l_quantity") >= operators.GraphPack.TriQtyMin)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { lines =>
      val pks = lines.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- (i + 1) until pks.length)
        yield (pks(i), pks(j))
    }.toSet
    val m = edges.size.toLong
    def triCount(es: Set[(Long, Long)]): Long = {
      val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
      es.iterator.map { case (a, b) =>
        adj(a).count(c => c > b && adj(b).contains(c)).toLong }.sum
    }
    def coin(a: Long, b: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"tri17:$a:$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % m
    }
    def replay(kb: Long): (Long, Long, Long, Long, Long) = {
      val kept = edges.filter { case (a, b) => coin(a, b) < kb }
      val ts = triCount(kept)
      val peff = math.max(math.min(kb, m), 1L)
      val est = (BigInt(ts) * BigInt(m).pow(3) / BigInt(peff).pow(3)).toLong
      (m, kept.size.toLong, math.min(1000000L, kb * 1000000L / m), ts, est)
    }
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    // SERVED entry: adaptive K = exact integer ⌊(C·m²)^⅓⌋ — replay the
    // whole derivation (BigInt cube-root by search, md5 coins, rescale)
    val x = BigInt(operators.GraphPack.TriApproxC) * BigInt(m) * BigInt(m)
    val kAdaptive = {
      var k = BigInt(math.cbrt(x.toDouble).toLong)
      while ((k + 1).pow(3) <= x) k += 1
      while (k.pow(3) > x) k -= 1
      k.toLong
    }
    val served = run("g2_triangles_approx").collect()
    assert(served.length == 1)
    assert(row(served.head) == replay(kAdaptive),
      s"adaptive-K replay diverges: engine ${row(served.head)} vs " +
        s"replay ${replay(kAdaptive)} at K=$kAdaptive")
    assert(served.head.getLong(1) < m && served.head.getLong(3) > 0,
      "adaptive K must actually sample at sfTiny and still see triangles")
    // forced FIXED threshold (256 ≪ m): the spec's budget knob
    val got = operators.GraphPack
      .trianglesApproxFrame(spark, sfTiny, 256L).collect().head
    assert(row(got) == replay(256L),
      s"fixed-budget replay diverges: engine ${row(got)} vs " +
        s"replay ${replay(256L)}")
    // keep-all degeneration: threshold ≥ m ⇒ the estimator IS exact
    val all = operators.GraphPack
      .trianglesApproxFrame(spark, sfTiny, m + 10).collect().head
    assert(all.getLong(1) == m && all.getLong(3) == triCount(edges) &&
      all.getLong(4) == all.getLong(3),
      "threshold ≥ m must degenerate to the exact triangle count")
  }

  test("g3_neighbor_jaccard: inverted-index join equals the naive " +
    "all-pairs Jaccard over supplier part-sets") {
    val ps = Tables.lineitem(spark, sfTiny)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sets = ps.groupBy(_._2).map { case (s, xs) => s -> xs.map(_._1).toSet }
    val sup = sets.keys.toSeq.sorted
    val expect = (for {
      i <- sup.indices; j <- (i + 1) until sup.length
      inter = (sets(sup(i)) & sets(sup(j))).size.toLong if inter > 0
      uni = (sets(sup(i)) | sets(sup(j))).size.toLong
    } yield (sup(i), sup(j), inter, uni,
      inter * operators.GraphPack.JacPpmScale / uni))
      .sortBy { case (a, b, _, _, jac) => (-jac, a, b) }.take(100)
    val got = run("g3_neighbor_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(expect.nonEmpty && got == expect,
      s"jaccard join diverges from naive: got ${got.take(3)}… " +
        s"expect ${expect.take(3)}…")
  }

  test("a16_grouped_regression equals the in-memory sufficient-statistics " +
    "replay and finds the structural quantity-price correlation") {
    val rows = Tables.lineitem(spark, sfTiny)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100).toLong,
        math.floor(r.getDouble(2) * 100).toLong))
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val n = xs.length.toDouble
      val sx = xs.map(e => BigInt(e._2)).sum.toDouble
      val sy = xs.map(e => BigInt(e._3)).sum.toDouble
      val sxx = xs.map(e => BigInt(e._2) * BigInt(e._2)).sum.toDouble
      val syy = xs.map(e => BigInt(e._3) * BigInt(e._3)).sum.toDouble
      val sxy = xs.map(e => BigInt(e._2) * BigInt(e._3)).sum.toDouble
      val corr = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      (f, xs.length.toLong, corr, slope, (sy - slope * sx) / n / 100.0)
    }
    val got = run("a16_grouped_regression").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expect,
      s"regression diverges from replay: got $got expect $expect")
    // the fixture draws price independent of quantity (corr ≈ 0) — pin
    // the Cauchy-Schwarz bound and finiteness; values are oracle-pinned
    assert(got.forall { case (_, _, c, s2, i) =>
      math.abs(c) <= 1.0 && !s2.isNaN && !i.isNaN })
  }

  test("dd_containment is consistent with the jaccardPairs core on the shared " +
    "capped universe and catches asymmetric pairs Jaccard misses") {
    val cont = run("dd_containment").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    assert(cont.nonEmpty)
    // threshold honesty: every row clears 0.9 ppm in SOME direction
    assert(cont.values.forall { case (_, _, _, ca, cb) =>
      math.max(ca, cb) >= operators.DedupPack.ContainmentPpm })
    // the same (shared, sizes) core must reproduce the Jaccard frame's
    // ratio exactly for pairs both joins emit (direct drive — the suite
    // entry retired in r16)
    val jac = operators.DedupPack.jaccardPairs(
        operators.DedupPack.shingledOf(Tables.documents(spark, sfTiny)))
      .orderBy("doc_a", "doc_b").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2),
        r.getDouble(3)))).toMap
    val both = cont.keySet intersect jac.keySet
    assert(both.nonEmpty, "no overlap pair to cross-check the cores")
    for (k <- both) {
      val (sh, na, nb, _, _) = cont(k)
      assert(jac(k)._1 == sh &&
        jac(k)._2 == sh.toDouble / (na + nb - sh),
        s"cores diverge on $k")
    }
    // directional asymmetry is real on the fixture (sizes differ, so the
    // two containments differ — the quantity Jaccard collapses into one)
    assert(cont.values.exists { case (_, _, _, ca, cb) => ca != cb },
      "fixture has no size-asymmetric pair — directionality untested")
  }

  test("ev_anomaly_mad equals the in-memory median/MAD replay and flags " +
    "a strict subset of type-days") {
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val daily = Tables.events(spark, sfTiny)
      .select(col("event_type"), date_trunc("day", col("ts"))
        .cast(org.apache.spark.sql.types.DateType).as("day"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate))
      .groupBy(identity).map { case ((t, d), xs) => (t, d, xs.length.toLong) }
      .toSeq
    val expect = daily.groupBy(_._1).toSeq.flatMap { case (t, rows) =>
      val med = median(rows.map(_._3.toDouble))
      val mad = median(rows.map(r => math.abs(r._3 - med)))
      rows.filter(r => math.abs(r._3 - med) > 3 * mad)
        .map(r => (t, r._2, r._3, med, mad))
    }.sortBy { case (t, d, _, _, _) => (t, d.toEpochDay) }
    val got = run("ev_anomaly_mad").collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(expect.nonEmpty && got == expect,
      s"MAD anomalies diverge: got $got expect $expect")
    assert(got.length < daily.length, "detector flags everything")
  }

  test("w10_pareto_frontier equals the naive O(n²) dominance replay") {
    val o = Tables.orders(spark, sfTiny)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast(org.apache.spark.sql.types.DateType)
          .as("day"))
      .collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100).toLong,
        r.getDate(2).toLocalDate.toEpochDay))
    val expect = o.filter { case (_, p, d) =>
      !o.exists { case (_, p2, d2) =>
        p2 >= p && d2 >= d && (p2 > p || d2 > d) }
    }.sortBy { case (k, p, _) => (-p, k) }
      .map { case (k, p, _) => (k, p) }.toSeq
    val got = run("w10_pareto_frontier").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(expect.nonEmpty && got == expect,
      s"frontier diverges from naive dominance: got $got expect $expect")
  }

  test("ev_paths3 equals the in-memory sliding-triple count") {
    val ev = Tables.events(spark, sfTiny)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val triples = ev.groupBy(_._1).values.toSeq.flatMap { xs =>
      xs.sortBy(e => (e._3, e._4)).map(_._2).sliding(3).filter(_.length == 3)
    }.map(t => (t(0), t(1), t(2)))
    val total = triples.length.toLong
    val expect = triples.groupBy(identity)
      .map { case (t, xs) => (t._1, t._2, t._3, xs.length.toLong,
        xs.length * 1000L / total) }.toSeq
      .sortBy { case (a, b, c, n, _) => (-n, a, b, c) }.take(25)
    val got = run("ev_paths3").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(expect.nonEmpty && got == expect,
      s"paths diverge: got ${got.take(3)} expect ${expect.take(3)}")
  }

  test("g4_kcore_profile equals the in-memory peel replay and shrinks " +
    "monotonically") {
    import operators.GraphPack.{KCoreK, KCoreRounds, TriQtyMin}
    val li = Tables.lineitem(spark, sfTiny)
      .filter(col("l_quantity") >= TriQtyMin)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var cur: Set[(Long, Long)] = li.groupBy(_._1).values.flatMap { ls =>
      val pks = ls.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- (i + 1) until pks.length)
        yield (pks(i), pks(j))
    }.toSet
    val expect = (1 to KCoreRounds).map { r =>
      val deg = cur.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (n, xs) => n -> xs.length }
      val keep = deg.collect { case (n, c) if c >= KCoreK => n }.toSet
      cur = cur.filter { case (a, b) => keep(a) && keep(b) }
      (r.toLong, keep.size.toLong, cur.size.toLong)
    }
    val got = run("g4_kcore_profile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"peel profile diverges: got $got expect $expect")
    assert(got.head._2 > 0, "round 1 peels everything — fixture vacuous")
    assert(got.map(_._2).sliding(2).forall(p => p.head >= p.last) &&
      got.map(_._3).sliding(2).forall(p => p.head >= p.last))
  }

  test("ev_rolling_wau equals the in-memory 7-day sliding distinct and " +
    "dominates the daily actives") {
    val ud = Tables.events(spark, sfTiny)
      .select(col("user_id"), date_trunc("day", col("ts"))
        .cast(org.apache.spark.sql.types.DateType).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val mx = ud.map(_._2).max(Ordering.by[java.time.LocalDate, Long](
      _.toEpochDay))
    val targets = ud.map(_._2).distinct
      .flatMap(d => (0 to 6).map(i => d.plusDays(i)))
      .distinct.filter(!_.isAfter(mx)).sortBy(_.toEpochDay)
    val expect = targets.map { t =>
      (t, ud.filter { case (_, d) =>
        !d.isAfter(t) && !d.isBefore(t.minusDays(6))
      }.map(_._1).distinct.length.toLong)
    }.toSeq
    val got = run("ev_rolling_wau").collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1))).toSeq
    assert(expect.nonEmpty && got == expect,
      s"rolling WAU diverges: got ${got.take(3)} expect ${expect.take(3)}")
    val dau = ud.groupBy(_._2).map { case (d, xs) =>
      d -> xs.map(_._1).distinct.length.toLong }
    assert(got.forall { case (d, wau) => wau >= dau.getOrElse(d, 0L) })
  }

  test("a13_pivot row sums equal the per-day event totals (zero-fill, " +
    "no drops)") {
    val piv = run("a13_pivot").collect()
      .map(r => (r.getDate(0).toString,
        r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) +
          r.getLong(5)))
    val tot = Tables.events(spark, sfTiny)
      .groupBy(to_date(col("ts")).as("day")).count().collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    assert(piv.nonEmpty && piv.forall { case (d, s) => tot(d) == s },
      "pivot row sums diverge from daily totals")
  }

  test("tx_pmi_pairs: integer lift ranks identically to float PMI, floor " +
    "holds, ordering is total") {
    val rows = SparkEntry.queries("tx_pmi_pairs")(spark, sfTiny).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._3 >= graft.operators.TextPack.PmiMinPair))
    // presentation order: lift desc, then (x, y) asc — total, no dup pairs
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._6 > b._6 ||
        (a._6 == b._6 && (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)))
      case _           => true
    })
    // the integer lift is a monotone image of PMI: within the page, the
    // float PMI recomputed from the carried counts never ranks two pairs
    // the OTHER way (equal-lift ties aside — the div floors to ppm)
    val n = Tables.documents(spark, sfTiny)
      .select(graft.functions.TextFunctions.tokenCount(col("text")).as("k"))
      .agg(sum(col("k")).as("nu"), sum(greatest(col("k") - 1, lit(0L))).as("nb"))
      .collect()(0)
    val (nUni, nBg) = (n.getLong(0).toDouble, n.getLong(1).toDouble)
    val pmi = rows.map { case (_, _, cxy, cx, cy, lift) =>
      (math.log(cxy / nBg) - math.log(cx / nUni) - math.log(cy / nUni), lift)
    }
    for (Array((pa, la), (pb, lb)) <- pmi.sliding(2))
      if (la != lb) assert(pa > pb, "integer lift inverted a float-PMI rank")
  }

  test("t4_gap_fill: per-type hour grid is dense, filled rows are exactly " +
    "the n=0 rows, LOCF carries the latest observed value, mass conserved") {
    val rows = run("t4_gap_fill").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getLong(3), if (r.isNullAt(4)) None
        else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    // filled ⇔ no events that hour (a real hourly rollup row always has n>0)
    assert(rows.forall { case (_, _, n, f, _) => (f == 1L) == (n == 0L) })
    // sfTiny genuinely exercises the fill path (~75% hour coverage)
    assert(rows.count(_._4 == 1L) > 0, "no gap rows at sfTiny — fill untested")
    rows.groupBy(_._1).foreach { case (t, trs) =>
      val sorted = trs.sortBy(_._2)
      // dense: consecutive grid hours are exactly one hour apart
      assert(sorted.sliding(2).forall {
        case Array(a, b) => b._2 - a._2 == 3600000L
        case _           => true
      }, s"$t grid has holes")
      // LOCF: replay the carry driver-side; first row is an active hour
      var carry: Option[Double] = None
      sorted.foreach { case (_, _, n, _, locf) =>
        if (n > 0L) carry = locf // active hour: locf IS that hour's value
        else assert(locf == carry, s"$t LOCF diverges from replay")
      }
      assert(sorted.head._3 > 0L, s"$t grid starts on a filled row")
    }
    val total = rows.map(_._3).sum
    assert(total == Tables.events(spark, sfTiny).count(), "event mass lost")
  }

  test("a17_weighted_median equals the in-memory cumulative-weight replay") {
    val rows = Tables.lineitem(spark, sfTiny)
      .select("l_returnflag", "l_extendedprice", "l_quantity").collect()
      .map(r => (r.getString(0), math.floor(r.getDouble(1) * 100).toLong,
        math.floor(r.getDouble(2) * 100).toLong))
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      val lvl = xs.groupBy(_._2).map { case (v, ys) => v -> ys.map(_._3).sum }
        .toSeq.sortBy(_._1)
      val w = lvl.map(_._2).sum
      var cw = 0L
      val cum = lvl.map { case (v, wv) => cw += wv; (v, cw) }
      (f, w, lvl.size.toLong,
        cum.find(_._2 * 2 >= w).get._1,
        cum.find(_._2 * 10 >= w * 9).get._1)
    }
    val got = run("a17_weighted_median").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"weighted median diverges: got $got")
    // the lower weighted median can never sit above the weighted p90
    assert(got.forall(t => t._4 <= t._5))
  }

  test("g5_bfs_layers equals the in-memory BFS replay and alternates " +
    "sides (bipartiteness)") {
    val pairs = Tables.lineitem(spark, sfTiny)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val kmax = math.max(pairs.map(_._2 / 2).max / 100, 1L)
    var frontier = pairs.map(_._2).filter(_ / 2 <= kmax).toSet
    var visited = frontier
    val layers = collection.mutable.ArrayBuffer((0L, frontier))
    for (r <- 1 to operators.GraphPack.BfsRounds) {
      val nxt = frontier.flatMap(n => adj.getOrElse(n, Set.empty[Long]))
        .diff(visited)
      visited ++= nxt; frontier = nxt
      layers += ((r.toLong, nxt))
    }
    val expect = layers.toSeq.flatMap { case (dist, ns) =>
      ns.groupBy(n => if (n % 2 == 0) "part" else "supplier")
        .toSeq.sortBy(_._1)
        .map { case (t, xs) => (dist, t, xs.size.toLong) }
    }
    val got = run("g5_bfs_layers").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expect, s"BFS layers diverge: got $got expect $expect")
    // a bipartite frontier can only alternate: supplier layers on even
    // distance (seeds are suppliers), part layers on odd
    assert(got.forall { case (dist, t, _) =>
      t == (if (dist % 2 == 0) "supplier" else "part") })
    // non-vacuous: the seed layer actually expanded at least one hop
    assert(got.map(_._1).distinct.size >= 2, "BFS never expanded")
  }

  test("mm_audio_rms equals the in-memory frame-energy replay including " +
    "the short tail frame") {
    import operators.MultimodalPack.AudioFrameBytes
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.sortBy(_._1).flatMap { case (id, text) =>
      text.getBytes("UTF-8").grouped(AudioFrameBytes).zipWithIndex.map {
        case (bs, i) =>
          val energy = bs.map(b => { val v = (b & 0xff) - 128L; v * v }).sum
          (id, i.toLong, bs.length.toLong, energy,
            math.floor(math.sqrt((energy * 1000000L / bs.length).toDouble))
              .toLong)
      }
    }.toSeq
    val got = run("mm_audio_rms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"frame energy diverges (first 2): " +
      s"got ${got.take(2)} expect ${expect.take(2)}")
    // the tail frame must be short somewhere, or the per-frame n is
    // untested against the fixed width
    assert(got.exists(_._3 < AudioFrameBytes), "no short tail frame")
    assert(got.exists(_._4 > 0))
  }

  test("mm_scene_cuts equals the in-memory milli-mean jump replay and " +
    "fires in both directions") {
    import operators.MultimodalPack.{SceneFrameBytes, CutMilli}
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.sortBy(_._1).flatMap { case (id, text) =>
      val mm = text.getBytes("UTF-8").grouped(SceneFrameBytes).map { bs =>
        bs.map(b => (b & 0xff).toLong).sum * 1000L / bs.length
      }.toSeq
      mm.zipWithIndex.drop(1).collect {
        case (m, i) if math.abs(m - mm(i - 1)) >= CutMilli =>
          (id, i.toLong, mm(i - 1), m, m - mm(i - 1))
      }
    }.toSeq
    val got = run("mm_scene_cuts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"cuts diverge (first 2): got ${got.take(2)} " +
      s"expect ${expect.take(2)}")
    // non-vacuous and symmetric: the detector must catch jumps UP and
    // DOWN, or the abs() is untested
    assert(got.exists(_._5 > 0) && got.exists(_._5 < 0))
  }

  test("m10_kfold equals the in-memory md5 assignment with every fold " +
    "populated") {
    import operators.MLPack.KFolds
    def fold(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"fold:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.substring(0, 8), 16) % KFolds
    }
    val docs = Tables.documents(spark, sfTiny)
      .select("doc_id", "lang").collect()
      .map(r => (fold(r.getLong(0)), r.getString(1)))
    val expect = docs.groupBy(identity).map { case (k, xs) =>
      (k._1, k._2, xs.length.toLong)
    }.toSeq.sorted
    val got = run("m10_kfold").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expect, s"fold matrix diverges: got ${got.take(5)}")
    assert(got.map(_._1).distinct.size == KFolds,
      "an empty fold — the draw is not spreading")
    // near-uniform spread: a degenerate draw (one hot fold) violates this
    // long before it hurts training; the md5 coin sits at ~1.2x here
    val sizes = got.groupBy(_._1).map(_._2.map(_._3).sum)
    assert(sizes.max <= 2 * sizes.min,
      s"fold sizes too skewed: ${sizes.toSeq.sorted}")
  }

  test("s12_schema_union: each generation's evolved column is NULL-filled " +
    "exactly, nothing else") {
    val (even, odd) = {
      val ks = Tables.orders(spark, sfTiny).select("o_orderkey").collect()
        .map(_.getLong(0))
      (ks.count(_ % 2 == 0).toLong, ks.count(_ % 2 == 1).toLong)
    }
    val got = run("s12_schema_union").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // v1 carries custkey (0 nulls) and lacks priority (all nulls); v2 the
    // exact mirror — the union must not leak values across generations
    assert(got == Seq(("v1", even, 0L, even), ("v2", odd, odd, 0L)),
      s"schema union diverges: $got")
    assert(even > 0 && odd > 0)
  }

  test("dd_lsh_recall: counts bounded by both pair sets and consistent " +
    "with the direct recall comparison") {
    val r = run("dd_lsh_recall").collect()(0)
    val (ne, nc, nr) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nr <= math.min(ne, nc), "recalled more pairs than exist")
    assert(ne > 0 && r.getLong(3) == nr * 1000L / ne)
    // the monitor must agree with the set comparison it summarizes —
    // against the LOSSLESS prefix join, the monitor's own exact side
    val exact = run("dd_jaccard_prefix").select("doc_a", "doc_b")
    val lsh = run("dd_minhash_lsh")
    assert(nr == exact.intersect(lsh).count())
  }

  test("dd_lsh_recall runs its checkpoint jobs in the caller's group") {
    // the two checkpoints run on Scala's global pool, whose threads keep
    // the job group they inherited when they were created: each
    // construction must bill every job it starts to its own group
    run("dd_lsh_recall") // artifacts built and pool threads created
    for (g <- Seq(s"lsh-recall-a-${System.nanoTime()}",
        s"lsh-recall-b-${System.nanoTime()}")) {
      val groups = jobGroupsDuring(g) { run("dd_lsh_recall"); () }
      assert(groups.size >= 3, s"expected the checkpoint jobs: $groups")
      assert(groups.forall(_ == g),
        s"construction under $g started jobs in other groups: $groups")
    }
  }

  test("dd_component_sizes conserves label mass against dd_components " +
    "and never reports singletons") {
    val labels = run("dd_components").collect().length.toLong
    val got = run("dd_component_sizes").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    // every labeled doc is in exactly one component of its size bucket
    assert(got.map { case (sz, n) => sz * n }.sum == labels,
      s"size histogram loses or duplicates labeled docs: " +
        s"${got.mkString(", ")} vs $labels labels")
    // labels come from the pair graph — a component has >= 2 members
    assert(got.forall(_._1 >= 2L),
      s"singleton component reported: ${got.mkString(", ")}")
    // iteration pin (VERDICT r12 item 3): dd_components runs min-label
    // propagation (hash-min) — O(component diameter) rounds, a small
    // constant on near-clique LSH components. A growing count (here or
    // in the 8x/64x smoke via tools.ComponentsRounds) means a
    // contraction regression, caught far below the LSS-fallback ceiling.
    // (The large-star/small-star path has its own LastLssRounds counter,
    // exercised by PropertySpec's equality tests and the fallback.)
    val rounds = operators.DedupPack.LastHashMinRounds.get()
    assert(rounds >= 1 && rounds <= 6,
      s"components fixpoint took $rounds rounds at sfTiny")
  }

  test("dd_jaccard_capped: the budget binds on mid-hot boilerplate — " +
    "cap derived below the junk df, drop loud, true pairs intact") {
    import spark.implicits._
    // 400 docs in 200 identical-text pairs; every doc carries the same
    // 32-word boilerplate tail (df = 400 per boiler shingle — mid-hot:
    // far under MaxShingleDf=1000, so the CONSTANT cap would admit
    // C(400,2) pair events per junk shingle). Total doubled pair mass
    // 30 shingles x 400·399 ≈ 4.8M exceeds the 2·4096·400 ≈ 3.3M budget,
    // so the derived cap must land BELOW 400 and the boilerplate drops —
    // loudly — while the identical pairs (rare df=2 shingles) survive.
    val boiler = (1 to 32).map(j => s"bw$j").mkString(" ")
    val docs = (0 until 400).map { i =>
      val p = i / 2
      (i.toLong, (1 to 12).map(j => s"r${p}w$j").mkString(" ") + " " + boiler)
    }.toDF("doc_id", "text")
    val rows = operators.DedupPack.jaccardCappedOver(docs).collect()
    val cap = rows.head.getAs[Long]("cap_df")
    assert(cap >= operators.DedupPack.CapFloor && cap < 400,
      s"cap_df=$cap — the budget should bind below the df-400 boilerplate")
    assert(rows.head.getAs[Long]("dropped_shingles") > 0)
    // every identical pair found, nothing else, J exact 1.0 on the kept
    // universe (texts identical => kept shingle sets identical)
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSet == (0 until 200).map(p => (2L * p, 2L * p + 1)).toSet)
    assert(rows.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  test("d7_bag_ops: count algebra satisfies the multiset identities " +
    "against the raw bags") {
    val rows = Tables.orders(spark, sfTiny)
      .select("o_custkey", "o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val a = rows.filter(_._2 == "O").groupBy(_._1).map(kv => kv._1 -> kv._2.length.toLong)
    val b = rows.filter(_._2 == "F").groupBy(_._1).map(kv => kv._1 -> kv._2.length.toLong)
    val keys = (a.keySet ++ b.keySet).toSeq
    val inter = keys.map(k => math.min(a.getOrElse(k, 0L), b.getOrElse(k, 0L))).sum
    val exAb = keys.map(k => math.max(a.getOrElse(k, 0L) - b.getOrElse(k, 0L), 0L)).sum
    val exBa = keys.map(k => math.max(b.getOrElse(k, 0L) - a.getOrElse(k, 0L), 0L)).sum
    val common = keys.count(k => a.contains(k) && b.contains(k)).toLong
    val r = run("d7_bag_ops").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) ==
      ((keys.length.toLong, inter, exAb, exBa, common)))
    // the multiset identity: |A ∩all B| + |A −all B| = |A| (and for B)
    assert(inter + exAb == a.values.sum && inter + exBa == b.values.sum)
    assert(inter > 0 && exAb > 0 && exBa > 0, "bag fixture vacuous")
  }

  test("t5_period_delta equals the in-memory lag replay and exercises " +
    "NEGATIVE deltas (the div-truncation case)") {
    val daily = Tables.events(spark, sfTiny)
      .groupBy(to_date(col("ts")).as("day")).count().collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).sortBy(_._1)
    def pm(n: Long, p: Option[Long]): Option[Long] =
      p.map(pv => (n - pv) * 1000L / pv) // JVM / truncates toward zero too
    val expect = daily.zipWithIndex.map { case ((d, n), i) =>
      val p1 = if (i >= 1) Some(daily(i - 1)._2) else None
      val p7 = if (i >= 7) Some(daily(i - 7)._2) else None
      (d, n, p1, pm(n, p1), p7, pm(n, p7))
    }.toSeq
    val got = run("t5_period_delta").collect().map { r =>
      def ol(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      (r.getDate(0).toString, r.getLong(1), ol(2), ol(3), ol(4), ol(5))
    }.toSeq
    assert(got == expect, s"deltas diverge (first 3): got ${got.take(3)}")
    // the truncation-toward-zero agreement only matters if a negative
    // delta actually occurs — pin that the fixture exercises it
    assert(got.flatMap(_._4).exists(_ < 0), "no negative DoD delta")
  }

  test("t6_moving_avg equals the in-memory sliding-frame replay with " +
    "short head frames") {
    val daily = Tables.events(spark, sfTiny)
      .groupBy(to_date(col("ts")).as("day")).count().collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).sortBy(_._1)
    val expect = daily.zipWithIndex.map { case ((d, n), i) =>
      val win = daily.slice(math.max(0, i - 6), i + 1).map(_._2)
      (d, n, win.sum, win.length.toLong, win.sum * 1000L / win.length)
    }.toSeq
    val got = run("t6_moving_avg").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect, s"moving avg diverges (first 3): ${got.take(3)}")
    // non-vacuous: the ramp AND steady-state assertions below need rows
    assert(got.size >= 7, s"day rollup too small: ${got.size} rows")
    // head rows average over fewer days; steady state is exactly 7
    assert(got.take(6).zipWithIndex.forall { case (r, i) => r._4 == i + 1 })
    assert(got.drop(6).forall(_._4 == 7L))
  }

  test("ev_concentration: Lorenz deciles conserve mass, rise " +
    "monotonically and close at 1000 permille") {
    val got = run("ev_concentration").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.length == 10 && got.map(_._1).toSeq == (1L to 10L))
    val totalEvents = Tables.events(spark, sfTiny).count()
    assert(got.map(_._3).sum == totalEvents, "decile mass lost")
    assert(got.last._4 == totalEvents && got.last._5 == 1000L)
    // cumulative shares are nondecreasing; per-decile mean volume rises
    // with the decile (the ascending ntile ordering is what makes the
    // curve a Lorenz curve — with 15 users the deciles hold 1-2 users
    // each, so a user-uniform diagonal bound does not apply at sfTiny)
    assert(got.map(_._5).toSeq == got.map(_._5).toSeq.sorted)
    val means = got.map(r => r._3.toDouble / r._2)
    assert(means.zip(means.tail).forall { case (a, b) => a <= b })
  }

  test("ev_nearest_touch equals the in-memory nearest-selection replay " +
    "and exercises both directions") {
    import operators.EventsPack.NearHorizonUs
    val ev = Tables.events(spark, sfTiny)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val touches = ev.filter(e => e._3 == "click" || e._3 == "view")
      .groupBy(_._2)
    val expect = ev.filter(_._3 == "purchase").sortBy(_._1).map {
      case (pid, u, _, pus) =>
        val cand = touches.getOrElse(u, Array.empty)
          .filter(t => math.abs(t._4 - pus) <= NearHorizonUs)
          .map { t =>
            val side = if (t._4 <= pus) 0L else 1L
            (math.abs(t._4 - pus), side,
              if (side == 0) -t._1 else t._1, t._1, t._3)
          }
        if (cand.isEmpty) (pid, None)
        else {
          val m = cand.minBy(c => (c._1, c._2, c._3))
          (pid, Some((m._4, m._5, m._1,
            if (m._2 == 0) "back" else "fwd")))
        }
    }.toSeq
    val got = run("ev_nearest_touch").collect().map { r =>
      (r.getLong(0),
        if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getString(4), r.getLong(5),
          r.getString(6))))
    }.toSeq
    assert(got == expect, s"nearest-touch diverges (first 3): " +
      s"got ${got.take(3)} expect ${expect.take(3)}")
    // both carry directions and the no-touch horizon miss must all be
    // live on the fixture, or the selection law is untested
    val dirs = got.flatMap(_._2).map(_._4).toSet
    assert(dirs == Set("back", "fwd"), s"directions exercised: $dirs")
    assert(got.exists(_._2.isEmpty),
      "no purchase misses the horizon — the NULL branch is untested")
  }

  test("io_compaction_plan equals the in-memory ordered binning, conserves " +
    "rows and keeps groups contiguous") {
    import operators.LayoutPack.CompactGroups
    val files = run("io_zorder_layout").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = files.map(_._2).sum
    val target = (total + CompactGroups - 1) / CompactGroups
    var cum = 0L
    val assign = files.map { case (f, n) =>
      val g = cum / target; cum += n; (g, f, n)
    }
    val expect = assign.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (g, xs) => (g, xs.length.toLong, xs.map(_._3).sum,
        xs.map(_._2).min, xs.map(_._2).max)
    }
    val got = run("io_compaction_plan").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"plan diverges: got $got expect $expect")
    assert(got.map(_._3).sum == total, "compaction lost rows")
    assert(got.length <= CompactGroups)
    // ordered consumption ⇒ contiguous, non-overlapping file ranges —
    // the property that preserves the z clustering through the rewrite
    got.sliding(2).foreach {
      case Seq(a, b) => assert(b._4 == a._5 + 1,
        s"group ${b._1} not contiguous after ${a._1}")
      case _ =>
    }
  }

  test("a19_winsorized_mean: clip fractions bounded by the percentile " +
    "definition and the mean sits inside the band") {
    val rows = run("a19_winsorized_mean").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (p05, p95, m) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      // strictly-below-p05 rows cannot exceed the 5% rank position
      assert(lo <= n / 20 + 1, s"${r.getString(0)}: n_clip_lo $lo of $n")
      assert(hi <= n / 20 + 1, s"${r.getString(0)}: n_clip_hi $hi of $n")
      assert(p05 <= m && m <= p95, "winsorized mean escaped the band")
    }
    // non-vacuous: the fixture actually clips something somewhere
    assert(rows.exists(r => r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("io_profile_sketch estimates land inside the HLL envelope of the " +
    "exact profile's distinct counts") {
    val exact = run("io_profile_stats").collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val est = run("io_profile_sketch").collect()
      .map(r => (r.getString(0), r.getLong(3)))
    assert(est.length == exact.size, "sketch dropped a column")
    // m = 512 → σ ≈ 4.6% in the raw regime; the tiny-cardinality columns
    // ride the (near-exact) linear-counting branch — 3σ + an absolute
    // floor of 3 covers both
    est.foreach { case (c, e) =>
      val x = exact(c)
      assert(math.abs(e - x) <= math.max(3L, (0.15 * x).toLong),
        s"$c: sketch $e vs exact $x outside the envelope")
    }
  }

  test("ev_ab_test equals the in-memory two-proportion replay and " +
    "carries non-degenerate proportions") {
    import operators.EventsPack.AbConvMin
    val ev = Tables.events(spark, sfTiny)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def parity(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ab:$u".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 2
    }
    val users = ev.groupBy(_._1).toSeq.map { case (u, xs) =>
      (parity(u),
        if (xs.exists(x => x._2 == "purchase" && x._3 >= AbConvMin)) 1L
        else 0L)
    }
    val (na, ca) = (users.count(_._1 == 0).toLong,
      users.filter(_._1 == 0).map(_._2).sum)
    val (nb, cb) = (users.count(_._1 == 1).toLong,
      users.filter(_._1 == 1).map(_._2).sum)
    val (ra, rb) = (ca.toDouble / na, cb.toDouble / nb)
    val pool = (ca + cb).toDouble / (na + nb)
    val z = (ra - rb) /
      math.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    val got = run("ev_ab_test").collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) == ((na, ca, nb, cb)))
    assert(got.getDouble(4) == ra && got.getDouble(5) == rb &&
      got.getDouble(6) == z, "z replay diverges")
    // the fixture must exercise a REAL test: both variants populated,
    // conversions strictly inside (0, n) — else the z row is vacuous
    assert(na > 0 && nb > 0 && ca > 0 && ca < na && cb > 0 && cb < nb)
  }

  test("io_profile_stats equals the in-memory column-profile replay") {
    import org.apache.spark.sql.Row
    val o = Tables.orders(spark, sfTiny).collect()
    // per column: (is_null, canonical BIGINT encoding, raw string) — the
    // same trio the unpivot builds, replayed on JVM values
    val cols: Seq[(String, Row => (Boolean, Option[Long], Option[String]))] =
      Seq(
        ("o_custkey", r => { val i = r.fieldIndex("o_custkey")
          (r.isNullAt(i), if (r.isNullAt(i)) None else Some(r.getLong(i)),
            None) }),
        ("o_orderdate", r => { val i = r.fieldIndex("o_orderdate")
          (r.isNullAt(i), if (r.isNullAt(i)) None else {
            val t = r.getAs[java.time.LocalDateTime](i)
            Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
              t.getNano / 1000L)
          }, None) }),
        ("o_orderkey", r => { val i = r.fieldIndex("o_orderkey")
          (r.isNullAt(i), if (r.isNullAt(i)) None else Some(r.getLong(i)),
            None) }),
        ("o_orderpriority", r => { val i = r.fieldIndex("o_orderpriority")
          (r.isNullAt(i), None,
            if (r.isNullAt(i)) None else Some(r.getString(i))) }),
        ("o_orderstatus", r => { val i = r.fieldIndex("o_orderstatus")
          (r.isNullAt(i), None,
            if (r.isNullAt(i)) None else Some(r.getString(i))) }),
        ("o_totalprice", r => { val i = r.fieldIndex("o_totalprice")
          (r.isNullAt(i), if (r.isNullAt(i)) None
            else Some(math.floor(r.getDouble(i) * 100).toLong), None) })
      )
    val expect = cols.map { case (name, f) =>
      val vs = o.map(f).toSeq
      val nums = vs.flatMap(_._2)
      val strs = vs.flatMap(_._3)
      val domain = vs.flatMap(v => v._3.orElse(v._2.map(_.toString)))
      (name, o.length.toLong, vs.count(_._1).toLong,
        domain.distinct.size.toLong,
        nums.minOption, nums.maxOption, strs.minOption, strs.maxOption)
    }
    val got = run("io_profile_stats").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getString(6)),
        if (r.isNullAt(7)) None else Some(r.getString(7)))).toSeq
    assert(got == expect, s"profile diverges: got $got expect $expect")
    // a profile row answers for its column: distincts bounded by non-null
    // rows, and exactly one of the num/str min-max pairs populated
    assert(got.forall(t => t._4 <= t._2 - t._3))
    assert(got.forall(t => t._5.isDefined != t._7.isDefined))
  }
}
