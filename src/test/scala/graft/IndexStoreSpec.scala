package graft

import graft.sim.IndexStore
import org.apache.spark.sql.DataFrame

/** Persisted index artifacts (sim.IndexStore + SimilarityPack's `_indexed`
  * queries): the plans must SCAN the saved artifact instead of recomputing
  * buckets/centroids, results must equal the inline recompute variants,
  * and a changed corpus must fail the freshness gate. */
class IndexStoreSpec extends SparkSpec {

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfTiny)

  private def planOf(name: String): String = {
    val df = run(name)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("indexed ANN plans scan the saved artifact, not a recompute") {
    // NOTE: FileScan Location strings truncate at ~100 chars, so match the
    // artifact-root fragment plus the (possibly truncated) index name
    val km = planOf("ann_kmeans_indexed")
    assert(km.contains("graft_indexes") && km.contains("angular_ivf_kmean"),
      s"kmeans plan should scan the saved index:\n$km")
    // centroid training explodes the embeddings (posexplode) — the indexed
    // query path must not contain it
    assert(!km.contains("posexplode"),
      s"kmeans plan recomputes centroids:\n$km")
    val lsh = planOf("ann_lsh_indexed")
    assert(lsh.contains("graft_indexes") && lsh.contains("angular_lsh"),
      s"lsh plan should scan the saved index:\n$lsh")
    // corpus bucket keys are built by concatenating sign bits — the
    // indexed query path loads them instead
    assert(!lsh.contains("concat"),
      s"lsh plan recomputes bucket keys:\n$lsh")
    val tuned = planOf("ann_tuned_indexed")
    assert(tuned.contains("graft_indexes") &&
      tuned.contains("angular_ivf_tuned"),
      s"tuned plan should scan the saved index:\n$tuned")
    // Lloyd training recomputes centroids via posexplode — the serve path
    // must not contain it (saved members only)
    assert(!tuned.contains("posexplode"),
      s"tuned plan retrains the quantizer:\n$tuned")
    // the artifact carries the vectors (Annoy-style), so the serve path
    // must not scan the corpus table at all
    assert(!tuned.contains("embeddings"),
      s"tuned plan re-joins the corpus:\n$tuned")
    val pq = planOf("ann_pq_indexed")
    assert(pq.contains("graft_indexes") && pq.contains("angular_pq"),
      s"pq plan should scan the saved index:\n$pq")
    assert(!pq.contains("embeddings"),
      s"pq plan re-joins the corpus:\n$pq")
    val s8 = planOf("ann_sq8")
    assert(s8.contains("graft_indexes") && s8.contains("angular_sq8"),
      s"sq8 plan should scan the saved codes:\n$s8")
    // the artifact carries codes + ranges + norms + re-rank vectors, so
    // the serve path must not scan the corpus table at all
    assert(!s8.contains("embeddings"),
      s"sq8 plan re-quantizes the corpus:\n$s8")
    val vq = planOf("ann_ivfpq_indexed")
    assert(vq.contains("graft_indexes") && vq.contains("angular_ivfpq"),
      s"ivfpq plan should scan the saved index:\n$vq")
    // no training and no corpus scan in the serve path: the ivfpq
    // artifact carries the cell-carrying codes, and the centroids,
    // vectors and codebooks come from its tuned and pq parents. (The
    // query-side LUT legitimately explodes the 10 query vectors — same as
    // pq — so a blanket no-posexplode assert would be wrong here.)
    assert(!vq.contains("embeddings"),
      s"ivfpq plan re-joins the corpus:\n$vq")
  }

  test("indexed results equal the inline recompute variants") {
    // the kmeans inline anchor retired from the suite (r14 audit — its
    // full training-chain oracle moved onto ann_kmeans_indexed); the
    // served-equals-recomputed pin drives the trainer frame directly
    assert(run("ann_kmeans_indexed").collect().map(_.toString).toSeq ==
      operators.SimilarityPack.kmeansTopk(spark, sfTiny, k = 5)
        .collect().map(_.toString).toSeq)
    assert(run("ann_lsh_indexed").collect().map(_.toString).toSeq ==
      run("ann_lsh_multitable").collect().map(_.toString).toSeq)
    assert(run("ann_tuned_indexed").collect().map(_.toString).toSeq ==
      run("ann_ivf_tuned").collect().map(_.toString).toSeq)
    // pq/ivfpq inline anchors retired (r15 audit — their full oracles
    // moved onto the _indexed rows); the pins drive the trainers directly
    assert(run("ann_pq_indexed").collect().map(_.toString).toSeq ==
      operators.SimilarityPack.pqTopk(spark, sfTiny)
        .collect().map(_.toString).toSeq)
    assert(run("ann_ivfpq_indexed").collect().map(_.toString).toSeq ==
      operators.SimilarityPack.ivfPqTopk(spark, sfTiny)
        .collect().map(_.toString).toSeq)
    // sq8's suite row serves the persisted codes (r16); the pin drives
    // the inline quantization chain directly
    assert(run("ann_sq8").collect().map(_.toString).toSeq ==
      operators.SimilarityPack.sq8Topk(spark, sfTiny)
        .collect().map(_.toString).toSeq)
  }

  test("sq8's inline quantization chain survives ONLY as the " +
    "served==inline pin's driver — no suite row routes through it") {
    // VERDICT r16 #7: sq8Topk (the inline trainer) was retained when
    // ann_sq8 moved to the persisted-codes artifact, solely so the pin
    // above can assert served == inline. Keep it out of the suite: the
    // only sq8 row is ann_sq8, and its plan is asserted (first test) to
    // scan the saved codes with no embeddings scan — an inline chain
    // reappearing under a new name would surface here by name.
    assert(SparkEntry.queries.keySet.filter(_.contains("sq8")) ==
      Set("ann_sq8"),
      "unexpected sq8 suite rows — re-argue the retirement in SURVEY")
  }

  test("a changed corpus fails the freshness gate and forces a rebuild") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val params = "probe=freshness_v1"
    val ph = IndexStore.paramsHash(params)
    val name = "freshness_probe"
    def build(q: String): Unit =
      Seq(("m", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params)(build)
    val p = IndexStore.path(sfTiny, name)
    assert(IndexStore.isFresh(spark, p, fp, ph))
    // simulate corpus drift: the manifest now claims a different corpus
    IndexStore.writeManifest(spark, p, (fp._1 - 1, fp._2, fp._3), ph)
    assert(!IndexStore.isFresh(spark, p, fp, ph))
    // an IN-PLACE edit (same count, same max key, different values) is
    // caught by the content component of the fingerprint
    IndexStore.writeManifest(spark, p, fp, ph)
    assert(IndexStore.isFresh(spark, p, fp, ph))
    IndexStore.writeManifest(spark, p, (fp._1, fp._2, fp._3 ^ 1L), ph)
    assert(!IndexStore.isFresh(spark, p, fp, ph))
    // a BUILD-CONSTANT change with an unchanged corpus is caught by the
    // params hash — under the stable cross-process root this is what
    // prevents prior-run artifacts built by different constants from
    // serving silently
    IndexStore.writeManifest(spark, p, fp,
      IndexStore.paramsHash("lloyd=2,cap=999"))
    assert(!IndexStore.isFresh(spark, p, fp, ph))
    IndexStore.writeManifest(spark, p, (fp._1 - 1, fp._2, fp._3), ph)
    // ensure() sees the mismatch, rebuilds (whole artifact — rename
    // semantics replace the directory), and restamps the manifest. The
    // drifted manifest stands in for another process's writer, so the
    // observing gate is a cold one (r17 in-session stamp memo).
    IndexStore.resetFingerprintMemo()
    var rebuilt = false
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      rebuilt = true; build(q)
    }
    assert(rebuilt)
    assert(IndexStore.isFresh(spark, p, fp, ph))
    assert(spark.read.parquet(s"$p/member").count() == 1)
  }

  test("concurrent ensure on the same artifact builds exactly once") {
    // the per-path lock contract behind the prepare fan-out: racing
    // threads on ONE artifact serialize, the losers see the winner's
    // fresh manifest and skip the build (a nanoTime params salt forces
    // exactly one rebuild per test run under the stable root)
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"probe=${System.nanoTime()}"
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          IndexStore.ensure(spark, sfTiny, "concurrency_probe", emb,
            "vec_id", params) { p =>
            builds.incrementAndGet()
            emb.limit(1).write.mode("overwrite").parquet(s"$p/member")
          }
          ()
        }
      }))
      futs.foreach(_.get())
    } finally pool.shutdown()
    assert(builds.get() == 1,
      s"expected exactly one build under concurrent ensure, got ${builds.get()}")
  }

  test("an older manifest layout reads as stale, not as an error") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val params = "probe=layout_v1"
    val ph = IndexStore.paramsHash(params)
    val name = "layout_probe"
    val p = IndexStore.path(sfTiny, name)
    def build(q: String): Unit =
      Seq(("m", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params)(build)
    // simulate an artifact persisted by the pre-params-hash 3-column
    // manifest format (plausible on shared storage across engine versions):
    // the freshness gate must degrade to a rebuild, not throw. The writer
    // is by construction ANOTHER process/engine version, so the observing
    // gate is a cold one (r17: in-session proved stamps are memoized).
    Seq((fp._1, fp._2, fp._3))
      .toDF("corpus_rows", "max_id", "content_hash").coalesce(1)
      .write.mode("overwrite").parquet(s"$p/manifest")
    IndexStore.resetFingerprintMemo()
    assert(!IndexStore.isFresh(spark, p, fp, ph))
    var rebuilt = false
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      rebuilt = true; build(q)
    }
    assert(rebuilt)
    assert(IndexStore.isFresh(spark, p, fp, ph))
  }

  test("crash-window audit: a build killed mid-way never touches the " +
    "TARGET — the rename invariant (r16): the previous artifact keeps " +
    "serving, the tmp dir is swept, the next ensure rebuilds") {
    // r14 pinned "a partial artifact is never served" via the manifest-
    // last ordering; the r16 atomic-rename commit strengthens it: a crash
    // anywhere inside build() leaves the target directory EXACTLY as it
    // was (old artifact intact and serving), with the partial members
    // stranded in a tmp sibling that the next committer sweeps.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"crash=${System.nanoTime()}"
    val name = "crash_probe"
    val p = IndexStore.path(sfTiny, name)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val ph = IndexStore.paramsHash(params)
    // 1) commit a good artifact, then crash a rebuild (params change)
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      Seq(("v1", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    val params2 = s"$params,gen=2"
    val boom = intercept[RuntimeException] {
      IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params2) { q =>
        // the old artifact must STILL be serving while this build runs
        assert(spark.read.parquet(s"$p/member").select("tag").head()
          .getString(0) == "v1", "old artifact unreadable during rebuild")
        // and the build target must be a tmp sibling, never p itself
        assert(q != p && q.startsWith(s"$p.build-"),
          s"build got the live path: $q")
        Seq(("partial", 1L)).toDF("tag", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
        throw new RuntimeException("injected kill between member and manifest")
      }
    }
    assert(boom.getMessage.contains("injected kill"))
    // 2) target untouched: the OLD artifact is still fresh under its own
    // params and still reads v1 — the crash destroyed nothing
    assert(IndexStore.isFresh(spark, p, fp, ph),
      "a crashed rebuild must leave the previous artifact serving")
    assert(spark.read.parquet(s"$p/member").select("tag").head().getString(0)
      == "v1")
    assert(!IndexStore.isFresh(spark, p, fp, IndexStore.paramsHash(params2)),
      "the new params must still read stale — nothing was committed")
    // 3) the next ensure rebuilds, commits atomically, and sweeps the
    // abandoned tmp dir. An in-process exception is cleaned by
    // commitBuild's own finally, so simulate the REAL abandonment mode —
    // a killed process whose finally never ran — by planting a tmp
    // sibling by hand. The sweep has a GRACE window (r18): a tmp younger
    // than SweepGraceMs is a possibly-LIVE concurrent builder and
    // survives — so first prove the young tmp is NOT swept, then age it
    // past the grace (a real crashed tmp is old by the time anything
    // rebuilds — the fingerprint gate only sends writers here on drift)
    // and prove it IS.
    val orphan = new java.io.File(s"$p.build-deadbeef")
    assert(orphan.mkdirs(), s"could not plant orphan tmp at $orphan")
    new java.io.File(orphan, ".build_intact").createNewFile()
    IndexStore.commitBuild(spark, p) { q =>
      Seq(("probe", 0L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
      IndexStore.writeManifest(spark, q, fp, IndexStore.paramsHash("probe"))
    }
    assert(orphan.exists(),
      "a young (possibly-live) foreign tmp must survive the sweep")
    orphan.setLastModified(System.currentTimeMillis - 16L * 60 * 1000)
    var rebuilt = false
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params2) { q =>
      rebuilt = true
      Seq(("complete", 2L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(rebuilt, "next ensure served the crashed build's leftovers")
    assert(IndexStore.isFresh(spark, p, fp, IndexStore.paramsHash(params2)))
    assert(spark.read.parquet(s"$p/member").select("tag").head().getString(0)
      == "complete")
    val leftovers = new java.io.File(p).getParentFile.listFiles()
      .filter(_.getName.startsWith(s"$name.build-"))
    assert(leftovers.isEmpty,
      s"abandoned tmp dirs not swept: ${leftovers.mkString(", ")}")
  }

  test("observed cross-process contention invalidates the session " +
    "freshness memo — the next ensure re-proves instead of serving the " +
    "memoized stamp (ADVICE r17)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"memo=${System.nanoTime()}"
    val name = "memo_probe"
    val p = IndexStore.path(sfTiny, name)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    // 1) prove fresh — the session memo now carries (fp, ph) for p
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      Seq(("v1", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    // 2) a concurrent-process writer REPLACES the artifact with
    // different inputs while leaving race evidence (its own tmp dir);
    // this process's committer observes the foreign tmp and must drop
    // its memo entry for the path
    val foreign = new java.io.File(s"$p.build-f0e1gn00")
    assert(foreign.mkdirs())
    IndexStore.commitBuild(spark, p) { q =>
      Seq(("other", 9L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
      IndexStore.writeManifest(spark, q, fp,
        IndexStore.paramsHash("other-writer-params"))
    }
    foreign.delete()
    // 3) the next ensure must RE-PROVE freshness (the artifact now
    // stamps foreign params → stale) and rebuild — a still-memoized
    // stamp would silently serve the foreign artifact instead
    var rebuilt = false
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      rebuilt = true
      Seq(("v2", 2L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(rebuilt, "memoized freshness served a foreign artifact after " +
      "observed contention")
    assert(spark.read.parquet(s"$p/member").select("tag").head()
      .getString(0) == "v2")
  }

  test("cross-process commit seam: a second writer committing mid-build " +
    "does not corrupt — last rename wins and the survivor is complete") {
    // Two DRIVER PROCESSES sharing one root cannot see each other's
    // buildLocks; the atomic-rename commit is what keeps them safe. The
    // seam: while ensure()'s build runs, a direct commitBuild (bypassing
    // the JVM lock, exactly what a second process does) commits a full
    // artifact for the same inputs. ensure's writer then renames over it;
    // both artifacts pass the same fingerprint gate, so the survivor is
    // complete and fresh either way.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"race=${System.nanoTime()}"
    val name = "race_probe"
    val p = IndexStore.path(sfTiny, name)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val ph = IndexStore.paramsHash(params)
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      // "second process" commits first, whole-artifact, same fp/ph
      val won = IndexStore.commitBuild(spark, p) { tmp =>
        Seq(("writer2", 1L)).toDF("tag", "v")
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/member")
        IndexStore.writeManifest(spark, tmp, fp, ph)
      }
      assert(won, "seam writer's rename should succeed on an empty target")
      assert(IndexStore.isFresh(spark, p, fp, ph))
      // first writer keeps building, unaware
      Seq(("writer1", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    // last rename won; the artifact is whole, fresh, and one of the two
    assert(IndexStore.isFresh(spark, p, fp, ph))
    val tag = spark.read.parquet(s"$p/member").select("tag").head().getString(0)
    assert(tag == "writer1" || tag == "writer2")
    // and no tmp garbage survived either writer
    val leftovers = new java.io.File(p).getParentFile.listFiles()
      .filter(_.getName.startsWith(s"$name.build-"))
    assert(leftovers.isEmpty,
      s"tmp dirs leaked by the race: ${leftovers.mkString(", ")}")
  }

  test("ensureVersioned: the O(1) gate needs NO corpus — same version " +
    "serves, bumped version rebuilds, params changes rebuild") {
    // The deployment alternative to the fingerprint scan: an
    // authoritative corpus version (ingest-ledger head / snapshot id)
    // stamps the manifest. The API takes no corpus frame at all — THAT
    // is the O(1) claim: resolving a fresh artifact is one manifest
    // read, no scan, at any corpus size.
    import spark.implicits._
    val name = "versioned_probe"
    val params = s"v=${System.nanoTime()}"
    var builds = 0
    def resolve(version: Long): String =
      IndexStore.ensureVersioned(spark, sfTiny, name, version, params) { q =>
        builds += 1
        Seq((version, 1L)).toDF("ver", "x")
          .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
      }
    val p = resolve(1L)
    assert(builds == 1)
    resolve(1L) // same version: manifest read only, no rebuild
    assert(builds == 1)
    assert(spark.read.parquet(s"$p/member").select("ver").head()
      .getLong(0) == 1L)
    resolve(2L) // corpus moved: the stamp mismatch forces the rebuild
    assert(builds == 2)
    assert(spark.read.parquet(s"$p/member").select("ver").head()
      .getLong(0) == 2L)
    // build-constant change at the same version rebuilds too (paramsHash)
    IndexStore.ensureVersioned(spark, sfTiny, name, 2L, s"$params,k=2") {
      q =>
        builds += 1
        Seq((2L, 2L)).toDF("ver", "x")
          .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(builds == 3)
  }

  test("the store control plane works on an explicit URI path (file:///)") {
    // The env-bound root is exercised end-to-end by the URI-root drive
    // (BASELINE r16); this pins the URI CODE PATH in-suite: isFresh's
    // existence probe, commitBuild's mkdirs/sweep/rename, and the
    // manifest read all resolve the path's Hadoop FileSystem — a
    // java.io.File regression would read the URI as always-absent
    // (rebuild-every-access) or throw on mkdirs.
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_uri_probe").toString
    val p = s"file://$base/art/uri_probe"
    val emb = Tables.embeddings(spark, sfTiny)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val ph = IndexStore.paramsHash("uri=1")
    assert(!IndexStore.isFresh(spark, p, fp, ph))
    val won = IndexStore.commitBuild(spark, p) { tmp =>
      // Hadoop Path normalizes file://p to the single-slash URI form
      assert(tmp.startsWith("file:/"), s"tmp lost its scheme: $tmp")
      Seq(("m", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/member")
      IndexStore.writeManifest(spark, tmp, fp, ph)
    }
    assert(won, "rename refused on an empty URI target")
    assert(IndexStore.isFresh(spark, p, fp, ph))
    assert(spark.read.parquet(s"$p/member").count() == 1)
    // the POSIX view agrees: the artifact landed where the URI says
    assert(new java.io.File(s"$base/art/uri_probe/member").exists())
  }

  test("crash-window audit: a manifest directory torn by a mid-write kill " +
    "reads as stale (never throws) and the next ensure rebuilds over it") {
    // The other half of the window: writeManifest's overwrite stages into
    // the manifest DIRECTORY; a kill there leaves the directory present
    // but with no committed parquet. isFresh must treat unreadable as
    // stale — before round 15 this THREW for every subsequent reader,
    // wedging the artifact until a human deleted it.
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"torn=${System.nanoTime()}"
    val name = "torn_manifest_probe"
    val p = IndexStore.path(sfTiny, name)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val ph = IndexStore.paramsHash(params)
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      Seq(("complete", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(IndexStore.isFresh(spark, p, fp, ph))
    // tear the manifest: directory exists, no committed parquet inside.
    // The tear models a kill in ANOTHER committer process, so the
    // observing gate is a cold one (r17 in-session stamp memo).
    val mDir = new java.io.File(s"$p/manifest")
    mDir.listFiles().foreach(f => assert(f.delete(), s"could not clear $f"))
    assert(mDir.exists() && mDir.listFiles().isEmpty)
    IndexStore.resetFingerprintMemo()
    assert(!IndexStore.isFresh(spark, p, fp, ph),
      "a torn manifest must read as stale, not throw")
    var rebuilt = false
    IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params) { q =>
      rebuilt = true
      Seq(("complete", 2L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(rebuilt, "ensure served an artifact with a torn manifest")
    assert(IndexStore.isFresh(spark, p, fp, ph))
  }

  test("a warm artifact serves with zero Spark jobs at construction: " +
    "harvested ids, memoized member schemas") {
    import spark.implicits._
    import operators.SimilarityPack
    val sc = spark.sparkContext
    val p = SimilarityPack.ensureTunedIndex(spark, sfTiny)
    def build(): Unit = {
      val ids = Seq(3L, 17L, 42L).toDF("vec_id")
      SimilarityPack.indexedTopkFor(spark, sfTiny, ids)
      SimilarityPack.ivfPqTopkFor(spark, sfTiny, ids)
      SimilarityPack.composedServeAt(spark, p, ids,
        SimilarityPack.ComposedDefaultParams)
      ()
    }
    build() // warm: resolves the artifacts and their member schemas
    // jobs are counted by job group (thread-local, so other threads'
    // jobs never count)
    val jobs = jobsIn(s"warm-probe-${System.nanoTime()}")(build())
    assert(jobs == 0, s"building warm serve frames launched $jobs Spark jobs")
  }

  /** Spark jobs this thread launched while `body` ran. */
  private def jobsIn(group: String)(body: => Unit): Int =
    jobGroupsDuring(group)(body).count(_ == group)

  private def ttlProbe(name: String, corpus: DataFrame, ttlMs: Long)(
      build: String => Unit): String =
    IndexStore.ensureTtl(spark, sfTiny, name, corpus, "event_id", ttlMs,
      "spec=v1")(build)

  private def statsCorpus: DataFrame = Tables.events(spark, sfTiny)
    .select("event_id", "ts", "user_id", "value")

  test("ensureTtl: within-TTL ensures serve, expiry rebuilds") {
    val corpus = statsCorpus
    def ens(ttl: Long) = ttlProbe("ttl_spec_probe", corpus, ttl) { p =>
      spark.range(1).write.mode("overwrite").parquet(s"$p/stats")
    }
    ens(60000L) // build (or a prior run's still-fresh artifact)
    val base = IndexStore.buildsRun.get()
    ens(60000L)
    assert(IndexStore.buildsRun.get() == base,
      "second ensure within the TTL must serve, not rebuild")
    // a ttl change re-keys the params hash -> rebuild, stamping built_at
    ens(20L)
    val afterRekey = IndexStore.buildsRun.get()
    assert(afterRekey == base + 1)
    Thread.sleep(60)
    ens(20L) // 60 ms old > 20 ms TTL: redis-style expiry forces recompute
    assert(IndexStore.buildsRun.get() == afterRekey + 1,
      "ensure past the TTL must rebuild")
    // corpus-fingerprint invalidation (the strictly-fresher-than-redis
    // half): with name/ttl/params all UNCHANGED from a fresh in-TTL
    // build, a different corpus must rebuild immediately
    ens(60000L) // re-key back to ttl=60000 and stamp a fresh build
    val before = IndexStore.buildsRun.get()
    ens(60000L)
    assert(IndexStore.buildsRun.get() == before, "control: in-TTL hit")
    ttlProbe("ttl_spec_probe", corpus.limit(10), 60000L) { p =>
      spark.range(1).write.mode("overwrite").parquet(s"$p/stats")
    }
    assert(IndexStore.buildsRun.get() == before + 1,
      "a changed corpus fingerprint must invalidate inside the TTL")
  }

  test("ensureTtl: an in-TTL hit launches no Spark job") {
    val corpus = statsCorpus
    val name = s"ttl_jobs_${System.nanoTime()}"
    def ens(ttl: Long) = ttlProbe(name, corpus, ttl) { p =>
      spark.range(1).write.mode("overwrite").parquet(s"$p/stats")
    }
    ens(60000L) // builds, and memoizes the fingerprint and the stamp
    val jobs = jobsIn(s"ttl-hit-${System.nanoTime()}")(ens(60000L))
    assert(jobs == 0, s"an in-TTL hit launched $jobs Spark jobs")
    // past the TTL the warm memo must not serve: the call falls back to
    // the manifest, which is just as expired, and rebuilds
    ens(20L)
    val b0 = IndexStore.buildsRun.get()
    Thread.sleep(60)
    ens(20L)
    assert(IndexStore.buildsRun.get() == b0 + 1,
      "a call past the TTL served from a warm memo")
  }

  test("a 4-column manifest is fresh untimed, stale under a TTL") {
    // manifests written before `built_at_ms` existed carry four columns;
    // the unbounded gates keep serving them, only an age bound needs it
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val fp = IndexStore.fingerprint(emb, "vec_id")
    val tag = System.nanoTime()
    def member(q: String): Unit = Seq(("m", 1L)).toDF("tag", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    def plant(p: String, stamp: (Long, Long, Long), params: String): Unit =
      assert(IndexStore.commitBuild(spark, p) { q =>
        member(q)
        Seq((stamp._1, stamp._2, stamp._3, IndexStore.paramsHash(params)))
          .toDF("corpus_rows", "max_id", "content_hash", "params_hash")
          .coalesce(1).write.mode("overwrite").parquet(s"$q/manifest")
      })
    var builds = 0
    def counted(q: String): Unit = { builds += 1; member(q) }
    val scanned = s"old_layout_$tag"
    plant(IndexStore.path(sfTiny, scanned), fp, "p=1")
    IndexStore.ensure(spark, sfTiny, scanned, emb, "vec_id", "p=1")(counted)
    val versioned = s"old_layout_v_$tag"
    plant(IndexStore.path(sfTiny, versioned), (7L, -1L, -1L), "p=1")
    IndexStore.ensureVersioned(spark, sfTiny, versioned, 7L, "p=1")(counted)
    assert(builds == 0, "a 4-column manifest must serve the unbounded gates")
    val timed = s"old_layout_t_$tag"
    val cfp = IndexStore.fingerprint(statsCorpus, "event_id")
    plant(IndexStore.path(sfTiny, s"ttl_$timed"), cfp, "spec=v1,ttl=60000")
    ttlProbe(timed, statsCorpus, 60000L)(counted)
    assert(builds == 1, "a 4-column manifest has no build time to age")
  }

  test("a rebuild on a changed corpus re-resolves member schemas: reads " +
    "serve the new artifact, never a stale memo") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"schema=${System.nanoTime()}"
    val name = "schema_memo_probe"
    val small = emb.filter($"vec_id" < 100)
    val p1 = IndexStore.ensure(spark, sfTiny, name, small, "vec_id",
      params) { q =>
      Seq(("v1", 1L)).toDF("tag", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(IndexStore.member(spark, p1, "member").as[(String, Long)]
      .collect().toSeq == Seq(("v1", 1L)))
    // the corpus changes: the gate rebuilds at the SAME path, and the new
    // member has a different schema
    val p2 = IndexStore.ensure(spark, sfTiny, name, emb, "vec_id",
      params) { q =>
      Seq(("v2", 2L, 2.5)).toDF("tag", "v", "w")
        .coalesce(1).write.mode("overwrite").parquet(s"$q/member")
    }
    assert(p2 == p1)
    val served = IndexStore.member(spark, p2, "member")
    assert(served.columns.toSeq == Seq("tag", "v", "w"))
    assert(served.as[(String, Long, Double)].collect().toSeq ==
      Seq(("v2", 2L, 2.5)))
  }

  test("a rebuild on a changed corpus re-harvests centroids: probes score " +
    "the new ones") {
    import spark.implicits._
    import operators.SimilarityPack
    val emb = Tables.embeddings(spark, sfTiny)
    val params = s"harvest=${System.nanoTime()}"
    val name = "centroid_memo_probe"
    def build(cents: Seq[(Long, Seq[Long], Double)])(q: String): Unit =
      cents.toDF("cell", "cv", "cnrm").coalesce(1).write.mode("overwrite")
        .parquet(s"$q/centroids")
    val (x, y) = (Seq(1L, 0L), Seq(0L, 1L))
    // one query on the y axis: it probes the cell whose centroid is y first
    val q = Seq((0L, Seq(0L, 5L), 5.0)).toDF("query_id", "qiv", "qnrm")
    def probed(p: String): Seq[Long] =
      q.select(SimilarityPack.tunedProbe(
        SimilarityPack.tunedCentroidsAt(spark, p))).head().getSeq[Long](0)
    val p1 = IndexStore.ensure(spark, sfTiny, name,
      emb.filter($"vec_id" < 100), "vec_id", params)(
      build(Seq((1L, x, 1.0), (2L, y, 1.0))))
    assert(probed(p1) == Seq(2L, 1L))
    // the corpus changes: the gate rebuilds at the SAME path with the
    // centroids swapped, and the probes follow them
    val p2 = IndexStore.ensure(spark, sfTiny, name, emb, "vec_id", params)(
      build(Seq((1L, y, 1.0), (2L, x, 1.0))))
    assert(p2 == p1)
    assert(probed(p2) == Seq(1L, 2L))
  }

  test("coverage gate: after SparkEntry.prepare no query builds an " +
    "artifact") {
    import java.nio.file.{Files, Paths}
    // layouts and artifact paths key on the corpus dir, so a copy of
    // sfTiny starts with neither: every artifact a query serves from must
    // come from a SparkEntry.artifacts family, or it builds below
    val src = Paths.get(sfTiny)
    val copy = Files.createTempDirectory("graft_coverage")
    val files = Files.list(src)
    try files.forEach(f => Files.copy(f, copy.resolve(f.getFileName)))
    finally files.close()
    val d = copy.toString
    val root = new org.apache.hadoop.fs.Path(IndexStore.path(d, "x")).getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def built(): Set[String] =
      if (!fs.exists(root)) Set.empty
      else fs.listStatus(root).map(_.getPath.getName).toSet
    try {
      SparkEntry.prepare(spark, Seq(d))
      val prepared = built()
      val builders = SparkEntry.queries.toSeq.sortBy(_._1).filter {
        case (_, fn) =>
          val b0 = IndexStore.buildsRun.get()
          fn(spark, d).write.format("noop").mode("overwrite").save()
          val b = IndexStore.buildsRun.get() != b0
          // roll a build back, so every later user of the family is named
          for (name <- built() -- prepared; p = IndexStore.path(d, name)) {
            fs.delete(new org.apache.hadoop.fs.Path(p), true)
            IndexStore.forget(p)
          }
          b
      }.map(_._1)
      assert(builders.isEmpty, "queries that built an artifact after " +
        s"prepare: ${builders.mkString(", ")}")
    } finally {
      fs.delete(root, true)
      org.apache.commons.io.FileUtils.deleteDirectory(copy.toFile)
    }
  }

  test("registry shape: every named parent is a family that names no " +
    "parent, so prepare's two waves suffice") {
    val byName = SparkEntry.artifacts.map(f => f.name -> f).toMap
    assert(byName.size == SparkEntry.artifacts.size, "duplicate family name")
    val children = SparkEntry.artifacts.filter(_.parents.nonEmpty)
    assert(children.map(_.name).toSet == Set("ivfpq", "bigram_lm"))
    for (f <- children; p <- f.parents)
      assert(byName.get(p).exists(_.parents.isEmpty),
        s"${f.name} names $p, which is not a family without parents")
  }

  test("child artifacts follow their parents: after the corpus shrinks, " +
    "served IVF-PQ and bigram rows equal the inline rows") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import operators.{SimilarityPack, TextPack}
    // a fresh copy of sfTiny, so its artifacts and layouts are its own
    val copy = Files.createTempDirectory("graft_lineage")
    val files = Files.list(Paths.get(sfTiny))
    try files.forEach(f => Files.copy(f, copy.resolve(f.getFileName)))
    finally files.close()
    val d = copy.toString
    val root = new org.apache.hadoop.fs.Path(IndexStore.path(d, "x")).getParent
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = Seq(3L, 17L, 42L).toDF("vec_id")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    def served(): Unit = {
      val vq = rows(SimilarityPack.ivfPqTopkFor(spark, d, ids))
      assert(vq.nonEmpty && vq == rows(SimilarityPack.ivfPqTopk(spark, d,
        SimilarityPack.querySetOf(ids))), "ivfpq served != inline")
      val lm = rows(SparkEntry.queries("tx_bigram_ppl_indexed")(spark, d))
      assert(lm.nonEmpty &&
        lm == rows(SparkEntry.queries("tx_bigram_ppl")(spark, d)),
        "bigram served != inline")
    }
    // replace the copy's embeddings and documents with the source rows
    // whose key passes `keep`, and drop their layouts and session memos
    def shrink(keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
        : Unit = {
      for ((t, k) <- Seq("embeddings" -> "vec_id", "documents" -> "doc_id")) {
        Tables.table(spark, sfTiny, t).filter(keep(col(k)))
          .write.mode("overwrite").parquet(s"$d/$t.parquet")
        spark.sql(s"DROP TABLE IF EXISTS ${Tables.ident(d, t)}")
      }
      IndexStore.resetFingerprintMemo()
    }
    try {
      // parents first, as SparkEntry.prepare's waves build them
      SimilarityPack.ensureTunedIndex(spark, d)
      SimilarityPack.ensurePqIndex(spark, d)
      TextPack.ensureLmIndex(spark, d)
      served()
      shrink(k => k % 5 =!= 4)
      served() // serving meets all five artifacts stale
      shrink(k => k % 5 =!= 4 && k % 7 =!= 6)
      // a child ensured before its parents must rebuild them first
      SimilarityPack.ensureIvfPqIndex(spark, d)
      TextPack.ensureBigramLmIndex(spark, d)
      served()
    } finally {
      fs.delete(root, true)
      org.apache.commons.io.FileUtils.deleteDirectory(copy.toFile)
    }
  }
}
