package graft

/** The per-job-group ledger Verify and Bench install, and the subset
  * selection both mains share. */
class JobLedgerSpec extends SparkSpec {

  test("ledger bills a shared shuffle stage to the job that ran it") {
    val sc = spark.sparkContext
    // One task per partition sleeps, so group b's job is submitted while
    // group a's map stage is still running: b's job lists that stage but
    // does not run it. Group c comes after and skips the stage outright.
    val pairs = sc.parallelize(1 to 4000, 4).map { i =>
      if (i % 1000 == 0) Thread.sleep(1500)
      (i % 97, i.toLong)
    }.reduceByKey(_ + _)
    val ledger = tools.JobLedger.install(sc)
    // jobGroupsDuring returns once the listener bus has delivered every
    // event of the body's jobs, to the ledger as well
    val groups = try jobGroupsDuring("ledger-a") {
      val a = pairs.collectAsync()
      sc.setJobGroup("ledger-b", "ledger-b")
      assert(pairs.count() == 97)
      assert(a.get().length == 97)
      sc.setJobGroup("ledger-c", "ledger-c")
      assert(pairs.count() == 97)
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 1).count()
    } finally sc.removeSparkListener(ledger)
    assert(groups.filter(_.startsWith("ledger-")) ==
      Seq("ledger-a", "ledger-b", "ledger-c") && groups.contains(""), groups)

    def row(g: String) = ledger.row(g).getOrElse(fail(s"no ledger row for $g"))
    val (a, b, c) = (row("ledger-a"), row("ledger-b"), row("ledger-c"))
    // the map stage ran once, under a's job: its write is a's alone
    assert(a.shuffleWrite > 0 && a.shuffleRead > 0, a)
    assert(a.stages == 2 && a.tasks == 4 + pairs.getNumPartitions, a)
    assert(a.longestStageMs >= 1500 && a.longestStage >= 0, a)
    for (r <- Seq(b, c)) {
      assert(r.jobs == 1 && r.stages == 1, r)
      assert(r.shuffleWrite == 0 && r.shuffleRead > 0, r)
    }
    assert(row("ungrouped").jobs >= 1)
    assert(ledger.json().contains("\"ledger-a\": {\"mem_spill\""))
  }

  test("SparkEntry.select rejects an unknown query name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Set("q1_pricing_summary", "q1_pricing_sumary")))
    assert(e.getMessage.contains("unknown queries: q1_pricing_sumary"))
    assert(SparkEntry.select(Set("q1_pricing_summary")).keySet ==
      Set("q1_pricing_summary"))
  }
}
