package graft.tools

/** Dev tool: run dd_components against a corpus dir and report the
  * large-star/small-star fixpoint round count (DedupPack.LastLssRounds)
  * plus wall time — the scale-smoke companion of the spec's ≤ 6-round
  * fixture pin (VERDICT r12 item 3: "pin iteration count"). Rounds are
  * structure-bound (O(log n) worst case, ~constant on near-clique LSH
  * components), so a count that grows with replication flags a
  * contraction bug long before the O(log² n) throw. */
object ComponentsRounds {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Engine.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    // timed through the noop sink, like Bench: count() would let column
    // pruning skip the label work; the row count is read afterwards
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries("dd_components")(spark, d)
    df.write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    val n = df.count()
    println(f"$d: ${graft.operators.DedupPack.LastHashMinRounds.get()}" +
      f" hash-min rounds (lss=${graft.operators.DedupPack.LastLssRounds.get()})," +
      f" $n labeled docs, $dt%.2f s")
    spark.stop()
  }
}
