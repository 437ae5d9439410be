package graft.tools

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Dev harness behind BASELINE.md's skew-join measurements: times the
  * plain shuffle join (with and without AQE's runtime skew handling)
  * against the PLANNED guards — hot-broadcast [[Skew.skewGuardedJoin]]
  * and [[Skew.saltReplicatedJoin]] — on SPARK_GRAFT_SF_DIR's
  * events ⋈ customer with auto-broadcast off (at 100 TB neither side
  * auto-broadcasts; the guard's whole point is the no-broadcast regime).
  * Run against a deliberately skewed corpus (see BASELINE.md recipe:
  * half of all events reassigned to one user). Best of 2 runs through
  * the noop sink (as Bench times); the row count is taken untimed. */
object SkewJoinSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.Engine.session(cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ev = graft.Tables.events(spark, sfDir)
    val cust = graft.Tables.customer(spark, sfDir)
    def time(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val best = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[skewsmoke] $name%-22s best=$best%6.2fs rows=${df.count()}")
    }
    def plain = ev.join(cust, col("user_id") === col("c_custkey"))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("plain_no_aqe_skew")(plain)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("plain_aqe_skew")(plain)
    time("skew_guarded")(Skew.skewGuardedJoin(ev, cust,
      col("user_id"), col("c_custkey"), k = 16))
    time("salt_replicated")(Skew.saltReplicatedJoin(ev, cust,
      col("user_id"), col("c_custkey"), col("event_id"),
      k = 16, buckets = 16))
    spark.stop()
  }
}
