package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (round 14): steady-state A/B timings for named queries —
  * each query runs `reps` times in one JVM and every rep is printed,
  * so JIT/codegen warm-up (rep 1) separates from the steady state
  * (reps 2+); with reps=1 the steady line repeats rep 1. `graft.Bench`
  * stays the contract; this exists to judge optimization deltas
  * without first-execution noise.
  *
  * Usage: tools/run.sh graft.AbBench <sfDir> <reps> q1,q2,...
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 64L * 1000 * 1000, 1L, 32)
        .select(org.apache.spark.sql.functions.bit_xor(
          org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("id")))).head()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[ab] canary ${canary()}%.3f")
    names.foreach { n =>
      val secs = (1 to reps).map { r =>
        spark.sparkContext.setJobDescription(s"$n rep$r")
        val t0 = System.nanoTime()
        val cnt = SparkEntry.queries(n)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[ab] $n%-30s rep$r $sec%8.2f s ($cnt rows)")
        sec
      }
      val (steady, over) =
        if (reps > 1) (secs.drop(1).min, s"min of reps 2..$reps") else (secs.head, "rep 1")
      System.err.println(f"[ab] $n%-30s steady $steady%8.2f s " +
        f"($over; canary ${canary()}%.3f)")
    }
    spark.stop()
  }
}
