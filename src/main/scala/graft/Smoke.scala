package graft

/** Driver-contract smoke: run the flagship `SparkEntry.entry` on sf0.001
  * and assert rows > 0 (exactly what the driver's t1 check does).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.plans.Plans.localSession("WARN", cpus = "8").getOrCreate()
    val df = SparkEntry.entry(spark)
    df.show(10, truncate = false)
    val n = df.count()
    println(s"[smoke] entry rows = $n")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
