package graft

/** Driver-free smoke: runs SparkEntry.entry (the flagship full profile)
  * and prints row count + a sample, mirroring the driver's t1 check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows = ${df.count()}")
    df.show(30, truncate = false)
    spark.stop()
  }
}
