package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry(spark) must return
  * rows > 0 on sf0.001. Prints the row count and the first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-smoke", Some(4))
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
