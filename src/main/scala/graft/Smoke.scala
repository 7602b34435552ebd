package graft

/** Driver-style smoke check: run SparkEntry.entry and assert rows > 0.
  * Mirrors what the round driver does at t1 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start()
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    val n = df.count()
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "EMPTY"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
