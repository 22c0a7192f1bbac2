package graft

/** Local replica of the driver's t1 smoke: run [[SparkEntry.entry]] on
  * sf0.001 and require rows > 0. Dev surface only.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Tables.session("4")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n ${if (n > 0) "OK" else "EMPTY — FAIL"}")
    spark.stop()
    if (n == 0) sys.exit(1)
  }
}
