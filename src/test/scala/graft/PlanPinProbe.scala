package graft

/** Dev tool: prints the current plan fingerprint for every query
  * pinned in [[PlanPinSpec]], in the exact format of its `pins` table —
  * after a DELIBERATE plan change, re-run this
  * (`sbt "Test/runMain graft.PlanPinProbe"`) and paste the new rows.
  */
object PlanPinProbe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- PlanPinSpec.pinned) {
      val dir = PlanPinSpec.pinDir.getOrElse(n, "/root/testdata/sf0.001")
      val f = PlanPinSpec.fingerprint(SparkEntry.queries(n)(spark, dir))
      println(s"""    "$n" -> $f,""")
    }
    spark.stop()
  }
}
