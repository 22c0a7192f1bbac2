package graft

/** Dev-loop plan inspector: print a registered query's formatted
  * physical plan (the `.explain("formatted")` the build guide asks for
  * per operator) without writing a throwaway main each time.
  *
  * Usage: `sbt "runMain graft.Explain <queryName> [sfDir] [mode]"`
  * where mode is one of simple|extended|codegen|cost|formatted
  * (default formatted).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Explain <queryName> [sfDir] [mode]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val mode = if (args.length > 2) args(2) else "formatted"
    val spark = Tables.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    fn(spark, sfDir).explain(mode)
    spark.stop()
  }
}
