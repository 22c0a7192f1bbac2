package graft

/** Dev-loop micro-bench for the optimization rounds: time a named
  * subset of the registry under the EXACT Bench session shape
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions = cpus, warmed JVM)
  * without paying a full 374-query pass per data point.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.TimeQ q118 q237"`
  *  - names may be short prefixes (q118) or full registry names;
  *  - `GRAFT_REPS` (default 2) runs per query — all reps printed, so
  *    warm-vs-cold and staging effects stay visible;
  *  - `GRAFT_PLAN_DIR`: also write `<name>.txt` explain("formatted")
  *    per query (plan evidence for plans/r14/).
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQ <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_REPS", "2").toInt
    val planDir = sys.env.get("GRAFT_PLAN_DIR")
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    Bench.warmUpReadWrite(spark, sfDir)
    val byShort = SparkEntry.queries.keys.toSeq
      .groupBy(n => n.takeWhile(_ != '_'))
    val names = args.toSeq.map { a =>
      if (SparkEntry.queries.contains(a)) a
      else byShort.get(a) match {
        case Some(Seq(one)) => one
        case _ => sys.error(s"unknown query '$a'")
      }
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      planDir.foreach { pd =>
        val out = new java.io.File(pd); out.mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(pd, s"$name.txt"), plan)
      }
      (1 to reps).foreach { i =>
        spark.sparkContext.setJobDescription(s"timeq:$name#$i")
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[timeq] $name rep$i $sec%.3f s rows=$n")
      }
      spark.sparkContext.setJobDescription(null)
    }
    spark.stop()
  }
}
