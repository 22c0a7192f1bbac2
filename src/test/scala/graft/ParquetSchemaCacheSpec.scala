package graft

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.types.{IntegerType, StringType}

/** [[Tables.parquet]] / [[Tables.schemaOf]]: the same schema and rows as
  * a plain `read.parquet`, no schema job on a repeated read, and a new
  * inference whenever the file or the parquet confs change.
  */
class ParquetSchemaCacheSpec extends SparkSpec {

  private val fixtures = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Jobs `body` submits, counted by a listener on a job group. A
    * marker job closes the group: listener events arrive in order, so
    * once the marker's end is seen every earlier job start has been.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"schema-cache-${java.util.UUID.randomUUID()}"
    val started = ConcurrentHashMap.newKeySet[Int]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.contains(e.jobId)) ended.add(e.jobId)
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try { body; sc.parallelize(Seq(1), 1).count() }
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while ((started.isEmpty || ended.size < started.size) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(l)
    assert(started.size >= 1 && ended.size == started.size,
      "the listener did not see the marker job end")
    started.size - 1
  }

  test("every fixture table reads with spark.read.parquet's schema and rows") {
    for (t <- fixtures) {
      val path = s"$sf001/$t.parquet"
      val plain = spark.read.parquet(path)
      val cached = Tables.parquet(spark, path)
      assert(cached.schema == plain.schema, t)
      assert(cached.exceptAll(plain).isEmpty && plain.exceptAll(cached).isEmpty, t)
      assert(Tables.parquet(spark, path).schema == plain.schema, t)
    }
  }

  test("a second read of a path runs no job") {
    val dir = Scratch.dir("schemacache_jobs_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(10).toDF("k").write.parquet(path)
      assert(jobsOf(Tables.parquet(spark, path)) >= 1, "first read inferred nothing")
      assert(jobsOf(Tables.parquet(spark, path)) == 0)
      assert(jobsOf(Tables.schemaOf(spark, path)) == 0)
    } finally Scratch.deleteTree(dir)
  }

  test("a path rewritten with a different schema reads the new schema") {
    val dir = Scratch.dir("schemacache_rewrite_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(5).selectExpr("cast(id as int) as a").write.parquet(path)
      assert(Tables.schemaOf(spark, path).map(f => (f.name, f.dataType)) ==
        Seq("a" -> IntegerType))
      spark.range(3).selectExpr("cast(id as string) as b")
        .write.mode("overwrite").parquet(path)
      assert(Tables.schemaOf(spark, path).map(f => (f.name, f.dataType)) ==
        Seq("b" -> StringType))
      assert(Tables.parquet(spark, path).collect().map(_.getString(0)).sorted
        .toSeq == Seq("0", "1", "2"))
    } finally Scratch.deleteTree(dir)
  }

  test("a different nanosAsLong value is a different key") {
    val dir = Scratch.dir("schemacache_confs_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(3).toDF("k").write.parquet(path)
      Tables.schemaOf(spark, path)
      val off = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "false")
      assert(jobsOf(Confs.withConfs(spark, off)(Tables.schemaOf(spark, path))) >= 1)
      assert(jobsOf(Confs.withConfs(spark, off)(Tables.schemaOf(spark, path))) == 0)
      assert(jobsOf(Tables.schemaOf(spark, path)) == 0)
    } finally Scratch.deleteTree(dir)
  }
}
