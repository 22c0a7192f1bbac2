package graft

import java.util.concurrent.CyclicBarrier

import org.apache.spark.sql.types.{IntegerType, StringType}

/** [[Tables.parquet]] / [[Tables.schemaOf]]: the same schema and rows as
  * a plain `read.parquet`, no schema job on a repeated read, and a new
  * inference whenever the file or the parquet confs change.
  */
class ParquetSchemaCacheSpec extends SparkSpec {

  private val fixtures = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

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

  test("four threads reading one new path run one inference job") {
    val dir = Scratch.dir("schemacache_concurrent_")
    try {
      val path = dir.resolve("t.parquet").toString
      spark.range(10).toDF("k").write.parquet(path)
      val ready = new CyclicBarrier(4)
      val schemas = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
      val jobs = jobsOf {
        val readers = (1 to 4).map(_ => new Thread(() => {
          ready.await()
          schemas.add(Tables.schemaOf(spark, path))
        }))
        readers.foreach(_.start())
        readers.foreach(_.join())
      }
      assert(schemas.size == 4 &&
        schemas.stream().allMatch(_ == spark.read.parquet(path).schema))
      assert(jobs == 1)
    } finally Scratch.deleteTree(dir)
  }

  test("a failed inference fails its waiters and leaves no entry") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    // the failing inference jobs are expected: keep their task stack
    // traces out of the test log
    val loud = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager")
    loud.foreach(Configurator.setLevel(_, Level.OFF))
    val dir = Scratch.dir("schemacache_failed_")
    try {
      val path = dir.resolve("t.parquet").toString
      java.nio.file.Files.write(dir.resolve("t.parquet"), Array[Byte](1, 2, 3))
      val ready = new CyclicBarrier(4)
      val failures = new java.util.concurrent.atomic.AtomicInteger()
      val readers = (1 to 4).map(_ => new Thread(() => {
        ready.await()
        try Tables.schemaOf(spark, path)
        catch { case _: Exception => failures.incrementAndGet() }
      }))
      readers.foreach(_.start())
      readers.foreach(_.join())
      assert(failures.get == 4)
      // a leftover entry would fail this read without running a job
      assert(jobsOf(intercept[Exception](Tables.schemaOf(spark, path))) >= 1)
    } finally {
      Scratch.deleteTree(dir)
      loud.foreach(Configurator.setLevel(_, Level.WARN))
    }
  }
}
