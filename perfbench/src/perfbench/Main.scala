package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{array, col, row_number, sum, transform}

import graft.{QueryModule, Scratch, SparkEntry, Tables}

/** The benchmark's JVM. `perfbench/run.py` builds and launches it; see
  * perfbench/README.md for the workloads and metrics.
  *
  * Modes (first argument):
  *  - `run`: set up, then run the workload in passes and report metrics;
  *  - `verify`: dump every workload query's result with `graft.Verify`,
  *    for the DuckDB oracle check;
  *  - `selftest`: check the benchmark's pure parts.
  *
  * Spark's local and warehouse dirs are set under `.bench_build/` by
  * `run.py`. `graft.Scratch` keeps its own root and shutdown hook, so
  * staged writes are timed where the program makes them.
  */
object Main {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(args: Seq[String]): Opts = Opts(args.grouped(2).map {
    case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }.toMap)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("selftest") => SelfTest.run()
    case Some("verify") =>
      val Array(sfDir, outDir) = args.slice(1, 3)
      val full = Workloads.resolve(Workloads.queries, SparkEntry.queries.keySet)
      writeFile(Paths.get(outDir, "queries.txt"), full.mkString("\n"))
      graft.Verify.main(Array(sfDir, outDir, full.mkString(",")))
    case Some("run") =>
      new Run(parse(args.tail.toSeq)).apply()
    case _ =>
      System.err.println("usage: perfbench.Main selftest|verify|run [--key value]...")
      sys.exit(2)
  }

  /** The fixture directory of the workload's scale. */
  def sfDir(o: Opts): String = s"${o("fixtures")}/${Workloads.all(o("workload")).scale}"

  /** Session with `cores` local cores and as many shuffle partitions,
    * then the engine warm-up.
    */
  def setUp(o: Opts): SparkSession = {
    val cores = o("cores")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    warmUp(spark, sfDir(o))
    settle()
    System.err.println(f"[perfbench] warm-up and settle ${(System.nanoTime() - t0) / 1e9}%.3f s")
    spark
  }

  /** Brings the JVM to the same quiet state before each timed pass: a
    * full GC, then a wait (at most `SettleMaxMs`) until the JIT's
    * background compilers have gone `SettleQuietMs` without compiling,
    * so a pass neither inherits the previous one's garbage nor competes
    * with compilations it did not cause.
    */
  def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + SettleMaxMs * 1000000L
    var last = jit.getTotalCompilationTime
    var quietMs = 0L
    while (quietMs < SettleQuietMs && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      quietMs = if (now == last) quietMs + 50 else 0
      last = now
    }
  }

  val SettleQuietMs = 100L
  val SettleMaxMs = 3000L

  /** Jobs in the warm-up's RDD loop. */
  val WarmUpJobs = 40

  /** A fixed amount of generic engine work, calling no workload query:
    * a parquet read and aggregate of a tiny fixture table, a loop of
    * small RDD aggregation jobs over 32 partitions (the job, task and
    * closure paths that many-small-job queries run), and one DataFrame
    * with a join, a window, a sort and an array lambda. The engine's
    * class loading and JIT compilation then fall in `setup_s`, and
    * `cold_pass_s` is left with the program's own first-use cost. On a
    * shared host the JIT lags under contention, and lagging JIT in the
    * timed passes multiplies the host's noise.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Tables.region(spark, sfDir).groupBy("r_name").count().orderBy("r_name").collect()
    val xs = spark.sparkContext.parallelize(0 until 3200, 32)
    (1 to WarmUpJobs).foreach { i =>
      xs.treeAggregate(new Array[Double](16))(
        (acc, x) => { acc(x % 16) += x.toDouble * i; acc },
        (a, b) => { var k = 0; while (k < a.length) { a(k) += b(k); k += 1 }; a },
        depth = 1)
    }
    val df = spark.range(0, 20000, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"), array(col("id"), col("id") + 1).as("a"))
    val sums = df.groupBy("k").agg(sum("id").as("s"))
    materialize(df.join(sums, "k")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .select(col("k"), col("s"), col("r"), transform(col("a"), x => x * 2).as("t"))
      .orderBy("k", "r"))
  }

  /** Materialize the whole result of `df` through its already-planned
    * physical plan, as an action would, without collecting it: every
    * row and column the plan produces is computed. Returns the row count.
    */
  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.toRdd.count())
  }

  /** Query name → module (`rbm`, `llm`, ...): the package of the module
    * object whose `queries` map holds the query. `SparkEntry.modules` is
    * private, so it is read reflectively.
    */
  def modules(): Map[String, String] = {
    val m = SparkEntry.getClass.getDeclaredMethod("modules")
    m.setAccessible(true)
    m.invoke(SparkEntry).asInstanceOf[Seq[QueryModule]].flatMap { mod =>
      val pkg = mod.getClass.getPackage.getName.stripPrefix("graft.")
      mod.queries.keys.map(_ -> pkg)
    }.toMap
  }

  def writeFile(path: Path, text: String): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, text + "\n")
  }

  /** Reads `name<TAB>value` lines. */
  def readTsv(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.split("\t"))
      .collect { case Array(k, v) => k -> v }.toMap
}

/** One run of one workload. */
final class Run(o: Main.Opts) {
  import Main._

  private val cores = o("cores").toInt
  private val sfDir = Main.sfDir(o)
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val spans = new Spans
  private val recorder = new Recorder
  private var spark: SparkSession = _

  private final case class Pass(n: Int, traced: Boolean, wallS: Double,
      order: Seq[String], attempts: Seq[Attempt], queryS: Map[String, Double],
      newDirs: Int, stagedMb: Double, layers: Map[String, Double])

  def apply(): Unit = {
    val (out, _) = spans.within(0, "run", o("workload")) { runId =>
      spark = setUp(o)
      val setupS = (System.currentTimeMillis() - o("t0-ms").toDouble) / 1e3
      spans.within(runId, "workload", o("workload"))(wlId => measure(wlId, setupS))._1
    }
    writeFile(Paths.get(o("out")), out)
    spark.stop()
  }

  private def measure(wlId: Int, setupS: Double): String = {
    val names = Workloads.resolve(Workloads.all(o("workload")).queries, SparkEntry.queries.keySet)
    val moduleOf = modules()
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    // Pass 0 is the cold pass. Warm passes follow until `seconds` of
    // them have run and at least `counted` have. Only the first `counted`
    // warm passes enter the metrics: the JIT keeps speeding passes up for
    // several passes, so a faster program that fit more passes in the
    // time would otherwise report later, faster passes. Later passes
    // still count for the row-count check. In a traced run the first
    // warm pass settles the JIT untraced, then warm passes go traced and
    // untraced as T U U T, so the listener's overhead is measured in the
    // same JVM with the remaining speed-up falling on both sides alike.
    passes += pass(wlId, 0, traced, names, moduleOf)
    val t0 = System.nanoTime()
    def warmRun: Seq[Pass] = passes.toSeq.drop(1)
    val counted = if (traced) Run.TracedWarmPasses else Workloads.all(o("workload")).warmPasses
    def enough: Boolean =
      (System.nanoTime() - t0) / 1e9 >= seconds && warmRun.size >= counted
    def listen(k: Int): Boolean = traced && k > 0 && k < counted && Set(0, 1)(k % 4)
    while (!enough) passes += pass(wlId, passes.size, listen(warmRun.size), names, moduleOf)
    val warm = warmRun.take(counted)
    val expected = readTsv(o("expected")).map { case (k, v) => k -> v.toLong }
    val oracle = readTsv(o("oracle")).map { case (k, v) => k -> (v == "PASS") }
    val tally = Accounting.tally(names, passes.flatMap(_.attempts).toSeq, expected, oracle)
    tally.reasons.foreach(r => System.err.println(s"[perfbench] FAILED: $r"))
    val metrics =
      if (!traced) endToEnd(setupS, passes.head, warm, tally, retainedHeapMb())
      else perLayer(wlId, names, passes.head, warm)
    if (traced) writeTrace(Paths.get(o("trace-out")))
    Json.obj(
      "workload" -> Json.str(o("workload")),
      "seed" -> Json.num(seed.toDouble),
      "trace" -> Json.num(if (traced) 1 else 0),
      "attempted" -> Json.num(tally.attempted),
      "failed" -> Json.num(tally.failed),
      "reasons" -> Json.arr(tally.reasons.map(Json.str)),
      "pass_s" -> Json.arr(passes.map(p => Json.num(p.wallS)).toSeq),
      "traced_passes" -> Json.arr(passes.map(p => Json.num(if (p.traced) 1 else 0)).toSeq),
      "orders" -> Json.arr(passes.map(p => Json.arr(p.order.map(Json.str))).toSeq),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*))
  }

  private def endToEnd(setupS: Double, cold: Pass, warm: Seq[Pass], tally: Tally,
      heapMb: Double): Seq[(String, Double)] = {
    val (q1, med, q3) = Stats.quartiles(warm.map(_.wallS))
    Seq("setup_s" -> setupS, "cold_pass_s" -> cold.wallS,
      "pass_s" -> Stats.bestPass(warm.map(_.queryS)), "pass_s.n" -> warm.size.toDouble,
      "pass_wall_s.q1" -> q1, "pass_wall_s.median" -> med, "pass_wall_s.q3" -> q3,
      "ok_frac" -> (1.0 - tally.failedFrac), "failed_frac" -> tally.failedFrac,
      "retained_heap_mb" -> heapMb)
  }

  private def perLayer(wlId: Int, names: Seq[String], cold: Pass,
      warm: Seq[Pass]): Seq[(String, Double)] = {
    val tracedWarm = warm.filter(_.traced)
    val untracedWarm = warm.drop(1).filterNot(_.traced)
    val layerKeys = tracedWarm.head.layers.keys.toSeq.sorted
    val layers = layerKeys.map(k => k -> Stats.median(tracedWarm.map(_.layers(k))))
    val overhead = Stats.median(tracedWarm.map(_.wallS)) /
      Stats.median(untracedWarm.map(_.wallS)) - 1.0
    layers ++ Seq(
      "Scratch.new_dirs" -> Stats.median(warm.map(_.newDirs.toDouble)),
      "Scratch.staged_mb" -> Stats.median(warm.map(_.stagedMb)),
      "Scratch.cold_new_dirs" -> cold.newDirs.toDouble,
      "Scratch.cold_staged_mb" -> cold.stagedMb,
      "trace_overhead_frac" -> overhead) ++
      spans.within(wlId, "probe", "execute.count")(_ => countPass(names))._1 ++
      spans.within(wlId, "probe", "Tables.read")(_ => tableReads())._1 ++
      spans.within(wlId, "probe", "rbm")(_ => rbmCalls())._1
  }

  /** One pass over the workload, in the seed's order for this pass. */
  private def pass(wlId: Int, n: Int, withListener: Boolean, names: Seq[String],
      moduleOf: Map[String, String]): Pass = {
    settle()
    val order = Workloads.order(names, seed, n)
    val before = scratchDirs()
    val mark = spans.all.size
    if (withListener) { recorder.clear(); spark.sparkContext.addSparkListener(recorder) }
    val (timed, span) = spans.within(wlId, "pass", n.toString) { passId =>
      order.map(q => runQuery(passId, n, q))
    }
    val attempts = timed.map(_._1)
    val layers =
      if (!withListener) Map.empty[String, Double]
      else {
        ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        val phases = spans.all.drop(mark).filter(s => Run.Phases(s.kind))
        linkJobs(phases)
        Layers.passMetrics(phases, moduleOf, recorder.jobs, recorder.tasks,
          recorder.stages.map(_.stageId), cores)
      }
    val fresh = scratchDirs() -- before
    val mb = fresh.toSeq.map(treeBytes).sum / (1024.0 * 1024.0)
    System.err.println(f"[perfbench] pass $n ${span.durS}%.3f s traced=$withListener")
    Pass(n, withListener, span.durS, order, attempts,
      order.zip(timed.map(_._2)).toMap, fresh.size, mb, layers)
  }

  /** One query's attempt and its wall seconds. */
  private def runQuery(passId: Int, n: Int, q: String): (Attempt, Double) = {
    val fn = SparkEntry.queries(q)
    spans.within(passId, "query", q) { qId =>
      def phase[T](kind: String)(body: => T): T = {
        val g = s"perfbench:$n:$q:$kind"
        spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
        try spans.within(qId, kind, q, Some(g))(_ => body)._1
        finally spark.sparkContext.clearJobGroup()
      }
      val t0 = System.nanoTime()
      val a = try {
        val df = phase("construct")(fn(spark, sfDir))
        phase("plan")(df.queryExecution.executedPlan)
        Attempt(q, n, Some(phase("execute")(materialize(df))), None)
      } catch { case NonFatal(e) =>
        Attempt(q, n, None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] pass $n $q $secs%.3f s")
      (a, secs)
    }._1
  }

  /** Job and stage spans of a traced pass, under the phase spans they
    * are attributed to; written out with the other spans at the end.
    */
  private val linked = scala.collection.mutable.ArrayBuffer[String]()
  private def linkJobs(phases: Seq[Span]): Unit = {
    val stages = recorder.stages.map(s => s.stageId -> s).toMap
    recorder.jobs.foreach { j =>
      val parent = Attribution.spanOf(j, phases).map(_.id).getOrElse(0)
      linked += Json.obj("kind" -> Json.str("job"), "job" -> Json.num(j.jobId),
        "parent" -> Json.num(parent), "start_ms" -> Json.num(j.submitMs.toDouble),
        "end_ms" -> Json.num(recorder.jobEndMs(j.jobId).toDouble),
        "group" -> j.group.map(Json.str).getOrElse("null"))
      j.stageIds.flatMap(stages.get).foreach { s =>
        linked += Json.obj("kind" -> Json.str("stage"), "stage" -> Json.num(s.stageId),
          "job" -> Json.num(j.jobId), "tasks" -> Json.num(s.numTasks),
          "start_ms" -> Json.num(s.submitMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble))
      }
    }
  }

  private def writeTrace(path: Path): Unit = {
    val spanLines = spans.all.sortBy(_.id).map { s =>
      Json.obj("kind" -> Json.str(s.kind), "id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs.toDouble), "end_ms" -> Json.num(s.endMs.toDouble),
        "dur_s" -> Json.num(s.durS), "group" -> s.group.map(Json.str).getOrElse("null"))
    }
    writeFile(path, (spanLines ++ linked).mkString("\n"))
  }

  /** `.count()` of the same DataFrames: what the legacy `Bench` times. */
  private def countPass(names: Seq[String]): Seq[(String, Double)] = {
    val secs = names.map { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val t0 = System.nanoTime()
      df.count()
      (System.nanoTime() - t0) / 1e9
    }
    Seq("execute.count_s" -> secs.sum)
  }

  /** One call to each fixture reader, timed, with the jobs it launches. */
  private def tableReads(): Seq[(String, Double)] = {
    val readers: Seq[(SparkSession, String) => DataFrame] = Seq(Tables.region,
      Tables.nation, Tables.customer, Tables.supplier, Tables.part, Tables.orders,
      Tables.lineitem, Tables.events, Tables.eventsUs, Tables.documents, Tables.embeddings)
    recorder.clear()
    spark.sparkContext.addSparkListener(recorder)
    val t0 = System.nanoTime()
    readers.foreach(r => r(spark, sfDir))
    val s = (System.nanoTime() - t0) / 1e9
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(recorder)
    Seq("Tables.read_s" -> s, "Tables.read_jobs" -> recorder.jobs.size.toDouble)
  }

  /** Direct calls to the RBM layer on the sf0.1 `embeddings` table: one
    * CD-1 epoch, and one forward propagation materialized. Median of three.
    */
  private def rbmCalls(): Seq[(String, Double)] = {
    val cfg = graft.rbm.RBM.Config(numdims = 64, numhid = 16, seed = 42L)
    val data = Tables.embeddings(spark, s"${o("fixtures")}/sf0.1").select(col("vec_id").as("id"),
      transform(col("embedding"), x => x.cast("double")).as("x"))
    val w0 = graft.rbm.RBM.initWeights(cfg)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val w1 = graft.rbm.RBM.cd1Epoch(spark, data, w0, cfg)
    val epoch = (1 to 3).map(_ => timed(graft.rbm.RBM.cd1Epoch(spark, data, w0, cfg)))
    val prop = (1 to 3).map(_ => timed(materialize(graft.rbm.DBN.propagate(spark, data, w1))))
    Seq("rbm.cd1_epoch_s" -> Stats.median(epoch), "rbm.propagate_s" -> Stats.median(prop))
  }

  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def scratchDirs(): Set[Path] = {
    val s = Files.list(Scratch.root)
    try s.iterator.asScala.toSet finally s.close()
  }

  private def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }
}

object Run {
  val Phases: Set[String] = Set("construct", "plan", "execute")
  /** Warm passes whose times enter a traced run's metrics. */
  val TracedWarmPasses = 5
}

/** Just enough JSON output for the benchmark's files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
