package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Per-query baseline medians from BASELINE.md's `| qNN_name | sec |`
    * table — the retime threshold. Decoded as explicit UTF-8: the
    * sandbox JVMs run under the C locale where the DEFAULT charset is
    * US-ASCII, and BASELINE.md contains em-dashes, so a default-charset
    * `Source.fromFile` read throws MalformedInputException mid-stream
    * (which round 8's catch silently turned into "never retime
    * anything"). An absent file still yields an empty map, but a decode
    * of the real file must succeed — BenchBaselineSpec pins this on the
    * committed BASELINE.md bytes.
    */
  def parseBaseline(path: java.nio.file.Path): Map[String, Double] = {
    if (!java.nio.file.Files.exists(path)) return Map.empty
    val text = new String(
      java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val Row = """\|\s*(q\d+\w*)\s*\|\s*([0-9.]+)\s*\|""".r
    val raw = Row.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // The table is re-recorded from bench_queries.json, whose per-query
    // keys are SHORT ("q13") by byte-budget design — but the retime
    // lookup is by FULL registry name. Expand unambiguous short keys so
    // a short-keyed table cannot silently disable retiming (exactly the
    // round-8 "never retime anything" failure shape, reintroduced by
    // the round-11 re-record and caught by BenchBaselineSpec).
    val byShort = SparkEntry.queries.keySet
      .groupBy(n => n.takeWhile(_ != '_'))
    raw.map { case (k, v) =>
      val full =
        if (SparkEntry.queries.contains(k)) k
        else byShort.get(k) match {
          case Some(s) if s.size == 1 => s.head
          case _ => k
        }
      full -> v
    }
  }
  /** Retime trigger, pure so BenchBaselineSpec can pin the schedule.
    * Light queries (median ≤ 2.5s) retime past 2× their median —
    * ambient load routinely doubles a sub-second measurement, and a
    * retime is cheap relative to the noise it removes. Heavier queries
    * (median > 2.5s) retime past 1.5×: a multi-second query sitting
    * just under the 2× line is a large absolute error that dominates
    * the bench total, and for a multi-second median the 1.5× band is
    * far above ambient jitter, so the extra retimes are few and
    * justified. The 2.5s cut (was 5s in round 12) closes the repeat
    * blind spot: round 11's q237 measured 1.97× its 15.4s median and
    * was never re-run; round 12's q153 repeated the shape one notch
    * down at 1.97× of a 4.91s median — below the old 5s heavy leg,
    * beneath the 2× light trigger.
    */
  def retimeTriggered(measured: Double, medianBaseline: Double): Boolean =
    if (medianBaseline > 2.5) measured > 1.5 * medianBaseline
    else measured > 2.0 * medianBaseline

  /** Probe-aware retime budget (VERDICT r13 #8). When the slot probe
    * reads >1.3× its recorded quiet-slot cost, the machine profile has
    * drifted UNIFORMLY (BASELINE.md documents a 1.31× ambient spread
    * between slots) — every slowness retime on such a slot re-measures
    * the same ambient noise at ~30 s of wall budget (33 fired on the
    * 391 s round-13 run) while the per-query ratios stay interpretable
    * through probe_ratio. So slowness retimes are skipped entirely on
    * drifted slots. Crash retimes are NOT gated here: a failure re-run
    * is what separates a transient hiccup from a real break, costs
    * only throw-time, and must survive any slot profile.
    */
  def retimeEnabled(probeRatio: Option[Double]): Boolean =
    !probeRatio.exists(_ > 1.3)

  /** The periodic partial-total stdout line (VERDICT r13 #1). Printed
    * every ~20 queries and by the shutdown hook so a timeout-killed run
    * still leaves a parseable `{"metric":"total",...}` inside the
    * ~2.4 KB stdout tail. Kept <200 bytes; the `"partial":true` marker
    * is what distinguishes it from the final line, which drops it.
    */
  def partialLine(runningTotal: Double, done: Int, of: Int,
      sfDir: String): String = {
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    s"""{"metric":"total","value":${f(runningTotal)},"unit":"sec","partial":true,"done":$done,"of":$of,"sf":"$sfDir"}"""
  }

  /** The `| probe | sec |` row of BASELINE.md — the slot-drift
    * micro-probe's recorded quiet-slot cost, kept OUT of
    * [[parseBaseline]]'s per-query map (it names no registry query and
    * must never enter the retime schedule).
    */
  def parseProbeBaseline(path: java.nio.file.Path): Option[Double] = {
    if (!java.nio.file.Files.exists(path)) return None
    val text = new String(
      java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val Row = """\|\s*probe\s*\|\s*([0-9.]+)\s*\|""".r
    Row.findFirstMatchIn(text).map(_.group(1).toDouble)
  }

  /** The bench_queries.json line, as a pure function so the failure
    * accounting is spec-pinnable (BenchBaselineSpec): a name in
    * `failed` MUST surface in the artifact — the round-9 escape was a
    * crashed query recorded as a quiet timing with no trace.
    */
  def artifactJson(results: Seq[(String, Double)], retimed: Seq[String],
      failed: Seq[String], baselineRows: Int, sfDir: String,
      probeSec: Option[Double] = None,
      probeBaseline: Option[Double] = None,
      partial: Boolean = false): String = {
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val qs = results.map { case (k, v) => s"\"" + shortKey(k) + "\":" + f(v) }
      .mkString("{", ",", "}")
    // The total is the sum of SUCCESSFUL measurements only: a crash
    // usually throws in milliseconds, so folding its wall time into the
    // total would deflate it and make a failure run look faster than a
    // clean one. Failed names still appear in the per-query map (the
    // time-to-throw is diagnostic) but contribute nothing to "value".
    val failedSet = failed.toSet
    val total = results.collect {
      case (k, v) if !failedSet(k) => v
    }.sum
    val rt = retimed.map("\"" + shortKey(_) + "\"").mkString("[", ",", "]")
    val fl = failed.map("\"" + shortKey(_) + "\"").mkString("[", ",", "]")
    // Slot-drift probe: a fixed scan/sort/agg triple timed at startup.
    // BASELINE.md documents a 1.31× uniform machine-profile spread
    // between recording slots; the probe ratio lets drivers and judges
    // separate slot drift (probe_ratio ≈ total ratio, uniform) from a
    // plan regression (probe_ratio ≈ 1, one query inflated)
    // mechanically instead of by per-query diffing.
    // probe_baseline is gated on b > 0: a 0.00 BASELINE.md probe row
    // would otherwise emit "probe_ratio":Infinity — not valid JSON —
    // and corrupt the artifact (ADVICE r13).
    val probe = probeSec.map(p =>
      s""","probe_sec":${f(p)}""" + probeBaseline.filter(_ > 0.0).map(b =>
        s""","probe_baseline":${f(b)},"probe_ratio":${f(p / b)}""")
        .getOrElse("")).getOrElse("")
    // `"partial":true` marks an in-flight incremental rewrite (the
    // artifact is rewritten after EVERY query so a timeout-killed run
    // still leaves its measurements on disk); the final write after the
    // last query drops the marker.
    val part = if (partial) s""","partial":true""" else ""
    s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"retimed":$rt,"failed":$fl,"baseline_rows":$baselineRows$probe$part,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // ERROR, not WARN: the harness keeps only a ~2.4KB stdout tail, and
    // at WARN the micro-batch queries flood it ("Failed to cancel job
    // group", AQE-disabled notices ×7) until the tail is 95% noise.
    spark.sparkContext.setLogLevel("ERROR")
    warmUpReadWrite(spark, sfDir)
    // Same for the micro-batch engine: the first streaming query pays
    // ~2s of one-time init (streaming planner, state-store coordinator,
    // file-source listing, session-window/append state machinery) that
    // belongs to the engine, not the query — without this,
    // alphabetically-first q101 absorbs it all. The warmup mirrors the
    // replay shape: file source → watermark → session window → append
    // → memory sink.
    try {
      import spark.implicits._
      val sdir = Scratch.dir("bench_warm_stream_")
      spark.range(3)
        .selectExpr("id AS k", "timestamp_micros(id * 1000000) AS ts")
        .coalesce(1).write.parquet(s"$sdir/src")
      val q = spark.readStream
        .schema("k BIGINT, ts TIMESTAMP").parquet(s"$sdir/src")
        .withWatermark("ts", "1 second")
        .groupBy(org.apache.spark.sql.functions.session_window($"ts", "1 second"), $"k")
        .count()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$sdir/ckpt")
        .format("memory").queryName("bench_warm_stream").start()
      q.processAllAvailable()
      q.stop()
      Scratch.deleteTree(sdir)
    } catch { case _: Throwable => () }
    // Resolve repo root by walking up from CWD to the directory holding
    // build.sbt: Bench normally runs from the repo root, but a caller
    // launching it from elsewhere must not strand bench_queries.json (or
    // miss BASELINE.md and silently skip the retime pass).
    val repoRoot: java.nio.file.Path = {
      var p = java.nio.file.Paths.get("").toAbsolutePath
      var found: Option[java.nio.file.Path] = None
      var cur = p
      while (found.isEmpty && cur != null) {
        if (java.nio.file.Files.exists(cur.resolve("build.sbt"))) found = Some(cur)
        cur = cur.getParent
      }
      found.getOrElse(p)
    }
    // Slot-drift micro-probe: the q01+q07+q350 scan/sort/agg triple,
    // timed AFTER the warmups (JVM/codegen/parquet init already paid)
    // and BEFORE the measured loop. Its seconds-to-run on a quiet slot
    // is recorded as the `| probe | sec |` row of BASELINE.md; the
    // ratio of this run's probe to that row is emitted in
    // bench_queries.json so uniform ambient-tenancy inflation is
    // measured, not inferred. The three probe queries get an extra
    // pre-warm out of it, which only improves their run-to-run
    // comparability in the measured pass.
    // min of two back-to-back probe passes: a single-shot 1.5s probe
    // is itself exposed to startup transients (observed: a 3.9x probe
    // reading on the FASTEST of three totals), and the min-of-two is
    // the same noise treatment the per-query retime uses.
    val probeSec: Option[Double] = try {
      val names = Seq("q01_scan_project", "q07_sort_by_key", "q350_tpch_q6")
      def once(): Double = {
        val t0 = System.nanoTime()
        names.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
        (System.nanoTime() - t0) / 1e9
      }
      Some(math.min(once(), once()))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] slot probe failed: $e"); None
    }
    // A dead baseline parse must never again masquerade as a quiet run:
    // parse errors are loud (stderr), and the row count is emitted as
    // "baseline_rows" in bench_queries.json as self-evidence.
    val baseline: Map[String, Double] =
      try parseBaseline(repoRoot.resolve("BASELINE.md"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] BASELINE.md parse failed, retime disabled: $e")
        Map.empty
      }
    // The catch-all keeps one broken query from killing the whole run,
    // but it must never again HIDE the break (round 9: q196's
    // DIVIDE_BY_ZERO crash was timed as a quiet 0.63s "pass" in two
    // independent runs). Every execution failure is recorded by name
    // and emitted loudly: one stderr line per failure at throw time,
    // plus a "failed":[...] key in bench_queries.json beside "retimed"
    // so the artifact the driver reads carries the evidence. A retime
    // that SUCCEEDS clears the name (transient, not a real break).
    def time(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(
            s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    val probeBase =
      try parseProbeBaseline(repoRoot.resolve("BASELINE.md"))
      catch { case _: Throwable => None }
    val probeRatio = for { p <- probeSec; b <- probeBase if b > 0.0 }
      yield p / b
    // Probe-aware retime budget: on a drifted slot (probe >1.3× its
    // quiet-slot row) slowness retimes re-measure ambient noise at real
    // wall cost, so they are skipped wholesale; crash retimes survive.
    val slowRetimeOn = retimeEnabled(probeRatio)
    if (!slowRetimeOn)
      System.err.println(f"[bench] probe_ratio ${probeRatio.getOrElse(0.0)}%.2f > 1.3 " +
        "(drifted slot): slowness retimes disabled this run")

    // BENCH_r13 was lost to a timeout: the only parseable stdout line
    // printed after all 363 queries, so one slow slot voided the whole
    // artifact. The loop below is timeout-survivable: bench_queries.json
    // is rewritten (with "partial":true) after EVERY query, a <200 B
    // partial-total line prints every 20 queries, and a JVM shutdown
    // hook prints the freshest partial line — so a SIGTERM'd run still
    // leaves a parseable running total in both the stdout tail and the
    // artifact. Retime policy is unchanged but applied INLINE per query
    // (the JVM is equally warm — the query just ran): a slowness flag
    // (vs BASELINE.md median) or a crash triggers ONE re-run; reported
    // figure = min of the SUCCESSFUL measurements; "failed" = no
    // successful execution at all.
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val totalQ = sorted.size
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val retimed = scala.collection.mutable.ArrayBuffer[String]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val finalPrinted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lastPartial = new java.util.concurrent.atomic.AtomicReference[String](null)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finalPrinted.get) {
        val line = lastPartial.get
        if (line != null) { println(line); Console.out.flush() }
      }
    }))
    def runningTotal: Double = {
      val fs = failed.toSet
      results.collect { case (k, v) if !fs(k) => v }.sum
    }
    def writeArtifact(partial: Boolean): Unit = {
      val json = artifactJson(results.toSeq, retimed.toSeq, failed.toSeq,
        baseline.size, sfDir, probeSec, probeBase, partial)
      // Written at the repo root (resolved above), not bare CWD, so a
      // caller running Bench from elsewhere doesn't strand the file; a
      // failed write must not kill the run but must not be silent
      // either — a stale committed file would misattribute old timings
      // to this run.
      try java.nio.file.Files.writeString(
        repoRoot.resolve("bench_queries.json"), json + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] bench_queries.json not written: $e")
      }
    }
    sorted.zipWithIndex.foreach { case ((name, fn), i) =>
      val (t1, ok1) = time(name, fn)
      val needsRetime = !ok1 ||
        (slowRetimeOn && baseline.get(name).exists(b => retimeTriggered(t1, b)))
      val entry =
        if (needsRetime) {
          retimed += name
          val (t2, ok2) = time(name, fn)
          val valid = Seq(t1 -> ok1, t2 -> ok2).collect { case (t, true) => t }
          if (valid.isEmpty) { failed += name; name -> math.max(t1, t2) }
          else name -> valid.min
        } else name -> t1
      results += entry
      writeArtifact(partial = true)
      // The harness retains only a ~2.4 KB stdout tail; each partial
      // line is <200 B so the freshest always fits. Printed every 20
      // queries (18 lines over the full registry) — the shutdown hook
      // prints the very freshest on an early death.
      val done = i + 1
      val pl = partialLine(runningTotal, done, totalQ, sfDir)
      lastPartial.set(pl)
      if (done % 20 == 0 && done < totalQ) { println(pl); Console.out.flush() }
    }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED after " +
        s"retime: ${failed.mkString(", ")}")
    writeArtifact(partial = false)
    // The LAST stdout line matching {"metric":"total",...} is the final
    // non-partial one (<200 bytes, inside any tail window). The full
    // per-query map lives only in bench_queries.json — printing it too
    // would let a tail scanner pick a front-truncated mid-JSON line.
    // Locale.ROOT (inside partialLine/f): a comma-decimal default
    // locale would render "1,234" and corrupt the JSON. The total
    // matches the artifact's: successful measurements only.
    def f(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    finalPrinted.set(true)
    println(s"""{"metric":"total","value":${f(runningTotal)},"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }

  /** Warms the JVM/codegen/parquet-reader paths on a tiny table before
    * timing starts: otherwise the first timed query absorbs ~4s of
    * one-time init and its number stops meaning anything. Writer paths
    * too: the first parquet write (q101's sentinel) and first csv write
    * (q77) otherwise absorb one-time sink init.
    */
  def warmUpReadWrite(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_name").count().orderBy("r_name").collect()
      val wdir = Scratch.dir("bench_warm_")
      val tiny = spark.read.parquet(s"$sfDir/region.parquet").limit(1)
      tiny.write.mode("overwrite").parquet(s"$wdir/p")
      tiny.write.mode("overwrite").csv(s"$wdir/c")
      tiny.write.mode("overwrite").orc(s"$wdir/o")
      tiny.write.mode("overwrite").json(s"$wdir/j")
      Scratch.deleteTree(wdir)
    } catch { case _: Throwable => () }
}
