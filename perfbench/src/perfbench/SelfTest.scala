package perfbench

/** Self-tests of the benchmark's pure parts: order statistics, failure
  * accounting and job-to-query attribution. Run by `run.py` after each
  * build, or alone with `python3 perfbench/run.py --self-test`.
  */
object SelfTest {

  private var checks = 0

  private def check(what: String)(ok: Boolean): Unit = {
    checks += 1
    if (!ok) throw new AssertionError(s"self-test failed: $what")
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-12

  def run(): Unit = {
    stats()
    accounting()
    attribution()
    println(s"[perfbench] self-test: $checks checks passed")
  }

  private def stats(): Unit = {
    // Values from Python: statistics.quantiles([...], n=4), median(...).
    val (a1, a2, a3) = Stats.quartiles(Seq(1.0, 2, 3, 4, 5, 6, 7, 8, 9, 10))
    check("quartiles of 1..10")(near(a1, 2.75) && near(a2, 5.5) && near(a3, 8.25))
    val (b1, b2, b3) = Stats.quartiles(Seq(5.0, 1, 3))
    check("quartiles of an odd sample, unsorted")(near(b1, 1.0) && near(b2, 3.0) && near(b3, 5.0))
    val (c1, c2, c3) = Stats.quartiles(Seq(2.0, 4.0))
    check("quartiles of two values")(near(c1, 1.5) && near(c2, 3.0) && near(c3, 4.5))
    check("quartiles of one value")(Stats.quartiles(Seq(7.0)) == ((7.0, 7.0, 7.0)))
    check("median, odd")(near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0))
    check("median, even")(near(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5))
    val passes = Seq(Map("qa" -> 2.0, "qb" -> 5.0), Map("qa" -> 3.0, "qb" -> 4.0),
      Map("qa" -> 9.0, "qb" -> 4.5))
    check("best pass sums each query's fastest time")(near(Stats.bestPass(passes), 6.0))
    check("best pass of one pass is that pass")(near(Stats.bestPass(passes.take(1)), 7.0))
  }

  private def accounting(): Unit = {
    val qs = Seq("qa", "qb")
    val oracleOk = Map("qa" -> true, "qb" -> true)
    val clean = Seq(Attempt("qa", 0, Some(3), None), Attempt("qb", 0, Some(5), None),
      Attempt("qa", 1, Some(3), None), Attempt("qb", 1, Some(5), None))
    val t0 = Accounting.tally(qs, clean, Map("qa" -> 3L), oracleOk)
    check("clean run: nothing failed, oracle checks counted")(
      t0.attempted == 6 && t0.failed == 0 && t0.failedFrac == 0.0)
    val thrown = clean.updated(3, Attempt("qb", 1, None, Some("boom")))
    val t1 = Accounting.tally(qs, thrown, Map.empty, oracleOk)
    check("a thrown query counts as failed")(t1.failed == 1 && near(t1.failedFrac, 1.0 / 6))
    val recorded = Accounting.tally(qs, clean, Map("qa" -> 4L), oracleOk)
    check("a row count off the recorded one fails every attempt")(recorded.failed == 2)
    val drift = clean.updated(3, Attempt("qb", 1, Some(6), None))
    check("a row count that changes between passes fails")(
      Accounting.tally(qs, drift, Map.empty, oracleOk).failed == 1)
    check("an oracle mismatch fails")(
      Accounting.tally(qs, clean, Map.empty, Map("qa" -> true, "qb" -> false)).failed == 1)
    check("a query with no oracle verdict fails")(
      Accounting.tally(qs, clean, Map.empty, Map("qa" -> true)).failed == 1)
  }

  private def attribution(): Unit = {
    val c = Span(1, 9, "construct", "qa", 100, 200, 0.1, Some("g:qa:construct"))
    val p = Span(2, 9, "plan", "qa", 200, 210, 0.01, Some("g:qa:plan"))
    val e = Span(3, 9, "execute", "qa", 210, 400, 0.19, Some("g:qa:execute"))
    val e2 = Span(4, 10, "execute", "qb", 500, 600, 0.1, Some("g:qb:execute"))
    val phases = Seq(c, p, e, e2)
    check("a job carrying a group goes to that group's span")(
      Attribution.spanOf(JobRec(1, Some("g:qa:execute"), 150, Nil), phases).contains(e))
    check("a pool-thread job without a group goes to the open span")(
      Attribution.spanOf(JobRec(2, None, 150, Nil), phases).contains(c))
    check("a job with a foreign group goes by time")(
      Attribution.spanOf(JobRec(3, Some("other"), 550, Nil), phases).contains(e2))
    check("a job between queries is unattributed")(
      Attribution.spanOf(JobRec(4, None, 450, Nil), phases).isEmpty)
    check("a reused stage belongs to the first job listing it")(
      Attribution.stageOwners(Seq(JobRec(7, None, 0, Seq(3, 4)), JobRec(5, None, 0, Seq(3))))
        == Map(3 -> 5, 4 -> 7))
    val jobs = Seq(JobRec(1, Some("g:qa:construct"), 120, Seq(1)),
      JobRec(2, None, 300, Seq(2, 3)), JobRec(3, Some("g:qb:execute"), 510, Seq(4)))
    val tasks = Seq(TaskRec(1, 0.05, 0.05, 0.04, 0, 0, 0, 0),
      TaskRec(2, 0.1, 0.1, 0.1, 1 << 20, 0, 2 << 20, 0),
      TaskRec(3, 0.3, 0.2, 0.2, 0, 2 << 20, 0, 0), TaskRec(3, 0.1, 0.1, 0.1, 0, 0, 0, 0),
      TaskRec(3, 0.1, 0.1, 0.1, 0, 0, 0, 0), TaskRec(4, 0.05, 0.05, 0.05, 0, 0, 0, 0))
    val m = Layers.passMetrics(phases, Map("qa" -> "rbm", "qb" -> "llm"), jobs, tasks,
      Seq(1, 2, 3, 4), cores = 2)
    check("jobs split by phase and module")(m("construct.jobs") == 1 &&
      m("execute.jobs") == 2 && m("rbm.jobs") == 2 && m("llm.jobs") == 1)
    check("tasks split by phase")(m("construct.tasks") == 1 && m("execute.tasks") == 5)
    check("execute stages")(m("execute.stages") == 3)
    check("phase and module seconds")(near(m("execute.s"), 0.29) &&
      near(m("rbm.execute_s"), 0.19) && near(m("llm.construct_s"), 0.0))
    check("slowest task and its skew over its stage's median")(
      near(m("execute.max_task_s"), 0.3) && near(m("execute.task_skew"), 3.0))
    check("core busy fraction is task run time over execute wall x cores")(
      near(m("execute.core_busy_frac"), 0.55 / (0.29 * 2)))
    check("shuffle bytes")(near(m("shuffle.read_mb"), 2.0) && near(m("shuffle.write_mb"), 2.0))
    check("nothing unattributed")(m("trace.unattributed_jobs") == 0)
  }
}
