package perfbench

/** One execution of one query in one pass. `rows` is the size of the
  * materialized result; `error` is set when the query threw.
  */
final case class Attempt(query: String, pass: Int, rows: Option[Long],
    error: Option[String])

/** Attempts and failures of a run; `reasons` names each failure. */
final case class Tally(attempted: Int, failed: Int, reasons: Seq[String]) {
  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** Failure accounting. Every workload query counts, and a failing one is
  * counted against the run, never dropped from it.
  */
object Accounting {

  /** Tally the timed attempts and the oracle verdicts of `queries`.
    *
    * - An attempt fails when it threw, or when its row count differs
    *   from `expectedRows` (the count recorded at the workload's scale)
    *   or, for a query with no recorded count, from its first successful
    *   attempt.
    * - Each workload query also has one oracle verdict; a missing
    *   verdict is a failure (the query was not checked).
    */
  def tally(queries: Seq[String], attempts: Seq[Attempt],
      expectedRows: Map[String, Long], oracle: Map[String, Boolean]): Tally = {
    val firstRows = attempts.collect { case Attempt(q, _, Some(n), None) => q -> n }
      .reverse.toMap
    val attemptFailures = attempts.flatMap { a =>
      val want = expectedRows.get(a.query).orElse(firstRows.get(a.query))
      (a.error, a.rows) match {
        case (Some(e), _) => Some(s"${a.query} pass ${a.pass} threw: $e")
        case (None, Some(n)) if want.exists(_ != n) =>
          Some(s"${a.query} pass ${a.pass} returned $n rows, expected ${want.get}")
        case (None, None) => Some(s"${a.query} pass ${a.pass} returned no result")
        case _ => None
      }
    }
    val oracleFailures = queries.flatMap { q =>
      oracle.get(q) match {
        case Some(true) => None
        case Some(false) => Some(s"$q differs from its DuckDB oracle")
        case None => Some(s"$q has no oracle verdict")
      }
    }
    val reasons = attemptFailures ++ oracleFailures
    Tally(attempts.size + queries.size, reasons.size, reasons)
  }
}
