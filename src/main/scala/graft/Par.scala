package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, ExecutorService, Executors, Future}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession

/** Overlapped driver actions. Independent Spark actions are only
  * sequential because the driver calls them one after another;
  * submitted from a few driver threads, one action's straggler tail
  * and driver-side steps (broadcasts, commits, collects) are back-filled
  * by another's tasks.
  *
  * {{{
  * Par.scope(s, threads) { p =>
  *   val a = p.fork("name a")(bodyA)
  *   val b = p.fork("name b")(bodyB)
  *   (a.join(), b.join())
  * }
  * }}}
  *
  *  - The pool is created per call, from the caller's thread, with
  *    `threads` threads; branches start in fork order. Pool threads
  *    inherit the caller's Spark local properties, its job group
  *    included, so a run record that attributes jobs by group still
  *    sees them. `Par` sets no job group of its own.
  *  - Each branch's jobs carry the branch name as their description
  *    and one job tag shared by the scope.
  *  - A branch that throws cancels the scope's running jobs by that tag
  *    at once, and branches that have not started yet do not run. The
  *    first failure is what `join` (and the scope) throws.
  *  - The call returns only after every pool thread has finished.
  */
object Par {

  private val scopes = new AtomicInteger()

  final class Scope private[Par] (s: SparkSession, threads: Int) {
    private val tag = s"graft-par-${scopes.incrementAndGet()}"
    private val workers = new ConcurrentLinkedQueue[Thread]()
    private val pool: ExecutorService = Executors.newFixedThreadPool(threads,
      (r: Runnable) => { val w = new Thread(r, tag); workers.add(w); w })
    private[Par] val failure = new AtomicReference[Throwable]()

    /** Starts `body` on the pool, its jobs described as `name`. */
    def fork[A](name: String)(body: => A): Fork[A] =
      new Fork(pool.submit(new Callable[A] {
        override def call(): A = {
          val first = failure.get
          if (first != null) throw first
          val sc = s.sparkContext
          sc.setJobDescription(name)
          sc.addJobTag(tag)
          try body
          catch { case e: Throwable =>
            if (failure.compareAndSet(null, e)) sc.cancelJobsWithTag(tag)
            throw e
          }
        }
      }), failure)

    private[Par] def close(): Unit = {
      pool.shutdown()
      // a branch that was between two jobs when the first failure
      // cancelled the scope's jobs submits its next job afterwards;
      // cancel that one too
      if (failure.get != null) s.sparkContext.cancelJobsWithTag(tag)
      workers.forEach(_.join())
    }
  }

  /** A forked branch. */
  final class Fork[A] private[Par] (f: Future[A],
      failure: AtomicReference[Throwable]) {
    /** The branch's value, or the scope's first failure. */
    def join(): A =
      try f.get()
      catch { case _: ExecutionException => throw failure.get }
  }

  /** Runs `body` with a fresh `threads`-thread scope; see [[Par]]. */
  def scope[A](s: SparkSession, threads: Int)(body: Scope => A): A = {
    val p = new Scope(s, threads)
    val r = try body(p) finally p.close()
    val e = p.failure.get
    if (e != null) throw e
    r
  }
}
