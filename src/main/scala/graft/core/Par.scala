package graft.core

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark actions from driver threads (optimization
  * guide §2.6): a multi-check gate that runs its counts sequentially
  * leaves the cluster idle through each job's tail and pays the
  * driver's per-job planning latency serially. Submitting them from a
  * small pool lets the next job's tasks back-fill freed cores; FIFO
  * scheduling keeps the earlier job ahead, which is exactly the
  * back-fill behaviour wanted.
  *
  * Only for actions with NO data dependency (each closure must read
  * already-materialized inputs or independent plans). Results come
  * back in argument order; failures propagate.
  *
  * NESTING: a closure that itself calls [[jobs]] would block a pool
  * thread on `fu.get()` of tasks starved by the same fixed pool — a
  * deadlock once 6 waiters occupy it (r20 ADVICE). No call site nests
  * today; the guard below ENFORCES that this stays safe: a call from a
  * `graft-par` thread runs its closures inline on that thread instead
  * of re-entering the pool. */
object Par {
  private val PoolThreadName = "graft-par"

  // small daemon pool, shared: gates overlap 2-6 jobs; more in flight
  // than that just fights for executors (guide §2.6)
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    6,
    (r: Runnable) => {
      val t = new Thread(r, PoolThreadName)
      t.setDaemon(true)
      t
    })

  def jobs[T](spark: SparkSession)(fs: (() => T)*): Seq[T] = {
    // reentrancy guard: never block a pool thread on the pool
    val nested = Thread.currentThread().getName == PoolThreadName
    if (nested || fs.size <= 1) fs.map(_()).toSeq
    else {
      val futs = fs.map(f => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = {
          // pool threads are created lazily on FIRST submit and would
          // otherwise inherit whatever session was active on the thread
          // that created them (stale in a multi-session JVM — tests,
          // session restart); pin the CALLER's session for the closure
          SparkSession.setActiveSession(spark)
          try f() finally SparkSession.clearActiveSession()
        }
      }))
      // unwrap ExecutionException so callers see the original failure
      futs.map { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }.toSeq
    }
  }
}
