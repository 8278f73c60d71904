package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of independent Spark actions.
  *
  * Spark's scheduler is thread-safe: actions submitted from several driver
  * threads run as concurrent jobs, so small jobs (a per-label parquet write,
  * a bucketed write, an MLlib fit) back-fill the cores one job alone leaves
  * idle. [[all]] is the one place the engine does that.
  *
  * Each call builds its own pool and shuts it down before returning. Pool
  * threads are therefore created by the calling thread, and inherit its
  * Spark local properties (job group, job description, scheduler pool and
  * any caller-set tag), so their jobs stay attributed and cancellable with
  * the caller's. A shared pool such as `ExecutionContext.global` carries
  * whatever properties its threads happened to start with. Calls nest
  * safely for the same reason: an inner call never waits on the pool its
  * own caller occupies.
  */
object Jobs {

  /** Run `tasks` concurrently on at most `defaultParallelism` driver
    * threads and return their results in input order. Every task runs to
    * completion before the first failure (in input order) is rethrown, so
    * a caller's cleanup never races a sibling job still in flight.
    */
  def all[A](tasks: Seq[() => A]): Seq[A] =
    if (tasks.isEmpty) Nil
    else {
      val threads = math.min(tasks.size,
        SparkSession.active.sparkContext.defaultParallelism)
      val pool = Executors.newFixedThreadPool(threads, daemon)
      try {
        val futures = tasks.toVector.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        futures.map(f => Try(f.get())).map {
          case Success(a) => a
          case Failure(e: ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
      } finally pool.shutdown()
    }

  private val daemon: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, "graft-jobs")
    t.setDaemon(true)
    t
  }
}
