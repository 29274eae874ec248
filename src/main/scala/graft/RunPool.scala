package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}
import scala.util.{Failure, Try}

/** The worker threads of ONE run of concurrent driver-side work (a
  * [[Pipeline.run]], one PQ codebook training), named `<name>-N`.
  * Create it inside the run and [[close]] it in a `finally`. The calling
  * thread starts each worker when it first submits work, so the worker
  * inherits the caller's Spark local properties (job group, job tags)
  * as they are during this run; a pool that outlived the run (or
  * `ExecutionContext.global`) would carry them into later runs' jobs. */
private[graft] final class RunPool(size: Int, name: String) {
  private val threads = new ConcurrentLinkedQueue[Thread]()
  private val pool = Executors.newFixedThreadPool(size, { (r: Runnable) =>
    val t = new Thread(r, s"$name-${threads.size + 1}")
    t.setDaemon(true)
    threads.add(t)
    t
  })

  /** `f` over `items`, concurrently. Waits for EVERY task, also after
    * one has failed: a failed attempt must not go on writing (into a
    * lake, into a cache) while the caller retries or moves on. Returns
    * the results in item order, or rethrows the first failure in item
    * order as thrown (not wrapped in an ExecutionException). */
  def all[A, B](items: Seq[A])(f: A => B): Seq[B] =
    items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
      .map(task => Try(task.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      .map(_.get)

  /** Returns once every worker thread has exited. */
  def close(): Unit = {
    pool.shutdown()
    threads.forEach(_.join())
  }
}
