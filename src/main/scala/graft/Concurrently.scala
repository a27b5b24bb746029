package graft

import java.util.concurrent.{ExecutionException, Executors, FutureTask}

/** The one way this program runs independent driver-side work at the
  * same time: a pipeline stage's tables ([[graft.pipeline.Runner]]) and
  * ingest sources ([[graft.ingest.Ingest.fetchParallel]]).
  */
private[graft] object Concurrently {

  private val MaxThreads = 4

  /** Runs `work` for every item on a fixed pool of at most
    * [[MaxThreads]] threads named `threadName`, made for this call, and
    * returns the results in input order. It waits for every item before
    * it rethrows the first failure in input order, unwrapped, so callers
    * see the same exception as a sequential loop would throw.
    *
    * The pool is per call, not shared: its threads start from the
    * calling thread and inherit its Spark local properties (job group,
    * scheduler pool) as they are now. `FutureTask` captures any
    * `Throwable`, so a fatal error in one item still completes its
    * task and cannot leave the wait hanging.
    */
  def forEach[A, B](items: Seq[A], threadName: String)(work: A => B): Seq[B] =
    if (items.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(items.size, MaxThreads),
        (r: Runnable) => new Thread(r, threadName))
      try {
        val tasks = items.map(a => new FutureTask[B](() => work(a)))
        tasks.foreach(pool.execute)
        val outcomes = tasks.map { t =>
          try Right(t.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.map(_.fold(e => throw e, identity))
      } finally pool.shutdownNow()
    }
}
