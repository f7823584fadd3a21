package graft.operators

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The engine's two parallelism helpers: [[Par.awaitAll]], the one way
  * to overlap independent driver actions, and [[Par.spread]], adaptive
  * input spreading for CPU-heavy per-row kernels (tokenization, per-row
  * hyperplane signatures, vector dot products).
  *
  * The problem: Spark parallelizes a parquet scan by file split, and a
  * split never crosses a row-group boundary — so a small table written as
  * one file with one row group scans as ONE partition, and every narrow
  * stage stacked on it (the expensive regex tokenize of a dedup pipeline,
  * the 24 `vec_dot` signature projections of RP-LSH) runs on a single
  * core no matter how many the session has. Measured at sf0.1 (round 9):
  * the single-row-group `documents.parquet` made every shingle-kernel
  * consumer single-threaded, the exact cost the round-8 bench drift
  * (qd06/qd17/qd29 +0.2–0.7 s) tracked back to once the `.distinct()`
  * that had been accidentally re-spreading the relation was removed.
  *
  * The fix is adaptive, not unconditional: repartition ONLY when the
  * input's planned partition count is below the session's parallelism.
  * At 100 TB a table scans into ~10⁵ splits and this is a no-op — no
  * added exchange on the scale path. When it does fire, the input is by
  * construction small (fewer splits than cores ⇒ bounded by
  * cores × `maxPartitionBytes`), so the one extra exchange is trivially
  * sized and buys full-width parallelism for everything above it.
  *
  * Spreading hashes on a caller-chosen key (the doc/vector id) rather
  * than round-robin: unique ids spread uniformly, the exchange needs no
  * deterministic-retry sort, and downstream per-id aggregations
  * (signature/count groupBys) reuse the partitioning instead of adding
  * their own exchange.
  */
private[graft] object Par {

  /** `df` repartitioned to the session's default parallelism by `key`,
    * or `df` unchanged if its plan already yields at least half that many
    * partitions. `df.rdd` here only plans the query (no job).
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df else df.repartition(p, key)
  }

  /** Run independent driver actions concurrently and return their
    * results in task order — the engine's one overlap primitive (guide
    * §2.6: submit independent jobs from a small pool so one job's task
    * tail back-fills with the next's work).
    *
    * One task runs inline on the caller's thread. More run on a fresh
    * pool of `min(tasks.size, defaultParallelism)` threads, so overlapped
    * jobs never oversubscribe the session's cores. The pool's threads are
    * created by the caller and so inherit its Spark local properties
    * (job group, description, scheduler pool) and active session —
    * cancelling the caller's job group cancels the tasks' jobs too.
    *
    * Every task is awaited on every exit path, interrupts included: no
    * action is in flight past this frame, even on failure. The first
    * failure in task order is rethrown, with any later ones attached via
    * `addSuppressed`. Task order is also submission order, so under the
    * FIFO scheduler an earlier task's jobs take free cores first. Callers
    * own idempotence: each task must be an overwrite of its own
    * (still-invisible) output, committed only after this returns.
    */
  def awaitAll[A](tasks: Seq[() => A]): Seq[A] = tasks match {
    case Seq() => Nil
    case Seq(one) => Seq(one())
    case many =>
      val width = math.min(many.size,
        SparkSession.active.sparkContext.defaultParallelism)
      val pool = Executors.newFixedThreadPool(width)
      val futs =
        try many.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        finally drain(pool)
      val settled = futs.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      settled.collect { case Left(t) => t } match {
        case Seq() => settled.collect { case Right(a) => a }
        case first +: rest =>
          rest.foreach(t => if (t ne first) first.addSuppressed(t))
          throw first
      }
  }

  /** [[awaitAll]] for two values of different types; `a`'s failure is primary. */
  def both[A, B](a: => A, b: => B): (A, B) = awaitAll[Any](Seq(() => a, () => b)) match {
    case Seq(x, y) => (x.asInstanceOf[A], y.asInstanceOf[B]) }

  /** Shut `pool` down and wait until every submitted task has finished.
    * An interrupt does not cut the wait short; it is re-asserted after.
    */
  private def drain(pool: ExecutorService): Unit = {
    pool.shutdown()
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.MINUTES)
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
  }
}
