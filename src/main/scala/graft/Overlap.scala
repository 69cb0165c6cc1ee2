package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, Future => JFuture}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The engine's one way to overlap independent driver-side work. Spark
  * actions are sequential only because driver code calls them
  * sequentially; each thunk here drives its own Spark jobs and the
  * scheduler interleaves their tasks like any multi-session workload.
  * No submitted work outlives the call that submitted it: every fork
  * settles before [[all]] or [[scope]] returns or throws, so the caller's
  * cleanup (unpersisting the caches the forks read, restoring the conf
  * they plan under) never runs under a live sibling. Every fork runs under
  * its submitter's Spark thread-locals ([[SparkLocals]]), so its jobs carry
  * the submitter's job group, description and SQL execution.
  *
  * One daemon cached pool, unbounded, so nested calls cannot deadlock;
  * concurrency stays bounded by the handful of thunks callers submit.
  */
object Overlap {

  private lazy val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-overlap")
    t.setDaemon(true)
    t
  })

  /** The Spark thread-local properties a fork's jobs carry. Pool threads
    * are cached and each inherited these from whichever thread created
    * it, so a fork that did not set them ran under a stale job group
    * (which `StreamingQuery.stop()` cancels by), description, call site
    * and SQL execution. `SparkContext.getLocalProperties` is
    * `private[spark]`; these are the keys Spark's job, SQL and streaming
    * layers set. */
  private val JobProperties = Seq(
    "spark.job.description", "spark.jobGroup.id", "spark.job.interruptOnCancel",
    "spark.scheduler.pool", "callSite.short", "callSite.long",
    "spark.sql.execution.id", "spark.sql.execution.root.id", "sql.streaming.queryId")

  /** One thread's Spark thread-locals on `sc`: the [[JobProperties]] and
    * the job tags. */
  private final class SparkLocals(sc: SparkContext) {
    private val props = JobProperties.map(sc.getLocalProperty)
    private val tags = sc.getJobTags()

    private def install(): Unit = {
      JobProperties.zip(props).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.clearJobTags()
      sc.addJobTags(tags)
    }

    /** Run `body` under the captured thread-locals, then put the running
      * thread's own back. */
    def run[A](body: => A): A = {
      val own = new SparkLocals(sc)
      install()
      try body finally own.install()
    }
  }

  /** The calling thread's thread-locals, when a live Spark context exists. */
  private def sparkLocals(): Option[SparkLocals] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped).map(new SparkLocals(_))

  final class Fork[A] private[Overlap] (private[Overlap] val task: JFuture[A])

  final class Scope private[Overlap] {
    private val forks = scala.collection.mutable.ArrayBuffer.empty[JFuture[_]]

    /** Start `body` concurrently with the rest of the scope, under the
      * calling thread's Spark thread-locals as they are now. */
    def fork[A](body: => A): Fork[A] = {
      val from = sparkLocals()
      val task = pool.submit(new Callable[A] {
        def call(): A = from.fold(body)(_.run(body))
      })
      forks.synchronized(forks += task)
      new Fork(task)
    }

    /** Block until `f` finishes; rethrow its own failure. */
    def await[A](f: Fork[A]): A =
      try f.task.get()
      catch { case e: ExecutionException => throw e.getCause }

    /** Wait out every fork, through interrupts (re-asserted after), and
      * return their failures in submission order. */
    private[Overlap] def settle(): Seq[Throwable] = {
      var interrupted = false
      def failure(task: JFuture[_]): Option[Throwable] =
        try { task.get(); None }
        catch {
          case _: InterruptedException => interrupted = true; failure(task)
          case e: ExecutionException   => Some(e.getCause)
        }
      val failures = forks.synchronized(forks.toVector).flatMap(failure)
      if (interrupted) Thread.currentThread().interrupt()
      failures
    }
  }

  /** Run `body` with a [[Scope]] to fork work on; every fork settles
    * before the scope returns or throws. A failing body wins (the forks'
    * failures ride along as suppressed); otherwise the first failed fork
    * in submission order is rethrown, awaited or not. */
  def scope[A](body: Scope => A): A = {
    val s = new Scope
    val result =
      try body(s)
      catch {
        case t: Throwable =>
          s.settle().foreach(f => if (f ne t) t.addSuppressed(f))
          throw t
      }
    s.settle().headOption.foreach(throw _)
    result
  }

  /** Run the thunks concurrently and return their results in submission
    * order; when any fails, the first failure in submission order is
    * rethrown after all of them have settled.
    *
    * This is what makes an overlapped write replay-safe. A stage's writes
    * are disjoint tables, each overwriting its own `ingest_batch=<id>`
    * partition, and nothing in the same trigger reads them (probes filter
    * `ingest_batch < batchId`), so their order never mattered. The failed
    * trigger rethrows once all writes have settled, foreachBatch
    * redelivers, and every write absorbs the redelivery whichever subset
    * the failed attempt completed. A fail-fast await would leave an
    * orphaned overwrite free to race the redelivery. */
  def all[A](thunks: Seq[() => A]): Seq[A] = scope { s =>
    val forks = thunks.iterator.map(t => s.fork(t())).toVector
    forks.map(s.await(_))
  }
}

object SessionConf {

  /** Run `body` with the given session confs set, then restore each key:
    * by `set` to its previous value, or by `unset` when the session never
    * set it. A fabricated default would leak a plan-affecting value: an
    * unset optional conf (adaptive broadcast's threshold) falls back to
    * another conf, a set one does not. */
  def withConf[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val explicit = spark.conf.getAll
    val prev = kvs.map { case (k, _) => k -> explicit.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.reverseIterator.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
