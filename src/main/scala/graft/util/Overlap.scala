package graft.util

import java.util.Properties
import java.util.concurrent._
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The one primitive for overlapping independent driver-side builds
  * (Spark actions are only sequential because the driver calls them
  * sequentially): `Overlap(s) { o => val a = o.fork(x); val b =
  * o.fork(y); (a.join(), b.join()) }`.
  *  - Arms run on one bounded daemon pool, one thread per core. A
  *    thread that awaits an arm first runs, itself, every arm of the
  *    scope the pool has not started, so nested scopes cannot starve
  *    the pool however deep they go.
  *  - Each arm runs under the Spark local properties (job group,
  *    description, job tags) of the thread that opened the scope, plus
  *    the scope's own job tag, and then restores the running thread's.
  *  - The scope returns once every arm has ended. From the first
  *    failure on it starts no arm and cancels its arms' jobs, and at
  *    the end rethrows that failure with every later one suppressed.
  */
object Overlap {
  private val pool = {
    val n = math.max(2, Runtime.getRuntime.availableProcessors)
    val p = new ThreadPoolExecutor(n, n, 30, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => { val t = new Thread(r, "graft-overlap"); t.setDaemon(true); t })
    p.allowCoreThreadTimeOut(true)
    p
  }
  private val scopeIds = new atomic.AtomicLong()

  def apply[R](s: SparkSession)(body: Scope => R): R = {
    val scope = new Scope(s.sparkContext)
    val r = try Some(body(scope)) catch { case e: Throwable => scope.fail(e); None }
    scope.finish()
    r.get
  }

  final class Scope private[Overlap] (sc: SparkContext) {
    private val tag = s"graft-overlap-${scopeIds.incrementAndGet()}"
    private val props = Bridge.localProperties(sc).clone().asInstanceOf[Properties]
    props.remove(org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)
    private val arms = new ConcurrentLinkedQueue[Arm[_]]()
    private val failures = new ConcurrentLinkedQueue[Throwable]()

    def fork[T](body: => T): Arm[T] = {
      val arm = new Arm(() => body)
      arms.add(arm)
      pool.execute(arm)
      arm
    }

    private def cancelJobs(): Unit =
      try sc.cancelJobsWithTag(tag, "a sibling arm failed") catch { case _: IllegalStateException => () }

    private[Overlap] def fail(e: Throwable): Unit = failures.synchronized {
      if (!failures.contains(e)) failures.add(e)
      if (failures.peek() eq e) cancelJobs()
    }

    /** Runs `body` under the scope's properties, unless an arm failed. */
    private def inScope[T](body: () => T): T =
      if (!failures.isEmpty) null.asInstanceOf[T]
      else {
        val own = Bridge.localProperties(sc)
        Bridge.setLocalProperties(sc, props.clone().asInstanceOf[Properties])
        sc.addJobTag(tag)
        try body() finally Bridge.setLocalProperties(sc, own)
      }

    /** Runs `a` here unless a thread has started it, then every other
      * unstarted arm, then waits for `a`, re-cancelling the scope's jobs
      * while a failure stands (a running arm may submit new ones).
      */
    private def await(a: Arm[_]): Unit = {
      a.run()
      arms.forEach(_.run())
      while (!a.isDone)
        try a.get(100, TimeUnit.MILLISECONDS)
        catch {
          case _: TimeoutException => if (!failures.isEmpty) cancelJobs()
          case _: ExecutionException => ()
        }
    }

    private[Overlap] def finish(): Unit = {
      arms.forEach(await(_))
      failures.peek() match {
        case null => ()
        case first => failures.forEach(e => if (e ne first) first.addSuppressed(e)); throw first
      }
    }

    final class Arm[T] private[Scope] (body: () => T) extends FutureTask[T](() => inScope(body)) {
      override protected def setException(e: Throwable): Unit =
        try fail(e) finally super.setException(e)

      /** This arm's result, or the scope's first failure if there is one. */
      def join(): T = {
        await(this)
        failures.peek() match { case null => get() case e => throw e }
      }
    }
  }
}
