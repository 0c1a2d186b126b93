package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run's shared state: arguments, the active session, the
  * error-recording protocol and the metrics gathered so far.
  */
final class Run(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: java.io.File) {

  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  var trace: Option[Trace] = None
  /** Setup repetition, so every repetition writes to fresh paths. */
  var rep = 0

  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]

  /** A measured value with its unit and the number of samples behind it. */
  final case class Metric(value: Double, unit: String, n: Int)
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val detail = mutable.LinkedHashMap.empty[String, Metric]
  /** Every measured operation's seconds, by sample name. */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Results the runner checks against oracle SQL in DuckDB. */
  val oracles = mutable.ArrayBuffer.empty[Run.Oracle]

  /** The one error-recording protocol: every setup step, operation and
    * check runs through it. A failure is counted and listed, never
    * thrown past the run.
    */
  def guard[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        e.printStackTrace()
        None
    }
  }

  private def fail(msg: String): Unit = {
    failed += 1
    errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A correctness check outside every timed region; counts as one
    * attempted operation.
    */
  def check(name: String)(ok: => Boolean): Unit = {
    val ran = guard(s"check $name")(ok)
    if (ran.contains(false)) fail(s"check $name: output differs from the expected result")
    checks(name) = ran.contains(true)
  }

  /** `body` as layer span `name` when tracing, as a plain call otherwise. */
  def span[T](name: String, minus: Option[String] = None)(body: => T): T =
    trace match {
      case Some(t) => t.span(name, minus)(body)
      case None => body
    }

  def dir(sub: String): String = new java.io.File(work, s"$sub-r$rep").getAbsolutePath
}

object Run {
  /** A saved result (parquet directory) and the SQL whose output over
    * the tables of `sfDir` it must equal.
    */
  final case class Oracle(check: String, sql: String, sfDir: String, result: String)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
