package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spans around each call into a layer's public function, and the
  * Spark jobs that ran inside them.
  *
  * The client runs one span at a time, so a job belongs to the
  * innermost span whose time window holds the job's start. This does
  * not rely on thread-local job properties, which jobs started from the
  * engine's own build-pool threads do not inherit.
  *
  * Spans are kept in memory and summarised once when the run ends.
  */
final class Trace(runId: String) extends SparkListener {
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala""".r

  /** One recorded span. `minus` names a sibling span recorded just
    * before this one whose work this span repeats: the layer's own
    * share is this span minus that one (lazy chains are traced by
    * materialising successive prefixes).
    */
  final case class Span(name: String, parent: Option[Int], startMs: Long, endMs: Long,
      wallS: Double, op: Int, phase: String, minus: Option[Int], run: String = runId)

  /** A job, its stages, and the source file of the action that started
    * it (its call site, as Spark names its result stage: `count at
    * Weasel.scala:431`).
    */
  private final case class Job(startMs: Long, stages: Seq[(Int, Int)], site: String) {
    var endMs: Long = Long.MaxValue
  }

  private final class StageAcc {
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  // job and stage ids restart with every SparkContext: key them by
  // the context's epoch as well
  private val jobs = mutable.LinkedHashMap.empty[(Int, Int), Job]
  private val stages = mutable.HashMap.empty[(Int, Int), StageAcc]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var opIndex = 0
  private var epoch = 0
  /** Run phase the next spans belong to: setup, loop, finish or check. */
  var phase = "setup"

  /** Call after the previous SparkContext stopped, before the next starts. */
  def newContext(): Unit = synchronized { epoch += 1 }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).flatMap(SiteFile.findFirstMatchIn)
      .map(_.group(1)).getOrElse("other")
    jobs((epoch, e.jobId)) = Job(e.time, e.stageIds.map(epoch -> _), site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get((epoch, e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val acc = stages.getOrElseUpdate((epoch, e.stageId), new StageAcc)
      acc.cpuNs += m.executorCpuTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.diskBytesSpilled
    }
  }

  /** Start a new client operation; spans recorded until the next call
    * share its index.
    */
  def nextOp(): Unit = synchronized { opIndex += 1 }

  /** Record `body` as span `name`. */
  def span[T](name: String, minus: Option[String] = None)(body: => T): T = {
    val parent = synchronized(open.headOption)
    val idx = synchronized {
      spans += Span(name, parent, System.currentTimeMillis(), Long.MaxValue, 0.0, opIndex, phase,
        minus.flatMap(m => spans.lastIndexWhere(s => s.name == m && s.op == opIndex) match {
          case -1 => None
          case i => Some(i)
        }))
      open = (spans.length - 1) :: open
      spans.length - 1
    }
    val t0 = System.nanoTime()
    try body
    finally synchronized {
      spans(idx) = spans(idx).copy(endMs = System.currentTimeMillis(),
        wallS = (System.nanoTime() - t0) / 1e9)
      open = open.tail
    }
  }

  /** Per-span cost, before any prefix differencing. `siteS` is job
    * seconds by the source file of the job's call site.
    */
  final case class Cost(wallS: Double, jobs: Double, cpuS: Double, driverOnlyS: Double,
      shuffleMb: Double, spillMb: Double, tailS: Double, siteS: Map[String, Double]) {
    def -(o: Cost): Cost = Cost(wallS - o.wallS, jobs - o.jobs, cpuS - o.cpuS,
      driverOnlyS - o.driverOnlyS, shuffleMb - o.shuffleMb, spillMb - o.spillMb, tailS - o.tailS,
      (siteS.keySet ++ o.siteS.keySet).map(k => k -> (siteS.getOrElse(k, 0.0) - o.siteS.getOrElse(k, 0.0))).toMap)
  }

  /** The jobs whose start falls inside span `i` and inside none of its
    * child spans.
    */
  private def ownJobs(i: Int): Seq[Job] = {
    val s = spans(i)
    val kids = spans.indices.filter(j => spans(j).parent.contains(i))
    jobs.values.toSeq.filter { j =>
      j.startMs >= s.startMs && j.startMs <= s.endMs &&
        !kids.exists(k => j.startMs >= spans(k).startMs && j.startMs <= spans(k).endMs)
    }
  }

  /** Cost of span `i` as recorded (all its jobs, its whole wall time). */
  def rawCost(i: Int): Cost = synchronized {
    val s = spans(i)
    val js = ownJobs(i)
    val accs = js.flatMap(_.stages).flatMap(stages.get)
    // the union of the jobs' intervals, clipped to the span
    val iv = js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    val lastEnd = if (js.isEmpty) s.startMs else js.map(j => math.min(j.endMs, s.endMs)).max
    Cost(
      wallS = s.wallS,
      jobs = js.size.toDouble,
      cpuS = accs.map(_.cpuNs).sum / 1e9,
      driverOnlyS = math.max(0.0, s.wallS - covered / 1e3),
      shuffleMb = accs.map(_.shuffleWrite).sum / 1e6,
      spillMb = accs.map(_.spill).sum / 1e6,
      tailS = math.max(0.0, (s.endMs - lastEnd) / 1e3),
      siteS = js.groupBy(_.site).map { case (f, xs) =>
        f -> xs.map(j => math.max(0L, math.min(j.endMs, s.endMs) - math.max(j.startMs, s.startMs))).sum / 1e3
      })
  }

  /** Cost of span `i` credited to its layer: the raw cost, less the
    * prefix span it repeats.
    */
  def cost(i: Int): Cost = spans(i).minus match {
    case Some(m) => rawCost(i) - rawCost(m)
    case None => rawCost(i)
  }

  /** Every span of `name` recorded in `phases`, as layer costs. */
  def costs(name: String, phases: Set[String]): Seq[Cost] =
    spans.indices.filter(i => spans(i).name == name && phases(spans(i).phase)).map(cost)

  /** Per client operation of the loop: the sum of its top-level spans'
    * layer wall times (what the layer spans say the operation cost).
    */
  def opLayerWalls: Seq[Double] =
    spans.indices.filter(i => spans(i).parent.isEmpty && spans(i).phase == "loop")
      .groupBy(spans(_).op).values.map(_.map(cost(_).wallS).sum).toSeq
}
