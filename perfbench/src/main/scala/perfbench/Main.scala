package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>
  *
  * Sets the workload up [[SetupReps]] times (fresh session, generated
  * inputs, tables and layouts at fresh paths; `setup_s` is the median),
  * runs the workload's untimed warm-up operations, then its operation in
  * a closed loop from one client thread for `seconds`, then its
  * finishing step and its correctness checks, and writes the result as
  * JSON to `out`. With `--trace 1` every measured operation is preceded
  * by an untraced twin, so the per-layer spans can be reconciled with
  * untraced wall time and the tracing overhead reported.
  */
object Main {
  val SetupReps = 3

  /** The end-to-end metrics of an untraced run, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_s" -> "s", "work_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val r = new Run(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      new java.io.File(a("work")))
    val wl = Workload.all(r.workload)()
    val out = new java.io.File(a("out"))
    try runAll(r, wl)
    finally {
      java.nio.file.Files.writeString(out.toPath, result(r))
      Option(r.spark).foreach(_.stop())
    }
  }

  private def session(r: Run): SparkSession = {
    def sub(d: String) = new java.io.File(r.work, d).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${r.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", r.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sub("spark-local"))
      .config("spark.sql.warehouse.dir", sub("warehouse"))
      .config("spark.graft.warehouse.dir", sub("graft-warehouse"))
      .config("spark.sql.streaming.checkpointLocation", sub("checkpoints"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def freshSession(r: Run): Unit = {
    graft.util.Pipelines.clear()
    Option(r.spark).foreach { s => s.catalog.clearCache(); s.stop() }
    r.trace.foreach(_.newContext())
    r.spark = session(r)
    r.trace.foreach(r.spark.sparkContext.addSparkListener)
  }

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** (steal, total) ticks of all CPUs from /proc/stat, where there is one. */
  private def cpuTicks: Option[(Long, Long)] =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f(7), f.take(8).sum)
    }.toOption

  private val born = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $what")

  def runAll(r: Run, wl: Workload): Unit = {
    if (r.traced) r.trace = Some(new Trace(s"${r.workload}-${r.seed}"))
    // ---- set-up, repeated; each repetition uses fresh paths --------------
    val setups = (1 to SetupReps).flatMap { rep =>
      r.rep = rep
      r.guard(s"setup $rep") {
        Workload.timed { freshSession(r); wl.setup(r) }._2
      }
    }
    if (setups.size < SetupReps) return
    progress("set up")
    r.trace.foreach { t => t.nextOp(); t.phase = "warmup" }
    r.guard("warm-up") {
      val (pieces, dt) = Workload.timed(wl.warmUp(r))
      r.detail("warmup_s") = r.Metric(dt, "s", 1)
      pieces.groupBy(_.name).foreach { case (n, xs) =>
        r.detail(s"warmup_${n}_s") = r.Metric(xs.map(_.seconds).sum, "s", xs.size)
      }
    }
    // A traced run compares each traced operation with an untraced twin
    // run just before it, so the first twin must not carry first-call
    // costs a partial warm-up left (classify_curate warms only its BOSS
    // fit): one more operation, neither timed nor traced.
    if (r.traced) r.guard("traced warm-up") {
      val saved = r.trace
      r.trace = None
      try wl.op(r) finally r.trace = saved
    }
    // an end-to-end metric: reported by untraced runs only
    (if (r.traced) r.detail else r.metrics)("setup_s") =
      r.Metric(Stats.median(setups), "s", setups.size)

    // ---- the closed loop --------------------------------------------------
    val samples = scala.collection.mutable.ArrayBuffer.empty[Workload.Sample]
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedOps = scala.collection.mutable.ArrayBuffer.empty[Double]
    oldGen.foreach(_.resetPeakUsage())
    val cpu0 = cpuTicks
    val gc0 = gcSeconds
    r.trace.foreach(_.phase = "loop")
    progress("warmed up")
    // measure for `seconds`: start another operation only while the
    // previous one's duration still fits in the time left (always one)
    val t0 = System.nanoTime()
    var last = 0.0
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 + last <= r.seconds) {
      val opStart = System.nanoTime()
      r.guard(s"op $i") {
        r.trace match {
          case None =>
            samples ++= wl.op(r)
          case Some(t) =>
            val saved = r.trace
            r.trace = None
            val (_, u) = Workload.timed(wl.op(r))
            r.trace = saved
            t.nextOp()
            val (s, d) = Workload.timed(wl.op(r))
            untraced += u
            tracedOps += d
            samples ++= s
        }
      }
      last = (System.nanoTime() - opStart) / 1e9
      i += 1
    }
    val loopGc = gcSeconds - gc0
    val cpu1 = cpuTicks
    val peakMb = oldGen.map(_.getPeakUsage.getUsed).sum / 1e6
    progress(s"measured $i operations")
    r.trace.foreach(_.phase = "finish")
    r.guard("finish")(wl.finish(r))
    r.trace.foreach(_.phase = "check")
    wl.check(r)
    progress("checked")

    // ---- metrics ----------------------------------------------------------
    def of(name: String) = samples.filter(_.name == name).toSeq
    val ops = of(wl.opName)
    val work = of(wl.workName)
    if (!r.traced) {
      if (ops.nonEmpty)
        r.metrics("op_p50_s") = r.Metric(Stats.median(ops.map(_.seconds)), "s", ops.size)
      if (work.nonEmpty)
        r.metrics("work_per_s") = r.Metric(rate(work), "1/s", work.size)
    }
    samples.map(_.name).distinct.foreach { n =>
      val xs = of(n)
      r.detail(s"${n}_p50_s") = r.Metric(Stats.median(xs.map(_.seconds)), "s", xs.size)
      r.detail(s"${n}_${xs.head.item}_per_s") = r.Metric(rate(xs), s"${xs.head.item}/s", xs.size)
      r.samples(n) = xs.map(_.seconds)
    }
    r.detail("peak_heap_mb") = r.Metric(peakMb, "MB", 1)
    r.detail("gc_s") = r.Metric(loopGc, "s", 1)
    // CPU time the hypervisor gave to other guests during the loop, as a
    // share of all CPU time: a run that was slow for this reason shows it
    for (a <- cpu0; b <- cpu1 if b._2 > a._2)
      r.detail("steal_frac") = r.Metric((b._1 - a._1).toDouble / (b._2 - a._2), "fraction", 1)
    r.trace.foreach { t =>
      // every job and task event so far must reach the listener first
      org.apache.spark.sql.graft.Bridge.waitListenerBus(r.spark.sparkContext)
      Layers.report(r, t, wl, untraced.toSeq, tracedOps.toSeq, loopGc, peakMb)
    }
  }

  /** Items per second of the median sample: median items / median time. */
  private def rate(xs: Seq[Workload.Sample]): Double =
    Stats.median(xs.map(_.items)) / Stats.median(xs.map(_.seconds))

  def result(r: Run): String = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = json.createObjectNode()
    // NaN and infinities are not JSON numbers: they become null
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) json.getNodeFactory.nullNode() else json.getNodeFactory.numberNode(v)
    def ms(name: String, m: Iterable[(String, r.Metric)]): Unit = {
      val n = o.putObject(name)
      m.foreach { case (k, v) =>
        n.putObject(k).put("unit", v.unit).put("n", v.n).set[com.fasterxml.jackson.databind.JsonNode]("value", num(v.value))
      }
    }
    o.put("workload", r.workload).put("seed", r.seed).put("trace", r.traced)
      .put("cores", r.cores).put("attempted", r.attempted).put("failed", r.failed)
    val errs = o.putArray("errors")
    r.errors.foreach(e => errs.add(e))
    val checks = o.putObject("checks")
    r.checks.foreach { case (k, v) => checks.put(k, v) }
    val samples = o.putObject("samples_s")
    r.samples.foreach { case (k, xs) => val a = samples.putArray(k); xs.foreach(x => a.add(num(x))) }
    val oracles = o.putArray("oracles")
    r.oracles.foreach { x =>
      oracles.addObject().put("check", x.check).put("sql", x.sql).put("sf_dir", x.sfDir).put("result", x.result)
    }
    ms("metrics", r.metrics)
    ms("detail", r.detail)
    json.writeValueAsString(o)
  }
}
