package perfbench

/** The per-layer metrics of a traced run. Every traced run reports the
  * full list; a layer the workload does not call reports 0.
  */
object Layers {
  val Spans: Seq[String] = Seq(
    "ts.gen",
    "sfa.SFAOps.fit_bins", "sfa.SFAOps.windows", "sfa.SFAOps.words", "sfa.SFAOps.bags",
    "sfa.ModelIO.build", "sfa.IndexOps.knn", "streaming.IndexIngest.batch", "sfa.ModelIO.compact",
    "sfa.Boss.fit", "sfa.Boss.predict", "sfa.Weasel.fit", "sfa.Weasel.predict",
    "pipeline.Dedup.minhash_lsh", "util.Pipelines.cached")

  /** Spans whose shuffle and spill volume is reported. */
  val ShuffleSpans: Seq[String] = Seq("sfa.SFAOps.bags", "sfa.ModelIO.build", "sfa.ModelIO.compact",
    "sfa.Boss.fit", "sfa.Weasel.fit", "pipeline.Dedup.minhash_lsh")

  /** Spans whose job seconds are split by the source file of each job's
    * call site, and the files reported (`other` is every other file).
    */
  val SiteSpans: Seq[String] = Seq("sfa.Boss.fit", "sfa.Weasel.fit")
  val SiteFiles: Seq[String] = Seq("Boss", "Weasel", "LinModel", "SFAOps", "other")

  /** Phases a span's calls are taken from: set-up only spans come from
    * the set-up repetitions, compaction from the loop and the finishing
    * step, every other span from the measured loop.
    */
  private def phases(span: String): Set[String] = span match {
    case "ts.gen" | "sfa.ModelIO.build" => Set("setup")
    case "sfa.ModelIO.compact" => Set("loop", "finish")
    case _ => Set("loop")
  }

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    Spans.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.jobs" -> "count",
      s"$s.exec_cpu_s" -> "s", s"$s.driver_only_s" -> "s")) ++
      ShuffleSpans.flatMap(s => Seq(s"$s.shuffle_write_mb" -> "MB", s"$s.spill_mb" -> "MB")) ++
      SiteSpans.flatMap(s => SiteFiles.map(f => s"$s.job_s.$f" -> "s")) ++
      Seq("sfa.IndexOps.knn.scan_fraction" -> "fraction", "sfa.IndexOps.knn.probe_verified" -> "count",
        "sfa.IndexOps.knn.lb_scanned" -> "count", "layout.files" -> "count",
        "layout.bytes_per_window" -> "B", "streaming.IndexIngest.batch.commit_s" -> "s",
        "gc_s" -> "s", "peak_heap_mb" -> "MB",
        "trace.overhead_frac" -> "fraction", "trace.reconcile_frac" -> "fraction")

  def report(r: Run, t: Trace, wl: Workload, untraced: Seq[Double], traced: Seq[Double],
      gcS: Double, peakMb: Double): Unit = {
    val v = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Int)]
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Spans.foreach { s =>
      val cs = t.costs(s, phases(s))
      v(s"$s.wall_s") = (med(cs.map(_.wallS)), cs.size)
      v(s"$s.jobs") = (med(cs.map(_.jobs)), cs.size)
      v(s"$s.exec_cpu_s") = (med(cs.map(_.cpuS)), cs.size)
      v(s"$s.driver_only_s") = (med(cs.map(_.driverOnlyS)), cs.size)
      if (ShuffleSpans.contains(s)) {
        v(s"$s.shuffle_write_mb") = (med(cs.map(_.shuffleMb)), cs.size)
        v(s"$s.spill_mb") = (med(cs.map(_.spillMb)), cs.size)
      }
      if (SiteSpans.contains(s)) SiteFiles.foreach { f =>
        val known = SiteFiles.filter(_ != "other").toSet
        v(s"$s.job_s.$f") = (med(cs.map(_.siteS.collect {
          case (k, x) if k == f || (f == "other" && !known(k)) => x
        }.sum)), cs.size)
      }
      if (s == "streaming.IndexIngest.batch")
        // the batch's commit: from its last Spark job's end to the
        // batch's return (manifest rename, stream offsets and commit log)
        v(s"$s.commit_s") = (med(cs.map(_.tailS)), cs.size)
    }
    wl.layerCounts.foreach { case (n, x) => v(n) = (x, 1) }
    v("gc_s") = (gcS, 1)
    v("peak_heap_mb") = (peakMb, 1)
    val u = med(untraced)
    v("trace.overhead_frac") = (if (u > 0) med(traced) / u - 1 else 0.0, traced.size)
    v("trace.reconcile_frac") = (if (u > 0) math.abs(med(t.opLayerWalls) - u) / u else 0.0, traced.size)
    names.foreach { case (n, unit) =>
      val (x, cnt) = v.getOrElse(n, (0.0, 0))
      r.metrics(n) = r.Metric(if (x.isNaN) 0.0 else x, unit, cnt)
    }
  }
}
