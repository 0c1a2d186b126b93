package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sfa._

/** One benchmark workload. The protocol ([[Main]]) calls `setup` once
  * per setup repetition, then `warmUp`, then `op` in a closed loop for
  * the run's seconds, then `finish` and `check`, all through the run's
  * error-recording guard.
  */
trait Workload {
  /** Generate the inputs from the run's seed and prepare them. */
  def setup(r: Run): Unit

  /** One client operation; returns its timed pieces. */
  def op(r: Run): Seq[Workload.Sample]

  /** Untimed work before the loop, enough for the JIT and Spark's code
    * generation to settle; returns its timed pieces.
    */
  def warmUp(r: Run): Seq[Workload.Sample]

  /** Work after the closed loop (timed separately, not in op_p50_s). */
  def finish(r: Run): Unit = ()

  /** Correctness checks, outside every timed region. */
  def check(r: Run): Unit

  /** Per-layer counts the workload's layers report, by metric name. */
  def layerCounts: Seq[(String, Double)] = Nil

  /** The samples the end-to-end metrics come from: `opName` gives
    * `op_p50_s`, `workName` the items per second of `work_per_s`.
    */
  def opName: String
  def workName: String
}

object Workload {
  /** One timed piece of an operation and the items it processed. */
  final case class Sample(name: String, seconds: Double, items: Double, item: String)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def all: Map[String, () => Workload] = Map(
    "sfa_words" -> (() => new SfaWords),
    "knn_ingest" -> (() => new KnnIngest),
    "classify_curate" -> (() => new ClassifyCurate))
}

import Workload._

/** The SFA word chain over seeded random walks: equi-depth bin fit on
  * disjoint windows, then sliding windows → fused words → numerosity-
  * reduced bags into a noop sink.
  */
final class SfaWords extends Workload {
  private val (nSeries, len, w, l, alpha, bits) = (160, 2048, 64, 8, 4, 2)
  private val windows = nSeries.toLong * (len - w + 1)
  private var walks: Array[Array[Double]] = _
  private var series: DataFrame = _

  val opName = "chain"
  val workName = "chain"

  def warmUp(r: Run): Seq[Sample] = (1 to 3).flatMap(_ => op(r))

  def setup(r: Run): Unit = {
    walks = r.span("ts.gen")(Gen.randomWalks(nSeries, len, r.seed))
    val spark = r.spark
    import spark.implicits._
    val path = r.dir("walks")
    walks.toSeq.zipWithIndex.map { case (d, i) => (i.toLong, d.toSeq) }
      .toDF("user_id", "data").write.mode("overwrite").parquet(path)
    series = spark.read.parquet(path)
  }

  private def fitBins(r: Run): Array[Array[Double]] = r.span("sfa.SFAOps.fit_bins") {
    SFAOps.collectBins(SFAOps.equiDepthBins(
      SFAOps.disjointApprox(series, w, l, normMean = false), alpha), l, alpha)
  }
  private def approx = SFAOps.slidingApproxArrays(series, w, l, normMean = false)
  private def words(bins: Array[Array[Double]]) = SFAOps.packWordsFused(approx, bins, bits)

  def op(r: Run): Seq[Sample] = {
    val (_, dt) = timed {
      val bins = fitBins(r)
      if (r.trace.isDefined) {
        // lazy chain: materialise successive prefixes, credit differences
        r.span("sfa.SFAOps.windows")(noop(approx))
        r.span("sfa.SFAOps.words", minus = Some("sfa.SFAOps.windows"))(noop(words(bins)))
        r.span("sfa.SFAOps.bags", minus = Some("sfa.SFAOps.words"))(
          noop(SFAOps.bagOfWords(words(bins))))
      } else noop(SFAOps.bagOfWords(words(bins)))
    }
    Seq(Sample("chain", dt, windows.toDouble, "windows"))
  }

  /** Bags for sampled series equal a driver-side recomputation with the
    * engine's own Fourier kernel and the fitted bins.
    */
  def check(r: Run): Unit = {
    val bins = fitBins(r)
    val rnd = new java.util.SplittableRandom(r.seed ^ 0x5fa)
    val sample = Seq.fill(4)(rnd.nextInt(nSeries).toLong).distinct
    val got = SFAOps.bagOfWords(words(bins))
      .filter(col("user_id").isin(sample: _*))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val want = sample.flatMap(id => driverBag(walks(id.toInt), bins).map { case (wd, c) => (id, wd, c) }).toSet
    r.check("sfa_words.bags_equal_driver")(got.nonEmpty && got == want)
  }

  private def driverBag(x: Array[Double], bins: Array[Array[Double]]): Map[Long, Long] = {
    val (_, stds) = Fourier.rollingMeanStdDirect(x, w)
    val edges = bins.map(_.filter(_ != Double.MaxValue))
    val ws = (0 to x.length - w).map { t =>
      val f = if (stds(t) > 0) 1.0 / stds(t) else 1.0
      val a = Fourier.transformWindow(x, t, w, l, normMean = false, lowerBounding = true).map(_ * f)
      a.indices.map(c => edges(c).count(a(c) >= _).toLong << (bits * c)).sum
    }
    val kept = ws.indices.filter(t => t == 0 || ws(t) != ws(t - 1)).map(ws)
    kept.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }
}

/** Exact k-NN over a persisted prefix layout while a stream appends to
  * it. One closed-loop client alternates a micro-batch append with a
  * query batch, so every batch reads the files the append before it
  * wrote; after the loop the layout is compacted and queried once more.
  */
final class KnnIngest extends Workload {
  import graft.streaming.StreamingIndexIngest
  import graft.streaming.StreamingIndexIngest.WindowRecord
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  // α = 4 keeps the layout at 16 prefix directories: with α = 8 (64
  // directories) every append wrote up to 64 small files and the
  // file-system work made append times swing from run to run
  private val (w, l, alpha, prefixLen) = (32, 8, 4, 2)
  private val (baseChunks, chunkSize) = (4, 5000)
  private val baseWindows = baseChunks * chunkSize
  private val batchWindows = 5000
  // 80 queries a batch: the batch cost depends on how far each query's
  // prefix pruning gets on the seed's walk, and more queries average it
  private val (nQueries, k, probe) = (80, 5, 64)

  private var walk: Array[Double] = _
  private var model: SFAModel = _
  private var path: String = _
  private var queryWindows: DataFrame = _
  private var input: MemoryStream[WindowRecord] = _
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private var batches = 0
  private val stats = scala.collection.mutable.ArrayBuffer.empty[IndexOps.KnnStats]
  private var lastResult = Array.empty[(Long, Long, Long, Double)]
  private var layoutFiles = 0.0
  private var bytesPerWindow = 0.0

  val opName = "query_batch"
  val workName = "ingest_batch"

  /** One operation and one compaction: every kind of call the run
    * makes. A second query batch was still 0.3–0.6 s slower than a
    * third; it is the loop's first, and the loop's median over its
    * batches does not rest on it.
    */
  def warmUp(r: Run): Seq[Sample] =
    op(r) :+ Sample("compact", compact(r), 1.0, "compactions")

  def setup(r: Run): Unit = {
    implicit val spark: SparkSession = r.spark
    walk = r.span("ts.gen")(Gen.randomWalk(baseWindows + w - 1, r.seed))
    model = SFA.fitWindowing(Array((walk, 0.0)), w, l, alpha, normMean = false, lowerBounding = true)
    path = r.dir("layout")
    batches = 0
    stats.clear()
    r.span("sfa.ModelIO.build") {
      val corpus = BulkLoad.windowRecords(spark, walk, baseChunks, chunkSize, w, l, model)
      ModelIO.saveIndex(corpus, model.usedBits, prefixLen, path)
    }
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[WindowRecord]
    stream = StreamingIndexIngest.ingest(input.toDS(), model.usedBits, prefixLen, path, r.dir("ckpt"))
  }

  /** Query batch `batch`: windows of the indexed walk, each with
    * N(0, 0.1²) noise per point, so every query has near neighbours.
    * A batch's cost depends on how far each query's prefix pruning gets
    * (on one seed, the verified pairs of a 40-query set differed by a
    * quarter from another's), so every batch draws fresh offsets, one
    * in each of `nQueries` equal stretches of the walk, and the run's
    * median batch averages over the draws.
    */
  private def queries(seed: Long, batch: Int): DataFrame = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + batch)
    val steps = Gen.randomWalk(nQueries * w + 1, rnd.nextLong()).sliding(2).map(p => 0.1 * (p(1) - p(0)))
    val stretch = (walk.length - w) / nQueries
    val qwalk = Array.tabulate(nQueries) { i =>
      val off = i * stretch + rnd.nextInt(stretch)
      walk.slice(off, off + w)
    }.flatten.zip(steps.toSeq).map { case (x, e) => x + e }
    BulkLoad.queryWindows(SparkSession.active, qwalk, nQueries, w, l, model)
  }

  /** The next micro-batch's window records, cut from a continuation of
    * the seeded walk and built on the driver with the layout's model.
    */
  private def nextRecords(seed: Long): Seq[WindowRecord] = {
    val arr = Gen.randomWalk(batchWindows + w - 1, seed).map(_ + walk.last)
    val approx = Fourier.transformWindowing(arr, w, l, model.normMean, model.lowerBounding,
      applyZNorm = true)
    val (_, stds) = Fourier.rollingMeanStdDirect(arr, w)
    val base = baseWindows.toLong + batches.toLong * batchWindows
    approx.indices.map { t =>
      val f = if (stds(t) > 0) 1.0 / stds(t) else 1.0
      WindowRecord(base + t, arr.slice(t, t + w).map(_ * f).toSeq,
        model.quantize(approx(t)).toSeq, approx(t).toSeq)
    }
  }

  private def knn(r: Run): Array[(Long, Long, Long, Double)] = r.span("sfa.IndexOps.knn") {
    val (df, st) = IndexOps.knnOverLayout(path, queryWindows, model.bins, model.normMean, k, probe,
      prefixLen)(r.spark)
    val rows = df.orderBy("qid", "rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    stats += st
    rows
  }

  private def compact(r: Run): Double =
    timed(r.span("sfa.ModelIO.compact")(ModelIO.compactIndex(path, maxFilesPerPrefix = 1)(r.spark)))._2

  def op(r: Run): Seq[Sample] = {
    val recs = nextRecords(r.seed * 31L + batches)
    queryWindows = queries(r.seed, batches)
    val (_, is) = timed(r.span("streaming.IndexIngest.batch") {
      input.addData(recs)
      stream.processAllAvailable()
    })
    batches += 1
    val (rows, qs) = timed(knn(r))
    lastResult = rows
    Seq(Sample("ingest_batch", is, recs.size.toDouble, "windows"),
      Sample("query_batch", qs, nQueries.toDouble, "queries"))
  }

  /** Records the layout's file count and size, stops the stream,
    * compacts, and queries the compacted layout once more (the result
    * [[check]] verifies).
    */
  override def finish(r: Run): Unit = {
    val files = layoutDataFiles
    layoutFiles = files.size.toDouble
    bytesPerWindow = files.map(_.length()).sum / (baseWindows.toDouble + batches.toDouble * batchWindows)
    stream.stop()
    r.detail("compact_s") = r.Metric(compact(r), "s", 1)
    val (rows, qs) = timed(knn(r))
    lastResult = rows
    r.detail("query_after_compact_s") = r.Metric(qs, "s", 1)
  }

  private def layoutDataFiles: Seq[java.io.File] = {
    def walkDir(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) walkDir(c) else Seq(c).filter(_.getName.endsWith(".parquet")))
    walkDir(new java.io.File(path)).filter(_.getParentFile.getName.startsWith("prefix="))
  }

  /** Every committed window is in the layout exactly once, and the last
    * k-NN result equals a brute-force scan of the final corpus.
    */
  def check(r: Run): Unit = {
    implicit val spark: SparkSession = r.spark
    val corpus = ModelIO.loadIndex(path)
    val want = IndexOps.knnScan(corpus.select("id", "data"), queryWindows.select("qid", "qdata"), k)
      .orderBy("qid", "rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3)))
    val expectRows = baseWindows.toLong + batches.toLong * batchWindows
    r.check("knn_ingest.corpus_complete")(corpus.count() == expectRows &&
      corpus.select("id").distinct().count() == expectRows)
    r.check("knn_ingest.knn_equals_scan")(lastResult.length == nQueries * k && lastResult.sameElements(want))
  }

  override def layerCounts: Seq[(String, Double)] = Seq(
    "sfa.IndexOps.knn.scan_fraction" -> Stats.median(stats.map(_.scanFraction).toSeq),
    "sfa.IndexOps.knn.probe_verified" -> Stats.median(stats.map(_.probeVerified.toDouble).toSeq),
    "sfa.IndexOps.knn.lb_scanned" -> Stats.median(stats.map(_.lbScanned.toDouble).toSeq),
    "layout.files" -> layoutFiles,
    "layout.bytes_per_window" -> bytesPerWindow)
}

/** Model fits and a curation query on small seeded inputs: one BOSS
  * ensemble and one WEASEL fit and prediction on generated CBF series,
  * then MinHash-LSH near-duplicate search through the engine's query
  * registry over a generated `documents` table, asked twice: once after
  * the stage cache was cleared and once served from it. The data is
  * tiny, so time goes to driver work, job scheduling and the local
  * logistic-regression fits.
  */
final class ClassifyCurate extends Workload {
  private val (nTrain, nTest, len, nDocs) = (60, 60, 128, 400)
  // reduced grids, so a round fits a run: BOSS windows 40–52 with mean
  // normalisation, fitted on the first 30 train series (the size of the
  // reference's CBF train set); WEASEL windows 24–40 with a single
  // (norm, f) candidate, so no cross-validation fold fits, on all 60
  private val bossTrain = 30
  private val bossCfg = Boss.Config(minWindowLength = 40, maxWindowLength = 52, normalization = Seq(true))
  private val weaselCfg = Weasel.Config(minF = 4, maxF = 4, normalization = Seq(true),
    minWindowLength = 24, maxWindowLength = 40)
  private val Query = "dedup_minhash_lsh"
  /** The reference's CBF goldens (BOSS 0.999, WEASEL 0.998) less its
    * 0.05 tolerance.
    */
  private val (bossFloor, weaselFloor) = (0.949, 0.948)

  private var train: DataFrame = _
  private var test: DataFrame = _
  /** The scratch sf directory holding the `documents` table. */
  private var sfDir: String = _
  private var bossAcc = Double.NaN
  private var weaselAcc = Double.NaN
  private var minhash: DataFrame = _

  val opName = "round"
  // the two fits, which carry most of a round; the predictions are a few
  // seconds of fixed per-job cost and scattered too much from run to run
  val workName = "fit"

  /** Labelled series as an (id, label, data) parquet table at `path`. */
  private def series(r: Run, xs: Array[(Double, Array[Double])], path: String): DataFrame = {
    val spark = r.spark
    import spark.implicits._
    xs.toSeq.zipWithIndex.map { case ((lab, d), i) => (i.toLong, lab, d.toSeq) }
      .toDF("id", "label", "data").write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def setup(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val (tr, te, docs) = r.span("ts.gen") {
      (Gen.cbf(nTrain, len, r.seed), Gen.cbf(nTest, len, r.seed ^ 0xcbfL), Gen.documents(nDocs, r.seed))
    }
    sfDir = r.dir("sf")
    docs.toSeq.zipWithIndex.map { case ((id, t), i) => (id, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
    train = series(r, tr, r.dir("train"))
    test = series(r, te, r.dir("test"))
  }

  /** One BOSS fit on a tenth of the train series: the same plans, so the
    * JIT and Spark's code generation warm up where a first call costs
    * most (on 4 cores a first BOSS fit took about 4 s longer than a later
    * one). The rest of the round is not warmed, to keep a run short: a
    * whole warm-up round costs as much as a measured one, as the fits'
    * time is mostly per job, not per series. A first WEASEL fit took
    * 2–4 s longer than a later one, and a first prediction or MinHash
    * query about 1 s; that cost is part of the measured round.
    */
  def warmUp(r: Run): Seq[Sample] = {
    implicit val spark: SparkSession = r.spark
    val tiny = series(r, Gen.cbf(nTrain / 10, len, r.seed), r.dir("warm-train"))
    val (_, bf) = timed(new BossEnsemble(bossCfg).fit(tiny))
    graft.util.Pipelines.clear()
    spark.catalog.clearCache()
    Seq(Sample("boss_fit", bf, nTrain / 10.0, "series"))
  }

  private def accuracy(preds: DataFrame): Double = {
    val rows = preds.select("label", "pred").collect()
    rows.count(x => x.getDouble(0) == x.getDouble(1)).toDouble / rows.length
  }

  def op(r: Run): Seq[Sample] = {
    implicit val spark: SparkSession = r.spark
    // every round starts cold: no stage-cache entry, no cached frame
    graft.util.Pipelines.clear()
    spark.catalog.clearCache()
    val boss = new BossEnsemble(bossCfg)
    val (bm, bf) = timed(r.span("sfa.Boss.fit")(boss.fit(train.filter(col("id") < bossTrain))))
    val (ba, bp) = timed(r.span("sfa.Boss.predict")(accuracy(boss.predict(bm, test))))
    val weasel = new WeaselClassifier(weaselCfg)
    val (wm, wf) = timed(r.span("sfa.Weasel.fit")(weasel.fit(train)))
    val (wa, wp) = timed(r.span("sfa.Weasel.predict")(accuracy(weasel.predict(wm, test))))
    bossAcc = ba
    weaselAcc = wa
    val query = graft.SparkEntry.queries(Query)
    val (_, ms) = timed(r.span("pipeline.Dedup.minhash_lsh")(query(spark, sfDir).collect()))
    // the same query again: served from the stage cache
    val (_, cs) = timed(r.span("util.Pipelines.cached") {
      minhash = query(spark, sfDir)
      minhash.collect()
    })
    Seq(Sample("round", bf + bp + wf + wp + ms + cs, 1.0, "rounds"),
      Sample("fit", bf + wf, (bossTrain + nTrain).toDouble, "series"),
      Sample("boss_fit", bf, bossTrain.toDouble, "series"),
      Sample("weasel_fit", wf, nTrain.toDouble, "series"),
      Sample("predict", bp + wp, 2.0 * nTest, "series"),
      Sample("minhash", ms, nDocs.toDouble, "documents"),
      Sample("minhash_cached", cs, nDocs.toDouble, "documents"))
  }

  /** Both classifiers meet their accuracy floors; the last MinHash
    * result is handed to the runner, which compares it with the
    * query's oracle SQL run in DuckDB over the same table.
    */
  def check(r: Run): Unit = {
    r.detail("boss_accuracy") = r.Metric(bossAcc, "fraction", 1)
    r.detail("weasel_accuracy") = r.Metric(weaselAcc, "fraction", 1)
    r.check("classify.boss_accuracy_floor")(bossAcc >= bossFloor)
    r.check("classify.weasel_accuracy_floor")(weaselAcc >= weaselFloor)
    r.guard("curate.save_result") {
      val out = new java.io.File(r.work, "oracle-" + Query).getAbsolutePath
      minhash.coalesce(1).write.mode("overwrite").parquet(out)
      r.oracles += Run.Oracle(s"curate.${Query}_equals_oracle", graft.SparkEntry.oracleSql(Query), sfDir, out)
    }
  }
}
