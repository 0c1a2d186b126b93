package graft.sfa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MTEASER — the multivariate TEASER: the [[EarlyCascade]] with a MUSE
  * slave over long-format multivariate rows (id, dim, label, data)
  * (/root/reference/src/main/java/sfa/classification/MTEASERClassifier.java).
  *
  * Differences from the univariate [[Teaser]], all replicated:
  *  - slave = [[MuseClassifier]] (MUSE is fit per snapshot on the
  *    truncated channels, MTEASERClassifier.java:170-185);
  *  - truncation slices every channel to the prefix WITHOUT re-z-norming
  *    (the reference's MTS driver runs with APPLY_Z_NORM=false, so
  *    TimeSeries.getSubsequence's norm() is a no-op —
  *    MTEASERClassifierTest.java:52, TimeSeries.java:81);
  *  - min snapshot length = max(4, MIN_WINDOW_LENGTH) = 4
  *    (MTEASERClassifier.java:166);
  *  - sample length = channel 0's length (MultiVariateTimeSeries
  *    .getLength, MultiVariateTimeSeries.java:41-46).
  *
  * Master, threshold tuning, and the distributed cascade fold are the
  * univariate machinery unchanged ([[OneClassSVM]], [[EarlyCascade]]).
  */
object Mteaser {

  final case class Config(
      s: Int = 20,
      minThreshold: Int = 2,
      maxThreshold: Int = 5,
      nu: Double = 0.05,
      minLen: Int = 4,
      maxWindowLength: Int = 250)

  final case class MteaserModel(
      offsets: Array[Int], // index s → prefix length (0 = unused slot)
      slaves: Map[Int, Muse.MuseModel],
      masters: Map[Int, OneClassSVM.Model],
      threshold: Int)

  /** Truncate every channel to `offset` points — plain slice, no
    * re-norm (see class doc).
    */
  private[sfa] def truncate(mts: DataFrame, offset: Int): DataFrame =
    mts.select(col("id"), col("dim"), col("label"),
      slice(col("data"), 1, offset).as("data"))

  /** (id, label, len) — one row per sample; len = channel 0's length. */
  private[sfa] def sampleLens(mts: DataFrame): DataFrame =
    mts.filter(col("dim") === 0)
      .select(col("id"), col("label"), size(col("data")).as("len"))
}

/** MTEASER over long-format (id, dim, label, data) DataFrames. */
class MteaserClassifier(
    cfg: Mteaser.Config = Mteaser.Config(),
    slaveCfg: Muse.Config = Muse.Config()) {
  import Mteaser._

  def fit(train0: DataFrame)(implicit spark: SparkSession): MteaserModel = {
    val muse = new MuseClassifier(slaveCfg)
    // eager cache: the per-snapshot fits below run CONCURRENTLY and all
    // branch from `train` — against a lazy input each would race to
    // recompute the whole upstream plan (the Pipelines.cachedDF rule);
    // the max-length scan materializes it before they start.
    // Only unpersist at the end if the cache was introduced HERE — a
    // caller that handed in an already-cached frame owns that cache.
    val ownCache = train0.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val train = if (ownCache) train0.cache() else train0
    val maxLen = sampleLens(train).select(max(col("len"))).head.getInt(0)
    val maxL = math.min(maxLen, cfg.maxWindowLength)
    val step = maxL / cfg.s.toDouble
    val offsets = new Array[Int](cfg.s + 1)
    for (s <- 2 to cfg.s) offsets(s) = math.round(step * s).toInt

    // snapshots are independent until the threshold fold — fit them as
    // arms of one Overlap scope (Spark interleaves the jobs); each fit's
    // cost is plan depth, not data volume, so overlap hides the
    // scheduling latency the sequential loop serialized
    val fitted = graft.util.Overlap(spark) { o =>
      (2 to cfg.s).filter(offsets(_) >= cfg.minLen).map { s =>
        s -> o.fork {
          val truncated = truncate(train, offsets(s))
          // one pass: the final refit's vectors score the train set too
          val (slave, proba) = muse.fitWithProba(truncated)
          // the ONLY collect: correct-sample features for the driver-side
          // one-class problem (model-sized by design). Ordered by sample
          // id — the SMO is sample-order-dependent and id order is the
          // reference's train-array order (see Teaser.fit).
          val correctFeats = proba.filter(col("label") === col("pred"))
            .select(col("id"), col("probs")).orderBy("id").collect()
            .map(r => EarlyCascade.features(r.getSeq[Double](1).toArray))
          val master = OneClassSVM.fitGrid(correctFeats, cfg.nu)
          // threshold tuning scores the slave on FULL-length samples
          // (reference tuning predict runs with testing=false →
          // extractUntilOffset keeps whole samples,
          // MTEASERClassifier.java:190-191,264-273), not on the truncated
          // self-scored train set — see Teaser.fit for the rationale.
          val out = EarlyCascade.outcomeOf(
            muse.predictProba(slave, train), master).cache()
          out.count()
          (slave, master, out)
        }
      }.map { case (s, arm) => s -> arm.join() }
    }
    // fitted is in snapshot order, the order the cascade folds in
    var state = EarlyCascade.init(sampleLens(train),
      (cfg.minThreshold to cfg.maxThreshold).toList)
    for ((s, (_, _, out)) <- fitted) {
      state = EarlyCascade.step(state, out, offsets(s), s, cfg.s).localCheckpoint(true)
    }
    val bestT = EarlyCascade.bestThreshold(state, cfg.minThreshold)
    fitted.foreach { case (_, (_, _, out)) => out.unpersist() }
    // model state is collected and the folded cascade state is
    // checkpointed — release the input cache iff fit() introduced it
    if (ownCache) train.unpersist()

    MteaserModel(offsets, fitted.map { case (s, (slave, _, _)) => s -> slave }.toMap,
      fitted.map { case (s, (_, master, _)) => s -> master }.toMap, bestT)
  }

  /** Early-classify test samples, fully distributed (the undecided
    * subset shrinks per snapshot). Output: (id, label, pred, off,
    * earliness).
    */
  def predictDF(model: MteaserModel, test: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val muse = new MuseClassifier(slaveCfg)
    var state = EarlyCascade.init(sampleLens(test), List(model.threshold))
    var undecided = state.count()
    var s = 2
    while (s < model.offsets.length && undecided > 0) {
      model.slaves.get(s).foreach { slave =>
        val subset = test.join(
          state.filter(col("pred").isNull).select("id"), Seq("id"), "left_semi")
        val out = EarlyCascade.outcomeOf(
          muse.predictProba(slave, truncate(subset, model.offsets(s))),
          model.masters(s))
        // lazy checkpoint: the count right below materializes it, so
        // the lineage still truncates per step without scheduling a
        // separate checkpoint job
        state = EarlyCascade.step(state, out, model.offsets(s), s, cfg.s).localCheckpoint(false)
        undecided = state.filter(col("pred").isNull).count()
      }
      s += 1
    }
    EarlyCascade.finish(state)
  }

  /** (accuracy, average earliness) over the test samples. */
  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (MteaserModel, Double, Double) = {
    val model = fit(train)
    val res = predictDF(model, test).cache()
    val row = res.agg(
      avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)),
      avg(col("earliness"))).head
    res.unpersist()
    (model, row.getDouble(0), row.getDouble(1))
  }
}
