package graft.sfa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TEASER — Two-tier Early and Accurate Series classifiER
  * (/root/reference/src/main/java/sfa/classification/TEASERClassifier.java).
  *
  * S prefix snapshots (5% steps): per snapshot a WEASEL slave is trained
  * on truncated series, and a one-class master decides whether the
  * slave's probability vector looks like the vectors it produced on
  * correctly-classified training samples. A prediction is accepted when
  * the master approves the same label `threshold` consecutive times;
  * the threshold (2..5) maximizes the harmonic mean of train accuracy
  * and earliness (TEASERClassifier.java:163-189).
  *
  * Master = a one-class RBF SVM with the reference's own configuration
  * (ν=0.05, γ grid {100…1} by 10-fold CV — [[OneClassSVM]] replicates
  * libsvm's solver and the reference's CV permutation). Its training
  * input is model-sized by design (correct-sample probability vectors,
  * ≤ trainN × (#classes+1) doubles — the same driver-side libsvm
  * problem the reference builds); ACCEPTANCE is applied distributedly
  * via a broadcast model inside a UDF.
  *
  * The cascade itself is the distributed [[EarlyCascade]] fold: per
  * snapshot the slave's (id, pred, accepted) outcomes join the
  * per-sample streak state — a DataFrame, never a driver map — so the
  * test side scales out. Driver-side state is O(S) DataFrame handles
  * plus the models.
  */
object Teaser {

  final case class Config(
      s: Int = 20,
      minThreshold: Int = 2,
      maxThreshold: Int = 5,
      nu: Double = 0.05,
      minLen: Int = 3,
      maxWindowLength: Int = 250)

  final case class TeaserModel(
      offsets: Array[Int], // index s → prefix length (0 = unused slot)
      slaves: Map[Int, Weasel.WeaselModel],
      masters: Map[Int, OneClassSVM.Model],
      threshold: Int)

  /** Per-sample cascade outcome. */
  final case class Early(id: Long, label: Double, pred: Double, offset: Int, earliness: Double)

  private[sfa] def features(probs: Array[Double]): Array[Double] =
    EarlyCascade.features(probs)

  /** Truncate every series to `offset` points and re-z-norm the prefix
    * (TimeSeries.getSubsequence norms the slice, TimeSeries.java:177-182).
    */
  private[sfa] def truncate(data: DataFrame, offset: Int): DataFrame = {
    val sliceUdf = udf { (d: Seq[Double]) =>
      graft.ts.Loaders.znorm(d.take(offset).toArray)
    }
    data.select(col("id"), col("label"), sliceUdf(col("data")).as("data"))
  }
}

/** TEASER over (id, label, data) DataFrames with a WEASEL slave. */
class TeaserClassifier(
    cfg: Teaser.Config = Teaser.Config(),
    slaveCfg: Weasel.Config = Weasel.Config(maxWindowLength = 250)) {
  import Teaser._

  def fit(train: DataFrame)(implicit spark: SparkSession): TeaserModel = {
    val maxLen = train.select(max(size(col("data")))).head.getInt(0)
    val weasel = new WeaselClassifier(slaveCfg)
    val maxL = math.min(maxLen, cfg.maxWindowLength)
    val step = maxL / cfg.s.toDouble
    val offsets = new Array[Int](cfg.s + 1)

    val slaves = scala.collection.mutable.Map.empty[Int, Weasel.WeaselModel]
    val masters = scala.collection.mutable.Map.empty[Int, OneClassSVM.Model]
    val outcomes = scala.collection.mutable.Map.empty[Int, DataFrame]

    for (s <- 2 to cfg.s) {
      offsets(s) = math.round(step * s).toInt
      if (offsets(s) >= cfg.minLen) {
        val truncated = truncate(train, offsets(s))
        // one pass: the final refit's vectors score the train set too
        val (slave, proba) = weasel.fitWithProba(truncated)
        slaves(s) = slave
        // the ONLY collect: correct-sample features — the reference's
        // driver-side libsvm problem (model-sized by design). Ordered
        // by sample id: the SMO's working-set selection (and the CV
        // permutation) is sample-ORDER-dependent, so an unordered
        // collect would tie the fitted master to partitioning; id order
        // is the reference's own train-array order.
        val correctFeats = proba.filter(col("label") === col("pred"))
          .select(col("id"), col("probs")).orderBy("id").collect()
          .map(r => features(r.getSeq[Double](1).toArray))
        val master = OneClassSVM.fitGrid(correctFeats, cfg.nu)
        masters(s) = master
        // threshold tuning scores the slave on the FULL-length series,
        // NOT the truncated self-scored train set: the reference's
        // tuning predict runs with testing=false, and
        // extractUntilOffset(samples, off, false) keeps whole samples
        // (TEASERClassifier.java:190-191,240-251). Self-scored truncated
        // probs are ~always correct, which would collapse every
        // threshold to the same accuracy and the harmonic mean to the
        // earliest (smallest) threshold.
        val out = EarlyCascade.outcomeOf(
          weasel.predictProba(slave, train), master).cache()
        out.count()
        outcomes(s) = out
      }
    }

    // threshold tuning: ONE distributed fold evaluating every candidate
    // threshold at once (state rows carry t; streak logic reads it).
    // localCheckpoint per step: an iterative fold's LOGICAL plan grows
    // per iteration even under cache(); checkpointing truncates lineage
    var state = EarlyCascade.init(
      train.select(col("id"), col("label"), size(col("data")).as("len")),
      (cfg.minThreshold to cfg.maxThreshold).toList)
    for (s <- 2 to cfg.s if outcomes.contains(s)) {
      state = EarlyCascade.step(state, outcomes(s), offsets(s), s, cfg.s).localCheckpoint(true)
    }
    val bestT = EarlyCascade.bestThreshold(state, cfg.minThreshold)
    outcomes.values.foreach(_.unpersist())

    TeaserModel(offsets, slaves.toMap, masters.toMap, bestT)
  }

  /** Early-classify test rows, fully distributed: per snapshot the
    * slave runs on the still-undecided subset (the reference's early
    * exit) and the streak state folds forward as a DataFrame.
    * Output: (id, label, pred, off, earliness).
    */
  def predictDF(model: TeaserModel, test: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val weasel = new WeaselClassifier(slaveCfg)
    var state = EarlyCascade.init(
      test.select(col("id"), col("label"), size(col("data")).as("len")),
      List(model.threshold))
    var undecided = state.count()
    var s = 2
    while (s < model.offsets.length && undecided > 0) {
      model.slaves.get(s).foreach { slave =>
        val subset = test.join(
          state.filter(col("pred").isNull).select("id"), Seq("id"), "left_semi")
        val out = EarlyCascade.outcomeOf(
          weasel.predictProba(slave, truncate(subset, model.offsets(s))),
          model.masters(s))
        // localCheckpoint truncates the per-iteration lineage growth;
        // lazy — the undecided count right after materializes it
        state = EarlyCascade.step(state, out, model.offsets(s), s, cfg.s).localCheckpoint(false)
        undecided = state.filter(col("pred").isNull).count()
      }
      s += 1
    }
    EarlyCascade.finish(state)
  }

  /** Compatibility form of [[predictDF]] (collects the per-sample
    * RESULT rows — 5 scalars each — not any intermediate state).
    */
  def predict(model: TeaserModel, test: DataFrame)(implicit spark: SparkSession): Seq[Early] =
    predictDF(model, test).collect().toSeq.map { r =>
      Early(r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        r.getInt(3), r.getDouble(4))
    }

  /** (accuracy, average earliness) — A7 evaluation, aggregated
    * distributedly.
    */
  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (TeaserModel, Double, Double) = {
    val model = fit(train)
    val res = predictDF(model, test).cache()
    val row = res.agg(
      avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)),
      avg(col("earliness"))).head
    res.unpersist()
    (model, row.getDouble(0), row.getDouble(1))
  }
}
