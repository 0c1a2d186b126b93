package graft.sfa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.vector_to_array

/** WEASEL+MUSE — the multivariate WEASEL
  * (/root/reference/src/main/java/sfa/transformation/MUSE.java,
  * classification/MUSEClassifier.java).
  *
  * Differences from WEASEL, all replicated here:
  *  - input is long-format multivariate (id, dim, label, data); one
  *    *unsupervised* SFA quantizer per (histogramType, norm, window,
  *    dim) — plain equi-depth/equi-width bins, no ANOVA-F selection;
  *  - z-normalization is OFF throughout (the reference flips the global
  *    `APPLY_Z_NORM`; here that is simply applyZNorm=false and no
  *    window norming), lowerBounding off;
  *  - bag keys carry the dimension: (word2, word, dim, windowIdx)
  *    packed into a long; bigrams (prev, current) only when the largest
  *    window is < 200;
  *  - χ² selection has no top-k cap: the reference zeroes non-selected
  *    counts, which is equivalent to dropping them from the sparse
  *    vectors;
  *  - grid = histogramType × norm × f ∈ {2,4,6}, scored by 10-fold CV
  *    logistic regression (liblinear L2R_LR ↦ MLlib, λ = 1/n).
  *
  * Like [[Weasel]], the quantizers are fitted once per config at maxF
  * and shorter word lengths reuse them by masking — identical math to
  * the reference's per-f refits, without re-transforming.
  */
object Muse {

  final case class Config(
      minF: Int = 2,
      maxF: Int = 6,
      alphabetSize: Int = 4,
      chiLimit: Double = 2.0,
      minWindowLength: Int = 2,
      maxWindowLength: Int = 450,
      bigrams: Boolean = true,
      folds: Int = 10,
      histTypes: Seq[HistogramType] = Seq(HistogramType.EquiDepth, HistogramType.EquiWidth),
      normalization: Seq[Boolean] = Seq(true, false),
      // L-BFGS iteration cap (see Weasel.Config.lrMaxIter): reduced
      // fixture fits cap it low; the default matches liblinear's
      // effectively-unbounded inner loop
      lrMaxIter: Int = 100)

  final case class MuseModel(
      hist: HistogramType,
      norm: Boolean,
      features: Int,
      trainCorrect: Long,
      quantizers: Map[(Int, Int), SFAModel], // (windowLength, dim) → model
      windows: Seq[Int],                     // full fitted grid (w_idx = position)
      selected: DataFrame,                   // (key, dict_idx)
      dictSize: Int,
      lr: LinModel)

  /** Key packing: ((word2·4096 + word)·64 + dim)·512 + w_idx. Bigram and
    * unigram keys collide exactly when the reference's MuseWord would
    * (word2 = 0).
    */
  private val DimBits = 6
  private val WIdxBits = 9
  private val WordBits = 12

  /** Fit bins for every (norm, w, dim) of one histogram type in one plan
    * (unsupervised — labels unused): DFT of the raw disjoint windows (no
    * window z-norm, lowerBounding off), the 2-decimal HALF_UP orderline
    * and equi-width or equi-depth edges per (cfg, dim, coefficient).
    */
  def fitBinsGrid(
      series: DataFrame, // (id, dim, label, data)
      windows: Seq[Int],
      norms: Seq[Boolean],
      hist: HistogramType,
      maxF: Int,
      alphabetSize: Int)(implicit spark: SparkSession): Map[(Boolean, Int, Int), SFAModel] = {
    import spark.implicits._
    val cfgs = norms.flatMap(n => windows.map(w => (n, w))).toDF("norm", "w")
    val edges = if (hist == HistogramType.EquiWidth) hist else HistogramType.EquiDepth
    val rows = series.crossJoin(cfgs)
      .filter(size(col("data")) >= col("w"))
      .select(col("norm"), col("w"), col("dim"), explode(SFAOps.disjointCol(col("data"), col("w"),
        lit(maxF), col("norm"), lowerBounding = false, zNorm = false)).as("approx"))
      .select(col("norm"), col("w"), col("dim"), posexplode(col("approx")).as(Seq("coef", "v")))
      .groupBy("norm", "w", "dim", "coef")
      .agg(SFAOps.edgesCol(collect_list(round(col("v"), 2)), alphabetSize, edges).as("edges"))
      .collect()
    SFAOps.binsByKey(rows, maxF, alphabetSize)(r => (r.getBoolean(0), r.getInt(1), r.getInt(2)))
      .map { case (k @ (norm, w, _), bins) =>
        k -> SFAModel(w, maxF, alphabetSize, norm, lowerBounding = false, applyZNorm = false, bins = bins)
      }
  }

  /** Sliding packed words per (norm, w, dim, id) in one plan —
    * [[SFAModel.transformWindowingWords]] as MFT (no z-norm, lowerBounding
    * off) plus [[graft.sfa.expr.SfaWordsExpr]] over every coefficient, the
    * word at offset i in `words(i)`; a (norm, w, dim) without a model
    * yields no row.
    */
  def wordsGrid(
      series: DataFrame,
      models: Map[(Boolean, Int, Int), SFAModel],
      windowIdx: Map[Int, Int],
      maxF: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val usedBits = SFAOps.gridUsedBits(models.values)
    val key = Seq(col("norm"), col("w"), col("dim"))
    val l = SFAOps.configValue(models.map { case (k, m) => k -> m.wordLength }, key: _*)
    val coefs = SFAOps.configValue(models.map { case (k, m) => k -> Seq.range(0, m.wordLength) }, key: _*)
    val edges = SFAOps.configValue(
      models.map { case (k, m) => k -> SFAOps.wordEdges(m.bins, maxF, usedBits) }, key: _*)
    val cfgs = models.keys.map { case (n, w, _) => (n, w, windowIdx(w)) }.toSeq.distinct
      .toDF("norm", "w", "w_idx")
    series.crossJoin(cfgs)
      .filter(size(col("data")) >= col("w"))
      .select(col("norm"), col("w"), col("w_idx"), col("dim"), col("id"), col("label"), col("data"),
        l.as("l"), coefs.as("coefs"), edges.as("edges"))
      .filter(col("edges").isNotNull)
      .select(col("norm"), col("w"), col("w_idx"), col("dim"), col("id"), col("label"),
        SFAOps.wordsCol(SFAOps.mftCol(col("data"), col("w"), col("l"), col("norm"),
          lowerBounding = false, applyZNorm = false), col("coefs"), col("edges"), usedBits).as("words"))
  }

  /** MUSE bag keys at every word length in `fs`: unigrams always,
    * bigrams (prev at offset − w, zero words included) when the largest
    * window is < 200; a window contributes only if w ≥ f
    * (MUSE.java:235-275). Output: (norm, f, id, label, key, cnt).
    */
  def bags(words: DataFrame, fs: Seq[Int], usedBits: Int, maxWindow: Int, cfg: Config): DataFrame = {
    def pack(word2: Column, word: Column) =
      shiftleft(shiftleft(shiftleft(word2, WordBits).bitwiseOR(word), DimBits)
        .bitwiseOR(col("dim")), WIdxBits).bitwiseOR(col("w_idx"))
    Weasel.keyBags(words.withColumn("f", explode(typedLit(fs))).filter(col("w") >= col("f")),
      usedBits, pack(lit(0L), _), Option.when(cfg.bigrams && maxWindow < 200)(pack _))
  }
}

/** The MUSE classifier over long-format (id, dim, label, data) rows. */
class MuseClassifier(cfg: Muse.Config = Muse.Config()) {
  import Muse._

  private val usedBits = Words.binlog(cfg.alphabetSize)

  def fit(train: DataFrame)(implicit spark: SparkSession): MuseModel =
    fitCore(train, withProba = false)._1

  /** Fit AND return the train-set probabilities (id, label, pred,
    * probs) in one pass — see [[WeaselClassifier.fitWithProba]]; used
    * by the MTEASER per-snapshot loop.
    */
  private[sfa] def fitWithProba(train: DataFrame)(implicit spark: SparkSession): (MuseModel, DataFrame) = {
    val (model, proba) = fitCore(train, withProba = true)
    (model, proba.get)
  }

  private def fitCore(train: DataFrame, withProba: Boolean)(
      implicit spark: SparkSession): (MuseModel, Option[DataFrame]) = {
    val sizes = train.agg(countDistinct("id"), max(size(col("data")))).head
    val (n, maxLen) = (sizes.getLong(0), sizes.getInt(1))

    def windowsFor(norm: Boolean): Seq[Int] = {
      val min = if (norm && cfg.minWindowLength <= 2) math.max(3, cfg.minWindowLength)
      else cfg.minWindowLength
      (min to math.min(maxLen, cfg.maxWindowLength)).toSeq
    }
    val allWindows = windowsFor(false)
    val maxWindow = allWindows.max
    val wIdx = allWindows.zipWithIndex.toMap
    val fs = cfg.minF to cfg.maxF by 2
    val candidates = for (nm <- cfg.normalization; f <- fs) yield (nm, f)

    // CV exists only to pick the winning (hist, norm, f) — with a
    // single candidate the pick is forced, so skip the fold fits and
    // score trainCorrect on the final model instead (reduced configs
    // like the MTEASER slave grid hit this path)
    val singleCandidate =
      cfg.histTypes.size == 1 && cfg.normalization.size == 1 && cfg.minF == cfg.maxF

    // per histogram type one bins grid and one words and bag pass serve
    // every (norm, f); scan order hist, norm, f with strictly-greater
    // updates, candidates without a selected key skipped
    var best: (HistogramType, Boolean, Int, Long) =
      (cfg.histTypes.head, cfg.normalization.head, cfg.minF, -1L)
    val grids = cfg.histTypes.map { hist =>
      val models = fitBinsGrid(train, allWindows, cfg.normalization, hist, cfg.maxF, cfg.alphabetSize)
        .filter { case ((nm, w, _), _) => windowsFor(nm).contains(w) }
      val grid = new GridFit(bags(wordsGrid(train, models, wIdx, cfg.maxF), fs, usedBits, maxWindow, cfg),
        Weasel.chi(_, n, cfg.chiLimit), train, candidates, n, cfg.lrMaxIter)
      if (!singleCandidate) {
        val scores = grid.crossValidate(cfg.folds)
        for (c @ (nm, f) <- candidates; correct <- scores.get(c) if correct > best._4)
          best = (hist, nm, f, correct)
      }
      hist -> (models, grid)
    }.toMap

    val (bestHist, bestNorm, bestF, bestCorrect) = best
    val (models, grid) = grids(bestHist)
    val refit = grid.refit((bestNorm, bestF), scoreTrain = singleCandidate, withProba)
    grids.values.foreach(_._2.release())

    (MuseModel(bestHist, bestNorm, bestF, if (singleCandidate) refit.trainCorrect else bestCorrect,
      models.collect { case ((`bestNorm`, w, d), m) => (w, d) -> m },
      allWindows, refit.selected, refit.dictSize, refit.lr), refit.proba)
  }

  def predict(model: MuseModel, test: DataFrame)(implicit spark: SparkSession): DataFrame =
    predictFull(model, test)
      .select(col("id"), col("label"), col("prediction").as("pred"))

  /** Predict with per-class probabilities → (id, label, pred, probs) —
    * MUSEClassifier.predictProbabilities, consumed by the MTEASER
    * cascade ([[MteaserClassifier]]). `probs` follows MLlib's
    * class-index order (labels are class ids).
    */
  def predictProba(model: MuseModel, test: DataFrame)(implicit spark: SparkSession): DataFrame =
    predictFull(model, test)
      .select(col("id"), col("label"), col("prediction").as("pred"),
        vector_to_array(col("probability")).as("probs"))

  private def predictFull(model: MuseModel, test: DataFrame)(implicit spark: SparkSession): DataFrame = {
    // the w_idx mapping and the bigram maxWindow toggle MUST come from
    // the fitted full grid carried in the model — re-deriving from
    // quantizers.keys compacts indices when fit drops a window and can
    // flip the `maxWindow < 200` bigram decision at the boundary
    val allWindows = model.windows
    val wIdx = allWindows.zipWithIndex.toMap
    val models = model.quantizers.map { case ((w, d), m) => (model.norm, w, d) -> m }
    val words = wordsGrid(test, models, wIdx, cfg.maxF)
    val b = bags(words, Seq(model.features), usedBits, allWindows.max, cfg)
    // vectors from ALL test samples: zero-feature samples still get an
    // LR prediction via the intercept (reference behavior)
    model.lr.transform(Weasel.modelVectors(b, model.selected, model.norm, model.features,
      model.dictSize, test))
  }

  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (MuseModel, Double) = {
    val model = fit(train)
    val total = test.select("id").distinct().count()
    val correct = predict(model, test).filter(col("pred") === col("label")).count()
    (model, correct.toDouble / total)
  }
}
