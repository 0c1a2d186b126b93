package graft.sfa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
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

  /** Sliding packed words per (norm, w, dim, id, offset) in one plan —
    * [[SFAModel.transformWindowingWords]] as MFT (no z-norm, lowerBounding
    * off) plus [[graft.sfa.expr.SfaWordExpr]]; a (norm, w, dim) without a
    * model yields no words.
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
    val edges = SFAOps.configValue(
      models.map { case (k, m) => k -> SFAOps.wordEdges(m.bins, maxF, usedBits) }, key: _*)
    val cfgs = models.keys.map { case (n, w, _) => (n, w, windowIdx(w)) }.toSeq.distinct
      .toDF("norm", "w", "w_idx")
    series.crossJoin(cfgs)
      .filter(size(col("data")) >= col("w"))
      .select(col("norm"), col("w"), col("w_idx"), col("dim"), col("id"), col("label"), col("data"),
        l.as("l"), edges.as("edges"))
      .filter(col("edges").isNotNull)
      .select(col("norm"), col("w"), col("w_idx"), col("dim"), col("id"), col("label"), col("edges"),
        posexplode(SFAOps.mftCol(col("data"), col("w"), col("l"), col("norm"),
          lowerBounding = false, applyZNorm = false)).as(Seq("offset", "approx")))
      .select(col("norm"), col("w"), col("w_idx"), col("dim"), col("id"), col("label"),
        col("offset"), SFAOps.wordCol(col("approx"), col("edges"), usedBits).as("word"))
  }

  /** MUSE bag keys at word length f: unigrams always, bigrams when the
    * largest window < 200; a window contributes only if w ≥ f
    * (MUSE.java:235-275). Output: (norm, f, id, label, key, cnt).
    */
  def bags(words: DataFrame, f: Int, usedBits: Int, maxWindow: Int, cfg: Config): DataFrame = {
    val m = Words.mask(f, usedBits)
    def pack(word2: org.apache.spark.sql.Column, word: org.apache.spark.sql.Column) =
      shiftleft(shiftleft(shiftleft(word2, WordBits).bitwiseOR(word), DimBits)
        .bitwiseOR(col("dim")), WIdxBits).bitwiseOR(col("w_idx"))
    val eligible = words.filter(col("w") >= f)
      .withColumn("wf", col("word").bitwiseAND(lit(m)))
    val unigrams = eligible.select(col("norm"), col("id"), col("label"),
      pack(lit(0L), col("wf")).as("key"))
    val all =
      if (cfg.bigrams && maxWindow < 200) {
        val prevs = eligible.select(col("norm"), col("w"), col("dim"), col("id"),
          (col("offset") + col("w")).as("offset"), col("wf").as("prevw"))
        val bigrams = eligible
          .join(prevs, Seq("norm", "w", "dim", "id", "offset"))
          .select(col("norm"), col("id"), col("label"),
            pack(col("prevw"), col("wf")).as("key"))
        unigrams.unionByName(bigrams)
      } else unigrams
    all.groupBy("norm", "id", "label", "key")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("f", lit(f))
  }
}

/** The MUSE classifier over long-format (id, dim, label, data) rows. */
class MuseClassifier(cfg: Muse.Config = Muse.Config()) {
  import Muse._

  private val usedBits = Words.binlog(cfg.alphabetSize)

  private def fitLin(vecs: DataFrame, n: Long): LinModel =
    LinModel.fit(vecs, n, maxIter = cfg.lrMaxIter)

  private def chiFilter(b: DataFrame, nSamples: Long): DataFrame = {
    val presence = b.filter(col("cnt") > 0)
      .select(col("norm"), col("f"), col("key"), col("id"), col("label"))
    val featCount = presence.groupBy("norm", "f", "key").agg(count(lit(1)).as("fc"))
    val obs = presence.groupBy("norm", "f", "key", "label").agg(count(lit(1)).as("obs"))
    val classCount = presence.select("norm", "f", "id", "label").distinct()
      .groupBy("norm", "f", "label").agg(count(lit(1)).as("cc"))
    featCount.join(classCount, Seq("norm", "f"))
      .join(obs, Seq("norm", "f", "key", "label"), "left")
      .na.fill(0L, Seq("obs"))
      .withColumn("expected", col("cc").cast("double") / nSamples * col("fc"))
      .withColumn("chi",
        (col("obs") - col("expected")) * (col("obs") - col("expected")) / col("expected"))
      .groupBy("norm", "f", "key").agg(max("chi").as("chi"))
      .filter(col("chi") >= cfg.chiLimit)
      .select("norm", "f", "key")
  }

  def fit(train: DataFrame)(implicit spark: SparkSession): MuseModel = {
    val (model, vecs) = fitCore(train)
    vecs.unpersist()
    model
  }

  /** Fit AND return the train-set probabilities (id, label, pred,
    * probs) in one pass — see [[WeaselClassifier.fitWithProba]]; used
    * by the MTEASER per-snapshot loop.
    */
  private[sfa] def fitWithProba(train: DataFrame)(implicit spark: SparkSession): (MuseModel, DataFrame) = {
    val (model, vecs) = fitCore(train)
    val proba = model.lr.transform(vecs)
      .select(col("id"), col("label"), col("prediction").as("pred"),
        vector_to_array(col("probability")).as("probs"))
      .localCheckpoint(true)
    vecs.unpersist()
    (model, proba)
  }

  private def fitCore(train: DataFrame)(implicit spark: SparkSession): (MuseModel, DataFrame) = {
    import spark.implicits._
    val n = train.select("id").distinct().count()
    val maxLen = train.select(max(size(col("data")))).head.getInt(0)

    def windowsFor(norm: Boolean): Seq[Int] = {
      val min = if (norm && cfg.minWindowLength <= 2) math.max(3, cfg.minWindowLength)
      else cfg.minWindowLength
      (min to math.min(maxLen, cfg.maxWindowLength)).toSeq
    }
    val allWindows = windowsFor(false)
    val maxWindow = allWindows.max
    val wIdx = allWindows.zipWithIndex.toMap

    val byLabel = Window.partitionBy("label").orderBy("id")
    val folds = train.select("id", "label").distinct()
      .withColumn("fold", ((row_number().over(byLabel) - 1) % cfg.folds).cast("int"))
      .select("id", "fold")

    var best: (HistogramType, Boolean, Int, Long) =
      (cfg.histTypes.head, cfg.normalization.head, cfg.minF, -1L)
    val fitted = scala.collection.mutable.Map.empty[HistogramType, Map[(Boolean, Int, Int), SFAModel]]

    // CV exists only to pick the winning (hist, norm, f) — with a
    // single candidate the pick is forced, so skip the fold fits and
    // score trainCorrect on the final model instead (reduced configs
    // like the MTEASER slave grid hit this path)
    val singleCandidate =
      cfg.histTypes.size == 1 && cfg.normalization.size == 1 && cfg.minF == cfg.maxF

    for (hist <- cfg.histTypes) {
      val models = fitBinsGrid(train, allWindows, cfg.normalization, hist, cfg.maxF, cfg.alphabetSize)
        .filter { case ((nm, w, _), _) => windowsFor(nm).contains(w) }
      fitted(hist) = models
      val words = wordsGrid(train, models, wIdx, cfg.maxF).cache()
      for (nm <- cfg.normalization; f <- cfg.minF to cfg.maxF by 2 if !singleCandidate) {
        val b = bags(words.filter(col("norm") === nm), f, usedBits, maxWindow, cfg).cache()
        val sel = chiFilter(b, n)
        val dict = Weasel.dictionary(sel).cache()
        val dims = dict.groupBy("norm", "f").agg(max("dict_idx").as("d")).collect()
          .map(r => (r.getBoolean(0), r.getInt(1)) -> r.getInt(2)).toMap
        if (dims.nonEmpty) {
          // coalesce before the iterative LR fits: see Pipelines.fitParallelism
          val vecs = Weasel.vectors(b, dict, dims, train).join(folds, "id")
            .coalesce(graft.util.Pipelines.fitParallelism(n)).cache()
          val correct = (0 until cfg.folds).map { k =>
            val tr = vecs.filter(col("fold") =!= k)
            val te = vecs.filter(col("fold") === k)
            if (tr.isEmpty || te.isEmpty) 0L
            else {
              val mdl = fitLin(tr, n)
              mdl.transform(te).filter(col("prediction") === col("label")).count()
            }
          }.sum
          vecs.unpersist()
          if (correct > best._4) best = (hist, nm, f, correct)
        }
        b.unpersist(); dict.unpersist()
      }
      words.unpersist()
    }

    val (bestHist, bestNorm, bestF, bestCorrect) = best
    val models = fitted(bestHist).filter { case ((nm, _, _), _) => nm == bestNorm }
    val words = wordsGrid(train, models, wIdx, cfg.maxF)
    val fb = bags(words, bestF, usedBits, maxWindow, cfg).cache()
    val (selected, dictSize) = Weasel.modelDictionary(chiFilter(fb, n))
    val vecs = Weasel.modelVectors(fb, selected, bestNorm, bestF, dictSize, train, broadcastDict = false)
      .coalesce(graft.util.Pipelines.fitParallelism(n)).cache()
    val lr = fitLin(vecs, n)
    // single-candidate path skipped CV: trainCorrect = final-model score
    val correct =
      if (!singleCandidate) bestCorrect
      else lr.transform(vecs).filter(col("prediction") === col("label")).count()
    fb.unpersist()

    (MuseModel(bestHist, bestNorm, bestF, correct,
      models.map { case ((_, w, d), m) => (w, d) -> m },
      allWindows, selected, dictSize, lr), vecs)
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
    val b = bags(words, model.features, usedBits, allWindows.max, cfg)
    // vectors from ALL test samples: zero-feature samples still get an
    // LR prediction via the intercept (reference behavior)
    model.lr.transform(Weasel.modelVectors(b, model.selected, model.norm, model.features,
      model.dictSize, test, broadcastDict = true))
  }

  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (MuseModel, Double) = {
    val model = fit(train)
    val total = test.select("id").distinct().count()
    val correct = predict(model, test).filter(col("pred") === col("label")).count()
    (model, correct.toDouble / total)
  }
}
