package graft.sfa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors

/** WEASEL — Word ExtrAction for time SEries cLassification, Spark-first.
  *
  * Reference behavior (/root/reference/src/main/java/sfa/):
  *  - transformation/SFASupervised.java  (ANOVA-F coefficient selection
  *    over full-length disjoint-window spectra + information-gain bins;
  *    lowerBounding = false)
  *  - transformation/WEASEL.java         (per-window unigram+bigram bags
  *    keyed by (word, windowIndex); per-window χ² feature selection with
  *    a 10000-unigram + 10000-bigram cap)
  *  - classification/WEASELClassifier.java (grid over norm × f ∈ {4,6},
  *    10-fold CV logistic regression, final refit)
  *
  * Deviations (documented):
  *  - the reference records, per feature, the χ² of the FIRST class
  *    exceeding the limit in hash-map iteration order; we record the MAX
  *    over classes (deterministic) — membership is identical, only the
  *    cap's ranking among already-accepted features can differ;
  *  - liblinear L2R_LR_DUAL is re-expressed as one-vs-rest MLlib
  *    binomial LogisticRegression fits with liblinear's own
  *    decision/probability rules (λ = 1/n ≙ C = 1 — see [[LinModel]];
  *    L-BFGS primal instead of dual coordinate descent) — golden
  *    accuracies carry ±0.05.
  *
  * Scale: identical architecture to [[Boss]] — the (norm, windowLength)
  * grid and the word length f are data columns, so one words pass and
  * one bag pass serve every (norm, f); ANOVA-F and χ² are groupBy
  * aggregations. The collects are the ranked coefficients and bin edges
  * (l × α−1 doubles per config), the χ² class counts, each candidate's
  * dictionary size and, at or below [[LinModel]]'s local cutoff, every
  * candidate's feature vectors once: the fold fits, fold scores and the
  * refit then run on the driver ([[GridFit]]).
  */
object Weasel {

  final case class Config(
      minF: Int = 4,
      maxF: Int = 6,
      alphabetSize: Int = 4,
      chiLimit: Double = 2.0,
      wordLimit: Int = 10000,
      minWindowLength: Int = 2,
      maxWindowLength: Int = 350,
      folds: Int = 10,
      normalization: Seq[Boolean] = Seq(true, false),
      // L-BFGS iteration cap: each iteration is one treeAggregate job,
      // so reduced-config fixture fits (artifact shape only, no
      // accuracy claim — e.g. the s9 round-trip) cap it low to avoid
      // paying ~100 job rounds on a 30-series fixture
      lrMaxIter: Int = 100)

  /** Per-(norm, w) supervised quantizer: F-ranked coefficient indices +
    * info-gain bins at those indices.
    */
  final case class SupervisedModel(
      windowSize: Int,
      normMean: Boolean,
      bestValues: Array[Int],
      maxWordLength: Int,
      bins: Map[Int, Array[Double]]) extends Serializable {

    /** Sliding packed words: MFT at maxWordLength values (lowerBounding
      * off), quantized at the selected coefficients, packed F-rank-first.
      */
    def words(data: Array[Double], usedBits: Int): Array[Long] = {
      val approx = Fourier.transformWindowing(
        data, windowSize, math.max(maxWordLength, 2), normMean,
        lowerBounding = false, applyZNorm = true)
      approx.map { a =>
        val syms = new Array[Int](bestValues.length)
        var k = 0
        while (k < bestValues.length) {
          val i = bestValues(k)
          val edges = bins(i)
          var c = 0
          while (c < edges.length && i < a.length && a(i) >= edges(c)) c += 1
          syms(k) = c
          k += 1
        }
        Words.createWord(syms, syms.length, usedBits)
      }
    }
  }

  /** Fitted WEASEL: chosen (norm, f), per-window quantizers, selected
    * features with dense dictionary ids, and the trained LR model.
    *
    * `windows` is the FULL fitted window grid for the chosen norm — the
    * w_idx encoding baked into every unigram key. It must be carried in
    * the model (not re-derived from `quantizers.keys`) because
    * [[fitQuantizersGrid]] omits windows whose ANOVA-F is all-NaN
    * (degenerate/constant data): rebuilding the index from the surviving
    * keys would compact and shift every later window's index and
    * silently mismatch the trained dictionary at predict time.
    */
  final case class WeaselModel(
      norm: Boolean,
      features: Int,
      trainCorrect: Long,
      quantizers: Map[Int, SupervisedModel], // windowLength → model
      windows: Seq[Int],                     // full grid (w_idx = position)
      selected: DataFrame,                   // (key, dict_idx)
      dictSize: Int,
      lr: LinModel)

  /** ANOVA-F one-way statistic per (cfg, coefficient) over the
    * disjoint-window spectra — sklearn f_oneway re-expressed as a
    * two-level groupBy (SFASupervised.java:147-219).
    * Input: (norm, w, coef, label, v). Output: (norm, w, coef, f).
    */
  def anovaF(approx: DataFrame): DataFrame = {
    val perClass = approx.groupBy("norm", "w", "coef", "label")
      .agg(count(lit(1)).as("n_g"), sum("v").as("s_g"),
        sum(col("v") * col("v")).as("ssq_g"))
    perClass.groupBy("norm", "w", "coef")
      .agg(
        count(lit(1)).as("k"),
        sum("n_g").as("n"),
        sum("s_g").as("s"),
        sum("ssq_g").as("ssq"),
        sum(col("s_g") * col("s_g") / col("n_g")).as("sb"))
      .withColumn("sstot", col("ssq") - col("s") * col("s") / col("n"))
      .withColumn("ssbn", col("sb") - col("s") * col("s") / col("n"))
      .withColumn("sswn", col("sstot") - col("ssbn"))
      // Java-double semantics under ANSI Spark: x/0 → ±Inf, 0/0 → NaN
      // (the constant zero slots — e.g. the forced DC-imaginary — must
      // come out NaN and be dropped, exactly like the reference)
      .withColumn("msb", when(col("k") > 1, col("ssbn") / (col("k") - 1)))
      .withColumn("msw", when(col("n") > col("k"), col("sswn") / (col("n") - col("k"))))
      .withColumn("f",
        when(col("msb").isNull || col("msw").isNull, lit(Double.NaN))
          .when(col("msw") =!= 0.0, col("msb") / col("msw"))
          .when(col("msb") > 0.0, lit(Double.PositiveInfinity))
          .when(col("msb") < 0.0, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.NaN)))
      .select("norm", "w", "coef", "f")
  }

  /** Fit every (norm, windowLength) supervised quantizer in two passes:
    * full-length spectra of z-normed disjoint windows (lowerBounding off)
    * → ANOVA-F top-maxF coefficients → information-gain edges of the
    * (jround(v, 2), label) orderline at the selected coefficients.
    */
  def fitQuantizersGrid(
      train: DataFrame,
      windows: Seq[Int],
      norms: Seq[Boolean],
      cfg: Config)(implicit spark: SparkSession): Map[(Boolean, Int), SupervisedModel] = {
    import spark.implicits._
    val cfgs = norms.flatMap(n => windows.map(w => (n, w))).toDF("norm", "w")

    val approx = train.crossJoin(cfgs)
      .select(col("norm"), col("w"), col("label"), explode(SFAOps.disjointCol(col("data"), col("w"),
        col("w") + col("w") % 2, col("norm"), lowerBounding = false, zNorm = true)).as("sp"))
      .select(col("norm"), col("w"), col("label"), posexplode(col("sp")).as(Seq("coef", "v")))
      .cache()

    // top-maxF coefficients by F desc (NaN dropped, stable by coef asc)
    val byF = Window.partitionBy("norm", "w")
      .orderBy(col("f").desc, col("coef").asc)
    val bestRows = anovaF(approx)
      .filter(!isnan(col("f")))
      .withColumn("rk", row_number().over(byF))
      .filter(col("rk") <= cfg.maxF)
      .select("norm", "w", "coef", "rk")
      .collect()

    // info-gain bins only at selected coefficients: the collected ranking
    // filters the cached spectra as one set literal, so the F statistics
    // are not recomputed, and no join shuffles the spectra or schedules a
    // broadcast build (the edge fit sorts its orderline, so row order
    // does not matter)
    val best = bestRows.map(r => typedLit((r.getBoolean(0), r.getInt(1), r.getInt(2))))
    val binMap = approx
      .filter(struct(col("norm").as("_1"), col("w").as("_2"), col("coef").as("_3")).isin(best: _*))
      .select(col("norm"), col("w"), col("coef"),
        struct(graft.util.Rnd.jround(col("v"), 2).as("v2"), col("label")).as("vl"))
      .groupBy("norm", "w", "coef")
      .agg(SFAOps.edgesCol(collect_list(col("vl")), cfg.alphabetSize, HistogramType.InformationGain)
        .as("edges"))
      .collect()
      .map(r => ((r.getBoolean(0), r.getInt(1), r.getInt(2)), r.getSeq[Double](3).toArray))
      .toMap
    approx.unpersist()

    bestRows.groupBy(r => (r.getBoolean(0), r.getInt(1))).map { case ((n, w), rows) =>
      val ranked = rows.sortBy(_.getInt(3)).map(_.getInt(2))
      val maxWl = {
        val m = ranked.max + 1
        m + (m % 2)
      }
      (n, w) -> SupervisedModel(w, n, ranked,
        maxWl, ranked.map(c => c -> binMap((n, w, c))).toMap)
    }
  }

  /** Sliding packed words for every config in one plan —
    * [[SupervisedModel.words]] as MFT (lowerBounding off), then F-ranked
    * coefficient selection and packing per window
    * ([[graft.sfa.expr.SfaWordsExpr]]). Columns: (norm, w, w_idx, id,
    * label, words), one row per (config, series) with the word at offset
    * i in `words(i)`; `w_idx` is the window's index in its norm's length
    * grid.
    */
  def wordsGrid(
      data: DataFrame,
      models: Map[(Boolean, Int), SupervisedModel],
      windowIdx: Map[(Boolean, Int), Int],
      usedBits: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    def byCfg[V: scala.reflect.runtime.universe.TypeTag](f: SupervisedModel => V) =
      SFAOps.configValue(models.map { case (k, q) => k -> f(q) }, col("norm"), col("w"))
    val cfgs = models.keys.toSeq.map { case k @ (n, w) => (n, w, windowIdx(k)) }
      .toDF("norm", "w", "w_idx")
    data.crossJoin(cfgs)
      .filter(size(col("data")) >= col("w"))
      .select(col("norm"), col("w"), col("w_idx"), col("id"), col("label"), col("data"),
        byCfg(q => math.max(q.maxWordLength, 2)).as("l"), byCfg(_.bestValues.toSeq).as("coefs"),
        byCfg(q => SFAOps.wordEdges(q.bestValues.map(q.bins), q.bestValues.length, usedBits)).as("edges"))
      .select(col("norm"), col("w"), col("w_idx"), col("id"), col("label"),
        SFAOps.wordsCol(SFAOps.mftCol(col("data"), col("w"), col("l"), col("norm"),
          lowerBounding = false, applyZNorm = true), col("coefs"), col("edges"), usedBits).as("words"))
  }

  /** Bit width of the window-index field in unigram keys:
    * binlog(highestOneBit(MAX_WINDOW_LENGTH)) + 1 (WEASEL.java:152). */
  def highestBit(maxWindowLength: Int): Int =
    Words.binlog(Integer.highestOneBit(maxWindowLength)) + 1

  /** Unigram + bigram bag keys at every word length in `fs` (no
    * numerosity reduction in WEASEL): unigram = (word & mask) << hb |
    * w_idx; bigram = prev << 32 | unigram with prev the masked word at
    * offset − w, skipped when it is 0 (WEASEL.java:142-175). Input:
    * [[wordsGrid]] rows. Output: (norm, f, id, label, key, cnt).
    */
  def bags(words: DataFrame, fs: Seq[Int], usedBits: Int, hb: Int): DataFrame = {
    def uni(wf: Column) = shiftleft(wf, hb).bitwiseOR(col("w_idx"))
    keyBags(words.withColumn("f", explode(typedLit(fs))), usedBits, uni,
      Some((prev, wf) => when(prev =!= 0, shiftleft(prev, 32).bitwiseOR(uni(wf)))))
  }

  /** The bags of a words frame (norm, w, f, id, label, words, …), WEASEL's
    * and MUSE's alike. A window's word and the word at offset − w of the
    * same array, both masked to f symbols, give its unigram key
    * `uni(word)` and, from offset w on, its bigram key `bi(prev, word)`
    * (null: none). One key array per row, exploded once and counted per
    * (norm, f, id, label, key).
    */
  private[sfa] def keyBags(
      words: DataFrame,
      usedBits: Int,
      uni: Column => Column,
      bi: Option[(Column, Column) => Column]): DataFrame = {
    val mask = call_function("shiftleft", lit(1L), col("f") * usedBits) - 1L
    val ws = col("words")
    val unigrams = transform(ws, x => uni(x.bitwiseAND(mask)))
    val keys = bi.fold(unigrams)(b => concat(unigrams, transform(ws, (x, i) =>
      when(i >= col("w"), b(ws(i - col("w")).bitwiseAND(mask), x.bitwiseAND(mask))))))
    words.select(col("norm"), col("f"), col("id"), col("label"), explode(keys).as("key"))
      .filter(col("key").isNotNull)
      .groupBy("norm", "f", "id", "label", "key")
      .agg(count(lit(1)).as("cnt"))
  }

  /** χ² of every (norm, f, key) on document presence, in one aggregate:
    * per class c, (obs − e)² / e with e = P(c) · featureCount, where P(c)
    * is the share of the n samples with a c-labelled bag in that (norm,
    * f); a key keeps its MAX over classes (see the deviation note). The
    * class counts are tiny and collected first. Input: bags (norm, f, id,
    * label, key, cnt). Output: (norm, f, key, chi) with chi ≥ `limit`.
    */
  def chi(bags: DataFrame, nSamples: Long, limit: Double): DataFrame = {
    val prior = bags.groupBy("norm", "f", "label").agg(countDistinct("id")).collect()
      .map(r => (r.getBoolean(0), r.getInt(1), r.getDouble(2)) -> r.getLong(3).toDouble / nSamples)
      .toMap
    val labels = prior.keys.map(_._3).toSeq.distinct.sorted
    val perClass = labels.indices.map { i =>
      // null where the class has no bag in this (norm, f): the max skips it
      val e = SFAOps.configValue(prior, col("norm"), col("f"), lit(labels(i))) * col("fc")
      val obs = col(s"obs$i")
      (obs - e) * (obs - e) / e
    }
    bags.groupBy("norm", "f", "key")
      .agg(count(lit(1)).as("fc"),
        labels.zipWithIndex.map { case (l, i) => count(when(col("label") === l, 1)).as(s"obs$i") }: _*)
      .select(col("norm"), col("f"), col("key"),
        perClass.reduceOption(greatest(_, _)).getOrElse(lit(null).cast("double")).as("chi"))
      .filter(col("chi") >= limit)
  }

  /** Per-(norm, f, window) χ² feature selection on document presence
    * counts with the unigram/bigram caps (WEASEL.java:217-339): the top
    * wordLimit unigrams and the top wordLimit bigrams of each window by
    * [[chi]]. Input: [[bags]] rows — the window index is the key's low
    * `hb` bits. Output: (norm, f, key) accepted.
    */
  def chiSquared(bags: DataFrame, nSamples: Long, cfg: Config, hb: Int): DataFrame = {
    val byChi = Window.partitionBy(col("norm"), col("f"),
      col("key").bitwiseAND(lit((1L << hb) - 1)), col("key") >= (1L << 32))
      .orderBy(col("chi").desc, col("key").asc)
    chi(bags, nSamples, cfg.chiLimit).withColumn("rk", row_number().over(byChi))
      .filter(col("rk") <= cfg.wordLimit)
      .select("norm", "f", "key")
  }

  /** Dense dictionary ids per (norm, f): key → 1..N by key order (F9). */
  def dictionary(selected: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("norm", "f").orderBy("key")
    selected.withColumn("dict_idx", row_number().over(byKey))
  }

  /** Assemble MLlib sparse vectors per sample from dictionary-indexed
    * counts — the one vector helper of WEASEL and MUSE, fit and predict,
    * one plan for every (norm, f) in `dims`. `bags` (norm, f, id, label,
    * key, cnt) join `dict` (norm, f, key, dict_idx); `dims` gives each
    * (norm, f) its largest dict_idx. Output: (norm, f, id, label,
    * features VECTOR) for every sample of every (norm, f) in `dims`.
    *
    * `samples` (id, label) is the complete sample set: a sample sharing
    * NO selected feature still gets an all-zero vector — the reference
    * scores every sample (an empty vector goes through the LR
    * intercept), so dropping them would skew both the CV counts and the
    * final refit/predict.
    */
  def vectors(
      bags: DataFrame,
      dict: DataFrame,
      dims: Map[(Boolean, Int), Int],
      samples: DataFrame): DataFrame = {
    val spark = bags.sparkSession
    import spark.implicits._
    val sizes = dims.toSeq.map { case ((n, f), d) => (n, f, d + 1) }.toDF("norm", "f", "size")
    val counts = bags.join(dict.select("norm", "f", "key", "dict_idx"), Seq("norm", "f", "key"))
      .groupBy("norm", "f", "id", "label")
      .agg(collect_list(col("dict_idx")).as("idx"), collect_list(col("cnt")).as("cnt"))
    samples.select(col("id"), col("label")).distinct().crossJoin(sizes)
      .join(counts, Seq("norm", "f", "id", "label"), "left")
      .select(col("norm"), col("f"), col("id"), col("label"),
        sparseVector(col("size"), col("idx"), col("cnt")).as("features"))
  }

  private val sparseVector = udf { (size: Int, idx: Seq[Int], cnt: Seq[Long]) =>
    if (idx == null) Vectors.sparse(size, Array.empty[Int], Array.empty[Double])
    else {
      val pairs = idx.zip(cnt.map(_.toDouble)).sortBy(_._1)
      Vectors.sparse(size, pairs.map(_._1).toArray, pairs.map(_._2).toArray)
    }
  }

  /** [[vectors]] of a model dictionary (key, dict_idx) at its (norm, f),
    * broadcasting the model-sized dictionary.
    */
  def modelVectors(
      bags: DataFrame,
      selected: DataFrame,
      norm: Boolean,
      features: Int,
      dictSize: Int,
      samples: DataFrame): DataFrame = {
    val dict = selected.select(lit(norm).as("norm"), lit(features).as("f"), col("key"), col("dict_idx"))
    vectors(bags, broadcast(dict), Map((norm, features) -> dictSize), samples)
  }
}

/** The WEASEL classifier pipeline over (id, label, data) DataFrames. */
class WeaselClassifier(cfg: Weasel.Config = Weasel.Config()) {
  import Weasel._

  private val usedBits = Words.binlog(cfg.alphabetSize)

  /** Fit: grid over norm × f with 10-fold stratified CV, then refit the
    * best configuration on all samples.
    */
  def fit(train: DataFrame)(implicit spark: SparkSession): WeaselModel =
    fitCore(train, withProba = false)._1

  /** Fit AND return the train-set probabilities (id, label, pred,
    * probs) in one pass: the final refit's feature vectors serve both,
    * so cascade fits (TEASER trains a slave and immediately scores the
    * same truncated train set per snapshot) skip a full
    * words→bags→vectors recompute. The proba frame is materialized
    * before the shared vectors are released.
    */
  private[sfa] def fitWithProba(train: DataFrame)(implicit spark: SparkSession): (WeaselModel, DataFrame) = {
    val (model, proba) = fitCore(train, withProba = true)
    (model, proba.get)
  }

  private def fitCore(train: DataFrame, withProba: Boolean)(
      implicit spark: SparkSession): (WeaselModel, Option[DataFrame]) = {
    val sizes = train.agg(count(lit(1)), max(size(col("data")))).head
    val (n, maxLen) = (sizes.getLong(0), sizes.getInt(1))
    val hb = highestBit(cfg.maxWindowLength)

    def windowsFor(norm: Boolean): Seq[Int] = {
      val min = if (norm && cfg.minWindowLength <= 2) math.max(3, cfg.minWindowLength)
      else cfg.minWindowLength
      (min to math.min(maxLen, cfg.maxWindowLength)).toSeq
    }

    // fit all quantizers for both norms in one grid
    val allCfgs: Seq[(Boolean, Int)] =
      cfg.normalization.flatMap(nm => windowsFor(nm).map(w => (nm, w)))
    val quantizers = fitQuantizersGrid(train,
      allCfgs.map(_._2).distinct, cfg.normalization, cfg)
      .filter { case ((nm, w), _) => windowsFor(nm).contains(w) }
    val wIdx = quantizers.keys.map { case k @ (nm, w) => k -> windowsFor(nm).indexOf(w) }.toMap

    // one words pass and one bag pass serve every (norm, f) candidate
    val fs = cfg.minF to cfg.maxF by 2
    val candidates = for (nm <- cfg.normalization; f <- fs) yield (nm, f)
    val grid = new GridFit(bags(wordsGrid(train, quantizers, wIdx, usedBits), fs, usedBits, hb),
      chiSquared(_, n, cfg, hb), train, candidates, n, cfg.lrMaxIter)

    // CV exists only to pick the winning (norm, f) — with a single
    // candidate the pick is forced, so skip the fold fits and score
    // trainCorrect on the final model instead (reduced configs like
    // the s9 fixture fit hit this path)
    val singleCandidate = cfg.normalization.size == 1 && cfg.minF == cfg.maxF
    val scores = if (singleCandidate) Map.empty[(Boolean, Int), Long] else grid.crossValidate(cfg.folds)

    // scan order: norm true first, f ascending; strictly-greater update
    val (bestNorm, bestF, bestCorrect) =
      candidates.foldLeft((cfg.normalization.head, cfg.minF, -1L)) {
        case (acc @ (_, _, bc), (nm, f)) =>
          val c = scores.getOrElse((nm, f), 0L)
          if (c > bc) (nm, f, c) else acc
      }

    // final refit at the chosen configuration; of the cached frames only
    // the model's dictionary outlives the fit
    val refit = grid.refit((bestNorm, bestF), scoreTrain = singleCandidate, withProba)
    grid.release()

    (WeaselModel(bestNorm, bestF, if (singleCandidate) refit.trainCorrect else bestCorrect,
      quantizers.collect { case ((`bestNorm`, w), m) => w -> m }.toMap,
      windowsFor(bestNorm), refit.selected, refit.dictSize, refit.lr), refit.proba)
  }

  /** Predict with per-class probabilities → (id, label, pred, probs).
    * `probs` follows MLlib's class-index order (labels are class ids).
    */
  def predictProba(model: WeaselModel, test: DataFrame)(implicit spark: SparkSession): DataFrame =
    predictFull(model, test)
      .select(col("id"), col("label"), col("prediction").as("pred"),
        vector_to_array(col("probability")).as("probs"))

  /** Predict test rows → (id, label, pred). */
  def predict(model: WeaselModel, test: DataFrame)(implicit spark: SparkSession): DataFrame =
    predictFull(model, test)
      .select(col("id"), col("label"), col("prediction").as("pred"))

  private def predictFull(model: WeaselModel, test: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val hb = highestBit(cfg.maxWindowLength)
    // w_idx MUST come from the fitted full grid (see WeaselModel doc)
    val wIdx = model.windows.zipWithIndex.map { case (w, i) => (model.norm, w) -> i }.toMap
    val words = wordsGrid(test,
      model.quantizers.map { case (w, m) => (model.norm, w) -> m },
      wIdx, usedBits)
    val b = bags(words, Seq(model.features), usedBits, hb)
    // vectors from ALL test samples: a sample with no selected feature
    // still gets an LR prediction via the intercept (reference behavior)
    model.lr.transform(modelVectors(b, model.selected, model.norm, model.features,
      model.dictSize, test))
  }

  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (WeaselModel, Double) = {
    val model = fit(train)
    val total = test.count()
    val preds = predict(model, test)
    val correct = preds.filter(col("pred") === col("label")).count()
    (model, correct.toDouble / total)
  }
}
