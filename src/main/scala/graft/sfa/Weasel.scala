package graft.sfa

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * grid is a data column; ANOVA-F and χ² are groupBy aggregations; the
  * only per-group collects are bin edges (l × α−1 doubles per config)
  * and the MLlib feature vectors.
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
      selected: DataFrame,                   // (w_idx, key, dict_idx)
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

  /** Sliding packed words for every config in one plan — [[SupervisedModel.words]]
    * as MFT (lowerBounding off), F-ranked coefficient selection and
    * [[graft.sfa.expr.SfaWordExpr]]. Columns: (norm, w, w_idx, id, label,
    * offset, word); `w_idx` is the window's index in the length grid.
    */
  def wordsGrid(
      data: DataFrame,
      models: Map[(Boolean, Int), SupervisedModel],
      windowIdx: Map[Int, Int],
      usedBits: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    def byCfg[V: scala.reflect.runtime.universe.TypeTag](f: SupervisedModel => V) =
      SFAOps.configValue(models.map { case (k, q) => k -> f(q) }, col("norm"), col("w"))
    val cfgs = models.keys.toSeq.map { case (n, w) => (n, w, windowIdx(w)) }
      .toDF("norm", "w", "w_idx")
    data.crossJoin(cfgs)
      .filter(size(col("data")) >= col("w"))
      .select(col("norm"), col("w"), col("w_idx"), col("id"), col("label"), col("data"),
        byCfg(q => math.max(q.maxWordLength, 2)).as("l"), byCfg(_.bestValues.toSeq).as("coefs"),
        byCfg(q => SFAOps.wordEdges(q.bestValues.map(q.bins), q.bestValues.length, usedBits)).as("edges"))
      .select(col("norm"), col("w"), col("w_idx"), col("id"), col("label"), col("coefs"), col("edges"),
        posexplode(SFAOps.mftCol(col("data"), col("w"), col("l"), col("norm"),
          lowerBounding = false, applyZNorm = true)).as(Seq("offset", "approx")))
      .select(col("norm"), col("w"), col("w_idx"), col("id"), col("label"), col("offset"),
        SFAOps.wordCol(SFAOps.selectCoefsCol(col("approx"), col("coefs")), col("edges"), usedBits)
          .as("word"))
  }

  /** Bit width of the window-index field in unigram keys:
    * binlog(highestOneBit(MAX_WINDOW_LENGTH)) + 1 (WEASEL.java:152). */
  def highestBit(maxWindowLength: Int): Int =
    Words.binlog(Integer.highestOneBit(maxWindowLength)) + 1

  /** Unigram + bigram bag keys at feature length f (no numerosity
    * reduction in WEASEL): unigram = (word & mask) << hb | w_idx;
    * bigram = prevWord << 32 | unigram with prev at offset − w, skipped
    * when prevWord == 0 (WEASEL.java:142-175).
    * Output: (norm, f, id, label, key, cnt).
    */
  def bags(words: DataFrame, f: Int, usedBits: Int, hb: Int): DataFrame = {
    val m = Words.mask(f, usedBits)
    val uni = words
      .withColumn("wf", col("word").bitwiseAND(lit(m)))
      .withColumn("uni", shiftleft(col("wf"), hb).bitwiseOR(col("w_idx")))
      .select(col("norm"), col("w"), col("w_idx"), col("id"), col("label"),
        col("offset"), col("uni"))
    // the bigram partner is the word at offset − w: self-join on the
    // shifted offset (an equi-join, not a wide window over lag(w))
    val prevs = words
      .withColumn("wf", col("word").bitwiseAND(lit(m)))
      .select(col("norm"), col("w"), col("id"),
        (col("offset") + col("w")).as("offset"), col("wf").as("prevw"))
    val withPrev = uni.join(prevs, Seq("norm", "w", "id", "offset"), "left")
    val unigrams = withPrev.select(col("norm"), col("id"), col("label"), col("uni").as("key"))
    val bigrams = withPrev
      .filter(col("prevw").isNotNull && col("prevw") =!= 0)
      .select(col("norm"), col("id"), col("label"),
        shiftleft(col("prevw"), 32).bitwiseOR(col("uni")).as("key"))
    unigrams.unionByName(bigrams)
      .groupBy("norm", "id", "label", "key")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("f", lit(f))
  }

  /** Per-(norm, f, window) χ² feature selection on document presence
    * counts with the unigram/bigram caps (WEASEL.java:217-339).
    * Input bags rows: (norm, f, id, label, key, cnt) — the window index
    * is recovered from the key. Output: (norm, f, key) accepted.
    */
  def chiSquared(bags: DataFrame, nSamples: Long, cfg: Config, hb: Int): DataFrame = {
    val wIdxCol = when(col("key") >= (1L << 32), // bigram: low half holds the unigram
      col("key").bitwiseAND(lit((1L << 32) - 1)).bitwiseAND(lit((1L << hb) - 1)))
      .otherwise(col("key").bitwiseAND(lit((1L << hb) - 1)))
    val presence = bags.filter(col("cnt") > 0)
      .select(col("norm"), col("f"), col("key"), col("id"), col("label"))
      .withColumn("w_idx", wIdxCol)
    val featCount = presence.groupBy("norm", "f", "key", "w_idx")
      .agg(count(lit(1)).as("fc"))
    val obs = presence.groupBy("norm", "f", "key", "label")
      .agg(count(lit(1)).as("obs"))
    val classCount = presence.select("norm", "f", "id", "label").distinct()
      .groupBy("norm", "f", "label").agg(count(lit(1)).as("cc"))

    // χ² per (feature, class) with expected = P(class)·featureCount; a
    // feature survives when its max class χ² ≥ limit (see deviation note)
    val chi = featCount.join(classCount, Seq("norm", "f"))
      .join(obs, Seq("norm", "f", "key", "label"), "left")
      .na.fill(0L, Seq("obs"))
      .withColumn("expected", col("cc").cast("double") / nSamples * col("fc"))
      .withColumn("chi",
        (col("obs") - col("expected")) * (col("obs") - col("expected")) / col("expected"))
      .groupBy("norm", "f", "key", "w_idx")
      .agg(max("chi").as("chi"))
      .filter(col("chi") >= cfg.chiLimit)

    // per-window caps: top wordLimit unigrams + top wordLimit bigrams
    val byChi = Window.partitionBy(col("norm"), col("f"), col("w_idx"),
      (col("key") >= (1L << 32)).as("isBigram"))
      .orderBy(col("chi").desc, col("key").asc)
    chi.withColumn("rk", row_number().over(byChi))
      .filter(col("rk") <= cfg.wordLimit)
      .select("norm", "f", "key")
  }

  /** Dense dictionary ids per (norm, f): key → 1..N by key order (F9). */
  def dictionary(selected: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("norm", "f").orderBy("key")
    selected.withColumn("dict_idx", row_number().over(byKey))
  }

  /** Assemble MLlib sparse vectors per sample from dictionary-indexed
    * counts — the one vector helper of WEASEL and MUSE, fit and predict.
    * `bags` (norm, f, id, label, key, cnt) join `dict` (norm, f, key,
    * dict_idx); `dims` gives each (norm, f) its largest dict_idx.
    * Output: (norm, f, id, label, features VECTOR) for every sample of
    * every (norm, f) in `dims`.
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
    val ids = samples.select(col("id"), col("label")).distinct()
    // one (id, label)-keyed join per (norm, f) — callers fit one at a time
    dims.toSeq.map { case ((n, f), d) =>
      val counts = bags.filter(col("norm") === n && col("f") === f)
        .join(dict.filter(col("norm") === n && col("f") === f).select("key", "dict_idx"), "key")
        .groupBy("id", "label")
        .agg(collect_list(col("dict_idx")).as("idx"), collect_list(col("cnt")).as("cnt"))
      ids.join(counts, Seq("id", "label"), "left")
        .select(lit(n).as("norm"), lit(f).as("f"), col("id"), col("label"),
          sparseVector(lit(d + 1), col("idx"), col("cnt")).as("features"))
    }.reduce(_ unionByName _)
  }

  private val sparseVector = udf { (size: Int, idx: Seq[Int], cnt: Seq[Long]) =>
    if (idx == null) Vectors.sparse(size, Array.empty[Int], Array.empty[Double])
    else {
      val pairs = idx.zip(cnt.map(_.toDouble)).sortBy(_._1)
      Vectors.sparse(size, pairs.map(_._1).toArray, pairs.map(_._2).toArray)
    }
  }

  /** A final refit's dictionary: `selected` (norm, f, key) of one
    * (norm, f) numbered by [[dictionary]] and kept as (key, dict_idx),
    * cached — the one frame a fitted model keeps — with its size (0 when
    * nothing was selected).
    */
  private[sfa] def modelDictionary(selected: DataFrame): (DataFrame, Int) = {
    val dict = dictionary(selected).select(col("key"), col("dict_idx")).cache()
    val size = dict.agg(max("dict_idx")).collect().head
    (dict, if (size.isNullAt(0)) 0 else size.getInt(0))
  }

  /** [[vectors]] of a model dictionary (key, dict_idx) at its (norm, f);
    * the predict side broadcasts the model-sized dictionary, the fit
    * leaves the join to the planner.
    */
  def modelVectors(
      bags: DataFrame,
      selected: DataFrame,
      norm: Boolean,
      features: Int,
      dictSize: Int,
      samples: DataFrame,
      broadcastDict: Boolean): DataFrame = {
    val dict = selected.select(lit(norm).as("norm"), lit(features).as("f"), col("key"), col("dict_idx"))
    vectors(bags, if (broadcastDict) broadcast(dict) else dict, Map((norm, features) -> dictSize), samples)
  }
}

/** The WEASEL classifier pipeline over (id, label, data) DataFrames. */
class WeaselClassifier(cfg: Weasel.Config = Weasel.Config()) {
  import Weasel._

  private val usedBits = Words.binlog(cfg.alphabetSize)

  // liblinear runs with eps = 0.1 (loose); a tight MLlib tolerance only
  // burns L-BFGS iterations on 10⁴-dim coefficient vectors without
  // moving the golden accuracies — see [[LinModel]].
  private def fitLin(vecs: DataFrame, n: Long): LinModel =
    LinModel.fit(vecs, n, cfg.lrMaxIter)

  /** Fit: grid over norm × f with 10-fold stratified CV, then refit the
    * best configuration on all samples.
    */
  def fit(train: DataFrame)(implicit spark: SparkSession): WeaselModel = {
    val (model, vecs) = fitCore(train)
    vecs.unpersist()
    model
  }

  /** Fit AND return the train-set probabilities (id, label, pred,
    * probs) in one pass: the final refit's feature vectors serve both,
    * so cascade fits (TEASER trains a slave and immediately scores the
    * same truncated train set per snapshot) skip a full
    * words→bags→vectors recompute. The proba frame is materialized
    * (localCheckpoint) before the shared vectors are released.
    */
  private[sfa] def fitWithProba(train: DataFrame)(implicit spark: SparkSession): (WeaselModel, DataFrame) = {
    val (model, vecs) = fitCore(train)
    val proba = model.lr.transform(vecs)
      .select(col("id"), col("label"), col("prediction").as("pred"),
        vector_to_array(col("probability")).as("probs"))
      .localCheckpoint(true)
    vecs.unpersist()
    (model, proba)
  }

  private def fitCore(train: DataFrame)(implicit spark: SparkSession): (WeaselModel, DataFrame) = {
    import spark.implicits._
    val n = train.count()
    val maxLen = train.select(max(size(col("data")))).head.getInt(0)
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

    // stratified fold assignment (round-robin per label by id)
    val byLabel = Window.partitionBy("label").orderBy("id")
    val folded = train.withColumn("fold",
      ((row_number().over(byLabel) - 1) % cfg.folds).cast("int")).cache()

    var best: Option[(Boolean, Int, Long)] = None
    val wordsByNorm: Map[Boolean, DataFrame] = cfg.normalization.map { nm =>
      val ws = windowsFor(nm)
      val wIdx = ws.zipWithIndex.toMap
      val models = quantizers.filter { case ((n2, _), _) => n2 == nm }
      nm -> wordsGrid(folded, models, wIdx, usedBits).cache()
    }.toMap

    // CV exists only to pick the winning (norm, f) — with a single
    // candidate the pick is forced, so skip the fold fits and score
    // trainCorrect on the final model instead (reduced configs like
    // the s9 fixture fit hit this path)
    val singleCandidate = cfg.normalization.size == 1 && cfg.minF == cfg.maxF

    val scores = for {
      nm <- cfg.normalization
      f <- cfg.minF to cfg.maxF by 2
      if !singleCandidate
    } yield {
      val b = bags(wordsByNorm(nm).filter(col("norm") === nm), f, usedBits, hb)
        .filter(col("norm") === nm).cache()
      val sel = chiSquared(b, n, cfg, hb)
      val dict = dictionary(sel).cache()
      val dims = dict.groupBy("norm", "f").agg(max("dict_idx").as("d")).collect()
        .map(r => (r.getBoolean(0), r.getInt(1)) -> r.getInt(2)).toMap
      if (dims.isEmpty) { b.unpersist(); dict.unpersist(); (nm, f, 0L) }
      else {
        // coalesce before the iterative LR fits: see Pipelines.fitParallelism
        val vecs = vectors(b, dict, dims, folded)
          .join(folded.select(col("id"), col("fold")), "id")
          .coalesce(graft.util.Pipelines.fitParallelism(n)).cache()
        val correct = (0 until cfg.folds).map { k =>
          val tr = vecs.filter(col("fold") =!= k)
          val te = vecs.filter(col("fold") === k)
          if (tr.isEmpty || te.isEmpty) 0L
          else {
            val m = fitLin(tr, n)
            m.transform(te).filter(col("prediction") === col("label")).count()
          }
        }.sum
        vecs.unpersist(); b.unpersist(); dict.unpersist()
        (nm, f, correct)
      }
    }

    // scan order: norm true first, f ascending; strictly-greater update
    val (bestNorm, bestF, bestCorrect) =
      scores.foldLeft((cfg.normalization.head, cfg.minF, -1L)) {
        case (acc @ (_, _, bc), (nm, f, c)) => if (c > bc) (nm, f, c) else acc
      }

    // final refit at the chosen configuration; of its cached frames only
    // the model's dictionary outlives the fit (and `vecs`, until the
    // caller releases it)
    val fb = bags(wordsByNorm(bestNorm).filter(col("norm") === bestNorm),
      bestF, usedBits, hb).cache()
    val (selected, dictSize) = modelDictionary(chiSquared(fb, n, cfg, hb))
    val vecs = modelVectors(fb, selected, bestNorm, bestF, dictSize, folded, broadcastDict = false)
      .coalesce(graft.util.Pipelines.fitParallelism(n)).cache()
    val lr = fitLin(vecs, n)
    // single-candidate path skipped CV: trainCorrect = final-model score
    val correct =
      if (!singleCandidate) bestCorrect
      else lr.transform(vecs).filter(col("prediction") === col("label")).count()
    fb.unpersist()
    wordsByNorm.values.foreach(_.unpersist())
    folded.unpersist()

    (WeaselModel(bestNorm, bestF, correct,
      quantizers.collect { case ((`bestNorm`, w), m) => w -> m }.toMap,
      windowsFor(bestNorm), selected, dictSize, lr), vecs)
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
    val wIdx = model.windows.zipWithIndex.toMap
    val words = wordsGrid(test,
      model.quantizers.map { case (w, m) => (model.norm, w) -> m },
      wIdx, usedBits)
    val b = bags(words, model.features, usedBits, hb)
    // vectors from ALL test samples: a sample with no selected feature
    // still gets an LR prediction via the intercept (reference behavior)
    model.lr.transform(modelVectors(b, model.selected, model.norm, model.features,
      model.dictSize, test, broadcastDict = true))
  }

  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (WeaselModel, Double) = {
    val model = fit(train)
    val total = test.count()
    val preds = predict(model, test)
    val correct = preds.filter(col("pred") === col("label")).count()
    (model, correct.toDouble / total)
  }
}
