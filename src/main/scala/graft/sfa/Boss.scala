package graft.sfa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** BOSS — Bag-of-SFA-Symbols dictionary classifier, Spark-first.
  *
  * Reference behavior (/root/reference/src/main/java/sfa/):
  *  - transformation/BOSS.java        (words, numerosity-reduced bags)
  *  - classification/BOSSEnsembleClassifier.java (window grid, asymmetric
  *    1-NN bag distance, weighted vote)
  *
  * Architecture: the reference grids over ~240 (windowLength, norm)
  * configurations with a thread pool; here the configuration is a *data
  * column*, and so is the word length f, so the whole grid is a handful
  * of Spark jobs regardless of grid size — fit bins (one groupBy per
  * (cfg, coefficient)), build words (one native-expression pass) with
  * each word's predecessor (one lag over the full-length word, shared by
  * every f), build bags at every f (one mask+groupBy over the f-exploded
  * words), and leave-one-out 1-NN (one equi-join on (cfg, f, word) —
  * never a cross join; pairs sharing no word have distance == noMatch
  * and are skipped by the reference too, so the equi-join loses
  * nothing).
  *
  * Scale notes (100 TB): every shuffle is keyed by (cfg, series) or
  * (cfg, word) — both high-cardinality and bounded-skew (word vocabulary
  * ≤ alphabet^wordLength; bag counts are numerosity-reduced). Train-side
  * bags of a fitted model are small (ensemble models × train vocabulary)
  * and are broadcast at predict time.
  */
object Boss {

  /** Default training parameters (BOSSEnsembleClassifier.java:23-30). */
  final case class Config(
      minF: Int = 6,
      maxF: Int = 16,
      alphabetSize: Int = 4,
      factor: Double = 0.92,
      minWindowLength: Int = 10,
      maxWindowLength: Int = 250,
      normalization: Seq[Boolean] = Seq(true, false))

  /** One fitted window model of the ensemble. */
  final case class WindowModel(
      norm: Boolean,
      windowLength: Int,
      features: Int,
      trainCorrect: Long,
      sfa: SFAModel)

  /** A fitted ensemble: selected window models + their train bags.
    * `trainBags` columns: (norm, w, id, label, word, cnt, f) for the
    * selected (norm, w) configs at each model's feature length f;
    * `trainBagRows` is its row count, predict's broadcast gate.
    */
  final case class EnsembleModel(
      models: Seq[WindowModel],
      trainBags: DataFrame,
      trainBagRows: Long,
      trainSize: Long)

  /** Fit SFA bins for every (norm, windowLength) config in one plan: DFT
    * of z-normed disjoint windows (lowerBounding on), the 2-decimal HALF_UP
    * orderline ([[SFA.roundAt]]'s rule) and equi-depth edges per (cfg,
    * coefficient). Every config with a training window gets a model, even
    * one whose edges all stay +∞.
    */
  def fitBinsGrid(
      train: DataFrame,
      windows: Seq[Int],
      norms: Seq[Boolean],
      wordLength: Int,
      alphabetSize: Int)(implicit spark: SparkSession): Map[(Boolean, Int), SFAModel] = {
    import spark.implicits._
    val cfgs = norms.flatMap(n => windows.map(w => (n, w))).toDF("norm", "w")
    // the collect_list group is one (cfg, coefficient) slice of the
    // training windows — bounded by the fit sample, which at extreme
    // scale is itself a sample (the reference trains on disjoint windows
    // for the same reason)
    val rows = train.crossJoin(cfgs)
      .select(col("norm"), col("w"), explode(SFAOps.disjointCol(col("data"), col("w"),
        lit(wordLength), col("norm"), lowerBounding = true, zNorm = true)).as("approx"))
      .select(col("norm"), col("w"), posexplode(col("approx")).as(Seq("coef", "v")))
      .groupBy(col("norm"), col("w"), col("coef"))
      .agg(SFAOps.edgesCol(collect_list(round(col("v"), 2)), alphabetSize, HistogramType.EquiDepth)
        .as("edges"))
      .collect()
    SFAOps.binsByKey(rows, wordLength, alphabetSize)(r => (r.getBoolean(0), r.getInt(1)))
      .map { case ((norm, w), bins) =>
        (norm, w) -> SFAModel(w, wordLength, alphabetSize, norm,
          lowerBounding = true, applyZNorm = true, bins = bins)
      }
  }

  /** Sliding packed words (at maxF symbols) for every config in one plan
    * — [[SFAModel.transformWindowingWords]] as MFT (lowerBounding and
    * window z-norm on) plus [[graft.sfa.expr.SfaWordExpr]] against the
    * config's bins. Columns: (norm, w, id, label, offset, word).
    */
  def slidingWordsGrid(
      train: DataFrame,
      models: Map[(Boolean, Int), SFAModel],
      maxF: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val usedBits = SFAOps.gridUsedBits(models.values)
    val l = SFAOps.configValue(models.map { case (k, m) => k -> m.wordLength }, col("norm"), col("w"))
    val edges = SFAOps.configValue(
      models.map { case (k, m) => k -> SFAOps.wordEdges(m.bins, maxF, usedBits) }, col("norm"), col("w"))
    train.crossJoin(models.keys.toSeq.toDF("norm", "w"))
      .select(col("norm"), col("w"), col("id"), col("label"), col("data"), l.as("l"), edges.as("edges"))
      .select(col("norm"), col("w"), col("id"), col("label"), col("edges"),
        posexplode(SFAOps.mftCol(col("data"), col("w"), col("l"), col("norm"),
          lowerBounding = true, applyZNorm = true)).as(Seq("offset", "approx")))
      .select(col("norm"), col("w"), col("id"), col("label"), col("offset"),
        SFAOps.wordCol(col("approx"), col("edges"), usedBits).as("word"))
  }

  /** Each word's predecessor in offset order per (cfg, series), as
    * column `prev` (null at the first offset) — the one lag every bag of
    * these words shares: masking commutes with the lag, so the bag at
    * any f masks `word` and `prev` alike. Input must carry (norm, w, id,
    * offset, word).
    */
  def withPrev(words: DataFrame): DataFrame = {
    val byOffset = Window.partitionBy(col("norm"), col("w"), col("id")).orderBy(col("offset"))
    words.withColumn("prev", lag(col("word"), 1).over(byOffset))
  }

  /** Numerosity-reduced bags at each row's feature length `f`: mask the
    * packed word and its predecessor to f symbols, drop offsets whose
    * masked word equals the predecessor's, count per (cfg, f, series,
    * word) (BOSS.java:116-145). Input must carry (norm, w, f, id, label,
    * word, prev) — see [[withPrev]]. Output: (norm, w, id, label, word,
    * cnt, f).
    */
  def bags(words: DataFrame, usedBits: Int): DataFrame = {
    val mask = call_function("shiftleft", lit(1L), col("f") * usedBits) - 1L
    words
      .select(col("norm"), col("w"), col("f"), col("id"), col("label"),
        col("word").bitwiseAND(mask).as("wf"), col("prev").bitwiseAND(mask).as("pf"))
      .filter(col("pf").isNull || col("pf") =!= col("wf"))
      .groupBy(col("norm"), col("w"), col("f"), col("id"), col("label"), col("wf"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("norm"), col("w"), col("id"), col("label"), col("wf").as("word"), col("cnt"), col("f"))
  }

  /** Asymmetric 1-NN bag join: for each test bag, the nearest train bag
    * under dist = Σ_{test words} (tc − nc)², candidates from the
    * (cfg, word) equi-join, with the reference's guards — skip self,
    * skip dist == noMatch (no effective overlap) and dist == 0; ties
    * broken by the smaller train id (= reference scan order)
    * (BOSSEnsembleClassifier.java:184-236).
    *
    * Returns (norm, w, id, label, predLabel).
    */
  def nn1(
      testBags: DataFrame,
      trainBags: DataFrame,
      broadcastTrain: Boolean = false,
      excludeSameId: Boolean = true,
      keys: Seq[String] = Seq("norm", "w")): DataFrame = {
    val k = keys.map(col)
    val t = testBags.select(
      k :+ col("id").as("test_id") :+ col("label").as("test_label") :+
        col("word") :+ col("cnt").as("tc"): _*)
    val n0 = trainBags.select(
      k :+ col("id").as("train_id") :+ col("label").as("train_label") :+
        col("word") :+ col("cnt").as("nc"): _*)
    val n = if (broadcastTrain) broadcast(n0) else n0

    val noMatch = t.groupBy(k :+ col("test_id"): _*)
      .agg(sum(col("tc") * col("tc")).as("no_match"))

    // dist = noMatch + Σ_shared ((tc−nc)² − tc²); partial aggregation is
    // map-side combinable, so the only shuffle is on (cfg, pair).
    // the reference's self-skip is OBJECT identity — it only bites in
    // LOO scoring (test == train array); on test prediction a test id
    // numerically equal to a train id is a DIFFERENT series and must
    // compete (BOSSEnsembleClassifier.java:206)
    val pairs0 = t.join(n, keys :+ "word")
    val pairs = (if (excludeSameId) pairs0.filter(col("test_id") =!= col("train_id")) else pairs0)
      .groupBy(k :+ col("test_id") :+ col("test_label") :+
        col("train_id") :+ col("train_label"): _*)
      .agg(sum((col("tc") - col("nc")) * (col("tc") - col("nc")) - col("tc") * col("tc"))
        .as("delta"))
      .join(noMatch, keys :+ "test_id")
      .withColumn("dist", col("delta") + col("no_match"))
      .filter(col("dist") =!= col("no_match") && col("dist") > 0)

    val byDist = Window.partitionBy(k :+ col("test_id"): _*)
      .orderBy(col("dist").asc, col("train_id").asc)
    pairs.withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(k :+ col("test_id").as("id") :+
        col("test_label").as("label") :+ col("train_label").as("predLabel"): _*)
  }

  /** Weighted majority vote across ensemble models per test id; tie-break:
    * larger label wins (Classifier.java:569-615, ENSEMBLE_WEIGHTS on).
    * Input: (id, label, predLabel, weight). Output: (id, label, pred).
    */
  def vote(preds: DataFrame): DataFrame = {
    val byCount = Window.partitionBy(col("id")).orderBy(col("votes").desc, col("predLabel").desc)
    preds.groupBy(col("id"), col("label"), col("predLabel"))
      .agg(sum(col("weight")).as("votes"))
      .withColumn("rn", row_number().over(byCount))
      .filter(col("rn") === 1)
      .select(col("id"), col("label"), col("predLabel").as("pred"))
  }

  /** Accuracy of (label, pred) rows over a known total (unpredicted rows
    * count as wrong, as in the reference's null labels).
    */
  def accuracy(preds: DataFrame, total: Long): Double = {
    val correct = preds.filter(col("pred") === col("label")).count()
    correct.toDouble / total
  }
}

/** The BOSS window-grid ensemble (M1): fit all (norm, windowLength)
  * configurations, sweep word length f by leave-one-out 1-NN on the train
  * bags, keep models within `factor` of the best train score, predict by
  * weighted vote.
  */
class BossEnsemble(cfg: Boss.Config = Boss.Config()) {
  import Boss._

  private def usedBits = Words.binlog(cfg.alphabetSize)

  /** Fit on (id LONG, label DOUBLE, data ARRAY<DOUBLE>). */
  def fit(train: DataFrame)(implicit spark: SparkSession): EnsembleModel = {
    val sizes = train.agg(count(lit(1)), max(size(col("data")))).head
    val (trainCount, maxLen) = (sizes.getLong(0), sizes.getInt(1))
    val maxW = math.min(maxLen, cfg.maxWindowLength)
    val windows = (cfg.minWindowLength to maxW).toSeq

    val models = fitBinsGrid(train, windows, cfg.normalization, cfg.maxF, cfg.alphabetSize)
    val words = withPrev(slidingWordsGrid(train, models, cfg.maxF)).cache()
    words.count() // materialize once; reused for every f

    // f-sweep: LOO per-sample predictions per (norm, w, f) — one bag
    // pass over the f-exploded words, one 1-NN join keyed by f too.
    // Cached: the ensemble vote below reuses these rows instead of
    // re-running the whole 1-NN join on the selected configs.
    val fValues = (cfg.minF to cfg.maxF by 2).toSeq
    val allBags = bags(words.withColumn("f", explode(array(fValues.map(lit): _*))), usedBits)
    val looAll = nn1(allBags, allBags, keys = Seq("norm", "w", "f")).cache()
    val scores: Map[(Boolean, Int, Int), Long] =
      looAll
        .filter(col("predLabel") === col("label"))
        .groupBy(col("norm"), col("w"), col("f")).agg(count(lit(1)).as("correct"))
        .collect()
        .map(r => (r.getBoolean(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
        .toMap

    // per config: the reference scans f ascending and keeps the first
    // strictly-better score → smallest f among the maxima.
    val perCfg: Map[(Boolean, Int), (Int, Long)] =
      models.keys.map { case (n, w) =>
        val byF = fValues.map(f => (f, scores.getOrElse((n, w, f), 0L)))
        val best = byF.maxBy(_._2)._2
        val bestF = byF.collectFirst { case (f, c) if c == best => f }.get
        (n, w) -> (bestF, best)
      }.toMap

    // per norm: ensemble = configs within factor of the best train score
    val candidates: Map[Boolean, Seq[WindowModel]] = cfg.normalization.map { n =>
      val ofNorm = perCfg.collect { case ((`n`, w), (f, c)) => WindowModel(n, w, f, c, models((n, w))) }.toSeq
      val best = if (ofNorm.isEmpty) 0L else ofNorm.map(_.trainCorrect).max
      n -> ofNorm.filter(_.trainCorrect >= best * cfg.factor)
        .sortBy(m => (-m.trainCorrect, -m.windowLength))
    }.toMap

    // evaluate each norm's ensemble by its weighted vote on train: the
    // per-sample LOO predictions at each model's own f are already in
    // the cached sweep result — select them, attach weights, vote.
    def looPreds(ms: Seq[WindowModel]): Option[DataFrame] =
      if (ms.isEmpty) None
      else Some(looAll.join(broadcast(selected(ms)), Seq("norm", "w", "f")))

    val evaluated = cfg.normalization.map { n =>
      val correct = looPreds(candidates(n)) match {
        case Some(p) => vote(p).filter(col("pred") === col("label")).count()
        case None => 0L
      }
      (n, candidates(n), correct)
    }
    val (_, ensemble, _) = evaluated.maxBy(_._3)
    looAll.unpersist()

    // persist train bags of the selected models (each at its own f);
    // carry f so predict-side bags can be matched per model.
    val trainBags = bags(words.join(broadcast(selected(ensemble).drop("weight")), Seq("norm", "w")),
      usedBits).cache()
    val trainBagRows = trainBags.count()
    words.unpersist()

    EnsembleModel(ensemble, trainBags, trainBagRows, trainCount)
  }

  /** The models' (norm, w, f, weight) table; weight = train score. */
  private def selected(ms: Seq[WindowModel])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ms.map(m => (m.norm, m.windowLength, m.features, m.trainCorrect)).toDF("norm", "w", "f", "weight")
  }

  /** Train-bag rows the predict-side 1-NN may broadcast: the train-bag
    * model table is train-corpus-proportional (the reference's own
    * model shape), so past the ceiling the join falls back to the
    * shuffle plan nn1 already supports.
    */
  private val BroadcastBagMaxRows = 2000000L

  /** Predict labels for (id, label, data) rows → (id, label, pred). */
  def predict(model: EnsembleModel, test: DataFrame)(implicit spark: SparkSession): DataFrame = {
    val sfaModels = model.models.map(m => (m.norm, m.windowLength) -> m.sfa).toMap
    val sel = selected(model.models)
    val words = withPrev(slidingWordsGrid(test, sfaModels, cfg.maxF))
      .join(broadcast(sel.drop("weight")), Seq("norm", "w"))
    val bcTrain = model.trainBagRows <= BroadcastBagMaxRows
    if (!bcTrain)
      System.err.println("[gated] BOSS predict: train bags above broadcast ceiling — shuffle 1-NN join")

    // each (norm, w) has its one f on both sides, so (norm, w) keys the
    // join and the test words' (norm, w, id) partitioning carries through
    val preds = nn1(bags(words, usedBits), model.trainBags, broadcastTrain = bcTrain,
      excludeSameId = false)
      .join(broadcast(sel), Seq("norm", "w"))
    vote(preds)
  }

  /** Train + test accuracy, reference `eval` semantics. */
  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (EnsembleModel, Double) = {
    val model = fit(train)
    val testCount = test.count()
    val preds = predict(model, test)
    (model, Boss.accuracy(preds, testCount))
  }
}
