package graft.sfa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** BOSS VS — Bag-of-SFA-Symbols in Vector Space, Spark-first.
  *
  * Reference behavior (/root/reference/src/main/java/sfa/):
  *  - transformation/BOSSVS.java        (per-class tf-idf of word bags:
  *    weight = (1+log10 tf)/log10(1+K/df), 0 when the word is in every
  *    class; L2-normalized per class)
  *  - classification/BOSSVSClassifier.java (√maxLen equi-distance window
  *    sampling, f-sweep scored by 10-fold CV of the tf-idf classifier,
  *    ensemble within factor 0.95, weighted vote)
  *
  * Architecture: window length, feature length AND fold are data
  * columns. The bags of every f come from one pass over the f-exploded
  * words ([[Boss.bags]] on words carrying their predecessor,
  * [[Boss.withPrev]]); per-fold tf-idf matrices come from one
  * aggregation — fold tf = total tf − the fold's own contribution — so
  * the entire grid × f × 10-fold CV is a fixed number of Spark jobs.
  *
  * Deviation: the reference's class argmax follows hash-map iteration
  * order on ties; we tie-break deterministically by smaller label.
  * The `+1` the reference adds to each weight shifts every class score
  * by the same Σtc and cannot change the argmax, so scores here are
  * plain Σ tc·weight.
  */
object BossVS {

  final case class Config(
      minF: Int = 4,
      maxF: Int = 16,
      alphabetSize: Int = 4,
      factor: Double = 0.95,
      minWindowLength: Int = 10,
      maxWindowLength: Int = 250,
      folds: Int = 10,
      normalization: Seq[Boolean] = Seq(true, false))

  final case class VsModel(
      norm: Boolean,
      windowLength: Int,
      features: Int,
      trainCorrect: Long,
      sfa: SFAModel)

  final case class VsEnsembleModel(
      models: Seq[VsModel],
      classMatrix: DataFrame, // (norm, w, f, label, word, nweight)
      numLabels: Int)

  /** Equi-distance window sampling with the reference's int-truncating
    * accumulation (BOSSVSClassifier.java:98-104).
    */
  def sampleWindows(minW: Int, maxW: Int): Seq[Int] = {
    val count = math.sqrt(maxW)
    val distance = (maxW - minW) / count
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var c = minW
    while (c <= maxW) {
      out += c
      c = (c + distance).toInt
    }
    out.toSeq
  }

  /** Bags at every f ∈ {minF, minF + 2, …, maxF} with f ≤ the window
    * length (BOSSVSClassifier.java's f ≤ min(w, maxF)), f as data.
    * Input: [[Boss.withPrev]] words. Output: [[Boss.bags]] rows.
    */
  def sweepBags(words: DataFrame, minF: Int, maxF: Int, usedBits: Int): DataFrame = {
    val fs = explode(array((minF to maxF by 2).map(lit): _*))
    Boss.bags(words.withColumn("f", fs).filter(col("f") <= col("w")), usedBits)
  }

  /** Per-class tf-idf matrix from bag rows (norm, w, f, label, word,
    * cnt), optionally per fold (leave-one-fold-out via total − fold).
    * Output: (norm, w, f[, fold], label, word, nweight).
    */
  def tfidf(bags: DataFrame, numLabels: Int, perFold: Option[Int]): DataFrame = {
    val keys = Seq("norm", "w", "f")
    val tfTotal = bags.groupBy((keys :+ "label" :+ "word").map(col): _*)
      .agg(sum("cnt").as("tf_total"))
    val tf = perFold match {
      case None => tfTotal.withColumn("tf", col("tf_total"))
      case Some(nf) =>
        val foldPart = bags.groupBy((keys :+ "label" :+ "word" :+ "fold").map(col): _*)
          .agg(sum("cnt").as("tf_in"))
        val grid = tfTotal.crossJoin(
          bags.sparkSession.range(nf).select(col("id").cast("int").as("fold")))
        grid.join(foldPart, keys :+ "label" :+ "word" :+ "fold", "left")
          .na.fill(0L, Seq("tf_in"))
          .withColumn("tf", col("tf_total") - col("tf_in"))
    }
    val foldKey = perFold.map(_ => "fold").toSeq
    val dfKeys = keys ++ foldKey :+ "word"
    val present = tf.filter(col("tf") > 0)
    val wordClass = present.groupBy(dfKeys.map(col): _*)
      .agg(count(lit(1)).as("wc"))
    val weighted = present.join(wordClass, dfKeys)
      .withColumn("weight",
        when(col("wc") === numLabels, lit(0.0))
          .otherwise((lit(1.0) + log10(col("tf"))) /
            log10(lit(1.0) + lit(numLabels) / col("wc").cast("double"))))
    val l2 = Window.partitionBy((keys ++ foldKey :+ "label").map(col): _*)
    weighted
      .withColumn("l2", sqrt(sum(col("weight") * col("weight")).over(l2)))
      .withColumn("nweight", when(col("l2") > 0, col("weight") / col("l2")).otherwise(col("weight")))
      .select((keys ++ foldKey :+ "label" :+ "word" :+ "nweight").map(col): _*)
  }

  /** Score test bags against class matrices: per (cfg, sample) the class
    * with max Σ tc·nweight (ties → smaller label). `matrix` may carry a
    * fold column — then bags must too, and scoring is within the
    * sample's fold. Output: (norm, w, f, id, label, predLabel).
    */
  def classify(bags: DataFrame, matrix: DataFrame, labels: Seq[Double]): DataFrame = {
    val spark = bags.sparkSession
    import spark.implicits._
    val foldKey = if (matrix.columns.contains("fold")) Seq("fold") else Seq.empty
    val keys = Seq("norm", "w", "f") ++ foldKey
    val joinKeys = keys :+ "word"
    val scores = bags
      .join(matrix.withColumnRenamed("label", "cls"), joinKeys)
      .groupBy((keys :+ "id" :+ "label" :+ "cls").map(col): _*)
      .agg(sum(col("cnt") * col("nweight")).as("score"))
    // every class must compete, including zero-overlap ones
    val samples = bags.select((keys :+ "id" :+ "label").map(col): _*).distinct()
    val allPairs = samples.crossJoin(broadcast(labels.toDF("cls")))
    val full = allPairs.join(scores, keys :+ "id" :+ "label" :+ "cls", "left")
      .na.fill(0.0, Seq("score"))
    val byScore = Window.partitionBy((keys :+ "id").map(col): _*)
      .orderBy(col("score").desc, col("cls").asc)
    full.withColumn("rn", row_number().over(byScore))
      .filter(col("rn") === 1)
      .select((Seq("norm", "w", "f") ++ foldKey).map(col) :+ col("id") :+ col("label") :+
        col("cls").as("predLabel"): _*)
  }
}

/** The BOSS VS ensemble classifier over (id, label, data) DataFrames. */
class BossVSEnsemble(cfg: BossVS.Config = BossVS.Config()) {
  import BossVS._

  private val usedBits = Words.binlog(cfg.alphabetSize)

  def fit(train: DataFrame)(implicit spark: SparkSession): VsEnsembleModel = {
    import spark.implicits._
    val labels = train.select("label").distinct().collect().map(_.getDouble(0)).sorted.toSeq
    val maxLen = train.select(max(size(col("data")))).head.getInt(0)
    val windows = sampleWindows(cfg.minWindowLength, math.min(maxLen, cfg.maxWindowLength))

    val models = Boss.fitBinsGrid(train, windows, cfg.normalization, cfg.maxF, cfg.alphabetSize)
    val words = Boss.withPrev(Boss.slidingWordsGrid(train, models, cfg.maxF)).cache()

    val byLabel = Window.partitionBy("label").orderBy("id")
    val folds = train.withColumn("fold",
      ((row_number().over(byLabel) - 1) % cfg.folds).cast("int"))
      .select("id", "fold")

    // bags for every f, f capped at min(windowLength, maxF)
    val allBags = sweepBags(words, cfg.minF, cfg.maxF, usedBits)
      .join(folds, "id")
      .cache()

    // 10-fold CV: per-fold matrices from one aggregation, one classify
    val cvMatrix = tfidf(allBags, labels.size, Some(cfg.folds))
    val cvPred = classify(allBags, cvMatrix, labels)
    val cvScores = cvPred.filter(col("predLabel") === col("label"))
      .groupBy("norm", "w", "f").agg(count(lit(1)).as("correct"))
      .collect()
      .map(r => (r.getBoolean(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap

    // per config: smallest f among the maxima (ascending strictly-greater)
    val perCfg = models.keys.map { case (nm, w) =>
      val fs = (cfg.minF to math.min(w, cfg.maxF) by 2)
      val byF = fs.map(f => (f, cvScores.getOrElse((nm, w, f), 0L)))
      val bestC = if (byF.isEmpty) 0L else byF.map(_._2).max
      val bestF = byF.collectFirst { case (f, c) if c == bestC => f }.getOrElse(cfg.minF)
      (nm, w) -> (bestF, bestC)
    }.toMap

    val candidates: Map[Boolean, Seq[VsModel]] = cfg.normalization.map { nm =>
      val ofNorm = perCfg.collect { case ((`nm`, w), (f, c)) =>
        VsModel(nm, w, f, c, models((nm, w)))
      }.toSeq
      val bestC = if (ofNorm.isEmpty) 0L else ofNorm.map(_.trainCorrect).max
      nm -> ofNorm.filter(_.trainCorrect >= bestC * cfg.factor)
    }.toMap

    // final class matrices on ALL samples at each model's best f
    def matrixFor(ms: Seq[VsModel]): DataFrame = {
      val sel = ms.map(m => (m.norm, m.windowLength, m.features)).toDF("norm", "w", "f")
      tfidf(allBags.join(broadcast(sel), Seq("norm", "w", "f")).drop("fold"),
        labels.size, None)
    }

    // choose the norm by ensemble-vote train accuracy (reference uses
    // `<=`, so the later norm wins ties)
    val evaluated = cfg.normalization.map { nm =>
      val ens = candidates(nm)
      if (ens.isEmpty) (nm, ens, 0L)
      else {
        val m = matrixFor(ens)
        val sel = ens.map(x => (x.norm, x.windowLength, x.features)).toDF("norm", "w", "f")
        val wts = ens.map(x => (x.norm, x.windowLength, x.features, x.trainCorrect))
          .toDF("norm", "w", "f", "weight")
        val preds = classify(allBags.join(broadcast(sel), Seq("norm", "w", "f")), m, labels)
          .join(broadcast(wts), Seq("norm", "w", "f"))
        val correct = Boss.vote(preds).filter(col("pred") === col("label")).count()
        (nm, ens, correct)
      }
    }
    val (_, ensemble, _) = evaluated.foldLeft(evaluated.head) {
      case (acc, cur) => if (cur._3 >= acc._3) cur else acc
    }

    val matrix = matrixFor(ensemble).cache()
    matrix.count()
    words.unpersist(); allBags.unpersist()
    VsEnsembleModel(ensemble, matrix, labels.size)
  }

  def predict(model: VsEnsembleModel, test: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val labels = model.classMatrix.select(col("label")).distinct()
      .collect().map(_.getDouble(0)).sorted.toSeq
    val sfaModels = model.models.map(m => (m.norm, m.windowLength) -> m.sfa).toMap
    val wts = model.models.map(m => (m.norm, m.windowLength, m.features, m.trainCorrect))
      .toDF("norm", "w", "f", "weight")
    val words = Boss.withPrev(Boss.slidingWordsGrid(test, sfaModels, cfg.maxF))
      .join(broadcast(wts.drop("weight")), Seq("norm", "w"))
    val preds = classify(Boss.bags(words, usedBits), model.classMatrix, labels)
      .join(broadcast(wts), Seq("norm", "w", "f"))
    Boss.vote(preds)
  }

  def eval(train: DataFrame, test: DataFrame)(implicit spark: SparkSession): (VsEnsembleModel, Double) = {
    val model = fit(train)
    val total = test.count()
    val correct = predict(model, test).filter(col("pred") === col("label")).count()
    (model, correct.toDouble / total)
  }
}
