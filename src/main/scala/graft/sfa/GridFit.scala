package graft.sfa

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The shared back half of a WEASEL or MUSE fit, over the bags
  * (norm, f, id, label, key, cnt) of every candidate (norm, f): the
  * keys `select` keeps, numbered per candidate by [[Weasel.dictionary]];
  * one vectors plan for every candidate ([[Weasel.vectors]]); stratified
  * k-fold CV scores; and the refit of the chosen candidate on all
  * samples.
  *
  * At or below [[LinModel.LocalFitMaxRows]] samples the vectors of every
  * candidate are collected once and sorted by id on the driver, and
  * every fold fit, fold score and the refit with its train scores run
  * there ([[LinModel.fitLocal]], [[OvrLM.score]]): the jobs do not grow
  * with folds or candidates. Each of those fits sees exactly the rows
  * [[LinModel.fitOvrLocal]] would collect from the fold's frame — id
  * order, λ = 1/n with n the whole train count — so its model bits are
  * the same. Above the cutoff every fold fit runs distributed
  * ([[LinModel.fitOvr]]) over a cached per-candidate frame.
  *
  * `samples` (id, label, …) holds every train sample. Constructing a
  * GridFit caches the bags, runs the selection and collects each
  * candidate's dictionary size; the bags and the numbered keys stay
  * cached until [[release]], the refit's model dictionary outlives it.
  */
private[sfa] final class GridFit(
    bags: DataFrame,
    select: DataFrame => DataFrame,
    samples: DataFrame,
    candidates: Seq[(Boolean, Int)],
    n: Long,
    maxIter: Int) {
  import GridFit.{Refit, Sample}

  private val cached = bags.cache()
  private val dict = Weasel.dictionary(select(cached).select("norm", "f", "key")).cache()
  /** Largest dict_idx per candidate; a candidate missing here selected no key. */
  private val dims: Map[(Boolean, Int), Int] =
    dict.groupBy("norm", "f").agg(max("dict_idx")).collect()
      .map(r => (r.getBoolean(0), r.getInt(1)) -> r.getInt(2)).toMap
  private val local = n <= LinModel.LocalFitMaxRows

  private def vectors(cs: Seq[(Boolean, Int)]): DataFrame = {
    val keys = dict.filter(cs.map { case (nm, f) => col("norm") === nm && col("f") === f }.reduce(_ || _))
    Weasel.vectors(cached, keys, cs.map(c => c -> dims.getOrElse(c, 0)).toMap, samples)
  }

  /** Every candidate's samples in id order. */
  private lazy val collected: Map[(Boolean, Int), Array[Sample]] =
    vectors(candidates).select("norm", "f", "id", "label", "features").collect()
      .groupBy(r => (r.getBoolean(0), r.getInt(1)))
      .map { case (c, rs) =>
        c -> rs.map(r => Sample(r.getLong(2), r.getDouble(3), r.getAs[Vector](4))).sortBy(_.id)
      }

  /** Correct fold predictions per candidate that selected a key. The
    * i-th sample of a label, by id, sits in fold i mod `folds`; a fold
    * with an empty train or test side scores 0.
    */
  def crossValidate(folds: Int): Map[(Boolean, Int), Long] = {
    val scored = candidates.filter(dims.contains)
    if (local) scored.map { c =>
      val rank = scala.collection.mutable.Map.empty[Double, Int].withDefaultValue(0)
      val folded = collected(c).map { x => rank(x.label) += 1; ((rank(x.label) - 1) % folds, x) }
      c -> (0 until folds).map { k =>
        val (te, tr) = folded.partition(_._1 == k)
        if (tr.isEmpty || te.isEmpty) 0L
        else {
          val m = LinModel.fitLocal(tr.map { case (_, x) => (x.label, x.features) }, n, maxIter)
          te.count { case (_, x) => m.score(x.features)._1 == x.label }.toLong
        }
      }.sum
    }.toMap
    else {
      val byLabel = Window.partitionBy("label").orderBy("id")
      val foldOf = samples.select("id", "label").distinct()
        .select(col("id"), ((row_number().over(byLabel) - 1) % folds).cast("int").as("fold"))
      scored.map { c =>
        // coalesce before the iterative LR fits: see Pipelines.fitParallelism
        val vecs = vectors(Seq(c)).join(foldOf, "id")
          .coalesce(graft.util.Pipelines.fitParallelism(n)).cache()
        val correct = (0 until folds).map { k =>
          val tr = vecs.filter(col("fold") =!= k)
          val te = vecs.filter(col("fold") === k)
          if (tr.isEmpty || te.isEmpty) 0L
          else LinModel.fitOvr(tr, n, maxIter).transform(te)
            .filter(col("prediction") === col("label")).count()
        }.sum
        vecs.unpersist()
        c -> correct
      }.toMap
    }
  }

  /** Refit candidate `c` on all samples: its model dictionary (key,
    * dict_idx), cached and materialized, its size (0 when nothing was
    * selected), the model, the number of train samples it labels
    * correctly when `scoreTrain`, and the train probabilities (id, label,
    * pred, probs) when `withProba`.
    */
  def refit(c: (Boolean, Int), scoreTrain: Boolean, withProba: Boolean)(
      implicit spark: SparkSession): Refit = {
    val selected = dict.filter(col("norm") === c._1 && col("f") === c._2)
      .select("key", "dict_idx").cache()
    selected.count()
    val dictSize = dims.getOrElse(c, 0)
    if (local) {
      val xs = collected(c)
      val lr = LinModel.fitLocal(xs.map(x => (x.label, x.features)), n, maxIter)
      lazy val scored = xs.map(x => (x, lr.score(x.features)))
      val correct = if (scoreTrain) scored.count { case (x, (pred, _)) => pred == x.label }.toLong else 0L
      val proba = Option.when(withProba)(spark.createDataFrame(scored.toSeq.map { case (x, (pred, probs)) =>
        (x.id, x.label, pred, probs.toSeq)
      }).toDF("id", "label", "pred", "probs"))
      Refit(selected, dictSize, lr, correct, proba)
    } else {
      val vecs = vectors(Seq(c)).coalesce(graft.util.Pipelines.fitParallelism(n)).cache()
      val lr = LinModel.fitOvr(vecs, n, maxIter)
      val correct =
        if (scoreTrain) lr.transform(vecs).filter(col("prediction") === col("label")).count() else 0L
      // materialized before the vectors are released
      val proba = Option.when(withProba)(lr.transform(vecs)
        .select(col("id"), col("label"), col("prediction").as("pred"),
          vector_to_array(col("probability")).as("probs"))
        .localCheckpoint(true))
      vecs.unpersist()
      Refit(selected, dictSize, lr, correct, proba)
    }
  }

  def release(): Unit = {
    cached.unpersist()
    dict.unpersist()
  }
}

object GridFit {
  private final case class Sample(id: Long, label: Double, features: Vector)

  private[sfa] final case class Refit(
      selected: DataFrame,
      dictSize: Int,
      lr: LinModel,
      trainCorrect: Long,
      proba: Option[DataFrame])
}
