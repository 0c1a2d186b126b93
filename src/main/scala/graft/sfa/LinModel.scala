package graft.sfa

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.{Vector, Vectors}

/** The linear scoring stage behind WEASEL / MUSE (and therefore the
  * TEASER / MTEASER slaves).
  *
  * The reference trains liblinear one-vs-rest L2-regularized logistic
  * regression (`SolverType.L2R_LR[_DUAL]`, C = 1, bias = 1 —
  * WEASELClassifier.java:30-36, TEASERClassifier.java:46) and scores
  * with `Linear.predict` (argmax over the K binary decision values) /
  * `Linear.predictProbability` (per-class sigmoids, normalized to sum 1
  * when K > 2; the 2-class model is a single binary fit with
  * p₂ = 1 − p₁).
  *
  * [[OvrLM]] replicates that shape: one MLlib *binomial* LR per class
  * (λ = 1/n ≙ C = 1) and liblinear's own decision/probability rules.
  * This matters beyond cosmetics — a multinomial softmax produces
  * systematically SHARPER probability vectors than normalized OvR
  * sigmoids, and TEASER's one-class master consumes those vectors: the
  * sharper geometry made the cascade accept early (BASELINE.md § D2).
  * Post-hoc flattening of softmax margins was tried and rejected
  * (worse on both axes); parity needs OvR-fitted *weights*, so OvR is
  * the only solver.
  */
sealed trait LinModel extends Serializable {

  /** Adds `prediction` and `probability` (ml Vector) to a frame with a
    * `features` vector column — the MLlib transformer contract.
    */
  def transform(vecs: DataFrame): DataFrame
}

/** One-vs-rest binary L2 logistic models, scored liblinear-style.
  *
  * `labels` are the class ids in fit order (sorted — deterministic);
  * `weights`/`intercepts` hold one row per fitted model: K rows for
  * K > 2, ONE row (labels(0) vs rest) for K = 2, exactly like liblinear
  * (Linear.java `train` builds nr_class models only when nr_class > 2).
  * The probability vector is indexed by class id (dim = max label + 1)
  * to match MLlib's layout downstream.
  */
final case class OvrLM(
    labels: Array[Double],
    weights: Array[Array[Double]],
    intercepts: Array[Double]) extends LinModel {

  def transform(vecs: DataFrame): DataFrame = {
    val ls = labels; val ws = weights; val bs = intercepts
    val dim = ls.map(_.toInt).max + 1
    val scoreUdf = udf { (v: Vector) =>
      val dec = new Array[Double](ws.length)
      var k = 0
      while (k < ws.length) {
        var d = bs(k)
        val w = ws(k)
        v match {
          case s: org.apache.spark.ml.linalg.SparseVector =>
            var j = 0
            while (j < s.indices.length) { d += w(s.indices(j)) * s.values(j); j += 1 }
          case dv =>
            var j = 0
            while (j < dv.size) { d += w(j) * dv(j); j += 1 }
        }
        dec(k) = d
        k += 1
      }
      val probs = new Array[Double](dim)
      val pred =
        if (ls.length == 2) {
          // single binary model: dec > 0 → labels(0) (Linear.predict);
          // p(labels(0)) = σ(dec), p(labels(1)) = 1 − p (predictProbability)
          val p = 1.0 / (1.0 + math.exp(-dec(0)))
          probs(ls(0).toInt) = p
          probs(ls(1).toInt) = 1.0 - p
          if (dec(0) > 0) ls(0) else ls(1)
        } else {
          // strict argmax in label order, then normalized sigmoids
          var best = 0
          k = 1
          while (k < dec.length) { if (dec(k) > dec(best)) best = k; k += 1 }
          var s = 0.0
          k = 0
          while (k < dec.length) {
            val p = 1.0 / (1.0 + math.exp(-dec(k)))
            probs(ls(k).toInt) = p
            s += p
            k += 1
          }
          k = 0
          while (k < dec.length) { probs(ls(k).toInt) /= s; k += 1 }
          ls(best)
        }
      (pred, Vectors.dense(probs))
    }
    vecs.withColumn("_scored", scoreUdf(col("features")))
      .withColumn("prediction", col("_scored._1"))
      .withColumn("probability", col("_scored._2"))
      .drop("_scored")
  }
}

object LinModel {

  /** Convergence tolerance of BOTH OvR paths — 1e-2, and this value is
    * LOAD-BEARING for reference parity, not a shortcut. Measured r5:
    * tightening it shifts the stopping point and with it the
    * probability geometry the TEASER one-class master consumes — at
    * 1e-4 the full-CBF golden's earliness moves to 0.580 vs the
    * reference's 0.64 (outside its own ±0.05; accuracy stays green),
    * and at 1e-6 breeze's line search fails outright on separable
    * fixtures ("zoom failed", history reset). liblinear stops early by
    * design too (eps 0.01 on a different criterion), which is exactly
    * why the reference's published accuracies/earliness arise from
    * NEAR-optimum models; converging harder is parity with the
    * objective but NOT with the reference's behavior. Consequence for
    * the local-vs-distributed paths: both run the same objective, start
    * point, and L-BFGS(m=10) at this tol, but stop at measurably
    * different near-optimum points — predictions agree except on
    * decision-boundary samples of non-separable data (measured 4/900 =
    * 0.44% on LinModelSpec's adversarial fixture; 0/60 on separable
    * data). That bound is spec-pinned rather than pretending exact
    * cross-path FP equality is attainable.
    */
  private val OvrTol = 1e-2

  // Log noise note: MLlib fits through this config can emit
  // "ERROR LBFGS: Failure! Resetting history" — that is breeze's line
  // search restarting near the (deliberately loose, see OvrTol above)
  // stopping point on separable fixtures. The optimizer recovers, the
  // fits converge, and every golden passes; it is benign and expected
  // at this tolerance — do not chase it.
  private def newBinaryLr(n: Long, maxIter: Int) = new LogisticRegression()
    .setMaxIter(maxIter)
    .setRegParam(1.0 / n) // λ = 1/(C·n) with the reference's C = 1
    .setStandardization(false)
    .setFitIntercept(true)
    .setFamily("binomial")
    .setTol(OvrTol)

  /** Fit the OvR model, on the driver below [[LocalFitMaxRows]] samples.
    * `vecs` must carry (label, features) and should already be coalesced
    * for small fits (Pipelines.fitParallelism).
    */
  def fit(vecs: DataFrame, n: Long, maxIter: Int): LinModel =
    if (n <= LocalFitMaxRows) fitOvrLocal(vecs, n, maxIter)
    else fitOvr(vecs, n, maxIter)

  /** Below this many train samples an OvR fit collects the feature
    * vectors and solves on the driver. Rationale: every L-BFGS
    * iteration of a distributed MLlib fit is a treeAggregate JOB, so a
    * K-class OvR fit on a fixture-sized input pays K × iterations ×
    * scheduling latency for sub-megabyte math — and the reference
    * always fits liblinear in-process (model-sized input is the §7.3
    * contract). 5k samples × ~10⁴ sparse features is a few MB
    * collected; past the cutoff the distributed path takes over
    * unchanged.
    */
  private val LocalFitMaxRows = 5000L

  /** liblinear-style OvR: K binary fits (ONE for K = 2). The binary
    * fits share the cached `vecs` and run as arms of one
    * [[graft.util.Overlap]] scope — each MLlib fit is a driver-blocking
    * sequence of treeAggregate jobs, so a few parallel fits just
    * interleave their jobs on the cluster.
    */
  def fitOvr(vecs: DataFrame, n: Long, maxIter: Int): OvrLM = {
    val labels = vecs.select("label").distinct()
      .collect().map(_.getDouble(0)).sorted
    val fitLabels = if (labels.length == 2) labels.take(1) else labels
    val models = graft.util.Overlap(vecs.sparkSession) { o =>
      fitLabels.map { c =>
        o.fork(newBinaryLr(n, maxIter).fit(
          vecs.withColumn("label", when(col("label") === c, 1.0).otherwise(0.0))))
      }.map(_.join())
    }
    OvrLM(labels, models.map(_.coefficients.toArray), models.map(_.intercept))
  }

  /** Driver-local OvR: same objective MLlib's binomial LR minimizes —
    * mean logistic loss + (λ/2)·‖w‖² with the intercept unpenalized,
    * standardization off, breeze L-BFGS(m=10, tol=OvrTol) from MLlib's
    * own start point (w = 0, b = log-odds of the label prior) — so the
    * fitted weights land at the same optimum as the distributed path,
    * minus the per-iteration job round-trips. Rows are ordered by `id`
    * when present so the FP reduction order (and hence the model bits)
    * is reproducible run to run.
    */
  private[sfa] def fitOvrLocal(vecs: DataFrame, n: Long, maxIter: Int): OvrLM = {
    val base =
      if (vecs.columns.contains("id")) vecs.orderBy("id") else vecs
    val rows = base.select("label", "features").collect()
    val labels = rows.map(_.getDouble(0)).distinct.sorted
    val xs = rows.map(r => (r.getDouble(0), r.getAs[Vector](1)))
    val dim = xs.headOption.map(_._2.size).getOrElse(0)
    val lambda = 1.0 / n
    val fitLabels = if (labels.length == 2) labels.take(1) else labels
    val fitted = fitLabels.map { c =>
      localBinary(xs, c, dim, lambda, maxIter)
    }
    OvrLM(labels, fitted.map(_._1), fitted.map(_._2))
  }

  /** One binary L2-regularized logistic fit (labels binarized to
    * `pos` vs rest) via breeze L-BFGS. Returns (weights, intercept).
    */
  private def localBinary(
      xs: Array[(Double, Vector)],
      pos: Double,
      dim: Int,
      lambda: Double,
      maxIter: Int): (Array[Double], Double) = {
    import breeze.linalg.{DenseVector => BDV}
    import breeze.optimize.{DiffFunction, LBFGS}
    val m = xs.length
    val obj = new DiffFunction[BDV[Double]] {
      def calculate(z: BDV[Double]): (Double, BDV[Double]) = {
        var loss = 0.0
        val grad = BDV.zeros[Double](dim + 1)
        var i = 0
        while (i < m) {
          val (l, v) = xs(i)
          val y = if (l == pos) 1.0 else 0.0
          var margin = z(dim)
          v.foreachActive((j, x) => margin += z(j) * x)
          // log(1 + e^margin) − y·margin, computed overflow-safe
          loss += (if (margin > 0) margin + math.log1p(math.exp(-margin))
                   else math.log1p(math.exp(margin))) - y * margin
          val mult = 1.0 / (1.0 + math.exp(-margin)) - y
          v.foreachActive((j, x) => grad(j) += mult * x)
          grad(dim) += mult
          i += 1
        }
        loss /= m
        grad :*= (1.0 / m)
        var j = 0
        while (j < dim) { // L2 on weights only (MLlib never penalizes b)
          loss += 0.5 * lambda * z(j) * z(j)
          grad(j) += lambda * z(j)
          j += 1
        }
        (loss, grad)
      }
    }
    val init = BDV.zeros[Double](dim + 1)
    val nPos = xs.count(_._1 == pos)
    val nNeg = m - nPos
    if (nPos > 0 && nNeg > 0) init(dim) = math.log(nPos.toDouble / nNeg)
    val res = new LBFGS[BDV[Double]](maxIter, 10, OvrTol).minimize(obj, init)
    (res.toArray.take(dim), res(dim))
  }

  // ---- persistence (ModelIO) -------------------------------------------

  /** Save under `path/lr_ovr`: a one-row-per-class parquet of the
    * [[OvrLM]] weights.
    */
  def save(model: LinModel, path: String)(implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val OvrLM(labels, weights, intercepts) = model
    labels.indices.map { k =>
      // K = 2 stores one weight row but both labels; pad with nulls
      val w = if (k < weights.length) weights(k).toSeq else null
      val b = if (k < intercepts.length) intercepts(k) else Double.NaN
      (k, labels(k), w, b)
    }.toDF("k", "label", "weights", "intercept")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/lr_ovr")
  }

  def load(path: String)(implicit spark: org.apache.spark.sql.SparkSession): LinModel = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/lr_ovr")),
      s"no linear model at $path: $path/lr_ovr is missing")
    val rows = spark.read.parquet(s"$path/lr_ovr").collect().sortBy(_.getInt(0))
    val labels = rows.map(_.getDouble(1))
    val fitted = rows.filter(!_.isNullAt(2))
    OvrLM(labels,
      fitted.map(_.getSeq[Double](2).toArray),
      fitted.map(_.getDouble(3)))
  }
}
