package graft.sfa

import org.apache.spark.sql.functions._
import org.apache.spark.ml.linalg.Vectors
import graft.SparkSpec

/** The adaptive OvR solver contract: below the local-fit cutoff,
  * [[LinModel.fitOvrLocal]] collects the vectors and solves with breeze
  * L-BFGS on the driver; the claim is that it lands at the SAME optimum
  * as the distributed MLlib path (same objective, same start point), so
  * switching paths by input size never changes a model's predictions.
  * This spec pins that equivalence on a small separable 3-class
  * problem: identical argmax predictions, close weights.
  */
class LinModelSpec extends SparkSpec {

  test("local OvR fit matches the distributed MLlib OvR fit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // 3 gaussian blobs in 4-d, 60 samples — model-sized, separable
    val rows = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.fill(4)(rnd.nextGaussian() * 0.4)
      base(c) += 2.0
      (i.toLong, c.toDouble, Vectors.dense(base))
    }
    val vecs = rows.toDF("id", "label", "features").coalesce(1).cache()
    vecs.count()

    val local = LinModel.fitOvrLocal(vecs, n = 60, maxIter = 100)
    val dist = LinModel.fitOvr(vecs, n = 60, maxIter = 100)

    // identical label order and model shape
    assert(local.labels.toSeq == dist.labels.toSeq)
    assert(local.weights.length == dist.weights.length)

    // same optimum: weights agree to the solver tolerance's scale
    local.weights.zip(dist.weights).foreach { case (lw, dw) =>
      lw.zip(dw).foreach { case (a, b) =>
        assert(math.abs(a - b) < 0.15, s"weight drift: $a vs $b")
      }
    }
    local.intercepts.zip(dist.intercepts).foreach { case (a, b) =>
      assert(math.abs(a - b) < 0.15, s"intercept drift: $a vs $b")
    }

    // the contract that matters downstream: predictions are identical
    val lp = local.transform(vecs).select(col("id"), col("prediction")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dp = dist.transform(vecs).select(col("id"), col("prediction")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lp == dp, "local vs distributed predictions diverge")
    // and the fit actually separates the blobs
    val acc = rows.count { case (id, label, _) => lp(id) == label } / 60.0
    assert(acc >= 0.95, s"fit quality degraded: acc=$acc")
    vecs.unpersist()
  }

  /** The r4 parity evidence used a separable toy; this pins the claim
    * where it can actually break — a NON-separable problem (overlapping
    * blobs + 15% label noise), where a flatter optimum magnifies any
    * difference in the two paths' stopping points. The honest contract
    * (see LinModel.OvrTol): both paths minimize the same objective from
    * the same start at the same tol, but FP reduction order makes them
    * stop at slightly different near-optimum points, so predictions may
    * differ on DECISION-BOUNDARY samples only — pinned here at ≤ 1%
    * (measured 4/900 at tol 1e-2; exactly 0 would require a tol that
    * measurably breaks the TEASER earliness golden, see OvrTol doc).
    */
  test("local ≈ distributed OvR predictions on a non-separable fixture") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 900).map { i =>
      val c = i % 3
      val base = Array.fill(6)(rnd.nextGaussian() * 1.5) // σ ≈ class gap
      base(c) += 1.2
      val label = if (rnd.nextDouble() < 0.15) rnd.nextInt(3) else c
      (i.toLong, label.toDouble, Vectors.dense(base))
    }
    val vecs = rows.toDF("id", "label", "features").coalesce(2).cache()
    vecs.count()

    val local = LinModel.fitOvrLocal(vecs, n = 900, maxIter = 100)
    val dist = LinModel.fitOvr(vecs, n = 900, maxIter = 100)

    val lp = local.transform(vecs).select(col("id"), col("prediction")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dp = dist.transform(vecs).select(col("id"), col("prediction")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val diff = lp.keys.count(k => lp(k) != dp(k))
    assert(diff <= 9, s"local vs distributed predictions diverge on $diff/900 samples (> 1%)")
    vecs.unpersist()
  }

  test("K = 2 fits one binary model, liblinear-style") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 40).map { i =>
      val c = i % 2
      val base = Array.fill(3)(rnd.nextGaussian() * 0.4)
      base(c) += 1.5
      (i.toLong, c.toDouble, Vectors.dense(base))
    }
    val vecs = rows.toDF("id", "label", "features").coalesce(1).cache()
    val m = LinModel.fitOvrLocal(vecs, n = 40, maxIter = 100)
    assert(m.labels.toSeq == Seq(0.0, 1.0))
    assert(m.weights.length == 1, "K = 2 must fit ONE model (labels(0) vs rest)")
    val p = m.transform(vecs).select(col("id"), col("prediction")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val acc = rows.count { case (id, label, _) => p(id) == label } / 40.0
    assert(acc >= 0.95, s"binary fit quality: acc=$acc")
    vecs.unpersist()
  }

  test("load names the path when no OvR model was saved there") {
    val dir = java.nio.file.Files.createTempDirectory("graft_linmodel_missing").toString
    val err = intercept[IllegalArgumentException](LinModel.load(dir))
    assert(err.getMessage.contains(s"$dir/lr_ovr"), err.getMessage)
  }
}
