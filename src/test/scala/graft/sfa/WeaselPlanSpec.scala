package graft.sfa

import graft.SparkSpec
import graft.sfa.expr.MftDftExpr
import graft.ts.Cbf
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Plan shape and job count of the WEASEL and MUSE pipelines. A
  * prediction evaluates the MFT → word chain once: a window's bigram
  * partner is read from the same words array, so no self-join or union
  * branch derives the words again. A cross-validated fit at or below
  * the local-fit cutoff schedules the same jobs whatever its fold
  * count: every fold fit and fold score runs on the driver from one
  * collect of the vectors.
  */
class WeaselPlanSpec extends SparkSpec {

  private def frame(seed: Long): DataFrame = {
    import spark.implicits._
    Cbf(18, 64, seed).toSeq.zipWithIndex
      .map { case ((l, d), i) => (i.toLong, l, d.toSeq) }
      .toDF("id", "label", "data")
  }

  private def multivariate(df: DataFrame): DataFrame =
    df.withColumn("dim", lit(0)).select("id", "dim", "label", "data")

  /** sfa_mft expressions in the optimized plan. */
  private def mftCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case e: MftDftExpr => e }.size).sum
    }.sum

  test("a WEASEL and a MUSE prediction each evaluate one sfa_mft") {
    val weasel = new WeaselClassifier(Weasel.Config(minF = 4, maxF = 4, minWindowLength = 8,
      maxWindowLength = 12, normalization = Seq(false), lrMaxIter = 20))
    val wm = weasel.fit(frame(1401L))
    assert(mftCount(weasel.predict(wm, frame(1402L))) == 1)
    wm.selected.unpersist()

    val muse = new MuseClassifier(Muse.Config(minF = 4, maxF = 4, minWindowLength = 8,
      maxWindowLength = 11, histTypes = Seq(HistogramType.EquiWidth), normalization = Seq(true),
      lrMaxIter = 20))
    val mm = muse.fit(multivariate(frame(1403L)))
    assert(mftCount(muse.predict(mm, multivariate(frame(1404L)))) == 1)
    mm.selected.unpersist()
  }

  test("a cross-validated WEASEL fit schedules the same jobs at 2 and at 5 folds") {
    val train = frame(1405L)
    def jobs(folds: Int): Int = {
      val started = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = { started.incrementAndGet(); () }
      }
      val clf = new WeaselClassifier(Weasel.Config(minF = 4, maxF = 6, minWindowLength = 8,
        maxWindowLength = 12, folds = folds, lrMaxIter = 20))
      spark.sparkContext.addSparkListener(listener)
      try {
        clf.fit(train).selected.unpersist()
        org.apache.spark.sql.graft.Bridge.waitListenerBus(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      started.get()
    }
    val (two, five) = (jobs(2), jobs(5))
    info(s"jobs: $two at 2 folds, $five at 5 folds")
    assert(two == five)
  }
}
