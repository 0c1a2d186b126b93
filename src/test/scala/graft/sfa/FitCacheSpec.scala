package graft.sfa

import graft.SparkSpec
import graft.ts.Cbf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** A WEASEL or MUSE fit leaves exactly one cached frame behind: the
  * model's (key, dict_idx) dictionary. Everything else it caches on the
  * way (spectra, words, bags, the fold dictionaries, the refit's bags
  * and vectors) is released before `fit` returns, so repeated fits in
  * one session neither pile up cached blocks nor find each other's.
  */
class FitCacheSpec extends SparkSpec {

  private def frame(seed: Long): DataFrame = {
    import spark.implicits._
    Cbf(18, 64, seed).toSeq.zipWithIndex
      .map { case ((l, d), i) => (i.toLong, l, d.toSeq) }
      .toDF("id", "label", "data")
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `fit` twice; each run must add exactly the model's dictionary. */
  private def assertOnlyDictionaryKept(fit: () => DataFrame): Unit =
    (1 to 2).foreach { run =>
      val before = persisted
      val selected = fit()
      val added = persisted -- before
      assert(added.size == 1, s"run $run: RDDs left persisted by fit: $added")
      assert(selected.storageLevel.useMemory, s"run $run: the model's dictionary is not cached")
      selected.unpersist(blocking = true)
      assert(persisted == before, s"run $run: unpersisting the dictionary left ${persisted -- before}")
    }

  test("a WEASEL fit (with CV) keeps only its model's dictionary cached") {
    val clf = new WeaselClassifier(Weasel.Config(minF = 4, maxF = 6, minWindowLength = 8,
      maxWindowLength = 12, folds = 2, normalization = Seq(false), lrMaxIter = 20))
    val train = frame(1301L)
    assertOnlyDictionaryKept(() => clf.fit(train).selected)
  }

  test("a MUSE fit keeps only its model's dictionary cached") {
    val clf = new MuseClassifier(Muse.Config(minF = 4, maxF = 4, minWindowLength = 8,
      maxWindowLength = 11, histTypes = Seq(HistogramType.EquiWidth), normalization = Seq(true),
      lrMaxIter = 20))
    val train = frame(1302L).withColumn("dim", lit(0)).select("id", "dim", "label", "data")
    assertOnlyDictionaryKept(() => clf.fit(train).selected)
  }
}
