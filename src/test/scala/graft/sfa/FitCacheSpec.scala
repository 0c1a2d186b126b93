package graft.sfa

import graft.SparkSpec
import graft.ts.Cbf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** A WEASEL or MUSE fit leaves exactly one cached frame behind: the
  * model's (key, dict_idx) dictionary. Everything else it caches on the
  * way (the quantizer spectra, the bags of every (norm, f) candidate and
  * their numbered keys, and above the local-fit cutoff each candidate's
  * fold vectors and the refit's vectors) is released before `fit`
  * returns, so repeated fits in one session neither pile up cached
  * blocks nor find each other's. Below the cutoff the fold fits and the
  * refit read one collect of the vectors, which caches nothing. A train
  * frame the caller cached stays cached.
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

  private val singleWeasel = new WeaselClassifier(Weasel.Config(minF = 4, maxF = 4,
    minWindowLength = 8, maxWindowLength = 12, normalization = Seq(false), lrMaxIter = 20))
  private val singleMuse = new MuseClassifier(Muse.Config(minF = 4, maxF = 4, minWindowLength = 8,
    maxWindowLength = 11, histTypes = Seq(HistogramType.EquiWidth), normalization = Seq(true),
    lrMaxIter = 20))

  private def multivariate(df: DataFrame): DataFrame =
    df.withColumn("dim", lit(0)).select("id", "dim", "label", "data")

  test("a single-candidate WEASEL fit keeps only its model's dictionary cached") {
    val train = frame(1303L)
    assertOnlyDictionaryKept(() => singleWeasel.fit(train).selected)
  }

  test("a MUSE fit keeps only its model's dictionary cached") {
    val train = multivariate(frame(1302L))
    assertOnlyDictionaryKept(() => singleMuse.fit(train).selected)
  }

  test("a train frame the caller cached is still cached after a WEASEL or MUSE fit") {
    val train = frame(1304L).cache()
    val train2 = multivariate(frame(1305L)).cache()
    train.count()
    train2.count()
    val cached = persisted
    assertOnlyDictionaryKept(() => singleWeasel.fit(train).selected)
    assertOnlyDictionaryKept(() => singleMuse.fit(train2).selected)
    assert(train.storageLevel.useMemory && train2.storageLevel.useMemory)
    assert(persisted == cached)
    train.unpersist(blocking = true)
    train2.unpersist(blocking = true)
  }
}
