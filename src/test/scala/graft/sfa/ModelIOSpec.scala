package graft.sfa

import graft.SparkSpec
import graft.ts.{Cbf, Loaders}
import org.apache.spark.sql.functions._

/** Save/load round-trips (the reference asserts loaded classifiers
  * predict identically, AbstractClassifierTest.java:39-61).
  */
class ModelIOSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("SFA quantizer round-trips through parquet and words are identical") {
    val series = Array.tabulate(10)(i => (Loaders.znorm(Loaders.randomWalk(128, 500 + i)), (i % 2).toDouble))
    val model = SFA.fitWindowing(series, 32, 8, 4, normMean = true, lowerBounding = true)
    val path = tmp("sfa-model")
    ModelIO.saveSFA(model, path)
    val loaded = ModelIO.loadSFA(path)
    assert(loaded.windowSize == model.windowSize)
    assert(loaded.bins.map(_.toSeq).toSeq == model.bins.map(_.toSeq).toSeq)
    series.foreach { case (d, _) =>
      assert(loaded.transformWindowingWords(d, 8).toSeq == model.transformWindowingWords(d, 8).toSeq)
    }
  }

  test("index layout round-trips with prefix partitioning") {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      val d = Loaders.znorm(Loaders.randomWalk(32, 600 + i))
      val a = Fourier.transformWindow(d, 0, 32, 8, normMean = false, lowerBounding = true)
      (i.toLong, d, a.map(v => if (v > 0) 1 else 0), a)
    }.toDF("id", "data", "word", "approx")
    val path = tmp("sfa-index")
    ModelIO.saveIndex(rows, usedBits = 1, prefixLen = 2, path)
    val loaded = ModelIO.loadIndex(path)(spark)
    assert(loaded.count() == 40)
    assert(loaded.columns.contains("prefix"))
    assert(loaded.select(countDistinct(col("prefix"))).head.getLong(0) > 1)
  }

  test("S3 ARFF parsing maps string labels and skips missing values") {
    val f = java.nio.file.Files.createTempFile("arff", ".txt")
    java.nio.file.Files.writeString(f,
      """@relation test
        |% comment
        |'1,2,3\n4,5,?',classA
        |'2,3,4\n5,6,7',classB
        |'9,9,9\n8,8,8',classA
        |""".stripMargin)
    val mapping = scala.collection.mutable.Map.empty[String, Double]
    val rows = Loaders.loadArffLocal(f.toString, "test", mapping)
    assert(rows.map(_._1).distinct.length == 3) // 3 samples
    assert(rows.count(_._2 == 0) == 3 && rows.count(_._2 == 1) == 3) // 2 dims each
    assert(mapping.size == 2)
    val firstDim2 = rows.find(r => r._1 == 0L && r._2 == 1).get._4
    assert(firstDim2.toSeq == Seq(4.0, 5.0)) // '?' skipped
    // same label string maps to the same numeric id
    val labels = rows.filter(_._2 == 0).sortBy(_._1).map(_._3)
    assert(labels(0) == labels(2) && labels(0) != labels(1))
  }

  /** Seeded CBF (Saito 1994) as (id, label, data): train and test draws. */
  private def cbf(seed: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Cbf(30, 128, seed).toSeq.zipWithIndex
      .map { case ((l, d), i) => (i.toLong, l, d.toSeq) }
      .toDF("id", "label", "data")
  }

  test("WEASEL round-trips on generated CBF with identical predictions") {
    val (train, test) = (cbf(7101L), cbf(7102L))
    val clf = new WeaselClassifier(Weasel.Config(minF = 4, maxF = 4, folds = 2,
      normalization = Seq(true), minWindowLength = 8, maxWindowLength = 12, lrMaxIter = 20))
    val model = clf.fit(train)
    val path = tmp("weasel-cbf")
    ModelIO.saveWeasel(model, path)
    val loaded = ModelIO.loadWeasel(path)
    assert(loaded.norm == model.norm && loaded.features == model.features)
    assert(loaded.windows == model.windows && loaded.dictSize == model.dictSize)
    assert(loaded.quantizers.keySet == model.quantizers.keySet)
    val p0 = clf.predict(model, test).orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val p1 = clf.predict(loaded, test).orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(p0 == p1, "loaded WEASEL predicts differently")
    assert(p0.length == 30)
    model.selected.unpersist()
  }

  test("BOSS ensemble round-trips on generated CBF with identical predictions") {
    val (train, test) = (cbf(7201L), cbf(7202L))
    val clf = new BossEnsemble(Boss.Config(minWindowLength = 10, maxWindowLength = 12))
    val model = clf.fit(train)
    val path = tmp("boss-cbf")
    ModelIO.saveBossEnsemble(model, path)
    val loaded = ModelIO.loadBossEnsemble(path)
    assert(loaded.trainSize == model.trainSize)
    assert(loaded.trainBagRows == model.trainBagRows)
    assert(loaded.models.map(m => (m.norm, m.windowLength, m.features, m.trainCorrect))
      == model.models.map(m => (m.norm, m.windowLength, m.features, m.trainCorrect)))
    assert(loaded.models.map(_.sfa.bins.map(_.toSeq).toSeq)
      == model.models.map(_.sfa.bins.map(_.toSeq).toSeq))
    val p0 = clf.predict(model, test).orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val p1 = clf.predict(loaded, test).orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(p0 == p1, "loaded BOSS ensemble predicts differently")
    assert(p0.length == 30)
    model.trainBags.unpersist()
  }

  private val uniBase = "/root/reference/src/main/resources/datasets/univariate"
  private val mtsBase = "/root/reference/src/main/resources/datasets/multivariate"

  test("WEASEL classifier round-trips with identical predictions") {
    import spark.implicits._
    val train = Loaders.loadUcrLocal(s"$uniBase/CBF/CBF_TRAIN").toSeq.toDF()
    val test = Loaders.loadUcrLocal(s"$uniBase/CBF/CBF_TEST")
      .filter(_.id % 18 == 0).toSeq.toDF()
    val clf = new WeaselClassifier(Weasel.Config(
      minF = 6, maxF = 6, folds = 3, normalization = Seq(true)))
    val model = clf.fit(train)
    val path = tmp("weasel-model")
    ModelIO.saveWeasel(model, path)
    val loaded = ModelIO.loadWeasel(path)
    assert(loaded.norm == model.norm && loaded.features == model.features)
    assert(loaded.windows == model.windows && loaded.dictSize == model.dictSize)
    assert(loaded.quantizers.keySet == model.quantizers.keySet)
    val p0 = clf.predict(model, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val p1 = clf.predict(loaded, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(p0 == p1, "loaded WEASEL predicts differently")
    assert(p0.nonEmpty)
  }

  test("BOSS ensemble round-trips with identical predictions") {
    import spark.implicits._
    val train = Loaders.loadUcrLocal(s"$uniBase/CBF/CBF_TRAIN").toSeq.toDF()
    val test = Loaders.loadUcrLocal(s"$uniBase/CBF/CBF_TEST")
      .filter(_.id % 18 == 0).toSeq.toDF()
    val clf = new BossEnsemble(Boss.Config(
      minWindowLength = 10, maxWindowLength = 12))
    val model = clf.fit(train)
    val path = tmp("boss-model")
    ModelIO.saveBossEnsemble(model, path)
    val loaded = ModelIO.loadBossEnsemble(path)
    assert(loaded.trainSize == model.trainSize)
    assert(loaded.trainBagRows == model.trainBagRows)
    assert(loaded.models.map(m => (m.norm, m.windowLength, m.features, m.trainCorrect))
      == model.models.map(m => (m.norm, m.windowLength, m.features, m.trainCorrect)))
    assert(loaded.models.map(_.sfa.bins.map(_.toSeq).toSeq)
      == model.models.map(_.sfa.bins.map(_.toSeq).toSeq))
    val p0 = clf.predict(model, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val p1 = clf.predict(loaded, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(p0 == p1, "loaded BOSS ensemble predicts differently")
    assert(p0.nonEmpty)
  }

  test("MUSE classifier round-trips with identical predictions") {
    val train0 = Loaders.loadMultivariate(spark, s"$mtsBase/PenDigits/PenDigits_TRAIN3",
      applyZNorm = false)
    val test0 = Loaders.loadMultivariate(spark, s"$mtsBase/PenDigits/PenDigits_TEST3",
      applyZNorm = false)
    val test = test0.filter(col("id") <= 300)
    val clf = new MuseClassifier(Muse.Config(
      minF = 2, maxF = 2, bigrams = false, folds = 3,
      histTypes = Seq(HistogramType.EquiDepth), normalization = Seq(false)))
    val model = clf.fit(train0)
    val path = tmp("muse-model")
    ModelIO.saveMuse(model, path)
    val loaded = ModelIO.loadMuse(path)
    assert(loaded.hist == model.hist && loaded.norm == model.norm)
    assert(loaded.windows == model.windows && loaded.dictSize == model.dictSize)
    assert(loaded.quantizers.keySet == model.quantizers.keySet)
    val p0 = clf.predict(model, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val p1 = clf.predict(loaded, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(p0 == p1, "loaded MUSE predicts differently")
    assert(p0.nonEmpty)
  }

  test("TEASER classifier round-trips with identical early predictions") {
    import spark.implicits._
    val train = Loaders.loadUcrLocal(s"$uniBase/CBF/CBF_TRAIN").toSeq.toDF()
    val test = Loaders.loadUcrLocal(s"$uniBase/CBF/CBF_TEST")
      .filter(_.id % 18 == 0).toSeq.toDF()
    val clf = new TeaserClassifier(
      Teaser.Config(s = 6),
      Weasel.Config(minF = 6, maxF = 6, folds = 3, normalization = Seq(true)))
    val model = clf.fit(train)
    val path = tmp("teaser-model")
    ModelIO.saveTeaser(model, path)
    val loaded = ModelIO.loadTeaser(path)
    assert(loaded.threshold == model.threshold)
    assert(loaded.offsets.toSeq == model.offsets.toSeq)
    assert(loaded.slaves.keySet == model.slaves.keySet)
    assert(loaded.masters.keySet == model.masters.keySet)
    loaded.masters.foreach { case (k, m) =>
      val o = model.masters(k)
      assert(m.rho == o.rho && m.gamma == o.gamma && m.coefs.toSeq == o.coefs.toSeq)
    }
    val p0 = clf.predictDF(model, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.getInt(3))).toSeq
    val p1 = clf.predictDF(loaded, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.getInt(3))).toSeq
    assert(p0 == p1, "loaded TEASER predicts differently")
    assert(p0.nonEmpty)
  }

  test("MTEASER classifier round-trips with identical early predictions") {
    val base = "/root/reference/src/main/resources/datasets/multivariate"
    val train = Loaders.loadMultivariate(spark, s"$base/PenDigits/PenDigits_TRAIN3",
      applyZNorm = false).filter(org.apache.spark.sql.functions.col("id") <= 80)
    val test = Loaders.loadMultivariate(spark, s"$base/PenDigits/PenDigits_TEST3",
      applyZNorm = false).filter(org.apache.spark.sql.functions.col("id") <= 40)
    val clf = new MteaserClassifier(
      Mteaser.Config(s = 4),
      Muse.Config(minF = 2, maxF = 2, folds = 2, bigrams = false,
        histTypes = Seq(HistogramType.EquiDepth), normalization = Seq(false)))
    val model = clf.fit(train)
    val path = tmp("mteaser-model")
    ModelIO.saveMteaser(model, path)
    val loaded = ModelIO.loadMteaser(path)
    assert(loaded.threshold == model.threshold)
    assert(loaded.offsets.toSeq == model.offsets.toSeq)
    assert(loaded.slaves.keySet == model.slaves.keySet)
    assert(loaded.masters.keySet == model.masters.keySet)
    val p0 = clf.predictDF(model, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.getInt(3))).toSeq
    val p1 = clf.predictDF(loaded, test).orderBy("id").collect()
      .map(r => (r.getLong(0), r.isNullAt(2), if (r.isNullAt(2)) 0.0 else r.getDouble(2), r.getInt(3))).toSeq
    assert(p0 == p1, "loaded MTEASER predicts differently")
    assert(p0.nonEmpty)
  }
}
