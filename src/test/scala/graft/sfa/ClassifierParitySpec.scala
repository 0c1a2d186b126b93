package graft.sfa

import graft.SparkSpec
import graft.ts.Cbf
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Bit-identity pins for the classifier word pipelines on seeded CBF
  * (Saito 1994): per (norm, w) the distributed grid fits and sliding
  * words of BOSS, MUSE and WEASEL equal the driver-side Scala kernels
  * (`SFA.*`, `SFAModel.transformWindowingWords`,
  * `SupervisedModel.words`), the feature vectors equal their sparse
  * (dict_idx, count) definition, and the four classifiers' predictions
  * equal the values recorded for this fixture. Small grids over both
  * norms keep the suite short.
  */
class ClassifierParitySpec extends SparkSpec {

  private val Len = 128
  private val Norms = Seq(true, false)
  private lazy val trainRows = Cbf(24, Len, seed = 1994L)
  private lazy val testRows = Cbf(24, Len, seed = 2994L)
  /** The second MUSE dimension: another CBF draw, same labels by index. */
  private lazy val trainDim1 = Cbf(24, Len, seed = 3994L)
  private lazy val testDim1 = Cbf(24, Len, seed = 4994L)

  private def frame(rows: Array[(Double, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.toSeq.zipWithIndex.map { case ((l, d), i) => (i.toLong, l, d.toSeq) }
      .toDF("id", "label", "data")
  }

  /** Long-format two-dimensional frame (id, dim, label, data). */
  private def frame2(d0: Array[(Double, Array[Double])], d1: Array[(Double, Array[Double])]): DataFrame =
    frame(d0).withColumn("dim", lit(0)).unionByName(frame(d1).withColumn("dim", lit(1)))
      .select("id", "dim", "label", "data")

  private lazy val trainDf = frame(trainRows)
  private lazy val testDf = frame(testRows)
  private lazy val trainDf2 = frame2(trainRows, trainDim1)
  private lazy val testDf2 = frame2(testRows, testDim1)

  private def bitsEqual(a: Array[Double], b: Array[Double]): Boolean =
    java.util.Arrays.equals(a, b)

  private def assertSameModel(got: SFAModel, want: SFAModel, clue: String): Unit = {
    assert(got.copy(bins = null) == want.copy(bins = null), clue)
    assert(got.bins.length == want.bins.length, clue)
    got.bins.zip(want.bins).zipWithIndex.foreach { case ((g, w), c) =>
      assert(bitsEqual(g, w), s"$clue coef $c: ${g.toSeq} vs ${w.toSeq}")
    }
  }

  /** Collected word rows → (cfg key, id) → words in offset order. */
  private def wordsBy[K](rows: Array[Row], key: Row => K): Map[(K, Long), Seq[Long]] =
    rows.groupBy(r => (key(r), r.getAs[Long]("id")))
      .map { case (k, rs) =>
        k -> rs.sortBy(_.getAs[Int]("offset")).map(_.getAs[Long]("word")).toSeq
      }

  private def disjointSlices(d: Array[Double], w: Int): Seq[Array[Double]] =
    (0 until d.length / w).map(i => d.slice(i * w, i * w + w))

  test("BOSS: grid bins equal SFA.fitWindowing, words equal transformWindowingWords") {
    val (windows, maxF, alpha) = (Seq(12, 17, 24), 8, 4)
    val models = Boss.fitBinsGrid(trainDf, windows, Norms, maxF, alpha)
    assert(models.keySet == (for (n <- Norms; w <- windows) yield (n, w)).toSet)
    for (((n, w), m) <- models) {
      val want = SFA.fitWindowing(trainRows.map { case (l, d) => (d, l) }, w, maxF, alpha,
        normMean = n, lowerBounding = true, HistogramType.EquiDepth)
      assertSameModel(m, want, s"bins norm=$n w=$w")
    }
    val words = wordsBy(Boss.slidingWordsGrid(trainDf, models, maxF).collect(),
      r => (r.getAs[Boolean]("norm"), r.getAs[Int]("w")))
    for (((n, w), m) <- models; (d, id) <- trainRows.map(_._2).zipWithIndex) {
      assert(words(((n, w), id.toLong)) == m.transformWindowingWords(d, maxF).toSeq,
        s"words norm=$n w=$w id=$id")
    }
  }

  test("MUSE: grid bins equal SFA.fitWindows without z-norm, words equal transformWindowingWords") {
    val (windows, maxF, alpha) = (Seq(3, 8, 13), 6, 4)
    val dims = Seq(trainRows, trainDim1)
    for (hist <- Seq(HistogramType.EquiDepth, HistogramType.EquiWidth)) {
      val models = Muse.fitBinsGrid(trainDf2, windows, Norms, hist, maxF, alpha)
      assert(models.keySet == (for (n <- Norms; w <- windows; d <- 0 to 1) yield (n, w, d)).toSet)
      for (((n, w, dim), m) <- models) {
        val wins = dims(dim).flatMap { case (l, d) => disjointSlices(d, w).map(x => (x, l)) }
        val (want, _) = SFA.fitWindows(wins, w, maxF, alpha, normMean = n,
          lowerBounding = false, hist, applyZNorm = false)
        assertSameModel(m, want, s"$hist bins norm=$n w=$w dim=$dim")
      }
      // a missing (norm, w, dim) model yields no words for that key
      val dropped = (false, 8, 1)
      val wIdx = windows.zipWithIndex.toMap
      val rows = Muse.wordsGrid(trainDf2, models - dropped, wIdx, maxF).collect()
      assert(rows.forall(r => r.getAs[Int]("w_idx") == wIdx(r.getAs[Int]("w"))))
      val words = wordsBy(rows,
        r => (r.getAs[Boolean]("norm"), r.getAs[Int]("w"), r.getAs[Int]("dim")))
      assert(!words.keySet.exists(_._1 == dropped))
      for (((n, w, dim), m) <- models - dropped; (d, id) <- dims(dim).map(_._2).zipWithIndex) {
        assert(words(((n, w, dim), id.toLong)) == m.transformWindowingWords(d, maxF).toSeq,
          s"$hist words norm=$n w=$w dim=$dim id=$id")
      }
    }
  }

  private val weaselCfg = Weasel.Config(minF = 4, maxF = 6, minWindowLength = 6,
    maxWindowLength = 14, folds = 3)
  private val weaselWindows = Seq(6, 9, 14)

  /** F-ranked coefficients per (norm, w), recorded for this fixture. */
  private val RecordedBestValues = Map(
    (true, 6) -> "1,3,2,0", (true, 9) -> "1,2,3,6,5,4", (true, 14) -> "1,0,8,5,4,2",
    (false, 6) -> "3,5,4,2,0", (false, 9) -> "3,4,5,8,7,6", (false, 14) -> "3,2,10,7,6,4")

  private lazy val weaselQs = Weasel.fitQuantizersGrid(trainDf, weaselWindows, Norms, weaselCfg)

  test("WEASEL: quantizers pinned, info-gain bins and words equal the Scala kernels") {
    val qs = weaselQs
    assert(qs.keySet == (for (n <- Norms; w <- weaselWindows) yield (n, w)).toSet)
    for (((n, w), q) <- qs) {
      assert(q.bestValues.mkString(",") == RecordedBestValues((n, w)), s"bestValues norm=$n w=$w")
      assert(q.windowSize == w && q.normMean == n)
      val top = q.bestValues.max + 1
      assert(q.maxWordLength == top + top % 2)
      assert(q.bins.keySet == q.bestValues.toSet)
      // info-gain edges over the (jround(v, 2), label) orderline of the
      // z-normed disjoint windows' full spectra, lowerBounding off
      val spectra = trainRows.flatMap { case (l, d) =>
        SFA.disjointWindows(d, w, n).map(win =>
          (Fourier.transformWindow(win, 0, w, w + w % 2, n, lowerBounding = false), l))
      }
      for (c <- q.bestValues) {
        val ol = spectra.map { case (s, l) => (math.floor(s(c) * 100.0 + 0.5) / 100.0, l) }
        java.util.Arrays.sort(ol, Ordering.Tuple2[Double, Double])
        assert(bitsEqual(q.bins(c), SFA.infoGainEdges(ol, weaselCfg.alphabetSize)),
          s"bins norm=$n w=$w coef=$c")
      }
    }
    val usedBits = Words.binlog(weaselCfg.alphabetSize)
    val wIdx = weaselWindows.zipWithIndex.toMap
    val rows = Weasel.wordsGrid(trainDf, qs, wIdx, usedBits).collect()
    assert(rows.forall(r => r.getAs[Int]("w_idx") == wIdx(r.getAs[Int]("w"))))
    val words = wordsBy(rows, r => (r.getAs[Boolean]("norm"), r.getAs[Int]("w")))
    for (((n, w), q) <- qs; (d, id) <- trainRows.map(_._2).zipWithIndex) {
      assert(words(((n, w), id.toLong)) == q.words(d, usedBits).toSeq, s"words norm=$n w=$w id=$id")
    }
  }

  /** Every sample's vector is sparse(dim + 1, dict_idx → count) over the
    * bag keys in the dictionary, all-zero when it has none.
    */
  private def assertVectors(bags: DataFrame, dict: DataFrame, samples: DataFrame, clue: String): Unit = {
    val dims = dict.groupBy("norm", "f").agg(max("dict_idx").as("d")).collect()
      .map(r => (r.getBoolean(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(dims.nonEmpty, clue)
    val got = Weasel.vectors(bags, dict, dims, samples).collect()
      .map(r => (r.getAs[Boolean]("norm"), r.getAs[Int]("f"), r.getAs[Long]("id")) ->
        r.getAs[Vector]("features"))
    val ids = samples.select("id").distinct().collect().map(_.getLong(0)).toSet
    val cfgs = bags.select("norm", "f").distinct().collect().map(r => (r.getBoolean(0), r.getInt(1)))
    assert(got.map(_._1).sorted.toSeq == (for ((n, f) <- cfgs.toSeq; i <- ids) yield (n, f, i)).sorted,
      clue)
    val idx = dict.collect().map(r =>
      (r.getAs[Boolean]("norm"), r.getAs[Int]("f"), r.getAs[Long]("key")) -> r.getAs[Int]("dict_idx")).toMap
    val want = bags.collect().groupBy(r =>
        (r.getAs[Boolean]("norm"), r.getAs[Int]("f"), r.getAs[Long]("id")))
      .map { case (k @ (n, f, _), rs) =>
        val pairs = rs.flatMap(r => idx.get((n, f, r.getAs[Long]("key")))
          .map(_ -> r.getAs[Long]("cnt").toDouble)).sortBy(_._1)
        k -> pairs
      }
    got.foreach { case (k @ (n, f, _), v) =>
      val pairs = want.getOrElse(k, Array.empty[(Int, Double)])
      assert(v == Vectors.sparse(dims((n, f)) + 1, pairs.map(_._1), pairs.map(_._2)), s"$clue $k")
    }
  }

  test("WEASEL and MUSE feature vectors equal their sparse dictionary counts") {
    val usedBits = Words.binlog(4)
    val hb = Weasel.highestBit(weaselCfg.maxWindowLength)
    val qs = weaselQs.filter(_._1._1)
    val wb = Weasel.bags(Weasel.wordsGrid(trainDf, qs, weaselWindows.zipWithIndex.toMap, usedBits),
      4, usedBits, hb).cache()
    assertVectors(wb, Weasel.dictionary(Weasel.chiSquared(wb, trainRows.length, weaselCfg, hb)),
      trainDf, "weasel")
    wb.unpersist()

    val museWindows = Seq(3, 8, 13)
    val ms = Muse.fitBinsGrid(trainDf2, museWindows, Seq(false), HistogramType.EquiDepth, 4, 4)
    val mb = Muse.bags(Muse.wordsGrid(trainDf2, ms, museWindows.zipWithIndex.toMap, 4),
      4, usedBits, museWindows.max, Muse.Config()).cache()
    // a dictionary over every other key, so some samples keep few features
    val keys = mb.select("norm", "f", "key").distinct().filter(col("key") % 2 === 0)
    assertVectors(mb, Weasel.dictionary(keys), trainDf2.select("id", "label"), "muse")
    mb.unpersist()
  }

  /** Per classifier: the fitted model's selection summary, then the
    * test-set predictions in id order (and for the LR-scored classifiers
    * a digest of the probability bits), recorded for this fixture.
    */
  private val Recorded = Map(
    "boss" -> "false/20/6/24,false/21/6/24 123122123113123123123123",
    "bossvs" -> ("false/20/6/24,false/21/6/24,false/24/6/23,false/25/6/24,false/26/4/24 " +
      "123323123113123123123123"),
    "weasel" -> "false/4/24/407 221212321313213213313122 cf0eac1f30303103f62846aedcc3356a",
    "muse" -> "EquiWidth/true/4/24/1024 123122123123123123123123 7a778c72d62d64f9414f42d7c018222e")

  private def predString(preds: DataFrame): String =
    preds.select("id", "pred").collect().sortBy(_.getLong(0)).map(_.getDouble(1).toInt).mkString

  /** Predictions plus an MD5 over the probability vectors' bits. */
  private def probaString(proba: DataFrame): String = {
    val rows = proba.select("id", "pred", "probs").collect().sortBy(_.getLong(0))
    val md5 = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(_.getSeq[Double](2).foreach(p =>
      md5.update(java.nio.ByteBuffer.allocate(8).putDouble(p).array())))
    rows.map(_.getDouble(1).toInt).mkString + " " + md5.digest().map("%02x".format(_)).mkString
  }

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally info(f"$name ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("BOSS, BOSS VS, WEASEL and MUSE predictions equal the recorded ones") {
    val boss = new BossEnsemble(Boss.Config(minF = 4, maxF = 8, minWindowLength = 20,
      maxWindowLength = 22))
    val vs = new BossVSEnsemble(BossVS.Config(minF = 4, maxF = 6, minWindowLength = 20,
      maxWindowLength = 26, folds = 2))
    // WEASEL and MUSE each with a single (norm, f) candidate, so no
    // cross-validation fits; the grid tests above cover both norms
    // and both histogram types
    val weasel = new WeaselClassifier(weaselCfg.copy(maxF = 4, maxWindowLength = 10,
      normalization = Seq(false)))
    val muse = new MuseClassifier(Muse.Config(minF = 4, maxF = 4, minWindowLength = 8,
      maxWindowLength = 11, histTypes = Seq(HistogramType.EquiWidth), normalization = Seq(true)))
    val got = Map(
      "boss" -> timed("boss") {
        val m = boss.fit(trainDf)
        m.models.map(x => s"${x.norm}/${x.windowLength}/${x.features}/${x.trainCorrect}")
          .sorted.mkString(",") + " " + predString(boss.predict(m, testDf))
      },
      "bossvs" -> timed("bossvs") {
        val m = vs.fit(trainDf)
        m.models.map(x => s"${x.norm}/${x.windowLength}/${x.features}/${x.trainCorrect}")
          .sorted.mkString(",") + " " + predString(vs.predict(m, testDf))
      },
      "weasel" -> timed("weasel") {
        val m = weasel.fit(trainDf)
        s"${m.norm}/${m.features}/${m.trainCorrect}/${m.dictSize} " +
          probaString(weasel.predictProba(m, testDf))
      },
      "muse" -> timed("muse") {
        val m = muse.fit(trainDf2)
        s"${m.hist}/${m.norm}/${m.features}/${m.trainCorrect}/${m.dictSize} " +
          probaString(muse.predictProba(m, testDf2))
      })
    info(got.toSeq.sorted.mkString("; "))
    assert(got == Recorded)
  }
}
