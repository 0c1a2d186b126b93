package graft.sfa

import org.scalatest.funsuite.AnyFunSuite
import graft.ts.Loaders

/** Parity and invariant suite for the Fourier kernel, replicating the
  * reference's MFTTest categories
  * (/root/reference/src/test/java/sfa/transformation/MFTTest.java:86-147):
  * the momentary (sliding) transform must equal the per-window transform
  * for every offset across the parameter grid, and the rolling mean/std
  * must equal a per-window recompute.
  */
class FourierSpec extends AnyFunSuite {

  private val windowSizes = Seq(4, 16, 19, 32, 33, 64)
  private val wordLengths = Seq(2, 4, 6, 8, 10, 12, 14, 16)

  private def series(n: Int, seed: Long) = Loaders.randomWalk(n, seed)

  test("MFT recurrence equals per-window DFT for every offset and parameter combo") {
    val data = series(300, 42L)
    for {
      w <- windowSizes
      l <- wordLengths
      normMean <- Seq(true, false)
      lowerBounding <- Seq(true, false)
      // keep the Fourier slots within the window (the reference's tests
      // stay in this zone too: l + offset must not exceed w+1)
      if l + (if (normMean) 2 else 0) <= w
    } {
      val sliding = Fourier.transformWindowing(
        data, w, l, normMean, lowerBounding, applyZNorm = false)
      val end = data.length - w + 1
      assert(sliding.length == end)
      var t = 0
      while (t < end) {
        val direct = Fourier.transformWindow(data, t, w, l, normMean, lowerBounding)
        var i = 0
        while (i < l) {
          assert(math.abs(sliding(t)(i) - direct(i)) < 1e-6,
            s"w=$w l=$l normMean=$normMean lb=$lowerBounding offset=$t slot=$i: " +
              s"${sliding(t)(i)} vs ${direct(i)}")
          i += 1
        }
        t += 1
      }
    }
  }

  test("MFT with z-norm scaling equals per-window DFT scaled by 1/sigma") {
    val data = series(200, 7L)
    val w = 32
    val l = 8
    val sliding = Fourier.transformWindowing(data, w, l, normMean = true,
      lowerBounding = true, applyZNorm = true)
    val (_, stds) = Fourier.rollingMeanStd(data, w)
    var t = 0
    while (t < sliding.length) {
      val direct = Fourier.transformWindow(data, t, w, l, normMean = true, lowerBounding = true)
      val f = if (stds(t) > 0) 1.0 / stds(t) else 1.0
      var i = 0
      while (i < l) {
        assert(math.abs(sliding(t)(i) - direct(i) * f) < 1e-6)
        i += 1
      }
      t += 1
    }
  }

  test("rolling mean/std equals per-window recompute") {
    val data = series(500, 11L)
    for (w <- windowSizes) {
      val (means, stds) = Fourier.rollingMeanStd(data, w)
      var t = 0
      while (t < data.length - w + 1) {
        val win = data.slice(t, t + w)
        val m = win.sum / w
        val v = win.map(x => x * x).sum / w - m * m
        val s = if (v > 0) math.sqrt(v) else 0.0
        assert(math.abs(means(t) - m) < 1e-9, s"mean w=$w t=$t")
        assert(math.abs(stds(t) - s) < 1e-9, s"std w=$w t=$t")
        t += 1
      }
    }
  }

  test("window longer than the series yields exactly one (padded) transform") {
    val data = series(10, 3L)
    val out = Fourier.transformWindowing(data, 33, 8, normMean = false, lowerBounding = true,
      applyZNorm = false)
    assert(out.length == 1)
    val direct = Fourier.transformWindow(data, 0, 33, 8, normMean = false, lowerBounding = true)
    assert(out(0).zip(direct).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  // ---- bit-identity of the trimmed direct kernels ----------------------
  // The full-length formula the direct kernels used before they computed
  // only the kept slots: all ⌈w/2⌉ coefficients of the window (the trig
  // evaluated inline with the twiddle table's exact expression), then the
  // offset cut, norm and sign, then the sliding path's 1/σ.

  private def fullRaw(data: Array[Double], from: Int, w: Int): Array[Double] = {
    val out = new Array[Double](w)
    val n = math.min(w, math.max(0, data.length - from))
    var k = 0
    while (k < (w + 1) / 2) {
      val arg = -2.0 * math.Pi * k / w
      var re = 0.0
      var im = 0.0
      var j = 0
      while (j < n) {
        val a = arg * j
        val x = data(from + j)
        re += x * math.cos(a)
        im += x * math.sin(a)
        j += 1
      }
      if (2 * k < w) out(2 * k) = re
      if (2 * k + 1 < w) out(2 * k + 1) = im
      k += 1
    }
    if (w > 1) out(1) = 0.0
    out
  }

  private def fullWindow(data: Array[Double], from: Int, w: Int, l: Int,
      normMean: Boolean, lowerBounding: Boolean): Array[Double] = {
    val raw = fullRaw(data, from, w)
    val off = if (normMean) 2 else 0
    val norm = if (lowerBounding) 1.0 / math.sqrt(w) else 1.0
    val out = new Array[Double](l)
    var sign = 1.0
    var i = 0
    while (i < math.min(l, w - off)) {
      out(i) = raw(off + i) * norm * sign
      sign = -sign
      i += 1
    }
    out
  }

  private def fullSliding(data: Array[Double], w: Int, l: Int, normMean: Boolean) =
    if (data.length < w) Array.empty[Array[Double]]
    else {
      val (_, stds) = Fourier.rollingMeanStdDirect(data, w)
      Array.tabulate(data.length - w + 1) { t =>
        val f = if (stds(t) > 0) 1.0 / stds(t) else 1.0
        fullWindow(data, t, w, l, normMean, lowerBounding = true).map(_ * f)
      }
    }

  private def fullDisjoint(data: Array[Double], w: Int, l: Int, normMean: Boolean,
      lowerBounding: Boolean, zNorm: Boolean) =
    if (zNorm) SFA.disjointWindows(data, w, normMean)
      .map(fullWindow(_, 0, w, l, normMean, lowerBounding))
    else Array.tabulate(data.length / w)(i => fullWindow(data, i * w, w, l, normMean, lowerBounding))

  private def assertBits(got: Array[Array[Double]], want: Array[Array[Double]], what: String): Unit = {
    assert(got.length == want.length, s"$what: ${got.length} windows, want ${want.length}")
    got.indices.foreach { t =>
      assert(got(t).length == want(t).length, s"$what window $t: length")
      got(t).indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(got(t)(i)) ==
          java.lang.Double.doubleToRawLongBits(want(t)(i)),
          s"$what window $t slot $i: ${got(t)(i)} vs ${want(t)(i)}")
      }
    }
  }

  private val bitWindowSizes = Seq(4, 16, 19, 32, 33, 64, 128)

  test("trimmed transformWindow is bit-identical to the full-length formula") {
    val data = series(300, 501L)
    val short = series(10, 502L)
    for {
      w <- bitWindowSizes
      l <- 1 to 16
      normMean <- Seq(true, false)
      lowerBounding <- Seq(true, false)
    } {
      // window starts inside, at the last full window, and past the end
      // of the series (zero-padded, n < w), plus a series shorter than w
      val cases = Seq(data -> 0, data -> 7, data -> (data.length - w),
        data -> (data.length - w / 2), data -> data.length, short -> 0)
      assertBits(
        cases.map { case (d, from) => Fourier.transformWindow(d, from, w, l, normMean, lowerBounding) }.toArray,
        cases.map { case (d, from) => fullWindow(d, from, w, l, normMean, lowerBounding) }.toArray,
        s"transformWindow w=$w l=$l normMean=$normMean lb=$lowerBounding")
    }
    // the whole-series transform is the same window, padded to 2^k
    for (n <- Seq(5, 64, 100, 300); l <- 2 to 16 by 2) {
      val n2 = Integer.highestOneBit(n - 1) * 2
      assertBits(Array(Fourier.transformSeries(data.take(n), l)),
        Array(fullWindow(data.take(n), 0, n2, l, normMean = true, lowerBounding = true)),
        s"transformSeries n=$n l=$l")
    }
  }

  test("trimmed sliding and disjoint kernels are bit-identical to the full-length formula") {
    val data = series(300, 503L)
    // a constant stretch gives σ = 0 windows (the 1/σ guard)
    val flat = Array.fill(40)(0.0) ++ series(60, 504L)
    for {
      w <- bitWindowSizes
      l <- 1 to 16
      normMean <- Seq(true, false)
      d <- Seq(data, flat, data.take(w - 1))
    } {
      val what = s"w=$w l=$l normMean=$normMean n=${d.length}"
      assertBits(SFAOps.slidingKernelArr(d, w, l, normMean), fullSliding(d, w, l, normMean),
        s"sliding $what")
      for (lowerBounding <- Seq(true, false); zNorm <- Seq(true, false))
        assertBits(SFAOps.disjointKernelArr(d, w, l, normMean, lowerBounding, zNorm),
          fullDisjoint(d, w, l, normMean, lowerBounding, zNorm),
          s"disjoint $what lb=$lowerBounding z=$zNorm")
    }
  }

  test("Fourier distance lower-bounds the true Euclidean distance") {
    // Parseval: 2/n * sum_{k=1..l/2} |dX_k|^2 <= sum |dx|^2 for any prefix
    val a = Loaders.znorm(series(64, 1L))
    val b = Loaders.znorm(series(64, 2L))
    val ed2 = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for (l <- Seq(2, 4, 8, 16, 32)) {
      val fa = Fourier.transformSeries(a, l)
      val fb = Fourier.transformSeries(b, l)
      val lb = Fourier.lbDistance(fa, fb, Double.MaxValue)
      assert(lb <= ed2 + 1e-9, s"l=$l: lb=$lb > ed2=$ed2")
    }
    // and the bound tightens (non-decreasing) with more coefficients
    val lbs = Seq(2, 4, 8, 16, 32).map { l =>
      Fourier.lbDistance(Fourier.transformSeries(a, l), Fourier.transformSeries(b, l), Double.MaxValue)
    }
    assert(lbs.zip(lbs.tail).forall { case (x, y) => y >= x - 1e-12 })
  }

  test("word packing: mask of a long word equals the word packed at shorter length") {
    val rnd = new scala.util.Random(5)
    val usedBits = 2 // alphabet 4
    for (_ <- 1 to 100) {
      val symbols = Array.fill(16)(rnd.nextInt(4))
      val longWord = Words.createWord(symbols, 16, usedBits)
      for (f <- Seq(6, 8, 10, 12, 14, 16)) {
        val masked = longWord & Words.mask(f, usedBits)
        assert(masked == Words.createWord(symbols, f, usedBits), s"f=$f")
      }
    }
  }
}
