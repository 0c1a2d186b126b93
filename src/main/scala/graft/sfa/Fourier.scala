package graft.sfa

/** Fourier kernel for SFA: windowed real DFT plus the momentary (sliding)
  * Fourier recurrence.
  *
  * Semantics follow the reference engine's conventions
  * (/root/reference/src/main/java/sfa/transformation/MFT.java:65-161,
  * DFT.java:17-51):
  *  - coefficient layout is interleaved `[Re0, Im0, Re1, Im1, ...]`;
  *  - `Im0` (slot 1) is forced to 0;
  *  - `Im_k = -Σ x_j sin(2πjk/w)` (negative-exponent DFT);
  *  - with `normMean` the DC pair (slots 0,1) is dropped (startOffset 2);
  *  - with `lowerBounding` values are scaled by `1/√w`;
  *  - after the offset cut, every odd slot is sign-flipped.
  *
  * Only the first `l` Fourier *values* (= l/2 complex coefficients) are
  * ever computed, so a direct O(w·l) evaluation beats an FFT for the
  * small `l` used by SFA words; the sliding path pays O(l) per step via
  * the recurrence X_t(k) = (X_{t-1}(k) + x_{t+w-1} - x_{t-1})·e^{2πik/w}.
  */
object Fourier {

  /** Per-(w, coefs) twiddle tables for [[rawWindowDft]]:
    * `table(k)(2j / 2j+1) = cos/sin(arg·j)` with `arg = -2π·k/w` — the
    * EXACT expression the inline loop evaluated, precomputed once per
    * JVM instead of twice per (window, k, j). The direct DFT is the CPU
    * core of every word pipeline (one call per sliding window), and the
    * trig dominated it; a table lookup yields bit-identical sums because
    * the values and the summation order are unchanged. Bounded: one
    * entry per distinct (windowSize, coefs) pair a process ever uses
    * (grids use a handful), each entry coefs × 2w doubles; very large
    * transforms (padded whole-series DFTs) skip the cache below rather
    * than pin megabyte tables.
    */
  private val twiddleCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()
  private val TwiddleCacheMaxW = 4096

  private def twiddles(w: Int, coefs: Int): Array[Array[Double]] =
    twiddleCache.computeIfAbsent((w, coefs), _ => Array.tabulate(coefs) { k =>
      val arg = -2.0 * math.Pi * k / w
      val t = new Array[Double](2 * w)
      var j = 0
      while (j < w) {
        val a = arg * j
        t(2 * j) = math.cos(a)
        t(2 * j + 1) = math.sin(a)
        j += 1
      }
      t
    })

  /** Raw interleaved DFT values of `data[from until from+w)` (zero-padded
    * when the series is shorter), slots `0 until len`, slot 1 zeroed.
    * No offset cut, no norming, no sign flips — the "first window" state
    * shared by the single-window transform and the sliding recurrence.
    */
  private[graft] def rawWindowDft(data: Array[Double], from: Int, w: Int, len: Int): Array[Double] = {
    val out = new Array[Double](len)
    val n = math.min(w, math.max(0, data.length - from))
    val coefs = (math.min(len, w) + 1) / 2
    val tw = if (w <= TwiddleCacheMaxW) twiddles(w, coefs) else null
    var k = 0
    while (k < coefs) {
      var re = 0.0
      var im = 0.0
      var j = 0
      if (tw != null) {
        val t = tw(k)
        while (j < n) {
          val x = data(from + j)
          re += x * t(2 * j)
          im += x * t(2 * j + 1)
          j += 1
        }
      } else {
        val arg = -2.0 * math.Pi * k / w
        while (j < n) {
          val a = arg * j
          val x = data(from + j)
          re += x * math.cos(a)
          im += x * math.sin(a)
          j += 1
        }
      }
      if (2 * k < len && 2 * k < w) out(2 * k) = re
      if (2 * k + 1 < len && 2 * k + 1 < w) out(2 * k + 1) = im
      k += 1
    }
    if (len > 1) out(1) = 0.0 // DC imaginary part
    out
  }

  /** Offset-cut + norm + alternating sign, into a fresh array of length l
    * (zero-filled past the available slots). `factor` already includes any
    * per-window 1/σ scaling.
    */
  private[graft] def cutAndNorm(mft: Array[Double], startOffset: Int, l: Int, factor: Double): Array[Double] = {
    val out = new Array[Double](l)
    val n = math.min(l, mft.length - startOffset)
    var i = 0
    var sign = 1.0
    while (i < n) {
      out(i) = mft(startOffset + i) * factor * sign
      sign = -sign
      i += 1
    }
    out
  }

  /** Single-window Fourier transform: first `l` values of the window
    * starting at `from`, DC dropped when `normMean`, 1/√w scaling when
    * `lowerBounding`. Mirrors MFT.transform (MFT.java:65-88).
    */
  def transformWindow(
      data: Array[Double],
      from: Int,
      windowSize: Int,
      l: Int,
      normMean: Boolean,
      lowerBounding: Boolean): Array[Double] = {
    val startOffset = if (normMean) 2 else 0
    val norm = if (lowerBounding) 1.0 / math.sqrt(windowSize) else 1.0
    val raw = rawWindowDft(data, from, windowSize, windowSize)
    cutAndNorm(raw, startOffset, l, norm)
  }

  /** Rolling mean/std for every sliding window (population std, clamped at
    * 0 for negative round-off), the O(n) incremental form
    * (TimeSeries.java:218-248).
    */
  def rollingMeanStd(data: Array[Double], windowSize: Int): (Array[Double], Array[Double]) = {
    val end = math.max(1, data.length - windowSize + 1)
    val means = new Array[Double](end)
    val stds = new Array[Double](end)
    val rw = 1.0 / windowSize
    var sum = 0.0
    var sq = 0.0
    var i = 0
    while (i < math.min(data.length, windowSize)) { sum += data(i); sq += data(i) * data(i); i += 1 }
    means(0) = sum * rw
    val buf0 = sq * rw - means(0) * means(0)
    stds(0) = if (buf0 > 0) math.sqrt(buf0) else 0.0
    var t = 1
    while (t < end) {
      val in = data(t + windowSize - 1)
      val outv = data(t - 1)
      sum += in - outv
      sq += in * in - outv * outv
      means(t) = sum * rw
      val buf = sq * rw - means(t) * means(t)
      stds(t) = if (buf > 0) math.sqrt(buf) else 0.0
      t += 1
    }
    (means, stds)
  }

  /** All sliding-window Fourier transforms of one series via the momentary
    * recurrence — O(l) per step after the first window (MFT.java:102-161).
    *
    * @param applyZNorm scale each window's values by 1/σ (σ>0); the
    *                   reference's global `TimeSeries.APPLY_Z_NORM` made
    *                   an explicit parameter (SURVEY §1.4).
    * @param restartEvery re-seed the recurrence with a direct DFT every
    *                     this many steps to bound FP drift on very long
    *                     series (the reference's bulk loader restarts per
    *                     chunk); 0 disables.
    */
  def transformWindowing(
      data: Array[Double],
      windowSize: Int,
      l: Int,
      normMean: Boolean,
      lowerBounding: Boolean,
      applyZNorm: Boolean = true,
      restartEvery: Int = 0): Array[Array[Double]] = {
    val startOffset = if (normMean) 2 else 0
    val norm = if (lowerBounding) 1.0 / math.sqrt(windowSize) else 1.0
    var wordLength = math.min(windowSize, l + startOffset)
    wordLength += wordLength % 2

    // phi_k = e^{2πik/w} as interleaved (re, im) pairs
    val phis = new Array[Double](wordLength)
    var u = 0
    while (u < wordLength) {
      val k = u / 2
      phis(u) = math.cos(2.0 * math.Pi * k / windowSize)
      phis(u + 1) = math.sin(2.0 * math.Pi * k / windowSize)
      u += 2
    }

    val end = math.max(1, data.length - windowSize + 1)
    val (_, stds) = rollingMeanStd(data, windowSize)
    val out = new Array[Array[Double]](end)
    var mft: Array[Double] = null
    var t = 0
    while (t < end) {
      if (t == 0 || (restartEvery > 0 && t % restartEvery == 0)) {
        mft = rawWindowDft(data, t, windowSize, wordLength)
      } else {
        var k = 0
        while (k < wordLength) {
          val re1 = mft(k) + data(t + windowSize - 1) - data(t - 1)
          val im1 = mft(k + 1)
          mft(k) = re1 * phis(k) - im1 * phis(k + 1)
          mft(k + 1) = re1 * phis(k + 1) + im1 * phis(k)
          k += 2
        }
      }
      val factor = (if (applyZNorm && stds(t) > 0) 1.0 / stds(t) else 1.0) * norm
      out(t) = cutAndNorm(mft, startOffset, l, factor)
      t += 1
    }
    out
  }

  /** Per-window mean/std computed with fresh sums per window (O(n·w)) —
    * the oracle-parity variant of [[rollingMeanStd]]: identical results
    * up to FP association order, used where bit-closeness to a SQL
    * windowed-sum oracle matters more than the O(n) recurrence.
    */
  def rollingMeanStdDirect(data: Array[Double], windowSize: Int): (Array[Double], Array[Double]) = {
    val end = math.max(1, data.length - windowSize + 1)
    val means = new Array[Double](end)
    val stds = new Array[Double](end)
    val rw = 1.0 / windowSize
    var t = 0
    while (t < end) {
      var sum = 0.0
      var sq = 0.0
      var i = t
      val hi = math.min(t + windowSize, data.length)
      while (i < hi) { sum += data(i); sq += data(i) * data(i); i += 1 }
      means(t) = sum * rw
      val buf = sq * rw - means(t) * means(t)
      stds(t) = if (buf > 0) math.sqrt(buf) else 0.0
      t += 1
    }
    (means, stds)
  }

  /** Whole-series DFT padded to the next power of two with 1/√n2 scaling —
    * the reference's whole-series representation (DFT.java:17-51). Only
    * the first `l` values are computed (direct evaluation, O(n·l)).
    */
  def transformSeries(data: Array[Double], l: Int): Array[Double] = {
    require(l % 2 == 0, "l must be even to hold (re, im) pairs")
    var n2 = 1
    while (n2 < data.length) n2 <<= 1
    val raw = rawWindowDft(data, 0, n2, math.min(l + 2, n2))
    cutAndNorm(raw, 2, l, 1.0 / math.sqrt(n2))
  }

  /** Lower-bounding distance between two interleaved Fourier value arrays:
    * Σ 2·‖Δcomplex‖², early-abandoned at `minValue` (DFT.java:80-95).
    */
  def lbDistance(a: Array[Double], b: Array[Double], minValue: Double): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) {
      val dr = a(i) - b(i)
      val di = a(i + 1) - b(i + 1)
      d += 2.0 * (dr * dr + di * di)
      if (d > minValue) return Double.PositiveInfinity
      i += 2
    }
    d
  }
}
