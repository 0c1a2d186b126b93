package graft.sfa

import scala.collection.mutable.ArrayBuffer

/** Binning strategy for the SFA quantizer. The reference's enum name
  * `EQUI_FREQUENCY` actually performs equi-*width* binning
  * (/root/reference/src/main/java/sfa/transformation/SFA.java:365-371,416-431);
  * we keep honest names and map EquiWidth to that behavior.
  */
sealed trait HistogramType
object HistogramType {
  case object EquiDepth extends HistogramType
  case object EquiWidth extends HistogramType
  case object InformationGain extends HistogramType
}

/** A fitted SFA quantizer: per-coefficient bin boundaries (`l` rows of
  * `alphabet-1` ascending edges; unassigned edges = +∞) plus the window
  * transform parameters. Immutable and small — broadcast to executors.
  *
  * Reference semantics: SFA.java:110-118 (bins layout), 194-231
  * (quantization lookup), MFT.java:102-161 (sliding transform).
  */
final case class SFAModel(
    windowSize: Int,
    wordLength: Int,
    alphabetSize: Int,
    normMean: Boolean,
    lowerBounding: Boolean,
    applyZNorm: Boolean,
    bins: Array[Array[Double]]) extends Serializable {

  val usedBits: Int = Words.binlog(alphabetSize)

  /** Symbol per Fourier value: first bin edge strictly greater than the
    * value (linear scan in the reference; binary search is equivalent on
    * the ascending edges — unassigned edges are +∞ so they never match).
    */
  def quantize(approx: Array[Double]): Array[Int] = {
    val word = new Array[Int](approx.length)
    var i = 0
    while (i < approx.length) {
      val edges = bins(i)
      var c = 0
      while (c < edges.length && approx(i) >= edges(c)) c += 1
      word(i) = c
      i += 1
    }
    word
  }

  /** Fourier-transform a single window (offset `from`) and quantize. */
  def transformWindow(data: Array[Double], from: Int): Array[Int] =
    quantize(Fourier.transformWindow(data, from, windowSize, wordLength, normMean, lowerBounding))

  /** All sliding windows of a series → packed SFA words, via the MFT
    * recurrence (SFA.transformWindowing / MFT.transformWindowingShort).
    */
  def transformWindowingWords(data: Array[Double], features: Int): Array[Long] = {
    val approx = Fourier.transformWindowing(
      data, windowSize, wordLength, normMean, lowerBounding, applyZNorm)
    approx.map(a => Words.createWord(quantize(a), features, usedBits))
  }

  /** All sliding windows → symbol arrays (unpacked). */
  def transformWindowingSymbols(data: Array[Double]): Array[Array[Int]] =
    Fourier.transformWindowing(data, windowSize, wordLength, normMean, lowerBounding, applyZNorm)
      .map(quantize)
}

/** SFA fitting: fills a per-coefficient orderline with 2-decimal-rounded
  * Fourier values of the training windows, then derives bin edges.
  *
  * This object holds the *local* (in-memory, per-partition or driver)
  * fit used by tests and by the distributed fit in [[graft.sfa.SFAOps]],
  * which computes the same orderline with DataFrame aggregations.
  */
object SFA {

  /** Round half-away-from-zero to `scale` decimals — the engine-wide
    * noise-rounding rule (reference rounds the orderline to 2 decimals,
    * SFA.java:402).
    */
  def roundAt(v: Double, scale: Int): Double =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** z-normalize a window copy: divide by population σ (σ==0 ⇒ keep),
    * subtracting the mean first when `normMean` (TimeSeries.java:77-99).
    */
  def znormWindow(data: Array[Double], from: Int, w: Int, normMean: Boolean): Array[Double] = {
    val out = new Array[Double](w)
    val n = math.min(w, data.length - from)
    var sum = 0.0
    var sq = 0.0
    var i = 0
    while (i < n) { val x = data(from + i); sum += x; sq += x * x; i += 1 }
    val mean = sum / w
    val buf = sq / w - mean * mean
    val std = if (buf > 0) math.sqrt(buf) else 0.0
    val inv = if (std != 0) 1.0 / std else 1.0
    i = 0
    while (i < n) {
      out(i) = if (normMean) (data(from + i) - mean) * inv else data(from + i) * inv
      i += 1
    }
    out
  }

  /** Disjoint-window training samples of one series, each z-normed —
    * the quantizer's cheap training set (TimeSeries.java:256-270).
    */
  def disjointWindows(data: Array[Double], w: Int, normMean: Boolean): Array[Array[Double]] = {
    val amount = data.length / w
    Array.tabulate(amount)(i => znormWindow(data, i * w, w, normMean))
  }

  /** Fit on explicit training windows (each already z-normed): transform
    * each with a single-window DFT, fill the orderline, bin. Returns the
    * model plus the (unrounded) per-window approximations — quantization
    * of these is exactly the reference's `fitTransform`.
    */
  def fitWindows(
      windows: Array[(Array[Double], Double)], // (window, label)
      windowSize: Int,
      wordLength: Int,
      alphabetSize: Int,
      normMean: Boolean,
      lowerBounding: Boolean,
      histogram: HistogramType,
      applyZNorm: Boolean = true): (SFAModel, Array[Array[Double]]) = {
    val dft = new Fourier.WindowDft(windowSize, wordLength, normMean, lowerBounding)
    val approx = windows.map { case (win, _) => dft(win, 0, 1.0) }
    // orderline per coefficient: (value rounded to 2 decimals, label)
    val orderline = Array.tabulate(wordLength) { j =>
      val vl = new Array[(Double, Double)](windows.length)
      var i = 0
      while (i < windows.length) {
        vl(i) = (roundAt(approx(i)(j), 2), windows(i)._2)
        i += 1
      }
      java.util.Arrays.sort(vl, Ordering.Tuple2[Double, Double])
      vl
    }
    val bins = histogram match {
      case HistogramType.EquiDepth       => orderline.map(ol => equiDepthEdges(ol.map(_._1), alphabetSize))
      case HistogramType.EquiWidth       => orderline.map(ol => equiWidthEdges(ol.map(_._1), alphabetSize))
      case HistogramType.InformationGain => orderline.map(ol => infoGainEdges(ol, alphabetSize))
    }
    (SFAModel(windowSize, wordLength, alphabetSize, normMean, lowerBounding, applyZNorm, bins), approx)
  }

  /** Fit from whole series via disjoint windows (SFA.fitWindowing). */
  def fitWindowing(
      series: Array[(Array[Double], Double)],
      windowSize: Int,
      wordLength: Int,
      alphabetSize: Int,
      normMean: Boolean,
      lowerBounding: Boolean,
      histogram: HistogramType = HistogramType.EquiDepth): SFAModel = {
    val wins = series.flatMap { case (data, label) =>
      disjointWindows(data, windowSize, normMean).map(w => (w, label))
    }
    fitWindows(wins, windowSize, wordLength, alphabetSize, normMean, lowerBounding, histogram)._1
  }

  /** Equi-depth edges over an ascending value array, with the reference's
    * forward-scan dedup: edge `pos` is the first value whose 1-based rank
    * exceeds ⌈depth·(pos+1)⌉ AND differs from the previous edge; the scan
    * never revisits earlier ranks (SFA.java:436-450). Unassigned edges
    * stay +∞.
    */
  def equiDepthEdges(sorted: Array[Double], alphabetSize: Int): Array[Double] = {
    val edges = Array.fill(alphabetSize - 1)(Double.MaxValue)
    val depth = sorted.length / alphabetSize.toDouble
    var pos = 0
    var count = 0L
    var i = 0
    while (i < sorted.length && pos < edges.length) {
      count += 1
      if (count > math.ceil(depth * (pos + 1)) && (pos == 0 || edges(pos - 1) != sorted(i))) {
        edges(pos) = sorted(i)
        pos += 1
      }
      i += 1
    }
    edges
  }

  /** Equi-width edges: first + i·(last−first)/α (SFA.java:416-431). */
  def equiWidthEdges(sorted: Array[Double], alphabetSize: Int): Array[Double] = {
    val edges = Array.fill(alphabetSize - 1)(Double.MaxValue)
    if (sorted.nonEmpty) {
      val first = sorted(0)
      val last = sorted(sorted.length - 1)
      val width = (last - first) / alphabetSize
      var c = 0
      while (c < alphabetSize - 1) { edges(c) = width * (c + 1) + first; c += 1 }
    }
    edges
  }

  /** Information-gain edges: recursive best entropy split on the sorted
    * (value, label) orderline, splitting only where the label changes,
    * gain rounded to 3 decimals, α−1 split points (SFA.java:455-557).
    */
  def infoGainEdges(sorted: Array[(Double, Double)], alphabetSize: Int): Array[Double] = {
    val edges = Array.fill(alphabetSize - 1)(Double.MaxValue)
    if (sorted.nonEmpty) {
      val splits = ArrayBuffer.empty[Int]
      findBestSplit(sorted, 0, sorted.length, alphabetSize, splits)
      val ordered = splits.sorted
      var j = 0
      while (j < ordered.length && j < edges.length) {
        edges(j) = sorted(ordered(j) + 1)._1
        j += 1
      }
    }
    edges
  }

  private def entropy(freq: collection.Map[Double, Int], total: Double): Double = {
    var e = 0.0
    val log2 = 1.0 / math.log(2.0)
    freq.valuesIterator.foreach { c =>
      val p = c / total
      if (p > 0) e -= p * math.log(p) * log2
    }
    e
  }

  private def findBestSplit(
      element: Array[(Double, Double)],
      start: Int,
      end: Int,
      remainingSymbols: Int,
      splitPoints: ArrayBuffer[Int]): Unit = {
    var bestGain = -1.0
    var bestPos = -1
    val total = end - start
    val cIn = collection.mutable.HashMap.empty[Double, Int]
    val cOut = collection.mutable.HashMap.empty[Double, Int]
    var pos = start
    while (pos < end) { cOut.updateWith(element(pos)._2)(v => Some(v.getOrElse(0) + 1)); pos += 1 }
    val classEntropy = entropy(cOut, total)

    def move(p: Int): Unit = {
      val lab = element(p)._2
      cIn.updateWith(lab)(v => Some(v.getOrElse(0) + 1))
      cOut.updateWith(lab)(v => Some(v.getOrElse(0) - 1))
    }

    var i = start
    var lastLabel = element(i)._2
    move(start); i += 1
    var split = start + 1
    while (split < end - 1) {
      val label = element(i)._2
      move(split); i += 1
      if (label != lastLabel) {
        // NB: the reference passes the absolute scan index (not i-start)
        // as the in-split count (SFA.java:528) — replicated verbatim so
        // supervised binning stays reproducible against its golden tests.
        val totalCIn = i
        val totalCOut = total - totalCIn
        var gain = classEntropy -
          totalCIn.toDouble / total * entropy(cIn, totalCIn) -
          totalCOut.toDouble / total * entropy(cOut, totalCOut)
        gain = math.round(gain * 1000.0) / 1000.0
        if (gain >= bestGain) { bestPos = split; bestGain = gain }
      }
      lastLabel = label
      split += 1
    }

    if (bestPos > -1) {
      splitPoints += bestPos
      val remaining = remainingSymbols / 2
      if (remaining > 1) {
        if (bestPos - start > 2 && end - bestPos > 2) {
          findBestSplit(element, start, bestPos, remaining, splitPoints)
          findBestSplit(element, bestPos, end, remaining, splitPoints)
        } else if (end - bestPos > 4) {
          findBestSplit(element, bestPos, (end - bestPos) / 2, remaining, splitPoints)
          findBestSplit(element, (end - bestPos) / 2, end, remaining, splitPoints)
        } else if (bestPos - start > 4) {
          findBestSplit(element, start, (bestPos - start) / 2, remaining, splitPoints)
          findBestSplit(element, (bestPos - start) / 2, end, remaining, splitPoints)
        }
      }
    }
  }
}
