package graft.sfa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.reflect.runtime.universe.TypeTag

/** Distributed SFA operators over an event-log table — the single-config
  * query surface registered in SparkEntry — and the column builders of
  * the one SFA word pipeline (native DFT, edge-fit and word expressions)
  * that these queries and the [[Boss]], [[BossVS]], [[Weasel]] and
  * [[Muse]] grids share.
  *
  * Series model: `events(user_id, ts, event_id, value)` → one series per
  * user ordered by (ts, event_id). The per-series array is bounded by
  * series length (not dataset size), so the only shuffle is the
  * `groupBy(user_id)` — the same key every downstream stage reuses.
  */
object SFAOps {

  /** (user_id LONG, data ARRAY<DOUBLE>) — one row per series. */
  def seriesOf(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("pts"))
      .select(col("user_id"), expr("transform(pts, p -> p.value)").as("data"))

  /** THE per-series disjoint-window kernel behind
    * [[graft.sfa.expr.DisjointDftExpr]]: `zNorm` z-norms each complete
    * window first (σ-division only when !normMean; MUSE transforms the
    * raw windows), then the single-window DFT of the `l` kept values.
    */
  private[sfa] def disjointKernelArr(
      arr: Array[Double], w: Int, l: Int, normMean: Boolean,
      lowerBounding: Boolean, zNorm: Boolean): Array[Array[Double]] = {
    val dft = new Fourier.WindowDft(w, l, normMean, lowerBounding)
    if (zNorm) SFA.disjointWindows(arr, w, normMean).map(dft(_, 0, 1.0))
    else Array.tabulate(arr.length / w)(i => dft(arr, i * w, 1.0))
  }

  /** THE per-series sliding-window kernel (direct per-window DFT with
    * per-window 1/σ scaling, σ=0 guarded to 1) — behind
    * [[graft.sfa.expr.SlidingDftExpr]], shared by
    * [[slidingApproxDirect]], [[slidingApproxArrays]] and
    * [[windowGridBags]]. One [[Fourier.WindowDft]] per series: the
    * twiddle table is looked up once, each window computes only the
    * `min(w, l + startOffset)` slots it keeps and lands in one array,
    * `((raw·norm)·sign)·(1/σ)`. Series shorter than the window yield no
    * rows (callers additionally exclude them at DataFrame level, where
    * the SQL oracle models the exclusion).
    */
  private[sfa] def slidingKernelArr(
      arr: Array[Double], w: Int, l: Int, normMean: Boolean): Array[Array[Double]] =
    if (arr.length < w) Array.empty
    else {
      val (_, stds) = Fourier.rollingMeanStdDirect(arr, w)
      val dft = new Fourier.WindowDft(w, l, normMean, lowerBounding = true)
      Array.tabulate(arr.length - w + 1) { t =>
        dft(arr, t, if (stds(t) > 0) 1.0 / stds(t) else 1.0)
      }
    }

  // ---- the shared SFA word pipeline as native expressions -------------
  // Every quantizer fit and word stage — the queries below and the BOSS,
  // BOSS VS, WEASEL and MUSE grids — builds its columns here. The window
  // length, value count and norm are columns (a grid carries (norm, w)
  // as data), the transform variant is a plan literal.

  import org.apache.spark.sql.graft.Bridge

  /** Disjoint-window approximations, one array per complete window
    * ([[graft.sfa.expr.DisjointDftExpr]]).
    */
  def disjointCol(data: Column, w: Column, l: Column, normMean: Column,
      lowerBounding: Boolean, zNorm: Boolean): Column =
    Bridge.column(graft.sfa.expr.DisjointDftExpr(Bridge.expression(data),
      Bridge.expression(w.cast("int")), Bridge.expression(l), Bridge.expression(normMean),
      lowerBounding, zNorm))

  /** Sliding direct-DFT approximations ([[graft.sfa.expr.SlidingDftExpr]]). */
  def slidingCol(data: Column, w: Column, l: Column, normMean: Column): Column =
    Bridge.column(graft.sfa.expr.SlidingDftExpr(Bridge.expression(data),
      Bridge.expression(w.cast("int")), Bridge.expression(l), Bridge.expression(normMean)))

  /** Sliding MFT approximations ([[graft.sfa.expr.MftDftExpr]]). */
  def mftCol(data: Column, w: Column, l: Column, normMean: Column,
      lowerBounding: Boolean, applyZNorm: Boolean): Column =
    Bridge.column(graft.sfa.expr.MftDftExpr(Bridge.expression(data),
      Bridge.expression(w.cast("int")), Bridge.expression(l), Bridge.expression(normMean),
      lowerBounding, applyZNorm))

  /** Bin edges of a collected orderline ([[graft.sfa.expr.SfaEdgesExpr]]):
    * the kernel's full `alphabetSize − 1` edges, +∞ placeholders kept.
    */
  def edgesCol(orderline: Column, alphabetSize: Int, histogram: HistogramType): Column =
    Bridge.column(graft.sfa.expr.SfaEdgesExpr(Bridge.expression(orderline), alphabetSize, histogram))

  /** Packed word of one window ([[graft.sfa.expr.SfaWordExpr]]). */
  def wordCol(approx: Column, edges: Column, usedBits: Int): Column =
    Bridge.column(graft.sfa.expr.SfaWordExpr(Bridge.expression(approx), Bridge.expression(edges), usedBits))

  /** The approximation at the given coefficients, in their order
    * ([[graft.sfa.expr.SelectCoefsExpr]]).
    */
  def selectCoefsCol(approx: Column, coefs: Column): Column =
    Bridge.column(graft.sfa.expr.SelectCoefsExpr(Bridge.expression(approx), Bridge.expression(coefs)))

  /** Packed words of every window of a sliding-DFT array, each taken at
    * the given coefficients first ([[graft.sfa.expr.SfaWordsExpr]]).
    */
  def wordsCol(approxs: Column, coefs: Column, edges: Column, usedBits: Int): Column =
    Bridge.column(graft.sfa.expr.SfaWordsExpr(Bridge.expression(approxs), Bridge.expression(coefs),
      Bridge.expression(edges), usedBits))

  /** The edges rows [[wordCol]] needs to pack `features` symbols from a
    * bins matrix: [[Words.createWord]] packs at most `features` and
    * `60 / usedBits` symbols, and a coefficient without an edges row
    * packs as 0.
    */
  def wordEdges(bins: Array[Array[Double]], features: Int, usedBits: Int): Seq[Seq[Double]] =
    bins.take(math.min(features, 60 / usedBits)).map(_.toSeq).toSeq

  /** A grid's per-config values (bins, value counts) as ONE plan literal
    * looked up by the config's key columns (null for a missing key); the
    * grids select it once per (series, config) row, before the generator.
    * Carried in the cross-joined config table instead, the bins would
    * inflate Catalyst's product size estimate and turn downstream
    * broadcast joins into sort-merge joins.
    */
  def configValue[K: TypeTag, V: TypeTag](values: Map[K, V], key: Column*): Column =
    try_element_at(typedlit(values),
      struct(key.zipWithIndex.map { case (c, i) => c.as(s"_${i + 1}") }: _*))

  /** The one symbol width of a grid's models (no models: no words). */
  private[sfa] def gridUsedBits(models: Iterable[SFAModel]): Int = {
    val bits = models.map(_.usedBits).toSet
    require(bits.size <= 1, s"one alphabet per word grid, got usedBits $bits")
    bits.headOption.getOrElse(1)
  }

  /** Collected `(key…, coef, edges)` fit rows → one bins matrix per key;
    * a coefficient without a row keeps its +∞ placeholders.
    */
  private[sfa] def binsByKey[K](rows: Array[org.apache.spark.sql.Row], wordLength: Int,
      alphabetSize: Int)(key: org.apache.spark.sql.Row => K): Map[K, Array[Array[Double]]] =
    rows.groupBy(key).map { case (k, rs) =>
      val bins = Array.fill(wordLength)(Array.fill(alphabetSize - 1)(Double.MaxValue))
      rs.foreach(r => bins(r.getInt(r.length - 2)) = r.getSeq[Double](r.length - 1).toArray)
      k -> bins
    }

  /** Disjoint-window Fourier approximations (the quantizer-fit input):
    * z-norm each complete window (σ-division only when !normMean), direct
    * DFT, keep `l` values. Output: (user_id, win, coef, v) with `v`
    * unrounded (rounding is applied by callers per use).
    */
  def disjointApprox(
      series: DataFrame,
      windowSize: Int,
      l: Int,
      normMean: Boolean,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keep = (extraKeys :+ "user_id").map(col)
    series
      .select(keep :+ posexplode(disjointCol(col("data"), lit(windowSize), lit(l), lit(normMean),
        lowerBounding = true, zNorm = true)).as(Seq("win", "approx")): _*)
      .select(keep ++ Seq(col("win"), posexplode(col("approx")).as(Seq("coef", "v"))): _*)
  }

  /** Equi-depth bin edges per coefficient from the 2-decimal-rounded
    * orderline (SFA.java:392-450). Output: (extraKeys…, coef, pos, edge),
    * assigned edges only. The per-coefficient collect is bounded by the
    * fit sample size — the reference fits on disjoint windows for exactly
    * this cost reason; at extreme scale the fit input is itself sampled.
    *
    * `extraKeys` makes a GRID AXIS a grouping column (e.g. the window
    * length `w` in m2_window_grid): every grid point's quantizer is fitted
    * in the SAME grouped aggregate — one plan, no per-config driver loop.
    */
  def equiDepthBins(approx: DataFrame, alphabetSize: Int, extraKeys: Seq[String] = Nil): DataFrame = {
    val keys = (extraKeys :+ "coef").map(col)
    approx
      .select(keys :+ graft.util.Rnd.jround(col("v"), 2).as("v2"): _*)
      .groupBy(keys: _*)
      .agg(edgesCol(collect_list(col("v2")), alphabetSize, HistogramType.EquiDepth).as("edges"))
      .select(keys :+ posexplode(col("edges")).as(Seq("pos", "edge")): _*)
      .filter(col("edge") =!= Double.MaxValue)
  }

  /** Collect (coef, pos, edge) rows into a bins matrix. */
  def collectBins(bins: DataFrame, wordLength: Int, alphabetSize: Int): Array[Array[Double]] = {
    val m = Array.fill(wordLength)(Array.fill(alphabetSize - 1)(Double.MaxValue))
    bins.collect().foreach { r =>
      m(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    m
  }

  /** Quantize per-window approximations against broadcast bins and pack
    * into words: symbol = #edges ≤ value, word = Σ symbol_c << (bits·c).
    * Input rows: (user_id, win, coef, v); output: (user_id, win, word).
    * The bin edges are pre-collapsed to one sorted array per coefficient
    * so the broadcast is a row per coefficient and the join adds no
    * shuffle — ONE shuffle total (the word groupBy).
    *
    * The edge count is unrolled into `when(size ≥ i ∧ v ≥ edges[i])`
    * conditional sums rather than a higher-order `filter(edges, …)`:
    * lambda functions evaluate interpreted per row, and this expression
    * runs once per (window, coefficient) — the hottest row count in the
    * engine. The unrolled form stays inside whole-stage codegen.
    */
  def packWords(
      approx: DataFrame,
      bins: DataFrame,
      usedBits: Int,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val maxEdges = (1 << usedBits) - 1
    val binKeys = (extraKeys :+ "coef").map(col)
    val edgeArrays = bins
      .groupBy(binKeys: _*)
      .agg(expr("transform(sort_array(collect_list(struct(pos, edge))), p -> p.edge)")
        .as("edges"))
    val symbol = (1 to maxEdges)
      .map(i => when(size(col("edges")) >= i && col("v") >= element_at(col("edges"), i), 1L)
        .otherwise(0L))
      .reduce(_ + _)
    approx.join(broadcast(edgeArrays), extraKeys :+ "coef", "left")
      .withColumn("symbol", symbol)
      .groupBy((extraKeys ++ Seq("user_id", "win")).map(col): _*)
      .agg(sum(col("symbol") * expr(s"shiftleft(1L, coef * $usedBits)")).as("word"))
  }

  /** Sliding-window Fourier approximations by direct per-window DFT with
    * per-window 1/σ scaling — the oracle-checkable sliding path (the
    * O(1)-per-step MFT recurrence is the perf path, validated by the
    * FourierSpec parity suite). Output: (user_id, win, coef, v).
    * Series shorter than the window are excluded (they take the padded
    * single-window path, which the SQL oracle does not model).
    */
  def slidingApproxDirect(
      series: DataFrame,
      windowSize: Int,
      l: Int,
      normMean: Boolean,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val keep = (extraKeys :+ "user_id").map(col)
    series
      .filter(size(col("data")) >= windowSize)
      .select(keep :+ posexplode(slidingCol(col("data"), lit(windowSize), lit(l), lit(normMean)))
        .as(Seq("win", "approx")): _*)
      .select(keep ++ Seq(col("win"), posexplode(col("approx")).as(Seq("coef", "v"))): _*)
  }

  /** Sliding approximations kept as ONE array row per window — the
    * input shape of the fused-expression word path (no per-coefficient
    * explosion). Same values as [[slidingApproxDirect]] pre-explode.
    */
  def slidingApproxArrays(
      series: DataFrame,
      windowSize: Int,
      l: Int,
      normMean: Boolean): DataFrame =
    series
      .filter(size(col("data")) >= windowSize)
      .select(col("user_id"), posexplode(slidingCol(col("data"), lit(windowSize), lit(l), lit(normMean)))
        .as(Seq("win", "approx")))

  /** Fused quantize + pack via the native codegen expression
    * [[graft.sfa.expr.SfaWordExpr]]: one pass per window row, bins as a
    * nested-array literal (assigned edges only). Value-identical to
    * [[packWords]]; preferred on hot paths — no explosion, no join, no
    * aggregation, stays inside whole-stage codegen.
    */
  def packWordsFused(
      approxArrays: DataFrame,
      bins: Array[Array[Double]],
      usedBits: Int): DataFrame = {
    // a coefficient with ≥ 2^usedBits−1 assigned edges would overflow its
    // bit field and the OR-pack would corrupt neighboring symbols — the
    // grouped packWords caps structurally; the fused form must check
    require(bins.forall(_.count(_ != Double.MaxValue) <= (1 << usedBits) - 1),
      s"bin edges exceed symbol capacity for usedBits=$usedBits")
    val edges: Seq[Seq[Double]] = bins.map(_.filter(_ != Double.MaxValue).toSeq).toSeq
    approxArrays.select(col("user_id"), col("win"),
      wordCol(col("approx"), typedlit(edges), usedBits).as("word"))
  }

  /** Sliding approximations via the MFT recurrence (the scale path). */
  def slidingApproxMft(
      series: DataFrame,
      windowSize: Int,
      l: Int,
      normMean: Boolean): DataFrame = {
    val mft = mftCol(col("data"), lit(windowSize), lit(l), lit(normMean),
      lowerBounding = true, applyZNorm = true)
    series
      .select(col("user_id"), posexplode(mft).as(Seq("win", "approx")))
      .select(col("user_id"), col("win"), posexplode(col("approx")).as(Seq("coef", "v")))
  }

  /** The window-grid word pipeline with the grid axis as a `w` COLUMN:
    * per-w quantizer fits run in ONE grouped aggregate, words and bags
    * are keyed by (w, …), and the whole grid is one plan whose shuffle
    * count is independent of the number of windows. Shared by
    * m2_window_grid and GridPlanSpec, so the plan gates pin the SHIPPED
    * pipeline, not a spec-local replica.
    *
    * The grid fan-out is `explode(array(w…))` on the SOURCE — one series
    * scan per pipeline stage for ANY grid size, not one per window: on
    * an uncached 100 TB corpus a 64-point grid must not read the fact
    * table 64 times. The window length reaches the transforms as an
    * expression CHILD, so the grid points appear in the plan only as one array
    * literal — plan size and compile time are grid-size-independent too
    * (GridPlanSpec pins both the scan-count and shuffle-count
    * invariance, at 2 vs 64 points).
    */
  def windowGridBags(
      series: DataFrame,
      windows: Seq[Int],
      l: Int,
      alphabetSize: Int,
      usedBits: Int): DataFrame = {
    val fanned = series.select(
      col("user_id"), col("data"),
      explode(array(windows.map(w => lit(w.toLong)): _*)).as("w"))
    // disjointApprox with the window length as data — the SAME kernel as
    // the per-w form, so parity is by construction
    val disjoint = fanned
      .select(col("w"), col("user_id"),
        posexplode(disjointCol(col("data"), col("w"), lit(l), lit(false),
          lowerBounding = true, zNorm = true)).as(Seq("win", "approx")))
      .select(col("w"), col("user_id"), col("win"),
        posexplode(col("approx")).as(Seq("coef", "v")))
    val bins = equiDepthBins(disjoint, alphabetSize, Seq("w"))
    // slidingApproxDirect with the window length as data — the SAME
    // kernel (1/σ scaling, short-series exclusion) as the per-w form
    val sliding = fanned
      .filter(size(col("data")) >= col("w"))
      .select(col("w"), col("user_id"),
        posexplode(slidingCol(col("data"), col("w"), lit(l), lit(false)))
          .as(Seq("win", "approx")))
      .select(col("w"), col("user_id"), col("win"),
        posexplode(col("approx")).as(Seq("coef", "v")))
    bagOfWords(packWords(sliding, bins, usedBits, Seq("w")), Seq("w"))
  }

  /** Numerosity-reduced bag of packed words per series
    * (BOSS.java:116-145): drop a window whose word equals the previous
    * offset's, count the survivors. Input: (user_id, win, word).
    */
  def bagOfWords(words: DataFrame, extraKeys: Seq[String] = Nil): DataFrame = {
    val byOffset = Window
      .partitionBy((extraKeys :+ "user_id").map(col): _*)
      .orderBy(col("win"))
    words
      .withColumn("prev", lag(col("word"), 1).over(byOffset))
      .filter(col("prev").isNull || col("prev") =!= col("word"))
      .groupBy((extraKeys ++ Seq("user_id", "word")).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Asymmetric 1-NN bag join between a test and train split (J1):
    * dist = Σ_{test words}(tc−nc)², candidates from the word equi-join,
    * reference guards (skip dist==noMatch and dist==0; ties → smaller
    * train id). Input bags: (user_id, word, cnt).
    * Output: (test_id, nn_id, dist).
    */
  def nnBagJoin(testBags: DataFrame, trainBags: DataFrame, extraKeys: Seq[String] = Nil): DataFrame = {
    val k = extraKeys.map(col)
    val t = testBags.select(k ++ Seq(col("user_id").as("test_id"), col("word"), col("cnt").as("tc")): _*)
    val n = trainBags.select(k ++ Seq(col("user_id").as("train_id"), col("word"), col("cnt").as("nc")): _*)
    val noMatch = t.groupBy((extraKeys :+ "test_id").map(col): _*)
      .agg(sum(col("tc") * col("tc")).as("no_match"))
    val pairs = t.join(n, extraKeys :+ "word")
      .groupBy((extraKeys ++ Seq("test_id", "train_id")).map(col): _*)
      .agg(sum((col("tc") - col("nc")) * (col("tc") - col("nc")) - col("tc") * col("tc"))
        .as("delta"))
      .join(noMatch, extraKeys :+ "test_id")
      .withColumn("dist", col("delta") + col("no_match"))
      .filter(col("dist") =!= col("no_match") && col("dist") > 0)
    val byDist = Window.partitionBy((extraKeys :+ "test_id").map(col): _*)
      .orderBy(col("dist").asc, col("train_id").asc)
    pairs.withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(k ++ Seq(col("test_id"), col("train_id").as("nn_id"), col("dist")): _*)
  }
}
