package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Pipelines, QueryDef, Rnd, Tables}
import graft.util.Rnd.{jround, jroundSql}
import graft.sfa.{HistogramType, SFA, SFAOps}

/** SFA-core query surface over the `events` table (series key = user_id,
  * order = (ts, event_id)); single config w=16, l=8, α=4, normMean=false,
  * lowerBounding=true.
  *
  * Operator mapping (reference: /root/reference/src/main/java/sfa/):
  *  - t3_dft_window      → MFT.transform per disjoint window (MFT.java:65-88)
  *  - f2_equidepth_bins  → SFA.divideEquiDepthHistogram (SFA.java:436-450),
  *                         incl. the adjacent-duplicate dedup — the DuckDB
  *                         oracle replicates the forward scan with a
  *                         recursive CTE
  *  - t8_sfa_words       → SFA.quantization + word packing
  *                         (SFA.java:194-231, Classifier.java:163-192)
  *  - t2_mft_sliding     → MFT.transformWindowing recurrence
  *                         (MFT.java:102-161); oracle = the per-window
  *                         direct DFT in SQL, i.e. the FourierSpec
  *                         MFT≡DFT parity gate run cross-engine
  *  - a1_sfa_bags        → BOSS bag of patterns with numerosity reduction
  *                         (BOSS.java:116-145)
  *  - j1_nn_sfa_join     → asymmetric 1-NN bag distance
  *                         (BOSSEnsembleClassifier.java:184-236), words =
  *                         SFA vocabulary (bounded, ≤ α^l) so the join key
  *                         is skew-safe at scale
  *  - a6_accuracy_eval   → Classifier.evalLabels (Classifier.java:116-139)
  *  - p2_sliding_windows → z-normed sliding extraction (TimeSeries.java:191-213)
  *  - p5_subsequence_slice → TEASER truncation slice (TimeSeries.java:177-182)
  *  - p6_word_mask       → word truncation mask (BOSS.java:122-141)
  *  - o1_orderline       → orderline sort (SFA.java:233-246)
  *  - t9_supervised_words → ANOVA-F selected quantization (SFASupervised.java:38-54)
  *  - f4_infogain_bins   → entropy-split binning (SFA.java:455-557), rows-only
  *
  * (See COVERAGE.md for the full SURVEY §2 map.)
  *
  * All numeric comparisons against DuckDB round derived doubles; symbol /
  * word / count / distance columns are exact integers.
  */
object SfaQ {

  private val W = 16
  private val L = 8
  private val Alpha = 4
  private val Bits = 2

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private[queries] def series(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sfa.series:$dir")(SFAOps.seriesOf(events(s, dir)))

  private[queries] def disjointApprox(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sfa.disjointApprox:$dir")(
      SFAOps.disjointApprox(series(s, dir), W, L, normMean = false))

  private def binsDF(approx: DataFrame): DataFrame =
    SFAOps.equiDepthBins(approx, Alpha)

  /** Sliding packed words (user_id, win, word) — quantizer fitted on the
    * disjoint windows, applied to every sliding window.
    */
  private[queries] def slidingWordsOf(eventsDF: DataFrame): DataFrame = {
    val ser = SFAOps.seriesOf(eventsDF)
    val bins = binsDF(SFAOps.disjointApprox(ser, W, L, normMean = false))
    SFAOps.packWords(SFAOps.slidingApproxArrays(ser, W, L, normMean = false), bins, Bits)
  }

  /** Sliding approximations as one array row per window. */
  private[queries] def slidingApproxArr(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sfa.slidingApproxArr:$dir")(
      SFAOps.slidingApproxArrays(series(s, dir), W, L, normMean = false))

  /** Sliding packed words through the fused native expression
    * ([[graft.sfa.expr.SfaWordExpr]]) against the driver-collected bins
    * — one codegen'd pass per window row.
    */
  private[queries] def slidingWords(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sfa.slidingWords:$dir") {
      val bins = SFAOps.collectBins(binsDF(disjointApprox(s, dir)), L, Alpha)
      SFAOps.packWordsFused(slidingApproxArr(s, dir), bins, Bits)
    }

  private[queries] def slidingBags(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sfa.slidingBags:$dir")(
      SFAOps.bagOfWords(slidingWords(s, dir)))

  // ---- Spark implementations ------------------------------------------

  private def t3(s: SparkSession, dir: String): DataFrame =
    disjointApprox(s, dir)
      .select(col("user_id"), col("win").cast("long").as("win"),
        col("coef").cast("long").as("coef"), jround(col("v"), 6).as("v"))
      .orderBy("user_id", "win", "coef")

  private def f2(s: SparkSession, dir: String): DataFrame =
    binsDF(disjointApprox(s, dir))
      .select(col("coef").cast("long").as("coef"),
        col("pos").cast("long").as("pos"), col("edge"))
      .orderBy("coef", "pos")

  private def t8(s: SparkSession, dir: String): DataFrame =
    SFAOps.packWords(SFAOps.disjointApproxArrays(series(s, dir), W, L, normMean = false),
        binsDF(disjointApprox(s, dir)), Bits)
      .select(col("user_id"), col("win").cast("long").as("win"), col("word"))
      .orderBy("user_id", "win")

  private def t2(s: SparkSession, dir: String): DataFrame =
    // exclude series shorter than the window: the library op pads them
    // to one truncated window (reference semantics) but the SQL oracle
    // models complete windows only
    series(s, dir).filter(size(col("data")) >= W)
      .select(col("user_id"), posexplode(SFAOps.mftCol(col("data"), lit(W), lit(L), lit(false),
        lowerBounding = true, applyZNorm = true)).as(Seq("win", "approx")))
      .select(col("user_id"), col("win").cast("long").as("win"),
        posexplode(col("approx")).as(Seq("coef", "v")))
      .select(col("user_id"), col("win"), col("coef").cast("long").as("coef"),
        jround(col("v"), 4).as("v"))
      .orderBy("user_id", "win", "coef")

  private def a1(s: SparkSession, dir: String): DataFrame =
    slidingBags(s, dir)
      .select(col("user_id"), col("word"), col("cnt"))
      .orderBy("user_id", "word")

  /** F6-sparse: the reference's SPARSE one-way ANOVA F — the F statistic
    * of per-sample word COUNTS over bag-of-pattern keys, absent keys
    * counting 0 (SFASupervised.java:231-319, getFonewaySparse; unused
    * by the reference's own classifiers, implemented for inventory
    * completeness). Classes = user_id % 3; nSamples/class sizes are the
    * bag universe (every qualifying series has ≥1 window). All sums are
    * exact integers; the only FP is the final per-word reduction
    * (class-count division), rounded to 4 dp like f6.
    */
  private def f6sparse(s: SparkSession, dir: String): DataFrame = {
    val bags = slidingBags(s, dir).withColumn("cls", col("user_id") % 3)
    val uni = bags.select("user_id", "cls").distinct()
    val csz = uni.groupBy("cls").agg(count(lit(1)).as("n_c"))
    val nTot = uni.count().toDouble
    val g = bags.groupBy("word", "cls")
      .agg(sum("cnt").as("s_gc"), sum(col("cnt") * col("cnt")).as("ssq"))
    g.join(broadcast(csz), "cls")
      .groupBy("word")
      .agg(sum("ssq").as("ssqt"), sum("s_gc").as("stot"),
        sum(col("s_gc").cast("double") * col("s_gc") / col("n_c")).as("sb"))
      .withColumn("ssbn", col("sb") - col("stot").cast("double") * col("stot") / lit(nTot))
      .withColumn("sswn", col("ssqt") - col("sb"))
      .withColumn("f_stat", jround(
        when(col("sswn") === 0.0, 0.0)
          .otherwise((col("ssbn") / lit(2.0)) / (col("sswn") / lit(nTot - 3.0))), 4))
      .select(col("word"), col("f_stat"))
      .orderBy("word")
  }

  private def j1(s: SparkSession, dir: String): DataFrame = {
    val bags = slidingBags(s, dir)
    SFAOps.nnBagJoin(
      bags.filter(col("user_id") % 2 === 1),
      bags.filter(col("user_id") % 2 === 0))
      .orderBy("test_id")
  }

  private def a6(s: SparkSession, dir: String): DataFrame = {
    val nn = j1(s, dir)
    val totalDf = series(s, dir)
      .filter(size(col("data")) >= W && col("user_id") % 2 === 1)
      .agg(count(lit(1)).as("total"))
    nn.withColumn("ok",
        when(col("nn_id") % 3 === col("test_id") % 3, 1L).otherwise(0L))
      .agg(sum(col("ok")).as("correct"))
      .crossJoin(totalDf)
      .select(col("correct"), col("total"),
        jround(col("correct").cast("double") / col("total"), 6).as("acc"))
  }

  // ---- DuckDB oracle SQL ----------------------------------------------

  /** Shared prefix at window length `w`: ordered points, disjoint
    * windows, their z-norm (σ-division), direct DFT values, rounded
    * orderline and the recursive equi-depth edge scan. The DFT norm
    * factor is (1.0/SQRT(w)) — at w=16 identical bits to the historical
    * literal 0.25. `src` lets grid queries pre-filter/remap the events.
    */
  private[queries] def prefixFor(w: Int, src: String = "events"): String =
    s"""WITH RECURSIVE e AS (
      |  SELECT user_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM $src
      |), dw AS (
      |  SELECT user_id, idx // $w AS win, idx % $w AS j, value
      |  FROM e WHERE idx // $w < n // $w
      |), dst AS (
      |  SELECT user_id, win,
      |    SQRT(GREATEST(SUM(value*value)/$w.0 - (SUM(value)/$w.0)*(SUM(value)/$w.0), 0.0)) AS std
      |  FROM dw GROUP BY 1, 2
      |), dnx AS (
      |  SELECT d.user_id, d.win, d.j,
      |    CASE WHEN s.std <> 0 THEN d.value / s.std ELSE d.value END AS x
      |  FROM dw d JOIN dst s ON d.user_id = s.user_id AND d.win = s.win
      |), coefs AS (SELECT UNNEST(RANGE(8)) AS coef
      |), ddft AS (
      |  SELECT n.user_id, n.win, c.coef,
      |    (CASE WHEN c.coef = 1 THEN 0.0
      |          WHEN c.coef % 2 = 0 THEN SUM(n.x * COS(-2*PI()*n.j*(c.coef//2)/$w.0))
      |          ELSE SUM(n.x * SIN(-2*PI()*n.j*(c.coef//2)/$w.0)) END)
      |    * (1.0/SQRT($w)) * (CASE WHEN c.coef % 2 = 1 THEN -1.0 ELSE 1.0 END) AS v
      |  FROM dnx n CROSS JOIN coefs c
      |  GROUP BY n.user_id, n.win, c.coef
      |), ol AS (
      |  SELECT coef, FLOOR(v * 1e2 + 0.5) / 1e2 AS v2,
      |    ROW_NUMBER() OVER (PARTITION BY coef ORDER BY FLOOR(v * 1e2 + 0.5) / 1e2) AS rn
      |  FROM ddft
      |), olc AS (SELECT coef, COUNT(*) AS n FROM ol GROUP BY 1
      |), bounds AS (
      |  SELECT o.coef, CAST(0 AS BIGINT) AS pos, o.v2 AS edge, o.rn
      |  FROM ol o JOIN olc c ON o.coef = c.coef
      |  WHERE o.rn = CAST(CEIL(c.n / 4.0) AS BIGINT) + 1
      |  UNION ALL
      |  SELECT b.coef, b.pos + 1, nxt.v2, nxt.rn
      |  FROM bounds b
      |  JOIN olc c ON c.coef = b.coef
      |  JOIN LATERAL (
      |    SELECT o.v2, o.rn FROM ol o
      |    WHERE o.coef = b.coef
      |      AND o.rn > GREATEST(CAST(CEIL(c.n / 4.0 * (b.pos + 2)) AS BIGINT), b.rn)
      |      AND o.v2 <> b.edge
      |    ORDER BY o.rn LIMIT 1
      |  ) nxt ON TRUE
      |  WHERE b.pos + 1 <= 2
      |)""".stripMargin

  private[queries] val prefix = prefixFor(W)

  /** The default (equi-depth `bounds`) symbol CTE — grid queries may
    * substitute their own quantization by passing a replacement to
    * [[slidingCtesFor]] (it must read `sdft` and emit
    * `ssym(user_id, win, coef, symbol)`).
    */
  private[queries] val ssymEquiDepth: String =
    """, ssym AS (
      |  SELECT d.user_id, d.win, d.coef,
      |    SUM(CASE WHEN b.edge IS NOT NULL AND d.v >= b.edge THEN 1 ELSE 0 END) AS symbol
      |  FROM sdft d LEFT JOIN bounds b ON d.coef = b.coef
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  /** Sliding-window continuation at window length `w`: windows, σ, DFT,
    * symbols, packed words, numerosity-reduced bags (users ≥ w points).
    */
  private[queries] def slidingCtesFor(w: Int, ssymCte: String = ssymEquiDepth): String =
    s""", sw AS (
      |  SELECT e1.user_id, e1.idx AS win, e2.idx - e1.idx AS j, e2.value
      |  FROM e e1 JOIN e e2 ON e1.user_id = e2.user_id
      |    AND e2.idx BETWEEN e1.idx AND e1.idx + ${w - 1}
      |  WHERE e1.idx <= e1.n - $w AND e1.n >= $w
      |), sst AS (
      |  SELECT user_id, win,
      |    SQRT(GREATEST(SUM(value*value)/$w.0 - (SUM(value)/$w.0)*(SUM(value)/$w.0), 0.0)) AS std
      |  FROM sw GROUP BY 1, 2
      |), snx AS (
      |  SELECT w.user_id, w.win, w.j,
      |    CASE WHEN s.std <> 0 THEN w.value / s.std ELSE w.value END AS x
      |  FROM sw w JOIN sst s ON w.user_id = s.user_id AND w.win = s.win
      |), sdft AS (
      |  SELECT n.user_id, n.win, c.coef,
      |    (CASE WHEN c.coef = 1 THEN 0.0
      |          WHEN c.coef % 2 = 0 THEN SUM(n.x * COS(-2*PI()*n.j*(c.coef//2)/$w.0))
      |          ELSE SUM(n.x * SIN(-2*PI()*n.j*(c.coef//2)/$w.0)) END)
      |    * (1.0/SQRT($w)) * (CASE WHEN c.coef % 2 = 1 THEN -1.0 ELSE 1.0 END) AS v
      |  FROM snx n CROSS JOIN coefs c
      |  GROUP BY n.user_id, n.win, c.coef
      |)$ssymCte, sword AS (
      |  SELECT user_id, win,
      |    CAST(SUM(symbol * (CAST(1 AS BIGINT) << CAST(2 * coef AS INTEGER))) AS BIGINT) AS word
      |  FROM ssym GROUP BY 1, 2
      |), snum AS (
      |  SELECT user_id, win, word,
      |    LAG(word) OVER (PARTITION BY user_id ORDER BY win) AS prev
      |  FROM sword
      |), bags AS (
      |  SELECT user_id, word, COUNT(*) AS cnt FROM snum
      |  WHERE prev IS NULL OR prev <> word
      |  GROUP BY 1, 2
      |)""".stripMargin

  private[queries] val slidingCtes = slidingCtesFor(W)

  /** 1-NN continuation over the sliding bags (odd users = test, even =
    * train); asymmetric distance with the reference's guards.
    */
  private val nnCtes =
    """, tb AS (SELECT * FROM bags WHERE user_id % 2 = 1
      |), nb AS (SELECT * FROM bags WHERE user_id % 2 = 0
      |), nm AS (SELECT user_id AS test_id, SUM(cnt*cnt) AS no_match FROM tb GROUP BY 1
      |), pr AS (
      |  SELECT t.user_id AS test_id, n.user_id AS train_id,
      |    SUM((t.cnt - n.cnt)*(t.cnt - n.cnt) - t.cnt*t.cnt) AS delta
      |  FROM tb t JOIN nb n ON t.word = n.word
      |  GROUP BY 1, 2
      |), pd AS (
      |  SELECT p.test_id, p.train_id, p.delta + m.no_match AS dist
      |  FROM pr p JOIN nm m ON p.test_id = m.test_id
      |  WHERE p.delta + m.no_match <> m.no_match AND p.delta + m.no_match > 0
      |), nn AS (
      |  SELECT test_id, train_id AS nn_id, dist,
      |    ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS rn
      |  FROM pd
      |)""".stripMargin

  private val t2Sql = prefix + slidingCtes +
    s"\nSELECT user_id, win, coef, ${jroundSql("v", 4)} AS v FROM sdft ORDER BY user_id, win, coef"

  private val t3Sql = prefix +
    s"\nSELECT user_id, win, coef, ${jroundSql("v", 6)} AS v FROM ddft ORDER BY user_id, win, coef"

  private[queries] val f2Sql = prefix +
    "\nSELECT coef, pos, edge FROM bounds ORDER BY coef, pos"

  private val t8Sql = prefix +
    """
      |, dsym AS (
      |  SELECT d.user_id, d.win, d.coef,
      |    SUM(CASE WHEN b.edge IS NOT NULL AND d.v >= b.edge THEN 1 ELSE 0 END) AS symbol
      |  FROM ddft d LEFT JOIN bounds b ON d.coef = b.coef
      |  GROUP BY 1, 2, 3
      |)
      |SELECT user_id, win,
      |  CAST(SUM(symbol * (CAST(1 AS BIGINT) << CAST(2 * coef AS INTEGER))) AS BIGINT) AS word
      |FROM dsym GROUP BY 1, 2 ORDER BY user_id, win""".stripMargin

  private val a1Sql = prefix + slidingCtes +
    "\nSELECT user_id, word, cnt FROM bags ORDER BY user_id, word"

  private val f6sparseSql = prefix + slidingCtes +
    """
      |, uni AS (SELECT DISTINCT user_id, user_id % 3 AS cls FROM bags)
      |, csz AS (SELECT cls, COUNT(*) AS n_c FROM uni GROUP BY 1)
      |, ntot AS (SELECT COUNT(*) AS n FROM uni)
      |, gg AS (
      |  SELECT word, user_id % 3 AS cls,
      |    CAST(SUM(cnt) AS BIGINT) AS s_gc,
      |    CAST(SUM(cnt*cnt) AS BIGINT) AS ssq
      |  FROM bags GROUP BY 1, 2)
      |, ws AS (
      |  SELECT gg.word,
      |    CAST(SUM(gg.ssq) AS BIGINT) AS ssqt,
      |    CAST(SUM(gg.s_gc) AS BIGINT) AS stot,
      |    SUM(CAST(gg.s_gc AS DOUBLE) * gg.s_gc / c.n_c) AS sb
      |  FROM gg JOIN csz c ON gg.cls = c.cls GROUP BY 1)
      |SELECT ws.word,
      |  FLOOR((CASE WHEN (ws.ssqt - ws.sb) = 0 THEN 0.0
      |    ELSE ((ws.sb - CAST(ws.stot AS DOUBLE) * ws.stot / n.n) / 2.0)
      |         / ((ws.ssqt - ws.sb) / (n.n - 3.0)) END) * 1e4 + 0.5) / 1e4 AS f_stat
      |FROM ws, ntot n ORDER BY ws.word""".stripMargin

  private val j1Sql = prefix + slidingCtes + nnCtes +
    "\nSELECT test_id, nn_id, CAST(dist AS BIGINT) AS dist FROM nn WHERE rn = 1 ORDER BY test_id"

  private val a6Sql = prefix + slidingCtes + nnCtes +
    """
      |, tot AS (
      |  SELECT COUNT(*) AS total FROM (
      |    SELECT user_id FROM e WHERE user_id % 2 = 1 GROUP BY user_id HAVING COUNT(*) >= 16)
      |)
      |SELECT
      |  CAST(SUM(CASE WHEN nn_id % 3 = test_id % 3 THEN 1 ELSE 0 END) AS BIGINT) AS correct,
      |  tot.total AS total,
      |  FLOOR(CAST(SUM(CASE WHEN nn_id % 3 = test_id % 3 THEN 1 ELSE 0 END) AS DOUBLE) / tot.total * 1e6 + 0.5) / 1e6 AS acc
      |FROM nn, tot WHERE rn = 1 GROUP BY tot.total""".stripMargin

  // ---- O1: orderline sort ---------------------------------------------

  /** (coef, rn, v2, label): the quantizer-fit orderline sorted by
    * (value, label) (SFA.java:233-246) — tied (v2, label) pairs permute
    * rn freely but emit an identical row set.
    */
  private def o1(s: SparkSession, dir: String): DataFrame = {
    val byVal = org.apache.spark.sql.expressions.Window
      .partitionBy("coef").orderBy(col("v2").asc, col("label").asc)
    disjointApprox(s, dir)
      .select(col("coef").cast("long").as("coef"), jround(col("v"), 2).as("v2"),
        (col("user_id") % 3).as("label"))
      .withColumn("rn", row_number().over(byVal).cast("long"))
      .select(col("coef"), col("rn"), col("v2"), col("label"))
      .orderBy("coef", "rn")
  }

  private val o1Sql = prefix +
    """
      |SELECT coef, CAST(ROW_NUMBER() OVER (PARTITION BY coef ORDER BY FLOOR(v * 1e2 + 0.5) / 1e2, user_id % 3) AS BIGINT) AS rn,
      |  FLOOR(v * 1e2 + 0.5) / 1e2 AS v2, user_id % 3 AS label
      |FROM ddft ORDER BY coef, rn""".stripMargin

  // ---- T9: supervised quantization (ANOVA-F selected coefficients) ----

  /** ANOVA-F per coefficient with label = user_id % 3, keep msw > 0
    * (drops the constant slots the reference's NaN filter drops), top-4
    * by (F desc, coef asc); quantize only those coefficients against the
    * equi-depth bins, pack symbols in F-rank order
    * (SFASupervised.java:38-54,70-88; the grid/CV form is
    * [[graft.sfa.Weasel.fitQuantizersGrid]]).
    */
  private def t9(s: SparkSession, dir: String): DataFrame = {
    val approx = disjointApprox(s, dir)
    val perClass = approx
      .groupBy(col("coef"), (col("user_id") % 3).as("g"))
      .agg(count(lit(1)).as("n_g"), sum("v").as("s_g"),
        sum(col("v") * col("v")).as("ssq_g"))
    val f = perClass.groupBy("coef")
      .agg(count(lit(1)).as("k"), sum("n_g").as("n"), sum("s_g").as("s"),
        sum("ssq_g").as("ssq"), sum(col("s_g") * col("s_g") / col("n_g")).as("sb"))
      .withColumn("msb", (col("sb") - col("s") * col("s") / col("n")) / (col("k") - 1))
      .withColumn("msw", (col("ssq") - col("sb")) / (col("n") - col("k")))
      .filter(col("k") > 1 && col("n") > col("k") && col("msw") > 0)
      .withColumn("f", col("msb") / col("msw"))
    val byF = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("coef").asc)
    val sel = f.withColumn("rk", row_number().over(byF))
      .filter(col("rk") <= 4).select("coef", "rk")
    // one row: the selected coefficients in F-rank order and their edges
    // rows in the same order — none when no coefficient passes the filter
    val ranked = sel
      .agg(sort_array(collect_list(struct(col("rk"), col("coef")))).getField("coef").as("coefs"))
      .filter(size(col("coefs")) > 0)
      .crossJoin(SFAOps.edgesRows(binsDF(approx), Bits))
      .select(col("coefs"), expr("transform(coefs, " +
        "c -> coalesce(try_element_at(edges, c + 1), cast(array() AS ARRAY<DOUBLE>)))").as("edges"))
    SFAOps.disjointApproxArrays(series(s, dir), W, L, normMean = false)
      .crossJoin(broadcast(ranked))
      .select(col("user_id"), col("win").cast("long").as("win"),
        SFAOps.wordCol(SFAOps.selectCoefsCol(col("approx"), col("coefs")), col("edges"), Bits)
          .as("word"))
      .orderBy("user_id", "win")
  }

  private val t9Sql = prefix +
    """
      |, ag AS (
      |  SELECT coef, user_id % 3 AS g, COUNT(*) AS n_g, SUM(v) AS s_g, SUM(v*v) AS ssq_g
      |  FROM ddft GROUP BY 1, 2
      |), af AS (
      |  SELECT coef, COUNT(*) AS k, SUM(n_g) AS n, SUM(s_g) AS s,
      |    SUM(ssq_g) AS ssq, SUM(s_g * s_g / n_g) AS sb
      |  FROM ag GROUP BY 1
      |), ff AS (
      |  SELECT coef,
      |    ((sb - s*s/n) / (k - 1)) / ((ssq - sb) / (n - k)) AS f
      |  FROM af WHERE k > 1 AND n > k AND (ssq - sb) / (n - k) > 0
      |), sel AS (
      |  SELECT coef, rk FROM (
      |    SELECT coef, ROW_NUMBER() OVER (ORDER BY f DESC, coef ASC) AS rk FROM ff) r
      |  WHERE rk <= 4
      |), t9sym AS (
      |  SELECT d.user_id, d.win, se.rk,
      |    SUM(CASE WHEN b.edge IS NOT NULL AND d.v >= b.edge THEN 1 ELSE 0 END) AS symbol
      |  FROM ddft d JOIN sel se ON d.coef = se.coef
      |  LEFT JOIN bounds b ON b.coef = d.coef
      |  GROUP BY 1, 2, 3
      |)
      |SELECT user_id, win,
      |  CAST(SUM(symbol * (CAST(1 AS BIGINT) << CAST(2 * (rk - 1) AS INTEGER))) AS BIGINT) AS word
      |FROM t9sym GROUP BY 1, 2 ORDER BY user_id, win""".stripMargin

  // ---- P6: word truncation mask ---------------------------------------

  private val MaskLen = 6 // keep the first 6 of 8 symbols (12 of 16 bits)

  /** Truncate sliding words to $MaskLen symbols (BOSS.java:122-141:
    * `word & ((1 << bits·l) − 1)` — masked BEFORE numerosity, so shorter
    * words merge adjacent windows the full words kept apart), then bag.
    */
  private def p6(s: SparkSession, dir: String): DataFrame =
    SFAOps.bagOfWords(
      slidingWords(s, dir).withColumn("word", col("word") % (1L << (2 * MaskLen))))
      .select(col("user_id"), col("word"), col("cnt"))
      .orderBy("user_id", "word")

  private val p6Sql = prefix + slidingCtes +
    s"""
      |, mword AS (SELECT user_id, win, word % ${1L << (2 * MaskLen)} AS word FROM sword
      |), mnum AS (
      |  SELECT user_id, win, word,
      |    LAG(word) OVER (PARTITION BY user_id ORDER BY win) AS prev
      |  FROM mword
      |)
      |SELECT user_id, word, COUNT(*) AS cnt FROM mnum
      |WHERE prev IS NULL OR prev <> word
      |GROUP BY 1, 2 ORDER BY user_id, word""".stripMargin

  // ---- F4: information-gain binning (rows-only) -----------------------

  /** Info-gain bin edges per coefficient (SFA.java:455-557): recursive
    * best-entropy split on the (value, label) orderline. The alphabet-4
    * recursion is exactly two levels deep, so the DuckDB oracle unrolls
    * it ([[f4Sql]]); reference semantics also asserted by SFASpec.
    */
  private def f4(s: SparkSession, dir: String): DataFrame =
    disjointApprox(s, dir)
      .select(col("coef"), jround(col("v"), 2).as("v2"),
        (col("user_id") % 3).cast("double").as("label"))
      .groupBy("coef")
      .agg(SFAOps.edgesCol(collect_list(struct(col("v2"), col("label"))), Alpha,
        HistogramType.InformationGain).as("edges"))
      .select(col("coef").cast("long").as("coef"), posexplode(col("edges")).as(Seq("pos", "edge")))
      .filter(col("edge") =!= Double.MaxValue)
      .select(col("coef"), col("pos").cast("long").as("pos"), round(col("edge"), 6).as("edge"))
      .orderBy("coef", "pos")

  /** Entropy term −Σ p·log₂p replicated with the reference's exact
    * guards (SFA.java entropy(): a class term joins only when
    * count > 0 AND its total > 0; count > 0 with total = 0 yields +∞,
    * matching c/0.0 = ∞ on the JVM).
    */
  private def entSql(c0: String, c1: String, c2: String, t: String): String = {
    def term(c: String) =
      s"""(CASE WHEN ($c) > 0 AND ($t) > 0
         |  THEN (CAST($c AS DOUBLE)/($t)) * LN(CAST($c AS DOUBLE)/($t)) / LN(2)
         |  WHEN ($c) > 0 AND ($t) = 0 THEN CAST('infinity' AS DOUBLE)
         |  ELSE 0 END)""".stripMargin
    s"(-(${term(c0)} + ${term(c1)} + ${term(c2)}))"
  }

  /** Best info-gain split of each segment in `seg` (coef, s, e), with
    * SFA.java:495-536's exact semantics: scan positions s+1..e−2 where
    * the label changes; in-split total = ABSOLUTE index p+1 (the
    * reference's scan-index quirk, SFA.java:528); gain rounded to 3
    * decimals half-up (NaN → 0, matching Math.round(NaN) = 0); best =
    * max gain ≥ −1 with later positions winning ties (`>=` update).
    */
  private def bestSplitCtes(seg: String, sfx: String): String =
    s""", cand$sfx AS (
      |  SELECT g.coef, g.s, g.e, r.idx AS p,
      |    (re.r0 - COALESCE(rs.r0, 0)) AS s0, (re.r1 - COALESCE(rs.r1, 0)) AS s1,
      |    (re.r2 - COALESCE(rs.r2, 0)) AS s2,
      |    (r.r0 - COALESCE(rs.r0, 0)) AS i0, (r.r1 - COALESCE(rs.r1, 0)) AS i1,
      |    (r.r2 - COALESCE(rs.r2, 0)) AS i2,
      |    CAST(g.e - g.s AS DOUBLE) AS tot,
      |    CAST(r.idx + 1 AS DOUBLE) AS tin,
      |    CAST(g.e - g.s AS DOUBLE) - CAST(r.idx + 1 AS DOUBLE) AS tout
      |  FROM $seg g
      |  JOIN olrun r ON r.coef = g.coef AND r.idx BETWEEN g.s + 1 AND g.e - 2
      |    AND r.label <> r.plabel
      |  JOIN olrun re ON re.coef = g.coef AND re.idx = g.e - 1
      |  LEFT JOIN olrun rs ON rs.coef = g.coef AND rs.idx = g.s - 1
      |), gain$sfx AS (
      |  SELECT coef, s, e, p,
      |    CASE WHEN ISNAN(graw * 1000.0) THEN 0.0
      |         ELSE FLOOR(graw * 1000.0 + 0.5) / 1000.0 END AS gain
      |  FROM (
      |    SELECT *,
      |      (${entSql("s0", "s1", "s2", "tot")}
      |       - (tin / tot) * ${entSql("i0", "i1", "i2", "tin")}
      |       - (tout / tot) * ${entSql("s0 - i0", "s1 - i1", "s2 - i2", "tout")}) AS graw
      |    FROM cand$sfx)
      |), best$sfx AS (
      |  SELECT coef, s, e, p FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY coef, s, e
      |      ORDER BY gain DESC, p DESC) AS rn
      |    FROM gain$sfx WHERE gain >= -1.0)
      |  WHERE rn = 1
      |)""".stripMargin

  /** F4 oracle: the two-level (alphabet 4) info-gain recursion unrolled —
    * root split over the full orderline, then the reference's child
    * segments (incl. its odd small-segment fallback boundaries,
    * SFA.java:539-553), each via [[bestSplitCtes]]; edges = orderline
    * value at split+1, positions = ascending split rank.
    */
  private val f4Sql = prefix +
    s"""
      |, olf AS (
      |  SELECT coef, ${jroundSql("v", 2)} AS v2,
      |    CAST(user_id % 3 AS DOUBLE) AS label
      |  FROM ddft
      |), olsrt AS (
      |  SELECT coef, v2, label,
      |    ROW_NUMBER() OVER (PARTITION BY coef ORDER BY v2, label) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY coef) AS n
      |  FROM olf
      |), olrun AS (
      |  SELECT coef, v2, label, idx, n,
      |    SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) OVER w AS r0,
      |    SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) OVER w AS r1,
      |    SUM(CASE WHEN label = 2 THEN 1 ELSE 0 END) OVER w AS r2,
      |    LAG(label) OVER w AS plabel
      |  FROM olsrt
      |  WINDOW w AS (PARTITION BY coef ORDER BY idx)
      |), olcnt AS (SELECT coef, MAX(n) AS n FROM olsrt GROUP BY coef
      |), seg0 AS (SELECT coef, CAST(0 AS BIGINT) AS s, n AS e FROM olcnt)""".stripMargin +
    bestSplitCtes("seg0", "0") +
    s"""
      |, seg1 AS (
      |  SELECT coef, s, e FROM (
      |    SELECT b.coef,
      |      CASE WHEN b.p > 2 AND c.n - b.p > 2 THEN CAST(0 AS BIGINT)
      |           WHEN c.n - b.p > 4 THEN b.p
      |           WHEN b.p > 4 THEN CAST(0 AS BIGINT) END AS s,
      |      CASE WHEN b.p > 2 AND c.n - b.p > 2 THEN b.p
      |           WHEN c.n - b.p > 4 THEN (c.n - b.p) // 2
      |           WHEN b.p > 4 THEN b.p // 2 END AS e
      |    FROM best0 b JOIN olcnt c USING (coef)
      |    UNION ALL
      |    SELECT b.coef,
      |      CASE WHEN b.p > 2 AND c.n - b.p > 2 THEN b.p
      |           WHEN c.n - b.p > 4 THEN (c.n - b.p) // 2
      |           WHEN b.p > 4 THEN b.p // 2 END AS s,
      |      CASE WHEN b.p > 2 AND c.n - b.p > 2 THEN c.n
      |           WHEN c.n - b.p > 4 THEN c.n
      |           WHEN b.p > 4 THEN c.n END AS e
      |    FROM best0 b JOIN olcnt c USING (coef))
      |  WHERE s IS NOT NULL)""".stripMargin +
    bestSplitCtes("seg1", "1") +
    s"""
      |, spl AS (
      |  SELECT coef, p FROM best0
      |  UNION ALL
      |  SELECT coef, p FROM best1
      |)
      |SELECT sp.coef, sp.pos, r.v2 AS edge FROM (
      |  SELECT coef, p,
      |    ROW_NUMBER() OVER (PARTITION BY coef ORDER BY p) - 1 AS pos
      |  FROM spl) sp
      |JOIN olrun r ON r.coef = sp.coef AND r.idx = sp.p + 1
      |WHERE sp.pos <= 2
      |ORDER BY sp.coef, sp.pos""".stripMargin

  // ---- P2: sliding-window extraction ----------------------------------

  /** Every complete sliding window, z-normed with the precomputed
    * per-window σ (TimeSeries.java:191-213; normMean=false ⇒ σ-division
    * only). Output (user_id, win, j, x).
    */
  private def p2(s: SparkSession, dir: String): DataFrame = {
    val winUdf = udf { (data: Seq[Double]) =>
      val arr = data.toArray
      Array.tabulate(arr.length - W + 1)(t => SFA.znormWindow(arr, t, W, normMean = false))
    }
    series(s, dir).filter(size(col("data")) >= W)
      .select(col("user_id"), posexplode(winUdf(col("data"))).as(Seq("win", "wdata")))
      .select(col("user_id"), col("win").cast("long").as("win"),
        posexplode(col("wdata")).as(Seq("j", "x")))
      .select(col("user_id"), col("win"), col("j").cast("long").as("j"),
        jround(col("x"), 6).as("x"))
      .orderBy("user_id", "win", "j")
  }

  private val p2Sql = prefix + slidingCtes +
    s"\nSELECT user_id, win, j, ${jroundSql("x", 6)} AS x FROM snx ORDER BY user_id, win, j"

  // ---- P5: subsequence slice ------------------------------------------

  private val SliceFrom = 8

  /** Fixed-offset z-normed subsequence (TimeSeries.java:177-182, the
    * TEASER truncation): slice [8, 24), full z-norm (mean subtracted).
    */
  private def p5(s: SparkSession, dir: String): DataFrame = {
    val sliceUdf = udf { (data: Seq[Double]) =>
      graft.ts.Loaders.znorm(data.slice(SliceFrom, SliceFrom + W).toArray)
    }
    series(s, dir).filter(size(col("data")) >= SliceFrom + W)
      .select(col("user_id"), posexplode(sliceUdf(col("data"))).as(Seq("j", "x")))
      .select(col("user_id"), col("j").cast("long").as("j"), jround(col("x"), 6).as("x"))
      .orderBy("user_id", "j")
  }

  private val p5Sql =
    s"""WITH e AS (
      |  SELECT user_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), sub AS (
      |  SELECT user_id, idx - $SliceFrom AS j, value
      |  FROM e WHERE n >= ${SliceFrom + W} AND idx >= $SliceFrom AND idx < ${SliceFrom + W}
      |), sst AS (
      |  SELECT user_id, SUM(value)/$W.0 AS mean,
      |    SQRT(GREATEST(SUM(value*value)/$W.0 - (SUM(value)/$W.0)*(SUM(value)/$W.0), 0.0)) AS std
      |  FROM sub GROUP BY 1
      |)
      |SELECT s.user_id, s.j,
      |  FLOOR((s.value - t.mean) * (CASE WHEN t.std <> 0 THEN 1.0/t.std ELSE 1.0 END) * 1e6 + 0.5) / 1e6 AS x
      |FROM sub s JOIN sst t ON s.user_id = t.user_id
      |ORDER BY s.user_id, s.j""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "p2_sliding_windows" -> QueryDef.sql(p2, p2Sql),
    "p5_subsequence_slice" -> QueryDef.sql(p5, p5Sql),
    "t3_dft_window" -> QueryDef.sql(t3, t3Sql),
    "f2_equidepth_bins" -> QueryDef.sql(f2, f2Sql),
    "t8_sfa_words" -> QueryDef.sql(t8, t8Sql),
    "t2_mft_sliding" -> QueryDef.sql(t2, t2Sql,
      "MFT recurrence sliding transform vs the oracle's per-window direct " +
        "DFT — the cross-engine form of the FourierSpec MFT≡DFT parity gate; " +
        "4-decimal rounding leaves ~7 orders of magnitude headroom over the " +
        "recurrence's FP drift"),
    "a1_sfa_bags" -> QueryDef.sql(a1, a1Sql),
    "f6_anova_f_sparse" -> QueryDef.sql(f6sparse, f6sparseSql,
      "sparse one-way ANOVA F over bag-of-pattern keys (getFonewaySparse)"),
    "j1_nn_sfa_join" -> QueryDef.sql(j1, j1Sql),
    "a6_accuracy_eval" -> QueryDef.sql(a6, a6Sql),
    "o1_orderline" -> QueryDef.sql(o1, o1Sql),
    "t9_supervised_words" -> QueryDef.sql(t9, t9Sql),
    "p6_word_mask" -> QueryDef.sql(p6, p6Sql),
    "f4_infogain_bins" -> QueryDef.sql(f4, f4Sql,
      "recursive entropy-split binning, alphabet-4 recursion unrolled to " +
        "two SQL levels incl. the reference's scan-index and NaN-gain " +
        "quirks; also asserted by SFASpec"))
}
