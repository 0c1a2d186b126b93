package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Pipelines, QueryDef}

/** WEASEL feature-space queries (SURVEY §2.4/§2.6/§2.7) over the events
  * series' sliding SFA words (single config, see [[SfaQ]]). The full
  * grid/CV classifier lives in [[graft.sfa.Weasel]] (golden-gated by
  * WeaselGoldenSpec); these expose the operator shapes through the
  * driver's oracle contract.
  *
  *  - a2_bigram_bags → WEASEL uni+bigram bag (WEASEL.java:142-215):
  *    unigram key = word << (binlog(maxWindowLen)+1) | windowIdx (one
  *    window ⇒ idx 0), bigram key = prevWord << 32 | unigramKey with
  *    prev at offset − windowLength; no numerosity reduction.
  *  - o4_feature_cap → χ² top-k cap split by uni/bigram
  *    (WEASEL.java:287-324): the reference caps 10000+10000; scaled to
  *    20+20 at test SF. Expected counts computed in DOUBLE (wtot·ltot
  *    at 100 TB overflows int64).
  *  - f9_word_dict → dense feature ids over the selected keys
  *    (WEASEL.java:497-543): dictionary = row_number over sorted keys.
  *  - f12_logreg_score → multinomial logistic regression on the capped
  *    dictionary features, even users train / odd test
  *    (Classifier.java:355-430; J3 scoring = argmax of the linear
  *    decision values). The trainer here is T full-batch gradient
  *    descent steps with INTEGER-DETERMINISTIC arithmetic (weights in
  *    1e-6 units, probabilities half-up-rounded to 1e-9, all sums over
  *    BIGINT) so the whole train+score pipeline has a DuckDB hash
  *    oracle — the t5/t7 integer-cents determinism rule applied to an
  *    iterative fit. Each GD step is one shuffle (gradient groupBy);
  *    the weight vector is the only driver-side state (model-sized,
  *    ≤ 3·2·TopK entries). The production classifiers use MLlib L-BFGS
  *    via [[graft.sfa.LinModel]] (golden-gated on CBF — iteration
  *    counts of a quasi-Newton solver are not cross-engine
  *    reproducible, a fixed GD schedule is).
  */
object WeaselQ {

  private val WinLen = 16
  private val UniShift = 32L // 1 << (binlog(16) + 1)
  private val BigShift = 4294967296L // 1 << 32
  private val TopK = 20

  /** (user_id, key, cnt) uni+bigram bags. The sliding-words input is
    * cached — it feeds both the unigram and bigram branches.
    */
  private def bags(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"weasel.bags:$dir") {
    val words = SfaQ.slidingWords(s, dir)
    val byWin = Window.partitionBy("user_id").orderBy("win")
    val uni = words.select(col("user_id"), (col("word") * UniShift).as("key"))
    val big = words
      .withColumn("prev", lag(col("word"), WinLen).over(byWin))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("prev") * BigShift + col("word") * UniShift).as("key"))
    uni.unionByName(big)
      .groupBy("user_id", "key")
      .agg(count(lit(1)).as("cnt"))
    }

  private def a2(s: SparkSession, dir: String): DataFrame =
    bags(s, dir).orderBy("user_id", "key")

  /** (key, is_bigram, chi2, rn): χ² of key counts vs class (user_id%3),
    * zero cells included, top-$TopK per uni/bigram partition.
    */
  private def chiRanked(s: SparkSession, dir: String): DataFrame = {
    // tracked result (no UDFs → re-runs canonicalize equal, so o4/f9
    // and their repeats reuse the materialized ranking). The ranking key
    // is a raw double χ² sum, so changing the shuffle/AQE shape changes
    // its summation order — the one thing an optimization round must not
    // do (observed: rn flip at sf0.01 with AQE off and 8 partitions).
    val res = Pipelines.tracked(s, chiRankedFrom(bags(s, dir)))
    res.count()
    res
  }

  /** `cell` is cached: wt / lt / nt / the join all consume it — without
    * the cache each consumer re-runs the whole sliding-words pipeline.
    */
  private def chiRankedFrom(bagsDF: DataFrame): DataFrame = {
    val cell = graft.util.Pipelines.tracked(bagsDF.sparkSession, bagsDF
      .groupBy((col("user_id") % 3).as("cls"), col("key"))
      .agg(sum(col("cnt")).as("obs")))
    cell.count() // materialize before the concurrently-submitted chi² subtrees
    val wt = cell.groupBy("key").agg(sum(col("obs")).as("wtot"))
    val lt = cell.groupBy("cls").agg(sum(col("obs")).as("ltot"))
    val nt = cell.agg(sum(col("obs")).as("n"))
    val chi = wt.crossJoin(lt).crossJoin(nt)
      .join(cell, Seq("key", "cls"), "left")
      .na.fill(0L, Seq("obs"))
      .withColumn("exp", col("wtot").cast("double") * col("ltot") / col("n"))
      .groupBy("key")
      .agg(sum((col("obs") - col("exp")) * (col("obs") - col("exp")) / col("exp")).as("chi2"))
    val isBig = when(col("key") >= BigShift, 1L).otherwise(0L)
    chi.withColumn("is_bigram", isBig)
      .withColumn("rn", row_number()
        .over(Window.partitionBy("is_bigram").orderBy(col("chi2").desc, col("key").asc))
        .cast("long"))
      .filter(col("rn") <= TopK)
  }

  private def o4(s: SparkSession, dir: String): DataFrame =
    chiRanked(s, dir)
      .select(col("key"), col("is_bigram"), graft.util.Rnd.jround(col("chi2"), 6).as("chi2"), col("rn"))
      .orderBy("key")

  private def f9(s: SparkSession, dir: String): DataFrame =
    chiRanked(s, dir)
      .select(col("key"))
      .withColumn("fid", row_number().over(Window.orderBy("key")).cast("long"))
      .orderBy("key")

  private val GdIters = 3
  private val NClasses = 3

  // ---- deterministic exp -----------------------------------------------
  // libm exp() is not correctly rounded: the JVM intrinsic and DuckDB's
  // C-library exp may differ in the last ulp, and the softmax's 1e-9
  // half-up rounding can amplify a 1-ulp difference into a flipped
  // prediction. Both engines therefore evaluate the SAME finite op
  // tree: range reduction by an integer step (z = -n + f, f ∈ (-1, 0]),
  // a 51-entry table of exp(-n) CONSTANTS (printed from this JVM into
  // the SQL text, so the table is shared by construction, whatever libm
  // produced), and a degree-13 Horner polynomial for exp(f). +, ×, /
  // are IEEE-exact in both engines, so the results are bit-identical.
  // z < -50 clamps to -50 (exp(-50) ≈ 2e-22 — rounds to 0 at 1e-9
  // anyway).
  private val ExpTable: Array[Double] = Array.tabulate(51)(n => math.exp(-n.toDouble))
  private val PolyCoef: Array[Double] = {
    val a = new Array[Double](14)
    a(0) = 1.0
    for (k <- 1 until 14) a(k) = a(k - 1) / k
    a
  }
  private val detExp: Double => Double = {
    val et = ExpTable; val pc = PolyCoef
    z => {
      val zc = if (z < -50.0) -50.0 else z
      val n = math.floor(-zc).toInt
      val f = zc + n
      var p = pc(13)
      var k = 12
      while (k >= 0) { p = pc(k) + f * p; k -= 1 }
      et(n) * p
    }
  }
  private def dts(d: Double): String = java.lang.Double.toString(d)
  /** exp(f) Horner expression over SQL term `f` — the same nesting the
    * Scala loop evaluates. */
  private def hornerSql(f: String): String =
    (12 to 0 by -1).foldLeft(dts(PolyCoef(13))) {
      (inner, k) => s"${dts(PolyCoef(k))} + $f * ($inner)"
    }
  private val etabSql: String =
    (0 to 50).map(n => s"($n, ${dts(ExpTable(n))})").mkString(", ")
  // η = 0.01: Δwi = round(gradInt / (1e5 · nTrain)) in 1e-6 weight units
  // (gradInt carries probabilities ×1e9, weights ×1e6 → 1e9·η/1e6 = 1e5)

  private def f12(s: SparkSession, dir: String): DataFrame =
    // keyed session cache (the j1 precedent): the GD fit broadcasts a
    // fresh weight matrix per iteration per call, so re-run plans never
    // canonicalize equal — without the key every re-run re-ran the
    // whole fit (GdIters collect+broadcast rounds) against warm inputs
    graft.util.Pipelines.cachedDF(s, s"weasel.f12:$dir") { f12Body(s, dir) }
      .orderBy("test_id")

  private def f12Body(s: SparkSession, dir: String): DataFrame = {
    val bagsDF = bags(s, dir)
    val dict = chiRankedFrom(bagsDF)
      .select(col("key"))
      .withColumn("fid", (row_number().over(Window.orderBy("key")) - 1).cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dim = dict.size
    val bcDict = s.sparkContext.broadcast(dict)
    val fidUdf = udf { k: Long => bcDict.value.get(k) }
    // one cached row per series: dict-mapped sparse (fid, x) pairs
    val byUser = graft.util.Pipelines.tracked(s, bagsDF
      .withColumn("fid", fidUdf(col("key")))
      .groupBy("user_id")
      .agg(collect_list(when(col("fid").isNotNull,
        struct(col("fid"), col("cnt")))).as("fx"))
      .withColumn("cls", (col("user_id") % NClasses).cast("int")))
    val nTrain = byUser.filter(col("user_id") % 2 === 0).count()

    // function VAL (serializable) — a local def would drag the
    // enclosing object into the UDF closures
    val margins: (Array[Array[Long]], Seq[org.apache.spark.sql.Row]) => Array[Long] = (wv, fx) => {
      val mi = new Array[Long](NClasses)
      fx.foreach { r =>
        val f = r.getInt(0); val x = r.getLong(1)
        var c = 0
        while (c < NClasses) { mi(c) += wv(c)(f) * x; c += 1 }
      }
      mi
    }

    var w: Array[Array[Long]] = Array.fill(NClasses)(new Array[Long](dim))
    for (_ <- 1 to GdIters) {
      val bcW = s.sparkContext.broadcast(w)
      // per-sample contribs (fid, c, (pr_c − y_c·1e9)·x); pr = half-up
      // 1e-9-rounded softmax of the integer margins — the only
      // non-integer step is [[detExp]], bit-identical across engines
      val dexp = detExp
      val gradUdf = udf { (fx: Seq[org.apache.spark.sql.Row], cls: Int) =>
        val mi = margins(bcW.value, fx)
        val mx = mi.max
        val e = Array.tabulate(NClasses)(c => dexp((mi(c) - mx).toDouble / 1e6))
        val se = e(0) + e(1) + e(2)
        val pr = Array.tabulate(NClasses)(c => math.floor(e(c) / se * 1e9 + 0.5).toLong)
        fx.flatMap { r =>
          val f = r.getInt(0); val x = r.getLong(1)
          (0 until NClasses).map { c =>
            (f, c, (pr(c) - (if (c == cls) 1000000000L else 0L)) * x)
          }
        }
      }
      // one shuffle per GD step; the collected gradient is model-sized
      val grads = byUser.filter(col("user_id") % 2 === 0)
        .select(explode(gradUdf(col("fx"), col("cls"))).as("g"))
        .groupBy(col("g._1").as("fid"), col("g._2").as("c"))
        .agg(sum(col("g._3")).as("gi"))
        .collect()
      val nw = w.map(_.clone())
      grads.foreach { r =>
        val f = r.getInt(0); val c = r.getInt(1); val gi = r.getLong(2)
        nw(c)(f) -= math.floor(gi.toDouble / (100000.0 * nTrain) + 0.5).toLong
      }
      w = nw
    }

    val bcW = s.sparkContext.broadcast(w)
    // J3: argmax of the integer decision values, tie → smallest class
    val predUdf = udf { (fx: Seq[org.apache.spark.sql.Row]) =>
      val mi = margins(bcW.value, fx)
      var best = 0
      var c = 1
      while (c < NClasses) { if (mi(c) > mi(best)) best = c; c += 1 }
      best.toLong
    }
    byUser.filter(col("user_id") % 2 === 1)
      .select(col("user_id").as("test_id"), predUdf(col("fx")).as("pred"))
  }

  // ---- DuckDB oracles --------------------------------------------------

  private val bagCtes =
    s""", uni AS (SELECT user_id, win, word * $UniShift AS key FROM sword
      |), big AS (
      |  SELECT user_id, win,
      |    LAG(word, $WinLen) OVER (PARTITION BY user_id ORDER BY win) * $BigShift
      |      + word * $UniShift AS key
      |  FROM sword
      |), wbag AS (
      |  SELECT user_id, key, COUNT(*) AS cnt FROM (
      |    SELECT user_id, key FROM uni
      |    UNION ALL
      |    SELECT user_id, key FROM big WHERE key IS NOT NULL) u
      |  GROUP BY 1, 2
      |)""".stripMargin

  private val chiCtes =
    s""", cellsum AS (
      |  SELECT user_id % 3 AS cls, key, SUM(cnt) AS obs FROM wbag GROUP BY 1, 2
      |), wt AS (SELECT key, SUM(obs) AS wtot FROM cellsum GROUP BY 1
      |), lt AS (SELECT cls, SUM(obs) AS ltot FROM cellsum GROUP BY 1
      |), nt AS (SELECT SUM(obs) AS n FROM cellsum
      |), chi AS (
      |  SELECT w.key,
      |    SUM((COALESCE(c.obs, 0) - CAST(w.wtot AS DOUBLE) * l.ltot / n.n)
      |      * (COALESCE(c.obs, 0) - CAST(w.wtot AS DOUBLE) * l.ltot / n.n)
      |      / (CAST(w.wtot AS DOUBLE) * l.ltot / n.n)) AS chi2
      |  FROM wt w CROSS JOIN lt l CROSS JOIN nt n
      |  LEFT JOIN cellsum c ON c.key = w.key AND c.cls = l.cls
      |  GROUP BY 1
      |), ranked AS (
      |  SELECT key, CASE WHEN key >= $BigShift THEN 1 ELSE 0 END AS is_bigram, chi2,
      |    CAST(ROW_NUMBER() OVER (
      |      PARTITION BY (CASE WHEN key >= $BigShift THEN 1 ELSE 0 END)
      |      ORDER BY chi2 DESC, key) AS BIGINT) AS rn
      |  FROM chi
      |)""".stripMargin

  private val a2Sql = SfaQ.prefix + SfaQ.slidingCtes + bagCtes +
    "\nSELECT user_id, key, cnt FROM wbag ORDER BY user_id, key"

  private val o4Sql = SfaQ.prefix + SfaQ.slidingCtes + bagCtes + chiCtes +
    s"""
      |SELECT key, CAST(is_bigram AS BIGINT) AS is_bigram, FLOOR(chi2 * 1e6 + 0.5) / 1e6 AS chi2, rn
      |FROM ranked WHERE rn <= $TopK ORDER BY key""".stripMargin

  private val f9Sql = SfaQ.prefix + SfaQ.slidingCtes + bagCtes + chiCtes +
    s"""
      |SELECT key, CAST(ROW_NUMBER() OVER (ORDER BY key) AS BIGINT) AS fid
      |FROM (SELECT key FROM ranked WHERE rn <= $TopK) s ORDER BY key""".stripMargin

  /** One GD step as SQL: integer margins → softmax with the e0+e1+e2
    * sum order pinned to the engine's loop order → 1e-9-rounded
    * integer probabilities → BIGINT gradient sums → half-up weight
    * update. Every cross-row aggregate is over BIGINT (order-free).
    */
  private def gdIterSql(k: Int): String =
    s""", m$k AS MATERIALIZED (
      |  SELECT g.user_id, g.c, COALESCE(SUM(w.wi * f.x), 0) AS mi
      |  FROM grid_tr g
      |  LEFT JOIN feats f ON f.user_id = g.user_id
      |  LEFT JOIN w${k - 1} w ON w.fid = f.fid AND w.c = g.c
      |  GROUP BY 1, 2
      |), z$k AS MATERIALIZED (
      |  SELECT user_id, c,
      |    GREATEST(CAST(mi - MAX(mi) OVER (PARTITION BY user_id) AS DOUBLE) / 1e6,
      |             CAST(-50.0 AS DOUBLE)) AS zc
      |  FROM m$k
      |), e$k AS MATERIALIZED (
      |  SELECT user_id, c, et.ev * (${hornerSql("q.f")}) AS e
      |  FROM (SELECT user_id, c, CAST(FLOOR(-zc) AS INTEGER) AS n,
      |               zc + FLOOR(-zc) AS f FROM z$k) q
      |  JOIN etab et USING (n)
      |), p$k AS MATERIALIZED (
      |  SELECT user_id, c, CAST(FLOOR(e / (e0 + e1 + e2) * 1e9 + 0.5) AS BIGINT) AS pr
      |  FROM e$k JOIN (
      |    SELECT user_id,
      |      SUM(CASE WHEN c = 0 THEN e END) AS e0,
      |      SUM(CASE WHEN c = 1 THEN e END) AS e1,
      |      SUM(CASE WHEN c = 2 THEN e END) AS e2
      |    FROM e$k GROUP BY 1) s USING (user_id)
      |), g$k AS MATERIALIZED (
      |  SELECT f.fid, p.c,
      |    SUM((p.pr - CASE WHEN f.user_id % $NClasses = p.c THEN 1000000000 ELSE 0 END) * f.x) AS gi
      |  FROM feats f JOIN p$k p ON p.user_id = f.user_id
      |  GROUP BY 1, 2
      |), w$k AS MATERIALIZED (
      |  SELECT w.fid, w.c,
      |    w.wi - CAST(FLOOR(CAST(COALESCE(g.gi, 0) AS DOUBLE) / (100000.0 * ntr.n) + 0.5) AS BIGINT) AS wi
      |  FROM w${k - 1} w
      |  LEFT JOIN g$k g ON g.fid = w.fid AND g.c = w.c
      |  CROSS JOIN ntr
      |)""".stripMargin

  private val f12Sql = SfaQ.prefix + SfaQ.slidingCtes + bagCtes + chiCtes +
    s"""
      |, dict AS MATERIALIZED (
      |  SELECT key, CAST(ROW_NUMBER() OVER (ORDER BY key) - 1 AS INTEGER) AS fid
      |  FROM (SELECT key FROM ranked WHERE rn <= $TopK) s
      |), feats AS MATERIALIZED (
      |  SELECT b.user_id, d.fid, b.cnt AS x FROM wbag b JOIN dict d USING (key)
      |  WHERE b.user_id % 2 = 0
      |), feats_te AS MATERIALIZED (
      |  SELECT b.user_id, d.fid, b.cnt AS x FROM wbag b JOIN dict d USING (key)
      |  WHERE b.user_id % 2 = 1
      |), uq AS MATERIALIZED (SELECT DISTINCT user_id FROM wbag
      |), cls AS MATERIALIZED (SELECT * FROM (VALUES (0), (1), (2)) AS t(c)
      |), grid_tr AS MATERIALIZED (SELECT user_id, c FROM uq CROSS JOIN cls WHERE user_id % 2 = 0
      |), grid_te AS MATERIALIZED (SELECT user_id, c FROM uq CROSS JOIN cls WHERE user_id % 2 = 1
      |), ntr AS MATERIALIZED (SELECT COUNT(*) AS n FROM uq WHERE user_id % 2 = 0
      |), etab AS MATERIALIZED (SELECT * FROM (VALUES $etabSql) AS t(n, ev)
      |), w0 AS MATERIALIZED (SELECT fid, c, CAST(0 AS BIGINT) AS wi FROM dict CROSS JOIN cls)""".stripMargin +
    (1 to GdIters).map(gdIterSql).mkString +
    s"""
      |, mf AS MATERIALIZED (
      |  SELECT g.user_id, g.c, COALESCE(SUM(w.wi * f.x), 0) AS mi
      |  FROM grid_te g
      |  LEFT JOIN feats_te f ON f.user_id = g.user_id
      |  LEFT JOIN w$GdIters w ON w.fid = f.fid AND w.c = g.c
      |  GROUP BY 1, 2
      |)
      |SELECT user_id AS test_id,
      |  CAST(MIN(CASE WHEN mi = mx THEN c END) AS BIGINT) AS pred
      |FROM (SELECT user_id, c, mi, MAX(mi) OVER (PARTITION BY user_id) AS mx FROM mf) x
      |GROUP BY 1 ORDER BY test_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "a2_bigram_bags" -> QueryDef.sql(a2, a2Sql),
    "o4_feature_cap" -> QueryDef.sql(o4, o4Sql),
    "f9_word_dict" -> QueryDef.sql(f9, f9Sql),
    "f12_logreg_score" -> QueryDef.sql(f12, f12Sql,
      "integer-deterministic full-batch GD multinomial LR on capped " +
        "dictionary features (F12+J3); MLlib path golden-gated by WeaselGoldenSpec"))
}
