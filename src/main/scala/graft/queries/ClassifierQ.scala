package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.QueryDef

/** Classifier-application queries (SURVEY §2.5/§2.6) over the events
  * series' sliding SFA bags (single config, see [[SfaQ]]; classes =
  * user_id % 3, train = even user_ids, test = odd).
  *
  *  - j2_bossvs_join → BOSS VS tf-idf class matrix + cosine scoring
  *    (BOSSVSClassifier.java:212-263): weight = (1+log10 tf) /
  *    log10(1+K/df), 0 when the word occurs in every class; L2-normed
  *    per class; score = Σ tc·nweight; argmax (ties → smaller class).
  *    The reference's `+1` on each weight shifts every class score by
  *    the same Σtc and cannot change the argmax (see
  *    [[graft.sfa.BossVS]]).
  *  - a7_earliness → per-class earliness aggregation
  *    (TEASERClassifier.java:163-189): earliness = decision offset /
  *    series length; the deterministic decision proxy is the first
  *    sliding offset whose word equals the series' final word (the
  *    cascade's real acceptance rule is golden-gated in
  *    TeaserGoldenSpec).
  *  - j4_shotgun_nn → Shotgun 1-NN join (ShotgunClassifier.java:152-238):
  *    min aligned-ED of each disjoint query window over all train
  *    positions, summed. The DuckDB oracle expands the full window ×
  *    position grid (fine at verify scale); golden gate additionally =
  *    ShotgunGoldenSpec vs the reference's asserted scores.
  */
object ClassifierQ {

  private val W = 16

  // ---- J2: BOSS VS cosine class join ----------------------------------

  private val NumClasses = 3

  private def j2(s: SparkSession, dir: String): DataFrame = {
    val bags = SfaQ.slidingBags(s, dir)
    // tracked result: the chain has no UDFs, so a re-run in a live
    // session canonicalizes equal and reuses the materialized scoring.
    // The class pick ranks by a raw double score sum, so changing the
    // shuffle/AQE shape changes its summation order — the one thing an
    // optimization round must not do (the o4 lesson).
    val res = graft.util.Pipelines.tracked(s, j2Body(bags))
    res.count()
    res
  }

  private def j2Body(bags: DataFrame): DataFrame = {
    val train = bags.filter(col("user_id") % 2 === 0)
      .withColumn("cls", col("user_id") % NumClasses)
    val tf = train.groupBy("cls", "word").agg(sum(col("cnt")).as("tf"))
    val wc = tf.groupBy("word").agg(count(lit(1)).as("wc"))
    val wt = tf.join(wc, Seq("word"))
      .withColumn("weight",
        when(col("wc") === NumClasses, lit(0.0))
          .otherwise((lit(1.0) + log10(col("tf").cast("double"))) /
            log10(lit(1.0) + lit(NumClasses) / col("wc").cast("double"))))
    val l2 = wt.groupBy("cls").agg(sqrt(sum(col("weight") * col("weight"))).as("l2"))
    val nw = wt.join(l2, Seq("cls"))
      .withColumn("nweight",
        when(col("l2") =!= 0.0, col("weight") / col("l2")).otherwise(lit(0.0)))
      .select(col("cls"), col("word"), col("nweight"))
    val test = bags.filter(col("user_id") % 2 === 1)
      .select(col("user_id").as("test_id"), col("word"), col("cnt"))
    val classes = nw.select(col("cls")).distinct()
    val scores = test.crossJoin(broadcast(classes))
      .join(nw, Seq("cls", "word"), "left")
      .na.fill(0.0, Seq("nweight"))
      .groupBy("test_id", "cls")
      .agg(sum(col("cnt") * col("nweight")).as("score"))
    val byScore = Window.partitionBy("test_id")
      .orderBy(col("score").desc, col("cls").asc)
    scores.withColumn("rn", row_number().over(byScore))
      .filter(col("rn") === 1)
      .select(col("test_id"), col("cls").as("pred_cls"), graft.util.Rnd.jround(col("score"), 6).as("score"))
      .orderBy("test_id")
  }

  private val j2Sql = SfaQ.prefix + SfaQ.slidingCtes +
    s"""
      |, trb AS (
      |  SELECT user_id % $NumClasses AS cls, word, cnt FROM bags WHERE user_id % 2 = 0
      |), tf AS (SELECT cls, word, SUM(cnt) AS tf FROM trb GROUP BY 1, 2
      |), wc AS (SELECT word, COUNT(*) AS wc FROM tf GROUP BY 1
      |), wt AS (
      |  SELECT t.cls, t.word,
      |    CASE WHEN w.wc = $NumClasses THEN 0.0
      |         ELSE (1.0 + LOG10(CAST(t.tf AS DOUBLE)))
      |              / LOG10(1.0 + $NumClasses / CAST(w.wc AS DOUBLE)) END AS weight
      |  FROM tf t JOIN wc w ON t.word = w.word
      |), l2 AS (SELECT cls, SQRT(SUM(weight * weight)) AS l2 FROM wt GROUP BY 1
      |), nw AS (
      |  SELECT w.cls, w.word,
      |    CASE WHEN n.l2 <> 0 THEN w.weight / n.l2 ELSE 0.0 END AS nweight
      |  FROM wt w JOIN l2 n ON w.cls = n.cls
      |), teb AS (
      |  SELECT user_id AS test_id, word, cnt FROM bags WHERE user_id % 2 = 1
      |), sc AS (
      |  SELECT b.test_id, c.cls, SUM(b.cnt * COALESCE(n.nweight, 0.0)) AS score
      |  FROM teb b
      |  CROSS JOIN (SELECT DISTINCT cls FROM nw) c
      |  LEFT JOIN nw n ON n.cls = c.cls AND n.word = b.word
      |  GROUP BY 1, 2
      |), pick AS (
      |  SELECT test_id, cls, score,
      |    ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY score DESC, cls ASC) AS rn
      |  FROM sc
      |)
      |SELECT test_id, cls AS pred_cls, FLOOR(score * 1e6 + 0.5) / 1e6 AS score
      |FROM pick WHERE rn = 1 ORDER BY test_id""".stripMargin

  // ---- A7: earliness stats --------------------------------------------

  private def a7(s: SparkSession, dir: String): DataFrame = {
    val words = SfaQ.slidingWords(s, dir)
    val lastw = words.groupBy("user_id")
      .agg(max_by(col("word"), col("win")).as("last_word"))
    val hit = words.join(lastw, Seq("user_id"))
      .filter(col("word") === col("last_word"))
      .groupBy("user_id").agg(min(col("win")).as("hit"))
    val lens = SfaQ.series(s, dir)
      .select(col("user_id"), size(col("data")).cast("long").as("n"))
    hit.join(lens, Seq("user_id"))
      .groupBy((col("user_id") % 3).as("cls"))
      .agg(count(lit(1)).as("n_series"),
        graft.util.Rnd.jround(avg((col("hit") + lit(W.toDouble)) / col("n")), 6).as("earliness"))
      .orderBy("cls")
  }

  private val a7Sql = SfaQ.prefix + SfaQ.slidingCtes +
    s"""
      |, lastw AS (
      |  SELECT user_id, MAX(win) AS maxwin FROM sword GROUP BY 1
      |), lw AS (
      |  SELECT s.user_id, s.word AS last_word
      |  FROM sword s JOIN lastw m ON s.user_id = m.user_id AND s.win = m.maxwin
      |), hit AS (
      |  SELECT s.user_id, MIN(s.win) AS hit
      |  FROM sword s JOIN lw l ON s.user_id = l.user_id AND s.word = l.last_word
      |  GROUP BY 1
      |), lens AS (SELECT user_id, MAX(n) AS n FROM e GROUP BY 1)
      |SELECT h.user_id % 3 AS cls, COUNT(*) AS n_series,
      |  FLOOR(AVG((h.hit + $W.0) / s.n) * 1e6 + 0.5) / 1e6 AS earliness
      |FROM hit h JOIN lens s ON h.user_id = s.user_id
      |GROUP BY 1 ORDER BY cls""".stripMargin

  // ---- J4: Shotgun 1-NN -----------------------------------------------

  private def j4(s: SparkSession, dir: String): DataFrame = {
    val ser = SfaQ.series(s, dir).filter(size(col("data")) >= 2 * W)
    val test = ser.filter(col("user_id") % 2 === 1)
      .select(col("user_id").as("test_id"), col("data").as("qdata"))
    val train = ser.filter(col("user_id") % 2 === 0)
      .select(col("user_id").as("train_id"), col("data"))
    // native codegen kernel (graft.sfa.expr.ShotgunDistExpr): the same
    // Shotgun.distance call, minus the per-pair boxed Seq[Double]
    // conversions a ScalaUDF pays on BOTH full series inside the cross
    // join — j4 was the registry's slowest query purely on that boundary
    import org.apache.spark.sql.graft.Bridge
    val shotgunDist = Bridge.column(graft.sfa.expr.ShotgunDistExpr(
      Bridge.expression(col("qdata")), Bridge.expression(col("data")), W))
    val byDist = Window.partitionBy("test_id")
      .orderBy(col("dist").asc, col("train_id").asc)
    test.crossJoin(train)
      .withColumn("dist", graft.util.Rnd.jround(shotgunDist, 6))
      .withColumn("rn", row_number().over(byDist))
      .filter(col("rn") === 1)
      .select(col("test_id"), col("train_id").as("nn_id"), col("dist"))
      .orderBy("test_id")
  }

  /** Shotgun oracle: disjoint z-normed query windows (odd users) × every
    * aligned sliding position of each train series (even users); min ED²
    * per window over positions, summed per (test, train) pair, 1-NN.
    */
  private val j4Sql =
    s"""WITH e AS (
      |  SELECT user_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), qw AS (
      |  SELECT user_id, idx // $W AS win, idx % $W AS j, value FROM e
      |  WHERE user_id % 2 = 1 AND n >= ${2 * W} AND idx // $W < n // $W
      |), qst AS (
      |  SELECT user_id, win, SUM(value)/$W.0 AS mean,
      |    SQRT(GREATEST(SUM(value*value)/$W.0 - (SUM(value)/$W.0)*(SUM(value)/$W.0), 0.0)) AS std
      |  FROM qw GROUP BY 1, 2
      |), qx AS (
      |  SELECT w.user_id, w.win, w.j,
      |    (w.value - s.mean) * (CASE WHEN s.std <> 0 THEN 1.0/s.std ELSE 1.0 END) AS x
      |  FROM qw w JOIN qst s ON w.user_id = s.user_id AND w.win = s.win
      |), tw AS (
      |  SELECT e1.user_id, e1.idx AS p, e2.idx - e1.idx AS j, e2.value
      |  FROM e e1 JOIN e e2 ON e1.user_id = e2.user_id
      |    AND e2.idx BETWEEN e1.idx AND e1.idx + ${W - 1}
      |  WHERE e1.user_id % 2 = 0 AND e1.n >= ${2 * W} AND e1.idx <= e1.n - $W
      |), tst AS (
      |  SELECT user_id, p, SUM(value)/$W.0 AS mean,
      |    SQRT(GREATEST(SUM(value*value)/$W.0 - (SUM(value)/$W.0)*(SUM(value)/$W.0), 0.0)) AS std
      |  FROM tw GROUP BY 1, 2
      |), tx AS (
      |  SELECT w.user_id, w.p, w.j,
      |    (w.value - s.mean) * (CASE WHEN s.std <> 0 THEN 1.0/s.std ELSE 1.0 END) AS x
      |  FROM tw w JOIN tst s ON w.user_id = s.user_id AND w.p = s.p
      |), ed AS (
      |  SELECT q.user_id AS tid, c.user_id AS rid, q.win, c.p,
      |    SUM((q.x - c.x) * (q.x - c.x)) AS d2
      |  FROM qx q JOIN tx c ON q.j = c.j
      |  GROUP BY 1, 2, 3, 4
      |), mn AS (SELECT tid, rid, win, MIN(d2) AS md FROM ed GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT tid, rid, FLOOR(SUM(md) * 1e6 + 0.5) / 1e6 AS dist FROM mn GROUP BY 1, 2
      |), rk AS (
      |  -- rank on the ROUNDED dist (ties -> smaller rid), matching the
      |  -- Spark side, which row_numbers over the jround'ed column: raw
      |  -- doubles differing below 1e-6 must not flip the winner between
      |  -- engines
      |  SELECT tid, rid, dist,
      |    ROW_NUMBER() OVER (PARTITION BY tid ORDER BY dist, rid) AS rn
      |  FROM tot
      |)
      |SELECT tid AS test_id, rid AS nn_id, dist
      |FROM rk WHERE rn = 1 ORDER BY test_id""".stripMargin

  // ---- F13: one-class acceptance radius -------------------------------

  private val Nu = 0.05

  /** One-class acceptance radius per class over the 32-point z-normed
    * slices (the F13 novelty-acceptance operator family,
    * TEASERClassifier.java:196-232): a fully SQL-expressible novelty
    * rule — accept within the (1−2ν) quantile of within-class 1-NN
    * distances. (TEASER itself now embeds the reference's actual
    * one-class RBF SVM, [[graft.sfa.OneClassSVM]]; this query keeps the
    * distance-quantile variant as the oracle-checkable distributed
    * form.) Train = even user_ids, class = user_id % 3.
    */
  private def f13(s: SparkSession, dir: String): DataFrame = {
    val ed2 = udf { (a: Seq[Double], b: Seq[Double]) =>
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    val train = IndexQ.slices(s, dir).filter(col("user_id") % 2 === 0)
      .withColumn("cls", col("user_id") % 3)
      .cache()
    val a = train.select(col("cls"), col("user_id").as("id"), col("data"))
    val b = train.select(col("cls"), col("user_id").as("oid"), col("data").as("odata"))
    val nnd = a.join(b, Seq("cls")).filter(col("id") =!= col("oid"))
      .withColumn("d2", ed2(col("data"), col("odata")))
      .groupBy("cls", "id").agg(sqrt(min(col("d2"))).as("d"))
    val byD = Window.partitionBy("cls").orderBy(col("d").asc, col("id").asc)
    nnd.withColumn("rn", row_number().over(byD).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("cls")))
      .filter(col("rn") === least(col("cnt"), ceil(lit(1.0 - 2 * Nu) * col("cnt")).cast("long") + 1))
      .select(col("cls"), graft.util.Rnd.jround(greatest(col("d"), lit(1e-9)), 6).as("radius"))
      .orderBy("cls")
  }

  private val f13Sql = IndexQ.symCtes +
    s"""
      |, ddp AS (
      |  SELECT a.user_id % 3 AS cls, a.user_id AS id, b.user_id AS oid,
      |    SUM((a.x - b.x) * (a.x - b.x)) AS d2
      |  FROM sl a JOIN sl b ON a.j = b.j
      |  WHERE a.user_id % 2 = 0 AND b.user_id % 2 = 0
      |    AND a.user_id % 3 = b.user_id % 3 AND a.user_id <> b.user_id
      |  GROUP BY 1, 2, 3
      |), nnd AS (SELECT cls, id, SQRT(MIN(d2)) AS d FROM ddp GROUP BY 1, 2
      |), rk AS (
      |  SELECT cls, id, d,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY cls ORDER BY d, id) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY cls) AS cnt
      |  FROM nnd
      |)
      |SELECT cls, FLOOR(GREATEST(d, 0.000000001) * 1e6 + 0.5) / 1e6 AS radius FROM rk
      |WHERE rn = LEAST(cnt, CAST(CEIL(${1.0 - 2 * Nu} * cnt) AS BIGINT) + 1)
      |ORDER BY cls""".stripMargin

  // ---- M1: BOSS window-length grid ------------------------------------

  /** BOSS ensemble fit for the s9 round-trip. Since m1 became a
    * directly-oracled grid computation it no longer shares this fit, so
    * s9 pays it alone — and the round-trip under test is the ModelIO
    * sink/source, not fit breadth. A 1-in-5 user sample keeps the
    * artifact shape (2 windows × f-sweep, LOO scores) while cutting the
    * O(N²) LOO 1-NN join 25×; the full-corpus fit semantics stay gated
    * by BossGoldenSpec.
    */
  private[queries] def bossGridFit(s: SparkSession, dir: String): graft.sfa.Boss.EnsembleModel =
    graft.util.Pipelines.cachedObj(s, s"boss.gridFit:$dir") {
      implicit val sp: SparkSession = s
      val train = SfaQ.series(s, dir)
        .filter(size(col("data")) >= 16 && col("user_id") % 5 === 0)
        .select(col("user_id").as("id"), (col("user_id") % 3).cast("double").as("label"),
          col("data"))
      val cfg = graft.sfa.Boss.Config(minWindowLength = 15, maxWindowLength = 16,
        maxF = 8, normalization = Seq(false))
      new graft.sfa.BossEnsemble(cfg).fit(train)
    }

  private val M1Ws = Seq(15, 16)
  private val M1L = 8
  private val M1Alpha = 4
  private val M1Bits = 2

  /** The BOSS ensemble's window-grid scoring loop
    * (BOSSEnsembleClassifier.java:83-181) on the events series (labels
    * = user_id % 3), fully hash-oracled: per window length an
    * equi-depth quantizer fitted on the disjoint windows, sliding
    * numerosity-reduced bags, and leave-one-out 1-NN class accuracy
    * (the asymmetric bag distance with the reference's guards — a
    * self-pair's distance is 0 and falls to the dist > 0 guard, so LOO
    * exclusion needs no extra predicate). The full [10, 250] grid with
    * the ensemble's own fit (sampled bins, f-sweep) is golden-gated by
    * BossGoldenSpec and round-tripped by s9.
    */
  private def m1(s: SparkSession, dir: String): DataFrame = {
    import graft.sfa.SFAOps
    val ser = SfaQ.series(s, dir).filter(size(col("data")) >= 16)
    // session-shared artifacts as in m2: the per-w quantizer bins are
    // fitted models (cachedObj — also what keeps the packWordsFused
    // literal, and with it the whole plan, canonically stable across
    // re-runs), and the result is tracked so a re-run in a live session
    // reuses the materialized join instead of silently re-running the
    // LOO 1-NN
    val branches = M1Ws.map { w =>
      val bins = graft.util.Pipelines.cachedObj(s, s"m1.bins:$w:$dir") {
        SFAOps.collectBins(
          SFAOps.equiDepthBins(
            SFAOps.disjointApprox(ser, w, M1L, normMean = false), M1Alpha),
          M1L, M1Alpha)
      }
      val bags = SFAOps.bagOfWords(SFAOps.packWordsFused(
        SFAOps.slidingApproxArrays(ser, w, M1L, normMean = false), bins, M1Bits))
      SFAOps.nnBagJoin(bags, bags)
        .agg(sum(when(col("nn_id") % 3 === col("test_id") % 3, 1L).otherwise(0L))
          .as("train_correct"))
        .select(lit(false).as("norm"), lit(w.toLong).as("w"),
          lit(M1L.toLong).as("features"), col("train_correct"))
    }
    graft.util.Pipelines.tracked(s, branches.reduce(_ unionByName _).orderBy("w"))
  }

  /** LOO variant of [[SfaQ]]'s nn CTEs: both sides are the full bag
    * set; the dist > 0 guard drops self-pairs.
    */
  private def m1Branch(w: Int): String = {
    val src = "(SELECT * FROM events WHERE user_id IN " +
      "(SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) >= 16)) evf"
    "(" + SfaQ.prefixFor(w, src) + SfaQ.slidingCtesFor(w) +
      s"""
        |, nm AS (SELECT user_id AS test_id, SUM(cnt*cnt) AS no_match FROM bags GROUP BY 1
        |), pr AS (
        |  SELECT t.user_id AS test_id, n.user_id AS train_id,
        |    SUM((t.cnt - n.cnt)*(t.cnt - n.cnt) - t.cnt*t.cnt) AS delta
        |  FROM bags t JOIN bags n ON t.word = n.word
        |  GROUP BY 1, 2
        |), pd AS (
        |  SELECT p.test_id, p.train_id, p.delta + m.no_match AS dist
        |  FROM pr p JOIN nm m ON p.test_id = m.test_id
        |  WHERE p.delta + m.no_match <> m.no_match AND p.delta + m.no_match > 0
        |), nn AS (
        |  SELECT test_id, train_id AS nn_id,
        |    ROW_NUMBER() OVER (PARTITION BY test_id ORDER BY dist, train_id) AS rn
        |  FROM pd
        |)
        |SELECT FALSE AS norm, CAST($w AS BIGINT) AS w, CAST($M1L AS BIGINT) AS features,
        |  CAST(SUM(CASE WHEN nn_id % 3 = test_id % 3 THEN 1 ELSE 0 END) AS BIGINT) AS train_correct
        |FROM nn WHERE rn = 1)""".stripMargin
  }

  private def m1Sql: String =
    s"SELECT * FROM (${M1Ws.map(m1Branch).mkString(" UNION ALL ")}) g ORDER BY w"

  val defs: Map[String, QueryDef] = Map(
    "j2_bossvs_join" -> QueryDef.sql(j2, j2Sql),
    "a7_earliness" -> QueryDef.sql(a7, a7Sql),
    "j4_shotgun_nn" -> QueryDef.sql(j4, j4Sql,
      "Shotgun min-aligned-ED 1-NN; oracle expands the window×position " +
        "grid; golden gate additionally ShotgunGoldenSpec"),
    "f13_one_class_radius" -> QueryDef.sql(f13, f13Sql),
    "m1_window_grid" -> QueryDef.sql(m1, m1Sql,
      "BOSS window grid: per-w equi-depth quantizer + sliding bags + " +
        "LOO 1-NN accuracy; ensemble fit golden-gated by BossGoldenSpec"))
}
