package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{QueryDef, Tables}
import graft.util.Rnd.{jround, jroundSql}
import graft.sfa.Representations

/** Representation-transform queries (SURVEY §2.3 T5/T6/T7) over disjoint
  * 16-point windows of the events series (complete windows only — same
  * `dw` frame as SfaQ's oracle prefix).
  *
  * - t5_pla  → PLA least-squares segments (PLA.java:35-69): 4 segments of
  *   frame 4 per window, stored as (12a, 6b). The grouped-sum form
  *   (Σ(t−constA)x, Σ(t−constB)x) is exactly the reference's loop, so
  *   both engines evaluate the identical expressions → full oracle.
  * - t7_dwt  → Haar DWT (DWT.java:23-48, lifting scheme): the window
  *   length 16 is a power of two, where each Haar coefficient is a
  *   closed-form difference of dyadic block means — coefficient c ≥ 1
  *   with level p = ⌊log2 c⌋, block k = c−2^p of size B = 16/2^p is
  *   −0.5·(mean(second half) − mean(first half)); c = 0 is −0.5·mean.
  *   Both engines evaluate that closed form (the in-place lifting kernel
  *   [[Representations.haarForward]] is proven equal to it by
  *   RepresentationsSpec) → full oracle.
  * - t6_apca → APCA adaptive segments (APCA.java:30-149): the sequential
  *   merge-by-reconstruction-error loop runs in the oracle as a DuckDB
  *   recursive CTE over (keys, values) list state with bit-identical
  *   FP op trees (see t6Sql) → full oracle; semantics additionally
  *   validated against the reference by RepresentationsSpec.
  */
object RepresentationQ {

  private val W = 16

  /** (user_id, win, j, t, value): complete disjoint windows, j = offset
    * in window, t = 1-based offset within the PLA segment.
    */
  private def windows(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")).cast("long") - 1)
      .withColumn("n", count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")))
    e.filter(col("idx") / W < floor(col("n") / W))
      .select(col("user_id"), (col("idx") / W).cast("long").as("win"),
        (col("idx") % W).as("j"), col("value"))
  }

  // ---- T5: PLA ---------------------------------------------------------

  /** Sum-order determinism: `value` is cents-exact, and the PLA weights
    * (t − 2.5, t − 3) are exact halves/integers — so both engines sum
    * the INTEGER quantities Σ(2t−5)·cents and Σ(t−3)·cents (exact,
    * order-independent) and apply identical scalar ops after.
    */
  private def t5(s: SparkSession, dir: String): DataFrame = {
    val seg = windows(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("seg", (col("j") / 4).cast("long"))
      .withColumn("t", col("j") % 4 + 1)
      .groupBy("user_id", "win", "seg")
      .agg(sum((col("t") * 2 - 5) * col("cents")).as("isa"),
        sum((col("t") - 3) * col("cents")).as("isb"))
    // folded constants (integer literals → double division in BOTH
    // engines): 12a = 12·(isa/100)/2/(f(f+1)(f−1)) = isa/1000;
    // 6b = 6·(isb/100)/(f(1−f)) = −isb/200, f = 4
    seg.select(col("user_id"), col("win"),
      expr("stack(2, seg * 2, round(isa / 1000, 6)," +
        " seg * 2 + 1, round(-isb / 200, 6)) AS (coef, v)"))
      .orderBy("user_id", "win", "coef")
  }

  private val t5Sql =
    s"""WITH e AS (
      |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), dw AS (
      |  SELECT user_id, idx // $W AS win, idx % $W AS j, cents
      |  FROM e WHERE idx // $W < n // $W
      |), seg AS (
      |  SELECT user_id, win, j // 4 AS seg,
      |    SUM(((j % 4 + 1) * 2 - 5) * cents) AS isa,
      |    SUM((j % 4 + 1 - 3) * cents) AS isb
      |  FROM dw GROUP BY 1, 2, 3
      |), pla AS (
      |  SELECT user_id, win, seg * 2 AS coef,
      |    ROUND(isa / 1000, 6) AS v
      |  FROM seg
      |  UNION ALL
      |  SELECT user_id, win, seg * 2 + 1 AS coef,
      |    ROUND(-isb / 200, 6) AS v
      |  FROM seg
      |)
      |SELECT user_id, win, coef, v FROM pla ORDER BY user_id, win, coef""".stripMargin

  // ---- T7: Haar DWT ----------------------------------------------------

  private val L = 8

  // Half-block size H and block start per coefficient (levels of the
  // 16-point Haar pyramid); divisor = 16 for the c=0 mean, else H.
  private val Hs = "CASE WHEN coef = 1 THEN 8 WHEN coef < 4 THEN 4 ELSE 2 END"
  private val Base = "CASE WHEN coef < 2 THEN 0 WHEN coef < 4 THEN (coef - 2) * 8 ELSE (coef - 4) * 4 END"
  // Integer weights (±1/0) over integer cents → the sum is exact and
  // order-independent. The Haar values are exact multiples of 1/3200
  // (cents/(100·2H) with H ∈ {1..8}) — they land EXACTLY on decimal
  // rounding boundaries, where Spark (BigDecimal HALF_UP) and DuckDB
  // (float-multiply round) disagree — so the query emits the EXACT
  // integer numerator v3200 = v·3200 = −Σ(cents·w)·(16/H) instead of a
  // rounded double (the integer-cents determinism rule, see QueryDef).
  private val WeightCase =
    s"""CASE WHEN coef = 0 THEN 1
      | WHEN j >= ($Base) AND j < ($Base) + ($Hs) THEN -1
      | WHEN j >= ($Base) + ($Hs) AND j < ($Base) + 2 * ($Hs) THEN 1
      | ELSE 0 END""".stripMargin
  // 3200 / (200·H), with H = 16 for the c = 0 mean (divisor 16·2·100)
  private val FactorCase =
    "CASE WHEN coef = 0 THEN 1 WHEN coef = 1 THEN 2 WHEN coef < 4 THEN 4 ELSE 8 END"

  private def t7(s: SparkSession, dir: String): DataFrame =
    windows(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .crossJoin(s.range(L).select(col("id").as("coef")))
      .withColumn("w", expr(WeightCase))
      .groupBy("user_id", "win", "coef")
      .agg(expr(s"-sum(cents * w) * ($FactorCase)").as("v3200"))
      .orderBy("user_id", "win", "coef")

  private val t7Sql =
    s"""WITH e AS (
      |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), dw AS (
      |  SELECT user_id, idx // $W AS win, idx % $W AS j, cents
      |  FROM e WHERE idx // $W < n // $W
      |), coefs AS (SELECT UNNEST(RANGE($L)) AS coef
      |), wts AS (
      |  SELECT user_id, win, coef, cents,
      |    $WeightCase AS w
      |  FROM dw CROSS JOIN coefs
      |)
      |SELECT user_id, win, coef,
      |  CAST(-SUM(cents * w) * ($FactorCase) AS BIGINT) AS v3200
      |FROM wts GROUP BY 1, 2, 3 ORDER BY user_id, win, coef""".stripMargin

  // ---- T6: APCA (rows-only) -------------------------------------------

  private def t6(s: SparkSession, dir: String): DataFrame = {
    val apcaUdf = udf { (vals: Seq[Double]) =>
      Representations.apca(vals.toArray, L)
    }
    windows(s, dir)
      .groupBy("user_id", "win")
      .agg(sort_array(collect_list(struct(col("j"), col("value")))).as("pts"))
      .select(col("user_id"), col("win"),
        posexplode(apcaUdf(expr("transform(pts, p -> p.value)"))).as(Seq("i", "v")))
      .select(col("user_id"), col("win"), col("i").cast("long").as("i"), jround(col("v"), 6).as("v"))
      .orderBy("user_id", "win", "i")
  }

  /** The t6 oracle replicates [[Representations.apca]] step by step in
    * DuckDB with BIT-IDENTICAL floating-point op trees — required
    * because the run-join compares reconstruction DOUBLES for equality
    * and the merge loop argmins over error doubles:
    *  - forward/inverse Haar lifting unrolled per level as the same
    *    (b−a), a+(b−a)/2 pairwise ops the Scala kernel executes;
    *  - coefficient ranking by (−|w/2^(⌊log2 i⌋/2)|, i), top 8;
    *  - run-join on exact equality, segment means and errors as
    *    list_reduce LEFT FOLDS seeded with 0.0 (Scala's `err += v*v`
    *    accumulation order);
    *  - the greedy merge as a recursive CTE over (keys, vals) list
    *    state: per iteration delta(pos) = jointError − (segL + segR),
    *    first-minimum argmin (list_indexof on the min), merged value
    *    by the reference's weighted-mean expression;
    *  - the <4-segment padding path (trunc.last, 16).
    * Validated against an exact Python replica on 300 windows incl.
    * constant and step series (run-join degenerate + padding paths).
    */
  private def segOf(lo: String, hi: String, mean: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE), pts[($lo)+1 : $hi]),
      |            (a,b) -> a + (($mean) - b) * (($mean) - b))""".stripMargin

  private val t6Sql: String = {
    val sPrev = "(CASE WHEN p = 1 THEN 0 ELSE keys[p-1] END)"
    val jMean =
      s"""(CASE WHEN keys[p+1] > $sPrev
        |  THEN (CAST(keys[p] - $sPrev AS DOUBLE) * vals[p]
        |        + CAST(keys[p+1] - keys[p] AS DOUBLE) * vals[p+1])
        |       / CAST(keys[p+1] - $sPrev AS DOUBLE)
        |  ELSE 0.0 END)""".stripMargin
    s"""WITH RECURSIVE e AS (
      |  SELECT user_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), dw AS (
      |  SELECT user_id, idx // $W AS win, idx % $W AS j, value
      |  FROM e WHERE idx // $W < n // $W
      |), tbl AS (
      |  SELECT user_id, win, list(value ORDER BY j) AS pts FROM dw GROUP BY 1, 2
      |), lvl1 AS (
      |  SELECT user_id, win, pts,
      |    list_transform(range(0,8), i -> pts[2*i+1] + (pts[2*i+2] - pts[2*i+1]) / 2) AS s1,
      |    list_transform(range(0,8), i -> pts[2*i+2] - pts[2*i+1]) AS d1
      |  FROM tbl
      |), lvl2 AS (
      |  SELECT user_id, win, pts, d1,
      |    list_transform(range(0,4), i -> s1[2*i+1] + (s1[2*i+2] - s1[2*i+1]) / 2) AS s2,
      |    list_transform(range(0,4), i -> s1[2*i+2] - s1[2*i+1]) AS d2
      |  FROM lvl1
      |), lvl3 AS (
      |  SELECT user_id, win, pts, d1, d2,
      |    list_transform(range(0,2), i -> s2[2*i+1] + (s2[2*i+2] - s2[2*i+1]) / 2) AS s3,
      |    list_transform(range(0,2), i -> s2[2*i+2] - s2[2*i+1]) AS d3
      |  FROM lvl2
      |), wv AS (
      |  SELECT user_id, win, pts,
      |    list_concat(list_concat(list_concat(
      |      [s3[1] + (s3[2] - s3[1]) / 2, s3[2] - s3[1]], d3), d2), d1) AS w
      |  FROM lvl3
      |), kp AS (
      |  SELECT user_id, win, pts, w,
      |    list_transform(
      |      list_sort(list_transform(range(1,16), i ->
      |        {k: -abs(w[i+1] / (CASE WHEN i >= 8 THEN POWER(2, 1.5)
      |                                WHEN i >= 4 THEN 2.0
      |                                WHEN i >= 2 THEN POWER(2, 0.5)
      |                                ELSE 1.0 END)), i: i}))[1:8],
      |      s -> s.i) AS keptidx
      |  FROM wv
      |), kc AS (
      |  SELECT user_id, win, pts,
      |    list_transform(range(0,16), i ->
      |      CASE WHEN list_contains(keptidx, i) THEN w[i+1] ELSE 0.0 END) AS kept
      |  FROM kp
      |), r2 AS (
      |  SELECT user_id, win, pts, kept,
      |    [kept[1] - kept[2] / 2, kept[2] + (kept[1] - kept[2] / 2)] AS r
      |  FROM kc
      |), r4 AS (
      |  SELECT user_id, win, pts, kept,
      |    flatten(list_transform(range(0,2), i ->
      |      [r[i+1] - kept[3+i] / 2, kept[3+i] + (r[i+1] - kept[3+i] / 2)])) AS r
      |  FROM r2
      |), r8 AS (
      |  SELECT user_id, win, pts, kept,
      |    flatten(list_transform(range(0,4), i ->
      |      [r[i+1] - kept[5+i] / 2, kept[5+i] + (r[i+1] - kept[5+i] / 2)])) AS r
      |  FROM r4
      |), r16 AS (
      |  SELECT user_id, win, pts,
      |    flatten(list_transform(range(0,8), i ->
      |      [r[i+1] - kept[9+i] / 2, kept[9+i] + (r[i+1] - kept[9+i] / 2)])) AS r
      |  FROM r8
      |), seg0 AS (
      |  SELECT user_id, win, pts, r,
      |    list_append(list_filter(range(2,16), i -> r[i+1] != r[i]), 16) AS keys
      |  FROM r16
      |), seg1 AS (
      |  SELECT user_id, win, pts, r, keys,
      |    list_transform(range(1, len(keys)+1), p ->
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE), pts[$sPrev+1 : keys[p]]),
      |        (a,b) -> a + b)
      |      / CAST(keys[p] - $sPrev AS DOUBLE)) AS vals
      |  FROM seg0
      |), mg AS (
      |  SELECT user_id, win, pts, r, keys, vals FROM seg1
      |  UNION ALL
      |  SELECT user_id, win, pts, r,
      |    list_concat(keys[1:mp-1], keys[mp+1:]) AS keys,
      |    list_concat(vals[1:mp-1], list_prepend(
      |      (CAST(keys[mp] - (CASE WHEN mp = 1 THEN 0 ELSE keys[mp-1] END) AS DOUBLE) * vals[mp]
      |       + CAST(keys[mp+1] - keys[mp] AS DOUBLE) * vals[mp+1])
      |      / CAST(keys[mp+1] - (CASE WHEN mp = 1 THEN 0 ELSE keys[mp-1] END) AS DOUBLE),
      |      vals[mp+2:])) AS vals
      |  FROM (
      |    SELECT *, list_indexof(deltas, list_aggregate(deltas, 'min')) AS mp
      |    FROM (
      |      SELECT *,
      |        list_transform(range(1, len(keys)), p ->
      |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE), pts[$sPrev+1 : keys[p+1]]),
      |            (a,b) -> a + ($jMean - b) * ($jMean - b))
      |          - (${segOf(sPrev, "keys[p]", "vals[p]")}
      |             + ${segOf("keys[p]", "keys[p+1]", "vals[p+1]")})) AS deltas
      |      FROM mg WHERE len(keys) > 4
      |    )
      |  )
      |), fin AS (
      |  SELECT user_id, win, pts, r, keys, vals FROM mg WHERE len(keys) <= 4
      |)
      |SELECT user_id, win, CAST(u.i AS BIGINT) AS i,
      |  ${jroundSql(
           """CASE
             |    WHEN u.i % 2 = 0 AND u.i // 2 + 1 <= len(vals) THEN vals[u.i // 2 + 1]
             |    WHEN u.i % 2 = 1 AND u.i // 2 + 1 <= len(keys) THEN CAST(keys[u.i // 2 + 1] AS DOUBLE)
             |    WHEN u.i % 2 = 0 THEN r[16]
             |    ELSE 16.0 END""".stripMargin, 6)} AS v
      |FROM fin, UNNEST(range(0,8)) AS u(i)
      |ORDER BY user_id, win, i""".stripMargin
  }

  // ---- lb_tightness: measured tightness of T4/T5/T7 lower bounds ------

  /** The reference's TightnessOfLowerBounds study
    * (TightnessOfLowerBounds.java:15-135) as an oracle-checked query:
    * pair each even user's disjoint windows with the next user's, and
    * per (representation, l) report the mean lower-bound/Euclidean
    * ratio and the count of LB violations (which the oracle pins to the
    * same value — expected 0, so the LB property itself is
    * hash-checked). APCA's merge loop is not SQL-expressible; its LB
    * gate lives in RepresentationsSpec with the other three.
    *
    * Determinism: every aggregate is an integer sum over cents (the
    * t5/t7 rule) — ED·10⁴, PAA segment sums, DWT v3200 diffs, PLA
    * (Σw·Δcents) — so both engines reduce identical integers and apply
    * identical scalar ops; only the final mean is rounded.
    */
  private def lbt(s: SparkSession, dir: String): DataFrame = {
    val dw = windows(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    val a = dw.filter(col("user_id") % 2 === 0)
      .select(col("user_id"), col("win"), col("j"), col("cents").as("ca"))
    val b = dw.select((col("user_id") - 1).as("user_id"), col("win"), col("j"),
      col("cents").as("cb"))
    val pw = a.join(b, Seq("user_id", "win", "j"))
      .select(col("user_id"), col("win"), col("j"), (col("ca") - col("cb")).as("d"))
      .cache()

    val ed = pw.groupBy("user_id", "win").agg(sum(col("d") * col("d")).as("ed4"))

    def paaNum(l: Int): DataFrame = {
      val g = W / l
      pw.groupBy(col("user_id"), col("win"), (col("j") / g).cast("long").as("seg"))
        .agg(sum(col("d")).as("sd"))
        .groupBy("user_id", "win")
        .agg(sum(col("sd") * col("sd")).as(s"paa$l"))
    }

    // DWT coefficient diffs as v3200 integers (same weights as t7)
    val dwtNum = pw
      .crossJoin(s.range(L).select(col("id").as("coef")))
      .withColumn("w", expr(WeightCase))
      .groupBy("user_id", "win", "coef")
      .agg(expr(s"-sum(d * w) * ($FactorCase)").as("dv"))
      .groupBy("user_id", "win")
      .agg(
        sum(when(col("coef") < 4,
          col("dv") * col("dv") * expr("CASE WHEN coef <= 1 THEN 16 ELSE 8 END"))
          .otherwise(0L)).as("dwt4"),
        sum(col("dv") * col("dv") *
          expr("CASE WHEN coef <= 1 THEN 16 WHEN coef <= 3 THEN 8 ELSE 4 END")).as("dwt8"))

    def plaNum(l: Int): DataFrame = {
      val frame = W / (l / 2)
      val (wa, wb) = frame match {
        // (t−(f+1)/2), (t−(2f+1)/3) scaled integer: f=4 → (2t−5), (t−3);
        // f=8 → (2t−9), (3t−17)
        case 4 => ("(j % 4 + 1) * 2 - 5", "(j % 4 + 1) - 3")
        case _ => ("(j % 8 + 1) * 2 - 9", "(j % 8 + 1) * 3 - 17")
      }
      pw.groupBy(col("user_id"), col("win"), (col("j") / frame).cast("long").as("seg"))
        .agg(sum(expr(s"($wa) * d")).as("da"), sum(expr(s"($wb) * d")).as("db"))
        .groupBy("user_id", "win")
        .agg(sum(col("da") * col("da")).as(s"sa$l"),
          sum(col("da") * col("db")).as(s"sab$l"),
          sum(col("db") * col("db")).as(s"sb$l"))
    }

    val joined = ed
      .join(paaNum(4), Seq("user_id", "win")).join(paaNum(8), Seq("user_id", "win"))
      .join(dwtNum, Seq("user_id", "win"))
      .join(plaNum(4), Seq("user_id", "win")).join(plaNum(8), Seq("user_id", "win"))
      // lb·10⁴ per representation/l (exact integer-derived scalars):
      //   paa: Σseg² / g;  dwt: Σw·dv² / 1024 (3200²/10⁴)
      //   pla f=4: 0.3·SA2 − SAB + SB2 (12a=isa/1000, 6b=−isb/200 folded)
      //   pla f=8: 204·SA2/7056 − 72·SAB/2352 + 8·SB2/784
      .select(col("user_id"), col("win"), col("ed4"),
        expr("stack(6, " +
          "'paa', 4L, CAST(paa4 AS DOUBLE) / 4.0D, " +
          "'paa', 8L, CAST(paa8 AS DOUBLE) / 2.0D, " +
          "'dwt', 4L, CAST(dwt4 AS DOUBLE) / 1024.0D, " +
          "'dwt', 8L, CAST(dwt8 AS DOUBLE) / 1024.0D, " +
          "'pla', 4L, 204.0D * sa4 / 7056.0D - 72.0D * sab4 / 2352.0D + 8.0D * sb4 / 784.0D, " +
          "'pla', 8L, 0.3D * sa8 - CAST(sab8 AS DOUBLE) + CAST(sb8 AS DOUBLE)" +
          ") AS (repr, l, lb4)"))

    // determinism: each pair's tightness ratio is ONE IEEE division
    // rounded to integer millionths BEFORE aggregation, so the
    // cross-row sum is an exact integer sum (order-free) and the mean
    // is a single final division — an AVG over raw doubles would make
    // the result depend on partition summation order
    joined.groupBy("repr", "l").agg(
      count(lit(1)).as("pairs"),
      sum(when(col("ed4") > 1, floor(col("lb4") / col("ed4") * 1e6 + 0.5))
        .otherwise(lit(1000000.0)).cast("long")).as("r6sum"),
      sum(when(col("lb4") - col("ed4") > 1.0, 1L).otherwise(0L)).as("violations"))
      .select(col("repr"), col("l"), col("pairs"),
        (floor(col("r6sum") / col("pairs").cast("double") + 0.5) / 1e6).as("mean_tlb"),
        col("violations"))
      .orderBy("repr", "l")
  }

  private val lbtSql =
    s"""WITH e AS (
      |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), dw AS (
      |  SELECT user_id, idx // $W AS win, idx % $W AS j, cents
      |  FROM e WHERE idx // $W < n // $W
      |), pw AS (
      |  SELECT a.user_id, a.win, a.j, a.cents - b.cents AS d
      |  FROM dw a JOIN dw b
      |    ON b.user_id = a.user_id + 1 AND b.win = a.win AND b.j = a.j
      |  WHERE a.user_id % 2 = 0
      |), ed AS (
      |  SELECT user_id, win, SUM(d * d) AS ed4 FROM pw GROUP BY 1, 2
      |), paa4s AS (
      |  SELECT user_id, win, j // 4 AS seg, SUM(d) AS sd FROM pw GROUP BY 1, 2, 3
      |), paa4 AS (
      |  SELECT user_id, win, SUM(sd * sd) AS paa4 FROM paa4s GROUP BY 1, 2
      |), paa8s AS (
      |  SELECT user_id, win, j // 2 AS seg, SUM(d) AS sd FROM pw GROUP BY 1, 2, 3
      |), paa8 AS (
      |  SELECT user_id, win, SUM(sd * sd) AS paa8 FROM paa8s GROUP BY 1, 2
      |), coefs AS (SELECT UNNEST(RANGE($L)) AS coef
      |), dvs AS (
      |  SELECT user_id, win, coef,
      |    -SUM(d * ($WeightCase)) * ($FactorCase) AS dv
      |  FROM pw CROSS JOIN coefs
      |  GROUP BY 1, 2, 3
      |), dwt AS (
      |  SELECT user_id, win,
      |    SUM(CASE WHEN coef < 4
      |      THEN dv * dv * (CASE WHEN coef <= 1 THEN 16 ELSE 8 END) ELSE 0 END) AS dwt4,
      |    SUM(dv * dv *
      |      (CASE WHEN coef <= 1 THEN 16 WHEN coef <= 3 THEN 8 ELSE 4 END)) AS dwt8
      |  FROM dvs GROUP BY 1, 2
      |), pla4s AS (
      |  SELECT user_id, win, j // 8 AS seg,
      |    SUM(((j % 8 + 1) * 2 - 9) * d) AS da,
      |    SUM(((j % 8 + 1) * 3 - 17) * d) AS db
      |  FROM pw GROUP BY 1, 2, 3
      |), pla4 AS (
      |  SELECT user_id, win, SUM(da * da) AS sa4, SUM(da * db) AS sab4,
      |    SUM(db * db) AS sb4
      |  FROM pla4s GROUP BY 1, 2
      |), pla8s AS (
      |  SELECT user_id, win, j // 4 AS seg,
      |    SUM(((j % 4 + 1) * 2 - 5) * d) AS da,
      |    SUM(((j % 4 + 1) - 3) * d) AS db
      |  FROM pw GROUP BY 1, 2, 3
      |), pla8 AS (
      |  SELECT user_id, win, SUM(da * da) AS sa8, SUM(da * db) AS sab8,
      |    SUM(db * db) AS sb8
      |  FROM pla8s GROUP BY 1, 2
      |), joined AS (
      |  SELECT ed.user_id, ed.win, ed.ed4, u.repr, u.l, u.lb4
      |  FROM ed
      |  JOIN paa4 USING (user_id, win) JOIN paa8 USING (user_id, win)
      |  JOIN dwt USING (user_id, win)
      |  JOIN pla4 USING (user_id, win) JOIN pla8 USING (user_id, win)
      |  CROSS JOIN LATERAL (VALUES
      |    ('paa', CAST(4 AS BIGINT), CAST(paa4 AS DOUBLE) / CAST(4.0 AS DOUBLE)),
      |    ('paa', CAST(8 AS BIGINT), CAST(paa8 AS DOUBLE) / CAST(2.0 AS DOUBLE)),
      |    ('dwt', CAST(4 AS BIGINT), CAST(dwt4 AS DOUBLE) / CAST(1024.0 AS DOUBLE)),
      |    ('dwt', CAST(8 AS BIGINT), CAST(dwt8 AS DOUBLE) / CAST(1024.0 AS DOUBLE)),
      |    ('pla', CAST(4 AS BIGINT),
      |      CAST(204.0 AS DOUBLE) * sa4 / CAST(7056.0 AS DOUBLE)
      |        - CAST(72.0 AS DOUBLE) * sab4 / CAST(2352.0 AS DOUBLE)
      |        + CAST(8.0 AS DOUBLE) * sb4 / CAST(784.0 AS DOUBLE)),
      |    ('pla', CAST(8 AS BIGINT),
      |      CAST(0.3 AS DOUBLE) * sa8 - CAST(sab8 AS DOUBLE) + CAST(sb8 AS DOUBLE))
      |  ) AS u(repr, l, lb4)
      |)
      |SELECT repr, l, COUNT(*) AS pairs,
      |  FLOOR(SUM(CAST(CASE WHEN ed4 > 1 THEN FLOOR(lb4 / ed4 * 1e6 + 0.5)
      |                       ELSE 1000000.0 END AS BIGINT)) / CAST(COUNT(*) AS DOUBLE) + 0.5) / 1e6 AS mean_tlb,
      |  CAST(SUM(CASE WHEN lb4 - ed4 > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS violations
      |FROM joined GROUP BY 1, 2 ORDER BY repr, l""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "t5_pla" -> QueryDef.sql(t5, t5Sql),
    "t7_dwt" -> QueryDef.sql(t7, t7Sql),
    "t6_apca" -> QueryDef.sql(t6, t6Sql,
      "APCA adaptive segments with the greedy merge loop as a recursive " +
        "CTE over list state; bit-identical FP op trees on both engines " +
        "(see t6Sql doc); semantics vs reference proven by RepresentationsSpec"),
    "lb_tightness" -> QueryDef.sql(lbt, lbtSql,
      "measured tightness of the PAA/PLA/DWT lower bounds over window " +
        "pairs, violations oracle-pinned (expected 0); APCA gate in " +
        "RepresentationsSpec"))
}
