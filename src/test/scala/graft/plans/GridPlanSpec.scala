package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sfa.SFAOps

/** Executed-plan gate for the grid-as-a-column architecture
  * (m2_window_grid / m3_weasel_grid): when the sweep axis is a data
  * column, the pipeline's SHUFFLE COUNT must be independent of the
  * number of grid points — a 1000-config sweep costs the same number of
  * wide exchanges as a 2-config sweep, only wider rows. This is the
  * property that makes the declarative grid viable at 100 TB, where a
  * per-config driver loop would multiply every shuffle by the grid
  * size.
  */
class GridPlanSpec extends SparkSpec {

  private val L = 4
  private val Alpha = 4
  private val Bits = 2

  private def series: DataFrame = seriesOf(48)

  private def seriesOf(len: Int): DataFrame = {
    import spark.implicits._
    (0L until 12L)
      .map(u => (u, Array.tabulate(len)(i => math.sin(u + i * 0.37) + 0.05 * i)))
      .toDF("user_id", "data")
  }

  /** THE shipped pipeline — the same function m2_window_grid runs, so a
    * plan regression in the real query fails these gates.
    */
  private def bagsFor(ser: DataFrame, ws: Seq[Int]): DataFrame =
    SFAOps.windowGridBags(ser, ws, L, Alpha, Bits)

  private def executed(df: DataFrame): String = {
    df.collect() // force AQE to finalize the real physical plan
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def countOf(plan: String, token: String): Int =
    token.r.findAllIn(plan).size

  test("grid shuffle AND scan counts are independent of the number of grid points (2 vs 64)") {
    // 64 distinct window lengths need longer series; the row count stays
    // fixture-sized so the 64-point sweep is cheap — what's under test is
    // the PLAN, which must be byte-comparable in shape to the 2-point one
    val ser = seriesOf(160).cache()
    try {
      val grid64 = (4 until 68).toSeq
      val p2 = executed(bagsFor(ser, Seq(8, 16)))
      val p64 = executed(bagsFor(ser, grid64))
      val (x2, x64) = (countOf(p2, "Exchange hashpartitioning"), countOf(p64, "Exchange hashpartitioning"))
      assert(x2 > 0, p2)
      assert(x2 == x64, s"shuffles must not scale with grid size: 2-point=$x2 64-point=$x64\n$p64")
      // the quantizer broadcast stays a single small exchange too
      assert(countOf(p2, "BroadcastExchange") == countOf(p64, "BroadcastExchange"), p64)
      // ONE source scan per pipeline stage regardless of grid size: the
      // explode(array(w…)) fan-out reads the series once for the sliding
      // path and once inside the broadcast quantizer-fit subtree — an
      // uncached 100 TB corpus must never be read once PER WINDOW
      val (s2, s64) = (countOf(p2, "InMemoryTableScan"), countOf(p64, "InMemoryTableScan"))
      assert(s2 > 0, p2)
      assert(s2 == s64, s"source scans must not scale with grid size: 2-point=$s2 64-point=$s64\n$p64")
      // plan-size independence (grid points enter as ONE array literal)
      // is pinned structurally by the equal scan/shuffle counts above —
      // no wall-clock assert, which would only flake under contention
    } finally { ser.unpersist(); () }
  }

  test("grid plan bound at the reference's real M3 scale (2 vs 350 points)") {
    // WEASEL's production sweep is ~350 window lengths
    // (WEASELClassifier.java:202-212 builds maxWindowLength-minWindowLength
    // candidates) — the 2-vs-64 gate above pins the shape, this one pins
    // it at the reference's actual grid size: same exchange and scan
    // counts, and the grid enters the plan as ONE array literal so the
    // whole fit (plan compile included) stays fixture-fast
    val ser = seriesOf(360).cache()
    try {
      val t0 = System.nanoTime()
      val p2 = executed(bagsFor(ser, Seq(8, 16)))
      val p350 = executed(bagsFor(ser, (4 until 354).toSeq))
      val secs = (System.nanoTime() - t0) / 1e9
      info(f"2-point + 350-point grids executed in $secs%.1f s")
      val (x2, x350) = (countOf(p2, "Exchange hashpartitioning"),
        countOf(p350, "Exchange hashpartitioning"))
      assert(x2 > 0 && x2 == x350,
        s"shuffles must not scale with grid size: 2-point=$x2 350-point=$x350")
      assert(countOf(p2, "BroadcastExchange") == countOf(p350, "BroadcastExchange"))
      val (s2, s350) = (countOf(p2, "InMemoryTableScan"), countOf(p350, "InMemoryTableScan"))
      assert(s2 > 0 && s2 == s350,
        s"source scans must not scale with grid size: 2-point=$s2 350-point=$s350")
    } finally { ser.unpersist(); () }
  }

  test("bag aggregate reuses the window partitioning (no extra exchange after lag)") {
    val ser = series.cache()
    try {
      val p2 = executed(bagsFor(ser, Seq(8, 16)))
      val p3 = executed(bagsFor(ser, Seq(8, 16, 24)))
      // numerosity's window runs on hashpartitioning(w, user_id); the bag
      // groupBy(w, user_id, word) clusters on a superset and must NOT
      // insert another exchange — the plan carries: bins groupBy, the
      // per-w edges-row groupBy, window partitioning. The binding gate
      // is RELATIVE (count equal across grid sizes); the absolute count
      // is an upper bound so a Spark/conf drift that merges an exchange
      // cannot mask a grid-size-proportional regression
      val (x2, x3) = (countOf(p2, "Exchange hashpartitioning"), countOf(p3, "Exchange hashpartitioning"))
      assert(x2 == x3, s"2-point=$x2 3-point=$x3\n$p3")
      assert(x2 <= 3, p2)
    } finally { ser.unpersist(); () }
  }

  test("an empty grid point still emits its row (the oracle's per-branch aggregate shape)") {
    // events where every series has 30 points: snap=24 qualifies,
    // snap=32/48 have NO qualifying series — the cascade must emit a
    // (snap, NULL, 0, NULL) row for them, exactly like the SQL oracle's
    // per-branch global aggregate over an empty branch
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("grid_empty_").toString
    (0L until 12L).flatMap { u =>
      (0 until 30).map(i => (u * 100 + i, (1000000L * (u * 100 + i)), u,
        "view", math.sin(u + i * 0.31) + 0.02 * i, """{"k": 1}"""))
    }.toDF("event_id", "tsus", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("tsus"))
      .drop("tsus")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = graft.SparkEntry.queries("m5_teaser_cascade")(spark, dir)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(24L, 32L, 48L))
    val bySnap = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(bySnap(24L)._2 > 0, s"snap=24 must have decided pairs: ${rows.toSeq}")
    assert(bySnap(32L) == ((-1L, 0L)) && bySnap(48L) == ((-1L, 0L)),
      s"empty snapshots must keep their NULL/0 row: ${rows.toSeq}")
  }

  test("keyed primitives equal the unkeyed per-config runs") {
    val ser = series.cache()
    try {
      val ws = Seq(8, 12, 16)
      val keyed = bagsFor(ser, ws)
        .select(col("w"), col("user_id"), col("word"), col("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val looped = ws.flatMap { w =>
        val bins = SFAOps.collectBins(
          SFAOps.equiDepthBins(SFAOps.disjointApprox(ser, w, L, normMean = false), Alpha), L, Alpha)
        SFAOps.bagOfWords(
          SFAOps.packWordsFused(SFAOps.slidingApproxArrays(ser, w, L, normMean = false), bins, Bits))
          .collect().map(r => (w.toLong, r.getLong(0), r.getLong(1), r.getLong(2)))
      }.toSet
      assert(keyed == looped)
    } finally { ser.unpersist(); () }
  }
}
