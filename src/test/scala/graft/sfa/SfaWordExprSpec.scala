package graft.sfa

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The fused native expression must be bit-identical to a grouped
  * per-coefficient quantize-and-pack reference on arbitrary data,
  * including short/empty edge rows, and must run inside whole-stage
  * codegen (driven off a range scan so the optimizer cannot
  * constant-fold it away). The keyed [[SFAOps.packWords]] must equal
  * per-key [[SFAOps.packWordsFused]] runs.
  */
class SfaWordExprSpec extends SparkSpec {

  private val L = 6
  private val Bits = 2

  /** The grouped reference: explode each window into one row per
    * coefficient, broadcast-join the per-coefficient edge arrays, count
    * the edges ≤ v in unrolled `when`s and sum the shifted symbols per
    * (keys…, user_id, win). Input rows: (user_id, win, coef, v); output:
    * (user_id, win, word).
    */
  private def groupedPackWords(
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

  // per-coefficient edges: varying lengths incl. an empty row (its
  // symbol must be 0, matching the grouped form's left-join miss)
  private val bins: Array[Array[Double]] = Array(
    Array(-0.5, 0.1, 0.7),
    Array(0.0),
    Array(-1.0, 1.0),
    Array.empty[Double],
    Array(-0.2, 0.2, 0.9),
    Array(0.4, 0.5))

  /** `(coef, pos, edge)` rows of a bins matrix, assigned edges only. */
  private def binRows(b: Array[Array[Double]]): Seq[(Int, Int, Double)] =
    b.zipWithIndex.toSeq.flatMap { case (es, c) =>
      es.zipWithIndex.map { case (e, p) => (c, p, e) }
    }

  /** Deterministic pseudo-random approx arrays, materialized through
    * parquet: the transform() builder is a higher-order function that
    * would otherwise collapse into the same Project and push it out of
    * codegen — read back, the fused word is a pure codegen'd projection.
    */
  private def arrays(name: String, rows: Int): DataFrame = {
    val path = s"/tmp/graft_sfa_word_expr_spec_$name"
    spark.range(rows)
      .select(col("id").as("user_id"), lit(0).as("win"),
        expr(s"transform(sequence(0, ${L - 1}), j -> sin(id * (j + 3) * 0.37) * 1.4)")
          .as("approx"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def wordsById(df: DataFrame): Map[Long, Long] =
    df.select("user_id", "word").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fused sfa_word equals the grouped packWords form, through codegen") {
    import spark.implicits._
    val approx = arrays("flat", 500)
    val fused = wordsById(SFAOps.packWordsFused(approx, bins, Bits))

    val binsDF = binRows(bins).toDF("coef", "pos", "edge")
    val exploded = approx
      .select(col("user_id"), col("win"), posexplode(col("approx")).as(Seq("coef", "v")))
    val grouped = wordsById(groupedPackWords(exploded, binsDF, Bits))
    val packed = wordsById(SFAOps.packWords(approx, binsDF, Bits))

    assert(fused.size == 500 && grouped.size == 500 && packed.size == 500)
    fused.foreach { case (id, w) =>
      assert(w == grouped(id), s"id=$id fused=$w grouped=${grouped(id)}")
      assert(w == packed(id), s"id=$id fused=$w packWords=${packed(id)}")
    }

    // the plan must be a codegen'd projection, not a fallback: the
    // sfa_word Project line carries the "*(n)" whole-stage marker
    val plan = SFAOps.packWordsFused(approx, bins, Bits)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("sfa_word") && l.trim.startsWith("*(")),
      s"sfa_word projection not inside a whole-stage codegen span:\n$plan")
  }

  test("keyed packWords equals per-key packWordsFused: empty edges row, key without bins") {
    import spark.implicits._
    val base = arrays("keyed", 200)
    // key "a" has bins with an empty coefficient row (coefficient 3);
    // key "b" has no bins row at all and must pack 0s
    val approx = base.select(lit("a").as("k"), col("*"))
      .unionByName(base.select(lit("b").as("k"), col("*")))
    val binsDF = binRows(bins).map { case (c, p, e) => ("a", c, p, e) }
      .toDF("k", "coef", "pos", "edge")
    val keyed = SFAOps.packWords(approx, binsDF, Bits, Seq("k"))
      .select("k", "user_id", "word").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

    val perKey = Map(
      "a" -> wordsById(SFAOps.packWordsFused(base, bins, Bits)),
      "b" -> wordsById(SFAOps.packWordsFused(base, Array.empty[Array[Double]], Bits)))
    assert(keyed.size == 400)
    for ((k, words) <- perKey; (id, w) <- words)
      assert(keyed((k, id)) == w, s"k=$k id=$id keyed=${keyed((k, id))} fused=$w")
    assert(perKey("a").values.exists(_ != 0L), "key a must quantize to non-zero words")
    assert(perKey("b").values.forall(_ == 0L))
  }

  test("a coefficient with more edges than its symbol field holds fails, not wraps") {
    import spark.implicits._
    val over = Array(Array(-0.3, -0.2, -0.1, 0.0)) // 4 edges > 2^2 − 1
    val approx = arrays("over", 10)
    intercept[IllegalArgumentException](SFAOps.packWordsFused(approx, over, Bits))
    val err = intercept[Exception](
      SFAOps.packWords(approx, binRows(over).toDF("coef", "pos", "edge"), Bits).collect())
    assert(err.getMessage.contains("exceed symbol capacity"), err.getMessage)
  }

  test("bridge column round-trips an expression") {
    val c = Bridge.column(graft.sfa.expr.SfaWordExpr(
      Bridge.expression(lit(Array(0.5, 0.5))),
      Bridge.expression(typedlit(Seq(Seq(0.0), Seq(1.0)))), 2))
    import spark.implicits._
    val out = Seq(1).toDF("x").select(c.as("w")).head().getLong(0)
    // coef0: 0.5 >= 0.0 -> sym 1; coef1: 0.5 < 1.0 -> sym 0 -> word = 1
    assert(out == 1L)
  }
}
