package graft.sfa

import graft.SparkSpec
import graft.ts.Cbf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Lag
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.{array, explode, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The BOSS bag builder with the word length f as a data column: on
  * seeded CBF (Saito 1994) its bags at every f equal a driver-side
  * numerosity reduction of the collected words (mask to f symbols, drop
  * consecutive repeats, count), BOSS VS's sweep keeps f ≤ w, and a BOSS
  * fit's leave-one-out sweep computes the words' predecessor once.
  */
class BossBagsSpec extends SparkSpec {

  private val MaxF = 16
  private val UsedBits = Words.binlog(4)
  private val Norms = Seq(true, false)

  private lazy val train: DataFrame = {
    import spark.implicits._
    Cbf(12, 96, seed = 1201L).toSeq.zipWithIndex
      .map { case ((l, d), i) => (i.toLong, l, d.toSeq) }
      .toDF("id", "label", "data")
  }

  /** Cached words with predecessors for `windows` at maxF symbols. */
  private def words(windows: Seq[Int]): DataFrame = {
    val models = Boss.fitBinsGrid(train, windows, Norms, MaxF, 4)
    Boss.withPrev(Boss.slidingWordsGrid(train, models, MaxF)).cache()
  }

  /** Driver-side reference: (norm, w, f, id) → label and word → count. */
  private def reference(words: DataFrame, fs: Int => Seq[Int])
      : Map[(Boolean, Int, Int, Long), (Double, Map[Long, Long])] =
    words.collect().groupBy(r => (r.getAs[Boolean]("norm"), r.getAs[Int]("w"), r.getAs[Long]("id")))
      .toSeq.flatMap { case ((n, w, id), rs) =>
        val sorted = rs.sortBy(_.getAs[Int]("offset")).map(_.getAs[Long]("word")).toSeq
        fs(w).map { f =>
          val masked = sorted.map(_ & Words.mask(f, UsedBits))
          val kept = masked.indices.filter(i => i == 0 || masked(i - 1) != masked(i)).map(masked)
          (n, w, f, id) -> (rs.head.getAs[Double]("label"),
            kept.groupBy(identity).map { case (word, c) => word -> c.size.toLong })
        }
      }.toMap

  private def collected(bags: DataFrame): Map[(Boolean, Int, Int, Long), (Double, Map[Long, Long])] = {
    assert(bags.columns.toSeq == Seq("norm", "w", "id", "label", "word", "cnt", "f"))
    bags.collect().groupBy(r => (r.getBoolean(0), r.getInt(1), r.getInt(6), r.getLong(2)))
      .map { case (k, rs) =>
        assert(rs.map(_.getDouble(3)).distinct.length == 1, s"one label per bag $k")
        assert(rs.map(_.getLong(4)).distinct.length == rs.length, s"one row per word $k")
        k -> (rs.head.getDouble(3), rs.map(r => r.getLong(4) -> r.getLong(5)).toMap)
      }
  }

  test("bags at every f in 4..16 equal the driver-side numerosity-reduced bags") {
    val ws = words(Seq(12, 20, 33))
    try {
      val fs = 4 to MaxF
      val got = collected(Boss.bags(ws.withColumn("f", explode(array(fs.map(lit): _*))), UsedBits))
      val want = reference(ws, _ => fs)
      assert(got.keySet == want.keySet)
      want.foreach { case (k, v) => assert(got(k) == v, s"bag $k") }
    } finally ws.unpersist()
  }

  test("BOSS VS sweep bags keep f <= min(w, maxF) for windows shorter than maxF") {
    val ws = words(Seq(10, 12, 14, 24))
    try {
      val got = collected(BossVS.sweepBags(ws, 4, MaxF, UsedBits))
      val want = reference(ws, w => (4 to MaxF by 2).filter(_ <= w))
      assert(got.keys.map(k => (k._2, k._3)).toSet ==
        Set(10 -> 4, 10 -> 6, 10 -> 8, 10 -> 10, 12 -> 4, 12 -> 6, 12 -> 8, 12 -> 10, 12 -> 12,
          14 -> 4, 14 -> 6, 14 -> 8, 14 -> 10, 14 -> 12, 14 -> 14) ++ (4 to 16 by 2).map(24 -> _))
      assert(got == want)
    } finally ws.unpersist()
  }

  /** Every plan node, through cached relations' plans and adaptive
    * plans' final plans and query stages; each node once.
    */
  private def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[QueryPlan[_], java.lang.Boolean])
    def walk(q: QueryPlan[_]): Unit = if (seen.add(q)) {
      q.children.foreach(c => walk(c.asInstanceOf[QueryPlan[_]]))
      q match {
        case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ => q.innerChildren.foreach(walk)
      }
    }
    walk(p)
    seen.toArray(Array.empty[QueryPlan[_]]).toSeq
  }

  private def windows(plan: SparkPlan): Seq[WindowExec] = nodes(plan).collect { case w: WindowExec => w }

  test("a BOSS fit's LOO sweep plan holds exactly one Window over the words") {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      new BossEnsemble(Boss.Config(minWindowLength = 20, maxWindowLength = 24)).fit(train)
      org.apache.spark.sql.graft.Bridge.waitListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    // the sweep's 1-NN ranks train bags per (norm, w, f, test_id)
    def isSweep(w: WindowExec) =
      w.partitionSpec.map(_.sql).mkString(",").matches(".*\\bf\\b.*test_id.*")
    val sweeps = plans.synchronized(plans.toList).filter(p => windows(p).exists(isSweep))
    assert(sweeps.nonEmpty, "no LOO sweep plan was executed")
    sweeps.foreach { p =>
      val lags = windows(p).filter(_.windowExpression.exists(_.find(_.isInstanceOf[Lag]).isDefined))
      assert(lags.length == 1, s"lag windows in the sweep plan:\n$p")
      assert(lags.head.partitionSpec.map(_.sql) == Seq("norm", "w", "id"))
    }
  }
}
