package graft.util

import graft.SparkSpec
import graft.sfa.{Boss, BossEnsemble}
import graft.ts.Cbf
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

/** Fits and queries plan under the settings of the session they are
  * given and never change them: a plan built on one thread while a
  * BOSS fit runs on another keeps the session's AQE and shuffle
  * partitions, and the graph bodies that run without AQE do so in a
  * session of their own, leaving the caller's confs as they were.
  */
class ConfIsolationSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Partitions = "spark.sql.shuffle.partitions"
  private val Broadcast = "spark.sql.autoBroadcastJoinThreshold"

  /** (adaptive?, shuffle partitions) of a freshly planned aggregate. */
  private def planShape(): (Boolean, Int) = {
    val plan = spark.range(0, 1000).groupBy((col("id") % 7).as("k")).count()
      .queryExecution.executedPlan
    val body = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val parts = body.collectFirst { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    (plan.isInstanceOf[AdaptiveSparkPlanExec], parts.getOrElse(-1))
  }

  test("a plan built while a BOSS fit runs on another thread keeps the session's settings") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    val train = Cbf(12, 96, seed = 1201L).toSeq.zipWithIndex
      .map { case ((l, d), i) => (i.toLong, l, d.toSeq) }
      .toDF("id", "label", "data").cache()
    val prev = spark.conf.get(Partitions)
    // a value no fit would pick, so a leaked override cannot match it
    spark.conf.set(Partitions, "5")
    try {
      assert(spark.conf.get(Aqe) == "true")
      val fit = Future(new BossEnsemble(Boss.Config(minWindowLength = 20, maxWindowLength = 24)).fit(train))
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, (Boolean, Int))]
      while (!fit.isCompleted) {
        seen += ((spark.conf.get(Aqe), spark.conf.get(Partitions), planShape()))
        Thread.sleep(20)
      }
      val model = Await.result(fit, Duration.Inf)
      model.trainBags.unpersist()
      assert(seen.length >= 5, s"only ${seen.length} samples during the fit")
      seen.foreach(s => assert(s == (("true", "5", (true, 5))), s"during the fit: $s"))
    } finally {
      spark.conf.set(Partitions, prev)
      train.unpersist()
    }
  }

  test("graph_pagerank and graph_triangles leave the caller's confs unchanged and run without AQE") {
    val dir = "/root/testdata/sf0.001"
    def confs = Seq(Aqe, Partitions, Broadcast).map(k => k -> spark.conf.getOption(k))
    val before = confs
    Seq("graph_triangles", "graph_pagerank").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      assert(df.collect().nonEmpty, q)
      assert(confs == before, s"$q changed the session's confs")
      // the result is a cached stage; its cached plan is the body's
      // executed plan, and neither may be adaptive
      val plan = df.queryExecution.executedPlan
      val bodies: Seq[SparkPlan] = plan.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      assert(bodies.nonEmpty, s"$q: no cached body plan")
      (plan +: bodies).foreach { p =>
        assert(p.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty, s"$q planned with AQE:\n$p")
      }
    }
  }
}
