package graft.sfa

import graft.SparkSpec
import graft.pipeline.Similarity
import graft.ts.Loaders
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._

/** What repeated reads of a maintained layout leave behind: no Spark
  * warning per read of a `_`-prefixed generation directory (box stats,
  * IVF centroids), and no cached k-NN probe frame per call.
  */
class LayoutReadSpec extends SparkSpec {

  private val W = 16
  private val L = 8
  private val Alpha = 8
  private val K = 5
  private val Probe = 48

  private lazy val walk = Loaders.randomWalk(2000 + W - 1, 20261020L)
  private lazy val model = SFA.fitWindowing(Array((walk, 0.0)), W, L, Alpha,
    normMean = false, lowerBounding = true)

  private lazy val layout: String = {
    val corpus = BulkLoad.windowRecords(spark, walk, 2, 1000, W, L, model)
    val path = graft.util.Warehouse.dir(spark, "layout_read_spec_index")
    ModelIO.saveIndex(corpus, model.usedBits, prefixLen = 2, path)
    path
  }

  private def queries(seed: Long) =
    BulkLoad.queryWindows(spark, Loaders.randomWalk(8 * W, seed), 3, W, L, model)

  private def knn(seed: Long) = IndexOps.knnOverLayout(
    layout, queries(seed), model.bins, model.normMean, K, Probe, prefixLen = 2)(spark)._1.collect()

  /** Every message logged while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("layout-read-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { msgs.add(e.getMessage.getFormattedMessage); () }
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    scala.jdk.CollectionConverters.IterableHasAsScala(msgs).asScala.toSeq
  }

  private def ignoredPaths(msgs: Seq[String]) = msgs.filter(_.contains("All paths were ignored"))

  test("k-NN over a layout and an IVF append log no ignored-paths warning") {
    assert(ModelIO.readBoxStats(spark, layout).isDefined, "the layout keeps box stats")
    // the appender sees the warning a direct read of a hidden directory logs
    val statsDir = new java.io.File(layout).listFiles().map(_.getName).find(_.startsWith("_boxes_")).get
    assert(ignoredPaths(logged(spark.read.parquet(s"$layout/$statsDir").count())).nonEmpty)

    assert(ignoredPaths(logged(knn(31337L))).isEmpty)

    val e = Similarity.emb(spark, "/root/testdata/sf0.001")
    val members = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("iv").as("civ"), col("nrm2").as("cn"))
    val cent = Similarity.ivfCentroids(members.select(col("c_id").as("id"), col("civ").as("iv")), 8)
    val loc = graft.util.Warehouse.dir(spark, "layout_read_spec_ivf")
    Similarity.saveIvfLayout(spark, members.filter(col("c_id") % 2 === 0), cent, loc)
    val msgs = logged {
      Similarity.appendIvfLayout(spark, members.filter(col("c_id") % 2 =!= 0), loc)
      Similarity.loadIvfCentroids(spark, loc).count()
      ()
    }
    assert(ignoredPaths(msgs).isEmpty, msgs.mkString("\n"))
  }

  test("repeated k-NN calls on one layout keep at most one cached probe frame") {
    assert(new java.io.File(layout).isDirectory) // built before counting
    val before = spark.sparkContext.getPersistentRDDs.size
    Seq(2L, 3L, 4L).foreach(knn)
    val added = spark.sparkContext.getPersistentRDDs.size - before
    assert(added <= 1, s"three k-NN calls added $added persisted RDDs")
  }
}
