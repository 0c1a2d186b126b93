package graft.streaming

import graft.SparkSpec
import graft.sfa.{BulkLoad, IndexOps, ModelIO, SFA}
import graft.ts.Loaders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Continuous index ingestion gate: a base layout is saved, the rest of
  * the corpus arrives as a STREAM of window records across several
  * micro-batches, and exact k-NN over the persisted layout must equal
  * the brute scan of the full corpus — with queries cut from the
  * STREAMED region so streamed records must win. Plus the idempotence
  * contract: a replayed batch id appends nothing.
  */
class StreamingIndexIngestSpec extends SparkSpec {

  private val W = 16
  private val L = 8
  private val Alpha = 8
  private val K = 5

  test("streamed micro-batches land in the layout; k-NN exact; replayed batch ids are no-ops") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val s: org.apache.spark.sql.SparkSession = spark

    val n = 3000
    val walk = Loaders.randomWalk(n + W - 1, 20260916L)
    val model = SFA.fitWindowing(Array((walk, 0.0)), W, L, Alpha,
      normMean = false, lowerBounding = true)
    val corpus = BulkLoad.windowRecords(spark, walk, 3, n / 3, W, L, model).cache()
    val half = (n / 2).toLong
    val path = graft.util.Warehouse.dir(spark, "stream_ingest_index")
    val ckpt = graft.util.Warehouse.dir(spark, "stream_ingest_ckpt")

    // base layout from the first half; the second half arrives streamed
    ModelIO.saveIndex(corpus.filter(col("id") < half), model.usedBits, prefixLen = 2, path)
    assert(StreamingIndexIngest.lastCommitted(spark, path) == -1L)
    val streamed = corpus.filter(col("id") >= half)
      .as[StreamingIndexIngest.WindowRecord].collect().sortBy(_.id)

    val input = MemoryStream[StreamingIndexIngest.WindowRecord]
    val q = StreamingIndexIngest.ingest(
      input.toDS(), model.usedBits, prefixLen = 2, path, ckpt)
    try {
      streamed.grouped((streamed.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()

    val loaded = ModelIO.loadIndex(path)(spark)
    assert(loaded.count() == n.toLong, "every streamed record must have landed exactly once")
    assert(StreamingIndexIngest.lastCommitted(spark, path) == 2L,
      "three micro-batches must have advanced the commit watermark to 2")

    // queries cut from the STREAMED region: streamed records must win
    val fromStreamed = BulkLoad.queryWindows(
        spark, walk.slice(half.toInt + 50, half.toInt + 50 + 4 * W), 3, W, L, model)
    val (gotDf, stats) = IndexOps.knnOverLayout(
      path, fromStreamed, model.bins, model.normMean, K, probe = 48, prefixLen = 2)(spark)
    val got = gotDf.orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = IndexOps.knnScan(
        loaded.select("id", "data"), fromStreamed.select("qid", "qdata"), K)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 3 * K)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"$g vs $w")
      assert(math.abs(g._4 - w._4) < 1e-9)
    }
    assert(got.exists(_._3 >= half), "no streamed record ever won — gate is vacuous")
    assert(stats.corpusRows == n.toLong)

    // replay guard: re-delivering an already-committed batch id OF THE
    // SAME LINEAGE appends NOTHING (the at-least-once restart path)...
    val sid = StreamingIndexIngest.checkpointStreamId(spark, ckpt)
    val replay = corpus.filter(col("id") < 100)
      .withColumn("id", col("id") + 900000L)
    assert(!StreamingIndexIngest.appendBatch(replay, sid, 1L, model.usedBits, 2, path))
    assert(ModelIO.loadIndex(path)(spark).count() == n.toLong, "replayed batch must be a no-op")
    assert(StreamingIndexIngest.appendBatch(replay, sid, 3L, model.usedBits, 2, path))
    assert(ModelIO.loadIndex(path)(spark).count() == n.toLong + 100L)
    assert(StreamingIndexIngest.lastCommitted(spark, path) == 3L)
    // ...but batch ids are CHECKPOINT-scoped: a recreated checkpoint
    // renumbers from 0, and its batches are NEW DATA the old watermark
    // must never mute — a different lineage id with a LOW batch id
    // appends (the silent-loss path a bare layout-scoped guard had)
    val fresh = corpus.filter(col("id") < 50)
      .withColumn("id", col("id") + 950000L)
    assert(StreamingIndexIngest.appendBatch(fresh, "recreated-checkpoint", 0L,
      model.usedBits, 2, path))
    assert(ModelIO.loadIndex(path)(spark).count() == n.toLong + 150L)
    assert(StreamingIndexIngest.lastCommitted(spark, path) == 0L)
    corpus.unpersist()
  }

  test("a crash between the append's data write and its publish neither loses nor duplicates the batch") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val n = 1200
    val walk = Loaders.randomWalk(n + W - 1, 20261011L)
    val model = SFA.fitWindowing(Array((walk, 0.0)), W, L, Alpha,
      normMean = false, lowerBounding = true)
    val corpus = BulkLoad.windowRecords(spark, walk, 2, n / 2, W, L, model).cache()
    val half = (n / 2).toLong
    val path = graft.util.Warehouse.dir(spark, "stream_crash_index")
    ModelIO.saveIndex(corpus.filter(col("id") < half), model.usedBits, prefixLen = 2, path)
    val batch = corpus.filter(col("id") >= half)

    // crash at the one instant the r9 design could double a batch: data
    // files are durable, the publish (manifest rename, carrying the
    // watermark header) never happens
    graft.util.Maintenance.onBeforeManifestCommit =
      () => throw new RuntimeException("simulated crash before publish")
    val died = scala.util.Try(
      StreamingIndexIngest.appendBatch(batch, "lineage-x", 0L, model.usedBits, 2, path))
    graft.util.Maintenance.onBeforeManifestCommit = () => ()
    assert(died.isFailure, "the simulated crash must propagate")
    // unpublished: readers see exactly the pre-batch snapshot, the
    // watermark never advanced, and the crashed write's files are
    // orphans on disk that no manifest names
    assert(ModelIO.loadIndex(path)(spark).count() == half)
    assert(graft.util.Maintenance.lastCommitted(spark, path, "lineage-x") == -1L)
    val manifestFiles = graft.util.Maintenance.readManifest(spark, path).get.files.toSet
    val orphans = graft.util.Maintenance.listDataFiles(spark, path).filterNot(manifestFiles)
    assert(orphans.nonEmpty, "fixture: the crashed write must have left durable files")

    // the restart replays the batch: it lands EXACTLY ONCE (the orphans
    // are never adopted), the watermark advances, and k-NN over the
    // layout equals the brute scan of the true corpus
    assert(StreamingIndexIngest.appendBatch(batch, "lineage-x", 0L, model.usedBits, 2, path))
    val loaded = ModelIO.loadIndex(path)(spark)
    assert(loaded.count() == n.toLong, s"replay must land the batch exactly once")
    assert(graft.util.Maintenance.lastCommitted(spark, path, "lineage-x") == 0L)
    // a second replay is a no-op
    assert(!StreamingIndexIngest.appendBatch(batch, "lineage-x", 0L, model.usedBits, 2, path))
    assert(ModelIO.loadIndex(path)(spark).count() == n.toLong)
    val queries = BulkLoad.queryWindows(
      spark, walk.slice(half.toInt + 30, half.toInt + 30 + 4 * W), 3, W, L, model)
    val (gotDf, _) = IndexOps.knnOverLayout(
      path, queries, model.bins, model.normMean, K, probe = 48, prefixLen = 2)(spark)
    val got = gotDf.orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = IndexOps.knnScan(
        loaded.select("id", "data"), queries.select("qid", "qdata"), K)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 3 * K)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._3 == w._3, s"$g vs $w")
      assert(math.abs(g._4 - w._4) < 1e-9)
    }
    corpus.unpersist()
  }
}
