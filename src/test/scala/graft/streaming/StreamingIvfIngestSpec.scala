package graft.streaming

import graft.SparkSpec
import graft.pipeline.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Continuous IVF ingestion gate: a base layout is saved from half the
  * embedding corpus, the other half arrives as a STREAM of raw float
  * vectors across several micro-batches, and the grown layout's
  * membership must equal the one-shot batch assignment of the full
  * corpus (streamed ≡ batch-built, bit-level). Plus the exactly-once
  * contract: replayed batch ids no-op, and a crash between the data
  * write and the manifest publish neither loses nor duplicates a batch.
  */
class StreamingIvfIngestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streamed embedding batches grow the layout to the batch-built state; replay and crash are safe") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val raw = graft.util.Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= 10)
    val members = Similarity.emb(spark, dir).filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("iv").as("civ"), col("nrm2").as("cn"))
      .cache()
    try {
      val cent = Similarity.ivfCentroids(
        members.select(col("c_id").as("id"), col("civ").as("iv")), 8)
      val loc = graft.util.Warehouse.dir(spark, "ivf_stream_spec")
      val ckpt = graft.util.Warehouse.dir(spark, "ivf_stream_ckpt")
      Similarity.saveIvfLayout(spark,
        members.filter(col("c_id") % 2 === 0), cent, loc)
      val base = spark.read.parquet(loc).count()

      val streamed = raw.filter(col("vec_id") % 2 =!= 0)
        .select(col("vec_id"), col("embedding"))
        .as[StreamingIvfIngest.EmbedRecord].collect().sortBy(_.vec_id)
      assert(streamed.nonEmpty)
      val input = MemoryStream[StreamingIvfIngest.EmbedRecord]
      val q = StreamingIvfIngest.ingest(input.toDS(), loc, ckpt)
      try {
        streamed.grouped((streamed.length + 2) / 3).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()

      // streamed-grown ≡ batch-built: the (cell, c_id) membership equals
      // the one-shot assignment of the FULL corpus under the persisted
      // centroids (the ×10⁴ integer scaling is shared, so a streamed
      // float vector lands exactly where its bulk-loaded twin would)
      val grown = graft.util.Maintenance.readLayout(spark, loc)
        .select(col("cell").cast("long"), col("c_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShot = Similarity.assignCells(
          members.select(col("c_id").as("id"), col("civ").as("iv")),
          Similarity.loadIvfCentroids(spark, loc))
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
      assert(grown == oneShot, "streamed-grown membership != batch-built membership")
      assert(grown.size == base + streamed.length)

      val sid = StreamingIndexIngest.checkpointStreamId(spark, ckpt)
      assert(graft.util.Maintenance.lastCommitted(spark, loc, sid) == 2L)
      // replay of a committed batch id of the same lineage: no-op
      val replayBatch = spark.createDataset(streamed.take(5).toSeq)
      assert(!StreamingIvfIngest.appendBatch(replayBatch, sid, 1L, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == grown.size.toLong)

      // crash between the batch's data write and its publish: rows stay
      // unpublished (orphans), the restart replays exactly once
      val fresh = streamed.take(7).map(r => r.copy(vec_id = r.vec_id + 500000L)).toSeq
      graft.util.Maintenance.onBeforeManifestCommit =
        () => throw new RuntimeException("simulated crash before publish")
      val died = scala.util.Try(
        StreamingIvfIngest.appendBatch(spark.createDataset(fresh), sid, 3L, loc))
      graft.util.Maintenance.onBeforeManifestCommit = () => ()
      assert(died.isFailure)
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == grown.size.toLong)
      assert(graft.util.Maintenance.lastCommitted(spark, loc, sid) == 2L)
      assert(StreamingIvfIngest.appendBatch(spark.createDataset(fresh), sid, 3L, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() ==
        grown.size.toLong + fresh.length)
      assert(!StreamingIvfIngest.appendBatch(spark.createDataset(fresh), sid, 3L, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() ==
        grown.size.toLong + fresh.length)
    } finally { members.unpersist(); () }
  }
}
