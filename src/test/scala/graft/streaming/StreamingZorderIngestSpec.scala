package graft.streaming

import graft.SparkSpec
import graft.pipeline.Layout
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Continuous Z-order ingestion gate — the third layout's streaming
  * twin: a base layout is z-written from half the events, the other
  * half arrives as a STREAM across several micro-batches, and the
  * grown layout must hold exactly the full corpus (streamed ≡
  * batch-built rows; each appended file is itself z-sorted by
  * construction, the skip property ZorderLayoutSpec measures). Plus
  * the exactly-once contract: replayed batch ids no-op, and a crash
  * between the data write and the manifest publish neither loses nor
  * duplicates a batch.
  */
class StreamingZorderIngestSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streamed event batches grow the z-layout to the batch-built state; replay and crash are safe") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val ev = graft.util.Tables.load(spark, dir, "events")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "cents")
      .cache()
    try {
      val loc = graft.util.Warehouse.dir(spark, "zorder_stream_spec")
      val ckpt = graft.util.Warehouse.dir(spark, "zorder_stream_ckpt")
      Layout.writeZordered(ev.filter(col("event_id") % 2 === 0), loc)
      val base = graft.util.Maintenance.readLayout(spark, loc).count()

      val streamed = ev.filter(col("event_id") % 2 =!= 0)
        .as[StreamingZorderIngest.EventRecord].collect().sortBy(_.event_id)
      assert(streamed.nonEmpty)
      val input = MemoryStream[StreamingZorderIngest.EventRecord]
      val q = StreamingZorderIngest.ingest(input.toDS(), loc, ckpt)
      try {
        streamed.grouped((streamed.length + 2) / 3).foreach { chunk =>
          input.addData(chunk.toSeq); q.processAllAvailable()
        }
      } finally q.stop()

      // streamed-grown ≡ batch-built: the grown layout holds exactly the
      // full corpus' rows (ids are unique, so set equality is row
      // equality), resolved through the committed manifest
      val grownIds = graft.util.Maintenance.readLayout(spark, loc)
        .select("event_id").collect().map(_.getLong(0)).toSet
      val wantIds = ev.select("event_id").collect().map(_.getLong(0)).toSet
      assert(grownIds == wantIds, "streamed-grown rows != batch-built rows")
      assert(grownIds.size.toLong == base + streamed.length)

      val sid = StreamingIndexIngest.checkpointStreamId(spark, ckpt)
      assert(graft.util.Maintenance.lastCommitted(spark, loc, sid) == 2L)
      // replay of a committed batch id of the same lineage: no-op
      val replayBatch = spark.createDataset(streamed.take(5).toSeq)
      assert(!StreamingZorderIngest.appendBatch(replayBatch, sid, 1L, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == grownIds.size.toLong)

      // crash between the batch's data write and its publish: rows stay
      // unpublished (orphans), the restart replays exactly once
      val fresh = streamed.take(7).map(r => r.copy(event_id = r.event_id + 500000L)).toSeq
      graft.util.Maintenance.onBeforeManifestCommit =
        () => throw new RuntimeException("simulated crash before publish")
      val died = scala.util.Try(
        StreamingZorderIngest.appendBatch(spark.createDataset(fresh), sid, 3L, loc))
      graft.util.Maintenance.onBeforeManifestCommit = () => ()
      assert(died.isFailure)
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == grownIds.size.toLong)
      assert(graft.util.Maintenance.lastCommitted(spark, loc, sid) == 2L)
      assert(StreamingZorderIngest.appendBatch(spark.createDataset(fresh), sid, 3L, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() ==
        grownIds.size.toLong + fresh.length)
      assert(!StreamingZorderIngest.appendBatch(spark.createDataset(fresh), sid, 3L, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() ==
        grownIds.size.toLong + fresh.length)
    } finally { ev.unpersist(); () }
  }
}
