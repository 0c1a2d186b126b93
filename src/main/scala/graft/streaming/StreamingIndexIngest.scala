package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous index ingestion — the streaming twin of the maintenance
  * lifecycle (the reference motivates exactly this surface: "frequent
  * model updates / streaming mining", README.md:239-241, over the
  * trie's single-process insert, SFATrie.java:299-380): window records
  * arriving on a stream are bulk-INSERTed into the persisted
  * prefix-partitioned k-NN layout once per micro-batch via
  * `ModelIO.appendIndexBatch` — partition-wise files, packing fail-fast
  * against the layout's sidecar, serialized by the single-maintainer
  * lock. A micro-batch racing a compaction FAILS FAST at the lock; the
  * exception terminates the streaming query, and a restart from the
  * checkpoint replays the batch (at-least-once delivery — foreachBatch
  * does not retry in place). Queries need no refresh step: the append's
  * manifest commit publishes rows and merged box stats atomically, so
  * every record whose batch committed is immediately searchable.
  *
  * Delivery semantics: EXACTLY-ONCE, keyed by the checkpoint's lineage
  * id — the per-lineage watermark commits in the same manifest rename
  * as the batch's files (`Maintenance.commit`; MAINTENANCE.md,
  * "Exactly-once streaming ingest", gives the argument and its one
  * residual).
  */
object StreamingIndexIngest {

  /** One index record, the same shape `BulkLoad.windowRecords` emits. */
  final case class WindowRecord(
      id: Long, data: Seq[Double], word: Seq[Int], approx: Seq[Double])

  /** Batch id of the most recent committed micro-batch of ANY lineage
    * (−1 = none) — observability; the replay guard reads the
    * per-lineage watermarks (`Maintenance.lastCommitted`), not this.
    */
  def lastCommitted(s: SparkSession, path: String): Long =
    graft.util.Maintenance.lastIngested(s, path)

  /** Append one micro-batch exactly-once: skipped ONLY when the
    * manifest's watermark FOR THIS stream lineage (`streamId`) is at or
    * above `batchId`. Micro-batch ids are CHECKPOINT-scoped — a
    * recreated checkpoint renumbers from 0, so a layout-scoped bare
    * batch-id guard would silently drop whole batches of brand-new
    * data; keying the watermark by the stream's identity confines the
    * skip to genuine replays of one lineage. Returns whether the batch
    * was appended. Exposed for the spec's replay-guard gates.
    */
  def appendBatch(batch: DataFrame, streamId: String, batchId: Long,
      usedBits: Int, prefixLen: Int, path: String): Boolean =
    graft.sfa.ModelIO.appendIndexBatch(batch, usedBits, prefixLen, path,
      ingestKey = Some((streamId, batchId)))

  /** The query id Structured Streaming persisted in `checkpoint`'s own
    * `metadata` file — minted when the checkpoint is created and stable
    * across restarts of it, i.e. exactly the lineage whose batch ids
    * are comparable. Exposed for the spec.
    */
  def checkpointStreamId(s: SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p), "UTF-8"))
    val text = try Iterator.continually(in.readLine()).takeWhile(_ != null).mkString
    finally in.close()
    "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(text) match {
      case Some(m) => m.group(1)
      case None => throw new IllegalStateException(
        s"no query id in checkpoint metadata $p — cannot scope the commit watermark")
    }
  }

  /** Attach the ingest to a window-record stream. The layout at `path`
    * should exist (written by `ModelIO.saveIndex`, which makes it
    * self-describing); a first append onto a fresh path annotates it
    * with the asserted packing instead.
    */
  def ingest(records: Dataset[WindowRecord], usedBits: Int, prefixLen: Int,
      path: String, checkpoint: String): StreamingQuery =
    startIngest(records, checkpoint) { (batch, streamId, id) =>
      appendBatch(batch.toDF(), streamId, id, usedBits, prefixLen, path)
    }

  /** The `foreachBatch` sink every layout ingest shares: each
    * micro-batch goes to `append` with the checkpoint's lineage id and
    * its batch id, which together are the batch's exactly-once key.
    */
  private[streaming] def startIngest[T](records: Dataset[T], checkpoint: String)(
      append: (Dataset[T], String, Long) => Boolean): StreamingQuery = {
    val s = records.sparkSession
    // resolved on the FIRST batch (the engine writes the checkpoint
    // metadata at query start, before any batch fires)
    lazy val streamId = checkpointStreamId(s, checkpoint)
    val sink: (Dataset[T], Long) => Unit = (batch, id) => {
      append(batch, streamId, id)
      ()
    }
    records.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch(sink)
      .start()
  }
}
