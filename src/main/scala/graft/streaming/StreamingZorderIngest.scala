package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingestion into a Z-ordered layout — the third and last
  * stream-fed layout (k-NN prefixes r9, IVF cells r10): event rows
  * arriving on a stream ride the SAME Morton pipeline as the batch path
  * (`Layout.appendZordered`: range-partition + sort on the z-code
  * WITHIN the batch, so every appended file keeps tight per-row-group
  * (user_id, cents) boxes and the layout's skip survives growth) and
  * land as NEW files once per micro-batch, serialized by the
  * single-maintainer lock (a batch racing a compaction FAILS FAST; the
  * streaming query terminates and a restart from the checkpoint
  * replays the batch).
  *
  * Delivery semantics: EXACTLY-ONCE, as for [[StreamingIndexIngest]]
  * (MAINTENANCE.md, "Exactly-once streaming ingest").
  */
object StreamingZorderIngest {

  /** One event row, the shape `Layout.zorderedEvents` persists. */
  final case class EventRecord(
      event_id: Long, user_id: Long, event_type: String, cents: Long)

  /** Append one micro-batch exactly-once (see the object doc). Returns
    * whether the batch was appended. Exposed for the spec's
    * replay/crash gates.
    */
  def appendBatch(batch: Dataset[EventRecord], streamId: String, batchId: Long,
      loc: String): Boolean =
    graft.pipeline.Layout.appendZordered(
      batch.toDF(), loc, ingestKey = Some((streamId, batchId)))

  /** Attach the ingest to an event stream feeding the z-ordered layout
    * at `loc` (written by `Layout.writeZordered` — the append fails
    * fast on a directory without the z-dimensions sidecar).
    */
  def ingest(records: Dataset[EventRecord], loc: String,
      checkpoint: String): StreamingQuery =
    StreamingIndexIngest.startIngest(records, checkpoint)(appendBatch(_, _, _, loc))
}
