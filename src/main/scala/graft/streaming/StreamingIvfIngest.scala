package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingestion into a persisted IVF layout — the embedding
  * corpus is the other stream-fed index (the k-NN prefix layout got its
  * ingest in r9; this closes the pair). Raw embedding vectors arriving
  * on a stream are integer-scaled exactly like the batch path
  * (`Similarity.emb`'s ×10⁴ rule), assigned against the layout's OWN
  * persisted centroids, and appended cell-partition-wise once per
  * micro-batch through `Similarity.appendIvfLayout` — serialized by the
  * single-maintainer lock (a batch racing a compaction/re-cluster FAILS
  * FAST; the streaming query terminates and a restart from the
  * checkpoint replays the batch).
  *
  * Delivery semantics: EXACTLY-ONCE, as for [[StreamingIndexIngest]]
  * (MAINTENANCE.md, "Exactly-once streaming ingest").
  */
object StreamingIvfIngest {

  /** One raw embedding row, the shape of the `embeddings` table. */
  final case class EmbedRecord(vec_id: Long, embedding: Seq[Float])

  /** Append one micro-batch exactly-once (see the object doc). The
    * integer scaling is THE batch rule (`Similarity.emb`), so a vector
    * ingested by stream scores bit-identically to the same vector bulk-
    * loaded. Returns whether the batch was appended. Exposed for the
    * spec's replay/crash gates.
    */
  def appendBatch(batch: Dataset[EmbedRecord], streamId: String, batchId: Long,
      loc: String): Boolean = {
    val members = batch.toDF()
      .withColumn("civ",
        expr("transform(embedding, v -> cast(round(cast(v as double) * 10000) as bigint))"))
      .select(col("vec_id").as("c_id"), col("civ"))
    val withNorm = members.withColumn("cn", graft.pipeline.Similarity.dotCol(col("civ"), col("civ")))
    graft.pipeline.Similarity.appendIvfLayout(
      withNorm.sparkSession, withNorm, loc, Some((streamId, batchId)))
  }

  /** Attach the ingest to an embedding stream feeding the IVF layout at
    * `loc` (written by `Similarity.saveIvfLayout` — the append fails
    * fast on a directory without a persisted centroid table).
    */
  def ingest(records: Dataset[EmbedRecord], loc: String,
      checkpoint: String): StreamingQuery =
    StreamingIndexIngest.startIngest(records, checkpoint)(appendBatch(_, _, _, loc))
}
