package graft
import org.apache.spark.sql.SparkSession

/** The bench's extra tracked items (not registered queries), factored out
  * of [[Bench]]: bodies only; the measurement protocol stays in the
  * caller.
  */
object BenchBodies {

  /** Layout-backed bulk k-NN at BulkLoadSpec's always-on scale (200k
    * windows): bulk MFT transform → prefix-partitioned layout write →
    * partition-pruned exact k-NN. Exactness at this very scale is
    * BulkLoadSpec's gate (k-NN ≡ brute scan, PartitionFilters pinned).
    */
  def bulkKnnBody(spark: SparkSession): Unit = {
    import graft.sfa.{BulkLoad, IndexOps, ModelIO, SFA}
    val (w, l) = (32, 8)
    val (nChunks, chunkSize) = (4, 50000)
    val walk = graft.ts.Loaders.randomWalk(nChunks * chunkSize + w - 1, 20260812L)
    val model = SFA.fitWindowing(Array((walk, 0.0)), w, l, 8,
      normMean = false, lowerBounding = true)
    val corpus = BulkLoad.windowRecords(spark, walk, nChunks, chunkSize, w, l, model)
    val path = graft.util.Warehouse.dir(spark, "bench_bulk_knn")
    ModelIO.saveIndex(corpus, model.usedBits, prefixLen = 2, path)
    val queries = BulkLoad.queryWindows(
      spark, graft.ts.Loaders.randomWalk(4 * w, 777L), 3, w, l, model)
    val (df, _) = IndexOps.knnOverLayout(
      path, queries, model.bins, model.normMean, k = 5, probe = 64, prefixLen = 2)(spark)
    df.write.format("noop").mode("overwrite").save()
  }

  /** Streaming state-path drive: source → stateful op → noop sink,
    * checkpoint included — 100k events over 4 micro-batches so
    * GroupState crosses batch boundaries (see Bench's rationale).
    */
  def streamingWordsBody(spark: SparkSession,
      model: graft.sfa.SFAModel,
      events: IndexedSeq[graft.streaming.StreamingWords.PointEvent]): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamingWords.PointEvent]
    // state partitions sized from the fixture's true key cardinality
    // (the stream owner's estimate — see StreamTuning): the per-batch
    // state-store commit floor, not the fold, dominated at
    // partitions = cores
    val q = graft.streaming.StreamTuning.withStatePartitions(
        spark, graft.streaming.StreamFixtures.WordUsers.toLong) {
      graft.streaming.StreamingWords.wordStream(input.toDS(), model)(spark)
        .writeStream.format("noop").outputMode("append").start()
    }
    try {
      events.grouped(graft.streaming.StreamFixtures.ChunkSize).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
  }

  def streamingDedupBody(spark: SparkSession,
      events: IndexedSeq[graft.streaming.StreamingDedup.DocEvent]): Unit = {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamingDedup.DocEvent]
    val q = graft.streaming.StreamTuning.withStatePartitions(
        spark, graft.streaming.StreamFixtures.DedupKeys.toLong) {
      graft.streaming.StreamingDedup.dedupStream(input.toDS())(spark)
        .writeStream.format("noop").outputMode("append").start()
    }
    try {
      events.grouped(graft.streaming.StreamFixtures.ChunkSize).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
  }
}
