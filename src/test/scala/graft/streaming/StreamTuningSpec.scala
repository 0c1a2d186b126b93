package graft.streaming

import graft.SparkSpec
import graft.sfa.SFA
import graft.ts.Loaders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The state-partition sizing knob must (a) resolve per its documented
  * rule, (b) leave the caller's session conf untouched, and (c) not
  * change a stream's output — per-key folds are partition-independent,
  * so a cardinality-sized stream emits exactly the default-partitioned
  * stream's rows.
  */
class StreamTuningSpec extends SparkSpec {

  test("resolve: explicit conf wins, else ceil(keys/8192) clamped to [1, shuffle.partitions]") {
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(StreamTuning.resolve(spark, 1L) == 1)
    assert(StreamTuning.resolve(spark, 8192L) == 1)
    assert(StreamTuning.resolve(spark, 8193L) == math.min(2, cap))
    Seq(Long.MaxValue / 2, Long.MaxValue).foreach { keys =>
      assert(StreamTuning.resolve(spark, keys) == cap, s"$keys keys")
    }
    spark.conf.set(StreamTuning.PartitionsConf, "3")
    try assert(StreamTuning.resolve(spark, 1L) == 3)
    finally spark.conf.unset(StreamTuning.PartitionsConf)
  }

  test("tuned stream ≡ default stream output; session conf restored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val internalKey = "spark.sql.streaming.internal.stateStore.partitions"
    assert(spark.conf.getOption(internalKey).isEmpty)

    val data = Loaders.znorm(Loaders.randomWalk(120, 777L))
    val model = SFA.fitWindowing(
      Array((data, 0.0)), 16, 8, 4, normMean = false, lowerBounding = true)
    val events = data.zipWithIndex.map { case (v, i) =>
      StreamingWords.PointEvent(7L, i.toLong, v)
    }

    def drive(name: String, tuned: Boolean): Seq[(Long, Long)] = {
      val input = MemoryStream[StreamingWords.PointEvent]
      val words = StreamingWords.wordStream(input.toDS(), model)(spark)
      def start() = words.writeStream
        .format("memory").queryName(name).outputMode("append").start()
      val q =
        if (tuned) StreamTuning.withStatePartitions(spark, 1L)(start())
        else start()
      events.grouped(40).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      spark.sql(s"select offset, word from $name order by offset")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

    val tuned = drive("stream_tuned", tuned = true)
    // the wrapper restored the internal conf after start()
    assert(spark.conf.getOption(internalKey).isEmpty)
    val plain = drive("stream_plain", tuned = false)
    assert(tuned == plain)
  }
}
