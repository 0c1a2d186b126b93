package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-partition sizing for the stateful streams.
  *
  * A `flatMapGroupsWithState` stream pays a per-partition, per-batch
  * state-store cost (open + commit + version copy) that is independent
  * of how many keys the partition holds — measured on the bench fixture
  * at ~40 ms per partition per batch with the HDFS-backed store, which
  * at `spark.sql.shuffle.partitions` = cores dwarfs the fold itself
  * (words twin: 1.35 s/batch at 32 partitions vs 0.62 at 8 for the
  * same 25k events; RocksDB was measured slower still at this scale).
  * The right partition count therefore follows the STATE CARDINALITY,
  * not the core count.
  *
  * Resolution order for a stream started through [[withStatePartitions]]:
  *
  *  1. `spark.graft.streaming.statePartitions` — the explicit owner's
  *     knob (a data team sizing for a compute-heavy fold or a known
  *     key distribution sets it directly);
  *  2. otherwise `ceil(expectedKeys / 8192)` clamped to
  *     [1, spark.sql.shuffle.partitions] — about 8k state rows per
  *     store, enough keys to amortize the per-store commit, capped so
  *     the scale path (many keys → many partitions) is exactly the old
  *     behavior.
  *
  * The caller supplies `expectedKeys` — the stream owner's cardinality
  * estimate, the same number that sizes any state-store deployment. An
  * UNDER-estimate only costs parallelism, never correctness (per-key
  * folds are partition-independent; the streaming≡batch parity specs
  * run at the default partitioning and pin that).
  *
  * Mechanically the count is applied through Spark's
  * `spark.sql.streaming.internal.stateStore.partitions` (the stateful
  * operators' partitioning override, snapshotted when the query starts
  * — an internal conf, so this is the single place that names it), set
  * around the `start()` call and restored after: `StreamExecution`
  * clones the session at construction, so the running query keeps the
  * value and the caller's session is left untouched. Caveat: the
  * partition count of a stream is fixed at its FIRST checkpoint, like
  * `spark.sql.shuffle.partitions` always was — resizing requires a new
  * checkpoint.
  */
object StreamTuning {

  val PartitionsConf = "spark.graft.streaming.statePartitions"

  /** Target state rows per store — the measured point where the
    * per-partition commit cost is amortized (see class doc).
    */
  val KeysPerPartition = 8192L

  def resolve(s: SparkSession, expectedKeys: Long): Int = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    s.conf.getOption(PartitionsConf).map(_.toInt).getOrElse {
      // ceil without the `+ KeysPerPartition - 1` that overflows near Long.MaxValue
      val byKeys = expectedKeys / KeysPerPartition + (if (expectedKeys % KeysPerPartition > 0) 1 else 0)
      math.max(1L, math.min(byKeys, cap.toLong)).toInt
    }
  }

  /** Run `start` (which must construct + start the streaming query)
    * with the resolved state partition count in effect; the session
    * conf is restored afterwards.
    */
  def withStatePartitions[T](s: SparkSession, expectedKeys: Long)(start: => T): T = {
    val key = "spark.sql.streaming.internal.stateStore.partitions"
    val prev = s.conf.getOption(key)
    s.conf.set(key, resolve(s, expectedKeys).toString)
    try start
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
