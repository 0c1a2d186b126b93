package graft.sfa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact k-NN similarity search, Spark-native SFATrie equivalent
  * (/root/reference/src/main/java/sfa/index/SFATrie.java).
  *
  * The reference's trie is a single-process best-first branch-and-bound.
  * The distributed re-expression (its own bulk-load design,
  * SFABulkLoadTest.java:162-331, scaled out):
  *
  *  - layout: records partitioned by SFA word prefix, each carrying its
  *    word and Fourier approximation — at rest this is parquet
  *    partitioned by prefix with min/max column stats, so the LB prune
  *    maps onto partition/row-group pruning;
  *  - query: filter-and-refine. Phase 1 ranks candidates by the SFA
  *    lower-bounding distance (SFADistance.java:22-67: per-coefficient
  *    distance of the query's Fourier value to the candidate symbol's
  *    bin interval, Σ 2·d²) and verifies the best `probe` candidates
  *    with the exact distance to obtain a threshold τ = current k-th
  *    best; phase 2 verifies every record with LB ≤ τ. Because LB
  *    lower-bounds the true distance, no qualifying record can be
  *    missed — the result is EXACT, the same guarantee the trie's
  *    best-first search gives (SFATrieTest.java:75-86 asserts equality
  *    with a sequential scan; our j6 oracle is exactly that scan).
  *
  * At 100 TB the LB pass is a narrow column scan (word LONG + small
  * approx array) with partial top-k per partition; only τ-qualifying
  * rows touch the full series.
  */
object IndexOps {

  /** SFA lower-bounding distance of a query's Fourier values to a stored
    * word, given the fitted bin edges (SFADistance.java:22-67). `normed`
    * drops the DC pair (its distance only counts when the series keep
    * their means).
    */
  def lbDistance(
      word: Array[Int],
      queryWord: Array[Int],
      queryApprox: Array[Double],
      bins: Array[Array[Double]],
      normed: Boolean): Double = {
    def dist(i: Int): Double = {
      val c1 = word(i)
      val c2 = queryWord(i)
      if (c1 == c2) 0.0
      else if (c1 > c2) bins(i)(c1 - 1) - queryApprox(i)
      else queryApprox(i) - bins(i)(c1)
    }
    var d = 0.0
    var i = 0
    if (!normed) {
      val v = dist(0)
      d = v * v
      i = 2
    }
    while (i < word.length) {
      val v = dist(i)
      d += 2.0 * v * v
      i += 1
    }
    d
  }

  /** [[lbDistance]] as a Column — the native codegen expression
    * ([[graft.sfa.expr.LbDistExpr]]); the fitted bins ride in the plan
    * as a model-sized nested-array literal instead of a closure
    * capture. Bit-identical evaluation order to the Scala form.
    */
  def lbCol(word: Column, qword: Column, qapprox: Column,
      bins: Array[Array[Double]], normed: Boolean): Column = {
    import org.apache.spark.sql.graft.Bridge
    val binsLit = Bridge.expression(
      org.apache.spark.sql.functions.typedlit(bins.map(_.toSeq).toSeq))
    Bridge.column(graft.sfa.expr.LbDistExpr(
      Bridge.expression(word), Bridge.expression(qword),
      Bridge.expression(qapprox), binsLit, normed))
  }

  /** Exact squared Euclidean distance between fixed-length slices —
    * the native codegen expression ([[graft.sfa.expr.Ed2Expr]]): same
    * ascending-index accumulation as the Scala-UDF form it replaced
    * (bit-identical results, all oracles unchanged), but fused into
    * whole-stage codegen with no per-row array deserialization.
    */
  private[graft] def ed2Udf(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(graft.sfa.expr.Ed2Expr(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b)))

  /** The k-NN prefix key: `len` word symbols from 0-based symbol `start`
    * packed base `base` into a LONG, most significant first. An ARRAY
    * join key is not hashable, so every prefix equi-join would degrade
    * to a broadcast nested-loop over (corpus × survivor) pairs — the
    * hash join needs a scalar.
    *
    * The lambda is SQL text with fixed variable names: `functions.aggregate`
    * names its variables afresh on every call, so two builds of the same
    * plan would hash apart and miss the plan-keyed stage slots
    * ([[graft.util.Pipelines.tracked]], the k-NN probe slot).
    */
  private[graft] def prefixCol(word: Column, start: Int, len: Int, base: Int): Column =
    call_function("aggregate", slice(word, start + 1, len), lit(0L), expr(s"(acc, s) -> acc * $base + s"))

  /** Pruning telemetry of one [[knn]] run: how much of the corpus the LB
    * pass actually touched (the trie's subtree-skip, measured).
    */
  final case class KnnStats(
      corpusRows: Long,
      queryRows: Long,
      probeVerified: Long,
      lbScanned: Long) {
    /** Fraction of (corpus × query) pairs LB-evaluated after box pruning. */
    def scanFraction: Double =
      if (corpusRows == 0 || queryRows == 0) 0.0
      else lbScanned.toDouble / (corpusRows.toDouble * queryRows.toDouble)
  }

  /** Exact k-NN by box-pruned LB filter-and-refine — the distributed
    * analogue of the trie's best-first descent (SFATrie.java:651-718):
    * the trie prunes a subtree when the query's distance to the node's
    * Fourier min/max bounding box exceeds τ; here a *prefix partition*
    * plays the node, its box is the per-coefficient min/max of member
    * approximations (what `a8_minmax_boxes` computes and
    * `ModelIO.saveIndex` lays down as parquet column stats), and a
    * pruned prefix is never LB-scanned at all.
    *
    * Phases: (0) per-prefix boxes (index-build side at rest);
    * (1) probe = the members of the lowest-box-LB prefixes (cumulative
    * size ≥ `probe`), verified exactly → τ = per-query kth-best;
    * (2) prefixes with boxLB > τ dropped, survivors LB-scanned, rows
    * with LB ≤ τ verified. Exact because box-LB ≤ member word-LB ≤ true
    * distance (box ⊇ member approx; Parseval), so no τ-qualifying row
    * can sit in a pruned prefix.
    *
    * @param corpus  (id, data ARRAY<DOUBLE>, word ARRAY<INT>, approx ARRAY<DOUBLE>)
    * @param queries (qid, qdata, qword, qapprox)
    * @param bins    fitted SFA bin edges (broadcast with the closure)
    * @param k       neighbors per query
    * @param probe   phase-1 verification budget per query (≥ k)
    * @param prefixStart first word symbol of the grouping prefix (use 2
    *                    to skip a degenerate DC pair, matching j8/a8)
    * @param prefixLen   symbols in the grouping prefix; 0 (default) =
    *                    adaptive from corpus cardinality, see
    *                    [[adaptiveDepth]]
    * @return (qid, rank, id, dist2) — identical to a brute scan
    */
  def knn(
      corpus: DataFrame,
      queries: DataFrame,
      bins: Array[Array[Double]],
      normed: Boolean,
      k: Int,
      probe: Int,
      prefixStart: Int = 0,
      prefixLen: Int = 0)(implicit spark: SparkSession): DataFrame =
    knnWithStats(corpus, queries, bins, normed, k, probe, prefixStart, prefixLen)._1

  /** Adaptive prefix depth — the reference's bulk-load rule
    * `round(log_α(count / chunk))` with chunk = the trie's leaf
    * capacity (SFABulkLoadTest.java:162-166, leafThreshold = 100 at
    * SFABulkLoadTest.java:37), clamped to [1, maxDepth]. Evaluated in
    * exact integer arithmetic: round(log_α(x)) = d ⇔ α^(2d−1) ≤ x² <
    * α^(2d+1), so the same N gives the same depth on every engine (no
    * FP-log knife edges).
    */
  def adaptiveDepth(n: Long, alpha: Int, maxDepth: Int, chunk: Long = 100L): Int = {
    def roundGe(d: Int): Boolean =
      BigInt(alpha).pow(2 * d - 1) * BigInt(chunk) * BigInt(chunk) <= BigInt(n) * BigInt(n)
    var d = 1
    while (d < maxDepth && roundGe(d + 1)) d += 1
    d
  }

  /** [[knn]] plus its pruning telemetry (computed eagerly; the stats
    * actions only touch the tiny box/prefix tables).
    */
  def knnWithStats(
      corpus: DataFrame,
      queries: DataFrame,
      bins: Array[Array[Double]],
      normed: Boolean,
      k: Int,
      probe: Int,
      prefixStart: Int = 0,
      prefixLen: Int = 0,
      queryBatchRows: Long = QueryBatchRows)(implicit spark: SparkSession): (DataFrame, KnnStats) = {
    // exactness depends on this: a query with no τ (probed members < k)
    // is treated as "the whole corpus holds < k rows", which only
    // follows when the probe budget itself is ≥ k — probe < k would
    // silently truncate results instead
    require(probe >= k, s"probe budget ($probe) must be >= k ($k)")
    // prefixLen = 0 → adaptive from corpus cardinality (deeper prefixes
    // as the corpus grows, shallow for small corpora — the bulk-load
    // depth rule). Exactness holds at ANY depth; depth only moves the
    // box-granularity/prefix-count trade-off.
    val plen =
      if (prefixLen > 0) prefixLen
      else adaptiveDepth(corpus.count(), bins(0).length + 1, bins.length - prefixStart)
    // base 256 ≥ any alphabet in use (reference caps α at 8)
    val prepared = corpus.select(col("id"), col("data"), col("word"), col("approx"),
      prefixCol(col("word"), prefixStart, plen, 256).as("prefix"))
    knnCore(prepared, queries, bins, normed, k, probe, plen, queryBatchRows,
      probeSlot = s"corpus:${prepared.queryExecution.logical.semanticHash()}")
  }

  /** The per-prefix Fourier bounding-box aggregate shared by the
    * query-time fallback (phase 0 over an in-memory corpus) and the
    * BUILD-time stats `ModelIO.saveIndex`/`appendIndex` persist: one
    * row per prefix with its member count and per-coefficient min/max
    * of `approx`. min/max/count are order-independent and exact, and
    * doubles round-trip parquet exactly, so stats computed at build
    * time are BIT-IDENTICAL to a query-time scan of the same rows —
    * which is what lets the persisted-stats path keep the j6 oracles
    * hash-unchanged.
    */
  def boxTable(prepared: DataFrame): DataFrame = prepared
    .select(col("prefix"), posexplode(col("approx")).as(Seq("coef", "v")))
    .groupBy("prefix", "coef")
    .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("cnt"))
    .groupBy("prefix")
    .agg(max("cnt").as("cnt"),
      expr("transform(sort_array(collect_list(struct(coef, mn))), p -> p.mn)").as("mns"),
      expr("transform(sort_array(collect_list(struct(coef, mx))), p -> p.mx)").as("mxs"))

  /** [[boxTable]] collected to the driver in ONE aggregation: the
    * distributed part stops at the (prefix, coef) grouped min/max/count
    * — at most prefixes × coefficients rows — and the per-prefix array
    * assembly (previously a SECOND shuffle of collect_list/sort_array)
    * runs on those collected rows instead. Values are bit-identical to
    * collecting [[boxTable]]: same min/max/count over the same rows,
    * assembly order = coef ascending (exactly the sort_array struct
    * order). This is the shape every consumer actually wants — both the
    * save-time stats writer and the query-time fallback collect the
    * table anyway — so the second exchange was pure scheduling cost.
    */
  def boxRows(prepared: DataFrame): Array[(Long, Long, Seq[Double], Seq[Double])] =
    prepared
      .select(col("prefix"), posexplode(col("approx")).as(Seq("coef", "v")))
      .groupBy("prefix", "coef")
      .agg(min("v").as("mn"), max("v").as("mx"), count(lit(1)).as("cnt"))
      .collect()
      .groupBy(_.getLong(0)).toArray.sortBy(_._1)
      .map { case (p, rows) =>
        val byCoef = rows.sortBy(_.getInt(1))
        (p, byCoef.map(_.getLong(4)).max,
          byCoef.map(_.getDouble(2)).toSeq, byCoef.map(_.getDouble(3)).toSeq)
      }

  /** Driver-side merge of two [[boxRows]]-shaped tables (the append
    * path's persisted-stats update): counts add, boxes widen
    * element-wise. min/max use Spark SQL's double total order
    * (java.lang.Double.compare: NaN greatest, -0.0 < 0.0), so the
    * result is bit-identical to a distributed union/explode/re-aggregate,
    * which on tables of at most α^prefixLen rows was three exchanges of
    * driver-sized data.
    */
  def mergeBoxRows(
      a: Array[(Long, Long, Seq[Double], Seq[Double])],
      b: Array[(Long, Long, Seq[Double], Seq[Double])])
      : Array[(Long, Long, Seq[Double], Seq[Double])] = {
    def mn(x: Double, y: Double) = if (java.lang.Double.compare(x, y) <= 0) x else y
    def mx(x: Double, y: Double) = if (java.lang.Double.compare(x, y) >= 0) x else y
    (a ++ b).groupBy(_._1).toArray.sortBy(_._1).map { case (p, rows) =>
      rows.reduce { (l, r) =>
        (p, l._2 + r._2,
          l._3.lazyZip(r._3).map(mn).toSeq, l._4.lazyZip(r._4).map(mx).toSeq)
      }
    }
  }

  /** [[knnWithStats]] over a PERSISTED prefix-partitioned parquet layout
    * (the S10 at-rest form, `ModelIO.saveIndex` with the same
    * (prefixStart, prefixLen, base-256) packing): the member scans of
    * both phases read ONLY the probed/surviving prefixes' directories —
    * the driver-planned prefix lists become static PartitionFilters at
    * the scan (IndexLayoutSpec pins the pruned plan), so the index
    * serves corpora that never fit memory. Bit-identical to the
    * in-memory path: doubles round-trip parquet exactly, and both paths
    * share [[knnCore]].
    *
    * Phase 0 reads the layout's MAINTAINED box stats when the manifest
    * carries them (`ModelIO.saveIndex` writes the [[boxTable]] as a
    * stats table whose pointer commits atomically with the file list;
    * `appendIndex` merge-updates it under the same commit): O(prefixes)
    * metadata instead of a full one-column layout scan per call — the
    * r9 verdict's last scale-hostile plan. Staleness is impossible by
    * construction (stats pointer and file list are one atomic rename);
    * a manifest WITHOUT the stats header (pre-stats layout) falls back
    * to the query-time aggregate.
    */
  def knnOverLayout(
      path: String,
      queries: DataFrame,
      bins: Array[Array[Double]],
      normed: Boolean,
      k: Int,
      probe: Int,
      prefixLen: Int,
      queryBatchRows: Long = QueryBatchRows)(implicit spark: SparkSession): (DataFrame, KnnStats) = {
    require(probe >= k, s"probe budget ($probe) must be >= k ($k)")
    require(prefixLen > 0, "layout-backed knn needs the depth the layout was written with")
    val prepared = graft.util.Maintenance.readLayout(spark, path)
      .select(col("id"), col("data"), col("word"), col("approx"),
        col("prefix").cast("long").as("prefix"))
    knnCore(prepared, queries, bins, normed, k, probe, prefixLen, queryBatchRows,
      probeSlot = s"layout:$path", precomputedBoxes = ModelIO.readBoxStats(spark, path))
  }

  /** The filter-and-refine engine shared by the in-memory and persisted
    * paths: `prepared` carries (id, data, word, approx, prefix) from
    * either a projected corpus or a partitioned layout scan. Every
    * member/payload access goes through a prefix-list filter, so against
    * a layout the planner turns the driver's probe/survivor plan into
    * partition pruning. Each batch's phase-1 probe frame is cached in
    * the session's `probeSlot` slot (one per corpus or layout and batch
    * index), so the next call on the same corpus releases it.
    */
  private def knnCore(
      prepared: DataFrame,
      queries: DataFrame,
      bins: Array[Array[Double]],
      normed: Boolean,
      k: Int,
      probe: Int,
      plen: Int,
      queryBatchRows: Long,
      probeSlot: String,
      precomputedBoxes: Option[Array[(Long, Long, Seq[Double], Seq[Double])]] = None)(
      implicit spark: SparkSession): (DataFrame, KnnStats) = {
    def lbUdf(w: Column, qw: Column, qa: Column): Column = lbCol(w, qw, qa, bins, normed)
    // the same DC/symmetric-coefficient weighting lbDistance applies;
    // per coefficient the distance is to the [mn, mx] interval, which
    // contains every member's approx value — box-LB ≤ member approx
    // distance ≤ true distance
    def boxLb(mns: Seq[Double], mxs: Seq[Double], qa: Seq[Double]): Double = {
      def dist(i: Int): Double =
        if (qa(i) < mns(i)) mns(i) - qa(i)
        else if (qa(i) > mxs(i)) qa(i) - mxs(i)
        else 0.0
      val n = math.min(qa.length, mns.length)
      var d = 0.0
      var i = 0
      if (!normed && n > 0) {
        val v = dist(0)
        d = v * v
        i = 2
      }
      while (i < n) {
        val v = dist(i)
        d += 2.0 * v * v
        i += 1
      }
      d
    }
    // prefix-list member access — THE pruning point: a driver-planned
    // prefix set becomes an `IN` filter on the prefix column, which a
    // partitioned layout turns into PartitionFilters (directory skips)
    // and the in-memory path folds into the scan filter
    def members(ps: Seq[Long]): DataFrame =
      if (ps.isEmpty) prepared.filter(lit(false))
      else prepared.filter(col("prefix").isin(ps: _*))

    // phase 0: per-prefix Fourier bounding boxes + member counts — the
    // layout's MAINTAINED stats when the caller resolved them (an
    // O(prefixes) metadata read), else one narrow distributed agg over
    // the corpus. Either way COLLECTED: ≤ α^prefixLen rows of 2·l
    // doubles, the same model-sized driver state as the fitted bin
    // edges. The probe plan and survivor sets over (prefix × query) are
    // then pure driver arithmetic — the earlier all-DataFrame
    // formulation spent ~2× the brute-scan's whole wall time scheduling
    // eight tiny jobs at sf0.1.
    val boxRows = precomputedBoxes.getOrElse(IndexOps.boxRows(prepared))
    val qidType = queries.schema("qid").dataType
    def pairDF(rows: Array[(Long, Long, Long)]): DataFrame = {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("qid", LongType), StructField("prefix", LongType)))
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(t => org.apache.spark.sql.Row(t._1, t._2)): _*),
        schema).withColumn("qid", col("qid").cast(qidType))
    }
    val byD = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("id").asc)

    // The probe/τ planning collects (qid, qapprox) and broadcasts query
    // payloads — batch-sized state for a query BATCH, fact-proportional
    // for an unbounded query set. Queries therefore process in slices
    // of at most QueryBatchRows (boxes planned once, corpus untouched);
    // one slice ≡ the unbatched plan.
    def runBatch(qb: DataFrame, batch: Int): (DataFrame, KnnStats) = {
      val qNarrow = qb.select(col("qid"), col("qword"), col("qapprox"))
      val qPayload = qb.select(col("qid"), col("qdata"))

      // exact verification fetches payloads ONLY from the prefixes the
      // candidates can live in — over a layout the payload scan prunes
      // to the same directories the member scan read
      def verify(cand: DataFrame, ps: Seq[Long]): DataFrame = cand
        .join(members(ps).select(col("id"), col("data")), Seq("id"))
        .join(broadcast(qPayload), Seq("qid"))
        .withColumn("d2", ed2Udf(col("data"), col("qdata")))
        .drop("data", "qdata")

      // collecting this batch's (qid, qapprox) adds no state the
      // broadcasts don't already ship
      val qRows = qb.select(col("qid").cast("long"), col("qapprox")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))

      // phase 1 plan (driver): per query, box-LB every prefix, take the
      // lowest-box-LB prefixes until their cumulative member count
      // reaches `probe`.
      // Decision-grade rounding: the RANKING key and the boxLB-vs-τ
      // survivor test below compare 6-dp-rounded values (with the
      // prefix tie-break), matching the oracle's replay bit-for-bit.
      // Raw doubles differ across engines by summation ORDER (the
      // oracle's SUM is unordered), so an exact comparison puts the
      // probe/survivor COUNTS one ulp from flipping; rounding is
      // monotone, so every true lb ≤ τ prefix is still scanned
      // (exactness untouched) and both engines decide on the same
      // grid — a divergence now needs a true value within an ulp of a
      // 0.5e-6 grid boundary rather than any ranking tie.
      def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      val probePairs = qRows.flatMap { case (qid, qa) =>
        val ranked = boxRows
          .map { case (p, cnt, mns, mxs) => (p, cnt, boxLb(mns, mxs, qa)) }
          .sortBy { case (p, _, lb) => (r6(lb), p) }
        var cum = 0L
        ranked.takeWhile { case (_, cnt, _) =>
          val before = cum; cum += cnt; before < probe
        }.map { case (p, cnt, _) => (qid, p, cnt) }
      }
      // verify the probed members exactly → τ = per-query kth-best (the
      // collect is Q rows; a query whose probed prefixes held < k rows
      // gets no τ — sound because probe ≥ k forces probing to exhaust
      // the corpus before that can happen, see the None case below)
      val probePrefixes = probePairs.map(_._2).distinct.toSeq
      val probed0 = graft.util.Pipelines.trackedIn(spark, s"knn-probe:$probeSlot:$batch",
        members(probePrefixes).select(col("id"), col("prefix"))
          .join(broadcast(pairDF(probePairs)), Seq("prefix"))
          .select(col("qid"), col("id")))
      val tauMap: Map[Long, Double] = verify(probed0, probePrefixes)
        .withColumn("drn", row_number().over(byD))
        .filter(col("drn") === k)
        .select(col("qid").cast("long"), col("d2"))
        .collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
        .toMap

      // phase 2 plan (driver): drop prefixes whose box LB exceeds τ; the
      // survivors' members get LB-scanned, rows with LB ≤ τ verified
      // (exactness: boxLB ≤ LB ≤ d2)
      // probe prefixes are excluded: every member is already exactly
      // verified in probed0, so phase 2 and the probe set stay DISJOINT
      // and the final union needs no dedup shuffle
      val probedSet = probePairs.map { case (qid, p, _) => (qid, p) }.toSet
      val survPairs = qRows.flatMap { case (qid, qa) =>
        tauMap.get(qid) match {
          case Some(t) => boxRows.collect {
            case (p, cnt, mns, mxs)
              if !probedSet((qid, p)) && r6(boxLb(mns, mxs, qa)) <= r6(t) => (qid, p, cnt)
          }
          // no τ ⇒ the probe pass already verified every member this
          // query's prefixes hold (< k candidates exist at all) — nothing
          // left to LB-scan
          case None => Array.empty[(Long, Long, Long)]
        }
      }
      val tauUdf = udf { (qid: Long) => tauMap.get(qid) }
      val survPrefixes = survPairs.map(_._2).distinct.toSeq
      val phase2 = members(survPrefixes)
        .select(col("id"), col("word"), col("prefix"))
        .join(broadcast(pairDF(survPairs)), Seq("prefix"))
        .join(broadcast(qNarrow), Seq("qid"))
        .withColumn("lb", lbUdf(col("word"), col("qword"), col("qapprox")))
        .filter(col("lb") <= tauUdf(col("qid").cast("long")))
        .select(col("qid"), col("id"))
      val fin = verify(phase2.union(probed0), (probePrefixes ++ survPrefixes).distinct)
        .withColumn("rank", row_number().over(byD).cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid"), col("rank"), col("id"), col("d2"))

      // pruning telemetry — free: the prefix tables live on the driver
      (fin, KnnStats(
        corpusRows = boxRows.map(_._2).sum,
        queryRows = qRows.length.toLong,
        probeVerified = probePairs.map(_._3).sum,
        lbScanned = survPairs.map(_._3).sum))
    }

    val qTotal = queries.count()
    val nBatches = graft.util.Gated.numChunks(qTotal, queryBatchRows)
    if (nBatches > 1)
      System.err.println(s"[gated] knn query set: $qTotal rows -> $nBatches probe-plan batches")
    val parts = (0 until nBatches).map { i =>
      runBatch(graft.util.Gated.chunk(queries, "qid", i, nBatches), i)
    }
    val fin = parts.map(_._1).reduce(_ union _)
    val stats = parts.map(_._2).reduce { (a, b) =>
      KnnStats(a.corpusRows, a.queryRows + b.queryRows,
        a.probeVerified + b.probeVerified, a.lbScanned + b.lbScanned)
    }
    System.err.println(
      f"[knn] box pruning (prefix depth $plen): LB-scanned ${stats.lbScanned} of ${stats.corpusRows * stats.queryRows} " +
        f"(corpus×query) pairs = ${stats.scanFraction * 100}%.1f%%")
    (fin, stats)
  }

  /** Query rows a single probe-plan batch may collect/broadcast
    * (slice + word + approx ≈ 0.5 KB/row → ~50 MB at the ceiling).
    * BatchKnnSpec drives a 10k-query set through the layout at a batch
    * size forcing 7 probe-plan batches and pins that batching is
    * semantics-free (≡ brute scan AND ≡ the single-batch run).
    */
  private val QueryBatchRows = 100000L

  /** Brute-force scan k-NN — the exactness oracle (J9,
    * SFATrieTest.java:75-86 / 247-275). The query set streams against
    * the corpus in broadcast-ceiling-sized slices (one slice ≡ the
    * plain broadcast plan); each qid lives in exactly one slice so the
    * per-slice top-k unions without re-ranking.
    */
  def knnScan(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val byD = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("id").asc)
    val nQ = queries.count()
    val chunks = graft.util.Gated.numChunks(nQ, QueryBatchRows)
    if (chunks > 1)
      System.err.println(s"[gated] knnScan query set: $nQ rows -> $chunks broadcast chunks")
    (0 until chunks).map { i =>
      corpus.crossJoin(broadcast(graft.util.Gated.chunk(queries, "qid", i, chunks)))
        .withColumn("d2", ed2Udf(col("data"), col("qdata")))
        .withColumn("rank", row_number().over(byD).cast("long"))
        .filter(col("rank") <= k)
        .select(col("qid"), col("rank"), col("id"), col("d2"))
    }.reduce(_ union _)
  }

  /** ε-range search (J7, SFATrie.java:593-649): all records within
    * squared distance ε², LB-pruned first — exact because LB ≤ true d2.
    */
  def rangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      bins: Array[Array[Double]],
      normed: Boolean,
      eps2: Double)(implicit spark: SparkSession): DataFrame = {
    def lbUdf(w: Column, qw: Column, qa: Column): Column = lbCol(w, qw, qa, bins, normed)
    val q = queries.select(col("qid"), col("qword"), col("qapprox"), col("qdata"))
    val nQ = q.count()
    val chunks = graft.util.Gated.numChunks(nQ, QueryBatchRows)
    if (chunks > 1)
      System.err.println(s"[gated] rangeSearch query set: $nQ rows -> $chunks broadcast chunks")
    (0 until chunks).map { i =>
      corpus.select(col("id"), col("word"), col("data"))
        .crossJoin(broadcast(graft.util.Gated.chunk(q, "qid", i, chunks)))
        .withColumn("lb", lbUdf(col("word"), col("qword"), col("qapprox")))
        .filter(col("lb") <= eps2)
        .withColumn("d2", ed2Udf(col("data"), col("qdata")))
        .filter(col("d2") <= eps2)
        .select(col("qid"), col("id"), col("d2"))
    }.reduce(_ union _)
  }

  /** Approximate 1-leaf search (J8, SFATrie.java:511-559): scan only the
    * records sharing the query's first `prefixLen` word symbols (the
    * trie's leaf walk ≙ one partition lookup); 1-NN within the bucket.
    */
  def approxPrefixSearch(
      corpus: DataFrame,
      queries: DataFrame,
      usedBits: Int,
      prefixLen: Int,
      startSymbol: Int = 0): DataFrame = {
    def prefixOf(word: Column) = prefixCol(word, startSymbol, prefixLen, 1 << usedBits)
    val c = corpus.select(col("id"), col("data"), prefixOf(col("word")).as("prefix"))
    val q = queries.select(col("qid"), col("qdata"), prefixOf(col("qword")).as("prefix"))
    val byD = Window.partitionBy(col("qid")).orderBy(col("d2").asc, col("id").asc)
    // equi-join on prefix: broadcast only while the query batch is
    // provably bounded; past the ceiling the planner shuffles both sides
    c.join(graft.util.Gated.broadcastIfUnder(q, queries.count(), QueryBatchRows,
        "approx-prefix query set"), Seq("prefix"))
      .withColumn("d2", ed2Udf(col("data"), col("qdata")))
      .withColumn("rank", row_number().over(byD))
      .filter(col("rank") === 1)
      .select(col("qid"), col("id"), col("d2"))
  }
}
