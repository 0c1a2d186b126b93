package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{QueryDef, Tables}
import graft.util.Rnd.jround
import graft.sfa.{IndexOps, ModelIO, SFAOps, Words}
import graft.ts.Loaders

/** Exact k-NN index queries (SFATrie equivalent, SURVEY §2.5 J5/J6/J9)
  * over fixed-length slices of the events series: z-normed 32-point
  * prefixes, queries = odd user_ids, corpus = even.
  *
  * j9 is the brute-force scan; j6 is the SFA lower-bound
  * filter-and-refine path. BOTH carry the same oracle SQL (the scan) —
  * the driver's hash compare therefore asserts the reference's index
  * exactness gate (index ≡ scan, SFATrieTest.java:75-86) on every round.
  */
object IndexQ {

  private val SliceLen = 32
  private val L = 8
  private val Alpha = 8
  private val K = 3
  private val KnnProbe = 10

  /** (user_id, data) fixed-length z-normed slices — a session-shared
    * stage ([[graft.util.Pipelines.cachedDF]]): s10 consumes it three
    * times per call (save half, append half) and [[preparedBuild]] once,
    * and each un-cached consumer re-ran the events scan + series shuffle
    * + znorm per job. Same policy as the SFA series stage.
    */
  private[queries] def slices(s: SparkSession, dir: String): DataFrame =
    graft.util.Pipelines.cachedDF(s, s"index.slices:$dir") {
      val ser = SFAOps.seriesOf(Tables.load(s, dir, "events"))
      val sliceUdf = udf { (data: Seq[Double]) =>
        Loaders.znorm(data.take(SliceLen).toArray)
      }
      ser.filter(size(col("data")) >= SliceLen)
        .select(col("user_id"), sliceUdf(col("data")).as("data"))
    }

  /** Fit equi-width bins (the trie's histogram type) on the corpus
    * approximations' 2-decimal orderline, driver-collected (l × (α−1)
    * doubles) exactly like the reference's fit.
    */
  private def fitBins(corpus: DataFrame): Array[Array[Double]] = {
    val rows = corpus
      .select(posexplode(col("approx")).as(Seq("coef", "v")))
      .select(col("coef"), jround(col("v"), 2).as("v2"))
      .groupBy("coef").agg(min("v2").as("mn"), max("v2").as("mx"))
      .collect()
    val bins = Array.fill(L)(Array.fill(Alpha - 1)(Double.MaxValue))
    rows.foreach { r =>
      val coef = r.getInt(0)
      val first = r.getDouble(1)
      val width = (r.getDouble(2) - first) / Alpha
      var c = 0
      while (c < Alpha - 1) { bins(coef)(c) = width * (c + 1) + first; c += 1 }
    }
    bins
  }

  private def prepared(s: SparkSession, dir: String): (DataFrame, DataFrame, Array[Array[Double]]) =
    graft.util.Pipelines.cachedObj(s, s"index.prepared:$dir") { preparedBuild(s, dir) }

  private def preparedBuild(s: SparkSession, dir: String): (DataFrame, DataFrame, Array[Array[Double]]) = {
    // the slice's one window: a plain (not z-normed) lower-bounding DFT
    val sl = slices(s, dir).withColumn("approx", element_at(SFAOps.disjointCol(col("data"),
      lit(SliceLen), lit(L), lit(false), lowerBounding = true, zNorm = false), 1)).cache()
    val corpus0 = sl.filter(col("user_id") % 2 === 0)
    val queries0 = sl.filter(col("user_id") % 2 === 1)
    val bins = fitBins(corpus0)
    val quantUdf = udf { (approx: Seq[Double]) =>
      val word = new Array[Int](approx.length)
      var i = 0
      while (i < approx.length) {
        val edges = bins(i)
        var c = 0
        while (c < edges.length && approx(i) >= edges(c)) c += 1
        word(i) = c
        i += 1
      }
      word
    }
    // cache the POST-quantization frames (tiny: slices + 8-symbol words)
    // — five j-queries branch from them, and left lazy each branch
    // re-runs slice→DFT→quantize per job
    val corpus = corpus0.select(col("user_id").as("id"), col("data"),
      quantUdf(col("approx")).as("word"), col("approx")).cache()
    val queries = queries0.select(col("user_id").as("qid"), col("data").as("qdata"),
      quantUdf(col("approx")).as("qword"), col("approx").as("qapprox")).cache()
    corpus.count(); queries.count()
    sl.unpersist()
    (corpus, queries, bins)
  }

  private def j9(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries, _) = prepared(s, dir)
    IndexOps.knnScan(corpus, queries, K)
      .withColumn("d2", jround(col("d2"), 6))
      .orderBy("qid", "rank")
  }

  /** j6 + its pruning telemetry, memoized so `j6_knn_index` and
    * `j6_scan_fraction` share one filter-and-refine run.
    *
    * Runs over the PERSISTED S10 layout: the corpus is written once per
    * session as prefix-partitioned parquet (`ModelIO.saveIndex`, the
    * trie's at-rest form, same Warehouse root as the IVF/bucketed
    * layouts) and the k-NN engine reads only probed/surviving prefixes'
    * directories ([[IndexOps.knnOverLayout]]; IndexLayoutSpec pins the
    * PartitionFilters plan) — the index serves corpora that never fit
    * memory, and the hash oracle (≡ brute scan) is unchanged because
    * doubles round-trip parquet exactly.
    */
  private def j6Run(s: SparkSession, dir: String): (DataFrame, IndexOps.KnnStats) =
    graft.util.Pipelines.cachedObj(s, s"index.j6run:$dir") {
      implicit val sp: SparkSession = s
      val (corpus, queries, bins) = prepared(s, dir)
      // prefix from symbol 2 on: 0/1 are the degenerate DC pair of
      // z-normed slices (one giant group — no pruning there), same
      // choice as j8/a8; depth adaptive from corpus cardinality
      val plen = IndexOps.adaptiveDepth(corpus.count(), Alpha, L - 2)
      val path = graft.util.Warehouse.dir(s, s"knnidx/${graft.util.Names.pathKey(dir)}")
      // per-JVM build-once (the timePartitionedEvents rule): the memo
      // above is per-SESSION, so without the guard a second session in
      // this JVM would overwrite the layout a first session's lazily
      // persisted reads still reference.
      // half-SAVED / half-APPENDED / then COMPACTED by design (the
      // IVF/Z-order pattern, r10): a member's prefix and the box stats
      // depend only on its own word/approx (min/max/count merge
      // exactly), so the build is bit-identical to a one-shot save and
      // the j6 hash oracle (≡ brute scan) gates the whole maintenance
      // lifecycle — appends, merged stats, compaction — every round
      graft.util.BuildOnce(path) {
        // corpus ids are the EVEN user_ids, so split on id mod 4
        ModelIO.saveIndex(corpus.filter(col("id") % 4 === 0),
          usedBits = Words.binlog(Alpha), prefixLen = plen,
          path, prefixStart = 2, base = 256)
        ModelIO.appendIndex(corpus.filter(col("id") % 4 =!= 0),
          usedBits = Words.binlog(Alpha), prefixLen = plen,
          path, prefixStart = 2, base = 256)
        ModelIO.compactIndex(path, maxFilesPerPrefix = 1)(s)
        ()
      }
      val (df, stats) = IndexOps.knnOverLayout(path, queries, bins, normed = false,
        k = K, probe = KnnProbe, prefixLen = plen)
      val res = graft.util.Pipelines.tracked(s,
        df.withColumn("d2", jround(col("d2"), 6)).orderBy("qid", "rank"))
      (res, stats)
    }

  private def j6(s: SparkSession, dir: String): DataFrame = j6Run(s, dir)._1

  /** Pruning telemetry as a registered query (the KnnStats numbers):
    * how much of the corpus×query space the LB pass touched after box
    * pruning. Full DuckDB oracle ([[statsSql]]): the whole
    * filter-and-refine PLAN — adaptive depth, boxes, box-LBs, the probe
    * schedule, exact τ, survivor prefixes — is integer/interval
    * arithmetic over the same DFT values the j5/a8 oracles already
    * recompute, so the oracle re-derives the counts independently.
    */
  private def j6Stats(s: SparkSession, dir: String): DataFrame = {
    val stats = j6Run(s, dir)._2
    import s.implicits._
    Seq((stats.corpusRows, stats.queryRows, stats.probeVerified, stats.lbScanned))
      .toDF("corpus_rows", "query_rows", "probe_verified", "lb_scanned")
      .withColumn("scan_fraction",
        jround(col("lb_scanned") / (col("corpus_rows") * col("query_rows")), 6))
  }

  /** Brute-scan oracle — shared by j9 AND j6 (index exactness gate). */
  private val scanSql =
    s"""WITH e AS (
      |  SELECT user_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), sl0 AS (
      |  SELECT user_id, idx AS j, value FROM e WHERE n >= $SliceLen AND idx < $SliceLen
      |), st AS (
      |  SELECT user_id, SUM(value)/$SliceLen.0 AS mean,
      |    SQRT(GREATEST(SUM(value*value)/$SliceLen.0 - (SUM(value)/$SliceLen.0)*(SUM(value)/$SliceLen.0), 0.0)) AS std
      |  FROM sl0 GROUP BY 1
      |), sl AS (
      |  SELECT s.user_id, s.j,
      |    CASE WHEN t.std <> 0 THEN (s.value - t.mean) / t.std ELSE (s.value - t.mean) END AS x
      |  FROM sl0 s JOIN st t ON s.user_id = t.user_id
      |), d AS (
      |  SELECT q.user_id AS qid, c.user_id AS id, SUM((q.x - c.x)*(q.x - c.x)) AS d2
      |  FROM sl q JOIN sl c ON q.j = c.j
      |  WHERE q.user_id % 2 = 1 AND c.user_id % 2 = 0
      |  GROUP BY 1, 2
      |), r AS (
      |  SELECT qid, id, d2,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS BIGINT) AS rank
      |  FROM d
      |)
      |SELECT qid, rank, id, FLOOR(d2 * 1e6 + 0.5) / 1e6 AS d2 FROM r WHERE rank <= $K
      |ORDER BY qid, rank""".stripMargin

  private val Eps2 = 25.0
  private val PrefixLen = 2

  private def j7(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val (corpus, queries, bins) = prepared(s, dir)
    IndexOps.rangeSearch(corpus, queries, bins, normed = false, Eps2)
      .withColumn("d2", jround(col("d2"), 6))
      .orderBy("qid", "id")
  }

  private def j8(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries, _) = prepared(s, dir)
    // bucket on coefficients 2..3: slots 0/1 are the degenerate DC pair
    // of z-normed slices (≈0 to FP noise — knife-edge symbols)
    IndexOps.approxPrefixSearch(corpus, queries, Words.binlog(Alpha), PrefixLen, startSymbol = 2)
      .withColumn("d2", jround(col("d2"), 6))
      .orderBy("qid")
  }

  /** ε-range oracle: the scan chain filtered at ε² (exactness gate —
    * LB pruning must not lose any qualifying record). */
  private val rangeSql =
    scanSql.replace(
      s"""SELECT qid, rank, id, FLOOR(d2 * 1e6 + 0.5) / 1e6 AS d2 FROM r WHERE rank <= $K
      |ORDER BY qid, rank""".stripMargin,
      s"""SELECT qid, id, FLOOR(d2 * 1e6 + 0.5) / 1e6 AS d2 FROM d WHERE d2 <= $Eps2
      |ORDER BY qid, id""".stripMargin)

  /** Shared oracle CTE chain: z-normed slices, direct DFT, corpus-fitted
    * equi-width bins (min/max of the 2-decimal orderline), symbols for
    * every slice — the fit/quantize pipeline j5/j8/a8 all build on.
    */
  private[queries] val symCtes =
    s"""WITH e AS (
      |  SELECT user_id, value,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) - 1 AS idx,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n
      |  FROM events
      |), sl0 AS (
      |  SELECT user_id, idx AS j, value FROM e WHERE n >= $SliceLen AND idx < $SliceLen
      |), st AS (
      |  SELECT user_id, SUM(value)/$SliceLen.0 AS mean,
      |    SQRT(GREATEST(SUM(value*value)/$SliceLen.0 - (SUM(value)/$SliceLen.0)*(SUM(value)/$SliceLen.0), 0.0)) AS std
      |  FROM sl0 GROUP BY 1
      |), sl AS (
      |  SELECT s.user_id, s.j,
      |    CASE WHEN t.std <> 0 THEN (s.value - t.mean) / t.std ELSE (s.value - t.mean) END AS x
      |  FROM sl0 s JOIN st t ON s.user_id = t.user_id
      |), coefs AS (SELECT UNNEST(RANGE($L)) AS coef
      |), dft AS (
      |  SELECT n.user_id, c.coef,
      |    (CASE WHEN c.coef = 1 THEN 0.0
      |          WHEN c.coef % 2 = 0 THEN SUM(n.x * COS(-2*PI()*n.j*(c.coef//2)/$SliceLen.0))
      |          ELSE SUM(n.x * SIN(-2*PI()*n.j*(c.coef//2)/$SliceLen.0)) END)
      |    * (1.0/SQRT($SliceLen)) * (CASE WHEN c.coef % 2 = 1 THEN -1.0 ELSE 1.0 END) AS v
      |  FROM sl n CROSS JOIN coefs c GROUP BY n.user_id, c.coef
      |), mm AS (
      |  SELECT coef, MIN(FLOOR(v * 1e2 + 0.5) / 1e2) AS mn, MAX(FLOOR(v * 1e2 + 0.5) / 1e2) AS mx
      |  FROM dft WHERE user_id % 2 = 0 GROUP BY 1
      |), sym AS (
      |  SELECT d.user_id, d.coef,
      |    (SELECT COUNT(*) FROM (SELECT UNNEST(RANGE(${Alpha - 1})) AS c) cs
      |     WHERE d.v >= (mm.mx - mm.mn) / $Alpha * (cs.c + 1) + mm.mn) AS s
      |  FROM dft d JOIN mm ON d.coef = mm.coef
      |)""".stripMargin

  /** Approximate prefix-bucket oracle: symbols, first-$PrefixLen-symbol
    * bucket join, 1-NN within the bucket.
    */
  private val approxSql = symCtes +
    s""", pref AS (
      |  SELECT user_id,
      |    CAST(SUM(s * CASE WHEN coef = 2 THEN $Alpha ELSE 1 END) AS BIGINT) AS prefix
      |  FROM sym WHERE coef IN (2, 3) GROUP BY 1
      |), dd AS (
      |  SELECT q.user_id AS qid, c.user_id AS id, SUM((q.x - c.x)*(q.x - c.x)) AS d2
      |  FROM sl q JOIN sl c ON q.j = c.j
      |  JOIN pref pq ON pq.user_id = q.user_id
      |  JOIN pref pc ON pc.user_id = c.user_id AND pq.prefix = pc.prefix
      |  WHERE q.user_id % 2 = 1 AND c.user_id % 2 = 0
      |  GROUP BY 1, 2
      |), r AS (
      |  SELECT qid, id, d2, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS rn
      |  FROM dd
      |)
      |SELECT qid, id, FLOOR(d2 * 1e6 + 0.5) / 1e6 AS d2 FROM r WHERE rn = 1 ORDER BY qid""".stripMargin

  private val LbTopK = 5

  /** J5: the SFA lower-bounding distance itself (SFADistance.java:22-67)
    * as a query — top-$LbTopK lowest-LB corpus candidates per query.
    * This is exactly the phase-1 ranking j6's filter-and-refine runs.
    */
  private def j5(s: SparkSession, dir: String): DataFrame = {
    val (corpus, queries, bins) = prepared(s, dir)
    def lbUdf(w: org.apache.spark.sql.Column, qw: org.apache.spark.sql.Column,
        qa: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      IndexOps.lbCol(w, qw, qa, bins, normed = false)
    // decision-grade rounding (the j6 telemetry pattern): the top-k rank
    // orders by the ROUNDED lb — ranking on raw doubles lets a ULP-level
    // summation-order difference between engines flip which candidate
    // survives the k boundary (observed at sf0.1); at 6 decimals both
    // engines compute the identical key, ties broken by id
    val byLb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("lb").asc, col("id").asc)
    // query set streams in broadcast-ceiling-sized slices (each qid in
    // exactly one slice — the per-slice top-k unions without re-rank)
    val q = queries.select(col("qid"), col("qword"), col("qapprox"))
    val nQ = q.count()
    val chunks = graft.util.Gated.numChunks(nQ, 100000L)
    (0 until chunks).map { i =>
      corpus.select(col("id"), col("word"))
        .crossJoin(broadcast(graft.util.Gated.chunk(q, "qid", i, chunks)))
        .withColumn("lb", jround(lbUdf(col("word"), col("qword"), col("qapprox")), 6))
        .withColumn("rn", row_number().over(byLb))
        .filter(col("rn") <= LbTopK)
        .select(col("qid"), col("id"), col("lb"))
    }.reduce(_ union _)
      .orderBy("qid", "id")
  }

  /** LB-distance oracle: per-coefficient distance of the query's DFT
    * value to the candidate symbol's bin interval; DC counts once, the
    * imaginary DC slot is skipped, higher coefficients count 2·d².
    */
  private val lbSql = symCtes +
    s""", qv AS (
      |  SELECT s.user_id, s.coef, s.s, d.v
      |  FROM sym s JOIN dft d ON s.user_id = d.user_id AND s.coef = d.coef
      |  WHERE s.user_id % 2 = 1
      |), cd AS (
      |  SELECT c.user_id AS id, q.user_id AS qid, c.coef,
      |    CASE WHEN c.s = q.s THEN 0.0
      |         WHEN c.s > q.s THEN (mm.mx - mm.mn) / $Alpha * c.s + mm.mn - q.v
      |         ELSE q.v - ((mm.mx - mm.mn) / $Alpha * (c.s + 1) + mm.mn) END AS d
      |  FROM sym c
      |  JOIN qv q ON c.coef = q.coef
      |  JOIN mm ON mm.coef = c.coef
      |  WHERE c.user_id % 2 = 0
      |), lbp AS (
      |  SELECT qid, id,
      |    SUM(CASE WHEN coef = 1 THEN 0.0
      |             WHEN coef = 0 THEN d * d
      |             ELSE 2.0 * d * d END) AS lb
      |  FROM cd GROUP BY 1, 2
      |), rk AS (
      |  SELECT qid, id, FLOOR(lb * 1e6 + 0.5) / 1e6 AS lb,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY FLOOR(lb * 1e6 + 0.5) / 1e6, id) AS rn
      |  FROM lbp
      |)
      |SELECT qid, id, lb FROM rk WHERE rn <= $LbTopK
      |ORDER BY qid, id""".stripMargin

  /** A8: per-prefix element-wise min/max Fourier bounding boxes over the
    * corpus (SFATrie.adaptMinMaxValues, SFATrie.java:1131-1145) — the
    * node statistics the trie prunes with; at rest these are the
    * parquet column min/max stats of the prefix-partitioned layout.
    */
  private def a8(s: SparkSession, dir: String): DataFrame = {
    val (corpus, _, _) = prepared(s, dir)
    val usedBits = Words.binlog(Alpha)
    corpus
      .withColumn("prefix", IndexOps.prefixCol(col("word"), 2, PrefixLen, 1 << usedBits))
      .select(col("prefix"), posexplode(col("approx")).as(Seq("coef", "v")))
      .groupBy(col("prefix"), col("coef").cast("long").as("coef"))
      .agg(jround(min(col("v")), 6).as("mn"), jround(max(col("v")), 6).as("mx"))
      .orderBy("prefix", "coef")
  }

  private val boxSql = symCtes +
    s""", pref AS (
      |  SELECT user_id,
      |    CAST(SUM(s * CASE WHEN coef = 2 THEN $Alpha ELSE 1 END) AS BIGINT) AS prefix
      |  FROM sym WHERE coef IN (2, 3) AND user_id % 2 = 0 GROUP BY 1
      |)
      |SELECT p.prefix, d.coef, FLOOR(MIN(d.v) * 1e6 + 0.5) / 1e6 AS mn, FLOOR(MAX(d.v) * 1e6 + 0.5) / 1e6 AS mx
      |FROM dft d JOIN pref p ON d.user_id = p.user_id
      |GROUP BY 1, 2 ORDER BY prefix, coef""".stripMargin

  /** Scan-fraction oracle: re-runs the ENTIRE filter-and-refine plan in
    * SQL — [[IndexOps.adaptiveDepth]] (the integer bulk-load rule),
    * prefix packing (base 256, the Scala join key), per-prefix boxes
    * from raw DFT values, box-LB with the DC-once/imag-skip/2× weighting
    * (same as [[lbSql]]), the cumulative-count probe schedule
    * (`cum_before < probe`), exact τ = kth-best verified distance, and
    * the `boxLB ≤ τ` survivor set — and reports the same four counts
    * KnnStats carries plus the rounded fraction.
    */
  private val statsSql = symCtes +
    s""", cn AS (
      |  SELECT COUNT(*) AS n FROM st WHERE user_id % 2 = 0
      |), depth AS (
      |  SELECT GREATEST(1, LEAST(${L - 2}, COALESCE(MAX(t.d), 1))) AS d
      |  FROM (SELECT UNNEST(RANGE(1, ${L - 1})) AS d) t, cn
      |  WHERE POWER($Alpha, 2*t.d - 1) * 10000 <= cn.n * cn.n
      |), prefc AS (
      |  SELECT s.user_id, CAST(SUM(s.s * POWER(256, dd.d - 1 - (s.coef - 2))) AS BIGINT) AS prefix
      |  FROM sym s, depth dd
      |  WHERE s.user_id % 2 = 0 AND s.coef >= 2 AND s.coef < 2 + dd.d
      |  GROUP BY 1
      |), boxes AS (
      |  SELECT p.prefix, d.coef, MIN(d.v) AS mn, MAX(d.v) AS mx
      |  FROM dft d JOIN prefc p ON d.user_id = p.user_id
      |  GROUP BY 1, 2
      |), pcnt AS (
      |  SELECT prefix, COUNT(*) AS cnt FROM prefc GROUP BY 1
      |), boxlb AS (
      |  SELECT t.qid, t.prefix,
      |    SUM(CASE WHEN t.coef = 1 THEN 0.0
      |             WHEN t.coef = 0 THEN t.dd * t.dd
      |             ELSE 2.0 * t.dd * t.dd END) AS lb
      |  FROM (
      |    SELECT q.user_id AS qid, b.prefix, b.coef,
      |      CASE WHEN q.v < b.mn THEN b.mn - q.v
      |           WHEN q.v > b.mx THEN q.v - b.mx ELSE 0.0 END AS dd
      |    FROM boxes b JOIN dft q ON q.coef = b.coef
      |    WHERE q.user_id % 2 = 1
      |  ) t GROUP BY 1, 2
      |), probe AS (
      |  -- decision-grade rounding (mirrors IndexOps.knnCore): ranking +
      |  -- survivor tests compare FLOOR(x*1e6+0.5)/1e6 so the counts
      |  -- cannot flip on a summation-order ulp between engines
      |  SELECT bl.qid, bl.prefix, pc.cnt,
      |    COALESCE(SUM(pc.cnt) OVER (PARTITION BY bl.qid
      |      ORDER BY FLOOR(bl.lb * 1e6 + 0.5) / 1e6, bl.prefix
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM boxlb bl JOIN pcnt pc ON bl.prefix = pc.prefix
      |), probesel AS (
      |  SELECT qid, prefix, cnt FROM probe WHERE cum_before < $KnnProbe
      |), pd AS (
      |  SELECT ps.qid, pc.user_id AS id, SUM((q.x - c.x)*(q.x - c.x)) AS d2
      |  FROM probesel ps JOIN prefc pc ON pc.prefix = ps.prefix
      |  JOIN sl q ON q.user_id = ps.qid
      |  JOIN sl c ON c.user_id = pc.user_id AND c.j = q.j
      |  GROUP BY 1, 2
      |), tau AS (
      |  SELECT qid, d2 AS tau FROM (
      |    SELECT qid, d2, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS rn FROM pd
      |  ) WHERE rn = $K
      |), surv AS (
      |  SELECT b.qid, b.prefix, pc.cnt
      |  FROM boxlb b JOIN tau t ON b.qid = t.qid
      |  JOIN pcnt pc ON pc.prefix = b.prefix
      |  LEFT JOIN probesel ps ON ps.qid = b.qid AND ps.prefix = b.prefix
      |  WHERE ps.prefix IS NULL
      |    AND FLOOR(b.lb * 1e6 + 0.5) / 1e6 <= FLOOR(t.tau * 1e6 + 0.5) / 1e6
      |)
      |SELECT
      |  (SELECT COUNT(*) FROM prefc) AS corpus_rows,
      |  (SELECT COUNT(*) FROM st WHERE user_id % 2 = 1) AS query_rows,
      |  (SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) FROM probesel) AS probe_verified,
      |  (SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) FROM surv) AS lb_scanned,
      |  FLOOR(CAST((SELECT COALESCE(SUM(cnt), 0) FROM surv) AS DOUBLE)
      |    / ((SELECT COUNT(*) FROM prefc) * (SELECT COUNT(*) FROM st WHERE user_id % 2 = 1))
      |    * 1e6 + 0.5) / 1e6 AS scan_fraction""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "j9_knn_scan" -> QueryDef.sql(j9, scanSql),
    "j6_knn_index" -> QueryDef.sql(j6, scanSql),
    "j7_range_search" -> QueryDef.sql(j7, rangeSql),
    "j8_approx_prefix" -> QueryDef.sql(j8, approxSql),
    "j5_lb_distance" -> QueryDef.sql(j5, lbSql),
    "j6_scan_fraction" -> QueryDef.sql(j6Stats, statsSql,
      "k-NN box-pruning telemetry with a full plan-replay oracle"),
    "a8_minmax_boxes" -> QueryDef.sql(a8, boxSql))
}
