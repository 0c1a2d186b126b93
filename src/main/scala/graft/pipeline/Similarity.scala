package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.{Maintenance, Pipelines, QueryDef, Tables}

/** Similarity search over the embedding column (SURVEY §7.1 step 10 /
  * driver north-star).
  *
  * Every top-k path is one filter-and-refine skeleton: [[queriesOf]]
  * and [[corpusOf]] split the embeddings (vec_id < 10 queries, the rest
  * corpus), the path's own candidate generator shortlists (q_id, c_id)
  * pairs, and [[rerank]] (via [[refine]]) re-ranks them by exact integer
  * cosine, ties → smaller c_id — the engine-side twin of the oracles'
  * [[rerankCtes]]. Cell-based generators rank centroids with the one
  * [[rankCells]] (ties → smaller cell), whose top-1 case is
  * [[assignCells]]. Only the generator differs between paths:
  *
  *  - brute-force cosine top-k (the correctness baseline): every corpus
  *    row is a candidate of every broadcast query;
  *  - sign-LSH: same-bucket vectors over 4 × 8-bit random-hyperplane
  *    tables (hyperplanes derived deterministically from md5, no RNG);
  *  - IVF (computed and persisted-layout): members of the probed cells;
  *  - SQ8 and PQ-ADC: an asymmetric shortlist over compressed codes.
  *
  * The near-dup and graph families score blocked (a, b) pairs through
  * the one [[scoredPairs]] frame.
  *
  * Dot products use integer-scaled elements (×10⁴, exact long arithmetic
  * in one native kernel) so results are bit-identical across engines and
  * the ranking is stable.
  */
object Similarity {

  /** Native codegen'd integer dot product — the re-score kernel. The
    * SQL-lambda `aggregate(zip_with(...))` form evaluates interpreted
    * per row; [[graft.sfa.expr.LongDotExpr]] is one fused loop inside
    * whole-stage codegen.
    */
  private[pipeline] def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.Bridge
    Bridge.column(graft.sfa.expr.LongDotExpr(Bridge.expression(a), Bridge.expression(b)))
  }

  /** The integer dot as a cross-package seam (the streaming IVF ingest
    * derives member norms with exactly the batch kernel).
    */
  private[graft] def dotCol(a: Column, b: Column): Column = dot(a, b)

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .withColumn("iv", expr("transform(embedding, v -> cast(round(cast(v as double) * 10000) as bigint))"))
      .withColumn("nrm2", dot(col("iv"), col("iv")))

  // ---- the filter-and-refine skeleton ---------------------------------

  /** The query side of [[emb]]: vec_id < 10 as (q_id, qiv, qn). */
  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("iv").as("qiv"), col("nrm2").as("qn"))

  /** The corpus side of [[emb]]: vec_id ≥ 10 as (c_id, civ, cn). */
  private def corpusOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("iv").as("civ"), col("nrm2").as("cn"))

  /** Exact re-rank of candidate rows carrying both sides (q_id, qiv, qn,
    * c_id, civ, cn): integer dot, cosine rounded to 6 digits, per-query
    * rank on the rounded value with ties → smaller c_id, top `k` as
    * (q_id, rk, c_id, cos) — the engine-side twin of [[rerankCtes]].
    */
  private def rerank(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs
      .withColumn("dot", dot(col("qiv"), col("civ")))
      .withColumn("cos", graft.util.Rnd.jround(col("dot") / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
    val w = Window.partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "c_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** [[rerank]] of a (q_id, c_id) candidate set: the queries `q` join
    * broadcast, the corpus `c` on the shuffle side.
    */
  private def refine(cand: DataFrame, q: DataFrame, c: DataFrame, k: Int): DataFrame =
    rerank(cand.join(broadcast(q), "q_id").join(c, "c_id"), k)

  /** The top `n` cells of every `key` row of `rows` against the
    * broadcast centroids `cent` (cell, cv, cn2): score = dot(`vec`, cv) /
    * √cn2 descending, ties → smaller cell. Returns (`key`, cell).
    */
  private def rankCells(rows: DataFrame, key: String, vec: String,
      cent: DataFrame, n: Int): DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(desc("score"), col("cell"))
    rows.crossJoin(broadcast(cent))
      .withColumn("score", dot(col(vec), col("cv")) / sqrt(col("cn2")))
      .withColumn("rn", row_number().over(byKey))
      // `rn = 1` for the top-1 (assignment) case: the assignment plans
      // stay comparable across commits with scripts/plan_diff.py
      .filter(if (n == 1) col("rn") === 1 else col("rn") <= n)
      .select(key, "cell")
  }

  /** Embedding width the sign-LSH planes and the PQ subspaces are built for. */
  private val Dims = 64

  /** Fails unless `e`'s vectors are [[Dims]] wide. Paths with a fixed
    * geometry would otherwise degrade silently on another width (the
    * LSH plane dots cover only the dimensions both sides share; PQ
    * slices empty or truncated subspaces). `head(1)`: an empty table
    * has nothing to check.
    */
  private def requireDims(e: DataFrame, path: String): Unit =
    e.select(size(col("iv")).as("d")).head(1).foreach { r =>
      require(r.getInt(0) == Dims,
        s"$path expects $Dims-dim embeddings, got ${r.getInt(0)}")
    }

  /** Brute-force cosine top-5: every corpus row is a candidate. */
  private def cosineTopK(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.brute:$dir") {
      val e = emb(s, dir)
      rerank(corpusOf(e).crossJoin(broadcast(queriesOf(e))), 5)
    }

  // The oracle unnests both vectors positionally; products and norms are
  // exact BIGINTs, so SUM order does not matter.
  private val cosineSql =
    """WITH iv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS iv
      |  FROM embeddings
      |), flat AS (
      |  SELECT vec_id, UNNEST(iv) AS x, UNNEST(generate_series(1, len(iv))) AS i FROM iv
      |), nrm AS (
      |  SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM flat GROUP BY 1
      |), dots AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      |  FROM flat q JOIN flat c ON q.i = c.i
      |  WHERE q.vec_id < 10 AND c.vec_id >= 10
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT d.q_id, d.c_id,
      |    FLOOR(d.dot / (SQRT(nq.n2) * SQRT(nc.n2)) * 1e6 + 0.5) / 1e6 AS cos
      |  FROM dots d JOIN nrm nq ON d.q_id = nq.vec_id JOIN nrm nc ON d.c_id = nc.vec_id
      |), ranked AS (
      |  SELECT q_id, c_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rk
      |  FROM scored
      |)
      |SELECT q_id, rk, c_id, cos FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** Sign-LSH banding: 4 hash tables × 8-bit buckets. Bit (t,b) of a
    * vector's sketch in table t = [Σ_d s(t·8+b, d)·x_d > 0], with
    * s(i,d) ∈ {−1,+1} from the parity of md5(i‖','‖d)'s first byte —
    * deterministic pseudo-random hyperplanes, engine-portable (the DuckDB
    * oracle recomputes the identical matrix). A query's candidates are
    * the union over tables of same-bucket vectors (multi-table banding —
    * recall comes from table count, not from one lucky 16-bit bucket),
    * re-ranked by exact integer cosine. One equi-join per table, no
    * cross join; at 100 TB the bucket key is the shuffle key and table
    * count scales recall without touching the corpus layout.
    *
    * Role (measured by `sim_ann_recall`): sign-LSH collision odds decay
    * with the angle, so this path is for HIGH-similarity retrieval —
    * near-dup blocking at cos ≥ 0.45 reaches ~93% recall (see
    * [[embedCosine]]) while weak-similarity top-k over random embeddings
    * (top-3 at cos ≈ 0.5) gets ~3%: for that regime use `sim_ivf_ann`
    * (recall ≈ 0.70 at a 25% corpus scan), which partitions by region
    * rather than by collision.
    */
  private val Tables_ = 4
  private val BitsPerTable = 8

  /** (vec_id, tbl, bucket) sign-LSH sketches: $Tables_ hash tables of
    * $BitsPerTable-bit buckets, hyperplane signs from md5 parity
    * (deterministic, engine-portable). Cached per dir: both sides of the
    * bucket self-join (and repeat queries in a session) reuse one
    * materialized sketch table instead of re-evaluating the plane
    * expressions.
    */
  private def sketchesOf(s: SparkSession, dir: String, e: DataFrame): DataFrame =
    Pipelines.cachedDF(s, s"sim.sketch:$dir:$Tables_:$BitsPerTable") {
      requireDims(e, "sign-LSH sketch")
      val digest = java.security.MessageDigest.getInstance("MD5")
      val signs = Array.tabulate(Tables_ * BitsPerTable, Dims) { (i, d) =>
        val h = digest.digest(s"$i,$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
      // the sign matrix is a compile-time constant: each plane's dot is a
      // native codegen'd LongDotExpr against an array literal — no
      // dimension explosion, no join, no extra shuffle; the sketch is a
      // per-row projection
      def planeDot(i: Int): Column =
        dot(col("iv"), typedlit(signs(i).map(_.toLong).toSeq))
      val bucketCols = (0 until Tables_).map { t =>
        (0 until BitsPerTable).map { b =>
          when(planeDot(t * BitsPerTable + b) > 0, lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _)
      }
      e.select(col("vec_id"),
        posexplode(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
    }

  /** Candidates: the corpus vectors sharing a bucket with the query in
    * at least one table.
    */
  private def lshAnn(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.lsh:$dir") {
      val e = emb(s, dir)
      val sketches = sketchesOf(s, dir, e)
      val l = sketches.select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
        .filter(col("q_id") < 10)
      val r = sketches.select(col("tbl"), col("bucket"), col("vec_id").as("c_id"))
        .filter(col("c_id") >= 10)
      val cand = l.join(r, Seq("tbl", "bucket")).select("q_id", "c_id").distinct()
      refine(cand, queriesOf(e), corpusOf(e), 3)
    }

  // ---- shared oracle fragments ----------------------------------------

  /** iv / flat / nrm: integer-scaled vectors, positional unnest, norms. */
  private[pipeline] val baseCtes =
    """iv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, v -> CAST(ROUND(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS iv
      |  FROM embeddings
      |), flat AS (
      |  SELECT vec_id, UNNEST(iv) AS x, UNNEST(generate_series(1, len(iv))) AS i FROM iv
      |), nrm AS (
      |  SELECT vec_id, CAST(SUM(x*x) AS BIGINT) AS n2 FROM flat GROUP BY 1
      |)""".stripMargin

  /** Sign-LSH candidate CTEs (planes → sketch → buckets → `cand`) for the
    * ANN config: query = vec_id < 10, corpus = the rest.
    */
  private val lshCandCtes = {
    val numPlanes = Tables_ * BitsPerTable
    s"""planes AS (
      |  SELECT p.plane, d.d,
      |    CASE WHEN CAST(('0x' || substring(md5(p.plane || ',' || d.d), 1, 2)) AS INTEGER) % 2 = 0
      |         THEN 1 ELSE -1 END AS sgn
      |  FROM (SELECT UNNEST(RANGE($numPlanes)) AS plane) p,
      |       (SELECT UNNEST(RANGE(64)) AS d) d
      |), sketch AS (
      |  SELECT f.vec_id, pl.plane // $BitsPerTable AS tbl,
      |    CASE WHEN SUM(pl.sgn * f.x) > 0
      |         THEN CAST(1 AS BIGINT) << CAST(pl.plane % $BitsPerTable AS INTEGER)
      |         ELSE 0 END AS bitv
      |  FROM flat f JOIN planes pl ON f.i - 1 = pl.d
      |  GROUP BY f.vec_id, pl.plane
      |), buckets AS (
      |  SELECT vec_id, tbl, CAST(SUM(bitv) AS BIGINT) AS bucket FROM sketch GROUP BY 1, 2
      |), cand AS (
      |  SELECT DISTINCT l.vec_id AS q_id, r.vec_id AS c_id
      |  FROM buckets l JOIN buckets r ON l.tbl = r.tbl AND l.bucket = r.bucket
      |  WHERE l.vec_id < 10 AND r.vec_id >= 10
      |)""".stripMargin
  }

  /** Exact re-rank over a (q_id, c_id) candidate CTE: `<p>ranked` carries
    * the rounded cosine and the per-query rank (rank on the rounded value,
    * ties → smaller c_id — identical to the DataFrame side).
    */
  private def rerankCtes(cand: String, p: String): String =
    s"""${p}dots AS (
      |  SELECT cd.q_id, cd.c_id, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      |  FROM $cand cd
      |  JOIN flat q ON q.vec_id = cd.q_id
      |  JOIN flat c ON c.vec_id = cd.c_id AND q.i = c.i
      |  GROUP BY 1, 2
      |), ${p}scored AS (
      |  SELECT d.q_id, d.c_id,
      |    FLOOR(d.dot / (SQRT(nq.n2) * SQRT(nc.n2)) * 1e6 + 0.5) / 1e6 AS cos
      |  FROM ${p}dots d JOIN nrm nq ON d.q_id = nq.vec_id JOIN nrm nc ON d.c_id = nc.vec_id
      |), ${p}ranked AS (
      |  SELECT q_id, c_id, cos,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rk
      |  FROM ${p}scored
      |)""".stripMargin

  /** The oracle recomputes the sign matrix from md5 parity (first hex
    * byte), the integer sketch dots, bucket keys, candidate union and
    * the exact re-rank — all integer/deterministic arithmetic.
    */
  private val lshSql =
    s"""WITH $baseCtes, $lshCandCtes, ${rerankCtes("cand", "")}
      |SELECT q_id, rk, c_id, cos FROM ranked WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  // ---- IVF-bucketed ANN (the scale path) ------------------------------

  /** IVF cell count and probe width (probe/cells ≈ the corpus fraction
    * scanned; finer cells at the same fraction buy recall).
    */
  private val IvfCells = 32
  private val IvfProbes = 8

  /** IVF-bucketed ANN: corpus is partitioned into $IvfCells cells; a
    * query probes the $IvfProbes nearest cells and exact-reranks only
    * their members. Centroids are deterministic and engine-portable:
    * seeds = the $IvfCells smallest corpus ids, one Lloyd step refines
    * them, and a centroid is the element-wise INTEGER SUM of its members
    * (cosine is scale-invariant, so the sum stands in for the mean and
    * every score stays exact). At 100 TB: centroids broadcast, the
    * corpus is shuffled once on the cell key (this is the list layout an
    * IVF index persists), and per-query work is |probed cells|, not |corpus|.
    */
  private def ivfAnn(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.ivf:$dir") {
      val e = emb(s, dir)
      val (q, c) = (queriesOf(e), corpusOf(e))
      val base = c.select(col("c_id").as("id"), col("civ").as("iv"))
      val cent = ivfCentroids(base, IvfCells)
      val m1 = assignCells(base, cent).withColumnRenamed("id", "c_id")
      val cand = rankCells(q, "q_id", "qiv", cent, IvfProbes)
        .join(m1, "cell").select("q_id", "c_id").distinct()
      refine(cand, q, c, 3)
    }

  /** Argmax-cosine assignment of `base` (id, iv) to `cent` (cell, cv,
    * cn2): ties → smaller cell — THE assignment tie rule every consumer
    * (IVF, k-means, the oracles) shares, defined once.
    */
  private[graft] def assignCells(base: DataFrame, cent: DataFrame): DataFrame =
    rankCells(base, "id", "iv", cent, 1)

  /** Element-wise integer centroid sums of assignment `m`'s groups. */
  private[graft] def centroidSums(m: DataFrame, base: DataFrame): DataFrame =
    m.join(base, "id")
      .select(col("cell"), posexplode(col("iv")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(sum("x").as("cx"))
      .groupBy("cell")
      .agg(expr("transform(sort_array(collect_list(struct(i, cx))), p -> p.cx)").as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))

  /** One-Lloyd-step deterministic integer centroids over `base`
    * ((id, iv) rows): seeds = the `cells` smallest ids, assignment by
    * cosine to the seed, centroid = element-wise INTEGER SUM of its
    * members (cosine is scale-invariant so the sum stands in for the
    * mean and scores stay exact/engine-portable). Cells that lose all
    * members in the Lloyd step drop out (both engines GROUP them away
    * identically). Returns (cell, cv ARRAY<BIGINT>, cn2).
    */
  def ivfCentroids(base: DataFrame, cells: Int): DataFrame = {
    val seeds = base.orderBy("id").limit(cells)
      .select(col("id").as("cell"), col("iv").as("cv"))
      .withColumn("cn2", dot(col("cv"), col("cv")))
    centroidSums(assignCells(base, seeds), base)
  }

  /** Persisted IVF layout + pruned ANN: the corpus embeddings are
    * written ONCE as parquet PARTITIONED BY their IVF cell, after which
    * every ANN query reads only its probed cells' partitions — the
    * scan's PartitionFilters do the trie descent (IvfLayoutSpec asserts
    * the pruned plan). This is the embedding-side analogue of the
    * bucketed-join layout ([[Layout]]) and of the reference's
    * prefix-partitioned index files (`ModelIO.saveIndex`): pay the
    * cell shuffle at build time, amortize it over every query. The
    * probed-cell list is query-batch-sized (#queries × $IvfProbes) —
    * the same driver-side planning budget as the k-NN index's batched
    * probes. Output ≡ `sim_ivf_ann` bit-for-bit (each corpus vector
    * lives in exactly one cell, the vectors round-trip parquet as exact
    * integers, and the scoring expressions are shared), so the query
    * reuses that oracle.
    */
  /** Where the IVF layout persists its centroid table: a
    * leading-underscore subdirectory is invisible to parquet file
    * listings, so `spark.read.parquet(loc)` still sees only the member
    * rows. The centroids ARE the layout's self-description — an append
    * assigns against THEM, never against recomputed centroids (which
    * would drift as the corpus grows and scatter members across wrong
    * cells); the committed cell count adds a cheap consistency check.
    */
  private val IvfCentroidsDir = "_centroids"

  /** The sidecar that recorded the cell count before the count moved
    * into the manifest; still read for layouts saved that way.
    */
  private val IvfMetaFile = "_graft_ivf_meta"

  /** Manifest header naming the layout's CURRENT centroid table dir —
    * committed in the same atomic rename as the member file list, so a
    * re-cluster ([[reclusterIvfLayout]]) swaps members and centroids as
    * one snapshot: no reader can ever score probes against one
    * generation's centroids while scanning the other's cells.
    */
  private val CentroidsHeader = "centroids_dir"

  /** Manifest header holding the row count of the table
    * [[CentroidsHeader]] names, committed in the same rename: a
    * re-cluster that drops empty cells can never leave a count that
    * disagrees with the still-committed table.
    */
  private val CellsHeader = "cells"

  /** Persist `members` (c_id, civ, cn) as the cell-partitioned IVF
    * layout assigned against `cent`, plus the centroid table itself and
    * its cell count — the embedding-side analogue of
    * `ModelIO.saveIndex` (self-describing, maintenance-locked,
    * MANIFEST-COMMITTED: readers resolve one atomic snapshot of member
    * files + centroid pointer, see `Maintenance.readLayout`).
    */
  def saveIvfLayout(s: SparkSession, members: DataFrame,
      cent: DataFrame, loc: String): Unit = {
    Maintenance.commit(s, loc, "save") { t =>
      // cent is consumed three times (assignment broadcast, centroid
      // write, cell count) and its plan is the Lloyd-step fit — cache it
      // for the save's duration so the fit runs once
      val c = cent.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cells = c.count()
        t.publish {
          assignCells(members.select(col("c_id").as("id"), col("civ").as("iv")), c)
            .withColumnRenamed("id", "c_id")
            .join(members, "c_id")
            .write.mode("overwrite").partitionBy("cell").parquet(loc)
          // after the member overwrite, which clears the directory
          c.coalesce(1).write.mode("overwrite").parquet(s"$loc/$IvfCentroidsDir")
        }(supersedes = _ => true, headers = (_, _) =>
          Map(CentroidsHeader -> IvfCentroidsDir, CellsHeader -> cells.toString))
      } finally { c.unpersist(); () }
    }
    ()
  }

  /** Incremental bulk INSERT into a persisted IVF layout: new members
    * are assigned against the layout's own PERSISTED centroids and
    * appended partition-wise — new files join their cell directories,
    * untouched cells keep their files, nothing is rewritten, and every
    * query sees the appended members the moment the write commits (the
    * probe set is computed against the same persisted centroids).
    * Fail-fast: a layout without a centroid table (or whose committed
    * cell count disagrees with it) refuses the append — assigning
    * against RECOMPUTED centroids would scatter members across cells
    * that disagree with the at-rest partitioning. Serialized per layout
    * by the shared maintenance lock (`graft.util.Maintenance`).
    */
  def appendIvfLayout(s: SparkSession, members: DataFrame,
      loc: String, ingestKey: Option[(String, Long)] = None): Boolean =
    Maintenance.commit(s, loc, "append", ingestKey) { t =>
      val fs = new org.apache.hadoop.fs.Path(loc)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val centDir = t.prev.flatMap(_.header(CentroidsHeader)).getOrElse(IvfCentroidsDir)
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$loc/$centDir")))
        throw new IllegalStateException(
          s"$loc has no persisted centroid table ($centDir) — appending " +
            "against recomputed centroids would scatter members across wrong " +
            "cells; write the layout with saveIvfLayout first")
      val cent = Maintenance.readGeneration(s, loc, centDir)
      t.prev.flatMap(_.header(CellsHeader))
        .orElse(Maintenance.readSidecar(s, loc, IvfMetaFile).map(_.getOrElse("cells", "<absent>")))
        .foreach { recorded =>
          val n = cent.count()
          require(recorded == n.toString,
            s"centroid table at $loc has $n cells but the layout records " +
              s"$recorded — the layout is inconsistent")
        }
      t.publish {
        assignCells(members.select(col("c_id").as("id"), col("civ").as("iv")), cent)
          .withColumnRenamed("id", "c_id")
          .join(members, "c_id")
          .write.mode("append").partitionBy("cell").parquet(loc)
      // a pre-manifest layout commits the centroid dir it was checked against
      }(headers = (_, _) => Map(CentroidsHeader -> centDir))
    }.isDefined

  /** The layout's centroid table, resolved through the manifest's
    * committed pointer (pre-manifest layouts fall back to the fixed
    * `_centroids` dir).
    */
  def loadIvfCentroids(s: SparkSession, loc: String): DataFrame = {
    val dir = Maintenance.readManifest(s, loc)
      .flatMap(_.header(CentroidsHeader)).getOrElse(IvfCentroidsDir)
    Maintenance.readGeneration(s, loc, dir).select("cell", "cv", "cn2")
  }

  /** Selective small-file compaction of an append-grown IVF layout:
    * the shared merge-beside-and-swap compaction
    * (`Maintenance.compactPartitioned`) over the cell partitions —
    * over-fragmented cells merged to one new file each, everything
    * else (light cells, the centroid table and its cell count)
    * byte-untouched, same locked snapshot-isolated contract as the
    * k-NN index's `ModelIO.compactIndex`.
    */
  def compactIvfLayout(s: SparkSession, loc: String,
      maxFilesPerCell: Int = 4): Seq[Long] =
    Maintenance.compactPartitioned(s, loc, "cell", maxFilesPerCell)
      .map(_.toLong)

  /** Measured cell skew of the at-rest layout: max/mean of per-cell
    * BYTES from the committed file list + a metadata stat per file —
    * no data scan. Appends assign against FROZEN centroids (correct by
    * design: recomputing would scatter existing members), so a corpus
    * whose distribution drifts inflates some cells over many appends;
    * this is the trigger a maintenance schedule watches, re-clustering
    * ([[reclusterIvfLayout]]) when it crosses a threshold (3–5× is a
    * reasonable default — probe cost is proportional to probed-cell
    * bytes, so skew is directly the tail-latency multiplier).
    */
  def ivfCellSkew(s: SparkSession, loc: String): Double = {
    // one recursive listing carries every length — never a per-file
    // getFileStatus loop (10⁶ files would be 10⁶ NameNode RPCs)
    val sizes = Maintenance.dataFileSizes(s, loc)
    val files = Maintenance.readManifest(s, loc)
      .map(_.files).getOrElse(sizes.keys.toSeq)
    val perCell = files
      .filter(f => f.startsWith("cell=") && sizes.contains(f))
      .groupBy(_.takeWhile(_ != '/'))
      .map { case (_, fsIn) => fsIn.map(sizes).sum }
    if (perCell.isEmpty) 1.0
    else perCell.max.toDouble / (perCell.sum.toDouble / perCell.size)
  }

  /** Locked RE-CLUSTER of a drifted layout — the op that completes the
    * IVF lifecycle (save → append* → compact* → re-cluster when
    * [[ivfCellSkew]] crosses the schedule's threshold): one integer
    * Lloyd step from the CURRENT persisted centroids over the full
    * member set, members rewritten under the new assignment as NEW
    * files beside the old, new centroid table written under a fresh
    * generation dir, and ONE manifest rename swaps both — readers
    * resolve either the complete old snapshot (old members + old
    * centroids) or the complete new one, never a mix, and a crash
    * before the rename leaves the layout untouched (the new files are
    * unpublished orphans). The old generation is NOT deleted here: it
    * becomes tombstoned garbage `Maintenance.vacuumOrphans` sweeps on
    * the maintenance schedule, and a vacuum retention window keeps it
    * scannable for pinned readers until the window expires. Cost: one
    * full member rewrite — the deep clean, scheduled off the measured
    * trigger, not per append.
    */
  def reclusterIvfLayout(s: SparkSession, loc: String): Long =
    Maintenance.commit(s, loc, "recluster") { t =>
      if (t.prev.isEmpty) throw new IllegalStateException(
        s"$loc is not a manifest-committed IVF layout — save it with " +
          "saveIvfLayout first; re-clustering an unversioned directory " +
          "cannot give readers a safe snapshot")
      val members = Maintenance.readLayout(s, loc)
        .select(col("c_id"), col("civ"), col("cn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val base = members.select(col("c_id").as("id"), col("civ").as("iv"))
        val centOld = loadIvfCentroids(s, loc)
        val cent = centroidSums(assignCells(base, centOld), base)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cells = cent.count() // materialize before any write consumes it
        val gen = s"_centroids_g${ProcessHandle.current().pid()}_${System.nanoTime()}"
        cent.coalesce(1).write.parquet(s"$loc/$gen")
        // THE swap: only the new generation's files + new centroid dir,
        // with the cell count of exactly that table
        t.publish {
          assignCells(base, cent)
            .withColumnRenamed("id", "c_id")
            .join(members, "c_id")
            .write.mode("append").partitionBy("cell").parquet(loc)
        }(supersedes = _ => true, headers = (_, _) =>
          Map(CentroidsHeader -> gen, CellsHeader -> cells.toString))
        cent.unpersist()
        // the old generation (member files + centroid dir) is NOT
        // deleted here: a reader pinned to the pre-recluster manifest
        // keeps a fully-intact snapshot until the scheduled
        // `Maintenance.vacuumOrphans` sweeps the unreferenced generation
        cells
      } finally { members.unpersist(); () }
    }.get // no ingest key: never a replay

  private def ivfLayoutAnn(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val c = corpusOf(e)
    val loc = graft.util.Warehouse.dir(s, s"ivf/${graft.util.Names.pathKey(dir)}")
    // Build-once per JVM: a fresh JVM always rebuilds (an on-disk
    // _SUCCESS check would serve a stale layout if the source table
    // changed between runs); within a JVM every re-run reuses it.
    // The build is half-SAVED / half-APPENDED by design: the registered
    // query itself exercises the append lifecycle, so the DuckDB oracle
    // (≡ sim_ivf_ann) gates the append-grown layout every round — a
    // member's cell depends only on itself and the centroids, so the
    // two-step build is bit-identical to a one-shot save.
    graft.util.BuildOnce(loc) {
      val centFit = ivfCentroids(c.select(col("c_id").as("id"), col("civ").as("iv")), IvfCells)
      saveIvfLayout(s, c.filter(col("c_id") % 2 === 0), centFit, loc)
      appendIvfLayout(s, c.filter(col("c_id") % 2 =!= 0), loc)
      // ... then COMPACTED (r10): membership and scores are untouched
      // by the physical merge, so the DuckDB oracle now gates the
      // whole save→append→compact lifecycle every round
      compactIvfLayout(s, loc, maxFilesPerCell = 1)
    }
    val q = queriesOf(e)
    // probes score against the PERSISTED centroid table, as any reader
    // of the at-rest layout would (integer centroid sums round-trip
    // parquet exactly, so scores are unchanged)
    val probes = rankCells(q, "q_id", "qiv", loadIvfCentroids(s, loc), IvfProbes)
    val probed = probes.select("cell").distinct().collect().map(_.getLong(0))
    // manifest-pinned member scan: the committed snapshot the centroid
    // probes above belong to (one atomic view of cells + centroids)
    val layout = Maintenance.readLayout(s, loc)
      .filter(col("cell").isin(probed: _*)) // → PartitionFilters pruning
      .select(col("cell").cast("long").as("cell"), col("c_id"), col("civ"), col("cn"))
    // one cell per corpus vector ⇒ (q_id, c_id) pairs are already
    // unique — no distinct barrier needed before scoring
    rerank(probes.join(layout, "cell").join(broadcast(q), "q_id"), 3)
  }

  /** IVF CTEs: seed cells → assign → integer centroid sums → one Lloyd
    * step → query probes → `icand`.
    */
  private val ivfCtes =
    s"""corpus AS (SELECT vec_id FROM iv WHERE vec_id >= 10
      |), seeds AS (SELECT vec_id AS cell FROM corpus ORDER BY vec_id LIMIT $IvfCells
      |), a0 AS (
      |  SELECT cf.vec_id AS c_id, s.cell, SUM(cf.x * sf.x) AS dot
      |  FROM flat cf, seeds s, flat sf
      |  WHERE sf.vec_id = s.cell AND sf.i = cf.i AND cf.vec_id >= 10
      |  GROUP BY 1, 2
      |), a0r AS (
      |  SELECT a0.c_id, a0.cell,
      |    ROW_NUMBER() OVER (PARTITION BY a0.c_id ORDER BY a0.dot / SQRT(n.n2) DESC, a0.cell) AS rn
      |  FROM a0 JOIN nrm n ON n.vec_id = a0.cell
      |), m0 AS (SELECT c_id, cell FROM a0r WHERE rn = 1
      |), cent AS (
      |  SELECT m0.cell, f.i, SUM(f.x) AS cx
      |  FROM m0 JOIN flat f ON f.vec_id = m0.c_id
      |  GROUP BY 1, 2
      |), cn AS (SELECT cell, SUM(cx * cx) AS cn2 FROM cent GROUP BY 1
      |), a1 AS (
      |  SELECT f.vec_id AS c_id, c.cell, SUM(f.x * c.cx) AS dot
      |  FROM flat f JOIN cent c ON c.i = f.i
      |  WHERE f.vec_id >= 10
      |  GROUP BY 1, 2
      |), a1r AS (
      |  SELECT a1.c_id, a1.cell,
      |    ROW_NUMBER() OVER (PARTITION BY a1.c_id ORDER BY a1.dot / SQRT(cn.cn2) DESC, a1.cell) AS rn
      |  FROM a1 JOIN cn ON cn.cell = a1.cell
      |), m1 AS (SELECT c_id, cell FROM a1r WHERE rn = 1
      |), qp AS (
      |  SELECT f.vec_id AS q_id, c.cell, SUM(f.x * c.cx) AS dot
      |  FROM flat f JOIN cent c ON c.i = f.i
      |  WHERE f.vec_id < 10
      |  GROUP BY 1, 2
      |), qpr AS (
      |  SELECT qp.q_id, qp.cell,
      |    ROW_NUMBER() OVER (PARTITION BY qp.q_id ORDER BY qp.dot / SQRT(cn.cn2) DESC, qp.cell) AS rn
      |  FROM qp JOIN cn ON cn.cell = qp.cell
      |), probe AS (SELECT q_id, cell FROM qpr WHERE rn <= $IvfProbes
      |), icand AS (SELECT DISTINCT p.q_id, m.c_id FROM probe p JOIN m1 m ON m.cell = p.cell)""".stripMargin

  private val ivfSql =
    s"""WITH $baseCtes, $ivfCtes, ${rerankCtes("icand", "i")}
      |SELECT q_id, rk, c_id, cos FROM iranked WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  // ---- scalar-quantized (int8) ANN ------------------------------------

  /** Candidates the quantized scan keeps per query before exact re-rank. */
  private val SqCand = 10

  /** Int8 scalar-quantized ANN (asymmetric distance): each corpus
    * dimension is affinely quantized to an 8-bit code against the
    * corpus's per-dimension [min, max] — the classic SQ8 compression
    * layout (public: FAISS's ScalarQuantizer) that shrinks a float32
    * corpus 4× so the first-pass scan reads codes, not vectors. Scoring
    * is asymmetric: the raw query (×255) against the integer
    * reconstruction mn·255 + code·(mx−mn) — exact BIGINT arithmetic
    * end-to-end, so the ranking is engine-portable. The quantized scan
    * keeps $SqCand candidates per query; the exact integer re-rank
    * picks the final top-3. At 100 TB the [min,max] table is 64 rows
    * (model-sized broadcast), the code scan is the 4-8×-lighter
    * sequential pass, and the re-rank touches $SqCand rows per query.
    * Recall vs the exact scan is a measured number (`sim_ann_recall`,
    * method 'sq'), not a claim.
    */
  private def sqAnn(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.sq:$dir") { sqAnn0(s, dir) }

  private def sqAnn0(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val (q, c) = (queriesOf(e), corpusOf(e))
    // per-dimension corpus [min, max]: 64 rows — model-sized, collected
    // like the IVF centroids and inlined as array literals
    val mm = c.select(posexplode(col("civ")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    val mnA = typedlit(mm.map(_.getLong(1)).toSeq)
    val mxA = typedlit(mm.map(_.getLong(2)).toSeq)
    // reconstructed-at-×255 corpus values: code = ((x−mn)·255) div (mx−mn)
    // — non-negative numerator over a positive span, so trunc ≡ floor in
    // both engines; rv = mn·255 + code·(mx−mn), an exact BIGINT
    def rvOf(v: Column): Column = transform(v, (x, i) => {
      val idx = (i + lit(1)).cast("int")
      val mn = element_at(mnA, idx)
      val span = element_at(mxA, idx) - mn
      when(span === 0, mn * 255)
        .otherwise(mn * 255 + call_function("div", (x - mn) * 255, span) * span)
    })
    val corp = c.withColumn("rv", rvOf(col("civ")))
      .withColumn("rn2", dot(col("rv"), col("rv")))
    val q255 = q.select(col("q_id"), transform(col("qiv"), x => x * lit(255L)).as("q255"))
    refine(shortlist(corp, q255, "q255", SqCand), q, c, 3)
  }

  /** The asymmetric shortlist of the compressed scans: the top `n`
    * corpus ids per query by dot(`qvec`, rv) / √rn2 over the
    * reconstructions `recon` (c_id, rv, rn2) and the broadcast query
    * vectors `q` (q_id, `qvec`), ties → smaller c_id. Returns (q_id, c_id).
    */
  private def shortlist(recon: DataFrame, q: DataFrame, qvec: String, n: Int): DataFrame = {
    val byQ = Window.partitionBy("q_id").orderBy(desc("ascore"), col("c_id"))
    recon.crossJoin(broadcast(q.select("q_id", qvec)))
      .withColumn("adot", dot(col(qvec), col("rv")))
      .withColumn("ascore", col("adot") / sqrt(col("rn2")))
      .withColumn("rn", row_number().over(byQ))
      .filter(col("rn") <= n)
      .select("q_id", "c_id")
  }

  /** SQ8 CTEs: per-dim corpus [min,max] → integer reconstruction →
    * asymmetric quantized scores → top-$SqCand candidates `sqcand`.
    */
  private val sqCtes =
    s"""sqmm AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM flat WHERE vec_id >= 10 GROUP BY 1
      |), sqr AS (
      |  SELECT f.vec_id, f.i,
      |    CASE WHEN m.mx = m.mn THEN m.mn * 255
      |         ELSE m.mn * 255 + ((f.x - m.mn) * 255) // (m.mx - m.mn) * (m.mx - m.mn) END AS r
      |  FROM flat f JOIN sqmm m ON m.i = f.i
      |  WHERE f.vec_id >= 10
      |), sqn AS (SELECT vec_id, CAST(SUM(r * r) AS BIGINT) AS rn2 FROM sqr GROUP BY 1
      |), sqd AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, CAST(SUM(q.x * 255 * c.r) AS BIGINT) AS adot
      |  FROM flat q JOIN sqr c ON c.i = q.i
      |  WHERE q.vec_id < 10
      |  GROUP BY 1, 2
      |), sqrk AS (
      |  SELECT d.q_id, d.c_id,
      |    ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY d.adot / SQRT(n.rn2) DESC, d.c_id) AS rn
      |  FROM sqd d JOIN sqn n ON n.vec_id = d.c_id
      |), sqcand AS (SELECT q_id, c_id FROM sqrk WHERE rn <= $SqCand)""".stripMargin

  private val sqSql =
    s"""WITH $baseCtes, $sqCtes, ${rerankCtes("sqcand", "s")}
      |SELECT q_id, rk, c_id, cos FROM sranked WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  // ---- product-quantized (PQ-ADC) ANN ---------------------------------

  /** PQ geometry: $PqM subspaces of $Dims/$PqM dims, $PqKs entries per
    * codebook → a vector compresses to $PqM 4-bit codes (4 bytes — 16×
    * smaller than float32, the standard PQ-ADC layout; public: Jégou et
    * al. 2011, FAISS IndexPQ).
    */
  private val PqM = 8
  private val PqKs = 16
  private val PqSub = Dims / PqM // dims per subspace

  /** Fixed-point scale for codebook means: mean = (sum·$PqScale) div cnt
    * — truncating integer division, which Spark's `div` and DuckDB's
    * `//` apply identically (both toward zero, including negatives), so
    * the codebooks are bit-equal across engines.
    */
  private val PqScale = 1024L

  /** Candidates the PQ scan keeps per query before exact re-rank —
    * wider than SQ8's because 4-bit codes rank more coarsely (the
    * classic PQ recipe re-ranks a generous shortlist; the re-rank cost
    * is still |shortlist| rows per query).
    */
  private val PqCand = 25

  /** Product-quantized ANN: each corpus vector is coded per-subspace by
    * its nearest codebook entry (exact integer L2 on ×$PqScale values —
    * argmin ties break on the entry id, fully deterministic), codebooks
    * are seeded from the $PqKs smallest corpus ids and refined by one
    * Lloyd step in fixed-point arithmetic. Scoring is asymmetric (ADC):
    * the raw query against the vector RECONSTRUCTED from its codebook
    * entries; top-$PqCand candidates per query, exact integer re-rank to
    * top-3. At 100 TB the codebooks are $PqM·$PqKs rows (model-sized
    * broadcast), the corpus lives as 4-byte codes, and the first-pass
    * scan reads reconstructions of those codes — the 16×-compressed
    * sequential pass. Recall vs the exact scan is measured
    * (`sim_ann_recall`, method 'pq').
    */
  private def pqAnn(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.pq:$dir") { pqAnn0(s, dir) }

  private def pqAnn0(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    requireDims(e, "PQ-ADC")
    val (q, c) = (queriesOf(e), corpusOf(e))
    // (c_id, m, sv): the corpus split into per-subspace slices
    def subbed(src: DataFrame, idCol: String, vecCol: String): DataFrame =
      src.select(col(idCol), posexplode(
        expr(s"transform(sequence(0, ${PqM - 1}), m -> slice($vecCol, m * $PqSub + 1, $PqSub))"))
        .as(Seq("m", "sv")))
    val csub = Pipelines.cachedDF(s, s"sim.pq.csub:$dir") { subbed(c, "c_id", "civ") }
    // seed codebooks: the $PqKs smallest corpus ids, sliced; entries are
    // ×$PqScale so seed and refined codebooks share one scale
    val seedRank = Window.orderBy("c_id") // 16 rows — single-partition window is fine
    val cb0 = subbed(
      c.orderBy("c_id").limit(PqKs)
        .withColumn("en", row_number().over(seedRank).cast("long") - 1),
      "en", "civ")
      .select(col("en"), col("m"),
        transform(col("sv"), x => x * lit(PqScale)).as("cv8"))
    // argmin assignment on exact integer L2: d² = |sv·S − cv8|²
    def assignTo(cb: DataFrame): DataFrame = {
      val d2 = {
        val diff = zip_with(col("sv"), col("cv8"), (a, b) => a * lit(PqScale) - b)
        dot(diff, diff)
      }
      val byKey = Window.partitionBy("c_id", "m").orderBy(col("d2"), col("en"))
      csub.join(broadcast(cb), "m")
        .withColumn("d2", d2)
        .withColumn("rn", row_number().over(byKey))
        .filter(col("rn") === 1)
        .select("c_id", "m", "en")
    }
    // one Lloyd step: fixed-point mean per (m, entry, j)
    val cb1 = assignTo(cb0).join(csub, Seq("c_id", "m"))
      .select(col("m"), col("en"), posexplode(col("sv")).as(Seq("j", "x")))
      .groupBy("m", "en", "j")
      .agg(call_function("div", sum("x") * PqScale, count(lit(1))).as("cx"))
      .groupBy("m", "en")
      .agg(expr("transform(sort_array(collect_list(struct(j, cx))), p -> p.cx)").as("cv8"))
    // final codes + reconstructed vectors (rv at ×$PqScale, 64 dims)
    val rv = assignTo(cb1).join(cb1, Seq("m", "en"))
      .select(col("c_id"), col("m"), posexplode(col("cv8")).as(Seq("j", "rx")))
      .withColumn("i", col("m") * PqSub + col("j"))
      .groupBy("c_id")
      .agg(expr("transform(sort_array(collect_list(struct(i, rx))), p -> p.rx)").as("rv"))
      .withColumn("rn2", dot(col("rv"), col("rv")))
    refine(shortlist(rv, q, "qiv", PqCand), q, c, 3)
  }

  /** PQ oracle CTEs: per-subspace flat view → seed codebooks → integer-L2
    * argmin → fixed-point Lloyd means → final codes → reconstructions →
    * ADC top-$PqCand `pcand`. Subspace of dim i (1-based): m = (i−1) //
    * $PqSub, j = (i−1) % $PqSub.
    */
  private val pqCtes =
    s"""pflat AS (
      |  SELECT vec_id, (i - 1) // $PqSub AS m, (i - 1) % $PqSub AS j, x
      |  FROM flat WHERE vec_id >= 10
      |), pseed AS (
      |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS en
      |  FROM (SELECT DISTINCT vec_id FROM pflat ORDER BY vec_id LIMIT $PqKs)
      |), pcb0 AS (
      |  SELECT s.en, f.m, f.j, f.x * $PqScale AS cx
      |  FROM pseed s JOIN pflat f ON f.vec_id = s.vec_id
      |), pd0 AS (
      |  SELECT f.vec_id, f.m, c.en,
      |    SUM((f.x * $PqScale - c.cx) * (f.x * $PqScale - c.cx)) AS d2
      |  FROM pflat f JOIN pcb0 c ON c.m = f.m AND c.j = f.j
      |  GROUP BY 1, 2, 3
      |), pa0 AS (
      |  SELECT vec_id, m, en,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, en) AS rn
      |  FROM pd0
      |), pcb1 AS (
      |  SELECT a.m, a.en, f.j, (SUM(f.x) * $PqScale) // COUNT(*) AS cx
      |  FROM pa0 a JOIN pflat f ON f.vec_id = a.vec_id AND f.m = a.m
      |  WHERE a.rn = 1
      |  GROUP BY 1, 2, 3
      |), pd1 AS (
      |  SELECT f.vec_id, f.m, c.en,
      |    SUM((f.x * $PqScale - c.cx) * (f.x * $PqScale - c.cx)) AS d2
      |  FROM pflat f JOIN pcb1 c ON c.m = f.m AND c.j = f.j
      |  GROUP BY 1, 2, 3
      |), pa1 AS (
      |  SELECT vec_id, m, en,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, en) AS rn
      |  FROM pd1
      |), prec AS (
      |  SELECT a.vec_id, a.m * $PqSub + c.j AS i0, c.cx
      |  FROM pa1 a JOIN pcb1 c ON c.m = a.m AND c.en = a.en
      |  WHERE a.rn = 1
      |), prn AS (SELECT vec_id, CAST(SUM(cx * cx) AS BIGINT) AS rn2 FROM prec GROUP BY 1
      |), padc AS (
      |  SELECT q.vec_id AS q_id, r.vec_id AS c_id, CAST(SUM(q.x * r.cx) AS BIGINT) AS adot
      |  FROM flat q JOIN prec r ON r.i0 = q.i - 1
      |  WHERE q.vec_id < 10
      |  GROUP BY 1, 2
      |), padcr AS (
      |  SELECT d.q_id, d.c_id,
      |    ROW_NUMBER() OVER (PARTITION BY d.q_id ORDER BY d.adot / SQRT(n.rn2) DESC, d.c_id) AS rn
      |  FROM padc d JOIN prn n ON n.vec_id = d.c_id
      |), pcand AS (SELECT q_id, c_id FROM padcr WHERE rn <= $PqCand)""".stripMargin

  private val pqSql =
    s"""WITH $baseCtes, $pqCtes, ${rerankCtes("pcand", "p")}
      |SELECT q_id, rk, c_id, cos FROM pranked WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin

  // ---- ANN recall vs the brute-force oracle ---------------------------

  /** Per-query recall@3 of every ANN path against the brute-force top-3 —
    * the measurable quality gate for every approximate path: an ANN
    * variant is only "done" when its recall against the exact scan is a
    * queryable number, not a claim.
    */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    // The brute top-k and the four ANN pipelines are INDEPENDENT
    // builds, each a chain of small fit jobs (13 cachedDF stages, 38
    // scheduled jobs back to back at sf0.1) — overlap them as arms of
    // one Overlap scope so the cold path costs ~slowest-build instead
    // of the sum. The assembled recall plan consumes exactly the
    // session-cached frames the arms built, in the same ivf/lsh/pq/sq
    // leg order.
    val (bruteAll, methods) = graft.util.Overlap(s) { o =>
      val bruteA = o.fork(cosineTopK(s, dir))
      val methodAs = Seq(
        "ivf" -> o.fork(ivfAnn(s, dir)), "lsh" -> o.fork(lshAnn(s, dir)),
        "pq" -> o.fork(pqAnn(s, dir)), "sq" -> o.fork(sqAnn(s, dir)))
      (bruteA.join(), methodAs.map { case (name, a) => name -> a.join() })
    }
    val brute = bruteAll.filter(col("rk") <= 3).select("q_id", "c_id")
    val qs = queriesOf(emb(s, dir)).select("q_id")
    def recallOf(name: String, ann: DataFrame): DataFrame = {
      val hits = brute.join(ann.select("q_id", "c_id"), Seq("q_id", "c_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      qs.join(hits, Seq("q_id"), "left")
        .na.fill(0L, Seq("hits"))
        .select(lit(name).as("method"), col("q_id"), col("hits"),
          graft.util.Rnd.jround(col("hits") / lit(3.0), 6).as("recall"))
    }
    Pipelines.tracked(s, methods
      .map { case (name, ann) => recallOf(name, ann) }
      .reduce(_ unionByName _)
      .orderBy("method", "q_id"))
  }

  private val recallSql = {
    val bruteCand =
      """ballcand AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS c_id FROM iv q, iv c
        |  WHERE q.vec_id < 10 AND c.vec_id >= 10
        |)""".stripMargin
    def hitsCte(p: String): String =
      s"""${p}hits AS (
        |  SELECT b.q_id, COUNT(*) AS hits
        |  FROM branked b JOIN ${p}ranked a ON a.q_id = b.q_id AND a.c_id = b.c_id AND a.rk <= 3
        |  WHERE b.rk <= 3 GROUP BY 1)""".stripMargin
    def leg(method: String, p: String): String =
      s"""  SELECT '$method' AS method, q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |    FLOOR(COALESCE(h.hits, 0) / 3.0 * 1e6 + 0.5) / 1e6 AS recall
        |  FROM qs q LEFT JOIN ${p}hits h ON h.q_id = q.q_id""".stripMargin
    s"""WITH $baseCtes, $lshCandCtes, ${rerankCtes("cand", "l")}, $ivfCtes,
      |${rerankCtes("icand", "i")}, $sqCtes, ${rerankCtes("sqcand", "s")},
      |$pqCtes, ${rerankCtes("pcand", "p")},
      |$bruteCand, ${rerankCtes("ballcand", "b")},
      |qs AS (SELECT vec_id AS q_id FROM iv WHERE vec_id < 10),
      |${hitsCte("l")},
      |${hitsCte("i")},
      |${hitsCte("s")},
      |${hitsCte("p")}
      |SELECT method, q_id, hits, recall FROM (
      |${leg("ivf", "i")}
      |  UNION ALL
      |${leg("lsh", "l")}
      |  UNION ALL
      |${leg("pq", "p")}
      |  UNION ALL
      |${leg("sq", "s")}) u
      |ORDER BY method, q_id""".stripMargin
  }

  // ---- embedding-cosine near-dup (dedup family) -----------------------

  /** Near-duplicate pairs by embedding cosine ≥ $DupThreshold, blocked
    * by multi-probe IVF cells rather than sign-LSH banding: at this weak
    * similarity floor (the corpus's ≥0.45 pairs sit barely above the
    * random-pair background) banding has no amplification gap — r3's
    * 8×4-bit config made ~40% of ALL pairs candidates, a Θ(N²)
    * scale-killer. The IVF pivot: every vector joins its $DupProbes
    * nearest of $DupCells one-Lloyd-step integer centroids; candidates =
    * pairs sharing ≥1 cell; exact integer cosine re-scores candidates
    * (native codegen'd dot). At scale the cell count grows with the
    * corpus (C ≈ N / targetCellSize), so the candidate fraction
    * ~P²/C FALLS as N grows — blocking that actually blocks; the
    * candidate count is logged and blocking recall is a measured,
    * oracle-checked number (`dedup_block_recall`), not a claim.
    */
  private val DupCells = 64
  private val DupProbes = 4
  private val DupThreshold = 0.45

  /** Probe-sample rows the recall gate may broadcast per slice (64-dim
    * long vectors ≈ 1 KB/row → ~50 MB at the ceiling).
    */
  private val ProbeBroadcastMaxRows = 50000L

  /** Multi-probe IVF cell membership over ALL vectors: (id, cell),
    * $DupProbes rows per vector. Cached — blocking + recall share it.
    */
  private def dupMembership(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.dupmemb:$dir") {
      val base = emb(s, dir).select(col("vec_id").as("id"), col("iv"))
      rankCells(base, "id", "iv", ivfCentroids(base, DupCells), DupProbes)
    }

  /** Candidate pairs sharing ≥1 probed cell (a < b). Cached + logged:
    * the candidate volume is the scale-defining number (silent-cap
    * rule); the count is taken ONCE, inside the cache build — the
    * `[cache] sim.dupcand:…: N rows` line — instead of as an extra
    * count job on every consumer call.
    */
  private[pipeline] def dupCandidates(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"sim.dupcand:$dir") {
      val memb = dupMembership(s, dir)
      val l = memb.select(col("cell"), col("id").as("a"))
      val r = memb.select(col("cell"), col("id").as("b"))
      l.join(r, Seq("cell")).filter(col("a") < col("b"))
        .select("a", "b").distinct()
    }

  /** The blocked candidate pairs (a < b) with both vectors, their exact
    * integer dot and the unrounded cosine `cosRaw` — the one pair-scoring
    * frame the near-dup edges ([[dupPairs]]) and the kNN graph
    * (`GraphOps.knnEdges`, which rounds it) share.
    */
  private[pipeline] def scoredPairs(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val va = e.select(col("vec_id").as("a"), col("iv").as("aiv"), col("nrm2").as("an"))
    val vb = e.select(col("vec_id").as("b"), col("iv").as("biv"), col("nrm2").as("bn"))
    dupCandidates(s, dir).join(va, "a").join(vb, "b")
      .withColumn("dot", dot(col("aiv"), col("biv")))
      .withColumn("cosRaw", col("dot") / (sqrt(col("an")) * sqrt(col("bn"))))
  }

  /** [[scoredPairs]] filtered at $DupThreshold — the ONE definition of
    * the near-dup edge set that [[embedCosine]] (presentation: rounded
    * cos, sorted) and [[semantic]] (consumption: raw pairs into the CC
    * contraction) both derive from. Unsorted and unrounded on purpose: a
    * global sort is presentation cost the graph consumer must not pay.
    */
  private def dupPairs(s: SparkSession, dir: String): DataFrame =
    scoredPairs(s, dir).filter(col("cosRaw") >= DupThreshold)

  private def embedCosine(s: SparkSession, dir: String): DataFrame =
    dupPairs(s, dir)
      .withColumn("cos", graft.util.Rnd.jround(col("cosRaw"), 6))
      .select("a", "b", "cos")
      .orderBy("a", "b")

  /** All-vector multi-probe IVF CTEs (seeds → assign → integer centroid
    * sums → top-$DupProbes membership → candidate pairs `dcand`).
    */
  private[pipeline] val dupCandCtes =
    s"""dseeds AS (SELECT vec_id AS cell FROM iv ORDER BY vec_id LIMIT $DupCells
      |), da0 AS (
      |  SELECT f.vec_id AS id, s.cell, SUM(f.x * sf.x) AS dot
      |  FROM flat f, dseeds s, flat sf
      |  WHERE sf.vec_id = s.cell AND sf.i = f.i
      |  GROUP BY 1, 2
      |), da0r AS (
      |  SELECT da0.id, da0.cell,
      |    ROW_NUMBER() OVER (PARTITION BY da0.id ORDER BY da0.dot / SQRT(n.n2) DESC, da0.cell) AS rn
      |  FROM da0 JOIN nrm n ON n.vec_id = da0.cell
      |), dm0 AS (SELECT id, cell FROM da0r WHERE rn = 1
      |), dcent AS (
      |  SELECT dm0.cell, f.i, SUM(f.x) AS cx
      |  FROM dm0 JOIN flat f ON f.vec_id = dm0.id
      |  GROUP BY 1, 2
      |), dcn AS (SELECT cell, SUM(cx * cx) AS cn2 FROM dcent GROUP BY 1
      |), da1 AS (
      |  SELECT f.vec_id AS id, c.cell, SUM(f.x * c.cx) AS dot
      |  FROM flat f JOIN dcent c ON c.i = f.i
      |  GROUP BY 1, 2
      |), da1r AS (
      |  SELECT da1.id, da1.cell,
      |    ROW_NUMBER() OVER (PARTITION BY da1.id ORDER BY da1.dot / SQRT(dcn.cn2) DESC, da1.cell) AS rn
      |  FROM da1 JOIN dcn ON dcn.cell = da1.cell
      |), dmemb AS (SELECT id, cell FROM da1r WHERE rn <= $DupProbes
      |), dcand AS (
      |  SELECT DISTINCT l.id AS a, r.id AS b
      |  FROM dmemb l JOIN dmemb r ON l.cell = r.cell
      |  WHERE l.id < r.id
      |)""".stripMargin

  /** Shared DuckDB fragment mirroring [[dupPairs]]: exact integer dots
    * over the blocked candidates (`ddots`) and the threshold-filtered
    * edge set with both norms carried (`spairs`).
    */
  private val dupPairCtes =
    s"""ddots AS (
      |  SELECT cd.a, cd.b, CAST(SUM(q.x * c.x) AS BIGINT) AS dot
      |  FROM dcand cd
      |  JOIN flat q ON q.vec_id = cd.a
      |  JOIN flat c ON c.vec_id = cd.b AND q.i = c.i
      |  GROUP BY 1, 2
      |), spairs AS (
      |  SELECT d.a, d.b, d.dot, na.n2 AS an2, nb.n2 AS bn2
      |  FROM ddots d JOIN nrm na ON d.a = na.vec_id JOIN nrm nb ON d.b = nb.vec_id
      |  WHERE d.dot / (SQRT(na.n2) * SQRT(nb.n2)) >= $DupThreshold
      |)""".stripMargin

  private val embedCosineSql =
    s"""WITH $baseCtes, $dupCandCtes, $dupPairCtes
      |SELECT a, b,
      |  FLOOR(dot / (SQRT(an2) * SQRT(bn2)) * 1e6 + 0.5) / 1e6 AS cos
      |FROM spairs
      |ORDER BY a, b""".stripMargin

  /** Measured blocking recall of the IVF-cell near-dup blocking against
    * exact ground truth on a deterministic probe sample (vec_id % 20 ==
    * 0 — at corpus scale the full all-pairs truth is uncomputable, so
    * the gate samples, exactly like `sim_ann_recall` samples queries).
    * One row: candidate volume, sampled truth/hits, recall — the
    * recall-vs-cost tradeoff as an oracle-checked number.
    */
  private def blockRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cand = dupCandidates(s, dir)
    val p = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("pid"), col("iv").as("piv"), col("nrm2").as("pn"))
    val o = e.select(col("vec_id").as("oid"), col("iv").as("oiv"), col("nrm2").as("on2"))
    // the probe sample is a fixed FRACTION of the corpus — never
    // broadcast whole; block-nested-loop over broadcast-ceiling-sized
    // probe slices (plan identical to the old single broadcast when one
    // chunk suffices), global distinct after the union
    val nProbe = p.count()
    val chunks = graft.util.Gated.numChunks(nProbe, ProbeBroadcastMaxRows)
    if (chunks > 1)
      System.err.println(s"[gated] block-recall probe sample: $nProbe rows -> $chunks broadcast chunks")
    val truth = (0 until chunks).map { i =>
      o.crossJoin(broadcast(graft.util.Gated.chunk(p, "pid", i, chunks)))
        .filter(col("oid") =!= col("pid"))
        .withColumn("dot", dot(col("piv"), col("oiv")))
        .filter(col("dot") / (sqrt(col("pn")) * sqrt(col("on2"))) >= DupThreshold)
        .select(least(col("pid"), col("oid")).as("a"), greatest(col("pid"), col("oid")).as("b"))
    }.reduce(_ unionByName _).distinct()
    // ONE aggregation over the blocked pairs: truth left-joins the
    // (cached) candidate set and true/hit counts come out of the same
    // pass — the previous three-legged crossJoin of separate aggregates
    // embedded the expensive brute-force `truth` subtree TWICE in the
    // final plan (once under true_pairs, once under hits), so every run
    // paid the probe × corpus scan two times. Counts are identical:
    // both sides are distinct (a, b) sets, so the left join preserves
    // truth's row count and count(is_hit) = the inner-join count.
    val tstats = truth
      .join(cand.withColumn("is_hit", lit(1L)), Seq("a", "b"), "left")
      .agg(count(lit(1)).as("true_pairs"), count(col("is_hit")).as("hit_pairs"))
    val candN = cand.agg(count(lit(1)).as("cand_pairs"))
    candN.crossJoin(tstats)
      .select(lit("ivf_cell").as("method"), col("cand_pairs"), col("true_pairs"), col("hit_pairs"),
        graft.util.Rnd.jround(col("hit_pairs") / greatest(col("true_pairs"), lit(1L)).cast("double"), 6)
          .as("recall"))
  }

  private val blockRecallSql =
    s"""WITH $baseCtes, $dupCandCtes,
      |probes AS (SELECT vec_id FROM iv WHERE vec_id % 20 = 0),
      |tdots AS (
      |  SELECT p.vec_id AS pa, f.vec_id AS pb, CAST(SUM(pf.x * f.x) AS BIGINT) AS dot
      |  FROM probes p
      |  JOIN flat pf ON pf.vec_id = p.vec_id
      |  JOIN flat f ON f.i = pf.i AND f.vec_id <> p.vec_id
      |  GROUP BY 1, 2
      |), tpair AS (
      |  SELECT DISTINCT LEAST(d.pa, d.pb) AS a, GREATEST(d.pa, d.pb) AS b
      |  FROM tdots d JOIN nrm n1 ON n1.vec_id = d.pa JOIN nrm n2 ON n2.vec_id = d.pb
      |  WHERE d.dot / (SQRT(n1.n2) * SQRT(n2.n2)) >= $DupThreshold
      |), hits AS (SELECT t.a, t.b FROM tpair t JOIN dcand c ON c.a = t.a AND c.b = t.b)
      |SELECT 'ivf_cell' AS method,
      |  (SELECT COUNT(*) FROM dcand) AS cand_pairs,
      |  (SELECT COUNT(*) FROM tpair) AS true_pairs,
      |  (SELECT COUNT(*) FROM hits) AS hit_pairs,
      |  FLOOR((SELECT COUNT(*) FROM hits) / CAST(GREATEST((SELECT COUNT(*) FROM tpair), 1) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS recall""".stripMargin

  /** Semantic dedup (the SemDeDup recipe, public: Abbas et al. 2023):
    * connected components over the embedding-cosine near-dup graph —
    * the IVF-cell-blocked pairs with cosine ≥ $DupThreshold — with the
    * min-id vector as each semantic cluster's keeper. One row per
    * vector; singletons keep themselves. The cluster step reuses
    * [[Dedup.ccLabels]] (large-star/small-star, O(log n) keyed-shuffle
    * rounds), so the scale shape is the blocked pair join plus the
    * same contraction dedup_components runs.
    *
    * The oracle recomputes the closure by recursive CTE over the
    * IDENTICAL candidate CTEs — an independent formulation of the same
    * graph, so the gate is exact; the blocking's recall against
    * unblocked ground truth is the separate measured gate
    * (`dedup_block_recall`).
    */
  private def semantic(s: SparkSession, dir: String): DataFrame = {
    // keyed session cache, not tracked(): ccLabels checkpoints each
    // star round, so re-run plans never canonicalize equal and a plain
    // persist is unreachable — every re-run re-ran all rounds
    Pipelines.cachedDF(s, s"sim.cc:$dir") {
      val pairs = dupPairs(s, dir).select("a", "b")
      Dedup.ccLabels(emb(s, dir).select(col("vec_id").as("doc_id")), pairs)
        .withColumn("keeper", when(col("comp") === col("doc_id"), 1L).otherwise(0L))
        .select(col("doc_id").as("vec_id"), col("comp"), col("keeper"))
    }.orderBy("vec_id")
  }

  private val semanticSql =
    s"""WITH RECURSIVE $baseCtes, $dupCandCtes, $dupPairCtes, edges AS (
      |  SELECT a, b FROM spairs UNION SELECT b, a FROM spairs
      |), reach(v, u) AS (
      |  SELECT vec_id, vec_id FROM iv
      |  UNION
      |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)
      |SELECT v AS vec_id, MIN(u) AS comp,
      |  CAST(CASE WHEN MIN(u) = v THEN 1 ELSE 0 END AS BIGINT) AS keeper
      |FROM reach GROUP BY v ORDER BY vec_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "sim_cosine_topk" -> QueryDef.sql(cosineTopK, cosineSql),
    "sim_lsh_ann" -> QueryDef.sql(lshAnn, lshSql),
    "sim_ivf_ann" -> QueryDef.sql(ivfAnn, ivfSql,
      "IVF-bucketed ANN: deterministic integer centroids, one Lloyd step, " +
        s"$IvfProbes-of-$IvfCells cell probe + exact re-rank"),
    "layout_ivf_ann" -> QueryDef.sql(ivfLayoutAnn, ivfSql,
      "ANN over the persisted cell-partitioned embedding layout: probed " +
        "cells only, via parquet partition pruning (≡ sim_ivf_ann)"),
    "sim_sq_ann" -> QueryDef.sql(sqAnn, sqSql,
      "int8 scalar-quantized (SQ8) ANN: per-dim [min,max] codes, " +
        s"asymmetric integer scoring, top-$SqCand candidates + exact re-rank"),
    "sim_pq_ann" -> QueryDef.sql(pqAnn, pqSql,
      s"product-quantized (PQ-ADC) ANN: $PqM×$PqKs fixed-point codebooks, " +
        s"integer-L2 codes, asymmetric reconstruction scan + exact re-rank"),
    "sim_ann_recall" -> QueryDef.sql(annRecall, recallSql,
      "recall@3 of the LSH, IVF, PQ and SQ8 ANN paths vs the brute-force top-3"),
    "dedup_embed_cosine" -> QueryDef.sql(embedCosine, embedCosineSql,
      s"embedding-cosine near-dup pairs via multi-probe IVF-cell blocking " +
        s"($DupProbes of $DupCells cells)"),
    "dedup_block_recall" -> QueryDef.sql(blockRecall, blockRecallSql,
      "measured blocking recall of the IVF-cell near-dup blocking vs exact " +
        "ground truth on a deterministic probe sample"),
    "dedup_semantic" -> QueryDef.sql(semantic, semanticSql,
      "SemDeDup: connected components over the cosine near-dup graph, " +
        "min-id keeper per semantic cluster; oracle = recursive-CTE closure"))
}
