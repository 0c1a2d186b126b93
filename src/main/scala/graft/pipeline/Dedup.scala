package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Pipelines, QueryDef, Tables}
import graft.pipeline.Export.{md5Long, md5LongSql}

/** Deduplication operators for the large-scale training-data pipeline.
  *
  * Design for 100 TB:
  *  - exact dedup is a hash-groupBy on a digest — one shuffle on md5(text),
  *    never on the raw text bytes;
  *  - near-dup via shingling uses an inverted-index equi-join (shingle →
  *    postings) with a postings-list frequency cap to bound the pair
  *    blow-up on stop-shingles — the standard scalable formulation;
  *    shingle identity is a 60-bit md5 prefix so the postings/
  *    intersection shuffles move 8-byte keys, never gram text. The
  *    cap drops hot shingles from the similarity estimate (slight
  *    underestimate); the dropped-shingle count is logged, never silent;
  *  - MinHash LSH shuffles once on the band key; signature hashes are
  *    md5-based so they are engine-portable and deterministic (no RNG).
  *    The exact-Jaccard verify stage touches ONLY shingles of candidate
  *    docs (semi-join) — the LSH prefilter actually gates the quadratic
  *    work, which is the whole point of LSH at scale;
  *  - SimHash packs a 60-bit fingerprint and finds near-dups by the
  *    banded-Hamming pigeonhole: hamming ≤ 3 ⇒ at least one of 4 15-bit
  *    bands equal, so candidates come from 4 equi-joins, verified by
  *    bit_count(xor) — no cross join anywhere.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Exact dedup: digest-groupBy keeping the smallest doc_id per text. */
  private def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("h", md5(col("text")))
      .groupBy("h")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("copies"))
      .orderBy("h")

  private val exactSql =
    """SELECT md5(text) AS h, MIN(doc_id) AS keeper, COUNT(*) AS copies
      |FROM documents GROUP BY 1 ORDER BY h""".stripMargin

  /** Word 3-gram shingles, DISTINCT per doc. `sh` is the shingle's
    * 60-bit [[Export.md5Long]] hash, not the text: the string (~20 B)
    * exists only inside the map stage and an 8-byte key is what moves
    * through the distinct/postings/intersection shuffles. MinHash's
    * 28-bit slot hash and SimHash's 60-bit fingerprint seed are both
    * md5 PREFIXES of the shingle, so they fall out of `sh` by bit
    * arithmetic (`sh >> 32` and `sh` itself) — every downstream value
    * is bit-identical to hashing the string directly.
    */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"dedup.shingles:$dir") {
    val tok = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("ws", filter(col("ws"), w => w =!= ""))
      .withColumn("n", size(col("ws")))
      .filter(col("n") >= 3)
    tok.select(col("doc_id"),
        explode(expr("transform(sequence(0, n-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("g"))
      .select(col("doc_id"), md5Long(col("g")).as("sh"))
      .distinct()
    }

  /** Shared CTE producing the same distinct hashed shingles in DuckDB. */
  private val shinglesCte =
    s"""ws AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents
      |),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    ${md5LongSql("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")} AS sh
      |  FROM ws, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
      |  WHERE len(ws) >= 3)""".stripMargin

  /** Postings cap: shingles appearing in more than this many docs are
    * excluded from intersection counting (stop-shingles). */
  private val PostingsCap = 200

  /** Capped shingle index, computed once per session: both the Jaccard
    * and the MinHash verify stages consume it, and the dropped-count
    * logging action would otherwise re-run the postings aggregation per
    * caller.
    */
  private def rareShingles(s: SparkSession, dir: String, sh: DataFrame): DataFrame = {
    // the postings cache only serves the dropped-count action plus the
    // join inside ONE build; once the outer cachedDF has materialized
    // (eager count) it is dead weight — release it after the build
    var postings: DataFrame = null
    val out = Pipelines.cachedDF(s, s"dedup.rareShingles:$dir") {
      postings = sh.groupBy("sh").agg(count(lit(1)).as("pf")).cache()
      val dropped = postings.filter(col("pf") > PostingsCap).count()
      // silent-cap rule: surface what the cap removed
      System.err.println(s"[dedup] postings cap $PostingsCap dropped $dropped stop-shingles")
      sh.join(postings.filter(col("pf") <= PostingsCap), "sh")
    }
    if (postings != null) postings.unpersist()
    out
  }

  /** Shared intersection stage: (a, b, inter, sza, szb) for every doc
    * pair sharing ≥ 1 capped shingle — computed once per session; both
    * the jaccard report (≥ 0.1) and the canonicalization edges (≥ 0.5)
    * are filters over it.
    */
  private def pairOverlap(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"dedup.pairOverlap:$dir") {
      val sh = shingles(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val rare = rareShingles(s, dir, sh)
      val a = rare.select(col("sh"), col("doc_id").as("a"))
      val b = rare.select(col("sh"), col("doc_id").as("b"))
      a.join(b, "sh").filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
    }

  /** N-gram Jaccard near-dup: candidate pairs share ≥1 capped shingle;
    * jaccard = |∩|/|∪| from exact integer set sizes; pairs with
    * (unrounded) jaccard ≥ 0.1 reported — the filter and the oracle use
    * the identical unrounded predicate, rounding applies to output only.
    */
  private def jaccard(s: SparkSession, dir: String): DataFrame =
    pairOverlap(s, dir)
      .withColumn("jacRaw", col("inter") / (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jacRaw") >= 0.1)
      .withColumn("jac", graft.util.Rnd.jround(col("jacRaw"), 6))
      .select("a", "b", "inter", "jac")
      .orderBy("a", "b")

  private val jaccardSql =
    s"""WITH $shinglesCte,
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |pf AS (SELECT sh AS shingle, COUNT(*) AS pf FROM sh GROUP BY 1),
      |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN pf ON s.sh = pf.shingle WHERE pf.pf <= $PostingsCap),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |  FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT i.a, i.b, i.inter,
      |  FLOOR(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jac
      |FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
      |WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= 0.1
      |ORDER BY a, b""".stripMargin

  /** MinHash band count and rows-per-band: 32 hashes → 8 bands × 4 rows
    * (candidate threshold ≈ (1/8)^(1/4) ≈ 0.59 jaccard). */
  private[graft] val NumHashes = 32
  private[graft] val RowsPerBand = 4

  /** Parametric minhash over a 28-bit base hash: the top 28 bits of
    * the shingle hash (≡ the md5 prefix truncated to 7 hex chars — one
    * md5 per shingle, computed map-side), then NumHashes affine permutations
    * h_i = (a_i·h + b_i) mod p with p = 2³¹−1 — pure codegen'd integer
    * arithmetic, engine-portable, no RNG. a_i·h ≤ 2³¹·2²⁸ < 2⁶³: no
    * overflow. Constants are fixed (Knuth multiplicative mixes of i).
    */
  private[graft] val MinhashP = 2147483647L // 2^31 − 1, prime
  private[graft] def permA(i: Int): Long = ((i * 2654435761L) % (MinhashP - 1)) + 1
  private[graft] def permB(i: Int): Long = (i * 40503L * 65537L) % MinhashP

  /** Driver/executor-side twins of the SQL signature pipeline — the
    * streaming near-dup operator computes per-record what the batch
    * plan computes in codegen'd expressions, and
    * StreamingNearDupSpec asserts the two stay bit-identical.
    */
  private[graft] def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Distinct word 3-gram shingles (the batch `shingles` semantics). */
  private[graft] def shinglesLocal(text: String): Seq[String] = {
    val ws = text.split(" ").filter(_.nonEmpty)
    if (ws.length < 3) Seq.empty
    else ws.sliding(3).map(_.mkString(" ")).toSeq.distinct
  }

  /** MinHash signature: min over shingles of the affine-permuted 28-bit
    * base hash — ≡ the batch plan's 32 min-aggregates.
    */
  private[graft] def sigLocal(shingles: Seq[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    shingles.foreach { sh =>
      val hv = java.lang.Long.parseLong(md5Hex(sh).substring(0, 7), 16)
      var i = 0
      while (i < NumHashes) {
        val v = (permA(i) * hv + permB(i)) % MinhashP
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** Band keys: md5 over the '|'-joined decimal slot values — ≡ the
    * batch plan's bandkey expression.
    */
  private[graft] def bandKeysLocal(sig: Array[Long]): Seq[(Int, String)] =
    (0 until NumHashes / RowsPerBand).map { b =>
      b -> md5Hex(sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand).mkString("|"))
    }

  /** MinHash signatures via per-(doc, slot) MIN of the permuted base
    * hash — map-side combinable longs, so the shuffle carries ≤
    * NumHashes rows per (doc × partition) and the min is a numeric
    * comparison, not a 32-char string compare. Candidates share a band
    * key; the exact-jaccard verify semi-joins the shingle index down to
    * candidate docs first, so the quadratic intersection work is gated
    * by the LSH prefilter. The candidate-pair count is logged.
    */
  private def minhashLsh(s: SparkSession, dir: String): DataFrame =
    // keyed session cache (the j1 precedent): the candidate count and
    // the ad-hoc band cache/unpersist inside the build make re-run plans
    // non-reusable — without the key every re-run re-ran the signature
    // aggregation, banding self-join and verify stage
    Pipelines.cachedDF(s, s"dedup.minhash:$dir") { minhashLshBody(s, dir) }
      .orderBy("a", "b")

  private def minhashLshBody(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    // one min-aggregate per hash slot instead of a 32× posexplode: the
    // per-doc signature falls out of a single groupBy(doc_id) whose
    // map-side partials are 32 longs — no row multiplication, one shuffle
    val minCols = (0 until NumHashes).map(i =>
      min(expr(s"(${permA(i)}L * hv + ${permB(i)}L) % ${MinhashP}L")).as(s"m$i"))
    // slot hash = the top 28 bits of the 60-bit shingle hash — exactly
    // the first-7-hex-chars md5 prefix the signature always used
    val sigs = sh
      .withColumn("hv", expr("shiftright(sh, 32)"))
      .groupBy("doc_id")
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
    // cache before the self-join: both join sides branch from `bands`,
    // and an uncached branch re-runs the whole 32-min signature
    // aggregation per side (the concurrent-subtree recompute rule)
    val bands = sigs
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${NumHashes / RowsPerBand - 1}), " +
            s"b -> md5(concat_ws('|', transform(slice(sig, b * $RowsPerBand + 1, $RowsPerBand), x -> cast(x as string)))))"))
          .as(Seq("band", "bandkey")))
      .cache()
    val l = bands.select(col("band"), col("bandkey"), col("doc_id").as("a"))
    val r = bands.select(col("band"), col("bandkey"), col("doc_id").as("b"))
    val cand = l.join(r, Seq("band", "bandkey")).filter(col("a") < col("b"))
      .select("a", "b").distinct().cache()
    System.err.println(s"[dedup] minhash LSH candidate pairs: ${cand.count()}")
    bands.unpersist() // cand is materialized; the band table is spent

    // verify: exact jaccard over capped shingles of CANDIDATE docs only
    val candIds = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    val rsh = rareShingles(s, dir, sh).join(candIds, "doc_id")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val x = rsh.select(col("sh"), col("doc_id").as("a"))
    val y = rsh.select(col("sh"), col("doc_id").as("b"))
    val inter = x.join(y, "sh").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    cand.join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jac", graft.util.Rnd.jround(col("inter") / (col("sza") + col("szb") - col("inter")).cast("double"), 6))
      .select("a", "b", "jac")
  }

  private val minhashSql = {
    val permCases = (0 until NumHashes)
      .map(i => s"WHEN ${i} THEN (${permA(i)} * hv + ${permB(i)}) % $MinhashP")
      .mkString("\n      ")
    s"""WITH $shinglesCte,
      |base AS (
      |  SELECT doc_id, sh >> 32 AS hv FROM sh
      |),
      |hashed AS (
      |  SELECT doc_id, hi,
      |    MIN(CASE hi
      |      $permCases
      |    END) AS sig
      |  FROM base, UNNEST(generate_series(0, ${NumHashes - 1})) AS h(hi)
      |  GROUP BY 1, 2
      |),
      |bands AS (
      |  SELECT doc_id, hi//$RowsPerBand AS band,
      |    md5(string_agg(CAST(sig AS VARCHAR), '|' ORDER BY hi)) AS bandkey
      |  FROM hashed GROUP BY 1, 2
      |),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      |  FROM bands l JOIN bands r ON l.band = r.band AND l.bandkey = r.bandkey
      |  WHERE l.doc_id < r.doc_id
      |),
      |cand_ids AS (SELECT a AS doc_id FROM cand UNION SELECT b FROM cand),
      |pf AS (SELECT sh AS shingle, COUNT(*) AS pf FROM sh GROUP BY 1),
      |rsh AS (
      |  SELECT s.doc_id, s.sh FROM sh s
      |  JOIN pf ON s.sh = pf.shingle
      |  JOIN cand_ids c ON s.doc_id = c.doc_id
      |  WHERE pf.pf <= $PostingsCap
      |),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |  FROM rsh x JOIN rsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT c.a AS a, c.b AS b,
      |  FLOOR(COALESCE(i.inter, 0) / CAST(sa.sz + sb.sz - COALESCE(i.inter, 0) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jac
      |FROM cand c
      |LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
      |JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id
      |ORDER BY c.a, c.b""".stripMargin
  }

  /** SimHash bits (60 = 15 hex chars of md5, always a positive BIGINT). */
  private val SimBits = 60
  private val SimBands = 4
  private val SimBandBits = 15
  private val MaxHamming = 3

  /** Per-doc 60-bit SimHash fingerprint: bit b = majority over distinct
    * shingles of bit b of md5(shingle). One groupBy(doc_id) with 60
    * codegen'd conditional sums — no row explosion.
    */
  private def simhashFp(s: SparkSession, dir: String): DataFrame = {
    // the 60-bit shingle hash IS the fingerprint seed
    val sh = shingles(s, dir).withColumn("hv", col("sh"))
    val bitSums = (0 until SimBits).map { b =>
      sum(when(expr(s"(hv div ${1L << b}) % 2") === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val fpExpr = (0 until SimBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    sh.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .withColumn("fp", fpExpr)
      .select("doc_id", "fp")
  }

  private def simhashFpCte: String = {
    val sums = (0 until SimBits).map { b =>
      s"SUM(CASE WHEN (hv // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n    ")
    val fp = (0 until SimBits).map(b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""shh AS (
       |  SELECT doc_id, sh AS hv FROM sh
       |), bitsums AS (
       |  SELECT doc_id,
       |    $sums
       |  FROM shh GROUP BY doc_id
       |), fps AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM bitsums
       |)""".stripMargin
  }

  /** SimHash near-dup pairs: banded-Hamming candidates (pigeonhole over
    * 4 × 15-bit bands), verified by exact bit_count(xor) ≤ 3.
    */
  private def simhash(s: SparkSession, dir: String): DataFrame = {
    val fps = simhashFp(s, dir).cache()
    val bandMask = (1L << SimBandBits) - 1
    val banded = fps.select(col("doc_id"), col("fp"),
      explode(expr(
        s"transform(sequence(0, ${SimBands - 1}), b -> struct(b as band, (fp div shiftleft(1L, b * $SimBandBits)) % ${bandMask + 1} as key))"))
        .as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.band"), col("bk.key"))
    val l = banded.select(col("band"), col("key"), col("doc_id").as("a"), col("fp").as("fpa"))
    val r = banded.select(col("band"), col("key"), col("doc_id").as("b"), col("fp").as("fpb"))
    l.join(r, Seq("band", "key")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("fpa"), col("fpb")).distinct()
      .withColumn("ham", expr("bit_count(fpa ^ fpb)"))
      .filter(col("ham") <= MaxHamming)
      .select(col("a"), col("b"), col("ham").cast("long").as("ham"))
      .orderBy("a", "b")
  }

  private def simhashSql =
    s"""WITH $shinglesCte,
       |${simhashFpCte},
       |banded AS (
       |  SELECT doc_id, fp, b.band AS band,
       |    (fp // (CAST(1 AS BIGINT) << CAST(b.band * $SimBandBits AS INTEGER))) % ${(1L << SimBandBits)} AS key
       |  FROM fps, (SELECT UNNEST(RANGE($SimBands)) AS band) b
       |),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.fp AS fpa, r.fp AS fpb
       |  FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key
       |  WHERE l.doc_id < r.doc_id
       |)
       |SELECT a, b, CAST(bit_count(xor(fpa, fpb)) AS BIGINT) AS ham
       |FROM cand WHERE bit_count(xor(fpa, fpb)) <= $MaxHamming
       |ORDER BY a, b""".stripMargin

  /** Near-dup jaccard threshold for canonicalization edges — higher
    * than the 0.1 reporting floor: clusters should only merge docs
    * that are actually near-copies. */
  private val CompJac = 0.5

  /** Connected-component labels (vertex → min vertex id of its
    * component) by the alternating LARGE-STAR / SMALL-STAR algorithm
    * (public algorithm: Kiveris et al., "Connected Components in
    * MapReduce and Beyond", ACM SoCC 2014; also the shape GraphFrames
    * ships). Replaces min-label propagation (r4): propagation needs
    * O(component diameter) rounds — a diameter-60 duplicate chain
    * would trip the round cap — while star-contraction converges in
    * O(log n) rounds on ANY graph.
    *
    * Per round (each a keyed shuffle + distinct, lineage truncated by
    * localCheckpoint):
    *  - large-star: every node links its strictly-LARGER neighbors to
    *    m = min(Γ⁺) — long tails fold toward minima;
    *  - small-star: every node links its ≤-neighbors (and itself) to
    *    m — stars flatten.
    * Fixed point = disjoint stars centered at component minima; the
    * round count is logged and convergence is REQUIRED (the cap only
    * guards an infinite loop on a logic bug). Gated by
    * DedupComponentsSpec (≡ driver union-find on random graphs; a
    * 300-node path converges in ≪ diameter rounds) and the recursive-
    * CTE transitive-closure oracle of `dedup_components`.
    *
    * @param vertices one column `doc_id` (isolated vertices label
    *                 themselves)
    * @param edges0   columns (a, b); direction/duplicates/self-loops ok
    * @return (doc_id, comp)
    */
  private[pipeline] def ccLabels(vertices: DataFrame, edges0: DataFrame): DataFrame = {
    // Fixed-point detector: the star rounds keep edge sets DISTINCT, so
    // set equality is checked by an order-independent signature —
    // (count, sum of 64-bit edge hashes, xor of edge hashes) — one
    // map-side-combined aggregate per round instead of the two O(E)
    // exceptAll shuffles a literal set-diff would cost. A collision
    // would need two distinct edge sets agreeing on all three, ~2^-128.
    // (hash sum is decimal(38,0): ANSI mode throws on long-sum overflow,
    // and a sum of 64-bit hashes overflows a long almost immediately)
    def edgeSig(df: DataFrame): (Long, BigDecimal, Long) = {
      val h = xxhash64(col("u"), col("v"))
      val r = df.agg(
        count(lit(1)),
        coalesce(sum(h.cast("decimal(38,0)")), lit(BigDecimal(0))),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)), r.getLong(2))
    }
    var e = edges0.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint(true)
    var prevSig = edgeSig(e)
    var iters = 0
    var converged = false
    while (!converged && iters < 50) {
      // large-star
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .unionAll(e.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val e1 = sym.filter(col("y") > col("x")).join(mins, "x")
        .filter(col("y") =!= col("m"))
        .select(col("m").as("u"), col("y").as("v"))
        .distinct().localCheckpoint(true)
      // small-star
      val sym1 = e1.select(col("u").as("x"), col("v").as("y"))
        .unionAll(e1.select(col("v").as("x"), col("u").as("y")))
      val mins1 = sym1.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val e2 = sym1.filter(col("y") <= col("x")).join(mins1, "x")
        .filter(col("y") =!= col("m"))
        .select(col("m").as("u"), col("y").as("v"))
        .unionAll(mins1.filter(col("x") =!= col("m"))
          .select(col("m").as("u"), col("x").as("v")))
        .distinct().localCheckpoint(true)
      // fixed point: the round was an identity transform of the edge set
      val sig2 = edgeSig(e2)
      converged = sig2 == prevSig
      prevSig = sig2
      e = e2
      iters += 1
    }
    require(converged,
      s"connected components did not reach a fixed point within $iters star rounds")
    System.err.println(s"[dedup] components converged in $iters star rounds")
    // final stars: (m, y) — y's label is m; centers / isolated label
    // themselves (min-agg is defensive: at the fixed point each leaf
    // has exactly one center)
    val labels = e.groupBy(col("v").as("doc_id")).agg(min(col("u")).as("lbl"))
    vertices.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("comp"))
  }

  /** Canonicalization — the step after candidate pairs in every real
    * dedup pipeline: connected components over the duplicate graph
    * (exact-digest pairs ∪ capped-shingle pairs with jaccard ≥ 0.5),
    * component id = min doc_id, keeper = the canonical doc. Emits one
    * row per document (singletons keep themselves). CC via
    * [[ccLabels]] (large-star/small-star, O(log n) rounds).
    */
  private def components(s: SparkSession, dir: String): DataFrame =
    // keyed session cache (the knnEdges precedent), not just tracked():
    // ccLabels checkpoints each star round, so two runs' plans never
    // canonicalize equal and the persist is unreachable on re-run —
    // every re-run re-ran all O(log n) rounds
    Pipelines.cachedDF(s, s"dedup.cc:$dir") {
      val d = docs(s, dir)
      val exactPairs = {
        val h = d.select(col("doc_id"), md5(col("text")).as("h"))
        h.select(col("h"), col("doc_id").as("a"))
          .join(h.select(col("h"), col("doc_id").as("b")), "h")
          .filter(col("a") < col("b")).select("a", "b")
      }
      val nearPairs = pairOverlap(s, dir)
        .filter(col("inter") / (col("sza") + col("szb") - col("inter")).cast("double") >= CompJac)
        .select("a", "b")
      val edges = Pipelines.tracked(s, exactPairs.unionByName(nearPairs).distinct())
      ccLabels(d.select("doc_id"), edges)
        .withColumn("keeper", when(col("comp") === col("doc_id"), 1L).otherwise(0L))
        .orderBy("doc_id")
    }

  /** Oracle: transitive closure by recursive CTE (min reachable id =
    * the component id) over the SAME edge set — exact-digest pairs ∪
    * capped-shingle jaccard ≥ 0.5, symmetric-closed, self-loops for
    * totality. Pair blow-up is bounded: clusters are near-copies.
    */
  private val componentsCtes =
    s"""$shinglesCte,
      |pf AS (SELECT sh AS shingle, COUNT(*) AS pf FROM sh GROUP BY 1),
      |rare AS (
      |  SELECT s.doc_id, s.sh FROM sh s JOIN pf ON s.sh = pf.shingle
      |  WHERE pf.pf <= $PostingsCap),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      |np AS (
      |  SELECT i.a, i.b FROM (
      |    SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
      |    FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |    GROUP BY 1, 2) i
      |  JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
      |  WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= $CompJac),
      |ep AS (
      |  SELECT d1.doc_id AS a, d2.doc_id AS b FROM documents d1
      |  JOIN documents d2 ON md5(d1.text) = md5(d2.text) AND d1.doc_id < d2.doc_id),
      |edges AS (
      |  SELECT a, b FROM np UNION SELECT a, b FROM ep
      |  UNION SELECT b, a FROM np UNION SELECT b, a FROM ep),
      |reach(v, u) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.v, e.b FROM reach r JOIN edges e ON r.u = e.a)""".stripMargin

  private val componentsSql =
    s"""WITH RECURSIVE $componentsCtes
      |SELECT v AS doc_id, MIN(u) AS comp,
      |  CAST(CASE WHEN MIN(u) = v THEN 1 ELSE 0 END AS BIGINT) AS keeper
      |FROM reach GROUP BY v ORDER BY doc_id""".stripMargin

  // ---- leakage-safe group holdout split --------------------------------

  /** Leakage-safe train/val/test split: near/exact duplicates must
    * never straddle splits, or held-out loss is contaminated by
    * training copies. The split is a pure md5 hash of the COMPONENT id
    * from [[components]]' duplicate-graph CC, so every member of a
    * duplicate cluster lands in the same split BY CONSTRUCTION —
    * deterministic, coordination-free, and stable under re-runs at any
    * scale (adding documents only moves the clusters they join).
    * 80/10/10 by bucket; the engine-portable [[Export.md5Int]] hash.
    */
  private def groupHoldout(s: SparkSession, dir: String): DataFrame = {
    val bucket = Export.md5Int(col("comp").cast("string")) % 100L
    components(s, dir)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select("doc_id", "comp", "split")
      .orderBy("doc_id")
  }

  private val groupHoldoutSql =
    s"""WITH RECURSIVE $componentsCtes,
      |comp AS (SELECT v AS doc_id, MIN(u) AS comp FROM reach GROUP BY v)
      |SELECT doc_id, comp,
      |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id, comp,
      |        ${Export.md5IntSql("CAST(comp AS VARCHAR)")} % 100 AS b FROM comp) q
      |ORDER BY doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "dedup_exact" -> QueryDef.sql(exact, exactSql),
    "dedup_ngram_jaccard" -> QueryDef.sql(jaccard, jaccardSql),
    "dedup_minhash_lsh" -> QueryDef.sql(minhashLsh, minhashSql),
    "dedup_simhash" -> QueryDef.sql(simhash, simhashSql),
    "dedup_components" -> QueryDef.sql(components, componentsSql,
      "duplicate-cluster canonicalization: connected components over " +
        "exact + jaccard>=0.5 edges, min-id keeper; oracle = recursive-" +
        "CTE transitive closure"),
    "split_group_holdout" -> QueryDef.sql(groupHoldout, groupHoldoutSql,
      "leakage-safe train/val/test split: 80/10/10 by md5 of the " +
        "duplicate-cluster component id, so near/exact duplicates can " +
        "never straddle splits"))
}
