package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Pipelines, QueryDef, Rnd, Tables}

/** Corpus-curation operators for the large-scale training-data
  * pipeline, beyond per-document filtering: benchmark decontamination,
  * duplicated-span coverage, and deterministic stratified sampling.
  * These are the steps a 100 TB pre-training corpus goes through after
  * dedup ([[Dedup]]) and quality scoring ([[TextOps]]).
  *
  * Design for 100 TB:
  *  - decontamination is an inverted-index equi-join on the n-gram —
  *    the eval-set gram dictionary is corpus-derived (fact-proportional)
  *    so it is NEVER broadcast by hint; Spark's planner may still
  *    broadcast it when it fits under the auto threshold, which is the
  *    right call either way;
  *  - duplicated-span coverage reuses the same gram stream; the only
  *    wide stages are one groupBy on the gram and one distinct on
  *    (doc, position) — both partial-aggregated map-side;
  *  - stratified sampling is a PREDICATE, not a sort: a document is
  *    kept iff an md5-derived bucket falls under its stratum's rate, so
  *    there is no per-stratum global sort or window — the scalable
  *    alternative to quota-by-rank sampling, and deterministic across
  *    engines (md5 is bit-portable, unlike engine hash functions).
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Word n-gram length shared by decontamination and span coverage —
    * 8 words, the scale community's usual contamination gram size
    * (long enough that collisions imply copying, short enough to
    * survive small edits).
    */
  private[graft] val GramN = 8

  /** (doc_id, i, gh): every word 8-gram's 60-bit [[Export.md5Long]]
    * hash with its 0-based start position; NOT distinct (span coverage
    * needs positions). Computed once per session — decontamination and
    * span coverage share it.
    *
    * The gram IDENTITY is the hash, not the string: the gram text
    * (~50 B of UTF-8 for 8 words) exists only inside the map stage and
    * an 8-byte key is what shuffles through the downstream
    * groupBy/joins — at corpus scale that is the difference between
    * shuffling the corpus ×8 and shuffling ~1/6 of it. Hash-gram
    * equality is the standard contamination/dup-span formulation; at
    * 60 bits, 10^12 corpus grams produce ~10^5 random collisions —
    * immaterial for screening counts (and the DuckDB oracle applies
    * the identical hash, so the gate is exact).
    */
  private def grams(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"curation.grams:$dir")(gramsOf(docs(s, dir)))

  private[graft] def gramsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .withColumn("n", size(col("ws")))
      .filter(col("n") >= GramN)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, n - $GramN), i -> array_join(slice(ws, i + 1, $GramN), ' '))")))
      .select(col("doc_id"), col("pos").as("i"), Export.md5Long(col("col")).as("gh"))

  /** Driver/executor-local 8-gram expansion, bit-identical to
    * [[gramsOf]] (split on single space, drop empty tokens, join with
    * single space, [[Export.md5LongLocal]] hash) — the per-record path
    * the streaming decontamination twin uses.
    */
  private[graft] def gramsLocal(text: String): Seq[Long] = {
    val ws = text.split(" ", -1).filter(_.nonEmpty)
    if (ws.length < GramN) Seq.empty
    else (0 to ws.length - GramN)
      .map(i => Export.md5LongLocal(ws.slice(i, i + GramN).mkString(" "))).distinct
  }

  /** Shared DuckDB CTE: same hashed grams, 1-based start positions
    * (only relative positions matter — coverage counts are
    * shift-invariant).
    */
  private val gramsCte =
    s"""ws AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents
      |),
      |g AS (
      |  SELECT doc_id, i,
      |    ${Export.md5LongSql(s"array_to_string(ws[i:i+${GramN - 1}], ' ')")} AS gh
      |  FROM ws, UNNEST(generate_series(1, len(ws) - ${GramN - 1})) AS t(i)
      |  WHERE len(ws) >= $GramN)""".stripMargin

  /** Benchmark-decontamination split: every 97th doc plays the eval
    * benchmark; the rest are the training corpus to be screened.
    */
  private[graft] val EvalMod = 97

  /** Benchmark decontamination: for every training document, the
    * number of its distinct 8-grams that also occur in the eval set,
    * the contaminated fraction, and a flag (any shared 8-gram ⇒
    * contaminated — the standard strict rule). Training docs shorter
    * than 8 words carry n_grams = 0 and are clean by definition.
    */
  private def decon(s: SparkSession, dir: String): DataFrame =
    deconOf(docs(s, dir), grams(s, dir))

  /** Bloom prefilter for the train-vs-eval gram join: the eval gram
    * set is BENCHMARK-sized (bounded — eval suites are fixed), so a 1%
    * Bloom filter of it broadcasts in ~1.2 bytes/gram and screens the
    * fact-proportional training gram stream MAP-SIDE; only
    * bloom-positive grams (true hits + ~1% FPs) enter the exact join,
    * which removes the full train-gram shuffle against the eval side.
    * The exact join over the survivors makes the result identical to
    * the unfiltered join — the Bloom can only admit extras, never drop
    * a true hit, and the extras lose the exact equality check.
    */
  private def bloomCandidates(train: DataFrame, evalGrams: DataFrame): DataFrame = {
    val n = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("gh", n, 0.01)
    val bc = train.sparkSession.sparkContext.broadcast(bloom)
    val might = udf((gh: Long) => bc.value.mightContainLong(gh))
    train.filter(might(col("gh")))
  }

  private[graft] def deconOf(d: DataFrame, gramsDf: DataFrame): DataFrame = {
    val g = gramsDf.select("doc_id", "gh").distinct()
    val evalGrams = g.filter(col("doc_id") % EvalMod === 0).select("gh").distinct()
    val train = g.filter(col("doc_id") % EvalMod =!= 0)
    val tot = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hit = bloomCandidates(train, evalGrams).join(evalGrams, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
    d.filter(col("doc_id") % EvalMod =!= 0).select("doc_id")
      .join(tot, Seq("doc_id"), "left").join(hit, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("hit_grams"), lit(0L)).as("hit_grams"))
      .withColumn("overlap_frac",
        Rnd.jround(col("hit_grams") / greatest(col("n_grams"), lit(1L)).cast("double"), 6))
      .withColumn("contaminated", when(col("hit_grams") > 0, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  private val deconSql =
    s"""WITH $gramsCte,
      |gd AS (SELECT DISTINCT doc_id, gh FROM g),
      |ev AS (SELECT DISTINCT gh FROM gd WHERE doc_id % $EvalMod = 0),
      |tr AS (SELECT * FROM gd WHERE doc_id % $EvalMod <> 0),
      |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY 1),
      |hit AS (SELECT tr.doc_id, COUNT(*) AS hit_grams FROM tr JOIN ev ON tr.gh = ev.gh GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(t.n_grams, 0) AS n_grams,
      |  COALESCE(h.hit_grams, 0) AS hit_grams,
      |  ${Rnd.jroundSql(s"COALESCE(h.hit_grams, 0) / CAST(GREATEST(COALESCE(t.n_grams, 0), 1) AS DOUBLE)", 6)} AS overlap_frac,
      |  CAST(CASE WHEN COALESCE(h.hit_grams, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      |FROM documents d
      |LEFT JOIN tot t USING (doc_id) LEFT JOIN hit h USING (doc_id)
      |WHERE d.doc_id % $EvalMod <> 0
      |ORDER BY d.doc_id""".stripMargin

  /** Duplicated-span coverage (the Gopher/RefinedWeb "fraction of the
    * document inside a duplicated passage" signal): an 8-gram occurring
    * in more than one document marks its 8 token positions as
    * duplicated; dup_frac = |union of marked positions| / n_tokens.
    * Doc-level dedup ([[Dedup]]) finds near-copies; this finds the
    * boilerplate WITHIN otherwise-unique documents.
    */
  private def dupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpansOf(docs(s, dir), grams(s, dir), Some(dupStartsCached(s, dir)))

  /** Session-shared dup-gram start positions: coverage (measure),
    * removal (act) and the export manifest all fold over the SAME
    * per-doc start arrays — un-cached, each of the three re-ran the
    * dup-gram join + collect_set per call.
    */
  private def dupStartsCached(s: SparkSession, dir: String): DataFrame =
    Pipelines.cachedDF(s, s"curation.dupstarts:$dir")(dupStarts(grams(s, dir)))

  /** Per-doc SORTED dup-gram start positions — the one definition of
    * "duplicated span" that coverage (measure) and removal (act) both
    * derive from, so the documented `removed ≡ covered` identity cannot
    * drift: a gram is duplicated iff it occurs in > 1 distinct document,
    * and a doc's spans are the union of [start, start+7] over its
    * dup-gram starts. The start set is bounded by the doc's own token
    * count (collect_set, never an 8× position explode).
    */
  private[pipeline] def dupStarts(gramsDf: DataFrame): DataFrame = {
    val dupG = gramsDf.groupBy("gh").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1).select("gh")
    gramsDf.join(dupG, "gh")
      .groupBy("doc_id").agg(sort_array(collect_set(col("i"))).as("starts"))
  }

  /** Shared DuckDB fragment for the same definition: dup grams and the
    * literal position-union `cov` (the oracle keeps the naive
    * formulation that the Spark side's algebraic forms are hash-checked
    * against).
    */
  private val dupCovCtes =
    s"""dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
      |cov AS (
      |  SELECT DISTINCT g.doc_id, p.p
      |  FROM g JOIN dup USING (gh), UNNEST(generate_series(g.i, g.i + ${GramN - 1})) AS p(p))""".stripMargin

  /** |union of [i, i+$GramN−1]| over a SORTED `starts` array = Σ min(
    * $GramN, gap to previous start): the interval-union fold that
    * replaces an explode of $GramN positions per gram + distinct (8×
    * less shuffle volume, one wide stage fewer). Requires the input
    * column to be named `starts`, sorted ascending, duplicate-free.
    * Gated against the naive position-union definition by the DuckDB
    * oracle (one corpus) AND CurationPropsSpec (randomized start sets).
    */
  private[pipeline] val coveredExpr = expr(
    s"""aggregate(starts,
       |  named_struct('prev', CAST(-$GramN AS INT), 'cov', CAST(0 AS BIGINT)),
       |  (acc, x) -> named_struct('prev', x,
       |                           'cov', acc.cov + least(x - acc.prev, $GramN)),
       |  acc -> acc.cov)""".stripMargin)

  private[pipeline] def dupSpansOf(d: DataFrame, gramsDf: DataFrame,
      starts: Option[DataFrame] = None): DataFrame = {
    val covered = starts.getOrElse(dupStarts(gramsDf))
      .select(col("doc_id"), coveredExpr.as("covered"))
    d.select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), coalesce(col("covered"), lit(0L)).as("covered"))
      .withColumn("dup_frac",
        Rnd.jround(col("covered") / greatest(col("n_tokens"), lit(1L)).cast("double"), 6))
      .orderBy("doc_id")
  }

  private val dupSpansSql =
    s"""WITH $gramsCte,
      |$dupCovCtes,
      |ncov AS (SELECT doc_id, COUNT(*) AS covered FROM cov GROUP BY 1),
      |n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM ws)
      |SELECT n.doc_id, n.n_tokens, COALESCE(c.covered, 0) AS covered,
      |  ${Rnd.jroundSql("COALESCE(c.covered, 0) / CAST(GREATEST(n.n_tokens, 1) AS DOUBLE)", 6)} AS dup_frac
      |FROM n LEFT JOIN ncov c USING (doc_id)
      |ORDER BY n.doc_id""".stripMargin

  /** Duplicated-span REMOVAL (the act to [[dupSpans]]' measure; the
    * Lee-et-al./C4 "excise duplicated passages" rewrite): every token
    * position inside a cross-document duplicated 8-gram is dropped and
    * the survivors are rejoined, yielding the cleaned text (fingerprint)
    * plus removed-token accounting. By construction `removed` equals
    * [[dupSpans]]' `covered` (both derive from [[dupStarts]]) —
    * CurationSpec asserts that identity doc-for-doc.
    *
    * Scale shape: the dup-gram start positions arrive as ONE array per
    * document (the shared bounded [[dupStarts]]), and the excision
    * itself is a row-local higher-order `filter` — a map-only
    * pass with NO token-level shuffle, unlike an explode + anti-join +
    * reassemble formulation that would shuffle the corpus's every token
    * twice. The per-row cost is O(n_tokens · n_dup_starts) int
    * compares, bounded by the document's own length — for pathological
    * single-doc blowups the fallback is chunking the doc upstream, not
    * a different plan.
    */
  private def spanRemoval(s: SparkSession, dir: String): DataFrame =
    spanRemovalOf(docs(s, dir), grams(s, dir), Some(dupStartsCached(s, dir)))

  private[pipeline] def spanRemovalOf(d: DataFrame, gramsDf: DataFrame,
      starts: Option[DataFrame] = None): DataFrame =
    d.select(col("doc_id"), filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .join(starts.getOrElse(dupStarts(gramsDf)), Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept",
        expr(s"filter(ws, (w, i) -> NOT exists(starts, x -> x <= i AND i < x + $GramN))"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("removed"),
        md5(array_join(col("kept"), " ")).as("clean_fp"))
      .orderBy("doc_id")

  /** Shared DuckDB fragment: surviving tokens rejoined per doc
    * (requires `$gramsCte` + `$dupCovCtes` in scope).
    */
  private val spanCleanCtes =
    s"""tok AS (
      |  SELECT ws.doc_id, t.i, ws.ws[t.i] AS w
      |  FROM ws, UNNEST(generate_series(1, len(ws.ws))) AS t(i)),
      |kept AS (
      |  SELECT tok.doc_id, COUNT(*) AS n_kept,
      |    string_agg(tok.w, ' ' ORDER BY tok.i) AS clean
      |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.p
      |  WHERE cov.p IS NULL GROUP BY tok.doc_id)""".stripMargin

  private val spanRemovalSql =
    s"""WITH $gramsCte,
      |$dupCovCtes,
      |$spanCleanCtes
      |SELECT ws.doc_id,
      |  CAST(len(ws.ws) AS BIGINT) AS n_tokens,
      |  CAST(len(ws.ws) - COALESCE(k.n_kept, 0) AS BIGINT) AS removed,
      |  md5(COALESCE(k.clean, '')) AS clean_fp
      |FROM ws LEFT JOIN kept k USING (doc_id)
      |ORDER BY ws.doc_id""".stripMargin

  /** Deterministic stratified (domain-rebalancing) sampling: equalize
    * languages toward the smallest stratum by keeping each document iff
    * its md5-bucket falls under the stratum rate
    * floor(1e6·target/n_stratum) ppm, target = min stratum size.
    * A pure per-row predicate — no per-stratum sort/window, so the plan
    * is a scan + one model-sized (|langs| rows) join at any corpus
    * size; md5 makes the sample identical in any engine.
    */
  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    sampleStratifiedOf(docs(s, dir))

  private[pipeline] def sampleStratifiedOf(d: DataFrame): DataFrame = {
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n"))
    val target = counts.agg(min(col("n")).as("target"))
    val rates = counts.crossJoin(target)
      .select(col("lang"), floor(lit(1e6) * col("target") / col("n")).cast("long").as("rate_ppm"))
    // rates is model-sized (one row per language) — broadcast by hint so
    // the fact scan is never the build side at any corpus size
    d.join(broadcast(rates), "lang")
      .withColumn("bucket", Export.md5Int(col("text")) % 1000000L)
      .filter(col("bucket") < col("rate_ppm"))
      .select("doc_id", "lang", "source", "rate_ppm", "bucket")
      .orderBy("doc_id")
  }

  private val sampleSql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT MIN(n) AS target FROM c),
      |r AS (SELECT c.lang, CAST(FLOOR(1e6 * t.target / c.n) AS BIGINT) AS rate_ppm FROM c, t)
      |SELECT d.doc_id, d.lang, d.source, r.rate_ppm,
      |  ${Export.md5IntSql("d.text")} % 1000000 AS bucket
      |FROM documents d JOIN r USING (lang)
      |WHERE ${Export.md5IntSql("d.text")} % 1000000 < r.rate_ppm
      |ORDER BY d.doc_id""".stripMargin

  /** The corpus funnel: the survival count after each curation stage
    * applied in pipeline order — the one-table report a data team
    * publishes with a training corpus. Stages (each over the previous
    * stage's survivors):
    *
    *  0 raw → 1 exact-dedup keepers (min doc_id per md5(text) group) →
    *  2 decontaminated (drop the eval split and any training doc
    *    sharing an 8-gram with it) → 3 quality (n ≥ 20 tokens and
    *    type-token ratio ≥ ½, as the INTEGER predicate 2·uniq ≥ n — no
    *    FP compare) → 4 stratified sample (md5-bucket rates computed on
    *    the stage-3 survivors' language counts).
    *
    * Every stage is a semi/anti-join of doc_id sets — document text is
    * touched only where a stage's own predicate needs it, and all
    * counts are exact integers.
    */
  private def funnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(docs(s, dir), grams(s, dir), Some(stageCache(s, dir)))

  /** Session-shared funnel-stage survivor frames: `curation_funnel` and
    * `curation_export` consume the SAME four stages (by design — one
    * definition), but un-cached each ran the whole dedup → bloom →
    * quality → sampling chain per call, and the bloom build makes the
    * plans non-canonicalizable across calls (fresh filter per run), so
    * no plain persist could ever be reached on a re-run.
    */
  private def stageCache(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    // one memo around the WHOLE four-stage build: funnelStages itself
    // runs driver actions (the eval-gram count + Bloom fit inside
    // bloomCandidates), so without it every consumer call — including
    // the SECOND cold consumer of the already-cached stages — re-ran
    // the bloom-fit jobs and rebuilt all four stage plans
    Pipelines.cachedObj(s, s"curation.stages:$dir") {
      val (s1, s2, s3, s4) = funnelStages(docs(s, dir), grams(s, dir))
      (Pipelines.cachedDF(s, s"curation.s1:$dir")(s1),
        Pipelines.cachedDF(s, s"curation.s2:$dir")(s2),
        Pipelines.cachedDF(s, s"curation.s3:$dir")(s3),
        Pipelines.cachedDF(s, s"curation.s4:$dir")(s4))
    }

  /** The four funnel-stage survivor sets (doc_id frames), factored so
    * the funnel report and the export manifest share ONE definition of
    * each stage.
    */
  private[pipeline] def funnelStages(d: DataFrame, g: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val s1 = d.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val evalG = g.filter(col("doc_id") % EvalMod === 0).select("gh").distinct()
    val hitDocs = bloomCandidates(g.filter(col("doc_id") % EvalMod =!= 0), evalG)
      .join(evalG, "gh").select("doc_id").distinct()
    val s2 = s1.filter(col("doc_id") % EvalMod =!= 0)
      .join(hitDocs, Seq("doc_id"), "left_anti")
    val qPass = d
      .select(col("doc_id"), filter(split(col("text"), " "), w => w =!= "").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).cast("long").as("uniq"))
      .filter(col("n") >= 20L && col("uniq") * 2L >= col("n"))
      .select("doc_id")
    val s3 = s2.join(qPass, "doc_id")
    val s3d = s3.join(d.select("doc_id", "lang", "text"), "doc_id")
    val counts = s3d.groupBy("lang").agg(count(lit(1)).as("n"))
    val rates = counts.crossJoin(counts.agg(min(col("n")).as("target")))
      .select(col("lang"), floor(lit(1e6) * col("target") / col("n")).cast("long").as("rate_ppm"))
    val s4 = s3d.join(broadcast(rates), "lang")
      .filter(Export.md5Int(col("text")) % 1000000L < col("rate_ppm"))
      .select("doc_id")
    (s1, s2, s3, s4)
  }

  private[pipeline] def funnelOf(d: DataFrame, g: DataFrame,
      cached: Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = None): DataFrame = {
    val (s1, s2, s3, s4) = cached.getOrElse(funnelStages(d, g))
    def stage(i: Long, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(i).as("stage"), lit(name).as("name"), col("n_docs"))
    stage(0L, "raw", d).unionByName(stage(1L, "dedup_keeper", s1))
      .unionByName(stage(2L, "decontaminated", s2))
      .unionByName(stage(3L, "quality", s3))
      .unionByName(stage(4L, "sampled", s4))
      .orderBy("stage")
  }

  /** Shared DuckDB fragment: the four funnel stages (requires
    * `$gramsCte` in scope).
    */
  private val funnelStagesCtes =
    s"""s1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % $EvalMod = 0),
      |hits AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gh) WHERE g.doc_id % $EvalMod <> 0),
      |s2 AS (SELECT doc_id FROM s1 WHERE doc_id % $EvalMod <> 0
      |       AND doc_id NOT IN (SELECT doc_id FROM hits)),
      |q AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n,
      |      CAST(len(list_distinct(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT) AS uniq
      |    FROM documents)
      |  WHERE n >= 20 AND uniq * 2 >= n),
      |s3 AS (SELECT doc_id FROM s2 JOIN q USING (doc_id)),
      |s3d AS (SELECT d.doc_id, d.lang, d.text FROM s3 JOIN documents d USING (doc_id)),
      |c AS (SELECT lang, COUNT(*) AS n FROM s3d GROUP BY 1),
      |r AS (SELECT c.lang, CAST(FLOOR(1e6 * t.target / c.n) AS BIGINT) AS rate_ppm
      |      FROM c, (SELECT MIN(n) AS target FROM c) t),
      |s4 AS (SELECT s3d.doc_id FROM s3d JOIN r USING (lang)
      |       WHERE ${Export.md5IntSql("s3d.text")} % 1000000 < r.rate_ppm)""".stripMargin

  private val funnelSql =
    s"""WITH $gramsCte,
      |$funnelStagesCtes
      |SELECT * FROM (
      |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS name, COUNT(*) AS n_docs FROM documents
      |  UNION ALL SELECT 1, 'dedup_keeper', COUNT(*) FROM s1
      |  UNION ALL SELECT 2, 'decontaminated', COUNT(*) FROM s2
      |  UNION ALL SELECT 3, 'quality', COUNT(*) FROM s3
      |  UNION ALL SELECT 4, 'sampled', COUNT(*) FROM s4)
      |ORDER BY stage""".stripMargin

  /** The composed deliverable — the manifest of the corpus a data team
    * actually ships: the funnel's FINAL survivors (stage 4: dedup
    * keepers, decontaminated, quality-passing, stratified-sampled) with
    * their duplicated-span-REMOVED cleaned text fingerprints. One
    * query proving the curation stages and the span rewrite compose:
    * every piece is the same shared definition the individual queries
    * run ([[funnelStages]], [[dupStarts]]/[[spanRemovalOf]]), and the
    * oracle composes the same shared SQL fragments, so a divergence in
    * ANY stage breaks this hash too. Plan shape: the stage semi-joins
    * plus the span rewrite's map-side excision — no new wide stage
    * beyond the ones the components already pay.
    */
  private def curationExport(s: SparkSession, dir: String): DataFrame = {
    // the funnel-stage chain and the dup-span starts are INDEPENDENT
    // build arms over the shared grams stage — overlap them in one
    // Overlap scope; the shared-stage caches are single-flight, so the
    // arms' common dependency (curation.grams) is built exactly once
    graft.util.Overlap(s) { o =>
      val stagesA = o.fork(stageCache(s, dir))
      val startsA = o.fork(dupStartsCached(s, dir))
      curationExportOf(docs(s, dir), grams(s, dir), Some(stagesA.join()), Some(startsA.join()))
    }
  }

  private[pipeline] def curationExportOf(d: DataFrame, g: DataFrame,
      cached: Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = None,
      starts: Option[DataFrame] = None): DataFrame = {
    val (_, _, _, s4) = cached.getOrElse(funnelStages(d, g))
    spanRemovalOf(d, g, starts).join(s4, "doc_id")
      .join(d.select("doc_id", "lang", "source"), "doc_id")
      .select("doc_id", "lang", "source", "n_tokens", "removed", "clean_fp")
      .orderBy("doc_id")
  }

  private val curationExportSql =
    s"""WITH $gramsCte,
      |$funnelStagesCtes,
      |$dupCovCtes,
      |$spanCleanCtes
      |SELECT ws.doc_id, d.lang, d.source,
      |  CAST(len(ws.ws) AS BIGINT) AS n_tokens,
      |  CAST(len(ws.ws) - COALESCE(k.n_kept, 0) AS BIGINT) AS removed,
      |  md5(COALESCE(k.clean, '')) AS clean_fp
      |FROM s4 JOIN ws USING (doc_id) JOIN documents d USING (doc_id)
      |LEFT JOIN kept k USING (doc_id)
      |ORDER BY ws.doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "curation_export" -> QueryDef.sql(curationExport, curationExportSql,
      "the shipped-corpus manifest: funnel stage-4 survivors with " +
        "span-removed cleaned-text fingerprints (composition gate)"),
    "decon_ngram_overlap" -> QueryDef.sql(decon, deconSql,
      "benchmark decontamination: 8-gram overlap of training docs vs the eval split"),
    "dup_span_coverage" -> QueryDef.sql(dupSpans, dupSpansSql,
      "fraction of each doc covered by cross-document duplicated 8-gram spans"),
    "dup_span_removal" -> QueryDef.sql(spanRemoval, spanRemovalSql,
      "excise cross-document duplicated 8-gram spans; cleaned-text fingerprints"),
    "sample_stratified" -> QueryDef.sql(sampleStratified, sampleSql,
      "deterministic md5-bucket stratified sampling equalizing language strata"),
    "curation_funnel" -> QueryDef.sql(funnel, funnelSql,
      "per-stage corpus survival: raw → dedup → decontaminated → quality → sampled"))
}
