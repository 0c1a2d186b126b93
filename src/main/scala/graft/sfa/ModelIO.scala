package graft.sfa

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Maintenance, Overlap}

/** Model persistence (SURVEY §2.1 S8/S9/S10), re-expressed as columnar
  * artifacts instead of the reference's Java/Kryo serialization
  * (SFA.java:582-599, Classifier.java:748-766, SFATrie.java:946-971):
  *
  *  - an SFA quantizer is a tiny parquet of (coef, pos, edge) rows plus
  *    one metadata row — engine-portable and diffable;
  *  - a fitted BOSS ensemble is a directory with the model table and
  *    the train bags (needed at predict time, like the reference's
  *    `BOSSModel.bag`);
  *  - the k-NN index layout is parquet *partitioned by word prefix* with
  *    columnar min/max stats — the trie's bulk-load design at rest; a
  *    reader prunes partitions by prefix before the LB scan.
  *
  * The BOSS-ensemble and WEASEL artifact tables sit under disjoint
  * sub-paths and are written and read as arms of one [[Overlap]] scope:
  * each is a tiny 1-task job whose time is scheduling overhead, so k of
  * them overlapped cost about the slowest instead of the sum.
  */
object ModelIO {

  // ---- S8: SFA quantizer ---------------------------------------------

  def saveSFA(model: SFAModel, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    val bins = for {
      (row, coef) <- model.bins.zipWithIndex.toSeq
      (edge, pos) <- row.zipWithIndex
      if edge != Double.MaxValue
    } yield (coef, pos, edge)
    bins.toDF("coef", "pos", "edge").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/bins")
    Seq((model.windowSize, model.wordLength, model.alphabetSize,
      model.normMean, model.lowerBounding, model.applyZNorm))
      .toDF("windowSize", "wordLength", "alphabetSize", "normMean", "lowerBounding", "applyZNorm")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadSFA(path: String)(implicit spark: SparkSession): SFAModel = {
    val meta = spark.read.parquet(s"$path/meta").head
    val wordLength = meta.getInt(1)
    val alpha = meta.getInt(2)
    val bins = Array.fill(wordLength)(Array.fill(alpha - 1)(Double.MaxValue))
    spark.read.parquet(s"$path/bins").collect().foreach { r =>
      bins(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
    }
    SFAModel(meta.getInt(0), wordLength, alpha, meta.getBoolean(3),
      meta.getBoolean(4), meta.getBoolean(5), bins)
  }

  // ---- S9: BOSS ensemble ---------------------------------------------

  /** One columnar table per artifact KIND, keyed by member idx — not one
    * file per member: an ensemble is read back in 3 scans regardless of
    * member count, and a large model store stays a handful of
    * well-compressed parquet tables instead of 2·members tiny files.
    */
  def saveBossEnsemble(model: Boss.EnsembleModel, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    Overlap(spark) { o =>
      // member row = window-model meta + its SFA quantizer meta (1:1)
      o.fork(model.models.zipWithIndex.map { case (m, i) =>
        (i, m.norm, m.windowLength, m.features, m.trainCorrect,
          m.sfa.windowSize, m.sfa.wordLength, m.sfa.alphabetSize,
          m.sfa.normMean, m.sfa.lowerBounding, m.sfa.applyZNorm)
      }.toDF("idx", "norm", "w", "features", "trainCorrect",
        "windowSize", "wordLength", "alphabetSize", "normMean", "lowerBounding", "applyZNorm")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/models"))
      o.fork((for {
        (m, i) <- model.models.zipWithIndex
        (row, coef) <- m.sfa.bins.zipWithIndex.toSeq
        (edge, pos) <- row.zipWithIndex
        if edge != Double.MaxValue
      } yield (i, coef, pos, edge)).toDF("idx", "coef", "pos", "edge")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/bins"))
      o.fork(model.trainBags.write.mode("overwrite").parquet(s"$path/trainBags"))
      o.fork(Seq(model.trainSize).toDF("trainSize")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta"))
    }
  }

  def loadBossEnsemble(path: String)(implicit spark: SparkSession): Boss.EnsembleModel = Overlap(spark) { o =>
    val binsA = o.fork(spark.read.parquet(s"$path/bins").collect())
    val modelsA = o.fork(spark.read.parquet(s"$path/models").collect())
    val sizeA = o.fork(spark.read.parquet(s"$path/meta").head.getLong(0))
    val bagRowsA = o.fork(spark.read.parquet(s"$path/trainBags").count())
    val binRows = binsA.join().groupBy(_.getInt(0))
    val models = modelsA.join()
      .sortBy(_.getInt(0))
      .map { r =>
        val wordLength = r.getInt(6)
        val alpha = r.getInt(7)
        val bins = Array.fill(wordLength)(Array.fill(alpha - 1)(Double.MaxValue))
        binRows.getOrElse(r.getInt(0), Array.empty).foreach { b =>
          bins(b.getInt(1))(b.getInt(2)) = b.getDouble(3)
        }
        Boss.WindowModel(r.getBoolean(1), r.getInt(2), r.getInt(3), r.getLong(4),
          SFAModel(r.getInt(5), wordLength, alpha,
            r.getBoolean(8), r.getBoolean(9), r.getBoolean(10), bins))
      }.toSeq
    val bags = spark.read.parquet(s"$path/trainBags")
    Boss.EnsembleModel(models, bags, bagRowsA.join(), sizeA.join())
  }

  // ---- S9: WEASEL ----------------------------------------------------

  /** WEASEL classifier persistence (Classifier.java:748-766 analogue):
    * quantizer meta + bins + selected-feature dictionary as parquet,
    * the linear stage via [[LinModel.save]] (parquet weight rows for
    * OvR, MLlib's own writer for multinomial). Round-trip gate
    * (predictions-equal, AbstractClassifierTest.java:39-61) in
    * ModelIOSpec.
    */
  def saveWeasel(model: Weasel.WeaselModel, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    Overlap(spark) { o =>
      o.fork(model.quantizers.toSeq.map { case (w, q) =>
        (w, q.windowSize, q.normMean, q.maxWordLength, q.bestValues.toSeq)
      }.toDF("w", "windowSize", "normMean", "maxWordLength", "bestValues")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/quantizers"))
      o.fork(model.quantizers.toSeq.flatMap { case (w, q) =>
        q.bins.toSeq.map { case (coef, edges) => (w, coef, edges.toSeq) }
      }.toDF("w", "coef", "edges")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/bins"))
      o.fork(model.selected.write.mode("overwrite").parquet(s"$path/selected"))
      o.fork(LinModel.save(model.lr, path))
      o.fork(Seq((model.norm, model.features, model.trainCorrect, model.windows, model.dictSize))
        .toDF("norm", "features", "trainCorrect", "windows", "dictSize")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta"))
    }
  }

  def loadWeasel(path: String)(implicit spark: SparkSession): Weasel.WeaselModel = Overlap(spark) { o =>
    val metaA = o.fork(spark.read.parquet(s"$path/meta").head)
    val binsA = o.fork(spark.read.parquet(s"$path/bins").collect())
    val qA = o.fork(spark.read.parquet(s"$path/quantizers").collect())
    val lrA = o.fork(LinModel.load(path))
    val bins = binsA.join()
      .groupBy(_.getInt(0))
      .map { case (w, rows) =>
        w -> rows.map(r => r.getInt(1) -> r.getSeq[Double](2).toArray).toMap
      }
    val quantizers = qA.join().map { r =>
      r.getInt(0) -> Weasel.SupervisedModel(
        r.getInt(1), r.getBoolean(2),
        r.getSeq[Int](4).toArray, r.getInt(3),
        bins.getOrElse(r.getInt(0), Map.empty))
    }.toMap
    val meta = metaA.join()
    Weasel.WeaselModel(
      meta.getBoolean(0), meta.getInt(1), meta.getLong(2), quantizers,
      meta.getSeq[Int](3), spark.read.parquet(s"$path/selected"), meta.getInt(4),
      lrA.join())
  }

  // ---- S9: MUSE ------------------------------------------------------

  private def histName(h: HistogramType): String = h match {
    case HistogramType.EquiDepth => "EQUI_DEPTH"
    case HistogramType.EquiWidth => "EQUI_WIDTH"
    case HistogramType.InformationGain => "INFORMATION_GAIN"
  }

  private def histOf(n: String): HistogramType = n match {
    case "EQUI_DEPTH" => HistogramType.EquiDepth
    case "EQUI_WIDTH" => HistogramType.EquiWidth
    case "INFORMATION_GAIN" => HistogramType.InformationGain
  }

  def saveMuse(model: Muse.MuseModel, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    model.quantizers.toSeq.map { case ((w, dim), m) =>
      (w, dim, m.windowSize, m.wordLength, m.alphabetSize, m.normMean,
        m.lowerBounding, m.applyZNorm)
    }.toDF("w", "dim", "windowSize", "wordLength", "alphabetSize",
      "normMean", "lowerBounding", "applyZNorm")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/quantizers")
    model.quantizers.toSeq.flatMap { case ((w, dim), m) =>
      for {
        (row, coef) <- m.bins.zipWithIndex.toSeq
        (edge, pos) <- row.zipWithIndex
        if edge != Double.MaxValue
      } yield (w, dim, coef, pos, edge)
    }.toDF("w", "dim", "coef", "pos", "edge")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/bins")
    model.selected.write.mode("overwrite").parquet(s"$path/selected")
    LinModel.save(model.lr, path)
    Seq((histName(model.hist), model.norm, model.features, model.trainCorrect,
      model.windows, model.dictSize))
      .toDF("hist", "norm", "features", "trainCorrect", "windows", "dictSize")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadMuse(path: String)(implicit spark: SparkSession): Muse.MuseModel = {
    val meta = spark.read.parquet(s"$path/meta").head
    val qMeta = spark.read.parquet(s"$path/quantizers").collect()
    val binRows = spark.read.parquet(s"$path/bins").collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
    val quantizers = qMeta.map { r =>
      val key = (r.getInt(0), r.getInt(1))
      val wordLength = r.getInt(3)
      val alpha = r.getInt(4)
      val bins = Array.fill(wordLength)(Array.fill(alpha - 1)(Double.MaxValue))
      binRows.getOrElse(key, Array.empty).foreach { b =>
        bins(b.getInt(2))(b.getInt(3)) = b.getDouble(4)
      }
      key -> SFAModel(r.getInt(2), wordLength, alpha, r.getBoolean(5),
        r.getBoolean(6), r.getBoolean(7), bins)
    }.toMap
    Muse.MuseModel(
      histOf(meta.getString(0)), meta.getBoolean(1), meta.getInt(2), meta.getLong(3),
      quantizers, meta.getSeq[Int](4), spark.read.parquet(s"$path/selected"),
      meta.getInt(5),
      LinModel.load(path))
  }

  // ---- S9: TEASER ----------------------------------------------------

  def saveTeaser(model: Teaser.TeaserModel, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    model.slaves.foreach { case (s, slave) => saveWeasel(slave, s"$path/slaves/s$s") }
    model.masters.toSeq.map { case (s, m) =>
      (s, m.svs.map(_.toSeq).toSeq, m.coefs.toSeq, m.rho, m.gamma)
    }.toDF("s", "svs", "coefs", "rho", "gamma")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/masters")
    Seq((model.offsets.toSeq, model.threshold))
      .toDF("offsets", "threshold")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadTeaser(path: String)(implicit spark: SparkSession): Teaser.TeaserModel = {
    val meta = spark.read.parquet(s"$path/meta").head
    val masters = loadMasters(path)
    val slaves = masters.keys.map { s =>
      s -> loadWeasel(s"$path/slaves/s$s")
    }.toMap
    Teaser.TeaserModel(meta.getSeq[Int](0).toArray, slaves, masters, meta.getInt(1))
  }

  private def loadMasters(path: String)(implicit spark: SparkSession): Map[Int, OneClassSVM.Model] =
    spark.read.parquet(s"$path/masters").collect().map { r =>
      r.getInt(0) -> OneClassSVM.Model(
        r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray).toArray,
        r.getSeq[Double](2).toArray, r.getDouble(3), r.getDouble(4))
    }.toMap

  // ---- S9: MTEASER (MUSE slaves + one-class masters) ------------------

  def saveMteaser(model: Mteaser.MteaserModel, path: String)(implicit spark: SparkSession): Unit = {
    import spark.implicits._
    model.slaves.foreach { case (s, slave) => saveMuse(slave, s"$path/slaves/s$s") }
    model.masters.toSeq.map { case (s, m) =>
      (s, m.svs.map(_.toSeq).toSeq, m.coefs.toSeq, m.rho, m.gamma)
    }.toDF("s", "svs", "coefs", "rho", "gamma")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/masters")
    Seq((model.offsets.toSeq, model.threshold))
      .toDF("offsets", "threshold")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadMteaser(path: String)(implicit spark: SparkSession): Mteaser.MteaserModel = {
    val meta = spark.read.parquet(s"$path/meta").head
    val masters = loadMasters(path)
    val slaves = masters.keys.map { s =>
      s -> loadMuse(s"$path/slaves/s$s")
    }.toMap
    Mteaser.MteaserModel(meta.getSeq[Int](0).toArray, slaves, masters, meta.getInt(1))
  }

  // ---- S10: k-NN index layout ----------------------------------------

  /** Persist an index corpus partitioned by `prefixLen` word symbols
    * from `prefixStart` — queries whose LB prune excludes a prefix never
    * read its files (partition pruning ≙ the trie's subtree skip).
    * `base` is the prefix-packing radix; 0 (default) = the tight
    * 1<<usedBits packing, while `IndexOps.knnOverLayout` layouts pass
    * 256 to match the k-NN engine's scalar prefix key.
    *
    * The layout is MANIFEST-COMMITTED ([[Maintenance.readManifest]]):
    * one atomically-replaced file publishes the data-file list AND the
    * per-prefix box-stats pointer together, so (a) readers always
    * resolve a complete committed snapshot — across a concurrent
    * compaction they see the full pre- or post-compact file set, or
    * fail loudly, never a silent subset — and (b) `knnOverLayout`'s
    * phase 0 reads O(prefixes) maintained stats instead of aggregating
    * the whole layout's `approx` column per call, with staleness
    * impossible by construction (stats and rows are one rename).
    */
  def saveIndex(corpus: DataFrame, usedBits: Int, prefixLen: Int, path: String,
      prefixStart: Int = 0, base: Int = 0): Unit = {
    val s = corpus.sparkSession
    Maintenance.commit(s, path, "save") { t =>
      t.publish {
        writeIndex(corpus, usedBits, prefixLen, path, prefixStart, base, SaveMode.Overwrite)
        writeIndexMeta(s, path, usedBits, prefixLen, prefixStart, base)
      }(supersedes = _ => true, headers = (_, files) =>
        // stats from the just-written files' narrow (prefix, approx)
        // columns — bit-identical to what a query-time scan would compute
        // (doubles round-trip parquet exactly), far cheaper than
        // re-running the corpus plan. Layouts WITHOUT an approx column
        // (word-only indexes like s10's) carry no boxes — k-NN never runs
        // over them, and knnOverLayout's fallback stays for such cases.
        if (!corpus.columns.contains("approx")) Map.empty
        else Map(BoxStatsHeader -> writeBoxStats(s, path, boxRowsOverFiles(s, path, files))))
    }
    ()
  }

  /** Incremental bulk INSERT into an existing layout (the trie-insert
    * analogue, SFATrie.java's insert path re-expressed for an at-rest
    * index): the new records are packed with the SAME prefix rule and
    * appended partition-wise — new files join their prefix directories,
    * untouched prefixes keep their files, and nothing is rewritten.
    * Queries need no refresh step: `IndexOps.knnOverLayout` derives its
    * per-prefix Fourier boxes from the layout at query time, so
    * appended members are covered (and exactly verified) the moment the
    * write commits — IndexAppendSpec pins k-NN ≡ brute scan over the
    * combined corpus. Caller contract: same model/packing parameters as
    * the original save (a different quantizer would scatter prefixes) —
    * ENFORCED against the layout's own metadata sidecar when present
    * (layouts written by [[saveIndex]] are self-describing), so a
    * mismatched append fails fast instead of silently corrupting the
    * prefix partitioning. Maintenance ops are serialized per layout by
    * the single-maintainer lock (see [[Maintenance.withLock]]): an
    * append racing a compaction fails fast instead of being lost.
    */
  def appendIndex(corpus: DataFrame, usedBits: Int, prefixLen: Int, path: String,
      prefixStart: Int = 0, base: Int = 0): Unit = {
    appendIndexBatch(corpus, usedBits, prefixLen, path, prefixStart, base, None)
    ()
  }

  /** [[appendIndex]] with an optional EXACTLY-ONCE ingest key for
    * streaming micro-batches: when `(streamId, batchId)` is given, the
    * append is published under a per-lineage watermark header in the
    * manifest — same atomic rename as the file list — and a batch at or
    * below its lineage's recorded watermark is a no-op (returns false).
    * Because the publish point IS the single manifest rename, a crash
    * anywhere before it leaves only orphan files no later manifest
    * adopts (appends commit `old ∪ created` from an under-lock
    * before/after listing), and a crash after it is fully committed:
    * there is NO window in which a replay can lose or duplicate rows —
    * the two-commit residual `StreamingIndexIngest` documented in r9 is
    * closed, not narrowed.
    */
  def appendIndexBatch(corpus: DataFrame, usedBits: Int, prefixLen: Int, path: String,
      prefixStart: Int = 0, base: Int = 0,
      ingestKey: Option[(String, Long)] = None): Boolean = {
    val s = corpus.sparkSession
    Maintenance.commit(s, path, "append", ingestKey) { t =>
      val existing = readIndexMeta(s, path)
      existing.foreach { m =>
        require(m == IndexMeta(usedBits, prefixLen, prefixStart, base),
          s"append packing (usedBits=$usedBits, prefixLen=$prefixLen, " +
            s"prefixStart=$prefixStart, base=$base) does not match the layout's " +
            s"own metadata $m at $path — appending with a different packing " +
            "would scatter records across wrong prefix directories")
      }
      // a layout that MAINTAINS box stats cannot absorb approx-less
      // rows: the boxes would silently stop covering the new members
      // and the k-NN prune would turn unsound
      val statsDir = t.prev.flatMap(_.header(BoxStatsHeader))
      require(corpus.columns.contains("approx") || statsDir.isEmpty,
        s"layout $path maintains box stats but the appended batch has no " +
          "'approx' column — the maintained boxes would no longer bound " +
          "every member")
      t.publish(writeIndex(corpus, usedBits, prefixLen, path, prefixStart, base, SaveMode.Append))(
        headers = (created, files) =>
          if (!corpus.columns.contains("approx")) Map.empty // word-only layout: no boxes
          else Map(BoxStatsHeader -> writeBoxStats(s, path, statsDir match {
            // the persisted table and the created-files aggregate are
            // both driver-sized (≤ α^prefixLen rows); the merge runs on
            // the driver (IndexOps.mergeBoxRows, bit-identical to a
            // distributed re-aggregate) instead of as a three-exchange
            // distributed job over model-sized data
            case Some(d) if created.nonEmpty => IndexOps.mergeBoxRows(
              readStatsRows(s, path, d), boxRowsOverFiles(s, path, created))
            case Some(d) => readStatsRows(s, path, d)
            // pre-stats layout: one narrow full pass upgrades it
            case None => boxRowsOverFiles(s, path, files)
          })))
      // the superseded stats generation is NOT deleted here: an append
      // deletes nothing, so a reader that resolved the old manifest an
      // instant ago keeps a fully-intact snapshot (boxes included) —
      // `Maintenance.vacuumOrphans` is the one deleter of superseded
      // generations, run on the maintenance schedule
      // annotate a pre-metadata layout with the packing this append
      // just asserted, so the NEXT append is checked too
      if (existing.isEmpty)
        writeIndexMeta(s, path, usedBits, prefixLen, prefixStart, base)
    }.isDefined
  }

  /** Packing parameters a [[saveIndex]] layout records about itself. */
  final case class IndexMeta(usedBits: Int, prefixLen: Int, prefixStart: Int, base: Int)

  // ---- maintained box stats (manifest-committed) ------------------------

  /** Manifest header naming the layout's current per-prefix box-stats
    * directory (an `_`-prefixed subdir, invisible to data reads). The
    * pointer commits in the SAME rename as the file list, so the stats
    * can never be stale relative to the rows they describe.
    */
  private val BoxStatsHeader = "stats_dir"

  /** The maintained [[IndexOps.boxTable]] rows for `path`, resolved
    * through the manifest — None when the layout predates the stats
    * (callers fall back to the query-time aggregate). A manifest that
    * NAMES a stats dir which cannot be read fails loudly: that state is
    * impossible under the atomic commit, so it means out-of-band
    * damage, and silently rescanning would hide it.
    */
  def readBoxStats(s: SparkSession,
      path: String): Option[Array[(Long, Long, Seq[Double], Seq[Double])]] =
    Maintenance.readManifest(s, path)
      .flatMap(_.header(BoxStatsHeader))
      .map(readStatsRows(s, path, _))

  private def readStatsRows(s: SparkSession, path: String,
      dir: String): Array[(Long, Long, Seq[Double], Seq[Double])] =
    Maintenance.readGeneration(s, path, dir)
      .select("prefix", "cnt", "mns", "mxs")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2), r.getSeq[Double](3)))

  /** Narrow (prefix, approx) scan of exactly `files` → the collected
    * per-prefix box table ([[IndexOps.boxRows]]: one distributed
    * aggregation, array assembly on the driver).
    */
  private def boxRowsOverFiles(s: SparkSession, path: String,
      files: Seq[String]): Array[(Long, Long, Seq[Double], Seq[Double])] =
    IndexOps.boxRows(
      s.read.option("basePath", path)
        .parquet(files.map(f => new org.apache.hadoop.fs.Path(path, f).toString): _*)
        .select(col("prefix").cast("long").as("prefix"), col("approx")))

  /** Write `boxes` as a fresh uniquely-named stats dir under `path`
    * (unreferenced until a manifest commit points at it) and return the
    * dir name. One file: the table is model-sized (≤ α^prefixLen rows),
    * already on the driver, so the write is a single trivial job with
    * no input scan or exchange.
    */
  private def writeBoxStats(s: SparkSession, path: String,
      boxes: Array[(Long, Long, Seq[Double], Seq[Double])]): String = {
    val dir = s"_boxes_${ProcessHandle.current().pid()}_${System.nanoTime()}"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("prefix",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("mns", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false)),
      org.apache.spark.sql.types.StructField("mxs", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false))))
    s.createDataFrame(
      java.util.Arrays.asList(boxes.map(b =>
        org.apache.spark.sql.Row(b._1, b._2, b._3, b._4)): _*), schema)
      .coalesce(1).write
      .parquet(new org.apache.hadoop.fs.Path(path, dir).toString)
    dir
  }

  private val IndexMetaFile = "_graft_index_meta"

  /** Sidecar commit via the shared write-then-rename-over helper
    * ([[Maintenance.writeSidecar]]): no torn sidecar on a
    * crash, no no-sidecar window for a concurrent reader.
    */
  private def writeIndexMeta(s: SparkSession, path: String,
      usedBits: Int, prefixLen: Int, prefixStart: Int, base: Int): Unit =
    Maintenance.writeSidecar(s, path, IndexMetaFile, Seq(
      "usedBits" -> usedBits.toString, "prefixLen" -> prefixLen.toString,
      "prefixStart" -> prefixStart.toString, "base" -> base.toString))

  /** None for pre-metadata layouts (append stays permitted, the caller
    * contract applies unchecked — exactly the old behavior). A PRESENT
    * but unparsable sidecar fails with the file named: silently
    * skipping the check on corruption would defeat the fail-fast.
    */
  def readIndexMeta(s: SparkSession, path: String): Option[IndexMeta] =
    Maintenance.readSidecar(s, path, IndexMetaFile).map { kv =>
      try IndexMeta(kv("usedBits").toInt, kv("prefixLen").toInt,
        kv("prefixStart").toInt, kv("base").toInt)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"index metadata sidecar at $path is unreadable (${e.getMessage}); " +
            "delete the sidecar to fall back to the unchecked append contract", e)
      }
    }

  private def writeIndex(corpus: DataFrame, usedBits: Int, prefixLen: Int, path: String,
      prefixStart: Int, base: Int, mode: SaveMode): Unit = {
    val b = if (base > 0) base else 1 << usedBits
    val packed = corpus
      .withColumn("prefix",
        expr(s"aggregate(slice(word, ${prefixStart + 1}, $prefixLen), 0L, (acc, s) -> acc * $b + s)"))
    // cluster the write by the partition column (AQE REBALANCE: sized
    // to the advisory partition bytes, skew-split when a prefix is
    // hot): without it every upstream task writes a file into every
    // prefix it touches — tasks × prefixes tiny files per write, paid
    // back on every subsequent listing and scan. The Iceberg
    // write.distribution-mode=hash idea, expressed in plain parquet.
    // The hint is a silent no-op when AQE is off (a session configured
    // without it), which would quietly reintroduce the
    // tasks × prefixes dust — fall back to an explicit hash repartition
    // by prefix there (one file per prefix: clustered, not skew-split).
    val clustered =
      if (corpus.sparkSession.conf.get("spark.sql.adaptive.enabled", "true").toBoolean)
        packed.hint("rebalance", org.apache.spark.sql.functions.col("prefix"))
      else packed.repartition(org.apache.spark.sql.functions.col("prefix"))
    clustered.write.mode(mode).partitionBy("prefix").parquet(path)
  }

  /** Selective small-file compaction for an append-grown layout
    * ([[appendIndex]] adds a file per write per touched prefix; scans
    * degrade once a prefix holds many tiny files): prefixes holding
    * more than `maxFilesPerPrefix` parquet files are rewritten to one
    * file each, every other prefix's files stay byte-untouched. The
    * rewrite never reads and overwrites the same path in one job — the
    * heavy prefixes' rows are merged into new files written BESIDE the
    * old ones and one manifest rename swaps them — snapshot-isolated:
    * pinned readers keep the pre-compact snapshot until a vacuum
    * outside the retention window, and a crash at any point leaves the
    * layout unchanged (merged files are unpublished orphans; just
    * retry). Cost is bounded by the heavy prefixes' bytes, not the
    * layout size, so routine compaction after appends touches only
    * what fragmented; at extreme scale call it per prefix-batch
    * (filter the returned list). Returns the compacted prefixes. Runs
    * under the single-maintainer lock (see [[Maintenance.withLock]]).
    * IndexAppendSpec pins file counts, untouched-light-prefix bytes,
    * k-NN exactness across the whole append→compact lifecycle, and the
    * fail-fast of an append interleaved into the compaction window.
    */
  def compactIndex(path: String, maxFilesPerPrefix: Int = 4)(
      implicit spark: SparkSession): Seq[Long] =
    Maintenance.compactPartitioned(spark, path, "prefix", maxFilesPerPrefix)
      .map(_.toLong)

  /** Manifest-pinned read of the layout (committed snapshot, loud
    * failure over silent subset across a concurrent compaction);
    * pre-manifest layouts fall back to the plain directory read.
    */
  def loadIndex(path: String)(implicit spark: SparkSession): DataFrame =
    Maintenance.readLayout(spark, path)
}
