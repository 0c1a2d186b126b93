package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates for the manifest-committed layout contract — the r10 answer to
  * the r9 verdict's #1 residual (readers during compaction):
  *
  *  - the manifest round-trips headers + files and replaces atomically;
  *  - [[Maintenance.readLayout]] resolves the COMMITTED snapshot: files
  *    outside the manifest (a crashed operation's orphans) are
  *    invisible to readers AND never adopted by compaction;
  *  - reader visibility across compaction: a read planned at the
  *    compaction seam sees the FULL pre-compact snapshot, and a reader
  *    pinned to the pre-compact manifest keeps its complete snapshot
  *    through the swap (merge-beside + manifest rename deletes
  *    nothing) — at no point can any reader silently observe a subset.
  */
class ManifestSpec extends SparkSpec {

  test("manifest: round-trip, canonical replace, unreadable fails loudly") {
    val dir = Warehouse.dir(spark, "manifest_rt")
    new java.io.File(dir).mkdirs()
    assert(Maintenance.readManifest(spark, dir).isEmpty)
    val m = Maintenance.Manifest(
      Map("stats_dir" -> "_boxes_1", "ingest.abc" -> "7"),
      Seq("p=2/b.parquet", "p=1/a.parquet"))
    Maintenance.writeManifest(spark, dir, m, Maintenance.readManifest(spark, dir))
    val got = Maintenance.readManifest(spark, dir).get
    assert(got.headers == m.headers)
    assert(got.files == m.files.sorted, "file list is canonical (sorted)")
    // replace is atomic and total — no merging of stale entries
    Maintenance.writeManifest(spark, dir, Maintenance.Manifest(Map.empty, Seq("only.parquet")),
      Maintenance.readManifest(spark, dir))
    val got2 = Maintenance.readManifest(spark, dir).get
    assert(got2.headers.isEmpty && got2.files == Seq("only.parquet"))
    // ...except the retention log, which the commit choke point maintains
    // AUTOMATICALLY: everything the new manifest unreferenced (both
    // prior files and the stats_dir generation) is tombstoned with this
    // commit's time, and the log round-trips
    assert(got2.tombstones.map(_._2).sorted ==
      Seq("_boxes_1", "p=1/a.parquet", "p=2/b.parquet"),
      s"dropped entries must be auto-tombstoned: ${got2.tombstones}")
    assert(got2.tombstones.forall(_._1 > 0L))
    // out-of-band tamper -> stale Hadoop checksum -> LOUD failure, not a
    // silent directory fallback
    java.nio.file.Files.writeString(
      new java.io.File(dir, Maintenance.ManifestFile).toPath, "tampered\n")
    val e = intercept[IllegalStateException](Maintenance.readManifest(spark, dir))
    assert(e.getMessage.contains("unreadable"))
  }

  test("readLayout pins the committed snapshot; orphans are invisible and never adopted") {
    import spark.implicits._
    val dir = Warehouse.dir(spark, "manifest_orphans")
    val path = s"$dir/layout"
    (0 until 40).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(path)
    val files = Maintenance.listDataFiles(spark, path)
    assert(files.nonEmpty && files.forall(f => f.startsWith("p=") && f.endsWith(".parquet")))
    Maintenance.writeManifest(spark, path, Maintenance.Manifest(Map.empty, files),
      Maintenance.readManifest(spark, path))
    assert(Maintenance.readLayout(spark, path).count() == 40)

    // manufacture a crashed append's orphan: committed parquet in a
    // partition dir that no manifest ever published
    Seq((999L, 0)).toDF("id", "p").repartition(1)
      .write.mode("append").partitionBy("p").parquet(path)
    val orphans = Maintenance.listDataFiles(spark, path).filterNot(files.toSet)
    assert(orphans.nonEmpty, "fixture: the extra write must create new files")
    assert(Maintenance.readLayout(spark, path).count() == 40,
      "orphan files must be invisible to manifest-pinned readers")
    // ... and hidden dirs never enter a listing
    assert(Maintenance.listDataFiles(spark, path).forall(!_.startsWith("_")))

    // compaction must not adopt the orphan either: fragment p=0 with
    // PUBLISHED appends, compact, and check the orphan's rows never
    // appear (id=999 stays unseen) while all published rows survive
    (1 to 3).foreach { i =>
      val before = Maintenance.listDataFiles(spark, path).toSet
      Seq((100L + i, 0)).toDF("id", "p").repartition(1)
        .write.mode("append").partitionBy("p").parquet(path)
      val created = Maintenance.listDataFiles(spark, path).filterNot(before)
      val m = Maintenance.readManifest(spark, path).get
      Maintenance.writeManifest(spark, path,
        Maintenance.Manifest(m.headers, m.files ++ created), Maintenance.readManifest(spark, path))
    }
    val published = Maintenance.readLayout(spark, path).count()
    assert(published == 43)
    val compacted = Maintenance.compactPartitioned(spark, path, "p", maxFilesPerPartition = 2)
    assert(compacted.contains("0"), s"p=0 must have been heavy: $compacted")
    val after = Maintenance.readLayout(spark, path)
    assert(after.count() == published, "compaction changed the published row count")
    assert(after.filter(col("id") === 999L).count() == 0,
      "compaction adopted a crashed operation's orphan rows")
  }

  test("reader visibility across compaction: full snapshot at the seam AND through the swap") {
    import spark.implicits._
    val dir = Warehouse.dir(spark, "manifest_visibility")
    val path = s"$dir/layout"
    (0 until 60).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .repartition(1).write.mode("overwrite").partitionBy("p").parquet(path)
    // fragment every partition with published appends
    (1 to 4).foreach { i =>
      val before = Maintenance.listDataFiles(spark, path).toSet
      (0 until 6).map(j => (1000L * i + j, j % 3)).toDF("id", "p").repartition(1)
        .write.mode("append").partitionBy("p").parquet(path)
      val created = Maintenance.listDataFiles(spark, path).filterNot(before)
      val m = Maintenance.readManifest(spark, path)
        .getOrElse(Maintenance.Manifest(Map.empty, before.toSeq))
      Maintenance.writeManifest(spark, path,
        Maintenance.Manifest(m.headers, m.files ++ created), Maintenance.readManifest(spark, path))
    }
    val pre = Maintenance.readLayout(spark, path).count()
    assert(pre == 84)

    // a reader PINNED to the pre-compact manifest (plans its file list
    // now, scans later)...
    val pinned = Maintenance.readLayout(spark, path)

    // ...and a reader planned INSIDE the compaction window (after the
    // temp copy, before the swap): it must see the FULL pre-compact
    // snapshot — the old files still exist and the manifest still
    // names exactly them
    @volatile var seamCount = -1L
    Maintenance.onCompactBeforeWriteBack = () => {
      seamCount = Maintenance.readLayout(spark, path).count()
    }
    val compacted = try Maintenance.compactPartitioned(spark, path, "p", 2)
    finally Maintenance.onCompactBeforeWriteBack = () => ()
    assert(compacted.nonEmpty)
    assert(seamCount == pre,
      s"a read at the compaction seam saw $seamCount rows, not the full snapshot $pre")

    // post-compact: merge-beside + manifest swap means the pinned
    // reader's files still exist (tombstoned for the vacuum, not
    // deleted) — it must scan its COMPLETE snapshot; only a vacuum
    // outside the retention window may later fail it loudly
    assert(pinned.count() == pre,
      "a reader pinned across compaction must keep its complete snapshot")
    // a fresh resolve sees the complete post-compact snapshot
    assert(Maintenance.readLayout(spark, path).count() == pre)
  }

  test("a reader racing a stream of appends only ever sees committed snapshots, and never fails") {
    import graft.sfa.{BulkLoad, ModelIO, SFA}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val W = 16
    val walk = graft.ts.Loaders.randomWalk(1000 + W - 1, 20261014L)
    val model = SFA.fitWindowing(Array((walk, 0.0)), W, 8, 8,
      normMean = false, lowerBounding = true)
    val corpus = BulkLoad.windowRecords(spark, walk, 2, 500, W, 8, model).cache()
    corpus.count()
    val path = Warehouse.dir(spark, "reader_race_index")
    ModelIO.saveIndex(corpus.filter(col("id") < 400), model.usedBits, prefixLen = 2, path)

    // append-only maintenance must be FULLY non-disruptive: data files
    // are only ever added (the superseded artifact is the hidden boxes
    // dir, which loadIndex never touches), and the manifest swap is one
    // atomic rename — so a racing reader must always resolve some
    // committed row count, never a torn one, and never fail
    val published = (0 to 6).map(i => 400L + i * 100L).toSet
    val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var readerError: Option[Throwable] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && readerError.isEmpty) {
        try observed.add(ModelIO.loadIndex(path)(spark).count())
        catch { case e: Throwable => readerError = Some(e) }
      }
    })
    reader.start()
    try {
      (0 until 6).foreach { i =>
        ModelIO.appendIndex(
          corpus.filter(col("id") >= 400 + i * 100L && col("id") < 500 + i * 100L),
          model.usedBits, 2, path)
      }
    } finally { stop = true; reader.join(60000) }
    readerError.foreach(e => fail(s"racing reader failed: $e"))
    val seen = observed.toArray.map(_.asInstanceOf[Long]).toSet
    assert(seen.nonEmpty && seen.subsetOf(published),
      s"reader observed non-committed counts: ${seen -- published}")
    assert(ModelIO.loadIndex(path)(spark).count() == 1000L)
    info(s"racing reader observed committed snapshots: ${seen.toSeq.sorted.mkString(", ")}")
    corpus.unpersist()
  }

  test("vacuumOrphans reclaims unpublished files and stale generation dirs, never committed state") {
    import graft.sfa.{BulkLoad, ModelIO, SFA}
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val W = 16
    val walk = graft.ts.Loaders.randomWalk(800 + W - 1, 20261013L)
    val model = SFA.fitWindowing(Array((walk, 0.0)), W, 8, 8,
      normMean = false, lowerBounding = true)
    val corpus = BulkLoad.windowRecords(spark, walk, 2, 400, W, 8, model).cache()
    val path = Warehouse.dir(spark, "vacuum_spec_index")
    ModelIO.saveIndex(corpus.filter(col("id") < 400), model.usedBits, prefixLen = 2, path)

    // no-manifest layouts are refused (nothing there is provably garbage)
    val bare = s"${Warehouse.dir(spark, "vacuum_bare")}/layout"
    import spark.implicits._
    Seq((1L, 0)).toDF("id", "p").write.partitionBy("p").parquet(bare)
    intercept[IllegalStateException](Maintenance.vacuumOrphans(spark, bare))

    // garbage: a crashed append's unpublished files + a stale stats dir
    Maintenance.onBeforeManifestCommit =
      () => throw new RuntimeException("killed mid-append")
    assert(scala.util.Try(ModelIO.appendIndex(
      corpus.filter(col("id") >= 400), model.usedBits, 2, path)).isFailure)
    Maintenance.onBeforeManifestCommit = () => ()
    val fsH = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staleDir = new org.apache.hadoop.fs.Path(path, "_boxes_stale_1")
    fsH.mkdirs(staleDir)
    val junk = fsH.create(new org.apache.hadoop.fs.Path(staleDir, "x.parquet"), true)
    junk.write(Array.fill(64)(7.toByte)); junk.close()

    val preRows = ModelIO.loadIndex(path)(spark).count()
    val preBoxes = ModelIO.readBoxStats(spark, path).get.sortBy(_._1).toSeq
    val report = Maintenance.vacuumOrphans(spark, path)
    assert(report.dataFiles.nonEmpty, "the crashed append's files must be swept")
    assert(report.dirs.contains("_boxes_stale_1"))
    assert(report.bytes > 0)
    // committed state untouched: rows, boxes, and the next maintenance op
    assert(ModelIO.loadIndex(path)(spark).count() == preRows)
    assert(ModelIO.readBoxStats(spark, path).get.sortBy(_._1).toSeq == preBoxes)
    assert(Maintenance.listDataFiles(spark, path).toSet ==
      Maintenance.readManifest(spark, path).get.files.toSet,
      "post-vacuum the directory holds exactly the committed files")
    // a second vacuum is a no-op
    val again = Maintenance.vacuumOrphans(spark, path)
    assert(again.dataFiles.isEmpty && again.dirs.isEmpty && again.bytes == 0)
    ModelIO.appendIndex(corpus.filter(col("id") >= 400), model.usedBits, 2, path)
    assert(ModelIO.loadIndex(path)(spark).count() == 800L)
    corpus.unpersist()
  }

  test("vacuum retention window: superseded snapshots outlive the vacuum, crash residue does not") {
    import spark.implicits._
    val dir = Warehouse.dir(spark, "vacuum_retention")
    val path = s"$dir/layout"
    val HOUR = 3600L * 1000L

    // generation 1: published files + a generation dir the header pins
    (0 until 30).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .repartition(1).write.mode("overwrite").partitionBy("p").parquet(path)
    val gen1 = Maintenance.listDataFiles(spark, path)
    val fsH = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen1Dir = new org.apache.hadoop.fs.Path(path, "_boxes_gen1")
    fsH.mkdirs(gen1Dir)
    val g1 = fsH.create(new org.apache.hadoop.fs.Path(gen1Dir, "b.parquet"), true)
    g1.write(Array.fill(32)(1.toByte)); g1.close()
    Maintenance.writeManifest(spark, path,
      Maintenance.Manifest(Map("stats_dir" -> "_boxes_gen1"), gen1), Maintenance.readManifest(spark, path))
    val pinned = Maintenance.readLayout(spark, path) // plans over gen1

    // generation 2 REPLACES generation 1 (the recluster/compact shape):
    // new files + new generation dir committed, old ones auto-tombstoned
    (100 until 160).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .repartition(1).write.mode("append").partitionBy("p").parquet(path)
    val gen2 = Maintenance.listDataFiles(spark, path).filterNot(gen1.toSet)
    assert(gen2.nonEmpty)
    Maintenance.writeManifest(spark, path,
      Maintenance.Manifest(Map("stats_dir" -> "_boxes_gen2"), gen2), Maintenance.readManifest(spark, path))
    fsH.mkdirs(new org.apache.hadoop.fs.Path(path, "_boxes_gen2"))

    // crash residue: durable but never published in ANY manifest
    Seq((999L, 0)).toDF("id", "p").repartition(1)
      .write.mode("append").partitionBy("p").parquet(path)
    val residue = Maintenance.listDataFiles(spark, path)
      .filterNot((gen1 ++ gen2).toSet)
    assert(residue.nonEmpty)

    // vacuum INSIDE the retention window: the never-published residue
    // sweeps immediately (no reader can reference it), the tombstoned
    // generation is RETAINED — so the pinned reader's snapshot is intact
    val windowed = Maintenance.vacuumOrphans(spark, path, minAgeMs = HOUR)
    assert(windowed.dataFiles.sorted == residue.sorted,
      s"only crash residue may sweep inside the window: $windowed")
    assert(windowed.retained.toSet == gen1.toSet + "_boxes_gen1",
      s"the superseded generation must be retained: $windowed")
    assert(pinned.count() == 30,
      "a reader pinned to the superseded manifest must survive a windowed vacuum")
    assert(Maintenance.readManifest(spark, path).get.tombstones.map(_._2).toSet ==
      gen1.toSet + "_boxes_gen1", "retained entries keep their tombstones")

    // vacuum PAST the window (retention 0): the dead generation sweeps
    // and its tombstones purge — the log is bounded by outstanding garbage
    val expired = Maintenance.vacuumOrphans(spark, path, minAgeMs = 0L)
    assert(expired.dataFiles.sorted == gen1.sorted && expired.dirs == Seq("_boxes_gen1"))
    assert(expired.retained.isEmpty)
    assert(Maintenance.readManifest(spark, path).get.tombstones.isEmpty,
      "swept entries' tombstones must purge")
    assert(Maintenance.listDataFiles(spark, path).toSet == gen2.toSet)
    assert(Maintenance.readLayout(spark, path).count() == 60)
  }
}
