package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Z-order layout's point is DATA SKIPPING: rows close in the
  * (user_id, cents) plane land in the same parquet row groups, so a
  * 2-D range predicate's pushed min/max filters skip most groups. The
  * gate measures it — the same query over the same rows in a
  * hash-shuffled control layout reads (nearly) everything, the
  * z-ordered layout reads a fraction — and pins result equality plus
  * the pushed filters. Small row groups scope the mechanism down to
  * fixture scale; the ratio, not the absolute size, is the property.
  */
class ZorderLayoutSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("zValue is the Morton interleave of the clamped 16-bit inputs") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long = {
      def cl(v: Long) = math.min(65535L, math.max(0L, v))
      var z = 0L
      (0 until 16).foreach { b =>
        z |= ((cl(x) >> b) & 1L) << (2 * b)
        z |= ((cl(y) >> b) & 1L) << (2 * b + 1)
      }
      z
    }
    val rnd = new scala.util.Random(42L)
    val cases = Seq((0L, 0L), (65535L, 65535L), (-5L, 70000L), (1L, 0L), (0L, 1L)) ++
      (0 until 200).map(_ => (rnd.nextLong(70000L) - 2000L, rnd.nextLong(70000L) - 2000L))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    cases.foreach { case (x, y) =>
      assert(got((x, y)) == ref(x, y), s"zValue($x, $y)")
    }
  }

  test("2-D range predicate skips row groups on the z-ordered layout") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val ev = graft.util.Tables.load(spark, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select("event_id", "user_id", "event_type", "cents")
      val blocks = Some(16384L)
      val zLoc = "/tmp/graft_zorder_spec/z"
      val cLoc = "/tmp/graft_zorder_spec/shuffled"
      // clean slate: a CRASHED previous run may have left a maintenance
      // lock behind (the documented fail-fast contract) — this fixture
      // dir carries no state worth recovering
      val rootDir = new java.io.File("/tmp/graft_zorder_spec")
      if (rootDir.exists) {
        java.nio.file.Files.walk(rootDir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      }
      // half-saved / half-APPENDED: the skip gate below must hold over an
      // append-grown layout (each appended file is itself z-sorted, so
      // its row groups keep tight boxes — skipping is per row group)
      Layout.writeZordered(ev.filter(col("event_id") % 2 === 0), zLoc, blocks)
      val preAppend = java.nio.file.Files.walk(java.nio.file.Paths.get(zLoc)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      assert(preAppend.nonEmpty)
      // fail-fast contract: wrong dims or a non-layout directory refuse
      intercept[IllegalArgumentException] {
        Layout.appendZordered(ev.filter(col("event_id") % 2 =!= 0), zLoc, blocks,
          dims = ("cents", "user_id"))
      }
      intercept[IllegalStateException] {
        Layout.appendZordered(ev, "/tmp/graft_zorder_spec/not_a_layout", blocks)
      }
      Layout.appendZordered(ev.filter(col("event_id") % 2 =!= 0), zLoc, blocks)
      // partition-wise growth: every pre-append file survives untouched
      preAppend.foreach { case (f, ts) =>
        val p = java.nio.file.Paths.get(f)
        assert(java.nio.file.Files.exists(p) &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis == ts,
          s"pre-append file rewritten: $f")
      }
      // control: identical rows, random (hash) order, same row-group size
      val w = ev.repartitionByRange(8, hash(col("event_id")))
        .sortWithinPartitions(hash(col("event_id")))
      w.write.mode("overwrite")
        .option("parquet.block.size", "16384").option("parquet.page.size", "4096")
        .parquet(cLoc)

      val r = ev.agg(min("user_id"), max("user_id"), min("cents"), max("cents")).head
      val (umn, umx, cmn, cmx) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (uLo, uHi) = (umn + (umx - umn) / 4, umn + (umx - umn) / 2)
      val (cLo, cHi) = (cmn + (cmx - cmn) / 4, cmn + (cmx - cmn) / 2)

      def scanRows(loc: String): (Long, Seq[org.apache.spark.sql.Row]) = {
        // manifest-pinned when one exists (post-compaction the directory
        // legitimately still holds the merged-away files until vacuum);
        // the control layout has no manifest and falls back to the dir
        val q = Layout.zorderRollup(
          graft.util.Maintenance.readLayout(spark, loc), uLo, uHi, cLo, cHi)
        val rows = q.collect().toSeq
        val scan = q.queryExecution.executedPlan.collectLeaves()
          .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
        assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(user_id"),
          s"range predicates must reach the reader: ${scan.metadata("PushedFilters")}")
        (scan.metrics("numOutputRows").value, rows)
      }
      val (zRead, zRows) = scanRows(zLoc)
      val (cRead, cRows) = scanRows(cLoc)
      assert(zRows == cRows, "same rows regardless of layout")
      assert(zRows.nonEmpty, "the fixture box must select something")
      info(s"rows read: z-ordered=$zRead shuffled control=$cRead")
      assert(zRead < cRead / 2,
        s"z-order must skip at least half the row groups the control reads: $zRead vs $cRead")

      // and the registered query equals the layout-free computation
      val got = graft.SparkEntry.queries("layout_zorder_scan")(spark, dir).collect().toSeq
      val expect = Layout.zorderRollup(ev, uLo, uHi, cLo, cHi).collect().toSeq
      assert(got == expect)

      // ---- bounded compaction over an append-heavy layout ---------------
      // fragment with six tiny published appends
      val preRows = spark.read.parquet(zLoc).count()
      (0 until 6).foreach { i =>
        Layout.appendZordered(
          ev.filter(col("event_id") % 12 === i).limit(200), zLoc, blocks)
      }
      val rowsGrown = graft.util.Maintenance.readLayout(spark, zLoc).count()
      def fileSizes(): Map[String, Long] =
        graft.util.Maintenance.readManifest(spark, zLoc).get.files.map { f =>
          f -> java.nio.file.Files.size(java.nio.file.Paths.get(zLoc, f))
        }.toMap
      val sizesBefore = fileSizes()
      // threshold chosen so the original big files stay out of scope and
      // every appended droplet is in it
      val bigFiles = sizesBefore.filter { case (_, sz) => sz >= 8192L }.keySet
      val smallCount = sizesBefore.size - bigFiles.size
      assert(smallCount >= 6, s"fixture never fragmented: ${sizesBefore.values.toSeq.sorted}")
      val bigStamps = bigFiles.map { f =>
        f -> java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(zLoc, f)).toMillis
      }
      val merged = Layout.compactZordered(spark, zLoc, blocks, smallBytes = 8192L)
      assert(merged == smallCount, s"expected all $smallCount small files merged, got $merged")
      val sizesAfter = fileSizes()
      assert(sizesAfter.size < sizesBefore.size, "compaction must reduce the file count")
      bigStamps.foreach { case (f, ts) =>
        val p = java.nio.file.Paths.get(zLoc, f)
        assert(java.nio.file.Files.exists(p) &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis == ts,
          s"pre-existing large file rewritten by compaction: $f")
      }
      info(s"compaction merged $merged small files -> ${sizesAfter.size - bigFiles.size} " +
        s"(layout: ${sizesBefore.size} -> ${sizesAfter.size} files)")
      // no rows lost, and the 2-D skip is retained over the compacted
      // layout (merged output is itself z-sorted)
      assert(graft.util.Maintenance.readLayout(spark, zLoc).count() == rowsGrown)
      assert(rowsGrown > preRows)
      val (zReadC, zRowsC) = scanRows(zLoc)
      // compaction is a physical re-arrangement: the rollup multiset is
      // exactly the grown layout's (original rows + the appended slices)
      val expectC = Layout.zorderRollup(
          graft.util.Maintenance.readLayout(spark, zLoc), uLo, uHi, cLo, cHi)
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(zRowsC.map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap == expectC)
      info(s"rows read post-compaction: z-ordered=$zReadC shuffled control=$cRead")
      assert(zReadC < cRead,
        s"compacted z-layout must still skip vs the control: $zReadC vs $cRead")
      // compaction deleted nothing (snapshot isolation); vacuum is the
      // deleter, after which directory and manifest coincide exactly
      val swept = graft.util.Maintenance.vacuumOrphans(spark, zLoc)
      assert(swept.dataFiles.size == merged,
        s"vacuum must sweep exactly the merged-away files: ${swept.dataFiles.size} vs $merged")
      assert(graft.util.Maintenance.listDataFiles(spark, zLoc).toSet ==
        graft.util.Maintenance.readManifest(spark, zLoc).get.files.toSet)
      assert(graft.util.Maintenance.readLayout(spark, zLoc).count() == rowsGrown)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("compactZordered crash at publish leaves the committed snapshot; a retry lands the merge") {
    val ev = graft.util.Tables.load(spark, dir, "events")
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .select("event_id", "user_id", "event_type", "cents")
    val loc = graft.util.Warehouse.dir(spark, "zorder_compact_crash_spec")
    Layout.writeZordered(ev.filter(col("event_id") % 2 === 0), loc)
    (0 until 4).foreach { i =>
      Layout.appendZordered(ev.filter(col("event_id") % 8 === 2 * i + 1).limit(100), loc)
    }
    val committed = graft.util.Maintenance.readManifest(spark, loc).get.files
    val rows = graft.util.Maintenance.readLayout(spark, loc).count()

    graft.util.Maintenance.onBeforeManifestCommit =
      () => throw new RuntimeException("simulated crash before publish")
    val died = scala.util.Try(Layout.compactZordered(spark, loc, smallBytes = 1L << 40))
    graft.util.Maintenance.onBeforeManifestCommit = () => ()
    assert(died.isFailure, "the simulated crash must propagate")
    // unpublished: the committed file list and row count are unchanged,
    // and the merged files are orphans no manifest names
    assert(graft.util.Maintenance.readManifest(spark, loc).get.files == committed)
    assert(graft.util.Maintenance.readLayout(spark, loc).count() == rows)
    assert(graft.util.Maintenance.listDataFiles(spark, loc).size > committed.size,
      "fixture: the crashed merge must have left durable files")

    // the retry lands the merge: every committed file is merged away,
    // the crashed attempt's orphans stay unadopted, no row lost or doubled
    val merged = Layout.compactZordered(spark, loc, smallBytes = 1L << 40)
    assert(merged == committed.size)
    val after = graft.util.Maintenance.readManifest(spark, loc).get.files
    assert(after.nonEmpty && after.toSet.intersect(committed.toSet).isEmpty)
    assert(after.size < committed.size)
    assert(graft.util.Maintenance.readLayout(spark, loc).count() == rows)
  }
}
