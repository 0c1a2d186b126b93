package graft.pipeline

import graft.{SparkEntry, SparkSpec}

/** Gates for the persisted cell-partitioned IVF layout:
  *
  *  1. the ANN scan over the layout actually PRUNES — the executed plan
  *     carries a non-empty PartitionFilters on the cell column (not a
  *     post-scan filter that reads every cell);
  *  2. results equal the in-memory `sim_ivf_ann` path row-for-row (the
  *     layout is a physical re-arrangement, not a semantic change).
  */
class IvfLayoutSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("layout ANN prunes partitions and equals the in-memory IVF path") {
    val layout = SparkEntry.queries("layout_ivf_ann")(spark, dir)
    val plan = layout.queryExecution.executedPlan.toString
    // NB: Spark truncates long INSET lists with "…" (no closing bracket),
    // so match the filter's head rather than a bracketed span.
    assert("PartitionFilters: \\[cell#\\d+L? (INSET|IN)".r.findFirstIn(plan).isDefined,
      s"expected a non-empty PartitionFilters on cell in:\n${plan.take(4000)}")

    val mem = SparkEntry.queries("sim_ivf_ann")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val lay = layout
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(lay.sameElements(mem), "layout ANN != in-memory IVF ANN")
  }

  test("appendIvfLayout: partition-wise insert against the persisted centroids, fail-fast without them") {
    import org.apache.spark.sql.functions._
    val e = Similarity.emb(spark, dir)
    val members = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("iv").as("civ"), col("nrm2").as("cn"))
      .cache()
    try {
      val cent = Similarity.ivfCentroids(
        members.select(col("c_id").as("id"), col("civ").as("iv")), 8)
      val loc = graft.util.Warehouse.dir(spark, "ivf_append_spec")

      // the append refuses a directory with no persisted centroid table
      intercept[IllegalStateException] {
        Similarity.appendIvfLayout(spark, members.limit(5), loc)
      }

      Similarity.saveIvfLayout(spark, members.filter(col("c_id") % 2 === 0), cent, loc)
      val stamps = java.nio.file.Files.walk(java.nio.file.Paths.get(loc)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".parquet") && p.toString.contains("cell="))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      assert(stamps.nonEmpty)

      Similarity.appendIvfLayout(spark, members.filter(col("c_id") % 2 =!= 0), loc)
      // partition-wise: every pre-append member file survives untouched
      stamps.foreach { case (f, ts) =>
        val p = java.nio.file.Paths.get(f)
        assert(java.nio.file.Files.exists(p) &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis == ts,
          s"pre-append file rewritten: $f")
      }
      // the grown layout holds exactly the one-shot assignment of the
      // full corpus: same (cell, c_id) set, nothing lost or rescattered
      val grown = spark.read.parquet(loc)
        .select(col("cell").cast("long"), col("c_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneShot = Similarity.assignCells(
          members.select(col("c_id").as("id"), col("civ").as("iv")), cent)
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
      assert(grown == oneShot)
      // and the persisted centroid table is byte-meaningful: reloading it
      // reproduces the same assignment for a sample member
      val reCent = Similarity.loadIvfCentroids(spark, loc)
      val again = Similarity.assignCells(
          members.limit(20).select(col("c_id").as("id"), col("civ").as("iv")), reCent)
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
      assert(again.subsetOf(oneShot))

      // compaction over the append-grown cells: fragmented cells collapse
      // to one COMMITTED file (merge-beside — the superseded files stay
      // on disk as tombstoned garbage until vacuum), membership
      // unchanged, centroids + sidecar survive
      val compacted = Similarity.compactIvfLayout(spark, loc, maxFilesPerCell = 1)
      assert(compacted.nonEmpty, "save+append must fragment at least one cell")
      val committed = graft.util.Maintenance.readManifest(spark, loc).get.files
        .groupBy(_.takeWhile(_ != '/')).view.mapValues(_.size).toMap
      compacted.foreach(c => assert(committed(s"cell=$c") == 1,
        s"cell=$c still holds ${committed.get(s"cell=$c")} committed files"))
      // vacuum reclaims the merged-away files; then the DIRECTORY agrees
      assert(graft.util.Maintenance.vacuumOrphans(spark, loc).dataFiles.nonEmpty)
      compacted.foreach { c =>
        val n = java.nio.file.Files.list(java.nio.file.Paths.get(loc, s"cell=$c"))
          .toArray.count(_.toString.endsWith(".parquet"))
        assert(n == 1, s"cell=$c still holds $n files")
      }
      val afterCompact = spark.read.parquet(loc)
        .select(col("cell").cast("long"), col("c_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterCompact == grown)
      assert(Similarity.loadIvfCentroids(spark, loc).count() == 8L)
    } finally { members.unpersist(); () }
  }

  test("recluster: append-until-skewed, measured trigger, locked re-cluster rebalances without loss") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Similarity.emb(spark, dir)
    val members = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("iv").as("civ"), col("nrm2").as("cn"))
      .cache()
    try {
      val cent = Similarity.ivfCentroids(
        members.select(col("c_id").as("id"), col("civ").as("iv")), 8)
      val loc = graft.util.Warehouse.dir(spark, "ivf_recluster_spec")
      Similarity.saveIvfLayout(spark, members, cent, loc)
      val skew0 = Similarity.ivfCellSkew(spark, loc)

      // drift: a burst of appends all shaped like ONE existing vector
      // (tiny per-row jitter on the ×10⁴ integer scale keeps every
      // vector in the seed's cell but defeats parquet's dictionary
      // compression — the point is real BYTES crowding one cell) —
      // every batch lands in the same cell (assignment against frozen
      // centroids), so that cell's bytes balloon
      val seedVec = members.orderBy("c_id").limit(1)
        .select("civ", "cn").collect().head
      val dupIv = seedVec.getSeq[Long](0).toArray
      (1 to 6).foreach { b =>
        val batch = (0 until 60).map { i =>
          val jittered = dupIv.zipWithIndex.map { case (v, j) =>
            v + ((b * 977L + i * 131L + j * 17L) % 13L) - 6L
          }.toSeq
          val n2 = jittered.map(x => x * x).sum
          (1000000L + b * 1000L + i, jittered, n2)
        }.toDF("c_id", "civ", "cn")
        Similarity.appendIvfLayout(spark, batch, loc)
      }
      val skewGrown = Similarity.ivfCellSkew(spark, loc)
      info(f"cell byte-skew: fresh=$skew0%.2f grown=$skewGrown%.2f")
      assert(skewGrown > skew0 * 1.5,
        s"fixture must actually skew the layout: $skew0 -> $skewGrown")
      val preIds = spark.read.parquet(loc).select("c_id")
        .collect().map(_.getLong(0)).toSet

      val cells = Similarity.reclusterIvfLayout(spark, loc)
      assert(cells > 0)
      val skewAfter = Similarity.ivfCellSkew(spark, loc)
      info(f"cell byte-skew after recluster=$skewAfter%.2f (cells=$cells)")
      assert(skewAfter < skewGrown,
        s"re-cluster must reduce the measured skew: $skewGrown -> $skewAfter")

      // nothing lost, and the snapshot is coherent: membership equals
      // the one-shot assignment under the NEW persisted centroids
      val layout = graft.util.Maintenance.readLayout(spark, loc)
      val postIds = layout.select("c_id").collect().map(_.getLong(0)).toSet
      assert(postIds == preIds, "re-cluster lost or invented members")
      val centNew = Similarity.loadIvfCentroids(spark, loc)
      assert(centNew.count() == cells)
      val oneShot = Similarity.assignCells(
          layout.select(col("c_id").as("id"), col("civ").as("iv")), centNew)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val atRest = layout.select(col("c_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(atRest == oneShot, "at-rest cells disagree with the new centroids")
      // appends keep working against the new generation
      assert(Similarity.appendIvfLayout(spark,
        Seq((2000000L, dupIv.toSeq, dupIv.map(x => x * x).sum)).toDF("c_id", "civ", "cn"), loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == preIds.size + 1L)

      // ANN across the transition: probe+exact-rerank over the
      // RE-CLUSTERED layout — returned cosines are the true cosines (the
      // re-rank is exact by construction) and recall@3 vs the brute scan
      // over the same members stays useful
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("iv").as("qiv"), col("nrm2").as("qn"))
      val layoutNow = graft.util.Maintenance.readLayout(spark, loc)
        .select(col("cell").cast("long").as("cell"), col("c_id"), col("civ"), col("cn"))
      val byQ = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(desc("score"), col("cell"))
      val probes = q.crossJoin(broadcast(Similarity.loadIvfCentroids(spark, loc)))
        .withColumn("score", Similarity.dotCol(col("qiv"), col("cv")) / sqrt(col("cn2")))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(byQ))
        .filter(col("rn") <= 4).select("q_id", "cell")
      def top3(cand: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(desc("cos"), col("c_id"))
        cand.join(broadcast(q), "q_id")
          .withColumn("cos", Similarity.dotCol(col("qiv"), col("civ")) /
            (sqrt(col("qn")) * sqrt(col("cn"))))
          .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rk") <= 3).select("q_id", "c_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val annGot = top3(probes.join(layoutNow, "cell"))
      val brute = top3(layoutNow.crossJoin(broadcast(q.select("q_id")))
        .select(col("q_id"), col("c_id"), col("civ"), col("cn")))
      val recall = annGot.intersect(brute).size.toDouble / brute.size
      info(f"ANN recall@3 over the re-clustered layout (4/$cells%d cells probed): $recall%.2f")
      assert(recall >= 0.5, f"re-clustered layout ANN recall collapsed: $recall%.2f")

      // re-cluster deleted nothing (snapshot isolation); vacuum sweeps
      // the old generation, after which directory == manifest and the
      // layout still answers identically
      val preVac = graft.util.Maintenance.readLayout(spark, loc).count()
      val swept = graft.util.Maintenance.vacuumOrphans(spark, loc)
      assert(swept.dataFiles.nonEmpty && swept.dirs.exists(_.startsWith("_centroids")),
        s"vacuum must sweep the superseded generation: $swept")
      assert(graft.util.Maintenance.listDataFiles(spark, loc).toSet ==
        graft.util.Maintenance.readManifest(spark, loc).get.files.toSet)
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == preVac)
    } finally { members.unpersist(); () }
  }

  test("recluster crash at publish: the committed cell count stays with the committed centroids") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Similarity.emb(spark, dir)
    val members = e.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("iv").as("civ"), col("nrm2").as("cn"))
      .cache()
    try {
      val cent8 = Similarity.ivfCentroids(
        members.select(col("c_id").as("id"), col("civ").as("iv")), 8)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
      // one extra centroid no member is assigned to: a copy of an existing
      // one under a larger cell id loses every score tie on the cell id,
      // so the re-cluster's Lloyd step drops it as an empty cell
      val (_, cv, cn2) = cent8.head
      val cent = (cent8 :+ ((cent8.map(_._1).max + 1000000L, cv, cn2)))
        .toSeq.toDF("cell", "cv", "cn2")
      val loc = graft.util.Warehouse.dir(spark, "ivf_recluster_crash_spec")
      Similarity.saveIvfLayout(spark, members.filter(col("c_id") % 2 === 0), cent, loc)
      val saved = graft.util.Maintenance.readLayout(spark, loc).count()
      assert(Similarity.loadIvfCentroids(spark, loc).count() == 9L)

      graft.util.Maintenance.onBeforeManifestCommit =
        () => throw new RuntimeException("simulated crash before publish")
      val died = scala.util.Try(Similarity.reclusterIvfLayout(spark, loc))
      graft.util.Maintenance.onBeforeManifestCommit = () => ()
      assert(died.isFailure, "the simulated crash must propagate")
      // unpublished: the old generation (9 centroids) is still committed
      assert(Similarity.loadIvfCentroids(spark, loc).count() == 9L)
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == saved)

      // appends keep working against the still-committed generation
      val rest = members.filter(col("c_id") % 2 =!= 0)
      assert(Similarity.appendIvfLayout(spark, rest, loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == saved + rest.count())

      // and a retried re-cluster lands: the empty cell is gone, nothing lost
      assert(Similarity.reclusterIvfLayout(spark, loc) == 8L)
      assert(Similarity.loadIvfCentroids(spark, loc).count() == 8L)
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == members.count())
      assert(Similarity.appendIvfLayout(spark,
        Seq((3000000L, cv, cn2)).toDF("c_id", "civ", "cn"), loc))
      assert(graft.util.Maintenance.readLayout(spark, loc).count() == members.count() + 1L)
    } finally { members.unpersist(); () }
  }
}
