package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANN gates beyond the DuckDB hash oracle: output-shape invariants of
  * every re-ranked path (including the tie order the shared exact
  * re-rank defines), the measured recall floors of the compressed scans
  * (sq measured 1.0 and pq 0.53 at sf0.001 — floors leave refactoring
  * headroom but catch a broken quantizer), and the fixed-width check of
  * the paths built for 64-dim embeddings.
  */
class SqAnnSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every query 0..9 gets ranks 1..k from the corpus side (c_id ≥ 10),
    * ordered by cos descending then c_id ascending. With `upTo` a query
    * may get fewer rows (ranks 1..n, n ≤ k) or none: sign-LSH only
    * re-ranks same-bucket vectors, so a query can have fewer than k
    * candidates.
    */
  private def shapeCheck(name: String, k: Int = 3, upTo: Boolean = false): Unit = {
    val out = graft.SparkEntry.queries(name)(spark, dir).collect()
    val byQ = out.groupBy(_.getLong(0))
    if (upTo) assert(byQ.keySet.subsetOf((0L until 10L).toSet), s"$name query ids")
    else assert(byQ.keySet == (0L until 10L).toSet, s"$name query ids")
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      val n = if (upTo) rows.length.toLong else k.toLong
      assert(n <= k && sorted.map(_.getLong(1)).toSeq == (1L to n), s"$name query $q ranks")
      sorted.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.getDouble(3) > b.getDouble(3) ||
          (a.getDouble(3) == b.getDouble(3) && a.getLong(2) < b.getLong(2)),
          s"$name query $q not ordered by cos desc, c_id asc")
      }
      rows.foreach(r => assert(r.getLong(2) >= 10L, s"$name query $q returned a query id"))
    }
  }

  test("sq ANN emits ranked top-3 per query from the corpus side only") {
    shapeCheck("sim_sq_ann")
  }

  test("pq ANN emits ranked top-3 per query from the corpus side only") {
    shapeCheck("sim_pq_ann")
  }

  test("brute-force, LSH and both IVF paths emit the shared re-rank's shape and tie order") {
    shapeCheck("sim_cosine_topk", k = 5)
    shapeCheck("sim_lsh_ann", upTo = true)
    shapeCheck("sim_ivf_ann")
    shapeCheck("layout_ivf_ann")
  }

  test("sq and pq recall@3 vs the exact scan clear their floors") {
    val rec = graft.SparkEntry.queries("sim_ann_recall")(spark, dir)
      .groupBy("method").agg(avg("recall").as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rec("sq") >= 0.75, s"sq mean recall@3 ${rec("sq")} under the 0.75 floor")
    assert(rec("pq") >= 0.30, s"pq mean recall@3 ${rec("pq")} under the 0.30 floor")
  }

  test("PQ and sign-LSH refuse embeddings that are not 64 wide") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_dims_")
    try {
      Similarity.emb(spark, dir)
        .select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"), col("label"))
        .write.parquet(s"$tmp/embeddings.parquet")
      Seq("sim_pq_ann", "sim_lsh_ann").foreach { name =>
        val e = intercept[IllegalArgumentException] {
          graft.SparkEntry.queries(name)(spark, tmp.toString).collect()
        }
        assert(e.getMessage.contains("expects 64-dim embeddings, got 32"), s"$name: ${e.getMessage}")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}
