package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of their seed, and the metric
  * lists the runs report are the ones BENCHMARK.json declares.
  */
class GenSpec extends AnyFunSuite {

  test("random walks repeat exactly for a seed and differ across seeds") {
    def walks(seed: Long) = Gen.randomWalks(4, 300, seed).map(_.toSeq).toSeq
    assert(walks(7L) == walks(7L))
    assert(walks(7L) != walks(8L))
    assert(Gen.randomWalk(300, 7L).toSeq == Gen.randomWalk(300, 7L).toSeq)
  }

  test("CBF series repeat exactly for a seed, differ across seeds, and are z-normalised") {
    def cbf(seed: Long) = Gen.cbf(9, 128, seed).map { case (l, x) => (l, x.toSeq) }.toSeq
    assert(cbf(7L) == cbf(7L))
    assert(cbf(7L) != cbf(8L))
    assert(cbf(7L).map(_._1) == Seq.fill(3)(Seq(1.0, 2.0, 3.0)).flatten)
    cbf(7L).foreach { case (_, x) =>
      val mean = x.sum / x.size
      val sd = math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / x.size)
      assert(math.abs(mean) < 1e-9 && math.abs(sd - 1.0) < 1e-9)
    }
  }

  test("documents repeat exactly for a seed, differ across seeds, and hold near-copies") {
    assert(Gen.documents(200, 7L).toSeq == Gen.documents(200, 7L).toSeq)
    assert(Gen.documents(200, 7L).toSeq != Gen.documents(200, 8L).toSeq)
    // word 3-gram sets, as near-duplicate search compares them
    val grams = Gen.documents(200, 7L).map(_._2.split(" ").sliding(3).map(_.mkString(" ")).toSet)
    val near = grams.indices.count(i => (0 until i).exists { j =>
      (grams(i) & grams(j)).size.toDouble / (grams(i) | grams(j)).size >= 0.3
    })
    assert(near >= 30 && near <= 80)
  }

  test("BENCHMARK.json declares exactly the metrics the runs report") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists(), "BENCHMARK.json not found beside the benchmark")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def metrics(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    assert(metrics("end_to_end") == Main.EndToEnd)
    assert(metrics("per_layer") == Layers.names)
  }
}
