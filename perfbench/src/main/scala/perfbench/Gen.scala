package perfbench

import java.util.SplittableRandom

/** The benchmark's own input generators. Every generator is a pure
  * function of its seed (and sizes): the same seed gives the same
  * inputs, bit for bit, on every run and machine. Nothing is read from
  * outside the benchmark.
  */
object Gen {

  /** A Gaussian draw from a SplittableRandom (Box–Muller; the second
    * variate is dropped so every call consumes exactly two uniforms).
    */
  private def gauss(r: SplittableRandom): Double = {
    val u1 = r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(1.0 - u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** One random walk of `n` points: cumulative sum of N(0,1) steps. */
  def randomWalk(n: Int, seed: Long): Array[Double] = {
    val r = new SplittableRandom(seed)
    val out = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += gauss(r); out(i) = acc; i += 1 }
    out
  }

  /** `count` random walks of `n` points, each from its own split of the
    * seed so any one series can be regenerated alone.
    */
  def randomWalks(count: Int, n: Int, seed: Long): Array[Array[Double]] = {
    val root = new SplittableRandom(seed)
    Array.fill(count)(randomWalk(n, root.nextLong()))
  }

  /** `count` cylinder–bell–funnel series of `n` points (Saito 1994),
    * labelled 1 (cylinder), 2 (bell) and 3 (funnel) in turn and
    * z-normalised. With a ∈ U{16..32}, b − a ∈ U{32..96} and
    * η, ε ∈ N(0, 1), at t = 1..n:
    * cylinder (6 + η)·χ[a,b](t) + ε, bell (6 + η)·χ[a,b](t)·(t − a)/(b − a) + ε,
    * funnel (6 + η)·χ[a,b](t)·(b − t)/(b − a) + ε.
    */
  def cbf(count: Int, n: Int, seed: Long): Array[(Double, Array[Double])] = {
    val root = new SplittableRandom(seed)
    Array.tabulate(count) { i =>
      val r = new SplittableRandom(root.nextLong())
      val shape = i % 3
      val a = 16 + r.nextInt(17)
      val b = a + 32 + r.nextInt(65)
      val amp = 6.0 + gauss(r)
      val x = Array.tabulate(n) { j =>
        val t = j + 1
        val chi = if (t >= a && t <= b) 1.0 else 0.0
        val s = shape match {
          case 0 => amp * chi
          case 1 => amp * chi * (t - a) / (b - a)
          case _ => amp * chi * (b - t) / (b - a)
        }
        s + gauss(r)
      }
      ((shape + 1).toDouble, graft.ts.Loaders.znorm(x))
    }
  }

  private val Vocab: Array[String] = ("the a data row column table key value query join filter " +
    "group sort merge hash scan window stream batch spark part line order customer agg " +
    "fast slow big small vector index word bag series model fit train test label score " +
    "shard block page cache log").split(" ")

  /** `count` documents (doc_id, text) of 20–79 words from a small
    * vocabulary. About a quarter are near-copies of an earlier document
    * with one to three words replaced, so near-duplicate search has
    * true pairs to find.
    */
  def documents(count: Int, seed: Long): Array[(Long, String)] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[Array[String]](count)
    for (i <- 0 until count) {
      texts(i) =
        if (i > 0 && r.nextInt(4) == 0) {
          val copy = texts(r.nextInt(i)).clone()
          for (_ <- 0 to r.nextInt(3)) copy(r.nextInt(copy.length)) = Vocab(r.nextInt(Vocab.length))
          copy
        } else Array.fill(20 + r.nextInt(60))(Vocab(r.nextInt(Vocab.length)))
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
  }
}
