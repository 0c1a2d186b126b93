package graft.ts

import java.util.SplittableRandom

/** Seeded cylinder–bell–funnel series (Saito 1994): a pure function of
  * (count, length, seed), so specs get the same labelled fixture on every
  * run without reading the reference datasets.
  *
  * Series `i` has shape `i % 3` (label 1 cylinder, 2 bell, 3 funnel).
  * With a ∈ U{16..32}, b − a ∈ U{32..96} and η, ε ∈ N(0, 1), at t = 1..n:
  * cylinder (6 + η)·χ[a,b](t) + ε, bell (6 + η)·χ[a,b](t)·(t − a)/(b − a) + ε,
  * funnel (6 + η)·χ[a,b](t)·(b − t)/(b − a) + ε; each series is then
  * z-normalised.
  */
object Cbf {

  /** Box–Muller on two uniforms (the second variate is discarded). */
  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2.0 * math.Pi * r.nextDouble())

  /** `count` (label, series) pairs of `n` points each. */
  def apply(count: Int, n: Int, seed: Long): Array[(Double, Array[Double])] = {
    val root = new SplittableRandom(seed)
    Array.tabulate(count) { i =>
      val r = root.split()
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
      ((shape + 1).toDouble, Loaders.znorm(x))
    }
  }
}
