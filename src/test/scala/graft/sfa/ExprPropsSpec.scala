package graft.sfa

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.catalyst.expressions.Literal

/** Randomized parity gates for the native codegen kernels: the fixed
  * worked examples in ExtensionsSpec pin representative values; these
  * drive the SAME expressions through both evaluation paths on random
  * inputs — interpreted (`nullSafeEval`, per case) and whole-stage
  * codegen (one DataFrame over all cases) — against the driver-side
  * Scala reference, exact equality. Catches codegen/interpreted drift
  * and knife-edges (length mismatches, zero vectors, max symbols) the
  * hand-picked cases miss.
  */
class ExprPropsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260815L)

  private def litArr[T](v: Seq[T], et: org.apache.spark.sql.types.DataType) =
    Literal.create(v, ArrayType(et))

  test("property: Ed2Expr ≡ Scala kernel, interpreted and codegen") {
    import spark.implicits._
    val cases = (0 until 300).map { i =>
      val n = rnd.nextInt(12) // incl. 0-length
      val m = if (i % 7 == 0) rnd.nextInt(12) else n // occasional mismatch
      (i.toLong,
        Seq.fill(n)(rnd.nextDouble() * 20 - 10),
        Seq.fill(m)(rnd.nextDouble() * 20 - 10))
    }
    def ref(a: Seq[Double], b: Seq[Double]): Double = {
      val n = math.min(a.length, b.length)
      var d = 0.0; var i = 0
      while (i < n) { val x = a(i) - b(i); d += x * x; i += 1 }
      d
    }
    // interpreted
    cases.foreach { case (_, a, b) =>
      val got = graft.sfa.expr.Ed2Expr(
        litArr(a, DoubleType), litArr(b, DoubleType)).eval(null)
      assert(got == ref(a, b))
    }
    // codegen (one job over all cases)
    val df = cases.toDF("id", "a", "b")
    val expCol = org.apache.spark.sql.graft.Bridge.column(graft.sfa.expr.Ed2Expr(
      org.apache.spark.sql.graft.Bridge.expression(col("a")),
      org.apache.spark.sql.graft.Bridge.expression(col("b"))))
    val got = df.select(col("id"), expCol.as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cases.foreach { case (id, a, b) => assert(got(id) == ref(a, b), s"case $id") }
  }

  test("property: BossDistExpr ≡ Scala fold, interpreted and codegen") {
    import spark.implicits._
    val cases = (0 until 300).map { i =>
      val n = rnd.nextInt(10)
      // small counts with many zeros so overlap/no-overlap both occur
      (i.toLong,
        Seq.fill(n)(math.max(0L, rnd.nextInt(6) - 3L)),
        Seq.fill(n)(math.max(0L, rnd.nextInt(6) - 3L)))
    }
    def ref(a: Seq[Long], b: Seq[Long]): Long = {
      var d = 0L; var ov = false; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val t = a(i)
        if (t > 0) { val x = t - b(i); d += x * x; if (b(i) > 0) ov = true }
        i += 1
      }
      if (ov) d else -1L
    }
    cases.foreach { case (_, a, b) =>
      val got = graft.sfa.expr.BossDistExpr(
        litArr(a, LongType), litArr(b, LongType)).eval(null)
      assert(got == ref(a, b))
    }
    val df = cases.toDF("id", "a", "b")
    val expCol = org.apache.spark.sql.graft.Bridge.column(graft.sfa.expr.BossDistExpr(
      org.apache.spark.sql.graft.Bridge.expression(col("a")),
      org.apache.spark.sql.graft.Bridge.expression(col("b"))))
    val got = df.select(col("id"), expCol.as("d")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, a, b) => assert(got(id) == ref(a, b), s"case $id") }
  }

  test("property: LbDistExpr ≡ IndexOps.lbDistance, interpreted and codegen, both weightings") {
    import spark.implicits._
    val l = 6
    val alpha = 5
    val bins = Array.fill(l)(Array.iterate(rnd.nextDouble() - 2, alpha - 1)(
      _ + rnd.nextDouble() + 1e-3)) // strictly increasing edges per coef
    val binsSeq = bins.map(_.toSeq).toSeq
    val cases = (0 until 300).map { i =>
      (i.toLong,
        Seq.fill(l)(rnd.nextInt(alpha)), // symbols 0..alpha-1
        Seq.fill(l)(rnd.nextInt(alpha)),
        Seq.fill(l)(rnd.nextDouble() * 6 - 3))
    }
    for (normed <- Seq(true, false)) {
      cases.foreach { case (_, w, qw, qa) =>
        val got = graft.sfa.expr.LbDistExpr(
          litArr(w, IntegerType), litArr(qw, IntegerType), litArr(qa, DoubleType),
          Literal.create(binsSeq, ArrayType(ArrayType(DoubleType))), normed).eval(null)
        val want = IndexOps.lbDistance(w.toArray, qw.toArray, qa.toArray, bins, normed)
        assert(got == want, s"normed=$normed w=$w qw=$qw")
      }
      val df = cases.toDF("id", "w", "qw", "qa")
      val got = df.select(col("id"),
          IndexOps.lbCol(col("w"), col("qw"), col("qa"), bins, normed).as("lb"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      cases.foreach { case (id, w, qw, qa) =>
        val want = IndexOps.lbDistance(w.toArray, qw.toArray, qa.toArray, bins, normed)
        assert(got(id) == want, s"codegen normed=$normed case $id")
      }
    }
  }

  test("property: ShotgunDistExpr ≡ Shotgun.distance, interpreted and codegen") {
    import spark.implicits._
    val w = 8
    val cases = (0 until 120).map { i =>
      // lengths straddle the window: shorter-than-w queries take the
      // truncated-window path, longer series exercise the sliding scan
      val nq = w / 2 + rnd.nextInt(3 * w)
      val nt = w + rnd.nextInt(4 * w)
      (i.toLong,
        Seq.fill(nq)(rnd.nextDouble() * 20 - 10),
        Seq.fill(nt)(rnd.nextDouble() * 20 - 10))
    }
    def ref(q: Seq[Double], t: Seq[Double]): Double =
      Shotgun.distance(q.toArray, t.toArray, w)
    cases.foreach { case (_, q, t) =>
      val got = graft.sfa.expr.ShotgunDistExpr(
        litArr(q, DoubleType), litArr(t, DoubleType), w).eval(null)
      assert(got == ref(q, t))
    }
    val df = cases.toDF("id", "q", "t")
    val expCol = org.apache.spark.sql.graft.Bridge.column(graft.sfa.expr.ShotgunDistExpr(
      org.apache.spark.sql.graft.Bridge.expression(col("q")),
      org.apache.spark.sql.graft.Bridge.expression(col("t")), w))
    val got = df.select(col("id"), expCol.as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cases.foreach { case (id, q, t) => assert(got(id) == ref(q, t), s"case $id") }
  }

  test("property: MinShingleMd5Expr ≡ md5(concat_ws) expression tree") {
    import spark.implicits._
    val words = Vector("alpha", "beta", "gamma", "δelta", "ε", "zz", "многоязычный", "x")
    val cases = (0 until 200).map { i =>
      val n = rnd.nextInt(12) // incl. < 5 tokens (null fingerprint)
      (i.toLong, Seq.fill(n)(words(rnd.nextInt(words.size))))
    }
    // codegen: an RDD-backed frame (a local Seq's projection is
    // pre-evaluated interpreted by ConvertToLocalRelation), the kernel in
    // a whole-stage-codegen projection of its own (the reference's
    // `transform` lambda would keep the stage interpreted), with the
    // interpreted fallback off so a generated-code compile error fails
    val df = spark.sparkContext.parallelize(cases, 2).toDF("id", "toks")
    val B = org.apache.spark.sql.graft.Bridge
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got = try df.select(col("id"),
        B.column(graft.sfa.expr.MinShingleMd5Expr(B.expression(col("toks")), 5)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    finally spark.conf.set("spark.sql.codegen.fallback", fallback)
    df.select(col("id"), when(size(col("toks")) >= 5, expr(
        "array_min(transform(sequence(0, size(toks)-5), i -> " +
          "md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]))))")))
      .collect()
      .foreach(r => assert(got(r.getLong(0)) == r.getString(1), s"case ${r.getLong(0)}"))
    // interpreted path too
    cases.foreach { case (_, toks) =>
      val e = graft.sfa.expr.MinShingleMd5Expr(
        Literal.create(toks, ArrayType(org.apache.spark.sql.types.StringType)), 5)
      val v = Option(e.eval(null)).map(_.toString)
      val want =
        if (toks.size < 5) None
        else Some((0 to toks.size - 5).map(i =>
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            toks.slice(i, i + 5).mkString(" "))).min)
      assert(v == want)
    }
  }

  test("property: DFT expressions ≡ Scala kernels, interpreted and codegen") {
    import spark.implicits._
    // window length, value count and norm vary per row (grids carry
    // them as columns); lengths straddle the window (short series:
    // sliding yields no rows, disjoint none or partial, MFT pads)
    val cases = (0 until 80).map { i =>
      val w = 2 + rnd.nextInt(11)
      val l = 1 + rnd.nextInt(w + 3)
      val n = 1 + rnd.nextInt(4 * w)
      (i.toLong, Seq.fill(n)(rnd.nextDouble() * 20 - 10), w, l, rnd.nextBoolean())
    }
    val variants = for (lb <- Seq(true, false); z <- Seq(true, false)) yield (lb, z)
    def disjointRef(d: Seq[Double], w: Int, l: Int, nm: Boolean, lb: Boolean, z: Boolean) = {
      val a = d.toArray
      val wins =
        if (z) SFA.disjointWindows(a, w, nm).map(win => Fourier.transformWindow(win, 0, w, l, nm, lb))
        else Array.tabulate(a.length / w)(i => Fourier.transformWindow(a, i * w, w, l, nm, lb))
      wins.map(_.toSeq).toSeq
    }
    def mftRef(d: Seq[Double], w: Int, l: Int, nm: Boolean, lb: Boolean, z: Boolean) =
      Fourier.transformWindowing(d.toArray, w, l, nm, lb, z).map(_.toSeq).toSeq
    def slidingRef(d: Seq[Double], w: Int, l: Int, nm: Boolean) =
      SFAOps.slidingKernelArr(d.toArray, w, l, nm).map(_.toSeq).toSeq
    def deep(a: Any): Seq[Seq[Double]] = a match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until ad.numElements()).map(i => ad.getArray(i).toDoubleArray().toSeq)
    }
    import graft.sfa.expr.{DisjointDftExpr, MftDftExpr, SlidingDftExpr}
    // interpreted
    cases.foreach { case (_, d, w, l, nm) =>
      val args = (litArr(d, DoubleType), Literal(w), Literal(l), Literal(nm))
      for ((lb, z) <- variants) {
        assert(deep(DisjointDftExpr(args._1, args._2, args._3, args._4, lb, z).eval(null)) ==
          disjointRef(d, w, l, nm, lb, z), s"dj w=$w l=$l norm=$nm lb=$lb z=$z")
        assert(deep(MftDftExpr(args._1, args._2, args._3, args._4, lb, z).eval(null)) ==
          mftRef(d, w, l, nm, lb, z), s"mf w=$w l=$l norm=$nm lb=$lb z=$z")
      }
      assert(deep(SlidingDftExpr(args._1, args._2, args._3, args._4).eval(null)) ==
        slidingRef(d, w, l, nm), s"sl w=$w l=$l norm=$nm")
    }
    // codegen: one DataFrame pass over all cases, parameters as columns
    // (an RDD-backed frame: a local Seq's projection is pre-evaluated
    // interpreted by ConvertToLocalRelation)
    val df = spark.sparkContext.parallelize(cases, 2).toDF("id", "d", "w", "l", "nm")
    val data = Seq(col("d"), col("w"), col("l"), col("nm"))
    val cols = variants.flatMap { case (lb, z) =>
      Seq(SFAOps.disjointCol(data(0), data(1), data(2), data(3), lb, z),
        SFAOps.mftCol(data(0), data(1), data(2), data(3), lb, z))
    } :+ SFAOps.slidingCol(data(0), data(1), data(2), data(3))
    val got = df.select(col("id") +: cols: _*).collect()
      .map(r => r.getLong(0) -> (1 to cols.length).map(r.getSeq[Seq[Double]](_)))
      .toMap
    cases.foreach { case (id, d, w, l, nm) =>
      val want = variants.flatMap { case (lb, z) =>
        Seq(disjointRef(d, w, l, nm, lb, z), mftRef(d, w, l, nm, lb, z))
      } :+ slidingRef(d, w, l, nm)
      assert(got(id) == want, s"codegen case $id")
    }
  }

  test("property: edge-fit expression ≡ SFA edge kernels, interpreted and codegen") {
    import spark.implicits._
    // 2-decimal orderlines with many ties and some empty ones, labels 1..3
    val cases = (0 until 150).map { i =>
      val n = rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(math.floor((rnd.nextDouble() * 4 - 2) * 20) / 20),
        Seq.fill(n)(1.0 + rnd.nextInt(3)), 2 << rnd.nextInt(3))
    }
    def ref(v: Seq[Double], lab: Seq[Double], alpha: Int, h: HistogramType): Seq[Double] = h match {
      case HistogramType.EquiDepth => SFA.equiDepthEdges(v.sorted.toArray, alpha).toSeq
      case HistogramType.EquiWidth => SFA.equiWidthEdges(v.sorted.toArray, alpha).toSeq
      case HistogramType.InformationGain =>
        SFA.infoGainEdges(v.zip(lab).sorted.toArray, alpha).toSeq
    }
    val hists = Seq(HistogramType.EquiDepth, HistogramType.EquiWidth, HistogramType.InformationGain)
    val pairType = ArrayType(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", DoubleType),
      org.apache.spark.sql.types.StructField("label", DoubleType))))
    import graft.sfa.expr.SfaEdgesExpr
    for (h <- hists; (_, v, lab, alpha) <- cases) {
      val ol =
        if (h == HistogramType.InformationGain)
          Literal.create(v.zip(lab).map { case (a, b) => org.apache.spark.sql.Row(a, b) }, pairType)
        else litArr(v, DoubleType)
      val got = SfaEdgesExpr(ol, alpha, h).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray().toSeq
      assert(got == ref(v, lab, alpha, h), s"$h alpha=$alpha v=$v")
    }
    val df = spark.sparkContext.parallelize(cases, 2).toDF("id", "v", "lab", "alpha")
    for (alpha <- cases.map(_._4).distinct) {
      val sub = cases.filter(_._4 == alpha)
      val pairs = arrays_zip(col("v"), col("lab"))
      val got = df.filter(col("alpha") === alpha).select(col("id") +: hists.map(h =>
          SFAOps.edgesCol(if (h == HistogramType.InformationGain) pairs else col("v"), alpha, h)): _*)
        .collect().map(r => r.getLong(0) -> hists.indices.map(i => r.getSeq[Double](i + 1))).toMap
      sub.foreach { case (id, v, lab, _) =>
        assert(got(id) == hists.map(ref(v, lab, alpha, _)), s"codegen alpha=$alpha case $id")
      }
    }
  }

  test("property: selected-coefficient words ≡ quantize + createWord, interpreted and codegen") {
    import spark.implicits._
    val (usedBits, alpha) = (2, 4)
    // ascending edges per coefficient, some with +∞ placeholders
    val bins = Array.fill(8)(Array.iterate(rnd.nextDouble() - 2, alpha - 1)(_ + rnd.nextDouble()))
      .map(e => if (rnd.nextBoolean()) e.updated(alpha - 2, Double.MaxValue) else e)
    val cases = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(8)
      // coefficient indices occasionally past the approximation
      (i.toLong, Seq.fill(n)(rnd.nextDouble() * 6 - 3), Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(8)))
    }
    def ref(a: Seq[Double], coefs: Seq[Int]): Long = {
      val syms = coefs.map { i =>
        var c = 0
        while (c < bins(i).length && i < a.length && a(i) >= bins(i)(c)) c += 1
        c
      }.toArray
      Words.createWord(syms, syms.length, usedBits)
    }
    def edges(coefs: Seq[Int]) = SFAOps.wordEdges(coefs.map(bins).toArray, coefs.length, usedBits)
    import graft.sfa.expr.{SelectCoefsExpr, SfaWordExpr}
    val edgesType = ArrayType(ArrayType(DoubleType))
    cases.foreach { case (_, a, coefs) =>
      val got = SfaWordExpr(SelectCoefsExpr(litArr(a, DoubleType), litArr(coefs, IntegerType)),
        Literal.create(edges(coefs), edgesType), usedBits).eval(null)
      assert(got == ref(a, coefs), s"a=$a coefs=$coefs")
    }
    val df = spark.sparkContext.parallelize(cases.map { case (id, a, coefs) =>
      (id, a, coefs, edges(coefs)) }, 2).toDF("id", "a", "coefs", "edges")
    val got = df.select(col("id"),
        SFAOps.wordCol(SFAOps.selectCoefsCol(col("a"), col("coefs")), col("edges"), usedBits))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (id, a, coefs) => assert(got(id) == ref(a, coefs), s"codegen case $id") }
  }
}
