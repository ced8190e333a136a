package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CumTrapz, IirCascadeSeries, IirCascadeState, RotdStats, SdofPeak, Spectra, VecDot}

/** Property-style tests for the codegen'd recurrence kernels: on
  * ARBITRARY double series (seeded random, not just the driver
  * testdata), the interpreted eval path must bit-match an
  * independently written Scala fold with the DuckDB twin's semantics,
  * and the generated-Java path, run inside whole-stage codegen with
  * interpreted fallback switched off, must bit-match the eval path.
  * The oracle gate (dev/verify.sh) checks both against DuckDB on the
  * sf0.01 testdata.
  */
class KernelsSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20260812L)
  private def randSeries(): Seq[Double] =
    Seq.fill(rnd.nextInt(41))(rnd.nextDouble() * 2e6 - 1e6)

  private def lit(xs: Seq[Double]) =
    Literal(new GenericArrayData(xs.toArray), ArrayType(DoubleType))

  test("SdofPeak matches the reference Newmark fold on arbitrary series") {
    val (cu, cv, keff, tdt) = (1586.09, 86.28, 5799.2, 40.0)
    for (_ <- 1 to 300) {
      val ps = randSeries()
      val got = SdofPeak(lit(ps), cu, cv, keff, tdt).eval(null).asInstanceOf[Double]
      // reference fold, DuckDB list_reduce semantics: state [u,v,pn,peak]
      val want =
        if (ps.isEmpty) 0.0
        else ps.tail.foldLeft((0.0, 0.0, ps.head, 0.0)) { case ((u, v, pn, peak), x) =>
          val u1 = (x + pn + cu * u + cv * v) / keff
          (u1, tdt * (u1 - u) - v, x, math.max(peak, math.abs(u1)))
        }._4
      assert(got == want, s"series $ps")
    }
  }

  test("series kernels reject NULL array elements loudly") {
    // inputs are usually DECLARED containsNull=true (array() over
    // nullable columns); getDouble would silently read garbage for an
    // actual NULL element, so the kernels must fail with a clear
    // message instead
    val withNull =
      Literal(new GenericArrayData(Array[Any](1.0, null, 3.0)), ArrayType(DoubleType))
    val clean = lit(Seq(1.0, 2.0, 3.0))
    val sec = Seq((1.0, 0.5, 0.25, 0.1, 0.05))
    val kernels = Seq(
      SdofPeak(withNull, 1586.09, 86.28, 5799.2, 40.0),
      IirCascadeState(withNull, sec),
      IirCascadeSeries(withNull, sec),
      CumTrapz(withNull, 0.01),
      RotdStats(withNull, clean, Array(1.0), Array(0.0), 1586.09, 86.28, 5799.2, 40.0, raw = true),
      RotdStats(clean, withNull, Array(1.0), Array(0.0), 1586.09, 86.28, 5799.2, 40.0, raw = true))
    for (k <- kernels) {
      val e = intercept[IllegalArgumentException](k.eval(null))
      assert(e.getMessage.contains("NULL element"), s"${k.prettyName}: ${e.getMessage}")
    }
  }

  test("Iir2State matches the reference biquad fold on arbitrary series") {
    // the former two-pole kernel Iir2State is the one-section
    // IirCascadeState; it must equal the reference biquad fold
    val (b0, b1, b2, a1, a2) = (0.2, 0.4, 0.2, -0.18, 0.05)
    for (_ <- 1 to 300) {
      val xs = randSeries()
      val got = IirCascadeState(lit(xs), Seq((b0, b1, b2, a1, a2)))
        .eval(null).asInstanceOf[GenericArrayData].toDoubleArray()
      val (y1, _, _, _, en) = xs.foldLeft((0.0, 0.0, 0.0, 0.0, 0.0)) {
        case ((py1, py2, px1, px2, pen), x) =>
          val y = b0 * x + b1 * px1 + b2 * px2 - a1 * py1 - a2 * py2
          (y, py1, x, px1, pen + y * y)
      }
      assert(got(0) == y1 && got(1) == en, s"series $xs")
    }
  }

  test("IirCascadeState equals sequential per-section biquad filtering") {
    // the cascade kernel must equal independently filtering the series
    // through each section in order (scipy sosfilt semantics)
    def filterOne(xs: Seq[Double], s: Spectra.Sos): Seq[Double] = {
      var x1 = 0.0; var x2 = 0.0; var y1 = 0.0; var y2 = 0.0
      xs.map { x =>
        val y = s.b0 * x + s.b1 * x1 + s.b2 * x2 - s.a1 * y1 - s.a2 * y2
        x2 = x1; x1 = x; y2 = y1; y1 = y
        y
      }
    }
    for (sos <- Seq(Spectra.BandSos, Spectra.ProdBandSos); _ <- 1 to 150) {
      val xs = randSeries()
      val got = IirCascadeState(lit(xs), sos.map(s => (s.b0, s.b1, s.b2, s.a1, s.a2)))
        .eval(null).asInstanceOf[GenericArrayData].toDoubleArray()
      val ys = sos.foldLeft(xs)(filterOne)
      val wantLast = if (ys.isEmpty) 0.0 else ys.last
      val wantEn = ys.foldLeft(0.0)((acc, y) => acc + y * y)
      assert(got(0) == wantLast && got(1) == wantEn, s"series $xs sos ${sos.size}")
    }
  }

  test("CumTrapz, cascade-series, and polyfit rows match independent recomputes") {
    // cumulative trapezoid recurrence (scipy initial=0 semantics)
    for (_ <- 1 to 200) {
      val xs = randSeries()
      val got = CumTrapz(lit(xs), 0.05).eval(null)
        .asInstanceOf[GenericArrayData].toDoubleArray()
      var v = 0.0
      val want = xs.indices.map { i =>
        if (i == 0) 0.0 else { v = v + 0.05 * (xs(i - 1) + xs(i)) / 2.0; v }
      }
      assert(got.toSeq == want, s"series $xs")
    }
    // series kernel is consistent with the digest kernel (same fold)
    val secs = Spectra.BandSos.map(s => (s.b0, s.b1, s.b2, s.a1, s.a2))
    for (_ <- 1 to 100) {
      val xs = randSeries()
      val series = IirCascadeSeries(lit(xs), secs).eval(null)
        .asInstanceOf[GenericArrayData].toDoubleArray()
      val digest = IirCascadeState(lit(xs), secs).eval(null)
        .asInstanceOf[GenericArrayData].toDoubleArray()
      assert((if (series.isEmpty) 0.0 else series.last) == digest(0))
      assert(series.foldLeft(0.0)((a, y) => a + y * y) == digest(1))
    }
    // polyfit pseudo-inverse rows: fitting exact degree-6 polynomial
    // data must recover its coefficients (P·V = I). Tolerance is set
    // by the Vandermonde's own ~1e8 conditioning, not the solver:
    // eps-level noise in the ~1e7-magnitude samples maps to ~1e-6
    // coefficient error for ANY least-squares method (np.polyfit
    // included); the QR designer sits at that floor.
    val rows = Spectra.polyfitRows(Spectra.N, Spectra.PolyOrder)
    val rnd2 = new scala.util.Random(7L)
    for (_ <- 1 to 50) {
      val c = Array.fill(Spectra.PolyOrder + 1)(rnd2.nextDouble() * 2 - 1)
      val d = (0 until Spectra.N).map(i =>
        c.indices.map(k => c(k) * math.pow(i.toDouble, (Spectra.PolyOrder - k).toDouble)).sum)
      val fit = rows.map(r => r.zip(d).map { case (a, b) => a * b }.sum)
      for (k <- c.indices)
        assert(math.abs(fit(k) - c(k)) < 1e-5, s"coeff $k: ${fit(k)} vs ${c(k)}")
    }
  }

  test("generated series kernels bit-equal their eval path and guard NULL elements") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.{StructField, StructType}
    import graft.functions.AssertNoNullElements
    val (cu, cv, keff, tdt) = (1586.09, 86.28, 5799.2, 40.0)
    val cosA = graft.functions.Rotd.angles.map(_._1).toArray
    val sinA = graft.functions.Rotd.angles.map(_._2).toArray
    def secs(sos: Seq[Spectra.Sos]) = sos.map(s => (s.b0, s.b1, s.b2, s.a1, s.a2))
    val kernels: Seq[(Expression, Expression) => Expression] = Seq(
      (a, _) => SdofPeak(a, cu, cv, keff, tdt),
      (a, _) => IirCascadeState(a, Seq((0.2, 0.4, 0.2, -0.18, 0.05))),
      (a, _) => IirCascadeState(a, secs(Spectra.BandSos)),
      (a, _) => IirCascadeState(a, secs(Spectra.ProdBandSos)),
      (a, _) => IirCascadeSeries(a, secs(Spectra.BandSos)),
      (a, _) => IirCascadeSeries(a, secs(Spectra.ProdBandSos)),
      (a, _) => CumTrapz(a, 0.05),
      (a, _) => CumTrapz(a, 0.05, 9.81, 10.0),
      (a, b) => RotdStats(a, b, cosA, sinA, cu, cv, keff, tdt, raw = false),
      (a, b) => RotdStats(a, b, cosA, sinA, 0, 0, 1, 0, raw = true))
    def bits(v: Any): Seq[Long] = v match {
      case d: Double => Seq(java.lang.Double.doubleToRawLongBits(d))
      case a: GenericArrayData => a.toDoubleArray().toSeq.map(java.lang.Double.doubleToRawLongBits)
      case xs: scala.collection.Seq[_] => xs.toSeq.map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

    // no interpreted fallback: a kernel whose Java fails to compile
    // fails the query instead of silently running eval
    val spark = Sessions.builder("local[2]", 2)
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // series come from an RDD-backed column: a literal (or a local
      // relation) would be constant-folded through eval
      val schema = StructType(Seq("p0", "p9").map(StructField(_, ArrayType(DoubleType))))
      def frame(rows: Seq[Row]) =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      val p0 = ColumnBridge.expression(col("p0"))
      val p9 = ColumnBridge.expression(col("p9"))
      val series = Seq(Nil, Seq(rnd.nextDouble() * 2e6 - 1e6)) ++ Seq.fill(60)(randSeries())
      val data = frame(series.map(s => Row(s, randSeries())) :+ Row(randSeries(), Nil))
      // declared containsNull = true: the guard is emitted and passes;
      // behind AssertNoNullElements it compiles to nothing
      for (wrap <- Seq[Expression => Expression](identity, AssertNoNullElements(_))) {
        val out = data.select(col("p0") +: col("p9") +:
          kernels.map(k => ColumnBridge.column(k(wrap(p0), wrap(p9)))): _*)
        val rows = out.collect()
        val plan = out.queryExecution.executedPlan
        assert(plan.collect { case w: WholeStageCodegenExec => w.child }
          .exists(_.isInstanceOf[ProjectExec]), s"projection not whole-stage codegen'd:\n$plan")
        assert(rows.length == series.size + 1)
        for (r <- rows; (k, j) <- kernels.zipWithIndex) {
          val (a, b) = (r.getSeq[Double](0), r.getSeq[Double](1))
          val want = k(lit(a), lit(b)).eval(null)
          assert(bits(r.get(j + 2)) == bits(want), s"${out.columns(j + 2)} on $a / $b")
        }
      }
      // an actual NULL element fails the generated kernel loudly (the
      // failing tasks' stack traces are expected; keep them out of the log)
      spark.sparkContext.setLogLevel("OFF")
      val nulled = Seq[Any](1.0, null, 3.0)
      for ((row, side) <- Seq(Row(nulled, Seq(1.0, 2.0, 3.0)) -> "p0",
                              Row(Seq(1.0, 2.0, 3.0), nulled) -> "p9")) {
        val df = frame(Seq(row))
        for (k <- kernels; e = k(p0, p9) if side == "p0" || e.isInstanceOf[RotdStats]) {
          val ex = intercept[Exception](df.select(ColumnBridge.column(e)).collect())
          assert(causes(ex).exists(c => c.isInstanceOf[IllegalArgumentException] &&
            c.getMessage.contains("NULL element")), s"${e.prettyName} over $side: $ex")
        }
      }
    } finally spark.stop()
  }

  test("Butterworth band-pass SOS cascade has the closed-form Butterworth response") {
    // |H_d(e^{jw})| must equal the analog Butterworth band-pass
    // magnitude at the bilinear-prewarped frequency: |H_a(jW)|^2 =
    // 1 / (1 + ((W^2 - w0^2)/(bw*W))^{2n}), W = 4 tan(w/2). Exact
    // identity of the bilinear transform — any design error (pole
    // transform, pairing, gain) breaks it.
    def h2(sos: Seq[Spectra.Sos], w: Double): Double = {
      // |Π sections|² via complex arithmetic at z = e^{jw}
      val (c1, s1) = (math.cos(-w), math.sin(-w))
      val (c2, s2) = (math.cos(-2 * w), math.sin(-2 * w))
      sos.foldLeft(1.0) { (acc, s) =>
        val nr = s.b0 + s.b1 * c1 + s.b2 * c2
        val ni = s.b1 * s1 + s.b2 * s2
        val dr = 1.0 + s.a1 * c1 + s.a2 * c2
        val di = s.a1 * s1 + s.a2 * s2
        acc * (nr * nr + ni * ni) / (dr * dr + di * di)
      }
    }
    for ((n, sos) <- Seq(2 -> Spectra.BandSos, 4 -> Spectra.ProdBandSos)) {
      def warp(f: Double) = 4.0 * math.tan(math.Pi * f * Spectra.Dt)
      val w1 = warp(Spectra.BandLowHz); val w2 = warp(Spectra.BandHighHz)
      val bw = w2 - w1; val w0 = math.sqrt(w1 * w2)
      def analog2(bigW: Double): Double = {
        val r = (bigW * bigW - w0 * w0) / (bw * bigW)
        1.0 / (1.0 + math.pow(r, 2 * n))
      }
      // band edges: exactly -3 dB
      for (f <- Seq(Spectra.BandLowHz, Spectra.BandHighHz)) {
        val w = 2 * math.Pi * f * Spectra.Dt
        assert(math.abs(h2(sos, w) - 0.5) < 1e-9, s"n=$n edge $f Hz: ${h2(sos, w)}")
      }
      // center frequency (digital image of w0): unit gain
      val wc = 2.0 * math.atan(w0 / 4.0)
      assert(math.abs(h2(sos, wc) - 1.0) < 1e-9, s"n=$n center: ${h2(sos, wc)}")
      // zeros at DC and Nyquist
      assert(h2(sos, 1e-9) < 1e-12 && h2(sos, math.Pi - 1e-9) < 1e-10, s"n=$n rails")
      // full-sweep identity against the closed form
      for (k <- 1 until 200) {
        val w = math.Pi * k / 200.0
        val want = analog2(4.0 * math.tan(w / 2.0))
        assert(math.abs(h2(sos, w) - want) < 1e-9, s"n=$n w=$w: ${h2(sos, w)} vs $want")
      }
    }
  }

  test("RotdStats matches per-angle SdofPeak folds + numpy-style median") {
    val (cu, cv, keff, tdt) = (1586.09, 86.28, 5799.2, 40.0)
    val angles = graft.functions.Rotd.angles
    val cosA = angles.map(_._1).toArray
    val sinA = angles.map(_._2).toArray
    def sdofPeak(ps: Seq[Double]): Double =
      if (ps.isEmpty) 0.0
      else ps.tail.foldLeft((0.0, 0.0, ps.head, 0.0)) { case ((u, v, pn, peak), x) =>
        val u1 = (x + pn + cu * u + cv * v) / keff
        (u1, tdt * (u1 - u) - v, x, math.max(peak, math.abs(u1)))
      }._4
    def stats(peaks: Array[Double]): Array[Double] = {
      val s = peaks.sorted
      val n = s.length
      val med = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      Array(s(0), med, s(n - 1))
    }
    for (_ <- 1 to 200) {
      val p0 = randSeries()
      val p9 = p0.indices.map(_ => rnd.nextDouble() * 2e6 - 1e6)
      // oscillator mode: each angle is the SdofPeak fold of the rotated series
      val got = RotdStats(lit(p0), lit(p9), cosA, sinA, cu, cv, keff, tdt, raw = false)
        .eval(null).asInstanceOf[GenericArrayData].toDoubleArray()
      val peaks = angles.map { case (c, s) =>
        sdofPeak(p0.indices.map(i => c * p0(i) + s * p9(i)))
      }.toArray
      assert(got.sameElements(stats(peaks)), s"osc mode on $p0 / $p9")
      // raw mode: per-angle peak |rotated|
      val gotRaw = RotdStats(lit(p0), lit(p9), cosA, sinA, 0, 0, 1, 0, raw = true)
        .eval(null).asInstanceOf[GenericArrayData].toDoubleArray()
      val rawPeaks = angles.map { case (c, s) =>
        p0.indices.foldLeft(0.0)((m, i) => math.max(m, math.abs(c * p0(i) + s * p9(i))))
      }.toArray
      assert(gotRaw.sameElements(stats(rawPeaks)), s"raw mode on $p0 / $p9")
    }
  }

  test("RotD production grid (180 angles) is consistent with the checked 18-angle grid") {
    // The 18-angle grid (k*10 deg) is a SUBSET of the 180-angle
    // production grid (k*1 deg), so refinement can only widen the
    // envelope: RotD100 monotone non-decreasing, RotD0 monotone
    // non-increasing, and the coarse RotD50 must stay inside the fine
    // envelope. Pins that dialing NAngles up (production profile,
    // SURVEY §5) never produces contradictory statistics.
    val (cu, cv, keff, tdt) = (1586.09, 86.28, 5799.2, 40.0)
    val fine = graft.functions.Rotd.anglesN(graft.functions.Rotd.ProdNAngles)
    // every 10th fine angle IS the coarse grid — bitwise by
    // construction, so the envelope comparisons below are exact; the
    // shipped 18-angle table matches it to FP-noise (pi*k/18 vs
    // pi*10k/180 differ in the last ulp)
    val coarse = fine.zipWithIndex.collect { case (a, i) if i % 10 == 0 => a }
    graft.functions.Rotd.angles.zip(coarse).foreach { case ((c1, s1), (c2, s2)) =>
      assert(math.abs(c1 - c2) < 1e-12 && math.abs(s1 - s2) < 1e-12,
        "shipped coarse grid must align with every 10th production angle")
    }
    def stats(angles: Seq[(Double, Double)], p0: Seq[Double], p9: Seq[Double]): Array[Double] =
      RotdStats(lit(p0), lit(p9),
        angles.map(_._1).toArray, angles.map(_._2).toArray, cu, cv, keff, tdt, raw = false)
        .eval(null).asInstanceOf[GenericArrayData].toDoubleArray()
    for (_ <- 1 to 50) {
      val p0 = randSeries()
      val p9 = p0.indices.map(_ => rnd.nextDouble() * 2e6 - 1e6)
      val c = stats(coarse, p0, p9)
      val f = stats(fine, p0, p9)
      assert(f(2) >= c(2), s"RotD100 must not shrink under grid refinement: ${f(2)} < ${c(2)}")
      assert(f(0) <= c(0), s"RotD0 must not grow under grid refinement: ${f(0)} > ${c(0)}")
      assert(c(1) >= f(0) && c(1) <= f(2),
        s"coarse RotD50 ${c(1)} outside fine envelope [${f(0)}, ${f(2)}]")
      assert(f(1) >= f(0) && f(1) <= f(2), "fine RotD50 outside its own envelope")
    }
  }

  test("Md5Slices matches the conv(substring(md5)) string spelling on arbitrary keys") {
    import graft.functions.Md5Slices
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.commons.codec.digest.DigestUtils
    for (_ <- 1 to 300) {
      val key = (1 to (1 + rnd.nextInt(40)))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString + "_" + rnd.nextInt(1000)
      val hex = DigestUtils.md5Hex(key.getBytes("UTF-8"))
      val n = 1 + rnd.nextInt(3)
      val got = Md5Slices(Literal(UTF8String.fromString(key)), n)
        .eval(null).asInstanceOf[GenericArrayData].toLongArray()
      val want = (0 until n).map(i =>
        java.lang.Long.parseLong(hex.substring(10 * i, 10 * i + 10), 16)).toArray
      assert(got.sameElements(want), s"key=$key n=$n got=${got.toSeq} want=${want.toSeq}")
      val got60 = graft.functions.Md5Prefix60(Literal(UTF8String.fromString(key)))
        .eval(null).asInstanceOf[Long]
      assert(got60 == java.lang.Long.parseLong(hex.substring(0, 15), 16),
        s"prefix60 mismatch on $key")
    }
  }

  test("VecDot matches the sequential fold on arbitrary pairs") {
    for (_ <- 1 to 300) {
      val (a, b) = (randSeries(), randSeries())
      val n = math.min(a.length, b.length)
      val got = VecDot(lit(a), lit(b)).eval(null).asInstanceOf[Double]
      val want = (0 until n).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      assert(got == want)
    }
  }

  test("streaming map-side combiners preserve the sketch folds exactly") {
    // r17 optimization: the sketch-family streams pre-combine each
    // scan partition's rows before the state shuffle (map-side
    // aggregation): the register sketches (HLL max, CMS and histogram
    // +, Bloom |) through Registers.combine, KMV through its own set
    // combine. For each, on arbitrary inputs split into arbitrary
    // partitions: folding the COMBINED partials must produce the
    // identical final state as folding the raw rows — the algebraic
    // property (assoc/comm[/idem]) the combine relies on.
    import graft.streaming._
    def splits[A](xs: Seq[A]): Seq[Seq[A]] = {
      val k = 1 + rnd.nextInt(4)
      xs.grouped(math.max(1, (xs.size + k - 1) / k)).toSeq
    }
    val slots = 16
    val merges = Seq[(String, (Long, Long) => Long, (Long, Long) => Long, () => Long)](
      ("max", Registers.Max, (a, b) => if (a > b) a else b, () => 1L + rnd.nextInt(55)),
      ("+", Registers.Sum, (a, b) => a + b, () => 1L + rnd.nextInt(5)),
      ("|", Registers.Or, (a, b) => a | b, () => 1L << rnd.nextInt(60)))
    for (_ <- 1 to 100) {
      for ((name, merge, plain, value) <- merges) {
        val rows = Seq.fill(rnd.nextInt(200))(
          (s"t${rnd.nextInt(3)}", rnd.nextInt(slots).toLong, value()))
        val raw = rows.groupBy(_._1).map { case (k, xs) =>
          k -> (0 until slots).map(i => xs.filter(_._2 == i).map(_._3).foldLeft(0L)(plain))
        }
        val comb = splits(rows).flatMap(p => Registers.combine(merge)(p.iterator))
          .groupBy(_._1).map { case (k, xs) =>
            k -> Registers.absorb(merge)(new Array[Long](slots), xs.iterator).toSeq
          }
        assert(comb == raw, s"combine-then-fold differs from the raw fold under $name")
      }
      // KMV: distinct-sorted take-K
      val hs = Seq.fill(rnd.nextInt(200))(
        StreamingDistinctKmv.Hashed(s"t${rnd.nextInt(3)}", rnd.nextInt(50).toLong))
      def kmvOf(xs: Seq[StreamingDistinctKmv.Hashed]) =
        xs.groupBy(_.event_type).map { case (t, ys) =>
          t -> ys.map(_.h).distinct.sorted.take(graft.operators.SketchOps.KmvK)
        }
      assert(kmvOf(splits(hs).flatMap(p =>
        StreamingDistinctKmv.combine(p.iterator))) == kmvOf(hs))
    }
  }
}
