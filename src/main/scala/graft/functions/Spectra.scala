package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Portable spectral kernels for the frequency-domain stages of the
  * reference pipeline (`nzgmdb/calculation/snr.py:20-139` FFT + SNR,
  * `data_processing/waveform_manipulation.py:15,123` detrend / taper /
  * Butterworth).
  *
  * Everything reduces to the two primitives proven bit-exact across
  * engines (dev/PORTABILITY.md): sequential folds over double arrays
  * and +,-,*,/ with literal constants. Trig/log appear ONLY in
  * driver-side Scala when precomputing constant tables (DFT twiddle
  * rows, Konno-Ohmachi weight rows, biquad coefficients) — both
  * engines then consume identical double literals.
  *
  * Scale notes: with the synthetic 16-sample series the DFT-as-dot-rows
  * is exact and O(N·K) per record; at production waveform lengths
  * (2^15+ samples) the same relational shape holds — per-record
  * spectra via a codegen'd FFT `Expression` (or a `mapPartitions`
  * kernel, the MultiModalOps slot), then the banded KO smoothing and
  * band-ratio SNR stay exactly these literal-weighted reductions.
  */
object Spectra {

  val N: Int = Portable.SeriesN // samples per synthetic record (shared source of truth)
  val Dt = 0.05   // sampling interval, s  (fs = 20 Hz)
  val Bins: Seq[Int] = 1 to 8 // one-sided DFT bins (DC excluded)
  val KoB = 20.0  // Konno-Ohmachi bandwidth coefficient

  def freqHz(k: Int): Double = k / (N * Dt)

  private def dl(d: Double): String = Portable.dl(d)

  /** Literal row as a Spark array column / DuckDB list expression. */
  def rowCol(xs: Seq[Double]): Column = array(xs.map(lit): _*)
  def rowSql(xs: Seq[Double]): String =
    xs.map(dl).mkString("[", ", ", "]")

  // ---- series ----------------------------------------------------

  /** Synthetic signal window (the post-p-wave slice): acc_c grid
    * derivation as doubles. `pk` in scope. Spark side unrolls to an
    * `array(...)` of literal-index scalar expressions — a HOF
    * `transform` lambda is CodegenFallback and runs INTERPRETED,
    * breaking whole-stage codegen for every consumer of the series
    * (measured ~1-2 s per interpreted stage over the sf0.1 suite);
    * element values are identical. The DuckDB twin keeps the
    * `list_transform` spelling (same arithmetic per element). */
  val xsSpark: String =
    (0 until N).map(n => s"CAST(${Portable.accTerm("pk", n.toString)} AS DOUBLE)")
      .mkString("array(", ", ", ")")
  val xsSql: String =
    s"list_transform(range(0, $N), n -> CAST(${Portable.accTerm("pk", "n")} AS DOUBLE))"

  /** Synthetic noise window (the pre-p-wave slice): smaller-amplitude
    * independent derivation from the record key. */
  val ysSpark: String =
    (0 until N).map(n => s"CAST(${Portable.noiseTerm("pk", n.toString)} AS DOUBLE)")
      .mkString("array(", ", ", ")")
  val ysSql: String =
    s"list_transform(range(0, $N), n -> CAST(${Portable.noiseTerm("pk", "n")} AS DOUBLE))"

  // ---- DFT as literal twiddle rows -------------------------------

  def cosRow(k: Int): Seq[Double] =
    (0 until N).map(n => math.cos(-2.0 * math.Pi * k * n / N))
  def sinRow(k: Int): Seq[Double] =
    (0 until N).map(n => math.sin(-2.0 * math.Pi * k * n / N))

  /** Codegen'd dot against a literal row ([[VecDot]] — bit-equal to
    * the [[Portable.dot]] fold, compiled instead of interpreted). */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Power at bin k of the series held in column `xs`: Re²+Im², each a
    * codegen'd dot against a literal twiddle row. */
  def powerCol(xs: String, k: Int): Column = {
    val re = vecDot(col(xs), rowCol(cosRow(k)))
    val im = vecDot(col(xs), rowCol(sinRow(k)))
    re * re + im * im
  }
  def powerSql(xs: String, k: Int): String = {
    val re = Portable.dotSql(xs, rowSql(cosRow(k)))
    val im = Portable.dotSql(xs, rowSql(sinRow(k)))
    s"($re * $re + $im * $im)"
  }

  // ---- Konno-Ohmachi smoothing as literal weight rows ------------

  /** KO window w(f_j, f_k) = (sin(b·log10(f_j/f_k)) / (b·log10(f_j/f_k)))^4
    * over the fixed one-sided grid; 1 at j=k. */
  def koRow(k: Int): Seq[Double] = Bins.map { j =>
    if (j == k) 1.0
    else {
      val x = KoB * math.log10(freqHz(j) / freqHz(k))
      math.pow(math.sin(x) / x, 4)
    }
  }

  /** Smoothed power at bin k: the KO-weighted mean of the per-bin
    * power columns p1..p8 (explicit left-associated linear
    * combination — identical structure both engines). */
  def koSmoothCol(p: Int => Column, k: Int): Column = {
    val w = koRow(k)
    val num = Bins.zip(w).map { case (j, wj) => lit(wj) * p(j) }.reduce(_ + _)
    num / lit(w.sum)
  }
  def koSmoothSql(p: Int => String, k: Int): String = {
    val w = koRow(k)
    val num = Bins.zip(w).map { case (j, wj) => s"${dl(wj)} * ${p(j)}" }.mkString(" + ")
    s"(($num) / ${dl(w.sum)})"
  }

  // ---- detrend / taper -------------------------------------------

  // closed-form least-squares over the fixed index grid 0..N-1
  val SumN: Double  = (0 until N).sum.toDouble          // 120
  val SumN2: Double = (0 until N).map(n => n * n).sum.toDouble // 1240
  val LsqDen: Double = N * SumN2 - SumN * SumN          // 5440

  /** Welch (parabolic) taper — polynomial, no trig. */
  def welchRow: Seq[Double] = (0 until N).map { n =>
    val q = (n - (N - 1) / 2.0) / ((N - 1) / 2.0)
    1.0 - q * q
  }

  /** Detrended + tapered series from materialized columns `xs`
    * (array), `a_i` (intercept), `b_s` (slope). Per-element arithmetic
    * is identical on both engines; only the indexing idiom differs
    * (Spark unrolled to a codegen'd array constructor, see
    * [[xsSpark]]). */
  def dtSeriesSpark(xs: String): String =
    (0 until N).map { i =>
      s"($xs[$i] - (a_i + b_s * CAST($i AS DOUBLE))) * ${dl(welchRow(i))}"
    }.mkString("array(", ", ", ")")
  def dtSeriesSql(xs: String): String =
    s"list_transform(range(1, ${N + 1}), i -> ($xs[i] - (a_i + b_s * CAST(i - 1 AS DOUBLE))) * ${rowSql(welchRow)}[i])"

  // ---- Butterworth band-pass SOS cascade (scipy-equivalent) ------

  /** Minimal complex arithmetic for the driver-side filter design. */
  private case class Cx(re: Double, im: Double) {
    def +(o: Cx) = Cx(re + o.re, im + o.im)
    def -(o: Cx) = Cx(re - o.re, im - o.im)
    def *(o: Cx) = Cx(re * o.re - im * o.im, re * o.im + im * o.re)
    def /(o: Cx) = {
      val d = o.re * o.re + o.im * o.im
      Cx((re * o.re + im * o.im) / d, (im * o.re - re * o.im) / d)
    }
    def sqrtC: Cx = { // principal branch
      val m = math.hypot(re, im)
      val sr = math.sqrt((m + re) / 2.0)
      val si = math.sqrt((m - re) / 2.0)
      Cx(sr, if (im < 0) -si else si)
    }
  }

  /** One second-order section of the cascade:
    * y = b0·x + b1·x₋₁ + b2·x₋₂ − a1·y₋₁ − a2·y₋₂. */
  final case class Sos(b0: Double, b1: Double, b2: Double, a1: Double, a2: Double)

  /** Butterworth band-pass SOS design, equivalent to the reference's
    * `signal.butter(n, [low, high], btype="band", output="sos")`
    * (`waveform_manipulation.py:123-146`): analog low-pass prototype
    * poles → lp2bp pole transform → bilinear with pre-warp → monic
    * biquads from conjugate pole pairs. The 2n zeros land n at z=1
    * and n at z=−1; each section takes one (+1, −1) pair (numerator
    * g·(1 − z⁻²)), with the full gain on the first section. All
    * trig/sqrt runs ONCE here on the driver; both engines consume the
    * same double literals (the dev/PORTABILITY.md rule). */
  def butterBandpassSos(n: Int, lowHz: Double, highHz: Double, dt: Double): Seq[Sos] = {
    val fs2 = 4.0 // bilinear constant 2·fs at scipy's internal fs = 2
    def warp(f: Double): Double = fs2 * math.tan(math.Pi * f * dt)
    val w1 = warp(lowHz); val w2 = warp(highHz)
    val bw = w2 - w1; val w0 = math.sqrt(w1 * w2)
    val proto = (0 until n).map { k =>
      val th = math.Pi * (2 * k + n + 1) / (2.0 * n)
      Cx(math.cos(th), math.sin(th))
    }
    val bp = proto.flatMap { p =>
      val pb = p * Cx(bw / 2.0, 0.0)
      val d = (pb * pb - Cx(w0 * w0, 0.0)).sqrtC
      Seq(pb + d, pb - d)
    }
    val zp = bp.map(p => (Cx(fs2, 0.0) + p) / (Cx(fs2, 0.0) - p))
    // k_analog = bw^n (butter prototype gain 1); analog zeros: n at 0
    val den = bp.foldLeft(Cx(1.0, 0.0))((acc, p) => acc * (Cx(fs2, 0.0) - p))
    val kz = (Cx(math.pow(fs2, n) * math.pow(bw, n), 0.0) / den).re
    val upper = zp.filter(_.im > 1e-12).sortBy(p => (p.re, p.im))
    val reals = zp.filter(p => math.abs(p.im) <= 1e-12).map(_.re).sorted
    // digital poles come in conjugate pairs, so real-axis poles must
    // pair among themselves; an odd count means the design degenerated
    // (fail here with the pairing message, not a MatchError below)
    require(reals.size % 2 == 0,
      s"pole pairing failed: ${reals.size} unpaired real poles for order $n")
    val pairs = upper.map(p => (-2.0 * p.re, p.re * p.re + p.im * p.im)) ++
      reals.grouped(2).map { case Seq(r1, r2) => (-(r1 + r2), r1 * r2) }.toSeq
    require(pairs.size == n, s"pole pairing failed: ${pairs.size} sections for order $n")
    pairs.zipWithIndex.map { case ((pa1, pa2), i) =>
      val g = if (i == 0) kz else 1.0
      Sos(g, 0.0, -g, pa1, pa2)
    }
  }

  /** CHECKED band-pass profile — the reference's default band at the
    * synthetic dt: lowcut `low_cut_default` 0.04 Hz, highcut
    * 1/(2.5·dt) = 8 Hz (`waveform_manipulation.py:236-237`,
    * `config.yaml low_cut_default`), as TWO cascaded biquads (scipy
    * order 2 → 4-pole band shape). The production profile
    * [[ProdBandSos]] is the reference's `order_default: 4` (4
    * sections) — same plan, same kernel, more constant sections. */
  val BandLowHz = 0.04
  val BandHighHz = 8.0
  val BandSos: Seq[Sos] = butterBandpassSos(2, BandLowHz, BandHighHz, Dt)
  val ProdBandSos: Seq[Sos] = butterBandpassSos(4, BandLowHz, BandHighHz, Dt)

  /** SOS cascade over the series column `tw`, codegen'd
    * ([[IirCascadeState]]): returns array(y_last, Σy²) of the final
    * section's output. */
  def cascadeCol(tw: Column, sos: Seq[Sos] = BandSos): Column =
    ColumnBridge.column(IirCascadeState(SeriesKernel.input(tw), sections(sos)))

  private def sections(sos: Seq[Sos]): Seq[Biquads.Section] =
    sos.map(s => (s.b0, s.b1, s.b2, s.a1, s.a2))

  /** DuckDB `list_reduce` twin of [[cascadeCol]]. State vector:
    * [x₋₁, x₋₂, y₋₁⁽⁰⁾, y₋₂⁽⁰⁾, …, y₋₁⁽ˢ⁻¹⁾, y₋₂⁽ˢ⁻¹⁾, Σy²]
    * (1-indexed in SQL); final output: y_last = st[2S+1],
    * Σy² = st[2S+2+1]. */
  def cascadeSql(tw: String, sos: Seq[Sos] = BandSos): String = {
    val (filter, y) = cascadeStepSql(sos)
    val newState = filter :+ s"st[${2 * sos.size + 3}] + $y * $y"
    val zeros = Seq.fill(2 * sos.size + 3)(dl(0.0)).mkString("[", ", ", "]")
    s"list_reduce(list_prepend($zeros, list_transform($tw, x -> [x])), " +
      s"(st, el) -> ${newState.mkString("[", ", ", "]")})"
  }

  /** One cascade step of the SQL twins, over the fold state `st` and
    * the element `el[1]`: the 2S+2 new filter-state entries (the
    * [[cascadeSql]] layout) and the final section's output. Section
    * s's input is section s−1's output, textually inlined — double
    * arithmetic is deterministic, so the re-evaluated subexpression
    * equals the Java local ([[Biquads]]). */
  private def cascadeStepSql(sos: Seq[Sos]): (Seq[String], String) = {
    def yExpr(j: Int): String = {
      val in = if (j == 0) "el[1]" else yExpr(j - 1)
      val Sos(b0, b1, b2, a1, a2) = sos(j)
      s"(${dl(b0)} * $in + ${dl(b1)} * st[${2 * j + 1}] + ${dl(b2)} * st[${2 * j + 2}]" +
        s" - ${dl(a1)} * st[${2 * j + 3}] - ${dl(a2)} * st[${2 * j + 4}])"
    }
    (Seq("el[1]", "st[1]") ++ sos.indices.flatMap(j => Seq(yExpr(j), s"st[${2 * j + 3}]")),
      yExpr(sos.size - 1))
  }

  /** 1-based SQL index of y_last / Σy² in [[cascadeSql]]'s state. */
  def cascadeLastIdx(sos: Seq[Sos] = BandSos): Int = 2 * sos.size + 1
  def cascadeEnergyIdx(sos: Seq[Sos] = BandSos): Int = 2 * sos.size + 3

  // ---- series-output cascade + integration + polyfit --------------

  /** Full filtered series ([[IirCascadeSeries]]). */
  def cascadeSeriesCol(tw: Column, sos: Seq[Sos] = BandSos): Column =
    ColumnBridge.column(IirCascadeSeries(SeriesKernel.input(tw), sections(sos)))

  /** DuckDB twin of [[cascadeSeriesCol]]: the [[cascadeSql]] state
    * grows a tail — each step appends the final section's output —
    * and the series is the fold result sliced past the fixed
    * 2S+2-entry filter-state prefix. */
  def cascadeSeriesSql(tw: String, sos: Seq[Sos] = BandSos): String = {
    val (filter, y) = cascadeStepSql(sos)
    val pre = 2 * sos.size + 2
    val zeros = Seq.fill(pre)(dl(0.0)).mkString("[", ", ", "]")
    s"(list_reduce(list_prepend($zeros, list_transform($tw, x -> [x])), " +
      s"(st, el) -> ${filter.mkString("[", ", ", "]")} || st[${pre + 1}:] || [$y]))" +
      s"[${pre + 1}:]"
  }

  /** Cumulative trapezoid ([[CumTrapz]]), `initial=0`, with the fused
    * elementwise `·mul/div` post-factor (identity by default). */
  def cumTrapzCol(xs: Column, mul: Double = 1.0, div: Double = 1.0): Column =
    ColumnBridge.column(CumTrapz(SeriesKernel.input(xs), Dt, mul, div))

  /** DuckDB twin of [[cumTrapzCol]]: seed the fold with
    * (first element, 0) and walk the rest — state [x₋₁] ++ outputs,
    * out(i) = out(i−1) + dt·(x₋₁ + x)/2, same association order. */
  def cumTrapzSql(xs: String): String =
    s"list_reduce(list_prepend([($xs)[1], ${dl(0.0)}], list_transform(($xs)[2:], x -> [x])), " +
      s"(st, el) -> [el[1]] || st[2:] || [st[len(st)] + ${dl(Dt)} * (st[1] + el[1]) / 2e0])" +
      s"[2:]"

  /** Pseudo-inverse rows of the degree-`order` polynomial fit over the
    * fixed grid x = 0..n−1 (`np.polyfit(arange(n), d, order)`): row k
    * dotted with the data vector gives coefficient k,
    * highest-power-first. Solved once on the driver by thin QR
    * (modified Gram-Schmidt) in the scaled basis t = i/(n−1); both
    * engines consume the rows as double literals. */
  def polyfitRows(n: Int, order: Int): Seq[Seq[Double]] = {
    val m = order + 1
    // Fit in the scaled basis t = i/(n−1): the raw power basis at
    // order 6 is ~1e10-conditioned; the coefficient rescale below is
    // an exact diagonal map back.
    val sc = (n - 1).toDouble
    val v = Array.tabulate(n, m)((i, k) => math.pow(i.toDouble / sc, (order - k).toDouble))
    // Thin QR via modified Gram-Schmidt on the scaled Vandermonde —
    // scaling plus QR keeps the fit residual at ~1e-10, where a
    // normal-equations solve would lose 6+ digits even scaled.
    val q = Array.tabulate(n, m)((i, k) => v(i)(k))
    val r = Array.ofDim[Double](m, m)
    for (k <- 0 until m) {
      r(k)(k) = math.sqrt((0 until n).map(i => q(i)(k) * q(i)(k)).sum)
      for (i <- 0 until n) q(i)(k) /= r(k)(k)
      for (j <- k + 1 until m) {
        r(k)(j) = (0 until n).map(i => q(i)(k) * q(i)(j)).sum
        for (i <- 0 until n) q(i)(j) -= r(k)(j) * q(i)(k)
      }
    }
    // R⁻¹ (upper triangular) by back substitution
    val rInv = Array.ofDim[Double](m, m)
    for (k <- m - 1 to 0 by -1) {
      rInv(k)(k) = 1.0 / r(k)(k)
      for (j <- k + 1 until m) {
        var sum = 0.0
        for (l <- k + 1 to j) sum += r(k)(l) * rInv(l)(j)
        rInv(k)(j) = -sum / r(k)(k)
      }
    }
    // P = R⁻¹ Qᵀ, rescaled back to the i-power basis:
    // c_k = c_scaled_k / sc^(order−k)
    (0 until m).map(k => (0 until n).map(i =>
      (0 until m).map(j => rInv(k)(j) * q(i)(j)).sum
        / math.pow(sc, (order - k).toDouble)).toSeq)
  }

  /** The reference's `poly_order_default: 6` displacement fit. */
  val PolyOrder = 6
  lazy val PolyRows: Seq[Seq[Double]] = polyfitRows(N, PolyOrder)
}
