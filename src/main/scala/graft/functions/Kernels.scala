package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd per-record recurrence kernels.
  *
  * The composable forms — `aggregate(...)` folds with array-typed
  * lambda state — are higher-order functions, which Spark evaluates
  * INTERPRETED: every step allocates a boxed state array and walks an
  * expression tree (measured 5-10x the whole-query cost on the sf0.1
  * IM pipeline). These expressions compile the same recurrences into
  * tight primitive loops inside whole-stage codegen. The arithmetic
  * is written with the identical association order as the fold form
  * and the DuckDB `list_reduce` twin, so swapping changes no checked
  * output bit. Coefficients are constructor constants (they are
  * Scala-computed literals at every call site), so the generated code
  * inlines them. Each recurrence is written once per engine path: a
  * Scala evaluator and a Java emitter here ([[Newmark]], [[Biquads]]),
  * a DuckDB twin beside its column builder ([[Sdof.peakSql]],
  * [[Spectra.cascadeSql]]); [[SeriesKernel]] holds what every
  * one-series kernel shares.
  */

/** Null-element guard shared by the series kernels. The kernels read
  * elements with `getDouble`, which silently yields 0/garbage for a
  * NULL element — and their inputs are usually DECLARED
  * `containsNull = true` (any array() over nullable source columns
  * is), even though every call site builds value-wise non-null
  * series. So the type check cannot reject nullable arrays; instead
  * each kernel fails loudly at eval time on an actual NULL element.
  * The guard is emitted/executed only when the input TYPE admits
  * nulls — and the column builders wrap kernel inputs in
  * [[AssertNoNullElements]], which validates once per row and
  * refines the type to `containsNull = false`, so in the committed
  * plans the per-kernel guards compile to nothing (a kernel-dense
  * projection re-guarding per call measured ~25% slower,
  * dev/SCALING.md round 9). */
private[functions] object KernelGuards {
  def mayContainNulls(t: DataType): Boolean = t match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  def requireNoNulls(a: ArrayData, op: String): Unit = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$op: NULL element at index $i - series kernels require non-null array elements")
      i += 1
    }
  }

  /** Generated-code twin of [[requireNoNulls]], inlined so the guard
    * needs no object reference in the Janino-compiled class. Empty
    * when the input type already promises non-null elements. */
  def genGuard(ctx: CodegenContext, a: String, op: String, t: DataType): String =
    if (!mayContainNulls(t)) ""
    else {
      val z = ctx.freshName("z")
      s"""for (int $z = 0; $z < $a.numElements(); $z++)
         |  if ($a.isNullAt($z)) throw new IllegalArgumentException(
         |    "$op: NULL element at index " + $z + " - series kernels require non-null array elements");""".stripMargin
    }
}

/** Type-refining null-element assertion: validates that the child
  * array has no NULL elements (one `isNullAt` pass) and re-declares
  * its type as `containsNull = false`, so every downstream series
  * kernel skips its own guard. The column builders ([[Sdof]],
  * [[Spectra]], [[Rotd]]) wrap kernel inputs in this node — the
  * wrapped subtree is what whole-stage codegen's subexpression
  * elimination dedups, so a projection calling eight kernels on the
  * same series pays ONE validation pass, not eight (measured ~25%
  * on im_psa with per-kernel guards, noise with this node —
  * dev/SCALING.md round 9). Pass-through for the array value itself;
  * NULL arrays stay NULL (only elements are asserted). */
case class AssertNoNullElements(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case t => t
  }
  override def prettyName: String = "assert_no_null_elements"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"assert_no_null_elements requires array, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(xs, prettyName)
    xs
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |${ev.value} = $a;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AssertNoNullElements =
    copy(child = newChild)
}

/** Skeleton of a series kernel: one `array<double>` child folded by a
  * primitive loop. It owns what every such kernel shares — the type
  * check, the [[KernelGuards]] NULL-element guard on both paths and
  * the null-safe codegen plumbing — so a kernel supplies only its
  * loop: [[fold]] for the interpreted path and [[genFold]] for the
  * generated one, written with the same association order. */
abstract class SeriesKernel extends UnaryExpression {

  /** The kernel's loop over the guarded series. */
  protected def fold(xs: ArrayData): Any

  /** Java twin of [[fold]] over the series held in `a`; assigns the
    * result to `out`. */
  protected def genFold(ctx: CodegenContext, a: String, out: String): String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>, got $t")
  }

  final override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(xs, prettyName)
    fold(xs)
  }

  final override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |${genFold(ctx, a, ev.value)}
       """.stripMargin
    })
}

object SeriesKernel {

  /** A column builder's series argument: `c` behind
    * [[AssertNoNullElements]], so the kernels skip their own guard. */
  private[functions] def input(c: Column): Expression =
    AssertNoNullElements(ColumnBridge.expression(c))
}

/** The Newmark-beta SDOF step (see [[Sdof]] for the derivation), shared
  * by [[SdofPeak]] and [[RotdStats]]: state (u, v, p_prev) starting at
  * (0, 0, x(0)); per later element x: u' = (x + p_prev + cu*u + cv*v)
  * / keff; v' = tdt*(u' - u) - v. The caller supplies the input term
  * x(i): one series element, or a rotation of two. */
private[functions] object Newmark {

  /** Peak |u'| over the `n` inputs `x(0..n-1)`; 0 when `n` is 0. */
  def peak(n: Int, x: Int => Double, cu: Double, cv: Double, keff: Double, tdt: Double): Double = {
    var peak = 0.0
    if (n > 0) {
      var u = 0.0; var v = 0.0; var pn = x(0)
      var i = 1
      while (i < n) {
        val xi = x(i)
        val u1 = (xi + pn + cu * u + cv * v) / keff
        v = tdt * (u1 - u) - v
        u = u1
        pn = xi
        val au = math.abs(u1)
        if (au > peak) peak = au
        i += 1
      }
    }
    peak
  }

  /** Java twin of [[peak]]: raises the declared double `peak` to the
    * peak |u'| over the `n` inputs, `x(i)` being the Java input term
    * at index expression `i`. */
  def genPeak(ctx: CodegenContext, n: String, x: String => String, peak: String,
              cu: Double, cv: Double, keff: Double, tdt: Double): String = {
    val Seq(u, v, pn, i, xi, u1, au) =
      Seq("u", "v", "pn", "i", "x", "u1", "au").map(ctx.freshName)
    s"""if ($n > 0) {
       |  double $u = 0.0; double $v = 0.0;
       |  double $pn = ${x("0")};
       |  for (int $i = 1; $i < $n; $i++) {
       |    double $xi = ${x(i)};
       |    double $u1 = ($xi + $pn + ($cu) * $u + ($cv) * $v) / ($keff);
       |    $v = ($tdt) * ($u1 - $u) - $v;
       |    $u = $u1;
       |    $pn = $xi;
       |    double $au = java.lang.Math.abs($u1);
       |    if ($au > $peak) $peak = $au;
       |  }
       |}""".stripMargin
  }
}

/** Peak |u| of the Newmark-beta SDOF recurrence ([[Newmark]]) over the
  * negated ground-acceleration series `ps`. */
case class SdofPeak(child: Expression, cu: Double, cv: Double, keff: Double, tdt: Double)
    extends SeriesKernel {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sdof_peak"

  override protected def fold(ps: ArrayData): Any =
    Newmark.peak(ps.numElements(), ps.getDouble, cu, cv, keff, tdt)

  override protected def genFold(ctx: CodegenContext, a: String, out: String): String = {
    val Seq(n, peak) = Seq("n", "peak").map(ctx.freshName)
    s"""int $n = $a.numElements();
       |double $peak = 0.0;
       |${Newmark.genPeak(ctx, n, i => s"$a.getDouble($i)", peak, cu, cv, keff, tdt)}
       |$out = $peak;""".stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): SdofPeak =
    copy(child = newChild)
}

/** The second-order IIR (biquad) section shared by the two cascades —
  * the shape of the reference's Butterworth band-pass (`scipy.signal
  * .butter(..., output="sos")` + `sosfilt`, `data_processing/
  * waveform_manipulation.py:123-180`). Each element flows through the
  * sections (b0, b1, b2, a1, a2) in order, section s's input being
  * section s-1's output sample:
  * y = b0*x + b1*x1 + b2*x2 - a1*y1 - a2*y2, the association order of
  * the DuckDB `list_reduce` twin ([[Spectra.cascadeSql]]). */
private[functions] object Biquads {
  type Section = (Double, Double, Double, Double, Double)

  /** Runs the series through the cascade, handing each final-section
    * output sample to `emit(i, y)`. */
  def run(xs: ArrayData, sections: Seq[Section])(emit: (Int, Double) => Unit): Unit = {
    val n = xs.numElements()
    val s = sections.length
    val x1 = new Array[Double](s); val x2 = new Array[Double](s)
    val y1 = new Array[Double](s); val y2 = new Array[Double](s)
    var i = 0
    while (i < n) {
      var v = xs.getDouble(i)
      var j = 0
      while (j < s) {
        val (b0, b1, b2, a1, a2) = sections(j)
        val y = b0 * v + b1 * x1(j) + b2 * x2(j) - a1 * y1(j) - a2 * y2(j)
        x2(j) = x1(j); x1(j) = v
        y2(j) = y1(j); y1(j) = y
        v = y
        j += 1
      }
      emit(i, v)
      i += 1
    }
  }

  /** Java twin of [[run]], the section loop unrolled with coefficient
    * literals: `decls` declares the per-section state, `step` feeds the
    * Java double `in` through every section, `out` names the final
    * section's output sample inside the step and `last` its previous
    * output (the last sample, after the loop). */
  final case class Gen(decls: String, step: String, out: String, last: String)

  def gen(ctx: CodegenContext, sections: Seq[Section], in: String): Gen = {
    val st = sections.indices.map { j =>
      (ctx.freshName(s"x1_$j"), ctx.freshName(s"x2_$j"),
        ctx.freshName(s"y1_$j"), ctx.freshName(s"y2_$j"), ctx.freshName(s"y_$j"))
    }
    val decls = st.map { case (x1, x2, y1, y2, _) =>
      s"double $x1 = 0.0; double $x2 = 0.0; double $y1 = 0.0; double $y2 = 0.0;"
    }.mkString("\n")
    val step = sections.zip(st).zip(in +: st.map(_._5)).map {
      case (((b0, b1, b2, a1, a2), (x1, x2, y1, y2, y)), x) =>
        s"""double $y = ($b0) * $x + ($b1) * $x1 + ($b2) * $x2 - ($a1) * $y1 - ($a2) * $y2;
           |$x2 = $x1; $x1 = $x;
           |$y2 = $y1; $y1 = $y;""".stripMargin
    }.mkString("\n")
    Gen(decls, step, st.last._5, st.last._3)
  }
}

/** A [[Biquads]] cascade kernel; the two differ only in what they do
  * with each output sample. */
abstract class BiquadCascade extends SeriesKernel {
  def sections: Seq[Biquads.Section]

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = super.checkInputDataTypes() match {
    case TypeCheckResult.TypeCheckSuccess if sections.isEmpty =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires >= 1 section")
    case r => r
  }
}

/** Biquad cascade digest: array(y_last, sum(y^2)) of the final
  * section's output. */
case class IirCascadeState(child: Expression, sections: Seq[Biquads.Section])
  extends BiquadCascade {

  override def prettyName: String = "iir_cascade_state"

  override protected def fold(xs: ArrayData): Any = {
    var last = 0.0; var en = 0.0
    Biquads.run(xs, sections) { (_, y) => last = y; en = en + y * y }
    new GenericArrayData(Array(last, en))
  }

  override protected def genFold(ctx: CodegenContext, a: String, out: String): String = {
    val Seq(n, en, i, v, arr) = Seq("n", "en", "i", "v", "out").map(ctx.freshName)
    val c = Biquads.gen(ctx, sections, v)
    s"""int $n = $a.numElements();
       |${c.decls}
       |double $en = 0.0;
       |for (int $i = 0; $i < $n; $i++) {
       |  double $v = $a.getDouble($i);
       |  ${c.step}
       |  $en = $en + ${c.out} * ${c.out};
       |}
       |double[] $arr = new double[] { ${c.last}, $en };
       |$out = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);""".stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): IirCascadeState =
    copy(child = newChild)
}

/** [[IirCascadeState]]'s series-output sibling: returns the full
  * filtered series (scipy `sosfilt` output) instead of the
  * (last, energy) digest — the shape downstream integration /
  * polynomial-correction stages consume. DuckDB twin: the
  * growing-list fold [[Spectra.cascadeSeriesSql]]. */
case class IirCascadeSeries(child: Expression, sections: Seq[Biquads.Section])
  extends BiquadCascade {

  override def prettyName: String = "iir_cascade_series"

  override protected def fold(xs: ArrayData): Any = {
    val out = new Array[Double](xs.numElements())
    Biquads.run(xs, sections)((i, y) => out(i) = y)
    new GenericArrayData(out)
  }

  override protected def genFold(ctx: CodegenContext, a: String, out: String): String = {
    val Seq(n, i, v, arr) = Seq("n", "i", "v", "out").map(ctx.freshName)
    val c = Biquads.gen(ctx, sections, v)
    s"""int $n = $a.numElements();
       |${c.decls}
       |double[] $arr = new double[$n];
       |for (int $i = 0; $i < $n; $i++) {
       |  double $v = $a.getDouble($i);
       |  ${c.step}
       |  $arr[$i] = ${c.out};
       |}
       |$out = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);""".stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): IirCascadeSeries =
    copy(child = newChild)
}

/** Cumulative trapezoid integration (`scipy.integrate
  * .cumulative_trapezoid(..., initial=0.0)`) with an optional
  * elementwise post-factor: acc(i) = acc(i−1) + dt·(x(i−1) + x(i))/2,
  * out(i) = acc(i)·mul/div — the reference's `cumtrapz(...) * g / 10`
  * elementwise scaling fused into the same O(N) codegen'd pass (an
  * interpreted HOF transform for the scale costs more than the fold
  * itself). mul=div=1 is exact identity. DuckDB twin is the
  * growing-list `list_reduce` fold (+ `list_transform` when scaled). */
case class CumTrapz(child: Expression, dt: Double, mul: Double = 1.0, div: Double = 1.0)
  extends SeriesKernel {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "cum_trapz"

  override protected def fold(xs: ArrayData): Any = {
    val n = xs.numElements()
    val out = new Array[Double](n)
    var acc = 0.0
    if (n > 0) out(0) = acc * mul / div
    var i = 1
    while (i < n) {
      acc = acc + dt * (xs.getDouble(i - 1) + xs.getDouble(i)) / 2.0
      out(i) = acc * mul / div
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def genFold(ctx: CodegenContext, a: String, out: String): String = {
    val Seq(n, i, arr, acc) = Seq("n", "i", "out", "acc").map(ctx.freshName)
    s"""int $n = $a.numElements();
       |double[] $arr = new double[$n];
       |double $acc = 0.0;
       |if ($n > 0) $arr[0] = $acc * ($mul) / ($div);
       |for (int $i = 1; $i < $n; $i++) {
       |  $acc = $acc + ($dt) * ($a.getDouble($i - 1) + $a.getDouble($i)) / 2.0;
       |  $arr[$i] = $acc * ($mul) / ($div);
       |}
       |$out = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);""".stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): CumTrapz =
    copy(child = newChild)
}

/** RotD statistics [min, median, max] of the per-rotation-angle SDOF
  * response peaks — the RotD0/RotD50/RotD100 component definition
  * (Boore 2010) the reference's flatfiles publish per IM
  * (`nzgmdb/data_processing/merge_flatfiles.py:615-643`,
  * wiki `IM-Calculation.md`). Children are the two negated horizontal
  * ground-acceleration series (000 / 090 axes); for each angle k the
  * rotated input x = cos_k*x000 + sin_k*x090 drives the
  * [[Newmark]] recurrence [[SdofPeak]] runs, or — when
  * `raw` — the peak |x| itself (the PGA RotD variant, oscillator
  * skipped). The median over an even angle count is the numpy
  * convention: mean of the two middle order statistics. */
case class RotdStats(left: Expression, right: Expression,
    cosA: Array[Double], sinA: Array[Double],
    cu: Double, cv: Double, keff: Double, tdt: Double, raw: Boolean)
  extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "rotd_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(s"rotd_stats requires two array<double>, got $l, $r")
    }

  private def stats(peaks: Array[Double]): Array[Double] = {
    java.util.Arrays.sort(peaks)
    val n = peaks.length
    val med = if (n % 2 == 1) peaks(n / 2) else (peaks(n / 2 - 1) + peaks(n / 2)) / 2.0
    Array(peaks(0), med, peaks(n - 1))
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val p0 = a.asInstanceOf[ArrayData]
    val p9 = b.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(left.dataType))
      KernelGuards.requireNoNulls(p0, prettyName)
    if (KernelGuards.mayContainNulls(right.dataType))
      KernelGuards.requireNoNulls(p9, prettyName)
    val n = math.min(p0.numElements(), p9.numElements())
    val peaks = new Array[Double](cosA.length)
    var k = 0
    while (k < cosA.length) {
      val c = cosA(k); val s = sinA(k)
      val x = (i: Int) => c * p0.getDouble(i) + s * p9.getDouble(i)
      peaks(k) =
        if (!raw) Newmark.peak(n, x, cu, cv, keff, tdt)
        else {
          var peak = 0.0
          var i = 0
          while (i < n) {
            val ax = math.abs(x(i))
            if (ax > peak) peak = ax
            i += 1
          }
          peak
        }
      k += 1
    }
    new GenericArrayData(stats(peaks))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cosRef = ctx.addReferenceObj("rotdCos", cosA, "double[]")
      val sinRef = ctx.addReferenceObj("rotdSin", sinA, "double[]")
      val Seq(n, peaks, k, c, s, peak, i, au, nn, med, out) =
        Seq("n", "peaks", "k", "c", "s", "peak", "i", "au", "nn", "med", "out").map(ctx.freshName)
      val x = (j: String) => s"$c * $a.getDouble($j) + $s * $b.getDouble($j)"
      val body =
        if (raw)
          s"""
             |for (int $i = 0; $i < $n; $i++) {
             |  double $au = java.lang.Math.abs(${x(i)});
             |  if ($au > $peak) $peak = $au;
             |}
           """.stripMargin
        else
          s"""
             |${Newmark.genPeak(ctx, n, x, peak, cu, cv, keff, tdt)}
           """.stripMargin
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, left.dataType)}
         |${KernelGuards.genGuard(ctx, b, prettyName, right.dataType)}
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double[] $peaks = new double[$cosRef.length];
         |for (int $k = 0; $k < $cosRef.length; $k++) {
         |  double $c = $cosRef[$k]; double $s = $sinRef[$k];
         |  double $peak = 0.0;
         |  $body
         |  $peaks[$k] = $peak;
         |}
         |java.util.Arrays.sort($peaks);
         |int $nn = $peaks.length;
         |double $med = ($nn % 2 == 1) ? $peaks[$nn / 2]
         |  : ($peaks[$nn / 2 - 1] + $peaks[$nn / 2]) / 2.0;
         |double[] $out = new double[] { $peaks[0], $med, $peaks[$nn - 1] };
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RotdStats =
    copy(left = newLeft, right = newRight)
}
