package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
  * inlines them.
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

/** Peak |u| of the Newmark-beta SDOF recurrence over the negated
  * ground-acceleration series `ps` (see [[Sdof]] for the derivation):
  * state (u, v, p_prev) starting at (0, 0, ps[0]); per element x:
  * u' = (x + p_prev + cu*u + cv*v) / keff; v' = tdt*(u' - u) - v. */
case class SdofPeak(child: Expression, cu: Double, cv: Double, keff: Double, tdt: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sdof_peak"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"sdof_peak requires array<double>, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val ps = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(ps, prettyName)
    val n = ps.numElements()
    if (n == 0) 0.0
    else {
      var u = 0.0; var v = 0.0; var pn = ps.getDouble(0); var peak = 0.0
      var i = 1
      while (i < n) {
        val x = ps.getDouble(i)
        val u1 = (x + pn + cu * u + cv * v) / keff
        v = tdt * (u1 - u) - v
        u = u1
        pn = x
        val au = math.abs(u1)
        if (au > peak) peak = au
        i += 1
      }
      peak
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(n, u, v, pn, peak, i, x, u1, au) =
        Seq("n", "u", "v", "pn", "peak", "i", "x", "u1", "au").map(ctx.freshName)
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |int $n = $a.numElements();
         |double $peak = 0.0;
         |if ($n > 0) {
         |  double $u = 0.0; double $v = 0.0; double $pn = $a.getDouble(0);
         |  for (int $i = 1; $i < $n; $i++) {
         |    double $x = $a.getDouble($i);
         |    double $u1 = ($x + $pn + ($cu) * $u + ($cv) * $v) / ($keff);
         |    $v = ($tdt) * ($u1 - $u) - $v;
         |    $u = $u1;
         |    $pn = $x;
         |    double $au = java.lang.Math.abs($u1);
         |    if ($au > $peak) $peak = $au;
         |  }
         |}
         |${ev.value} = $peak;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SdofPeak =
    copy(child = newChild)
}

/** Order-2 IIR (biquad) filter fold over a series: returns
  * array(y_last, sum(y^2)). */
case class Iir2State(child: Expression, b0: Double, b1: Double, b2: Double,
                     a1: Double, a2: Double) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "iir2_state"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"iir2_state requires array<double>, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(xs, prettyName)
    val n = xs.numElements()
    var x1 = 0.0; var x2 = 0.0; var y1 = 0.0; var y2 = 0.0; var en = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i)
      val y = b0 * x + b1 * x1 + b2 * x2 - a1 * y1 - a2 * y2
      x2 = x1; x1 = x
      y2 = y1; y1 = y
      en = en + y * y
      i += 1
    }
    new GenericArrayData(Array(y1, en))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(n, x1, x2, y1, y2, en, i, x, y, out) =
        Seq("n", "x1", "x2", "y1", "y2", "en", "i", "x", "y", "out").map(ctx.freshName)
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |int $n = $a.numElements();
         |double $x1 = 0.0; double $x2 = 0.0; double $y1 = 0.0; double $y2 = 0.0;
         |double $en = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  double $y = ($b0) * $x + ($b1) * $x1 + ($b2) * $x2 - ($a1) * $y1 - ($a2) * $y2;
         |  $x2 = $x1; $x1 = $x;
         |  $y2 = $y1; $y1 = $y;
         |  $en = $en + $y * $y;
         |}
         |double[] $out = new double[] { $y1, $en };
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Iir2State =
    copy(child = newChild)
}

/** Cascade of second-order IIR sections (SOS) over a series — the
  * shape of the reference's Butterworth band-pass (`scipy.signal
  * .butter(..., output="sos")` + `sosfilt`, `data_processing/
  * waveform_manipulation.py:123-180`). Each element flows through the
  * sections in order (section s's input is section s-1's output
  * sample); returns array(y_last, sum(y^2)) of the LAST section's
  * output. Sections are (b0, b1, b2, a1, a2) with the same recurrence
  * and association order as [[Iir2State]] and the DuckDB
  * `list_reduce` twin ([[Spectra.cascadeSql]]). Codegen unrolls the
  * section loop — coefficient literals, no per-row allocation. */
case class IirCascadeState(child: Expression,
                           sections: Seq[(Double, Double, Double, Double, Double)])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "iir_cascade_state"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if sections.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckFailure("iir_cascade_state requires >= 1 section")
    case t => TypeCheckResult.TypeCheckFailure(s"iir_cascade_state requires array<double>, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(xs, prettyName)
    val n = xs.numElements()
    val s = sections.length
    val x1 = new Array[Double](s); val x2 = new Array[Double](s)
    val y1 = new Array[Double](s); val y2 = new Array[Double](s)
    var en = 0.0
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
      en = en + v * v
      i += 1
    }
    new GenericArrayData(Array(if (n > 0) y1(s - 1) else 0.0, en))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(n, en, i, v, out) = Seq("n", "en", "i", "v", "out").map(ctx.freshName)
      val st = sections.indices.map { j =>
        (ctx.freshName(s"x1_$j"), ctx.freshName(s"x2_$j"),
          ctx.freshName(s"y1_$j"), ctx.freshName(s"y2_$j"), ctx.freshName(s"y_$j"))
      }
      val decls = st.map { case (x1, x2, y1, y2, _) =>
        s"double $x1 = 0.0; double $x2 = 0.0; double $y1 = 0.0; double $y2 = 0.0;"
      }.mkString("\n")
      val stages = sections.zipWithIndex.map { case ((b0, b1, b2, a1, a2), j) =>
        val (x1, x2, y1, y2, y) = st(j)
        val in = if (j == 0) v else st(j - 1)._5
        s"""double $y = ($b0) * $in + ($b1) * $x1 + ($b2) * $x2 - ($a1) * $y1 - ($a2) * $y2;
           |$x2 = $x1; $x1 = $in;
           |$y2 = $y1; $y1 = $y;""".stripMargin
      }.mkString("\n")
      val yLast = st.last._3
      val yOut = st.last._5
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |int $n = $a.numElements();
         |$decls
         |double $en = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $stages
         |  $en = $en + $yOut * $yOut;
         |}
         |double[] $out = new double[] { $yLast, $en };
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): IirCascadeState =
    copy(child = newChild)
}

/** [[IirCascadeState]]'s series-output sibling: returns the full
  * filtered series (scipy `sosfilt` output) instead of the
  * (last, energy) digest — the shape downstream integration /
  * polynomial-correction stages consume. Same recurrence, same
  * association order as the DuckDB growing-list fold twin. */
case class IirCascadeSeries(child: Expression,
                            sections: Seq[(Double, Double, Double, Double, Double)])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "iir_cascade_series"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if sections.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckFailure("iir_cascade_series requires >= 1 section")
    case t => TypeCheckResult.TypeCheckFailure(s"iir_cascade_series requires array<double>, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(xs, prettyName)
    val n = xs.numElements()
    val s = sections.length
    val x1 = new Array[Double](s); val x2 = new Array[Double](s)
    val y1 = new Array[Double](s); val y2 = new Array[Double](s)
    val out = new Array[Double](n)
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
      out(i) = v
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(n, i, v, out) = Seq("n", "i", "v", "out").map(ctx.freshName)
      val st = sections.indices.map { j =>
        (ctx.freshName(s"x1_$j"), ctx.freshName(s"x2_$j"),
          ctx.freshName(s"y1_$j"), ctx.freshName(s"y2_$j"), ctx.freshName(s"y_$j"))
      }
      val decls = st.map { case (x1, x2, y1, y2, _) =>
        s"double $x1 = 0.0; double $x2 = 0.0; double $y1 = 0.0; double $y2 = 0.0;"
      }.mkString("\n")
      val stages = sections.zipWithIndex.map { case ((b0, b1, b2, a1, a2), j) =>
        val (x1, x2, y1, y2, y) = st(j)
        val in = if (j == 0) v else st(j - 1)._5
        s"""double $y = ($b0) * $in + ($b1) * $x1 + ($b2) * $x2 - ($a1) * $y1 - ($a2) * $y2;
           |$x2 = $x1; $x1 = $in;
           |$y2 = $y1; $y1 = $y;""".stripMargin
      }.mkString("\n")
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |int $n = $a.numElements();
         |$decls
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $stages
         |  $out[$i] = ${st.last._5};
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

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
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "cum_trapz"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cum_trapz requires array<double>, got $t")
  }

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    if (KernelGuards.mayContainNulls(child.dataType))
      KernelGuards.requireNoNulls(xs, prettyName)
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val Seq(n, i, out, acc) = Seq("n", "i", "out", "acc").map(ctx.freshName)
      s"""
         |${KernelGuards.genGuard(ctx, a, prettyName, child.dataType)}
         |int $n = $a.numElements();
         |double[] $out = new double[$n];
         |double $acc = 0.0;
         |if ($n > 0) $out[0] = $acc * ($mul) / ($div);
         |for (int $i = 1; $i < $n; $i++) {
         |  $acc = $acc + ($dt) * ($a.getDouble($i - 1) + $a.getDouble($i)) / 2.0;
         |  $out[$i] = $acc * ($mul) / ($div);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CumTrapz =
    copy(child = newChild)
}

/** RotD statistics [min, median, max] of the per-rotation-angle SDOF
  * response peaks — the RotD0/RotD50/RotD100 component definition
  * (Boore 2010) the reference's flatfiles publish per IM
  * (`nzgmdb/data_processing/merge_flatfiles.py:615-643`,
  * wiki `IM-Calculation.md`). Children are the two negated horizontal
  * ground-acceleration series (000 / 090 axes); for each angle k the
  * rotated input x = cos_k*x000 + sin_k*x090 drives the same
  * Newmark-beta recurrence as [[SdofPeak]] (same coefficients, same
  * association order as the DuckDB `list_reduce` twin), or — when
  * `raw` — the peak |x| itself (the PGA RotD variant, oscillator
  * skipped). The median over an even angle count is the numpy
  * convention: mean of the two middle order statistics. */
case class RotdStats(left: Expression, right: Expression,
    cosA: Array[Double], sinA: Array[Double],
    cu: Double, cv: Double, keff: Double, tdt: Double, raw: Boolean)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

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
      var peak = 0.0
      if (raw) {
        var i = 0
        while (i < n) {
          val ax = math.abs(c * p0.getDouble(i) + s * p9.getDouble(i))
          if (ax > peak) peak = ax
          i += 1
        }
      } else if (n > 0) {
        var u = 0.0; var v = 0.0
        var pn = c * p0.getDouble(0) + s * p9.getDouble(0)
        var i = 1
        while (i < n) {
          val x = c * p0.getDouble(i) + s * p9.getDouble(i)
          val u1 = (x + pn + cu * u + cv * v) / keff
          v = tdt * (u1 - u) - v
          u = u1
          pn = x
          val au = math.abs(u1)
          if (au > peak) peak = au
          i += 1
        }
      }
      peaks(k) = peak
      k += 1
    }
    new GenericArrayData(stats(peaks))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cosRef = ctx.addReferenceObj("rotdCos", cosA, "double[]")
      val sinRef = ctx.addReferenceObj("rotdSin", sinA, "double[]")
      val Seq(n, peaks, k, c, s, peak, u, v, pn, i, x, u1, au, nn, med, out) =
        Seq("n", "peaks", "k", "c", "s", "peak", "u", "v", "pn", "i", "x", "u1", "au",
          "nn", "med", "out").map(ctx.freshName)
      val body =
        if (raw)
          s"""
             |for (int $i = 0; $i < $n; $i++) {
             |  double $au = java.lang.Math.abs($c * $a.getDouble($i) + $s * $b.getDouble($i));
             |  if ($au > $peak) $peak = $au;
             |}
           """.stripMargin
        else
          s"""
             |if ($n > 0) {
             |  double $u = 0.0; double $v = 0.0;
             |  double $pn = $c * $a.getDouble(0) + $s * $b.getDouble(0);
             |  for (int $i = 1; $i < $n; $i++) {
             |    double $x = $c * $a.getDouble($i) + $s * $b.getDouble($i);
             |    double $u1 = ($x + $pn + ($cu) * $u + ($cv) * $v) / ($keff);
             |    $v = ($tdt) * ($u1 - $u) - $v;
             |    $u = $u1;
             |    $pn = $x;
             |    double $au = java.lang.Math.abs($u1);
             |    if ($au > $peak) $peak = $au;
             |  }
             |}
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
