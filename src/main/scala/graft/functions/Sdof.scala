package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Portable single-degree-of-freedom oscillator kernel — the pSA
  * (pseudo-spectral acceleration) reduction that dominates the
  * reference's flatfile columns (`nzgmdb/calculation/ims.py:18-97`
  * drives it per record over `psa_periods`; the numeric core is the
  * classic 5%-damped SDOF response).
  *
  * Discretization: Newmark-beta, average-acceleration variant
  * (gamma=1/2, beta=1/4 — unconditionally stable, so the coarse
  * synthetic dt is safe). With m=1 and the acceleration state
  * eliminated via the equation of motion, each step is
  *
  *   u' = (p + p_prev + (a1-k)*u + (a2-c)*v) / (k + a1)
  *   v' = (2/dt)*(u' - u) - v
  *
  * with a1 = 4/dt^2 + 2c/dt, a2 = 4/dt + c, k = omega^2,
  * c = 2*zeta*omega, p = -ground_acc. pSA = omega^2 * max|u|.
  *
  * Everything is +,-,*,/,abs,greatest over doubles — the portable
  * subset (dev/PORTABILITY.md): the same fold, written with the same
  * association order, is bit-exact on Spark (`aggregate`) and DuckDB
  * (`list_reduce`). Constants are computed once in Scala and embedded
  * as string-cast literals so both engines parse the identical double.
  * No UDF: the whole kernel stays inside codegen as a higher-order
  * function over a 16-element array column.
  */
object Sdof {

  val Dt      = 0.05                      // sampling interval of the synthetic series (s)
  val Zeta    = 0.05                      // 5% damping, the published pSA convention
  // psa_periods subset (ims.py:142) — the reference grid is 111
  // log-spaced periods; these 8 span its range and each adds one
  // codegen'd kernel column (cost is linear in periods).
  val Periods = Seq(0.1, 0.2, 0.3, 0.5, 1.0, 2.0, 3.0, 5.0)

  /** The reference's FULL `psa_periods` grid (`data/config.yaml`,
    * loaded at `ims.py:142`) — the production fidelity profile
    * (SURVEY §5). Swapping this for [[Periods]] adds 111 kernel
    * columns to `im_psa`/`im_rotd` with no plan change (each period
    * is an independent codegen'd fold; cost linear in periods). The
    * checked profile keeps the 8-period subset because the DuckDB
    * oracle interprets one list_reduce per period per row. */
  val ProdPeriods: Seq[Double] = Seq(
    0.010, 0.020, 0.022, 0.025, 0.029, 0.030, 0.032, 0.035, 0.036, 0.040,
    0.042, 0.044, 0.045, 0.046, 0.048, 0.050, 0.055, 0.060, 0.065, 0.067,
    0.070, 0.075, 0.080, 0.085, 0.090, 0.095, 0.100, 0.110, 0.120, 0.130,
    0.133, 0.140, 0.150, 0.160, 0.170, 0.180, 0.190, 0.200, 0.220, 0.240,
    0.250, 0.260, 0.280, 0.290, 0.300, 0.320, 0.340, 0.350, 0.360, 0.380,
    0.400, 0.420, 0.440, 0.450, 0.460, 0.480, 0.500, 0.550, 0.600, 0.650,
    0.667, 0.700, 0.750, 0.800, 0.850, 0.900, 0.950, 1.000, 1.100, 1.200,
    1.300, 1.400, 1.500, 1.600, 1.700, 1.800, 1.900, 2.000, 2.200, 2.400,
    2.500, 2.600, 2.800, 3.000, 3.200, 3.400, 3.500, 3.600, 3.800, 4.000,
    4.200, 4.400, 4.600, 4.800, 5.000, 5.500, 6.000, 6.500, 7.000, 7.500,
    8.000, 8.500, 9.000, 9.500, 10.000, 11.000, 12.000, 13.000, 14.000,
    15.000, 20.000)
  val NFreq: Int = Portable.SeriesN       // grid length (shared source of truth)

  /** psa_p01 / psa_p05 / psa_p10 / psa_p30 (period in deci-seconds). */
  def colName(t: Double): String = f"psa_p${(t * 10).round}%02d"

  /** Double literal that parses to the identical bits on both engines:
    * Scala's shortest-roundtrip repr through a string cast. */
  private def dl(d: Double): String = Portable.dl(d)

  private[functions] case class Coef(cu: Double, cv: Double, keff: Double, tdt: Double, k: Double)
  private[functions] def coef(t: Double): Coef = {
    val om = 2.0 * math.Pi / t
    val k  = om * om
    val c  = 2.0 * Zeta * om
    val a1 = 4.0 / (Dt * Dt) + 2.0 * c / Dt
    val a2 = 4.0 / Dt + c
    Coef(a1 - k, a2 - c, k + a1, 2.0 / Dt, k)
  }

  /** Negated synthetic ground-acceleration series (centi-units), one
    * double per grid step, derived from the record key `pk` — same
    * derivation as SignalOps.grid's acc_c. Spark side unrolled to a
    * codegen-able array constructor (a HOF lambda runs interpreted;
    * see Spectra.xsSpark). */
  def psSpark: String =
    (0 until NFreq).map(j => s"-CAST(${Portable.accTerm("pk", j.toString)} AS DOUBLE)")
      .mkString("array(", ", ", ")")

  /** DuckDB twin of [[psSpark]]. */
  def psSql: String =
    s"list_transform(range(0, $NFreq), j -> -CAST(${Portable.accTerm("pk", "j")} AS DOUBLE))"

  /** pSA over a materialized p-series column: the Newmark recurrence
    * runs inside whole-stage codegen via the [[SdofPeak]] expression
    * (the equivalent `aggregate` fold is interpreted — measured 5-10x
    * slower); arithmetic order is identical to the DuckDB
    * `list_reduce` twin, so checked outputs are bit-equal. */
  def psaCol(t: Double, ps: Column): Column = {
    val C = coef(t)
    lit(C.k) * ColumnBridge.column(
      SdofPeak(SeriesKernel.input(ps), C.cu, C.cv, C.keff, C.tdt)) / lit(100.0)
  }

  /** DuckDB twin of [[psaCol]]: the scaled [[peakSql]]. */
  def psaSql(t: Double, ps: String): String =
    s"${dl(coef(t).k)} * ${peakSql(t, ps)} / ${dl(100.0)}"

  /** Unscaled Newmark peak fold (max |u|) over the DuckDB list `ps`:
    * [[psaSql]] scales it, and the RotD statistics sort raw peaks,
    * then scale, as the kernel does. `list_reduce` needs accumulator
    * and element types equal, so elements are wrapped as 1-lists and
    * the initial state is prepended; the arithmetic is structurally
    * identical to the [[Newmark]] step (same association order). */
  private[functions] def peakSql(t: Double, ps: String): String = {
    val C = coef(t)
    val (u, v, pn, pk) = ("st[1]", "st[2]", "st[3]", "st[4]")
    val un = s"(el[1] + $pn + ${dl(C.cu)} * $u + ${dl(C.cv)} * $v) / ${dl(C.keff)}"
    s"list_reduce(list_prepend([${dl(0.0)}, ${dl(0.0)}, ($ps)[1], ${dl(0.0)}], " +
      s"list_transform(list_slice($ps, 2, $NFreq), x -> [x])), " +
      s"(st, el) -> [$un, ${dl(C.tdt)} * ($un - $u) - $v, el[1], greatest($pk, abs($un))])[4]"
  }
}
