package graft.functions

import org.apache.spark.sql.graftbridge.ColumnBridge

/** RotD component combination — RotD0 / RotD50 / RotD100 (Boore
  * 2010), the orientation-independent horizontal components the
  * reference publishes as separate flatfiles
  * (`nzgmdb/data_processing/merge_flatfiles.py:615-643`, wiki
  * `IM-Calculation.md`, `Merge-Flatfiles.md`: components 000, 090,
  * ver, rotd50, rotd100).
  *
  * Definition: rotate the two horizontal acceleration series through
  * angles theta in [0, 180): x_theta = cos*x000 + sin*x090; compute
  * the IM (pSA peak via the [[Sdof]] Newmark recurrence, or peak
  * |acc| for PGA) of each rotated series; RotD0/50/100 are the
  * min / median / max over angles. The reference grid is 1 degree;
  * here [[NAngles]] = 18 (10 degrees) keeps the DuckDB oracle's
  * interpreted fold tractable while exercising the identical
  * semantics — the angle count is a constructor constant of the
  * kernel, so a production caller dials it up without plan changes.
  *
  * Portability: cos/sin are driver-side constants embedded via
  * [[Portable.dl]] (trig in literal tables is exact cross-engine;
  * dev/PORTABILITY.md), the rotation is one multiply-add per sample
  * written with identical association order on both engines, and the
  * per-angle fold is the proven-portable [[Sdof]] recurrence. The
  * even-count median (mean of the two middle order statistics —
  * numpy's convention) is one add and one divide: exact.
  */
object Rotd {

  val NAngles = 18
  val Periods = Seq(0.1, 0.5, 1.0, 3.0)

  /** Production fidelity constants (SURVEY §5): the reference runs
    * RotD at 1-degree resolution over the full `psa_periods` grid
    * (`calculation/ims.py:142`, `data/config.yaml`). The kernel takes
    * its angle table as a constructor constant, so a production
    * caller swaps [[anglesN]]([[ProdNAngles]]) and
    * [[Sdof.ProdPeriods]] in with NO plan change — per-row cost grows
    * linearly (angles x periods x steps), still one shuffle-free
    * projection. The checked profile stays at 18 angles / 8 periods
    * because the DuckDB oracle interprets NAngles x periods
    * list_reduce folds per row; the 180-vs-18 consistency property
    * (RotD100/RotD0 monotone under grid refinement, RotD50
    * bracketed) is pinned by KernelsSpec. */
  val ProdNAngles = 180

  /** (cos, sin) per rotation angle k*pi/n. */
  def anglesN(n: Int): Seq[(Double, Double)] = (0 until n).map { k =>
    val th = math.Pi * k / n
    (math.cos(th), math.sin(th))
  }

  val angles: Seq[(Double, Double)] = anglesN(NAngles)

  private def dl(d: Double): String = Portable.dl(d)
  private val N = Portable.SeriesN

  /** Negated 090-axis ground-acceleration series (Spark SQL),
    * unrolled to a codegen-able array constructor. */
  def ps090Spark: String =
    (0 until N).map(j => s"-CAST(${Portable.acc090Term("pk", j.toString)} AS DOUBLE)")
      .mkString("array(", ", ", ")")

  /** DuckDB twin of [[ps090Spark]]. */
  def ps090Sql: String =
    s"list_transform(range(0, $N), j -> -CAST(${Portable.acc090Term("pk", "j")} AS DOUBLE))"

  /** Rotated negated series for one angle (DuckDB): the same
    * cos*x000 + sin*x090 multiply-add the kernel runs, over the two
    * generated series. */
  private def rotSql(c: Double, s: Double): String =
    s"list_transform(range(0, $N), j -> (${dl(c)} * -CAST(${Portable.accTerm("pk", "j")} AS DOUBLE)" +
      s" + ${dl(s)} * -CAST(${Portable.acc090Term("pk", "j")} AS DOUBLE)))"

  /** The sorted per-angle peak list for one period (DuckDB): NAngles
    * independent [[Sdof.peakSql]] folds over the rotated series —
    * unscaled peaks (max |u|), sorted; min/median/max come off the
    * sorted list. */
  private def peaksSql(t: Double): String = {
    val folds = angles.map { case (c, s) => Sdof.peakSql(t, rotSql(c, s)) }
    s"list_sort([${folds.mkString(", ")}])"
  }

  /** Sorted per-angle raw-PGA peak list (DuckDB): list_max of |x| per
    * rotated series — no oscillator. */
  private def pgaPeaksSql: String = {
    val folds = angles.map { case (c, s) =>
      s"list_max(list_transform(${rotSql(c, s)}, x -> abs(x)))"
    }
    s"list_sort([${folds.mkString(", ")}])"
  }

  /** Median of an already-sorted DuckDB list expression (even count:
    * numpy's mean-of-middle-two). */
  private def medSql(sorted: String): String =
    if (NAngles % 2 == 1) s"($sorted)[${NAngles / 2 + 1}]"
    else s"((($sorted)[${NAngles / 2}] + ($sorted)[${NAngles / 2 + 1}]) / 2.0)"

  /** The three scaled RotD columns for one period, as (name, SQL)
    * pairs over a `pks_pXX` sorted-peak-list column. */
  def psaStatSqls(t: Double, pks: String): Seq[(String, String)] = {
    val C = Sdof.coef(t)
    Seq(
      s"rotd0_${suffix(t)}"   -> s"${dl(C.k)} * ($pks)[1] / ${dl(100.0)}",
      s"rotd50_${suffix(t)}"  -> s"${dl(C.k)} * ${medSql(pks)} / ${dl(100.0)}",
      s"rotd100_${suffix(t)}" -> s"${dl(C.k)} * ($pks)[$NAngles] / ${dl(100.0)}")
  }

  def pgaStatSqls(pks: String): Seq[(String, String)] = Seq(
    "pga_rotd0"   -> s"($pks)[1] / ${dl(100.0)}",
    "pga_rotd50"  -> s"${medSql(pks)} / ${dl(100.0)}",
    "pga_rotd100" -> s"($pks)[$NAngles] / ${dl(100.0)}")

  def peaksSqlCol(t: Double): String = peaksSql(t)
  def pgaPeaksSqlCol: String = pgaPeaksSql

  def suffix(t: Double): String = f"p${(t * 10).round}%02d"

  /** Spark side: the [min, median, max] raw-peak stats array for one
    * period, via the codegen'd [[RotdStats]] kernel over the two
    * negated component series. The angle grid is a constructor
    * constant — pass [[anglesN]]([[ProdNAngles]]) for the production
    * profile. */
  def statsCol(t: Double, p0: org.apache.spark.sql.Column,
               p9: org.apache.spark.sql.Column,
               grid: Seq[(Double, Double)] = angles): org.apache.spark.sql.Column = {
    val C = Sdof.coef(t)
    ColumnBridge.column(RotdStats(SeriesKernel.input(p0), SeriesKernel.input(p9),
      grid.map(_._1).toArray, grid.map(_._2).toArray,
      C.cu, C.cv, C.keff, C.tdt, raw = false))
  }

  /** Spark side: raw-PGA variant (no oscillator). */
  def pgaStatsCol(p0: org.apache.spark.sql.Column,
                  p9: org.apache.spark.sql.Column,
                  grid: Seq[(Double, Double)] = angles): org.apache.spark.sql.Column = {
    ColumnBridge.column(RotdStats(SeriesKernel.input(p0), SeriesKernel.input(p9),
      grid.map(_._1).toArray, grid.map(_._2).toArray,
      0.0, 0.0, 1.0, 0.0, raw = true))
  }

  /** Scaled Spark columns for one period off a stats-array column.
    * `name` labels the period in the column names — [[suffix]] for
    * the checked 8-period profile; the production 111-period grid
    * needs a milli-second naming (deci-second rounding collides). */
  def psaStatCols(t: Double, st: org.apache.spark.sql.Column,
                  name: Double => String = suffix)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions.{element_at, lit}
    val C = Sdof.coef(t)
    Seq(
      s"rotd0_${name(t)}"   -> lit(C.k) * element_at(st, 1) / lit(100.0),
      s"rotd50_${name(t)}"  -> lit(C.k) * element_at(st, 2) / lit(100.0),
      s"rotd100_${name(t)}" -> lit(C.k) * element_at(st, 3) / lit(100.0))
  }

  /** Millisecond period suffix for the production grid (0.022 s →
    * p00022): [[suffix]]'s deci-second rounding collides below 0.05 s. */
  def suffixMs(t: Double): String = f"p${(t * 1000).round}%05d"

  def pgaStatCols(st: org.apache.spark.sql.Column)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions.{element_at, lit}
    Seq(
      "pga_rotd0"   -> element_at(st, 1) / lit(100.0),
      "pga_rotd50"  -> element_at(st, 2) / lit(100.0),
      "pga_rotd100" -> element_at(st, 3) / lit(100.0))
  }
}
