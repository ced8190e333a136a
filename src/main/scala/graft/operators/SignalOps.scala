package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryFn
import graft.model.Catalog

/** Signal-quality operators: the per-record frequency-domain stages of
  * the reference pipeline, re-expressed over a deterministic synthetic
  * SNR spectrum (the driver testdata carries no waveforms, so the
  * spectrum derives arithmetically from the record key — the operator
  * shapes are the real thing).
  *
  * - `snr_stats` — per-record signal/noise aggregation
  *   (`nzgmdb/calculation/snr.py:20,128`: mean SNR over the signal
  *   band vs the noise floor). Shape: explode a 16-point frequency
  *   grid, ONE conditional-aggregation pass. Means are ratios of
  *   integer sums (scaled centi-units) so the check is bit-exact.
  * - `fmax_screening` — rolling-mean SNR screening
  *   (`calculation/fmax.py:102,163`: fmax = first frequency whose
  *   3-point rolling mean drops below threshold). Shape: grid explode,
  *   3-row window sum per record, conditional min.
  * - `station_mag_agg` — per-event consolidation of per-station
  *   magnitude estimates (`data_retrieval/geonet.py:43
  *   get_max_magnitude`, `:248 fetch_sta_mag_line`): one groupBy pass;
  *   the mean is an exact ratio of a scaled-integer sum.
  */
object SignalOps {

  val NFreq: Int = graft.functions.Portable.SeriesN // grid points per record (shared source of truth)
  val SnrThreshC = 200L // screening threshold in centi-units (2.00)
  val SigLo      = 4    // signal band grid indices [SigLo, SigHi]
  val SigHi      = 11

  /** One row per (record, grid index j): freq = (j+1)/2 Hz, SNR and a
    * signed acceleration sample in integer centi-units derived from
    * the record key. Shuffles downstream group on the fixed-width
    * numeric record key (evid, sta, lnum, pk); the string record_id is
    * reconstructed after aggregation, never shuffled. */
  private def grid(s: SparkSession, d: String): DataFrame =
    Catalog.records(s, d)
      .select(col("evid"), col("sta"), col("lnum"), col("pk"), col("chan"),
        explode(sequence(lit(0), lit(NFreq - 1))).as("j"))
      .withColumn("freq", (col("j") + 1).cast("double") / 2.0)
      .withColumn("snr_c", lit(100L) + (col("pk") + col("j") * 7) % 200)
      .withColumn("acc_c", expr(graft.functions.Portable.accTerm("pk", "j")))

  private val recKey = Seq(col("evid"), col("sta"), col("lnum"), col("pk"))

  /** record_id = evid_sta_lnum_pk (Catalog.records' construction). */
  private def recordId: org.apache.spark.sql.Column =
    concat(col("evid").cast("string"), lit("_"), col("sta").cast("string"), lit("_"),
      col("lnum").cast("string"), lit("_"), col("pk").cast("string"))

  /** The SNR series is pk-derived, so the banded sums are literal
    * integer chains per record and every published value is a RATIO —
    * invariant under duplicate-row multiplicity (2a/2b rounds to a/b
    * exactly) — so DISTINCT keys + a pure projection replaces the
    * explode + groupBy with identical doubles (oracle unchanged). */
  def snrStats(s: SparkSession, d: String): DataFrame = {
    def snrTerm(j: Int) = s"(100 + (pk + ${7 * j}) % 200)"
    val sigJ = (SigLo to SigHi).toSeq
    val noiseJ = (0 until NFreq).filterNot(j => j >= SigLo && j <= SigHi)
    val sig = sigJ.map(snrTerm).mkString("(", " + ", ")")
    val noise = noiseJ.map(snrTerm).mkString("(", " + ", ")")
    Catalog.records(s, d)
      .select(col("evid"), col("sta"), col("lnum"), col("pk")).distinct()
      .select(recordId.as("record_id"),
        (expr(sig).cast("double") / lit(sigJ.size.toDouble) / 100.0).as("sig_mean"),
        (expr(noise).cast("double") / lit(noiseJ.size.toDouble) / 100.0).as("noise_mean"),
        ((expr(sig) * lit(noiseJ.size.toLong)).cast("double") /
          (lit(sigJ.size.toLong) * expr(noise)).cast("double")).as("snr_ratio"))
  }

  /** The per-record SNR series is pk-derived, so the 3-sample rolling
    * mean and its first-failure crossing unroll to literal integer
    * projections over DISTINCT record keys — one narrow dedup shuffle
    * instead of a 16× explode + rolling-window shuffle + groupBy
    * (5.1 → ~1 s at sf0.1). `fmaxScreenCases` is the single source
    * for both engines' CASE chain. */
  def fmaxScreening(s: SparkSession, d: String): DataFrame = {
    val cases = fmaxScreenCases.foldRight("8e0") { case ((cond, freq), els) =>
      s"CASE WHEN $cond THEN $freq ELSE $els END"
    }
    Catalog.records(s, d)
      .select(col("evid"), col("sta"), col("lnum"), col("pk")).distinct()
      .select(recordId.as("record_id"), col("evid"), col("sta"),
        expr(cases).as("fmax_screen"))
  }

  /** (condition, freq) pairs of the rolling-SNR failure screen, first
    * failing window wins: window ending at j fails when
    * Σ snr(j−2..j) < 3·thresh, snr(j) = 100 + (pk + 7j) % 200. */
  private def fmaxScreenCases: Seq[(String, String)] =
    (2 until NFreq).map { j =>
      val rsum = (j - 2 to j).map(k => s"(100 + (pk + ${7 * k}) % 200)").mkString(" + ")
      (s"($rsum) < ${3 * SnrThreshC}", s"${(j + 1).toDouble / 2.0}e0")
    }

  def stationMagAgg(s: SparkSession, d: String): DataFrame = {
    // per-record station-magnitude estimate in integer centi-units
    val magC = lit(300L) + (col("pk") % 30) * 10 + col("sta") % 10
    Catalog.records(s, d)
      .select(col("evid"), col("chan"), magC.as("mag_c"))
      .groupBy(col("evid"))
      .agg(
        count(lit(1)).as("n_mags"),
        (max(col("mag_c")).cast("double") / 100.0).as("max_mag"),
        (sum(col("mag_c")).cast("double") / count(lit(1)).cast("double") / 100.0).as("mean_mag"),
        (coalesce(max(when(col("chan") === "HN", col("mag_c"))), max(col("mag_c")))
          .cast("double") / 100.0).as("pref_mag"))
  }

  /** Per-record intensity measures over the synthetic acceleration
    * series — the relational reduction at the core of the reference's
    * IM stage (`nzgmdb/calculation/` IM drivers; the obspy waveform
    * kernels reduce to exactly this per-group vector math): peak
    * |acc| (PGA-like), RMS, and cumulative absolute sum (CAV-like).
    * One explode + one partial-aggregating groupBy; sums stay integer
    * until a final exact division, sqrt is IEEE-exact. */
  def imCalc(s: SparkSession, d: String): DataFrame = {
    // per-record sums unroll to literal integer chains (acc_c is
    // pk-derived); the groupBy shrinks to a count over narrow key
    // rows — pga/rms are multiplicity-invariant, cav alone scales
    // with the duplicate count (the old explode summed dup rows)
    def accT(j: Int) = s"(${graft.functions.Portable.accTerm("pk", j.toString)})"
    val sq = (0 until NFreq).map(j => s"(${accT(j)} * ${accT(j)})").mkString(" + ")
    val ab = (0 until NFreq).map(j => s"abs(${accT(j)})").mkString(" + ")
    val mx = (0 until NFreq).map(j => s"abs(${accT(j)})").mkString("greatest(", ", ", ")")
    Catalog.records(s, d)
      .select(col("evid"), col("sta"), col("lnum"), col("pk"), col("chan"))
      .groupBy(recKey :+ col("chan"): _*)
      .agg(count(lit(1)).as("n_dup"))
      .select(recordId.as("record_id"), col("chan"),
        (expr(mx).cast("double") / 100.0).as("pga"),
        (sqrt(expr(s"($sq)").cast("double") / lit(NFreq.toDouble)) / 100.0).as("rms"),
        ((expr(s"($ab)") * col("n_dup")).cast("double") / 100.0).as("cav"))
  }

  /** pSA at the published periods (`calculation/ims.py:18-97`,
    * `psa_periods` at :142): per record, a 5%-damped SDOF oscillator
    * response over the synthetic acceleration series, reduced to its
    * peak — the [[graft.functions.Sdof]] Newmark fold. Pure projection
    * (no shuffle, no UDF): the recurrence runs as a codegen'd
    * higher-order `aggregate` over a materialized 16-element array, so
    * at 100 TB this is an embarrassingly parallel map over records
    * with per-row cost `periods x steps`. */
  def imPsa(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Sdof
    Catalog.records(s, d)
      .select(col("record_id"), col("chan"), expr(Sdof.psSpark).as("ps"))
      .select(Seq(col("record_id"), col("chan")) ++
        Sdof.Periods.map(t => Sdof.psaCol(t, col("ps")).as(Sdof.colName(t))): _*)
  }

  /** RotD0/50/100 components (`merge_flatfiles.py:615-643` — the
    * reference publishes one flatfile per component, rotd0/50/100
    * among them; wiki IM-Calculation.md): per record, the two
    * horizontal series are rotated through [[graft.functions.Rotd]]'s
    * angle grid, each rotation's pSA peak (and raw-PGA peak) is
    * computed by the codegen'd [[graft.functions.RotdStats]] kernel,
    * and min/median/max over angles become the published columns.
    * Pure projection over records — no shuffle, embarrassingly
    * parallel at 100 TB; per-row cost angles x periods x steps, all
    * inside whole-stage codegen. */
  def imRotd(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Rotd
    imRotdProfile(s, d, Rotd.angles, Rotd.Periods, Rotd.suffix)
  }

  /** [[imRotd]] parameterized by the fidelity profile: the angle grid
    * and period set are kernel constructor constants, so the CHECKED
    * 18-angle / 8-period profile and the reference-fidelity
    * 180-angle / 111-period production profile
    * ([[graft.functions.Rotd.ProdNAngles]],
    * [[graft.functions.Sdof.ProdPeriods]], SURVEY §5) run the SAME
    * shuffle-free single-scan plan — only per-row arithmetic grows
    * (angles × periods × steps). `name` labels period columns
    * ([[graft.functions.Rotd.suffixMs]] for the production grid —
    * deci-second rounding collides below 0.05 s). */
  def imRotdProfile(s: SparkSession, d: String, grid: Seq[(Double, Double)],
                    periods: Seq[Double], name: Double => String): DataFrame = {
    import graft.functions.{Rotd, Sdof}
    val base = Catalog.records(s, d)
      .select(col("record_id"), expr(Sdof.psSpark).as("p0"), expr(Rotd.ps090Spark).as("p9"))
    val withStats = periods.foldLeft(
      base.withColumn("st_pga", Rotd.pgaStatsCol(col("p0"), col("p9"), grid))) { (df, t) =>
      df.withColumn(s"st_${name(t)}", Rotd.statsCol(t, col("p0"), col("p9"), grid))
    }
    val cols = periods.flatMap(t => Rotd.psaStatCols(t, col(s"st_${name(t)}"), name)) ++
      Rotd.pgaStatCols(col("st_pga"))
    withStats.select(col("record_id") +: cols.map { case (n, c) => c.as(n) }: _*)
  }

  /** FFT-based SNR with Konno-Ohmachi smoothing
    * (`calculation/snr.py:20-139`: split at the p-wave, FAS of signal
    * and noise windows, KO-smoothed, ratioed). Per record: one-sided
    * DFT power via [[graft.functions.Spectra]] literal twiddle rows
    * (the proven-portable dot fold), KO smoothing as a literal-weight
    * linear combination over the fixed grid, amplitude SNR per band.
    * Pure projection — no shuffle, codegen end-to-end. */
  def snrFft(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Spectra
    val base = Catalog.records(s, d)
      .select(col("record_id"), col("chan"), col("pk"))
      .select(col("record_id"), col("chan"),
        expr(Spectra.xsSpark).as("xs"), expr(Spectra.ysSpark).as("ys"))
    val withP = Spectra.Bins.foldLeft(base) { (df, k) =>
      df.withColumn(s"p$k", Spectra.powerCol("xs", k))
        .withColumn(s"q$k", Spectra.powerCol("ys", k))
    }
    val withS = Seq(1, 2, 4, 8).foldLeft(withP) { (df, k) =>
      df.withColumn(s"s$k", Spectra.koSmoothCol(j => col(s"p$j"), k))
        .withColumn(s"t$k", Spectra.koSmoothCol(j => col(s"q$j"), k))
    }
    withS.select(col("record_id"), col("chan"),
      Spectra.Bins.map(j => col(s"p$j")).reduce(_ + _).as("pow_total"),
      sqrt(col("s1") / col("t1")).as("snr_k1"),
      sqrt(col("s2") / col("t2")).as("snr_k2"),
      sqrt(col("s4") / col("t4")).as("snr_k4"),
      sqrt(col("s8") / col("t8")).as("snr_k8"),
      sqrt(col("s2")).as("fas_sig_k2"),
      sqrt(col("t2")).as("fas_noise_k2"))
  }

  /** Smoothed Fourier amplitude spectrum at the common frequency grid
    * (`calculation/snr.py` fas_signal product; the reference publishes
    * FAS flatfiles alongside SNR): KO-smoothed amplitude sqrt(S_k) of
    * the signal window at every one-sided bin. Same shuffle-free
    * literal-row DFT as [[snrFft]], all 8 bins published. */
  def imFas(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Spectra
    val base = Catalog.records(s, d)
      .select(col("record_id"), col("chan"), col("pk"))
      .select(col("record_id"), col("chan"), expr(Spectra.xsSpark).as("xs"))
    val withP = Spectra.Bins.foldLeft(base) { (df, k) =>
      df.withColumn(s"p$k", Spectra.powerCol("xs", k))
    }
    withP.select(Seq(col("record_id"), col("chan")) ++
      Spectra.Bins.map(k =>
        sqrt(Spectra.koSmoothCol(j => col(s"p$j"), k)).as(s"fas_k$k")): _*)
  }

  /** EAS component flatfile (`data_processing/merge_flatfiles.py:
    * 609-644`: the reference publishes an `eas` component file
    * alongside rotd0/50/100 — component split at :617-628,
    * `columns_remove_eas` at :632-644 keeps the FAS-grid columns and
    * drops PGA/pSA). EAS is the effective amplitude spectrum: the
    * orientation-independent combination of the TWO horizontal
    * spectra, sqrt((|FAS_000|² + |FAS_090|²) / 2), smoothed on the
    * averaged power with the same Konno-Ohmachi weights as [[imFas]].
    * Per record: literal-twiddle DFT of both horizontal series (the
    * 090 axis via [[graft.functions.Rotd.ps090Spark]], the series
    * `im_rotd` rotates — squaring makes its sign convention moot),
    * power-average, KO-smooth, sqrt. Pure projection — no shuffle,
    * codegen end-to-end, embarrassingly parallel at 100 TB. */
  def imEas(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{Rotd, Spectra}
    val base = Catalog.records(s, d)
      .select(col("record_id"), col("pk"))
      .select(col("record_id"),
        expr(Spectra.xsSpark).as("xs"), expr(Rotd.ps090Spark).as("x9"))
    val withP = Spectra.Bins.foldLeft(base) { (df, k) =>
      df.withColumn(s"p$k", Spectra.powerCol("xs", k))
        .withColumn(s"q$k", Spectra.powerCol("x9", k))
    }
    withP.select(col("record_id") +:
      Spectra.Bins.map(k =>
        sqrt(Spectra.koSmoothCol(j => (col(s"p$j") + col(s"q$j")) / lit(2.0), k))
          .as(s"eas_k$k")): _*)
  }

  /** Waveform preprocessing (`data_processing/waveform_manipulation
    * .py:15,123-180`): linear detrend (closed-form least squares over
    * the fixed index grid), Welch taper (polynomial — no trig in
    * checked output), then the reference's Butterworth BAND-PASS as a
    * cascade of second-order sections (`signal.butter(..., btype=
    * "band", output="sos")` + `sosfilt`), codegen'd as one
    * [[graft.functions.IirCascadeState]] fold. The checked profile is
    * the reference's default band (0.04 Hz low cut, 1/(2.5·dt) = 8 Hz
    * high cut) at scipy order 2 → two cascaded biquads; the
    * `order_default: 4` production profile ([[Spectra.ProdBandSos]],
    * 4 sections) swaps in as constructor constants with no plan
    * change. Publishes the fitted trend and the filtered series'
    * final sample and energy. */
  def waveformPreproc(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Spectra
    val ones = Seq.fill(Spectra.N)(1.0)
    val narr = (0 until Spectra.N).map(_.toDouble)
    Catalog.records(s, d)
      .select(col("record_id"), col("chan"), col("pk"))
      .select(col("record_id"), col("chan"), expr(Spectra.xsSpark).as("xs"))
      .withColumn("sx", Spectra.vecDot(col("xs"), array(ones.map(lit): _*)))
      .withColumn("snx", Spectra.vecDot(col("xs"), array(narr.map(lit): _*)))
      .withColumn("b_s", (lit(Spectra.N.toDouble) * col("snx") - lit(Spectra.SumN) * col("sx")) / lit(Spectra.LsqDen))
      .withColumn("a_i", (col("sx") - col("b_s") * lit(Spectra.SumN)) / lit(Spectra.N.toDouble))
      .withColumn("tw", expr(Spectra.dtSeriesSpark("xs")))
      .withColumn("st", Spectra.cascadeCol(col("tw")))
      .select(col("record_id"), col("chan"),
        col("b_s").as("trend_slope"), col("a_i").as("trend_icept"),
        col("st").getItem(0).as("y_last"), col("st").getItem(1).as("y_energy"))
  }

  /** Filter band-edge resolution — the per-record fmin/fmax priority
    * logic of `process_observed.py:93-143` feeding
    * `high_and_low_cut_processing` (`waveform_manipulation.py:
    * 236-243`): fmin is the MAX of the record's GMC rows (records
    * with a score, `gmc_rows["fmin_mean"].max()`), fmax the
    * NaN-PROPAGATING min of the fmax-table row's three components (a
    * NaN component poisons the min, survives Python's `or` — NaN is
    * truthy — and fails the filter design → the
    * "Failed to apply bandpass filter" skip); a bypass row overrides
    * BOTH edges only when fmin or fmax is missing entirely;
    * `lowcut = fmin/1.25 else 0.04`, `highcut = fmax or 1/(2.5·dt)`;
    * lowcut ≥ highcut is its own skip reason. Catalog mapping (§3
    * conventions): GMC membership = score_x present; the fmax-table
    * row = the group's HN rows with loc_elev-NULL as the NaN marker;
    * the bypass table = BN rows flagged 'R' with pk-derived edges.
    * One partial-aggregable groupBy, conditional aggregates only. */
  def bandEdges(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Spectra
    val hn = col("chan") === "HN"
    val byp = col("chan") === "BN" && col("rflag") === "R"
    Catalog.records(s, d)
      .groupBy(col("evid"), col("sta"))
      .agg(
        max(when(col("score_x").isNotNull, col("fmin"))).as("fmin_gmc"),
        max(when(hn, lit(1L))).as("has_fmax"),
        max(when(hn && col("loc_elev").isNull, lit(1L))).as("fmax_nan"),
        min(when(hn, least(col("fmax_x"), col("fmax_y"), col("fmax_z")))).as("fmax_val"),
        max(when(byp, lit(1L))).as("in_byp"),
        max(when(byp, lit(0.03) + (col("pk") % 10) / lit(100.0))).as("fmin_byp"),
        // bypass highcut range [0.02, 0.21] overlaps the bypass lowcut
        // range so the lowcut>=highcut skip path carries real rows
        min(when(byp, lit(0.02) + (col("pk") % 20) / lit(100.0))).as("fmax_byp"))
      .withColumn("use_byp",
        (col("fmin_gmc").isNull || col("has_fmax").isNull) && col("in_byp").isNotNull)
      .withColumn("fmin_r", when(col("use_byp"), col("fmin_byp")).otherwise(col("fmin_gmc")))
      .withColumn("lowcut",
        when(col("fmin_r").isNull, lit(0.04)).otherwise(col("fmin_r") / lit(1.25)))
      .withColumn("highcut",
        when(col("use_byp"), col("fmax_byp"))
          .when(col("fmax_nan").isNotNull, lit(null).cast("double"))
          .when(col("has_fmax").isNotNull, col("fmax_val"))
          .otherwise(lit(Spectra.BandHighHz)))
      .select(col("evid"), col("sta"), col("lowcut"), col("highcut"),
        when(col("highcut").isNull, lit("bandpass_failed"))
          .when(col("lowcut") >= col("highcut"), lit("lowcut_ge_highcut"))
          .otherwise(lit(null).cast("string")).as("skip_reason"))
  }

  /** The NGA-West-alignment polynomial correction — the rest of the
    * reference's `high_and_low_cut_processing` after the band-pass
    * (`waveform_manipulation.py:274-311`): filtered acc → velocity
    * (`cumulative_trapezoid` × g/10) → displacement (second
    * `cumulative_trapezoid`) → degree-6 LSQ fit on the index grid
    * (`np.polyfit`, `poly_order_default: 6`) → second derivative
    * (`np.polyder` twice — only the degree-6..2 coefficients survive)
    * → Horner `np.polyval` on the grid, subtracted from the filtered
    * acc. Spark shape: two O(N) codegen'd folds ([[graft.functions
    * .IirCascadeSeries]], [[graft.functions.CumTrapz]]) and the FIT
    * COLLAPSED to five `vec_dot`s against driver-computed
    * pseudo-inverse literal rows (the polyfit is a linear map of the
    * displacement vector — same literal-row pattern as the DFT).
    * Zero shuffles; publishes the corrected series' digest plus the
    * five curvature coefficients. */
  def waveformPolyCorrect(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Spectra
    val ones = Seq.fill(Spectra.N)(1.0)
    val narr = (0 until Spectra.N).map(_.toDouble)
    var df = Catalog.records(s, d)
      .select(col("record_id"), col("chan"), col("pk"))
      .select(col("record_id"), col("chan"), expr(Spectra.xsSpark).as("xs"))
      .withColumn("sx", Spectra.vecDot(col("xs"), array(ones.map(lit): _*)))
      .withColumn("snx", Spectra.vecDot(col("xs"), array(narr.map(lit): _*)))
      .withColumn("b_s", (lit(Spectra.N.toDouble) * col("snx") - lit(Spectra.SumN) * col("sx")) / lit(Spectra.LsqDen))
      .withColumn("a_i", (col("sx") - col("b_s") * lit(Spectra.SumN)) / lit(Spectra.N.toDouble))
      .withColumn("tw", expr(Spectra.dtSeriesSpark("xs")))
      .withColumn("bb", Spectra.cascadeSeriesCol(col("tw")))
      // the reference's `cumtrapz(...) * g / 10` elementwise scale is
      // fused into the kernel pass (an interpreted HOF transform for
      // the scale alone cost more than the fold)
      .withColumn("vel", Spectra.cumTrapzCol(col("bb"), 9.81, 10.0))
      .withColumn("disp", Spectra.cumTrapzCol(col("vel")))
    for (m <- 0 to 4) {
      df = df.withColumn(s"cf$m",
        Spectra.vecDot(col("disp"), array(Spectra.PolyRows(m).map(lit): _*)))
      df = df.withColumn(s"c2_$m",
        (col(s"cf$m") * lit((Spectra.PolyOrder - m).toDouble)) * lit((Spectra.PolyOrder - 1 - m).toDouble))
    }
    // corr unrolled to literal-index scalar expressions — safe now
    // that Sessions caps hugeMethodLimit at the JIT threshold (the
    // over-wide stage falls back to split-method codegen instead of
    // running interpreted)
    def horner(i: Int) =
      s"((((c2_0 * CAST($i AS DOUBLE) + c2_1) * CAST($i AS DOUBLE) + c2_2)" +
        s" * CAST($i AS DOUBLE) + c2_3) * CAST($i AS DOUBLE) + c2_4)"
    df.withColumn("corr", expr(
        (0 until Spectra.N).map(i => s"(bb[$i] - ${horner(i)})")
          .mkString("array(", ", ", ")")))
      .select(col("record_id"), col("chan"),
        element_at(col("corr"), Spectra.N).as("corr_last"),
        Spectra.vecDot(col("corr"), col("corr")).as("corr_energy"),
        col("c2_0"), col("c2_1"), col("c2_2"), col("c2_3"), col("c2_4"))
  }

  /** Arias intensity and significant durations Ds575/Ds595 — the
    * remaining scalar members of the reference IM set (`calculation/
    * ims.py` IM list; wiki IM-Calculation.md). Cumulative energy stays
    * an INTEGER sum (acc in centi-units), so the 5/75/95% crossings
    * are exact integer comparisons — cross-engine portable where
    * cumulative double sums are not. One explode + two windows + one
    * groupBy per record. */
  def imDuration(s: SparkSession, d: String): DataFrame = {
    val ariasC = math.Pi / (2.0 * 9.81) * 0.05 / 1e4 // centi-units², dt=0.05 → m/s
    // The cumulative-energy crossings are per-record array math: the
    // explode+window shape (N× rows, two window shuffles) becomes 16
    // unrolled integer energy columns, ONE partial-aggregable groupBy
    // (duplicate (evid,sta,lnum,pk) rows sum elementwise — exactly
    // the oracle's ties-included RANGE cumulative frame), then prefix
    // sums + CASE-chain first-crossing indices as pure projections.
    // Identical integer arithmetic; the windowed SQL twin still
    // cross-checks the values. 6.0 s → sub-second at sf0.1.
    val eT = (0 until NFreq).map { j =>
      val a = s"CAST(${graft.functions.Portable.accTerm("pk", j.toString)} AS BIGINT)"
      s"($a * $a) AS e$j"
    }
    var df = Catalog.records(s, d)
      .selectExpr(Seq("evid", "sta", "lnum", "pk") ++ eT: _*)
      .groupBy(recKey: _*)
      .agg(sum(col("e0")).as("c0"),
        (1 until NFreq).map(j => sum(col(s"e$j")).as(s"s$j")): _*)
    for (j <- 1 until NFreq) df = df.withColumn(s"c$j", expr(s"c${j - 1} + s$j"))
    def firstCross(mult: Int, totMult: Int): org.apache.spark.sql.Column =
      (0 until NFreq).foldRight(lit(null).cast("int")) { (j, els) =>
        when(col(s"c$j") * mult >= col(s"c${NFreq - 1}") * totMult, lit(j)).otherwise(els)
      }
    df.withColumn("n5", firstCross(20, 1))
      .withColumn("n75", firstCross(4, 3))
      .withColumn("n95", firstCross(20, 19))
      .select(recordId.as("record_id"),
        (col(s"c${NFreq - 1}").cast("double") * lit(ariasC)).as("arias"),
        ((col("n75") - col("n5")).cast("double") * lit(0.05)).as("ds575"),
        ((col("n95") - col("n5")).cast("double") * lit(0.05)).as("ds595"))
  }

  /** Clip-detection feature vector (`data_processing/filtering.py`:
    * `get_clip_probability` clamps event magnitude and distance to
    * the config bounds (`data/config.yaml` mag_clip_low/high 3.0/8.8,
    * dist_clip_low/high 0/645) and feeds them plus three heuristic
    * clip flags (gmprocess MaxAmp / Histogram / Ping) into ClipNet.
    * The network itself is a model artifact (documented gap, SURVEY
    * §6); everything BEFORE it is relational and ships here: per
    * record, the clamped inputs and the three detector flags over
    * the synthetic series — rail-amplitude peak (MaxAmp), rail-bucket
    * occupancy (Histogram's cluster-at-the-rails signal), and max
    * first-difference jump (Ping), all INTEGER comparisons on the
    * centi-unit series, so the oracle is bit-exact. Distance is
    * r_hyp computed INLINE from the event/station coordinates (the
    * exact `event_station_distances` arithmetic, NULL beyond the
    * same cutoff) — joining the pair table itself would shuffle
    * every (event, station) pair row just to fetch one column;
    * inline, the only movement is the records⋈events co-keyed
    * shuffle plus a broadcast station dim. */
  val MagClipLo = 3.0; val MagClipHi = 8.8
  val DistClipLo = 0.0; val DistClipHi = 645.0
  val RailC = 195L    // |acc_c| at/above this counts as at-the-rail
  val RailMin = 2L    // histogram flag: >= this many rail samples
  val PingJumpC = 350L // a first-difference jump this large is a "ping"
  val PingMin = 2L    // ping flag: >= this many jumps (the series'
                      // modular step wraps once per record ALWAYS, so
                      // >=1 would be constant-true; >=2 discriminates)
  def clipFeatures(s: SparkSession, d: String): DataFrame = {
    val seriesExpr = (0 until NFreq)
      .map(j => s"CAST(${graft.functions.Portable.accTerm("pk", j.toString)} AS BIGINT)")
      .mkString("array(", ", ", ")")
    val ev = Catalog.events(s, d)
      .select(col("evid"), col("mag"), col("ev_lat"), col("ev_lon"), col("ev_depth"))
    val st = Catalog.stations(s, d).select(col("sta"), col("sta_lat"), col("sta_lon"))
    // the exact event_station_distances arithmetic (same association
    // order — bit-equal to the pair table's r_epi / r_hyp)
    val dx = (col("sta_lon") - col("ev_lon")) * GeoOps.KmPerDegLon
    val dy = (col("sta_lat") - col("ev_lat")) * GeoOps.KmPerDegLat
    val rEpi = sqrt(dx * dx + dy * dy)
    val rHyp = sqrt(rEpi * rEpi + col("ev_depth") * col("ev_depth"))
    Catalog.records(s, d)
      .select(col("record_id"), col("evid"), col("sta"), expr(seriesExpr).as("xs"))
      .join(ev, Seq("evid"))
      .join(broadcast(st), Seq("sta"))
      .select(col("record_id"),
        greatest(lit(MagClipLo), least(lit(MagClipHi), col("mag"))).as("mag_clipped"),
        // NULL beyond the pair cutoff, like a missing pair row; the
        // clamp must not run on NULL (least/greatest skip nulls)
        when(rEpi <= GeoOps.MaxKm,
          greatest(lit(DistClipLo), least(lit(DistClipHi), rHyp)))
          .otherwise(lit(null).cast("double"))
          .as("dist_clipped"),
        // flag arithmetic unrolled to codegen-able integer expressions
        // (the HOF array_max/filter/transform chain ran interpreted)
        (expr((0 until NFreq).map(j => s"abs(xs[$j])").mkString("greatest(", ", ", ")"))
          >= RailC).as("max_amp_clip"),
        (expr((0 until NFreq).map(j => s"(CASE WHEN abs(xs[$j]) >= $RailC THEN 1 ELSE 0 END)")
          .mkString(" + ")) >= RailMin).as("hist_clip"),
        (expr((1 until NFreq).map(j => s"(CASE WHEN abs(xs[$j] - xs[${j - 1}]) >= $PingJumpC THEN 1 ELSE 0 END)")
          .mkString(" + ")) >= PingMin).as("ping_clip"))
  }

  /** Horizontal-component combination of pSA (the reference flatfile's
    * rotd/geomean-style columns applied to the oscillator response):
    * per (event, station), the HN/BN component maxima of psa_p10
    * combine into SRSS-mean and geometric mean. The composition a
    * flatfile consumer actually reads — kernel column, pivot, exact
    * sqrt arithmetic. */
  def psaComponentCombo(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Sdof
    Catalog.records(s, d)
      .select(col("evid"), col("sta"), col("chan"), expr(Sdof.psSpark).as("ps"))
      .select(col("evid"), col("sta"), col("chan"), Sdof.psaCol(1.0, col("ps")).as("psa"))
      .groupBy(col("evid"), col("sta")).pivot("chan", Seq("HN", "BN")).agg(max(col("psa")))
      .select(col("evid"), col("sta"), col("HN").as("psa_hn"), col("BN").as("psa_bn"),
        sqrt((col("HN") * col("HN") + col("BN") * col("BN")) / 2).as("psa_srss"),
        sqrt(col("HN") * col("BN")).as("psa_geom"))
  }

  /** The detrend + taper SQL chain producing (record_id, chan, b_s,
    * a_i, tw) — shared by the `waveform_preproc` and
    * `waveform_poly_correct` oracles. */
  private def twChainSql: String = {
    import graft.functions.{Portable, Spectra}
    val onesSql = Spectra.rowSql(Seq.fill(Spectra.N)(1.0))
    val narrSql = Spectra.rowSql((0 until Spectra.N).map(_.toDouble))
    s"""    SELECT record_id, chan, b_s, a_i, ${Spectra.dtSeriesSql("xs")} AS tw FROM (
       |      SELECT record_id, chan, xs, b_s, (sx - b_s * ${Portable.dl(Spectra.SumN)}) / ${Portable.dl(Spectra.N.toDouble)} AS a_i FROM (
       |        SELECT record_id, chan, xs, sx, (${Portable.dl(Spectra.N.toDouble)} * snx - ${Portable.dl(Spectra.SumN)} * sx) / ${Portable.dl(Spectra.LsqDen)} AS b_s FROM (
       |          SELECT record_id, chan, xs,
       |                 ${Portable.dotSql("xs", onesSql)} AS sx,
       |                 ${Portable.dotSql("xs", narrSql)} AS snx
       |          FROM (SELECT record_id, chan, ${Spectra.xsSql} AS xs FROM gm_records))))""".stripMargin
  }

  /** The clip_features oracle SELECT (over the gm CTEs) — shared with
    * the `clip_prob` serving oracle in [[MultiModalOps]]. */
  private[operators] def clipFeaturesOracleBody: String = {
    import graft.functions.Portable.dl
    import GeoOps.{KmPerDegLat, KmPerDegLon, MaxKm}
    val repi =
      s"""sqrt(((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) * ((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0)
         |     + ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) * ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0))""".stripMargin
    s"""SELECT r.record_id,
       |  greatest(${dl(MagClipLo)}, least(${dl(MagClipHi)}, e.mag)) AS mag_clipped,
       |  CASE WHEN $repi <= ${MaxKm}e0
       |       THEN greatest(${dl(DistClipLo)}, least(${dl(DistClipHi)},
       |            sqrt($repi * $repi + e.ev_depth * e.ev_depth)))
       |       ELSE NULL END AS dist_clipped,
       |  list_max(list_transform(xs, x -> abs(x))) >= $RailC AS max_amp_clip,
       |  len(list_filter(xs, x -> abs(x) >= $RailC)) >= $RailMin AS hist_clip,
       |  len(list_filter(list_transform(range(1, $NFreq), j -> abs(xs[j+1] - xs[j])), v -> v >= $PingJumpC)) >= $PingMin AS ping_clip
       |FROM (SELECT record_id, evid, sta,
       |        list_transform(range(0, $NFreq), j -> CAST(${graft.functions.Portable.accTerm("pk", "j")} AS BIGINT)) AS xs
       |      FROM gm_records) r
       |JOIN gm_events e ON r.evid = e.evid
       |JOIN gm_stations s ON r.sta = s.sta""".stripMargin
  }

  val queries: Map[String, QueryFn] = Map(
    "psa_component_combo" -> (psaComponentCombo _),
    "snr_stats"        -> (snrStats _),
    "fmax_screening"   -> (fmaxScreening _),
    "station_mag_agg"  -> (stationMagAgg _),
    "im_calc"          -> (imCalc _),
    "im_psa"           -> (imPsa _),
    "im_rotd"          -> (imRotd _),
    "snr_fft"          -> (snrFft _),
    "im_fas"           -> (imFas _),
    "im_eas"           -> (imEas _),
    "clip_features"    -> (clipFeatures _),
    "waveform_preproc" -> (waveformPreproc _),
    "waveform_poly_correct" -> (waveformPolyCorrect _),
    "band_edges"       -> (bandEdges _),
    "im_duration"      -> (imDuration _)
  )

  private val gridCte =
    s"""grid AS (
       |  SELECT record_id, evid, sta, chan, pk, t.j,
       |         CAST(t.j + 1 AS DOUBLE) / 2e0 AS freq,
       |         100 + (pk + t.j * 7) % 200 AS snr_c,
       |         ${graft.functions.Portable.accTerm("pk", "t.j")} AS acc_c
       |  FROM gm_records, range(0, $NFreq) t(j)
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "snr_stats" -> Catalog.oracle(
      s"""SELECT record_id,
         |  CAST(sig_sum AS DOUBLE) / CAST(sig_n AS DOUBLE) / 100e0 AS sig_mean,
         |  CAST(noise_sum AS DOUBLE) / CAST(noise_n AS DOUBLE) / 100e0 AS noise_mean,
         |  CAST(sig_sum * noise_n AS DOUBLE) / CAST(sig_n * noise_sum AS DOUBLE) AS snr_ratio
         |FROM (
         |  SELECT record_id,
         |    sum(CASE WHEN j BETWEEN $SigLo AND $SigHi THEN snr_c END) AS sig_sum,
         |    count(CASE WHEN j BETWEEN $SigLo AND $SigHi THEN 1 END) AS sig_n,
         |    sum(CASE WHEN j NOT BETWEEN $SigLo AND $SigHi THEN snr_c END) AS noise_sum,
         |    count(CASE WHEN j NOT BETWEEN $SigLo AND $SigHi THEN 1 END) AS noise_n
         |  FROM grid GROUP BY record_id
         |)""".stripMargin, gridCte),
    "fmax_screening" -> Catalog.oracle {
      val cases = fmaxScreenCases.foldRight("8e0") { case ((cond, freq), els) =>
        s"CASE WHEN $cond THEN $freq ELSE $els END"
      }
      s"""SELECT evid || '_' || sta || '_' || lnum || '_' || pk AS record_id,
         |  evid, sta, $cases AS fmax_screen
         |FROM (SELECT DISTINCT evid, sta, lnum, pk FROM gm_records)""".stripMargin
    },
    "im_calc" -> Catalog.oracle(
      """SELECT record_id, chan,
        |  CAST(max(abs(acc_c)) AS DOUBLE) / 100e0 AS pga,
        |  sqrt(CAST(sum(acc_c * acc_c) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 100e0 AS rms,
        |  CAST(sum(abs(acc_c)) AS DOUBLE) / 100e0 AS cav
        |FROM grid GROUP BY record_id, chan""".stripMargin, gridCte),
    "snr_fft" -> Catalog.oracle {
      import graft.functions.Spectra
      val pcols = Spectra.Bins.map(k => s"${Spectra.powerSql("xs", k)} AS p$k").mkString(",\n      ")
      val qcols = Spectra.Bins.map(k => s"${Spectra.powerSql("ys", k)} AS q$k").mkString(",\n      ")
      val scols = Seq(1, 2, 4, 8).map(k =>
        s"${Spectra.koSmoothSql(j => s"p$j", k)} AS s$k,\n      ${Spectra.koSmoothSql(j => s"q$j", k)} AS t$k")
        .mkString(",\n      ")
      s"""SELECT record_id, chan,
         |  ${Spectra.Bins.map(j => s"p$j").mkString(" + ")} AS pow_total,
         |  sqrt(s1 / t1) AS snr_k1, sqrt(s2 / t2) AS snr_k2,
         |  sqrt(s4 / t4) AS snr_k4, sqrt(s8 / t8) AS snr_k8,
         |  sqrt(s2) AS fas_sig_k2, sqrt(t2) AS fas_noise_k2
         |FROM (
         |  SELECT *,
         |      $scols
         |  FROM (
         |    SELECT record_id, chan,
         |      $pcols,
         |      $qcols
         |    FROM (SELECT record_id, chan, ${Spectra.xsSql} AS xs, ${Spectra.ysSql} AS ys
         |          FROM gm_records)))""".stripMargin
    },
    "psa_component_combo" -> Catalog.oracle {
      import graft.functions.Sdof
      s"""SELECT evid, sta, psa_hn, psa_bn,
         |  sqrt((psa_hn * psa_hn + psa_bn * psa_bn) / 2) AS psa_srss,
         |  sqrt(psa_hn * psa_bn) AS psa_geom
         |FROM (
         |  SELECT evid, sta,
         |    max(CASE WHEN chan = 'HN' THEN psa END) AS psa_hn,
         |    max(CASE WHEN chan = 'BN' THEN psa END) AS psa_bn
         |  FROM (
         |    SELECT evid, sta, chan, ${Sdof.psaSql(1.0, "ps")} AS psa
         |    FROM (SELECT evid, sta, chan, ${Sdof.psSql} AS ps FROM gm_records))
         |  GROUP BY evid, sta)""".stripMargin
    },
    "im_fas" -> Catalog.oracle {
      import graft.functions.Spectra
      val pcols = Spectra.Bins.map(k => s"${Spectra.powerSql("xs", k)} AS p$k").mkString(",\n      ")
      val fas = Spectra.Bins.map(k =>
        s"sqrt(${Spectra.koSmoothSql(j => s"p$j", k)}) AS fas_k$k").mkString(",\n  ")
      s"""SELECT record_id, chan,
         |  $fas
         |FROM (
         |  SELECT record_id, chan,
         |      $pcols
         |  FROM (SELECT record_id, chan, ${Spectra.xsSql} AS xs FROM gm_records))""".stripMargin
    },
    "clip_features" -> Catalog.oracle(clipFeaturesOracleBody),
    "im_eas" -> Catalog.oracle {
      import graft.functions.{Rotd, Spectra}
      val pcols = Spectra.Bins.map(k => s"${Spectra.powerSql("xs", k)} AS p$k").mkString(",\n      ")
      val qcols = Spectra.Bins.map(k => s"${Spectra.powerSql("x9", k)} AS q$k").mkString(",\n      ")
      val eas = Spectra.Bins.map(k =>
        s"sqrt(${Spectra.koSmoothSql(j => s"((p$j + q$j) / 2e0)", k)}) AS eas_k$k").mkString(",\n  ")
      s"""SELECT record_id,
         |  $eas
         |FROM (
         |  SELECT record_id,
         |      $pcols,
         |      $qcols
         |  FROM (SELECT record_id, ${Spectra.xsSql} AS xs, ${Rotd.ps090Sql} AS x9
         |        FROM gm_records))""".stripMargin
    },
    "waveform_preproc" -> Catalog.oracle {
      import graft.functions.Spectra
      s"""SELECT record_id, chan, b_s AS trend_slope, a_i AS trend_icept,
         |       st[${Spectra.cascadeLastIdx()}] AS y_last, st[${Spectra.cascadeEnergyIdx()}] AS y_energy
         |FROM (
         |  SELECT record_id, chan, b_s, a_i, ${Spectra.cascadeSql("tw")} AS st FROM (
         |$twChainSql))""".stripMargin
    },
    "band_edges" -> Catalog.oracle {
      val lowcut = "CASE WHEN fmin_r IS NULL THEN 4e-2 ELSE fmin_r / 1.25e0 END"
      s"""SELECT evid, sta,
         |  $lowcut AS lowcut,
         |  highcut,
         |  CASE WHEN highcut IS NULL THEN 'bandpass_failed'
         |       WHEN ($lowcut) >= highcut THEN 'lowcut_ge_highcut'
         |       ELSE NULL END AS skip_reason
         |FROM (
         |  SELECT *,
         |    CASE WHEN use_byp THEN fmin_byp ELSE fmin_gmc END AS fmin_r,
         |    CASE WHEN use_byp THEN fmax_byp
         |         WHEN fmax_nan IS NOT NULL THEN NULL
         |         WHEN has_fmax IS NOT NULL THEN fmax_val
         |         ELSE 8e0 END AS highcut
         |  FROM (
         |    SELECT *,
         |      ((fmin_gmc IS NULL) OR (has_fmax IS NULL)) AND in_byp IS NOT NULL AS use_byp
         |    FROM (
         |      SELECT evid, sta,
         |        max(CASE WHEN score_x IS NOT NULL THEN fmin END) AS fmin_gmc,
         |        max(CASE WHEN chan = 'HN' THEN 1 END) AS has_fmax,
         |        max(CASE WHEN chan = 'HN' AND loc_elev IS NULL THEN 1 END) AS fmax_nan,
         |        min(CASE WHEN chan = 'HN' THEN least(fmax_x, fmax_y, fmax_z) END) AS fmax_val,
         |        max(CASE WHEN chan = 'BN' AND rflag = 'R' THEN 1 END) AS in_byp,
         |        max(CASE WHEN chan = 'BN' AND rflag = 'R' THEN 3e-2 + (pk % 10) / 1e2 END) AS fmin_byp,
         |        min(CASE WHEN chan = 'BN' AND rflag = 'R' THEN 2e-2 + (pk % 20) / 1e2 END) AS fmax_byp
         |      FROM gm_records GROUP BY evid, sta)))""".stripMargin
    },
    "waveform_poly_correct" -> Catalog.oracle {
      import graft.functions.{Portable, Spectra}
      val horner = "((((c2_0 * CAST(i AS DOUBLE) + c2_1) * CAST(i AS DOUBLE) + c2_2)" +
        " * CAST(i AS DOUBLE) + c2_3) * CAST(i AS DOUBLE) + c2_4)"
      val cfs = (0 to 4).map(m =>
        s"${Portable.dotSql("disp", Spectra.rowSql(Spectra.PolyRows(m)))} AS cf$m").mkString(",\n      ")
      val c2s = (0 to 4).map(m =>
        s"(cf$m * ${Portable.dl((Spectra.PolyOrder - m).toDouble)}) * ${Portable.dl((Spectra.PolyOrder - 1 - m).toDouble)} AS c2_$m").mkString(",\n      ")
      s"""SELECT record_id, chan,
         |  corr[${Spectra.N}] AS corr_last,
         |  ${Portable.dotSql("corr", "corr")} AS corr_energy,
         |  c2_0, c2_1, c2_2, c2_3, c2_4
         |FROM (
         |  SELECT record_id, chan, c2_0, c2_1, c2_2, c2_3, c2_4,
         |    list_transform(range(0, ${Spectra.N}), i -> bb[i+1] - $horner) AS corr
         |  FROM (
         |    SELECT record_id, chan, bb,
         |      $c2s
         |    FROM (
         |      SELECT record_id, chan, bb,
         |      $cfs
         |      FROM (
         |        SELECT record_id, chan, bb, ${Spectra.cumTrapzSql("vel")} AS disp FROM (
         |          SELECT record_id, chan, bb,
         |            list_transform(${Spectra.cumTrapzSql("bb")}, v -> v * 9.81e0 / 10e0) AS vel
         |          FROM (
         |            SELECT record_id, chan, ${Spectra.cascadeSeriesSql("tw")} AS bb FROM (
         |$twChainSql)))))))""".stripMargin
    },
    "im_duration" -> Catalog.oracle(
      s"""SELECT record_id,
         |  CAST(total AS DOUBLE) * CAST('${math.Pi / (2.0 * 9.81) * 0.05 / 1e4}' AS DOUBLE) AS arias,
         |  CAST(n75 - n5 AS DOUBLE) * 5e-2 AS ds575,
         |  CAST(n95 - n5 AS DOUBLE) * 5e-2 AS ds595
         |FROM (
         |  SELECT record_id, max(total) AS total,
         |    min(CASE WHEN cum * 20 >= total THEN j END) AS n5,
         |    min(CASE WHEN cum * 4 >= total * 3 THEN j END) AS n75,
         |    min(CASE WHEN cum * 20 >= total * 19 THEN j END) AS n95
         |  FROM (
         |    SELECT record_id, j, total, cum FROM (
         |      SELECT record_id, j,
         |        sum(e) OVER (PARTITION BY record_id) AS total,
         |        sum(e) OVER (PARTITION BY record_id ORDER BY j
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM (SELECT record_id, j, acc_c * acc_c AS e FROM grid)))
         |  GROUP BY record_id
         |)""".stripMargin, gridCte),
    "im_psa" -> Catalog.oracle {
      import graft.functions.Sdof
      s"""SELECT record_id, chan,
         |  ${Sdof.Periods.map(t => s"${Sdof.psaSql(t, "ps")} AS ${Sdof.colName(t)}").mkString(",\n  ")}
         |FROM (SELECT record_id, chan, ${Sdof.psSql} AS ps FROM gm_records)""".stripMargin
    },
    "im_rotd" -> Catalog.oracle {
      import graft.functions.Rotd
      val pkCols = Rotd.Periods.map(t => s"${Rotd.peaksSqlCol(t)} AS pks_${Rotd.suffix(t)}") :+
        s"${Rotd.pgaPeaksSqlCol} AS pks_pga"
      val stats = Rotd.Periods.flatMap(t => Rotd.psaStatSqls(t, s"pks_${Rotd.suffix(t)}")) ++
        Rotd.pgaStatSqls("pks_pga")
      s"""SELECT record_id,
         |  ${stats.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
         |FROM (SELECT record_id,
         |  ${pkCols.mkString(",\n  ")}
         |FROM gm_records)""".stripMargin
    },
    "station_mag_agg" -> Catalog.oracle(
      """SELECT evid,
        |  count(*) AS n_mags,
        |  CAST(max(mag_c) AS DOUBLE) / 100e0 AS max_mag,
        |  CAST(sum(mag_c) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100e0 AS mean_mag,
        |  CAST(coalesce(max(CASE WHEN chan = 'HN' THEN mag_c END), max(mag_c)) AS DOUBLE) / 100e0 AS pref_mag
        |FROM (SELECT evid, chan, 300 + (pk % 30) * 10 + sta % 10 AS mag_c FROM gm_records)
        |GROUP BY evid""".stripMargin)
  )
}
