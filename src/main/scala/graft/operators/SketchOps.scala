package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryFn
import graft.functions.Portable
import graft.sources.Tables

/** Mergeable distinct-count sketches — the cardinality estimates a
  * pipeline needs where an exact COUNT(DISTINCT) is a corpus-wide
  * shuffle it can't afford (unique users per segment, unique shingles
  * per shard, vocabulary size during ingest).
  *
  * The sketch here is KMV (K Minimum Values, Bar-Yossef et al. 2002):
  * keep the K smallest distinct hash values per group; the K-th
  * smallest estimates the density of a uniform hash over [0, 2^60),
  * so est ≈ (K-1)·2^60 / h_(K). Chosen over HyperLogLog deliberately:
  * the sketch STATE is integer hashes (order-independent,
  * cross-engine bit-exact via the md5-based `h60`), and the estimate
  * needs ONE float division at the end — where HLL's harmonic mean is
  * a float accumulation the DuckDB twin could not reproduce bitwise.
  * Spark's own `approx_count_distinct` (HLL++) remains the
  * black-box alternative; this one is checkable.
  *
  * Merge property (what makes it a sketch): the K smallest of a union
  * is computable from the K smallest of each part — so partial
  * per-partition top-K states combine associatively on a cluster and
  * across days. */
object SketchOps {

  val KmvK = 64
  /** Hash domain size 2^60 as an EXACT double literal (6-bit mantissa
    * × power of two — the product (K-1)·M is exact in IEEE double). */
  val KmvDomain = 1152921504606846976.0

  /** Distinct users per event_type, sketched. `n_kept` < K means the
    * group had fewer distinct values than the sketch size and the
    * count is exact.
    *
    * The sketch's merge property lives in the PHYSICAL plan: the
    * custom [[graft.functions.KmvKSmallest]] TypedImperativeAggregate
    * keeps a bounded (≤K longs) buffer per group, partial-aggregates
    * map-side and merges associatively — so the only shuffle is ≤K
    * longs per (group × input partition), with dedup riding the
    * sketch state for free. The previous formulation (hash-distinct
    * on (type, hash), then a per-type Window sort to rank-filter K)
    * shuffled EVERY distinct hash and sorted whole groups to keep 64
    * rows — O(n log n) per group where the sketch is O(n log K);
    * that shape survives at 100 TB only with a pre-filter, this one
    * needs none. It is also the exact associative fold the streaming
    * twin ([[graft.streaming.StreamingDistinctKmv]]) applies per
    * micro-batch, so batch and streaming now share one merge
    * semantics (the spec's multi-batch split pins them equal). */
  def distinctKmv(s: SparkSession, d: String): DataFrame =
    kmvSketches(s, d)
      .select(col("event_type"),
        size(col("sk")).cast("long").as("n_kept"),
        element_at(col("sk"), -1).as("kth_min"))
      .select(col("event_type"), col("n_kept"), col("kth_min"),
        kmvEstimate(col("n_kept"), col("kth_min")).as("est_distinct"))

  /** A user's KMV hash — the one salt the batch sketches and the
    * streaming twin ([[graft.streaming.StreamingDistinctKmv]]) share. */
  private[graft] def kmvHash: Column =
    Portable.h60(concat(lit("kmv:"), col("user_id").cast("string")))

  /** Per-type sketch `sk`: the K smallest distinct [[kmvHash]]es,
    * ascending. */
  private def kmvSketches(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sketch = ColumnBridge.column(
      graft.functions.KmvKSmallest(ColumnBridge.expression(col("h")), KmvK)
        .toAggregateExpression())
    Tables.events(s, d).select(col("event_type"), kmvHash.as("h"))
      .groupBy(col("event_type")).agg(sketch.as("sk"))
  }

  /** The KMV estimate from a sketch's size `n` and its largest kept
    * hash `kth`: exact below K, (K-1)·2^60 / kth at K. */
  private def kmvEstimate(n: Column, kth: Column): Column =
    when(n < KmvK, n.cast("double"))
      .otherwise(lit((KmvK - 1).toDouble * KmvDomain) / kth.cast("double"))

  /** Per-type KMV sketch state as ROWS (event_type, h): the bounded
    * (≤K per type) exploded form the sketch-ALGEBRA operators merge
    * relationally — the same rows a production pipeline would persist
    * as its per-segment sketch table. */
  private def sketchRows(s: SparkSession, d: String): DataFrame =
    kmvSketches(s, d).select(col("event_type"), explode(col("sk")).as("h"))

  /** Every unordered pair (type_a < type_b) of the event types in
    * `df`, both sides broadcast — the pair dimension of the
    * set-algebra operators, bounded by type cardinality². */
  private def typePairs(df: DataFrame): DataFrame = {
    val types = df.select(col("event_type")).distinct()
    broadcast(types.select(col("event_type").as("type_a")))
      .join(broadcast(types.select(col("event_type").as("type_b"))),
        col("type_a") < col("type_b"))
  }

  /** Pair frame + merged UNION sketch shared by the KMV set-algebra
    * operators: per unordered type pair, the K smallest distinct
    * hashes of A ∪ B (the associative KMV merge). Returns the two
    * renamed sketch-row sides and the merged sketch — one definition
    * of the union construction so [[kmvIntersect]] and
    * [[kmvDifference]] cannot diverge. */
  private def kmvPairUnion(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // the sketch table is ≤ K·|types| rows BY CONSTRUCTION — exactly
    // the thing to materialize once: the set-algebra consumers fan it
    // out 4-6× (type dim, both union sides, membership probes), and
    // every unmaterialized reference re-ran the corpus scan + KMV
    // aggregate behind it
    val rows = sketchRows(s, d).localCheckpoint(false)
    val tp = typePairs(rows)
    val aRows = rows.select(col("event_type").as("type_a"), col("h"))
    val bRows = rows.select(col("event_type").as("type_b"), col("h"))
    val unioned = tp.join(aRows, Seq("type_a")).select(col("type_a"), col("type_b"), col("h"))
      .unionByName(tp.join(bRows, Seq("type_b")).select(col("type_a"), col("type_b"), col("h")))
      .distinct()
    val mw = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))
    (aRows, bRows,
      unioned.withColumn("rn", row_number().over(mw)).filter(col("rn") <= KmvK))
  }

  /** KMV sketch INTERSECTION (theta-sketch-style set algebra): for
    * every unordered pair of event_types, estimate the overlap of
    * their user sets FROM THE SKETCHES ALONE — the segment-overlap
    * question ("how many purchase users also click?") answered
    * without ever joining the raw user sets. Union sketch = K
    * smallest of the merged states (the associative KMV merge);
    * θ = its K-th value; Jaccard = |A ∩ B ∩ union-sketch| / K_union
    * (exact integer ppm); intersection estimate = Jaccard × the
    * union's KMV cardinality estimate. Everything up to the final two
    * float ops is integer state over ≤ K·|types| rows — the pair
    * "join" is a type-dimension² cross (bounded by event-type
    * cardinality², the `session_cooccurrence` fan-out bound), and the
    * sketch rows it fans out are ≤ K per type REGARDLESS of corpus
    * size: this is the whole point of sketch algebra at 100 TB. */
  def kmvIntersect(s: SparkSession, d: String): DataFrame = {
    val (aRows, bRows, merged) = kmvPairUnion(s, d)
    val mstats = merged.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("k_union"), max(col("h")).as("theta"))
    // common hashes inside the union sketch's accepted region (≤ θ)
    val common = aRows.join(bRows, Seq("h")).filter(col("type_a") < col("type_b"))
      .join(mstats, Seq("type_a", "type_b"))
      .filter(col("h") <= col("theta"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_common"))
    mstats.join(common, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("k_union"), col("theta"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jacc_ppm", expr("(n_common * 1000000) div k_union"))
      .withColumn("est_union", kmvEstimate(col("k_union"), col("theta")))
      .withColumn("est_intersection",
        col("jacc_ppm").cast("double") * col("est_union") / lit(1000000.0))
  }

  /** KMV sketch DIFFERENCE — the third operation of the theta-style
    * set algebra ([[kmvIntersect]] covers ∪/∩): est(A \ B) and
    * est(B \ A) per unordered event_type pair, from the sketches
    * alone. Every hash in the union sketch sits at or below
    * θ = min(θ_A, θ_B) (the union's K-th smallest can't exceed either
    * input's), and below its own θ a KMV sketch contains ALL of its
    * set's hashes — so membership flags against the two input
    * sketches are EXACT within the union sketch's accepted region,
    * and est(A\B) = (|A-only| / K_union) · est(∪). Same bounds as the
    * intersection: pair fan-out = type-cardinality², sketch rows ≤ K
    * per type at any corpus size, integer state until the final two
    * float ops. */
  def kmvDifference(s: SparkSession, d: String): DataFrame = {
    val (aRows, bRows, merged) = kmvPairUnion(s, d)
    val flagged = merged.select(col("type_a"), col("type_b"), col("h"))
      .join(aRows.withColumn("in_a", lit(1L)), Seq("type_a", "h"), "left")
      .join(bRows.withColumn("in_b", lit(1L)), Seq("type_b", "h"), "left")
    flagged.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("k_union"), max(col("h")).as("theta"),
        sum(when(col("in_a") === 1L && col("in_b").isNull, 1L).otherwise(0L)).as("n_a_only"),
        sum(when(col("in_b") === 1L && col("in_a").isNull, 1L).otherwise(0L)).as("n_b_only"))
      .withColumn("est_union", kmvEstimate(col("k_union"), col("theta")))
      .select(col("type_a"), col("type_b"), col("k_union"), col("theta"),
        col("n_a_only"), col("n_b_only"), col("est_union"),
        ((col("n_a_only").cast("double") / col("k_union").cast("double")) * col("est_union"))
          .as("est_a_minus_b"),
        ((col("n_b_only").cast("double") / col("k_union").cast("double")) * col("est_union"))
          .as("est_b_minus_a"))
  }

  val HistQs = Seq(50, 90, 99)
  val HistMaxPow = 62

  /** An event's value in integer cents — what the histogram sketches
    * bucket. */
  private[graft] def histCents: Column = expr("cast(round(value * 100) as bigint)")

  /** The log₂ bucket of a `cents` column as a CASE chain (−1 for
    * non-positive cents) — shared with the streaming twin
    * ([[graft.streaming.StreamingQuantileHist]]) so batch and stream
    * bucket identically. */
  private[graft] def histBucket: Column = expr((HistMaxPow to 0 by -1)
    .map(b => s"WHEN cents >= ${1L << b}L THEN ${b}L").mkString("CASE ", " ", " ELSE -1L END"))

  /** cum-window + exact integer nearest-rank quantile pick + p_lo
    * rendering over a (key, bucket, cnt) histogram — ONE source of
    * truth for the pick rule, shared by [[quantileHistSketch]]
    * (key = event_type) and [[rollingQuantileHist]] (key = day). */
  private def histQuantilePick(hist: DataFrame, key: String, nAs: String): DataFrame = {
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col(key)).orderBy(col("bucket"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col(key))))
    val qAggs = HistQs.map(q =>
      min(when(col("cum") >= expr(s"(n * $q + 99) div 100"), col("bucket"))).as(s"b$q"))
    cum.groupBy(col(key))
      .agg(max(col("n")).cast("long").as(nAs), qAggs: _*)
      .select(col(key) +: col(nAs) +: HistQs.map(q =>
        expr(s"CASE WHEN b$q < 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE shiftleft(CAST(1 AS BIGINT), CAST(b$q AS INT)) END").as(s"p${q}_lo")): _*)
  }

  /** Mergeable log₂-histogram QUANTILE sketch: per event_type the
    * approximate p50/p90/p99 of cent values from a bounded power-of-2
    * bucket histogram — the fixed-state answer where
    * `corpus_quantiles`' exact nearest-rank selection needs the full
    * per-group shuffle. The sketch state is ≤ 64 (bucket, count)
    * pairs per key, merged by plain addition (partial-aggregable
    * groupBy — Spark's map-side combine IS the sketch merge), and
    * every reported quantile is the bucket LOWER BOUND at the exact
    * ceil(q·n/100) rank — a one-sided bound with ≤ 2× value error by
    * construction, bit-identical on any partitioning because
    * everything is integer. Non-positive cents land in bucket −1
    * (lower bound 0). */
  def quantileHistSketch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), histCents.as("cents"))
    val hist = ev.withColumn("bucket", histBucket)
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("cnt"))
    histQuantilePick(hist, "event_type", "n")
  }

  /** Trailing-[[RollW]]-day spend quantiles per day from
    * PRE-AGGREGATED daily histogram sketches — [[rollingHllDistinct]]'s
    * ADDITIVE twin (the two mergeable-sketch algebras side by side:
    * HLL registers union by MAX, histogram buckets by SUM), and the
    * rolling-percentile monitor a pipeline publishes from persisted
    * per-day sketch tables without ever re-scanning history. One
    * events pass builds the D×buckets table (pinned to one
    * evaluation); each trailing window is a sum-merge of ≤ RollW
    * constant-size states via the same explode-to-target-days
    * equi-join (no range join); the quantile pick is the exact
    * integer nearest-rank rule over the merged cumulative counts —
    * everything integer, bit-exact on any partitioning. */
  def rollingQuantileHist(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val daily = ev.select(
        EventOps.tsUs(ev.schema("ts").dataType).as("ts_us"), histCents.as("cents"))
      .select(expr(s"ts_us div $DayUs").as("day"), histBucket.as("bucket"))
      .groupBy(col("day"), col("bucket")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // D×buckets rows: one events pass feeds both legs
    val days = daily.select(col("day")).distinct()
    val trail = daily
      .select(explode(sequence(col("day"), col("day") + lit(RollW - 1).cast("long")))
          .as("tday"),
        col("bucket"), col("cnt"))
      .join(days.select(col("day").as("tday")), Seq("tday"), "left_semi")
      .groupBy(col("tday").as("day"), col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    daily.groupBy(col("day")).agg(sum(col("cnt")).cast("long").as("n_daily"))
      .join(histQuantilePick(trail, "day", "n_trail"), Seq("day"))
  }

  val HllM = 64      // registers (p = 6 index bits)
  val HllWBits = 54  // 60-bit h60 minus the 6 index bits
  /** alpha_m · m² · 2^55 for m = 64 (Flajolet et al. 2007 §4:
    * alpha_m = 0.7213 / (1 + 1.079/m)) — the whole float part of the
    * HLL estimate collapsed into ONE literal, so the only float op at
    * eval time is a single division by the exact integer harmonic
    * sum. */
  val HllEstNum: Double = 0.7213 / (1.0 + 1.079 / HllM) * (HllM.toDouble * HllM) *
    math.pow(2.0, HllWBits + 1)

  /** rho(w) = position of the highest set bit counted from the top of
    * the 54-bit window (1 = top bit set, 54 = only bit 0 set, 55 =
    * w = 0) as a portable integer CASE chain — the [[histBucket]]
    * idiom; `sqlLong` spells int64 literals per engine. */
  private def hllRhoChain(sqlLong: Long => String): String =
    (HllWBits - 1 to 0 by -1)
      .map(b => s"WHEN w >= ${sqlLong(1L << b)} THEN ${sqlLong(HllWBits - b)}")
      .mkString("CASE ", " ", s" ELSE ${sqlLong(HllWBits + 1)} END")

  /** Cached per data dir (the sigCache pattern): [[hllIntersect]]
    * otherwise re-derives the events scan + register aggregation four
    * times (per-type estimates, the type dimension, and both arms of
    * the pair union); the table is ≤ HllM rows per type — constant
    * memory at any corpus size. Released by [[Caches.clearAll]]. */
  private val hllRegCache = new Caches.PerDir[DataFrame]("SketchOps.hllReg", Seq(_))

  /** The HLL register rows of `df`: one (key, reg, rho) per user_id,
    * with register index = low 6 bits of the user's salted `h60` and
    * rho = [[hllRhoChain]] over the other 54. `pre` is carried beside
    * the hash and `key` is computed from it. Shared with the streaming
    * twin ([[graft.streaming.StreamingHll]]) so batch and stream
    * register identically. */
  private[graft] def hllRegRho(df: DataFrame, pre: Column, key: Column): DataFrame =
    df.select(pre, Portable.h60(concat(lit("hll:"), col("user_id").cast("string"))).as("h"))
      .select(key, (col("h") % HllM).as("reg"), expr(s"h div $HllM").as("w"))
      .withColumn("rho", expr(hllRhoChain(v => s"${v}L")))
      .drop("w")

  /** Per-(event_type, register) max rho — the exploded HLL state rows
    * the estimate aggregates and the set-algebra operator
    * ([[hllIntersect]]) merges relationally (≤ [[HllM]] rows per type
    * regardless of corpus size). */
  private def hllRegs(s: SparkSession, d: String): DataFrame =
    hllRegCache.get(d)(
      hllRegRho(Tables.events(s, d), col("event_type"), col("event_type"))
        .groupBy(col("event_type"), col("reg")).agg(max(col("rho")).as("mrho"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** (n_zero, harm_sum, est_hll) off grouped register rows — the exact
    * integer harmonic sum + one float division, shared by
    * [[hllDistinct]] and [[hllIntersect]]. */
  private def hllEstimate(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped
      .agg(count(lit(1)).as("n_regs"),
        sum(expr(s"shiftleft(1L, cast(${HllWBits + 1} - mrho as int))")).as("s_present"))
      .withColumn("n_zero", lit(HllM.toLong) - col("n_regs"))
      .withColumn("harm_sum",
        col("s_present") + col("n_zero") * lit(1L << (HllWBits + 1)))
      .withColumn("est_hll", lit(HllEstNum) / col("harm_sum").cast("double"))
      .drop("n_regs", "s_present")

  /** HyperLogLog distinct users per event_type — the CONSTANT-state
    * counterpart of [[distinctKmv]]: where KMV keeps K hash values,
    * HLL keeps m = 64 six-bit registers (max leading-zero rank per
    * register), merged by per-register MAX — associative, commutative,
    * idempotent, so the same state unions across partitions, days and
    * datacenters, and duplicates cost nothing. Everything up to the
    * last division is integer and bit-exact cross-engine: register
    * index = low 6 hash bits, rho = CASE-chain rank over the top 54
    * bits, and the harmonic denominator is computed EXACTLY as
    * harm_sum = Σ 2^(55 − rho_j) ≤ 64·2^55 < 2^62 (empty registers
    * contribute 2^55), so est = [[HllEstNum]] / harm_sum is one float
    * division of two exact values. No small/large-range corrections —
    * n_zero is emitted so a consumer can see when the linear-counting
    * regime applies (the raw estimate is still deterministic). */
  def hllDistinct(s: SparkSession, d: String): DataFrame =
    hllEstimate(hllRegs(s, d).groupBy(col("event_type")))
      .select(col("event_type"), col("n_zero"), col("harm_sum"), col("est_hll"))

  val RollW  = 7            // trailing window (days) for the rolling sketch
  /** Epoch-microseconds per day — EventOps owns the day-bucketing unit
    * (single source of truth; a drift between the two would silently
    * misalign the rolling-sketch day keys with the event family's). */
  val DayUs: Long = EventOps.DayUs

  /** Trailing-[[RollW]]-day distinct users per day from PRE-AGGREGATED
    * HLL states — the pattern that makes distinct-over-window viable
    * at 100 TB: a distinct count cannot be windowed from daily counts
    * (distincts don't add), but daily REGISTER states union by
    * per-register MAX, so one corpus pass builds D×m register rows
    * and every trailing window is a merge of ≤ RollW constant-size
    * states — the sketch-table a production pipeline persists per
    * partition/day and merges at query time (DAU/WAU stickiness,
    * rolling reach). Shape: one partial-agg events pass (pinned to
    * one evaluation — the day-register table is KB-sized), then the
    * window merge as an EQUI-join (each day's state explodes to the
    * RollW target days it contributes to — no range/nested-loop
    * join), two estimate aggregates, one join. The stickiness ratio
    * floors deterministic IEEE doubles into ppm (both engines compute
    * the identical division chain). */
  def rollingHllDistinct(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val daily = hllRegRho(ev, EventOps.tsUs(ev.schema("ts").dataType).as("ts_us"),
        expr(s"ts_us div $DayUs").as("day"))
      .groupBy(col("day"), col("reg")).agg(max(col("rho")).as("mrho"))
      .localCheckpoint(false) // D×m rows: one events pass feeds both legs
    val days = daily.select(col("day")).distinct()
    val trailRegs = daily
      .select(explode(sequence(col("day"), col("day") + lit(RollW - 1).cast("long")))
          .as("tday"),
        col("reg"), col("mrho"))
      .join(days.select(col("day").as("tday")), Seq("tday"), "left_semi")
      .groupBy(col("tday").as("day"), col("reg")).agg(max(col("mrho")).as("mrho"))
    val dEst = hllEstimate(daily.groupBy(col("day")))
      .select(col("day"), col("harm_sum").as("harm_daily"), col("est_hll").as("est_daily"))
    val tEst = hllEstimate(trailRegs.groupBy(col("day")))
      .select(col("day"), col("harm_sum").as("harm_trail"), col("est_hll").as("est_trail"))
    dEst.join(tEst, Seq("day"))
      .withColumn("stickiness_ppm",
        expr("floor(est_daily * 1000000.0 / est_trail)").cast("long"))
  }

  /** HLL set algebra — pairwise event_type user-set OVERLAP by
    * inclusion-exclusion, from the register states alone: the union
    * sketch of two HLLs is the per-register MAX of their states (the
    * same associative merge that unions across partitions/days), so
    * est(A ∩ B) = est(A) + est(B) − est(A ∪ B) without ever joining
    * the raw user sets — [[kmvIntersect]]'s theta-sketch shape with
    * CONSTANT (m-register) state per segment. The pair fan-out is
    * type-cardinality² over ≤ [[HllM]]-row states (broadcast-sized at
    * ANY corpus size); every register merge is integer; the three
    * estimates are each one float division of exact integers and the
    * final subtraction is deterministic IEEE arithmetic on those
    * three (can go ≤ 0 for disjoint sets — the estimator's known
    * behavior, reported as-is). */
  def hllIntersect(s: SparkSession, d: String): DataFrame = {
    val regs = hllRegs(s, d)
    val est = hllEstimate(regs.groupBy(col("event_type")))
      .select(col("event_type"), col("est_hll"))
    val tp = typePairs(regs)
    val aRegs = regs.select(col("event_type").as("type_a"), col("reg"), col("mrho"))
    val bRegs = regs.select(col("event_type").as("type_b"), col("reg"), col("mrho"))
    val unionRegs = tp.join(aRegs, Seq("type_a"))
      .select(col("type_a"), col("type_b"), col("reg"), col("mrho"))
      .unionByName(tp.join(bRegs, Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("reg"), col("mrho")))
      .groupBy(col("type_a"), col("type_b"), col("reg"))
      .agg(max(col("mrho")).as("mrho"))
    hllEstimate(unionRegs.groupBy(col("type_a"), col("type_b")))
      .withColumnRenamed("est_hll", "est_union")
      .drop("n_zero", "harm_sum")
      .join(broadcast(est.select(col("event_type").as("type_a"),
        col("est_hll").as("est_a"))), Seq("type_a"))
      .join(broadcast(est.select(col("event_type").as("type_b"),
        col("est_hll").as("est_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersection"))
  }

  // Count-Min sketch sizing. Production sizing is w = ceil(e/eps),
  // d = ceil(ln(1/delta)); here w is deliberately SMALLER than the
  // corpus vocabulary (31 terms at any sf — the generator's word
  // list) so counter collisions actually occur and the overestimate
  // arithmetic is exercised, not vacuously zero.
  val CmsD = 3     // hash rows
  val CmsW = 16    // counters per row
  val CmsTopK = 20 // error-report size
  val HhDen = 40   // heavy-hitter threshold: count ≥ n_total / HhDen

  /** Exact per-term occurrence counts — one explode + one
    * partial-aggregable groupBy(term); the shuffle carries one row per
    * (partition × distinct term) after map-side combine. */
  private def cmsTermCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(Portable.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

  /** One row per hash row `i` of the d counter rows. */
  private[graft] def cmsRows: Column = explode(array((0 until CmsD).map(lit): _*)).as("i")

  /** The counter a `term` hits in hash row `i` — shared with the
    * streaming twin ([[graft.streaming.StreamingCms]]). */
  private[graft] def cmsPos(i: Column, term: Column): Column =
    Portable.h60(concat(lit("cm"), i.cast("string"), lit(":"), term)) % CmsW

  /** The d×w counter table (CmsD · CmsW rows — broadcast-sized at ANY
    * corpus size, which is the point of the sketch). Built from the
    * pre-aggregated term counts — identical, by the sketch's own
    * additivity, to streaming every token through the counters. */
  private def cmsCounters(tc: DataFrame): DataFrame =
    tc.select(col("term"), col("cnt"), cmsRows)
      .select(col("i"), cmsPos(col("i"), col("term")).as("pos"), col("cnt"))
      .groupBy(col("i"), col("pos")).agg(sum(col("cnt")).as("cw"))

  /** CM point estimate (min over the d counters each term hashes to)
    * for every term in `probe` — a map-side broadcast join against the
    * fixed-size counter table; no shuffle beyond the final per-term
    * min, whose input is exactly d rows per term. */
  private def cmsEstimate(probe: DataFrame, counters: DataFrame): DataFrame =
    probe.select(col("term"), cmsRows)
      .withColumn("pos", cmsPos(col("i"), col("term")))
      .join(broadcast(counters), Seq("i", "pos"))
      .groupBy(col("term")).agg(min(col("cw")).as("est"))

  /** Count-Min error report: the exact top-K terms with their CM point
    * estimates and the overestimate in ppm — the sketch-QA table that
    * tells an operator whether the configured (d, w) is tight enough
    * for the corpus at hand. est ≥ cnt ALWAYS (CM never
    * underestimates — the spec asserts it); the ppm is exact integer
    * division. Scale shape: exact counts are one partial-agg groupBy,
    * the top-K is distributed (TakeOrderedAndProject), and the probe
    * joins a broadcast counter table — nothing here grows with corpus
    * size except the one term-count shuffle every vocab report already
    * pays. */
  def cmsErrorReport(s: SparkSession, d: String): DataFrame = {
    val tc = cmsTermCounts(s, d)
    val counters = cmsCounters(tc)
    val top = tc.orderBy(col("cnt").desc, col("term")).limit(CmsTopK)
      .withColumn("rnk",
        RangeRank.kRank(col("term"), col("cnt").desc, col("term")))
    cmsEstimate(top.select(col("term")), counters)
      .join(top, Seq("term"))
      .select(col("rnk"), col("term"), col("cnt"), col("est"),
        expr("((est - cnt) * 1000000) div cnt").as("over_ppm"))
  }

  /** Sketch-guided heavy hitters: candidate terms whose CM ESTIMATE
    * clears the n/[[HhDen]] threshold, then an exact recount of just
    * those candidates — the two-pass shape that finds heavy hitters at
    * 100 TB without ever shuffling the full term distribution twice:
    * pass 1 streams tokens into the fixed-size counters, pass 2
    * recounts only the candidate set (CM overestimates, so candidates
    * ⊇ true heavy hitters — no false negatives, and `is_heavy` marks
    * the false positives the exact recount disproves). The one-row
    * total join is broadcast-scalar (allowlisted shape). */
  def cmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val tc = cmsTermCounts(s, d)
    val counters = cmsCounters(tc)
    val total = tc.agg(sum(col("cnt")).as("n_total"))
    cmsEstimate(tc.select(col("term")), counters)
      .crossJoin(broadcast(total))
      .filter(col("est") >= expr(s"n_total div $HhDen"))
      .join(tc, Seq("term"))
      .select(col("term"), col("est"), col("cnt"),
        (col("cnt") >= expr(s"n_total div $HhDen")).as("is_heavy"))
  }

  /** CMS INNER-PRODUCT join-size estimate — the sketch that answers
    * "how big is A ⋈ B on user_id?" before paying the join (the
    * classic AMS/CM application a distributed planner uses to choose
    * broadcast vs shuffle vs salt): for every unordered event_type
    * pair, |A ⋈ B| = Σ_u c_A(u)·c_B(u) is estimated as
    * min_i Σ_pos cwA[i,pos]·cwB[i,pos] over the d counter rows. The
    * estimate NEVER underestimates (every true product lands in some
    * shared counter; collisions only add — the spec pins
    * est ≥ true on every pair), and the exact join size is emitted
    * alongside as the audit. Scale shape: per-type counters are d×w
    * rows at ANY corpus size; the estimate is a (d·w·types²)-row
    * equi-join of two broadcast-sized tables; the exact audit is one
    * partial-agg per-(type,user) count + a user-keyed equi-join —
    * the one corpus-sized shuffle, which is the thing the estimate
    * exists to avoid in production (drop the audit columns and
    * nothing scans the raw keys twice). Products accumulate in
    * decimal(38,0)/HUGEINT: cw ≤ rows-per-type, so a term of the
    * inner product reaches ~1e18 at 1e9 rows/type and the 16-term sum
    * wraps int64 silently where DuckDB would promote. */
  def cmsJoinEstimate(s: SparkSession, d: String): DataFrame = {
    // the per-(type,user) count feeds the counter build, BOTH sides
    // of the exact-audit join, and the type dimension — materialized
    // once so none of the five consumers re-derives the events scan
    val uc = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val counters = uc
      .select(col("event_type"), col("cnt"), cmsRows, col("user_id"))
      .select(col("event_type"), col("i"),
        (Portable.h60(concat(lit("cj"), col("i").cast("string"), lit(":"),
          col("user_id").cast("string"))) % CmsW).as("pos"),
        col("cnt"))
      .groupBy(col("event_type"), col("i"), col("pos")).agg(sum(col("cnt")).as("cw"))
    val ca = counters.select(col("event_type").as("type_a"), col("i"), col("pos"),
      col("cw").as("cwa"))
    val cb = counters.select(col("event_type").as("type_b"), col("i"), col("pos"),
      col("cw").as("cwb"))
    val ipd = ca.join(cb, Seq("i", "pos")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("i"))
      .agg(sum(expr("cast(cwa as decimal(38,0)) * cwb")).as("ipd"))
    val ua = uc.select(col("event_type").as("type_a"), col("user_id"), col("cnt").as("ca"))
    val ub = uc.select(col("event_type").as("type_b"), col("user_id"), col("cnt").as("cb"))
    val exact = ua.join(ub, Seq("user_id")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(expr("cast(ca as decimal(38,0)) * cb")).cast("long").as("true_join"))
    // the min runs over ALL d hash rows of every unordered pair, from
    // the broadcast type-dimension² × range(d) frame: a hash row whose
    // footprints are fully disjoint (possible for a type with one or
    // two users) contributes inner-product 0 — the estimator is then
    // exactly 0 for the pair, not the min over the overlapping rows
    val est = typePairs(uc).select(col("type_a"), col("type_b"), cmsRows)
      .join(ipd, Seq("type_a", "type_b", "i"), "left")
      .groupBy(col("type_a"), col("type_b"))
      .agg(min(coalesce(col("ipd"), lit(0).cast("decimal(38,0)"))).cast("long").as("est_join"))
    est.join(exact, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("est_join"),
        coalesce(col("true_join"), lit(0L)).as("true_join"))
      .withColumn("over_ppm",
        when(col("true_join") > 0,
          expr("((est_join - true_join) * 1000000) div true_join"))
          .otherwise(lit(null).cast("long")))
  }

  val BloomBits  = 1024 // m: filter size (32 words x 32 bits)
  val BloomWords = 32
  val BloomK     = 3    // hash functions

  /** Deterministic BLOOM-FILTER semi-join — the runtime-filter pattern
    * made explicit and checkable: build a 1024-bit Bloom filter over
    * the purchaser user set (one partial-agg `bit_or` into 32 words —
    * broadcast-sized at ANY member count, which is the whole point:
    * the filter's size is fixed while the set it summarizes grows),
    * then probe every user against it with `BloomK` h60-derived bit
    * positions. Output carries both the filter's verdict and the exact
    * membership flag, so the false-positive rate is itself part of the
    * checked result — no false NEGATIVES is the Bloom guarantee the
    * spec asserts. In production the probe side never joins the member
    * set at all (the exact flag here is the audit); this is how a scan
    * pre-filters against a huge dimension before paying the real
    * join. Bits use 32-bit words in int64 so no shift ever reaches the
    * sign bit — identical two's-complement semantics on both
    * engines. */
  def bloomSemiFilter(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val users = ev.select(col("user_id")).distinct()
    // member set feeds the filter build AND the exact-flag audit —
    // materialized once (user-dimension-bounded)
    val purchasers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().localCheckpoint(false)
    val bloom = bloomBits(purchasers)
      .groupBy(col("w")).agg(expr("bit_or(mask)").as("bw"))
    val probe = bloomPositions(users)
      .withColumn("w", bloomWord(col("pos")))
      .join(broadcast(bloom), Seq("w"), "left")
      .select(col("user_id"),
        (expr(s"coalesce(bw, 0L) & shiftleft(1L, cast(pos % $BloomWords as int))") =!= 0L)
          .as("hit"))
      .groupBy(col("user_id")).agg(expr("bool_and(hit)").as("might_purchaser"))
    probe.join(purchasers.withColumn("isp", lit(true)), Seq("user_id"), "left")
      .select(col("user_id"), col("might_purchaser"),
        coalesce(col("isp"), lit(false)).as("is_purchaser"))
  }

  /** The BloomK bit positions (user_id, j, pos) of every user_id in
    * `df`. */
  private def bloomPositions(df: DataFrame): DataFrame =
    df.select(col("user_id"), explode(array((0 until BloomK).map(lit): _*)).as("j"))
      .select(col("user_id"), col("j"),
        (Portable.h60(concat(lit("bf"), col("j").cast("string"), lit(":"),
          col("user_id").cast("string"))) % BloomBits).as("pos"))

  private def bloomWord(pos: Column): Column = (pos / BloomWords).cast("long")

  /** The filter's bits for the user_ids in `df`, as (w, mask) rows:
    * word index and the one-bit mask inside it — the build side of
    * [[bloomSemiFilter]] and the rows the streaming twin
    * ([[graft.streaming.StreamingBloom]]) ORs together. */
  private[graft] def bloomBits(df: DataFrame): DataFrame =
    bloomPositions(df).select(bloomWord(col("pos")).as("w"),
      expr(s"shiftleft(1L, cast(pos % $BloomWords as int))").as("mask"))

  val queries: Map[String, QueryFn] = Map(
    "distinct_kmv" -> (distinctKmv _),
    "kmv_intersect" -> (kmvIntersect _),
    "quantile_hist_sketch" -> (quantileHistSketch _),
    "bloom_semi_filter" -> (bloomSemiFilter _),
    "hll_distinct" -> (hllDistinct _),
    "rolling_hll_distinct" -> (rollingHllDistinct _),
    "rolling_quantile_hist" -> (rollingQuantileHist _),
    "hll_intersect" -> (hllIntersect _),
    "cms_error_report" -> (cmsErrorReport _),
    "cms_heavy_hitters" -> (cmsHeavyHitters _),
    "kmv_difference" -> (kmvDifference _),
    "cms_join_estimate" -> (cmsJoinEstimate _)
  )

  /** SQL twins of [[histQuantilePick]]'s three pieces (bucket chain,
    * nearest-rank selector, p_lo rendering) — one spelling shared by
    * the quantile_hist_sketch and rolling_quantile_hist oracles. */
  private val histChainSql = (HistMaxPow to 0 by -1)
    .map(b => s"WHEN cents >= ${1L << b} THEN $b").mkString("\n    ")
  private val histQSelSql = HistQs.map(q =>
    s"min(CASE WHEN cum >= (n * $q + 99) // 100 THEN bucket END) AS b$q").mkString(",\n  ")
  private val histQOutSql = HistQs.map(q =>
    s"CASE WHEN b$q < 0 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) << CAST(b$q AS INTEGER) END AS p${q}_lo")
    .mkString(",\n  ")

  /** Batch oracle for the streaming CMS twin: the exact d×w counter
    * table ([[cmsCounters]]'s additive state) recomputed in SQL. */
  def cmsCountersOracle: String =
    s"""WITH $cmsCtes
       |SELECT CAST(i AS BIGINT) AS i, pos, CAST(cw AS BIGINT) AS cw
       |FROM ctr""".stripMargin

  /** Batch oracle for the streaming Bloom twin: the purchaser
    * filter's word table ([[bloomSemiFilter]]'s build side) in SQL. */
  def bloomWordsOracle: String =
    s"""WITH pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
       |jx AS (SELECT unnest(range(0, $BloomK)) AS j),
       |bp AS (
       |  SELECT ${Portable.h60Sql("'bf' || CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % $BloomBits AS pos
       |  FROM pu, jx)
       |SELECT pos // $BloomWords AS w,
       |       bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomWords AS INTEGER)) AS bw
       |FROM bp GROUP BY 1""".stripMargin

  /** Shared per-type HLL register CTEs for the hll_* oracles. */
  private def hllRegCtes: String = {
    val chain = hllRhoChain(v => v.toString)
    s"""hh AS (
       |  SELECT event_type,
       |         ${Portable.h60Sql("'hll:' || CAST(user_id AS VARCHAR)")} AS h
       |  FROM events),
       |rw AS (SELECT event_type, h % $HllM AS reg, h // $HllM AS w FROM hh),
       |rr AS (SELECT event_type, reg, $chain AS rho FROM rw),
       |mx AS (SELECT event_type, reg, max(rho) AS mrho FROM rr GROUP BY 1, 2)""".stripMargin
  }

  private def cmsCtes: String =
    s"""toks AS (SELECT unnest(${Portable.tokensSql("text")}) AS term FROM documents),
       |tc AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
       |jx AS (SELECT unnest(range(0, $CmsD)) AS i),
       |cpos AS (
       |  SELECT i, ${Portable.h60Sql("'cm' || CAST(i AS VARCHAR) || ':' || term")} % $CmsW AS pos,
       |         term, cnt
       |  FROM tc, jx),
       |ctr AS (SELECT i, pos, sum(cnt) AS cw FROM cpos GROUP BY 1, 2),
       |est AS (
       |  SELECT p.term, CAST(min(c.cw) AS BIGINT) AS est
       |  FROM cpos p JOIN ctr c ON p.i = c.i AND p.pos = c.pos
       |  GROUP BY p.term)""".stripMargin

  val oracles: Map[String, String] = Map(
    "hll_distinct" -> {
      val chain = hllRhoChain(v => v.toString)
      s"""WITH h AS (
         |  SELECT event_type,
         |         ${Portable.h60Sql("'hll:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |rw AS (SELECT event_type, h % $HllM AS reg, h // $HllM AS w FROM h),
         |rr AS (SELECT event_type, reg, $chain AS rho FROM rw),
         |mx AS (SELECT event_type, reg, max(rho) AS mrho FROM rr GROUP BY 1, 2),
         |ag AS (
         |  SELECT event_type, count(*) AS n_regs,
         |         sum(CAST(1 AS BIGINT) << CAST(${HllWBits + 1} - mrho AS INTEGER)) AS s_present
         |  FROM mx GROUP BY 1)
         |SELECT event_type,
         |       CAST($HllM - n_regs AS BIGINT) AS n_zero,
         |       CAST(s_present + ($HllM - n_regs) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS BIGINT) AS harm_sum,
         |       ${Portable.dl(HllEstNum)} /
         |         CAST(CAST(s_present + ($HllM - n_regs) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS BIGINT) AS DOUBLE)
         |         AS est_hll
         |FROM ag""".stripMargin
    },
    "rolling_quantile_hist" -> {
      val chain = histChainSql
      val qSel = histQSelSql
      val qOut = histQOutSql
      s"""WITH ev AS (
         |  SELECT epoch_ns(ts) // 1000 // $DayUs AS day,
         |         CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |bk AS (
         |  SELECT day, CAST(CASE
         |    $chain
         |    ELSE -1 END AS BIGINT) AS bucket FROM ev),
         |dh AS (SELECT day, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day FROM dh),
         |ct AS (SELECT day + g AS tday, bucket, cnt FROM dh, range($RollW) t(g)),
         |tr AS (
         |  SELECT c.tday AS day, c.bucket, CAST(sum(c.cnt) AS BIGINT) AS cnt
         |  FROM ct c JOIN days dy ON c.tday = dy.day GROUP BY 1, 2),
         |cu AS (
         |  SELECT day, bucket, cnt,
         |         sum(cnt) OVER (PARTITION BY day ORDER BY bucket) AS cum,
         |         sum(cnt) OVER (PARTITION BY day) AS n
         |  FROM tr),
         |q AS (
         |  SELECT day, CAST(max(n) AS BIGINT) AS n_trail,
         |  $qSel
         |  FROM cu GROUP BY 1),
         |nd AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n_daily FROM dh GROUP BY day)
         |SELECT nd.day, nd.n_daily, q.n_trail,
         |  $qOut
         |FROM nd JOIN q ON nd.day = q.day""".stripMargin
    },
    "rolling_hll_distinct" -> {
      val chain = hllRhoChain(v => v.toString)
      def estSel(src: String, key: String, harmAs: String, estAs: String) =
        s"""SELECT $key AS day,
           |  CAST(sum(CAST(1 AS BIGINT) << CAST(${HllWBits + 1} - mrho AS INTEGER))
           |       + ($HllM - count(*)) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS BIGINT) AS $harmAs,
           |  ${Portable.dl(HllEstNum)} /
           |    CAST(sum(CAST(1 AS BIGINT) << CAST(${HllWBits + 1} - mrho AS INTEGER))
           |         + ($HllM - count(*)) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS DOUBLE) AS $estAs
           |FROM $src GROUP BY $key""".stripMargin
      s"""WITH ev AS (
         |  SELECT epoch_ns(ts) // 1000 AS ts_us, user_id FROM events),
         |h AS (SELECT ts_us // $DayUs AS day,
         |        ${Portable.h60Sql("'hll:' || CAST(user_id AS VARCHAR)")} AS h FROM ev),
         |rw AS (SELECT day, h % $HllM AS reg, h // $HllM AS w FROM h),
         |rr AS (SELECT day, reg, $chain AS rho FROM rw),
         |dr AS (SELECT day, reg, max(rho) AS mrho FROM rr GROUP BY 1, 2),
         |days AS (SELECT DISTINCT day FROM dr),
         |ct AS (SELECT day + g AS tday, reg, mrho FROM dr, range($RollW) t(g)),
         |tr AS (
         |  SELECT c.tday AS day, c.reg, max(c.mrho) AS mrho
         |  FROM ct c JOIN days dy ON c.tday = dy.day GROUP BY 1, 2),
         |de AS (
         |  ${estSel("dr", "day", "harm_daily", "est_daily")}),
         |te AS (
         |  ${estSel("tr", "day", "harm_trail", "est_trail")})
         |SELECT de.day, de.harm_daily, de.est_daily, te.harm_trail, te.est_trail,
         |       CAST(floor(de.est_daily * 1000000.0 / te.est_trail) AS BIGINT) AS stickiness_ppm
         |FROM de JOIN te ON de.day = te.day""".stripMargin
    },
    "hll_intersect" ->
      s"""WITH $hllRegCtes,
         |e AS (
         |  SELECT event_type,
         |         ${Portable.dl(HllEstNum)} /
         |           CAST(sum(CAST(1 AS BIGINT) << CAST(${HllWBits + 1} - mrho AS INTEGER))
         |                + ($HllM - count(*)) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS DOUBLE)
         |           AS est
         |  FROM mx GROUP BY event_type),
         |ty AS (SELECT DISTINCT event_type FROM mx),
         |tp AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
         |ur AS (
         |  SELECT type_a, type_b, reg, max(mrho) AS mrho FROM (
         |    SELECT t.type_a, t.type_b, m.reg, m.mrho FROM tp t JOIN mx m ON m.event_type = t.type_a
         |    UNION ALL
         |    SELECT t.type_a, t.type_b, m.reg, m.mrho FROM tp t JOIN mx m ON m.event_type = t.type_b)
         |  GROUP BY 1, 2, 3),
         |ue AS (
         |  SELECT type_a, type_b,
         |         ${Portable.dl(HllEstNum)} /
         |           CAST(sum(CAST(1 AS BIGINT) << CAST(${HllWBits + 1} - mrho AS INTEGER))
         |                + ($HllM - count(*)) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS DOUBLE)
         |           AS est_union
         |  FROM ur GROUP BY 1, 2)
         |SELECT u.type_a, u.type_b, ea.est AS est_a, eb.est AS est_b, u.est_union,
         |       ea.est + eb.est - u.est_union AS est_intersection
         |FROM ue u
         |JOIN e ea ON ea.event_type = u.type_a
         |JOIN e eb ON eb.event_type = u.type_b""".stripMargin,
    "cms_error_report" ->
      s"""WITH $cmsCtes,
         |top AS (
         |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
         |  FROM tc ORDER BY cnt DESC, term LIMIT $CmsTopK)
         |SELECT t.rnk, t.term, t.cnt, e.est,
         |       ((e.est - t.cnt) * 1000000) // t.cnt AS over_ppm
         |FROM top t JOIN est e ON t.term = e.term""".stripMargin,
    "cms_heavy_hitters" ->
      s"""WITH $cmsCtes,
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM tc)
         |SELECT e.term, e.est, t.cnt,
         |       (t.cnt >= (SELECT n_total FROM tot) // $HhDen) AS is_heavy
         |FROM est e JOIN tc t ON e.term = t.term
         |WHERE e.est >= (SELECT n_total FROM tot) // $HhDen""".stripMargin,
    "bloom_semi_filter" ->
      s"""WITH pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         |us AS (SELECT DISTINCT user_id FROM events),
         |jx AS (SELECT unnest(range(0, $BloomK)) AS j),
         |bp AS (
         |  SELECT ${Portable.h60Sql("'bf' || CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % $BloomBits AS pos
         |  FROM pu, jx),
         |bw AS (
         |  SELECT pos // $BloomWords AS w,
         |         bit_or(CAST(1 AS BIGINT) << CAST(pos % $BloomWords AS INTEGER)) AS bw
         |  FROM bp GROUP BY 1),
         |qp AS (
         |  SELECT user_id,
         |         ${Portable.h60Sql("'bf' || CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % $BloomBits AS pos
         |  FROM us, jx),
         |hits AS (
         |  SELECT qp.user_id,
         |         (coalesce(bw.bw, 0) & (CAST(1 AS BIGINT) << CAST(qp.pos % $BloomWords AS INTEGER))) <> 0 AS hit
         |  FROM qp LEFT JOIN bw ON qp.pos // $BloomWords = bw.w),
         |m AS (SELECT user_id, bool_and(hit) AS might_purchaser FROM hits GROUP BY user_id)
         |SELECT m.user_id, m.might_purchaser, (pu.user_id IS NOT NULL) AS is_purchaser
         |FROM m LEFT JOIN pu ON m.user_id = pu.user_id""".stripMargin,
    "distinct_kmv" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |         ${Portable.h60Sql("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM h),
         |k AS (
         |  SELECT event_type, count(*) AS n_kept, max(h) AS kth_min
         |  FROM r WHERE rn <= $KmvK GROUP BY event_type)
         |SELECT event_type, n_kept, kth_min,
         |       CASE WHEN n_kept < $KmvK THEN CAST(n_kept AS DOUBLE)
         |            ELSE ${Portable.dl((KmvK - 1).toDouble * KmvDomain)} / CAST(kth_min AS DOUBLE) END
         |         AS est_distinct
         |FROM k""".stripMargin,
    "quantile_hist_sketch" -> {
      val chain = histChainSql
      val qSel = histQSelSql
      val qOut = histQOutSql
      s"""WITH ev AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |bk AS (
         |  SELECT event_type, CAST(CASE
         |    $chain
         |    ELSE -1 END AS BIGINT) AS bucket FROM ev),
         |h AS (SELECT event_type, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
         |c AS (
         |  SELECT event_type, bucket, cnt,
         |         sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
         |         sum(cnt) OVER (PARTITION BY event_type) AS n
         |  FROM h),
         |q AS (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |  $qSel
         |  FROM c GROUP BY 1)
         |SELECT event_type, n,
         |  $qOut
         |FROM q""".stripMargin
    },
    "kmv_difference" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |         ${Portable.h60Sql("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM h),
         |sk AS (SELECT event_type, h FROM r WHERE rn <= $KmvK),
         |ty AS (SELECT DISTINCT event_type FROM sk),
         |tps AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
         |un AS (
         |  SELECT DISTINCT type_a, type_b, h FROM (
         |    SELECT t.type_a, t.type_b, s.h FROM tps t JOIN sk s ON s.event_type = t.type_a
         |    UNION ALL
         |    SELECT t.type_a, t.type_b, s.h FROM tps t JOIN sk s ON s.event_type = t.type_b)),
         |mg AS (
         |  SELECT type_a, type_b, h,
         |         row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
         |  FROM un),
         |fl AS (
         |  SELECT m.type_a, m.type_b, m.h,
         |         (a.h IS NOT NULL) AS in_a, (b.h IS NOT NULL) AS in_b
         |  FROM mg m
         |  LEFT JOIN sk a ON a.event_type = m.type_a AND a.h = m.h
         |  LEFT JOIN sk b ON b.event_type = m.type_b AND b.h = m.h
         |  WHERE m.rn <= $KmvK),
         |ag AS (
         |  SELECT type_a, type_b, count(*) AS k_union, max(h) AS theta,
         |         CAST(sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
         |         CAST(sum(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only
         |  FROM fl GROUP BY 1, 2),
         |base AS (
         |  SELECT type_a, type_b, k_union, theta, n_a_only, n_b_only,
         |         CASE WHEN k_union < $KmvK THEN CAST(k_union AS DOUBLE)
         |              ELSE ${Portable.dl((KmvK - 1).toDouble * KmvDomain)} / CAST(theta AS DOUBLE) END
         |           AS est_union
         |  FROM ag)
         |SELECT type_a, type_b, k_union, theta, n_a_only, n_b_only, est_union,
         |       (CAST(n_a_only AS DOUBLE) / CAST(k_union AS DOUBLE)) * est_union AS est_a_minus_b,
         |       (CAST(n_b_only AS DOUBLE) / CAST(k_union AS DOUBLE)) * est_union AS est_b_minus_a
         |FROM base""".stripMargin,
    "cms_join_estimate" ->
      s"""WITH uc AS (
         |  SELECT event_type, user_id, count(*) AS cnt FROM events GROUP BY 1, 2),
         |jx AS (SELECT unnest(range(0, $CmsD)) AS i),
         |cp AS (
         |  SELECT event_type, i,
         |         ${Portable.h60Sql("'cj' || CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")} % $CmsW AS pos,
         |         cnt
         |  FROM uc, jx),
         |ctr AS (SELECT event_type, i, pos, CAST(sum(cnt) AS BIGINT) AS cw
         |        FROM cp GROUP BY 1, 2, 3),
         |ip AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.i,
         |         sum(CAST(a.cw AS HUGEINT) * b.cw) AS ipd
         |  FROM ctr a
         |  JOIN ctr b ON a.i = b.i AND a.pos = b.pos AND a.event_type < b.event_type
         |  GROUP BY 1, 2, 3),
         |ty AS (SELECT DISTINCT event_type FROM uc),
         |tp AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
         |ipx AS (
         |  SELECT tp.type_a, tp.type_b, coalesce(ip.ipd, 0) AS ipd
         |  FROM tp CROSS JOIN jx
         |  LEFT JOIN ip ON ip.type_a = tp.type_a AND ip.type_b = tp.type_b
         |              AND ip.i = jx.i),
         |es AS (SELECT type_a, type_b, CAST(min(ipd) AS BIGINT) AS est_join
         |       FROM ipx GROUP BY 1, 2),
         |ex AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |         CAST(sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS BIGINT) AS true_join
         |  FROM uc a JOIN uc b ON a.user_id = b.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT es.type_a, es.type_b, es.est_join,
         |       coalesce(ex.true_join, CAST(0 AS BIGINT)) AS true_join,
         |       CASE WHEN coalesce(ex.true_join, 0) > 0
         |            THEN ((es.est_join - ex.true_join) * 1000000) // ex.true_join
         |            ELSE CAST(NULL AS BIGINT) END AS over_ppm
         |FROM es
         |LEFT JOIN ex ON es.type_a = ex.type_a AND es.type_b = ex.type_b""".stripMargin,
    "kmv_intersect" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |         ${Portable.h60Sql("'kmv:' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM h),
         |sk AS (SELECT event_type, h FROM r WHERE rn <= $KmvK),
         |ty AS (SELECT DISTINCT event_type FROM sk),
         |tps AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
         |un AS (
         |  SELECT DISTINCT type_a, type_b, h FROM (
         |    SELECT t.type_a, t.type_b, s.h FROM tps t JOIN sk s ON s.event_type = t.type_a
         |    UNION ALL
         |    SELECT t.type_a, t.type_b, s.h FROM tps t JOIN sk s ON s.event_type = t.type_b)),
         |mg AS (
         |  SELECT type_a, type_b, h,
         |         row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
         |  FROM un),
         |ms AS (
         |  SELECT type_a, type_b, count(*) AS k_union, max(h) AS theta
         |  FROM mg WHERE rn <= $KmvK GROUP BY 1, 2),
         |cm AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_common
         |  FROM sk a
         |  JOIN sk b ON a.h = b.h AND a.event_type < b.event_type
         |  JOIN ms ON ms.type_a = a.event_type AND ms.type_b = b.event_type
         |         AND a.h <= ms.theta
         |  GROUP BY 1, 2),
         |base AS (
         |  SELECT ms.type_a, ms.type_b, ms.k_union, ms.theta,
         |         coalesce(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
         |         (coalesce(cm.n_common, CAST(0 AS BIGINT)) * 1000000) // ms.k_union AS jacc_ppm,
         |         CASE WHEN ms.k_union < $KmvK THEN CAST(ms.k_union AS DOUBLE)
         |              ELSE ${Portable.dl((KmvK - 1).toDouble * KmvDomain)} / CAST(ms.theta AS DOUBLE) END
         |           AS est_union
         |  FROM ms LEFT JOIN cm ON ms.type_a = cm.type_a AND ms.type_b = cm.type_b)
         |SELECT type_a, type_b, k_union, theta, n_common, jacc_ppm, est_union,
         |       CAST(jacc_ppm AS DOUBLE) * est_union / 1000000.0 AS est_intersection
         |FROM base""".stripMargin
  )
}
