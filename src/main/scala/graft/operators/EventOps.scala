package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}
import graft.QueryFn
import graft.functions.Portable
import graft.sources.Tables

/** Clickstream-style operators over the `events` table: gap-rule
  * sessionization and per-user running aggregates — the batch halves
  * of a training-data pipeline's behavioral features.
  *
  * Scale notes: both operators are a single scan + a single window
  * shuffle keyed by `user_id` (the natural partition key; skewed power
  * users are handled by AQE skew-split since the window partition is
  * hash-distributed). Monetary running sums run over scaled-integer
  * cents: windowed sums over raw doubles are NOT reproducible across
  * engines (segment-tree accumulation order — see dev/PORTABILITY.md)
  * and at cluster scale not even across retries.
  */
object EventOps {

  val GapUs: Long = 30L * 60 * 1000000 // 30-minute session gap

  /** Epoch-microseconds from whatever vintage of `events.ts` the data
    * was written with. The testdata has shipped BOTH encodings across
    * rounds: TIMESTAMP(NANOS) parquet (Spark reads it as a raw
    * nanos-since-epoch long under the session's nanosAsLong setting)
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as
    * TIMESTAMP_NTZ). Branching on the type Spark actually read — not a
    * hardcoded assumption — is what keeps a regeneration from turning
    * into a silent 1000x misscale (round-9 postmortem). The NTZ cast
    * goes through the session timezone, which Sessions.scala pins to
    * UTC, matching DuckDB's epoch_ns(ts). */
  def tsUs(dt: DataType): Column = dt match {
    case LongType                        => expr("ts div 1000").cast("long")
    case TimestampNTZType | TimestampType => unix_micros(col("ts").cast("timestamp"))
    case other =>
      throw new IllegalArgumentException(
        s"events.ts read as unsupported type $other; expected nanos LongType or TIMESTAMP/_NTZ")
  }

  /** Same vintage branch, but producing an event-time TIMESTAMP column
    * (for streaming watermarks / time windows). */
  def tsEventTime(dt: DataType): Column = dt match {
    case LongType                        => timestamp_micros(expr("ts div 1000").cast("long"))
    case TimestampNTZType | TimestampType => col("ts").cast("timestamp")
    case other =>
      throw new IllegalArgumentException(
        s"events.ts read as unsupported type $other; expected nanos LongType or TIMESTAMP/_NTZ")
  }

  /** events with portable microsecond timestamps and integer cents. */
  private def events(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.select(
      col("event_id"), col("user_id"), col("event_type"),
      tsUs(ev.schema("ts").dataType).as("ts_us"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
  }

  private val userW = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
  private val userRunW = userW.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Session assignment: a new session starts when the gap from the
    * previous event of the same user exceeds GapUs. lag + cumulative
    * boundary-sum — one window shuffle, no self-join. Adds
    * `session_idx` (with its `prev_us` and `boundary` steps) to an
    * [[events]] frame; every session operator assigns through it. */
  private def sessions(ev: DataFrame): DataFrame =
    ev.withColumn("prev_us", lag(col("ts_us"), 1).over(userW))
      .withColumn("boundary",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > GapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("boundary")).over(userRunW))

  /** Each event with its [[sessions]] index. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    events(s, d).transform(sessions)
      .select("event_id", "user_id", "ts_us", "session_idx")

  /** Per-user running aggregates: event count, cumulative spend
    * (integer cents → exact), running max, plus the final value as
    * dollars (single exact division). */
  def userRunningAggs(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("r_count", count(lit(1)).over(userRunW))
      .withColumn("r_cents", sum(col("cents")).over(userRunW))
      .withColumn("r_max_cents", max(col("cents")).over(userRunW))
      .select(col("event_id"), col("user_id"), col("r_count"), col("r_cents"),
        col("r_max_cents"), (col("r_cents").cast("double") / 100.0).as("r_dollars"))

  /** Semi-structured property extraction: `props` is a JSON string
    * column (the usual shape of event payloads); `get_json_object`
    * runs codegen'd per row, no UDF. */
  def eventPropsExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"),
      get_json_object(col("props"), "$.k").cast("long").as("prop_k"))

  /** As-of join: each purchase matched to the LATEST click of the same
    * user at or before the purchase time (last-touch attribution — the
    * point-lookup complement of `streaming_interval_join`'s window
    * fan-out). Spark has no ASOF JOIN operator; the scalable
    * formulation is a single merged scan: tag both sides, sort within
    * the user partition by (ts, side, id) — clicks before purchases at
    * equal ts gives the `click_ts <= purchase_ts` semantics — and carry
    * the most recent click forward with `last(_, ignoreNulls)` over the
    * preceding rows. ONE window shuffle on user_id, no join at all, so
    * there is no time-range blow-up to band: cost is linear in events
    * regardless of how many clicks precede each purchase. The DuckDB
    * twin is the opposite formulation (range join + per-purchase
    * argmax), so the compare also pins the tie rules. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("event_type").isin("click", "purchase"))
      .withColumn("is_p", when(col("event_type") === "purchase", 1).otherwise(0))
    val mergeW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_p"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("c",
        last(when(col("is_p") === 0, struct(col("ts_us"), col("event_id"))),
          ignoreNulls = true).over(mergeW))
      .filter(col("is_p") === 1)
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_us"),
        col("c.event_id").as("click_id"), col("c.ts_us").as("click_us"),
        (col("ts_us") - col("c.ts_us")).as("lag_us"))
  }

  val TrailUs: Long = 3600L * 1000000L // 1-hour trailing feature window

  /** Trailing time-window features: per event, the same-user event
    * count and exact cent spend in the preceding hour (inclusive) —
    * the standard real-time-feature backfill shape (rate limiting,
    * burst detection, spend velocity). A RANGE frame, not ROWS: the
    * frame is defined by timestamp VALUES, so ties contribute
    * symmetrically and the result is deterministic without a
    * tie-breaking sort key — count and integer-cent sum over the frame
    * are order-independent. One window shuffle on user_id, state
    * bounded by the time horizon. */
  def trailingWindowCounts(s: SparkSession, d: String): DataFrame = {
    val trailW = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-TrailUs, 0)
    events(s, d)
      .withColumn("n_trail", count(lit(1)).over(trailW))
      .withColumn("cents_trail", sum(col("cents")).over(trailW))
      .select("event_id", "user_id", "ts_us", "n_trail", "cents_trail")
  }

  /** Ordered conversion funnel view → click → purchase: per user the
    * first view, the first click AT OR AFTER that view, and the first
    * purchase at or after that click (strict event-order semantics —
    * a click before any view does not count). ONE corpus scan and ONE
    * user-keyed exchange: the three stage thresholds are chained
    * per-user window minima over the SAME unordered partition-only
    * frame (stage k's condition reads stage k−1's windowed value —
    * three Window nodes, zero extra shuffles, no sort: an unordered
    * full-partition min is frame-order-independent), then one
    * partial-agg groupBy collapses to a row per user. The previous
    * shape (three filtered groupBys chained by joins) re-scanned the
    * corpus seven times for the same answer. */
  def eventFunnel(s: SparkSession, d: String): DataFrame = {
    val fullW = Window.partitionBy(col("user_id"))
    events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("ts_us"))).over(fullW))
      .withColumn("fc",
        min(when(col("event_type") === "click" && col("ts_us") >= col("fv"),
          col("ts_us"))).over(fullW))
      .withColumn("fp",
        min(when(col("event_type") === "purchase" && col("ts_us") >= col("fc"),
          col("ts_us"))).over(fullW))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("fv")).as("first_view_us"),
        max(col("fc")).as("first_click_us"),
        max(col("fp")).as("first_purchase_us"))
      .select(col("user_id"), col("n_events"),
        col("first_view_us"), col("first_click_us"), col("first_purchase_us"),
        when(col("first_purchase_us").isNotNull, 3L)
          .when(col("first_click_us").isNotNull, 2L)
          .when(col("first_view_us").isNotNull, 1L)
          .otherwise(0L).as("stage"))
  }

  /** Session-level rollup — the product sessionization exists for:
    * per (user, session) event count, duration, exact cent spend.
    * Window pass to assign sessions, then one partial-aggregable
    * groupBy on the same key prefix (no extra repartitioning: the
    * session assignment already clustered rows by user). */
  def sessionStats(s: SparkSession, d: String): DataFrame =
    events(s, d).transform(sessions)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        sum(col("cents")).as("sum_cents"))

  val HourUs: Long = 3600L * 1000000L

  /** Multi-dimensional event report: counts and exact cent volume per
    * (event_type, hour-of-day) with all CUBE margins — type totals,
    * hourly totals, grand total — in ONE pass (the traffic-shape
    * dashboard a pipeline reads before sizing streaming state). CUBE
    * plans as a single expand (rows ×4) + one partial-aggregable
    * shuffle, the grouping-sets sibling of `corpus_rollup`'s ROLLUP;
    * `gid` is the grouping bit-vector. Hour-of-day is exact integer
    * arithmetic on epoch micros (UTC), no timezone/locale functions. */
  def eventCube(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("hod", expr(s"(ts_us div $HourUs) % 24"))
      .cube(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        grouping_id().as("gid"))
      .select(col("event_type"), col("hod"), col("gid"),
        col("n_events"), col("sum_cents").cast("long").as("sum_cents"))

  /** Per-user session rollup via Spark's BUILT-IN `session_window`
    * operator — the declarative twin of the hand-rolled lag+cumsum
    * [[sessionStats]], kept as its own checked query because the two
    * formulations differ at one boundary: `session_window` closes a
    * session when the next event lands AT OR AFTER prev + gap
    * (half-open [start, prev+gap) windows), where the lag rule uses
    * strictly-greater. The built-in plans as one partial-aggregable
    * session-merge aggregation (no window function, map-side combine
    * does local session merging before the shuffle) — at scale this
    * beats the window formulation whenever sessions are short relative
    * to partition size. Window bounds surface as exact epoch micros. */
  def sessionWindowAgg(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.select(col("event_id"), col("user_id"),
        tsEventTime(ev.schema("ts").dataType).as("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_cents").cast("long").as("sum_cents"))
  }

  val SlideUs: Long  = 900L * 1000000L  // 15-minute slide
  val WinUs: Long    = 3600L * 1000000L // 1-hour window

  /** Global traffic curve via the built-in SLIDING `window` operator:
    * event counts + exact cent volume per 1-hour window sliding every
    * 15 minutes. Each event replicates into window/slide = 4 windows
    * (Spark plans this as a generate + partial-aggregable groupBy —
    * one shuffle of pre-combined window rows); bounds are exact epoch
    * micros, windows aligned to the epoch like Spark's. */
  def slidingWindowCounts(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.select(tsEventTime(ev.schema("ts").dataType).as("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("sum_cents").cast("long").as("sum_cents"))
  }

  val AttributionUs: Long = graft.streaming.StreamingIntervalJoin.AttributionUs

  /** The banded (click, purchase) pair frame [[intervalJoin]] projects
    * and [[attributionLinear]] weights: every same-user pair with the
    * purchase inside the click's attribution window, timestamps
    * retained. */
  private def clickPurchasePairs(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("c_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts_us").as("p_us"))
    Joins.banded(clicks, purchases,
        Seq(Joins.Band(col("c_us"), col("p_us"), AttributionUs.toDouble, 0.0, AttributionUs.toDouble)),
        on = Seq("user_id"))
      .filter(col("p_us") >= col("c_us") && col("p_us") <= col("c_us") + AttributionUs)
  }

  /** Batch event-time INTERVAL JOIN: every (click, purchase) pair of
    * the same user with the purchase inside the click's 1-hour
    * attribution window — the batch twin of
    * [[graft.streaming.StreamingIntervalJoin]]. The naive spelling
    * (`user equi-join` + range filter) is an equi-join Spark handles,
    * but its per-user work is quadratic in that user's event count —
    * a power user with 10^6 events is a 10^12-pair hot key no AQE
    * skew-split fixes (splitting an equi-key does not shrink the
    * cross product). The scalable formulation BANDS TIME like the
    * distance operators band space: bucket both sides by the
    * window-sized time bin, fan the click side out to (bin, bin+1),
    * and equi-join on (user, bin) — each true pair matches in exactly
    * one bin (the purchase's), so no dedup, and per-key work is
    * bounded by events-per-user-per-hour, not events-per-user. */
  def intervalJoin(s: SparkSession, d: String): DataFrame =
    clickPurchasePairs(s, d).select(col("click_id"), col("purchase_id"), col("user_id"))

  /** LINEAR multi-touch attribution: each purchase's credit split
    * equally (in integer parts-per-million) over every click in its
    * attribution window — the multi-touch complement of `asof_join`'s
    * last-touch rule. The ppm split is exact integer arithmetic; the
    * division remainder goes to the EARLIEST click (ties by click_id),
    * so per-purchase credits sum to exactly 1e6 on any engine and any
    * partitioning. Rides the banded pair frame (work bounded per
    * (user, hour) like `interval_join`) plus one window over the
    * purchase key — fan-in per purchase is window-bounded, so the
    * window partition is too. */
  def attributionLinear(s: SparkSession, d: String): DataFrame = {
    val pw = Window.partitionBy(col("purchase_id"))
    val rankW = pw.orderBy(col("c_us"), col("click_id"))
    clickPurchasePairs(s, d)
      .withColumn("n_clicks", count(lit(1)).over(pw))
      .withColumn("rn", row_number().over(rankW))
      .select(col("purchase_id"), col("click_id"), col("user_id"), col("n_clicks"),
        (expr("1000000 div n_clicks") +
          when(col("rn") === 1, expr("1000000 % n_clicks")).otherwise(0L))
          .cast("long").as("credit_ppm"))
  }

  val NearestUs: Long = AttributionUs // ±1-hour nearest-click horizon

  /** NEAREST-event as-of join: each purchase matched to the CLOSEST
    * same-user click within ±1 hour, either direction — the
    * sensor-alignment flavor of as-of matching (`asof_join` is the
    * strictly-backward flavor). Same merged-scan shape, two frames:
    * the nearest preceding click is `last(click)` over the preceding
    * frame, the nearest following is `first(click)` over the following
    * frame (clicks sort before purchases at equal ts, so an equal-ts
    * click counts as preceding at distance 0); the closer side wins,
    * ties to the preceding click. ONE window shuffle on user_id, no
    * join, cost linear in events regardless of click density. The
    * DuckDB twin is the opposite formulation (±window range join +
    * per-purchase argmin with the same tie chain), so agreement pins
    * both the distance rule and every tie rule. */
  def asofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("event_type").isin("click", "purchase"))
      .withColumn("is_p", when(col("event_type") === "purchase", 1).otherwise(0))
    val ordW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_p"), col("event_id"))
    val prevW = ordW.rowsBetween(Window.unboundedPreceding, -1)
    val nextW = ordW.rowsBetween(1, Window.unboundedFollowing)
    val clickStruct = when(col("is_p") === 0, struct(col("ts_us"), col("event_id")))
    ev
      .withColumn("pc", last(clickStruct, ignoreNulls = true).over(prevW))
      .withColumn("nc", first(clickStruct, ignoreNulls = true).over(nextW))
      .filter(col("is_p") === 1)
      .withColumn("pd", col("ts_us") - col("pc.ts_us"))
      .withColumn("nd", col("nc.ts_us") - col("ts_us"))
      .withColumn("use_prev",
        col("pc").isNotNull && (col("nc").isNull || col("pd") <= col("nd")))
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_us"),
        when(col("use_prev"), col("pc.event_id")).otherwise(col("nc.event_id")).as("click_id"),
        when(col("use_prev"), col("pc.ts_us")).otherwise(col("nc.ts_us")).as("click_us"),
        when(col("use_prev"), col("pd")).otherwise(col("nd")).as("dist_us"))
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        when(col("dist_us") <= NearestUs, col("click_id")).as("click_id"),
        when(col("dist_us") <= NearestUs, col("click_us")).as("click_us"),
        when(col("dist_us") <= NearestUs, col("dist_us")).as("dist_us"))
  }

  val DayUs: Long = 86400L * 1000000L

  /** Retention-cohort matrix: users grouped by FIRST-SEEN day (the
    * cohort), counted on each later active day by day offset — the
    * standard product-retention triangle. Shape: one partial-agg
    * groupBy for the per-user first day, a distinct over (user, day)
    * for activity, and an equi-join of the two on `user_id` — every
    * exchange hash-partitions on the user key, and the final count is
    * a plain count (a user has exactly one cohort, so distinct
    * (user, day) rows are already distinct (cohort, offset, user)
    * contributions). All integer day arithmetic on epoch micros. */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val active = ev.distinct()
    active.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order Markov transition matrix of event types: per-user
    * event sequences (one window shuffle on `user_id`), each adjacent
    * (type → next type) pair counted, with an integer parts-per-million
    * share of the source type's outgoing transitions (float-free —
    * ratios over integer counts are engine-exact). The behavioral
    * transition model a sessionized product corpus feeds into. */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    val shareW = Window.partitionBy(col("src_type"))
    events(s, d)
      .withColumn("dst_type", lead(col("event_type"), 1).over(userW))
      .filter(col("dst_type").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum(col("n")).over(shareW))
      .select(col("src_type"), col("dst_type"), col("n"),
        expr("(n * 1000000) div tot").cast("long").as("ppm"))
  }

  /** Per-user path likelihood under the [[markovTransitions]] model —
    * the event-side twin of `lm_doc_score` (an LM scoring its own
    * training corpus): every adjacent (type → next type) step is
    * scored with the model's integer-ppm transition share, and the
    * user's path rolls up to the transition count, total/minimum step
    * score and the exact integer mean. A user whose mean sits far
    * below the corpus (or whose min_ppm is a rare transition) is the
    * sequence-anomaly candidate bot/fraud triage reads. Float-free:
    * the model shares `markov_transitions`' exact ppm arithmetic, so
    * the report is bit-identical on any partitioning. Shape: the
    * transition frame is one window shuffle on `user_id`; the model is
    * an aggregate of that same frame (|types|² rows — broadcast back
    * onto the steps), and the rollup groupBy rides the user key. Two
    * passes over `events` by design (model fit + scoring) — the
    * standard two-phase shape of any fit-then-score operator; neither
    * pass is checkpoint-worthy because both are corpus-sized. */
  def markovPathScore(s: SparkSession, d: String): DataFrame = {
    val tr = events(s, d)
      .withColumn("dst_type", lead(col("event_type"), 1).over(userW))
      .filter(col("dst_type").isNotNull)
      .select(col("user_id"), col("event_type").as("src_type"), col("dst_type"))
    // the model IS markovTransitions' output — one source of truth for
    // the exact-ppm transition arithmetic (the streaming twin collects
    // the same operator)
    val model = markovTransitions(s, d).select("src_type", "dst_type", "ppm")
    tr.join(broadcast(model), Seq("src_type", "dst_type"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_trans"),
        sum(col("ppm")).cast("long").as("sum_ppm"),
        min(col("ppm")).as("min_ppm"))
      .withColumn("avg_ppm", expr("sum_ppm div n_trans").cast("long"))
  }

  /** Session path report: each gap-rule session rendered as its
    * ordered event-type string (view>click>purchase…), counted across
    * the corpus — the navigation-pattern rollup product analytics
    * builds on sessionization. Path assembly is deterministic: the
    * per-session event list is collected as (ts, event_id, type)
    * structs and `sort_array`-ed (total order, unique event_id
    * tiebreak) before joining — never an unordered collect_list
    * concatenation, which would be partition-order-dependent. One
    * window shuffle (session assignment), one groupBy per session
    * (same user key prefix, no extra repartition), one final count
    * shuffle on the path string. */
  def sessionPaths(s: SparkSession, d: String): DataFrame =
    events(s, d).transform(sessions)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
      .select(concat_ws(">", expr("transform(evs, x -> x.event_type)")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))

  /** SCD-2 dimension build from an event changelog: each user's event
    * stream becomes versioned dimension rows with
    * `[valid_from, valid_to)` micro-second validity and a current-row
    * flag — the slowly-changing-dimension shape every warehouse ingest
    * needs from CDC input. Pure window formulation: `row_number` for
    * the version index and `lead` for the closing timestamp, one
    * window shuffle on the natural key, no self-join. The open
    * version carries NULL `valid_to_us`. */
  def scd2Build(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_us"), col("cents"))
      .withColumn("version_idx", row_number().over(userW).cast("long"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(userW))
      .select(col("user_id"), col("event_id"), col("version_idx"), col("cents"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))

  /** Statistical outlier flags: events whose cent value sits more than
    * 3 population standard deviations from their event_type's mean —
    * the data-quality screen (fat-finger values, unit-confused
    * ingests) run before monetary aggregates are trusted. The z-score
    * rule is evaluated WITHOUT division or sqrt by cross-multiplying:
    * |x−μ| > 3σ  ⇔  (n·x − S)² > 9·(n·Q − S²)  with S = Σx, Q = Σx²
    * kept as EXACT integer aggregates (order-independent), converted
    * to double only for the two final products — the identical
    * operation sequence on both engines makes even the boundary
    * comparison deterministic. S and Q accumulate in decimal:
    * cents² reaches ~1e16 per row, so a BIGINT Q wraps silently
    * within ~1e3 high-value rows per type while DuckDB promotes to
    * HUGEINT — decimal(38,0) keeps Spark exact (and matching) up to
    * Σx² ≤ 1e38, i.e. ~1e22 rows/group at 1e8-cent values, far past
    * the 100 TB point. One partial-agg groupBy over the tiny type
    * dimension + an AQE-broadcast join back; no window, no second
    * scan. */
  def anomalyZscore(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"), col("event_type"), col("cents"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(19,0)")).as("sc"),
        sum(col("cents").cast("decimal(19,0)") * col("cents").cast("decimal(19,0)")).as("sq"))
    ev.join(stats, Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("cents"),
        expr("""(cast(n as double) * cast(cents as double) - cast(sc as double))
                 * (cast(n as double) * cast(cents as double) - cast(sc as double))
               > 9.0D * (cast(n as double) * cast(sq as double)
                          - cast(sc as double) * cast(sc as double))""")
          .as("is_outlier"))
  }

  /** Winsorized spend statistics per event_type: the exact
    * nearest-rank p01/p99 cent bounds and the mean AFTER clamping
    * every value into [p01, p99] — the robust location estimate
    * monetary reports use once `anomaly_zscore` has shown the tails
    * are fat (a plain mean moves arbitrarily far on one unit-confused
    * ingest; the winsorized mean is bounded by construction).
    * Rank selection with NO per-type window (a type key this small
    * puts ~N/|types| rows through one unsplittable window task): the
    * input compresses to per-(type, cent-value) counts, a
    * [[RangeRank.runningSum]] gives inclusive cumulative counts, and
    * the nearest-rank value at position r is the least value whose
    * cumulative count reaches r — identical to the row-position pick
    * because ties share the value. The winsorized sum is then
    * Σ clamp(v)·c off the same value table (decimal accumulation —
    * clamp ≤ 1e8 cents × 1e12-row blocks passes int64), so the whole
    * operator is partial aggregates + two broadcast joins, and the
    * single final division is the same IEEE op on both engines. */
  def robustSpendStats(s: SparkSession, d: String): DataFrame = {
    // value-count table (KB at any corpus) feeds the rank pass, the
    // per-type totals AND the winsorized sum — materialized once so
    // none of the three re-derives the events scan
    val vc = events(s, d).groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false)
    val cum = RangeRank.runningSum(vc, Seq("event_type"), Seq(col("cents")),
      col("c"), "cum")
    val n = vc.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val bounds = cum.join(broadcast(n), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n * 1 + 99) div 100"), col("cents"))).as("p01"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("cents"))).as("p99"))
    vc.join(broadcast(bounds), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("p01")).as("p01"), max(col("p99")).as("p99"),
        sum(least(greatest(col("cents"), col("p01")), col("p99"))
          .cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .cast("long").as("wins_sum"))
      .withColumn("wins_mean",
        col("wins_sum").cast("double") / col("n").cast("double"))
  }

  /** Gap-filled hourly time series with LOCF: the regular
    * (event_type × hour) grid over the corpus's time span, missing
    * hours explicit as zero rows plus a last-observation-carried-
    * forward cent volume — the resample-to-regular-grid operator every
    * monitoring/feature pipeline needs before windowed models (a
    * groupBy alone silently OMITS empty buckets). Grid generation is
    * a one-row bounds aggregate exploded through `sequence` crossed
    * with the tiny type dimension (both broadcast-sized at any corpus
    * scale — the grid is time-span-bounded, not row-bounded); one
    * left join on (type, hour) + one LOCF window per type. */
  def timeseriesFill(s: SparkSession, d: String): DataFrame = {
    val h = events(s, d)
      .select(col("event_type"), expr(s"ts_us div $HourUs").as("hour"), col("cents"))
    // the (type × hour) aggregate is time-span-bounded — materialize
    // it once and derive the grid bounds AND the type dimension from
    // it, instead of re-scanning the corpus for each (3 scans → 1)
    val agg = h.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_obs"), sum(col("cents")).as("sc_obs"))
      .localCheckpoint(false)
    val grid = agg.agg(min(col("hour")).as("mn"), max(col("hour")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("hour"))
      .crossJoin(agg.select(col("event_type")).distinct())
    val locfW = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq("event_type", "hour"), "left")
      .withColumn("locf_cents", last(col("sc_obs"), ignoreNulls = true).over(locfW))
      .select(col("event_type"), (col("hour") * HourUs).as("hour_us"),
        coalesce(col("n_obs"), lit(0L)).as("n_events"),
        coalesce(col("sc_obs"), lit(0L)).cast("long").as("sum_cents"),
        col("locf_cents").cast("long").as("locf_cents"))
  }

  val HotK = 20

  /** Hot-key audit: the K heaviest `user_id` join keys with their
    * event counts and integer-ppm share of the corpus — the skew
    * report that DECIDES when `Joins.saltedJoin` (or an AQE skew
    * threshold) is worth its replication cost. Distributed top-K
    * (orderBy+limit plans as TakeOrderedAndProject: per-partition
    * heaps + a K-row driver merge, never a global sort); the one-row
    * total joins by broadcast. */
  def hotKeys(s: SparkSession, d: String): DataFrame = {
    val cnt = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    // total derived from the per-key counts, not a second corpus scan:
    // the aggregate subtree is canonical-identical, so the second use
    // reuses the first's exchange (one scan total at any scale).
    val tot = cnt.agg(sum(col("n")).as("total"))
    cnt.orderBy(col("n").desc, col("user_id")).limit(HotK)
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"),
        expr("(n * 1000000) div total").cast("long").as("share_ppm"))
  }

  val SkewP = 32 // simulated shuffle-partition count for the skew audit

  /** Shuffle-partition SKEW audit: simulate hash-partitioning the
    * events on `user_id` into [[SkewP]] partitions and report each
    * partition's row count, distinct-key count, corpus share and
    * skew ratio (1e6 = perfectly balanced) — the table that tells an
    * operator whether a planned `groupBy(user_id)`/join will stall on
    * a straggler partition BEFORE paying the shuffle, and whether the
    * cause is one hot key ([[hotKeys]] territory: n_keys small, rows
    * huge) or key-space clumping (n_keys comparable, rows skewed —
    * fix with a different key or partition count). One partial-agg
    * groupBy over a pure hash projection + a one-row total broadcast;
    * the audit costs one scan at any scale. */
  def shuffleSkewReport(s: SparkSession, d: String): DataFrame = {
    val parts = events(s, d).select(
      (Portable.h60(concat(lit("pt:"), col("user_id").cast("string"))) % SkewP)
        .as("part"),
      col("user_id"))
    val agg = parts.groupBy(col("part"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("user_id")).as("n_keys"))
    val tot = agg.agg(sum(col("n_rows")).as("total"))
    agg.crossJoin(broadcast(tot))
      .select(col("part"), col("n_rows"), col("n_keys"),
        expr("(n_rows * 1000000) div total").as("share_ppm"),
        expr(s"(n_rows * $SkewP * 1000000) div total").as("skew_ppm"))
  }

  /** First-touch CONVERSION LAG: across users with a view, the delay
    * from the FIRST VIEW to the first purchase AT-OR-AFTER it (a user
    * who also purchased before ever viewing still counts — the
    * statistic measures view→next-purchase latency, not
    * first-ever-conversion) — the product-funnel latency read beside
    * `event_funnel`'s conversion COUNTS (how many convert vs how
    * LONG conversion takes; the attribution-window calibration
    * input: `asof_first_touch`'s window should sit above p90 lag).
    * Two partial-agg conditional mins per user + the house exact
    * nearest-rank selection over (lag, user_id) — all-integer where
    * percentile interpolation would float-drift; the global rank is
    * a [[RangeRank.rowNumber]] (range-partitioned with per-partition
    * offsets), so no task ever sorts more than ~1/parts of the
    * converted-user table. One row out. */
  def conversionLag(s: SparkSession, d: String): DataFrame = {
    val fv = events(s, d).groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("first_view"))
      .filter(col("first_view").isNotNull)
    val lags = events(s, d).join(fv, Seq("user_id"))
      .filter(col("event_type") === "purchase" && col("ts_us") >= col("first_view"))
      .groupBy(col("user_id"), col("first_view"))
      .agg(min(col("ts_us")).as("first_purchase"))
      .select(col("user_id"), (col("first_purchase") - col("first_view")).as("lag_us"))
    val ranked = RangeRank.rowNumber(lags, Nil, Seq(col("lag_us"), col("user_id")), "rn")
    val tot = ranked.agg(max(col("rn")).as("cnt"))
    def pick(pct: Int): Column =
      max(when(col("rn") === expr(s"(cnt * $pct + 99) div 100"), col("lag_us")))
    ranked.crossJoin(broadcast(tot))
      .groupBy()
      .agg(max(col("cnt")).as("n_converted"), min(col("lag_us")).as("min_us"),
        pick(50).as("p50_us"), pick(90).as("p90_us"), max(col("lag_us")).as("max_us"))
  }

  /** Session-DURATION histogram: log₂ buckets of (last − first event)
    * per session with counts and share ppm — the session-length
    * profile that calibrates `GapUs` (a fat 0-duration bucket means
    * single-event sessions dominate: the gap is too tight) and sizes
    * streaming state retention. Composes [[sessionize]]'s boundary
    * arithmetic: one window pass, one session-keyed partial agg, one
    * 64-row bucket agg + one-row total broadcast. */
  def sessionDurationHistogram(s: SparkSession, d: String): DataFrame = {
    val dur = sessionize(s, d)
      .groupBy(col("user_id"), col("session_idx"))
      .agg((max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
    val chain = (62 to 0 by -1)
      .map(b => s"WHEN dur_us >= ${1L << b}L THEN ${b}L").mkString("CASE ", " ", " ELSE -1L END")
    val hist = dur.withColumn("bucket", expr(chain))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_sessions"))
    val tot = hist.agg(sum(col("n_sessions")).as("total"))
    hist.crossJoin(broadcast(tot))
      .select(col("bucket"),
        expr("CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT) " +
          "ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) END").as("dur_lo_us"),
        col("n_sessions"),
        expr("(n_sessions * 1000000) div total").as("share_ppm"))
  }

  val HourUsL = 3600L * 1000000L // microseconds per hour (local const)

  /** Diurnal SEASONALITY profile: per (event_type, hour-of-day) the
    * event count and the share of the type's traffic in that hour —
    * the 24-bucket load curve that sizes streaming triggers, batch
    * windows and ingest partitioning (a pipeline provisioned for the
    * mean is 3-5× under peak hour on typical clickstreams). One
    * partial-agg groupBy over a pure timestamp projection + a
    * type-dimension window for the per-type totals; exact integers
    * throughout. */
  def eventSeasonality(s: SparkSession, d: String): DataFrame = {
    val typeW = Window.partitionBy(col("event_type"))
    events(s, d)
      .select(col("event_type"), expr(s"(ts_us div $HourUsL) % 24").as("hour24"))
      .groupBy(col("event_type"), col("hour24"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_type", sum(col("n")).over(typeW))
      .select(col("event_type"), col("hour24"), col("n"),
        expr("(n * 1000000) div n_type").as("share_ppm"))
  }

  val SaltTasks = 128L // target parallelism the salt plan sizes against

  /** Salt PLAN for the skewed keys: given a target parallelism of
    * [[SaltTasks]] ways, every key whose row count exceeds the
    * balanced per-task share (total/[[SaltTasks]], floor 1) gets a
    * salt factor ceil(n/target) — the exact replication
    * `Joins.saltedJoin` (or manual key-salting before a groupBy)
    * should apply so no single salted bucket exceeds the balanced
    * share. `post_rows` = ceil(n/salt) is the worst salted-bucket
    * size the plan guarantees. Keys at or under the share are omitted
    * (salt 1 — no action). One partial-agg groupBy + a one-row total
    * broadcast; all-integer ceil-division arithmetic. */
  def saltPlan(s: SparkSession, d: String): DataFrame = {
    val cnt = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("total"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("target_rows", greatest(lit(1L), expr(s"total div $SaltTasks")))
      .withColumn("salt", expr("(n + target_rows - 1) div target_rows"))
      .filter(col("salt") > 1)
      .select(col("user_id"), col("n"), col("target_rows"), col("salt"),
        expr("(n + salt - 1) div salt").as("post_rows"))
  }

  /** Dwell-time distribution: per event_type, the nearest-rank
    * p50/p90 (and min/max) of the time to the SAME USER's next event —
    * the engagement statistic (and the session-gap calibration input:
    * `GapUs` should sit far above p90 dwell). One lead window on
    * user_id, then the exact nearest-rank selection per type off
    * per-(type, delta-value) counts + a [[RangeRank.runningSum]] —
    * the value at rank r is the least value whose cumulative count
    * reaches r (ties share the value, so this equals the row-position
    * pick), with no per-type window over data-sized input and
    * all-integer ranks where interpolation would float-drift. Deltas
    * attribute to the EARLIER event's type. */
  def dwellTimes(s: SparkSession, d: String): DataFrame = {
    val deltas = events(s, d)
      .withColumn("nxt", lead(col("ts_us"), 1).over(userW))
      .filter(col("nxt").isNotNull)
      .select(col("event_type"), (col("nxt") - col("ts_us")).as("dwell_us"))
    // materialized once: feeds both the rank pass and the totals
    val vc = deltas.groupBy(col("event_type"), col("dwell_us"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false)
    val n = vc.groupBy(col("event_type")).agg(sum(col("c")).as("cnt"))
    def pick(pct: Int): Column =
      min(when(col("cum") >= expr(s"(cnt * $pct + 99) div 100"), col("dwell_us")))
    RangeRank.runningSum(vc, Seq("event_type"), Seq(col("dwell_us")), col("c"), "cum")
      .join(broadcast(n), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("cnt")).as("n_dwells"), min(col("dwell_us")).as("min_us"),
        pick(50).as("p50_us"), pick(90).as("p90_us"), max(col("dwell_us")).as("max_us"))
  }

  /** Cumulative distinct-count window: per event, how many DISTINCT
    * event types the user has produced so far — the running-novelty
    * feature (`r_count` counts events; this counts kinds). COUNT
    * (DISTINCT) OVER is not a computable window on either engine at
    * scale; the scalable formulation marks each (user, type)'s FIRST
    * occurrence with one row_number window and running-sums the 0/1
    * flag with a second — both windows hash-partition on user_id, so
    * the second reuses the first's clustering. */
  def runningDistinctTypes(s: SparkSession, d: String): DataFrame = {
    val firstW = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    events(s, d)
      .withColumn("is_first",
        when(row_number().over(firstW) === 1, 1L).otherwise(0L))
      .withColumn("n_types", sum(col("is_first")).over(userRunW))
      .select("event_id", "user_id", "ts_us", "n_types")
  }

  /** Value-rank spend features: per event, the `percent_rank` and
    * `cume_dist` of its cent value within its event_type — the
    * normalized-position features a model consumes instead of raw
    * monetary values. Both functions are VALUE-determined (ties share
    * the value, so the result is identical under any row order and
    * needs no pk tiebreak — the `trailing_window_counts` RANGE-frame
    * argument applied to rank functions); the single division each
    * performs is the same IEEE op on both engines. VALUE-determined
    * also means NO per-row window is needed at all: per-(type, value)
    * counts + a [[RangeRank.runningSum]] give rank = cum−c+1 and
    * cume = cum for every value block, and one equi-join on
    * (type, cents) fans the two ratios back onto the events — where
    * the old per-type window pushed ~N/|types| rows through one
    * unsplittable task, every stage here is partition-parallel. */
  def spendPercentile(s: SparkSession, d: String): DataFrame = {
    // materialized once: feeds both the rank pass and the totals
    val vc = events(s, d).groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c")).localCheckpoint(false)
    val n = vc.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val ranks = RangeRank.runningSum(vc, Seq("event_type"), Seq(col("cents")),
        col("c"), "cum")
      .join(broadcast(n), Seq("event_type"))
      .select(col("event_type").as("rt"), col("cents").as("rc"),
        when(col("n") > 1L, (col("cum") - col("c")).cast("double")
          / (col("n") - 1L).cast("double")).otherwise(lit(0.0)).as("pr"),
        (col("cum").cast("double") / col("n").cast("double")).as("cd"))
    // null-SAFE fan-back on cents: the old per-type window ranked
    // NULL-cent rows (nulls-first) like any other value block; a
    // plain equi-join would silently drop them from the output if
    // `value` ever arrives nullable
    events(s, d)
      .select(col("event_id"), col("event_type"), col("cents"))
      .join(ranks, col("event_type") === col("rt") && col("cents") <=> col("rc"))
      .select(col("event_id"), col("event_type"), col("cents"), col("pr"), col("cd"))
  }

  /** Market-basket co-occurrence over sessions: for every unordered
    * event-type pair, the number of gap-rule sessions containing both,
    * each alone, and the integer-ppm LIFT
    * (n_ab·n_sessions·1e6 div (n_a·n_b) — >1e6 means the pair
    * co-occurs more than independence predicts) — the association
    * statistic behind next-action suggestions. The pair generation is
    * a self-join INSIDE the session key on the distinct (session,
    * type) table, so fan-out is bounded by the type cardinality
    * squared per session, never by events; counts partial-aggregate
    * and the one-row session total broadcasts. */
  def sessionCooccurrence(s: SparkSession, d: String): DataFrame = {
    val st = events(s, d).transform(sessions)
      .select(col("user_id"), col("session_idx"), col("event_type")).distinct()
      // materialized once: both self-join sides, the per-type counts
      // and the session total otherwise each re-run the sessionize
      // window over the corpus (4 redundant scans)
      .localCheckpoint(false)
    val nAb = st.select(col("user_id"), col("session_idx"), col("event_type").as("ta"))
      .join(st.select(col("user_id"), col("session_idx"), col("event_type").as("tb")),
        Seq("user_id", "session_idx"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
    val nX = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val nS = st.select(col("user_id"), col("session_idx")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    nAb
      .join(nX.select(col("event_type").as("ta"), col("n").as("n_a")), Seq("ta"))
      .join(nX.select(col("event_type").as("tb"), col("n").as("n_b")), Seq("tb"))
      .crossJoin(broadcast(nS))
      .select(col("ta"), col("tb"), col("n_ab"), col("n_a"), col("n_b"), col("n_sessions"),
        expr("(n_ab * n_sessions * 1000000) div (n_a * n_b)").cast("long").as("lift_ppm"))
  }

  val ChurnDays = 7L

  /** Churn screening: each user's last activity against the corpus
    * watermark (max event time), with integer days-inactive and the
    * churn flag at [[ChurnDays]] — the retention counterpart of
    * `retention_cohorts`' acquisition view. One partial-agg groupBy
    * per user + the one-row watermark broadcast; all-integer day
    * arithmetic. */
  def churnFlags(s: SparkSession, d: String): DataFrame = {
    val perUser = events(s, d).groupBy(col("user_id"))
      .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("n_events"))
    val wm = perUser.agg(max(col("last_us")).as("max_us"))
    perUser.crossJoin(broadcast(wm))
      .select(col("user_id"), col("last_us"), col("n_events"),
        expr(s"(max_us - last_us) div $DayUs").cast("long").as("days_inactive"),
        (expr(s"(max_us - last_us) div $DayUs") > ChurnDays).as("is_churned"))
  }

  /** FIRST-touch attribution: each purchase matched to the EARLIEST
    * same-user click at or before it — the acquisition-credit rule
    * where [[asofJoin]] is the last-touch one. Identical merged-scan
    * shape (one window shuffle, no join); only the frame aggregate
    * changes: `first(click)` over the preceding rows instead of
    * `last`. The DuckDB twin is again the opposite formulation
    * (range join + argmin on click time). */
  def asofFirstTouch(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("event_type").isin("click", "purchase"))
      .withColumn("is_p", when(col("event_type") === "purchase", 1).otherwise(0))
    val mergeW = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_p"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("c",
        first(when(col("is_p") === 0, struct(col("ts_us"), col("event_id"))),
          ignoreNulls = true).over(mergeW))
      .filter(col("is_p") === 1)
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_us"),
        col("c.event_id").as("click_id"), col("c.ts_us").as("click_us"),
        (col("ts_us") - col("c.ts_us")).as("lag_us"))
  }

  /** Spend-concentration (Gini) index per event_type, in integer ppm:
    * G = Σ(2i−n−1)·xᵢ / (n·Σx) over rank-sorted cent values — the
    * whale-dominance metric for monetary streams. The numerator is an
    * EXACT integer sum (rank weights × integer cents), and tied
    * values are rank-order-invariant (a tie block contributes the
    * same total weight whatever its internal order), so the index is
    * partition-proof with no float anywhere until never. No row ever
    * gets an individual rank: the input compresses to per-(type,
    * cent-value) counts, a [[RangeRank.runningSum]] gives each value
    * block its inclusive cumulative count, and the block's rank-weight
    * total has the closed form Σ 2i·v over positions a..b =
    * v·(2·cum−c+1)·c — so the numerator is
    * 2Σi·xᵢ − (n+1)Σxᵢ from partial aggregates alone, with NO window
    * over event-type-sized input (the old per-type rank window put
    * ~N/|types| rows through one unsplittable task). Products
    * accumulate in decimal(38,0): v·(2cum−c+1)·c reaches ~2e32 at
    * 1e12 rows × 1e8 cents — past int64, where a BIGINT sum would
    * wrap silently and DuckDB would promote. Zero-volume groups
    * report NULL, not a 0/0. */
  def spendGini(s: SparkSession, d: String): DataFrame = {
    val vc = events(s, d).groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
    RangeRank.runningSum(vc, Seq("event_type"), Seq(col("cents")), col("c"), "cum")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(col("cents").cast("decimal(19,0)") * col("c").cast("decimal(19,0)"))
          .as("sum_cents"),
        sum(col("cents").cast("decimal(19,0)")
          * (lit(2L) * col("cum") - col("c") + 1L).cast("decimal(19,0)")
          * col("c").cast("decimal(19,0)")).as("srx2"))
      .withColumn("num", col("srx2")
        - (col("n").cast("decimal(19,0)") + 1L) * col("sum_cents"))
      .select(col("event_type"), col("n"), col("sum_cents").cast("long").as("sum_cents"),
        when(col("sum_cents") > 0,
          expr("(num * 1000000) div (cast(n as decimal(19,0)) * sum_cents)")
        ).cast("long").as("gini_ppm"))
  }

  val ActHistMaxPow = 20

  /** Power-of-2 user-activity histogram: users bucketed by their
    * event count — the fan-in distribution that sizes window-state
    * and flags when `saltedJoin`-grade skew appears (the `hot_keys`
    * report shows the head; this shows the whole shape). Same
    * generated bucket CASE fold as `token_histogram` (largest power
    * outermost), one per-user partial-agg groupBy + one bucket
    * groupBy. */
  def userActivityHistogram(s: SparkSession, d: String): DataFrame = {
    val fold = (ActHistMaxPow to 0 by -1).foldRight(lit(-1L): Column) {
      (b, acc) => when(col("cnt") >= (1L << b), lit(b.toLong)).otherwise(acc)
    }
    events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", fold)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("cnt")).as("sum_events"))
      .select(col("bucket"), expr("shiftleft(1L, cast(bucket as int))").as("bucket_lo"),
        col("n_users"), col("sum_events").cast("long").as("sum_events"))
  }

  /** RFM (recency / frequency / monetary) quartile segmentation — the
    * classic customer-value grid, as integer quartile codes: per user
    * the days since last activity (vs the corpus watermark, the
    * `churn_flags` convention), event count and exact cent spend,
    * each mapped to its quartile 1-4 and packed into `rfm_code`.
    * Quartiles use the rank formula q = ((rn−1)·4) div n + 1 over a
    * (metric, user_id) row_number — value-deterministic on both
    * engines where `ntile` boundary conventions could differ, and
    * tie-broken on the unique key per the window rule. The per-user
    * table is corpus-compressing (events → users); each of the three
    * global ranks is a [[RangeRank.rowNumber]] (range-partitioned
    * sort with per-partition offsets — no single task ever holds the
    * user table), and the watermark/count are one-row broadcasts. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    // per-user table (corpus-compressing) materialized once: it feeds
    // the watermark aggregate, the output row set AND all three rank
    // projections — unmaterialized, each re-derived the events scan
    val per = events(s, d).groupBy(col("user_id"))
      .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents")).localCheckpoint(false)
    val tot = per.agg(max(col("last_us")).as("wm_us"), count(lit(1)).as("n_users"))
    val base = per.crossJoin(broadcast(tot))
      .withColumn("recency_days", expr(s"(wm_us - last_us) div $DayUs"))
    // each metric ranks a SLIM (user_id, metric) projection joined
    // back on the user key — chaining the ranks over the full row
    // would compound the base subtree 2^3 times in the plan
    def rn(df: DataFrame, metric: String, out: String): DataFrame =
      RangeRank.rowNumber(df.select(col("user_id"), col(metric)), Nil,
        Seq(col(metric), col("user_id")), out)
        .select(col("user_id"), col(out))
    base
      .join(rn(base, "recency_days", "rn_r"), Seq("user_id"))
      .join(rn(per, "frequency", "rn_f"), Seq("user_id"))
      .join(rn(per, "monetary_cents", "rn_m"), Seq("user_id"))
      .withColumn("r_quartile", expr("((rn_r - 1) * 4) div n_users + 1"))
      .withColumn("f_quartile", expr("((rn_f - 1) * 4) div n_users + 1"))
      .withColumn("m_quartile", expr("((rn_m - 1) * 4) div n_users + 1"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents").cast("long").as("monetary_cents"),
        col("r_quartile"), col("f_quartile"), col("m_quartile"),
        (col("r_quartile") * 100L + col("f_quartile") * 10L + col("m_quartile"))
          .as("rfm_code"))
  }

  /** Morton (Z-order) layout key over the (user, hour) plane — the
    * multi-dimensional clustering key a 100 TB table is REWRITTEN on
    * so that range predicates on EITHER dimension prune files (the
    * Delta/Iceberg OPTIMIZE ZORDER primitive, as a checkable
    * expression): low 16 bits of the user id interleaved with the low
    * 16 bits of the hour bucket via the standard mask-spread ladder
    * (x|x≪8 &… — four steps per dimension, pure int64 bit ops, no
    * bit ever near the sign). Pure projection: no shuffle here; the
    * shuffle is the `repartitionByRange(z_key)` a layout job adds. */
  def zorderKey(s: SparkSession, d: String): DataFrame = {
    def spread(x: Column): Column = {
      val a = x.bitwiseAND(lit(0xFFFFL))
      val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
      val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val e = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
      e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
    }
    events(s, d)
      .withColumn("user_bucket", col("user_id").bitwiseAND(lit(0xFFFFL)))
      .withColumn("time_bucket", expr(s"ts_us div $HourUs").bitwiseAND(lit(0xFFFFL)))
      .select(col("event_id"), col("user_bucket"), col("time_bucket"),
        spread(col("user_bucket"))
          .bitwiseOR(shiftleft(spread(col("time_bucket")), 1)).as("z_key"))
  }

  val queries: Map[String, QueryFn] = Map(
    "robust_spend_stats" -> (robustSpendStats _),
    "rfm_segments" -> (rfmSegments _),
    "zorder_key" -> (zorderKey _),
    "spend_gini"          -> (spendGini _),
    "user_activity_histogram" -> (userActivityHistogram _),
    "churn_flags"         -> (churnFlags _),
    "asof_first_touch"    -> (asofFirstTouch _),
    "session_cooccurrence" -> (sessionCooccurrence _),
    "spend_percentile"    -> (spendPercentile _),
    "dwell_times"         -> (dwellTimes _),
    "running_distinct_types" -> (runningDistinctTypes _),
    "hot_keys"            -> (hotKeys _),
    "shuffle_skew_report" -> (shuffleSkewReport _),
    "salt_plan"           -> (saltPlan _),
    "event_seasonality"   -> (eventSeasonality _),
    "conversion_lag"      -> (conversionLag _),
    "session_duration_histogram" -> (sessionDurationHistogram _),
    "timeseries_fill"     -> (timeseriesFill _),
    "attribution_linear"  -> (attributionLinear _),
    "asof_nearest"        -> (asofNearest _),
    "anomaly_zscore"      -> (anomalyZscore _),
    "retention_cohorts"   -> (retentionCohorts _),
    "markov_transitions"  -> (markovTransitions _),
    "markov_path_score"   -> (markovPathScore _),
    "session_paths"       -> (sessionPaths _),
    "scd2_build"          -> (scd2Build _),
    "interval_join"       -> (intervalJoin _),
    "session_window_agg"  -> (sessionWindowAgg _),
    "sliding_window_counts" -> (slidingWindowCounts _),
    "event_cube"          -> (eventCube _),
    "sessionize"          -> (sessionize _),
    "session_stats"       -> (sessionStats _),
    "user_running_aggs"   -> (userRunningAggs _),
    "event_props_extract" -> (eventPropsExtract _),
    "asof_join"           -> (asofJoin _),
    "event_funnel"        -> (eventFunnel _),
    "trailing_window_counts" -> (trailingWindowCounts _)
  )

  private val evCte =
    """ev AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_ns(ts) // 1000 AS ts_us,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |)""".stripMargin

  private val actChain = (ActHistMaxPow to 0 by -1)
    .map(b => s"WHEN cnt >= ${1L << b} THEN $b").mkString("\n    ")

  /** The Z-order bit-spread ladder as SQL text — kept line-for-line
    * parallel with [[zorderKey]]'s Column form. */
  private def spreadSql(x: String): String = {
    val a = s"($x & 65535)"
    val b = s"(($a | ($a << 8)) & 16711935)"
    val c = s"(($b | ($b << 4)) & 252645135)"
    val e = s"(($c | ($c << 2)) & 858993459)"
    s"(($e | ($e << 1)) & 1431655765)"
  }

  val oracles: Map[String, String] = Map(
    "rfm_segments" ->
      s"""WITH $evCte,
         |per AS (
         |  SELECT user_id, max(ts_us) AS last_us, count(*) AS frequency,
         |         CAST(sum(cents) AS BIGINT) AS monetary_cents
         |  FROM ev GROUP BY user_id),
         |tot AS (SELECT max(last_us) AS wm_us, count(*) AS n_users FROM per),
         |b AS (
         |  SELECT p.user_id, (tot.wm_us - p.last_us) // $DayUs AS recency_days,
         |         p.frequency, p.monetary_cents, tot.n_users
         |  FROM per p, tot),
         |r AS (
         |  SELECT *,
         |    row_number() OVER (ORDER BY recency_days, user_id) AS rn_r,
         |    row_number() OVER (ORDER BY frequency, user_id) AS rn_f,
         |    row_number() OVER (ORDER BY monetary_cents, user_id) AS rn_m
         |  FROM b)
         |SELECT user_id, recency_days, frequency, monetary_cents,
         |  ((rn_r - 1) * 4) // n_users + 1 AS r_quartile,
         |  ((rn_f - 1) * 4) // n_users + 1 AS f_quartile,
         |  ((rn_m - 1) * 4) // n_users + 1 AS m_quartile,
         |  (((rn_r - 1) * 4) // n_users + 1) * 100
         |    + (((rn_f - 1) * 4) // n_users + 1) * 10
         |    + (((rn_m - 1) * 4) // n_users + 1) AS rfm_code
         |FROM r""".stripMargin,
    "zorder_key" ->
      s"""WITH $evCte,
         |b AS (
         |  SELECT event_id, user_id & 65535 AS user_bucket,
         |         (ts_us // $HourUs) & 65535 AS time_bucket
         |  FROM ev)
         |SELECT event_id, user_bucket, time_bucket,
         |  ${spreadSql("user_bucket")} | (${spreadSql("time_bucket")} << 1) AS z_key
         |FROM b""".stripMargin,
    "spend_gini" ->
      s"""WITH $evCte,
         |r AS (
         |  SELECT event_type, cents,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n
         |  FROM ev),
         |a AS (
         |  SELECT event_type, max(n) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents,
         |         CAST(sum((2 * rn - n - 1) * cents) AS BIGINT) AS num
         |  FROM r GROUP BY event_type)
         |SELECT event_type, n, sum_cents,
         |       CASE WHEN sum_cents > 0
         |            THEN CAST((num * 1000000) // (n * sum_cents) AS BIGINT) END AS gini_ppm
         |FROM a""".stripMargin,
    "user_activity_histogram" ->
      s"""WITH $evCte,
         |pu AS (SELECT user_id, count(*) AS cnt FROM ev GROUP BY user_id),
         |b AS (SELECT cnt, CAST(CASE
         |    $actChain
         |    ELSE -1 END AS BIGINT) AS bucket FROM pu)
         |SELECT bucket, CAST(1 AS BIGINT) << CAST(bucket AS INTEGER) AS bucket_lo,
         |       count(*) AS n_users, CAST(sum(cnt) AS BIGINT) AS sum_events
         |FROM b GROUP BY bucket""".stripMargin,
    "churn_flags" ->
      s"""WITH $evCte,
         |pu AS (SELECT user_id, max(ts_us) AS last_us, count(*) AS n_events
         |       FROM ev GROUP BY user_id),
         |wm AS (SELECT max(last_us) AS max_us FROM pu)
         |SELECT user_id, last_us, n_events,
         |       CAST((max_us - last_us) // $DayUs AS BIGINT) AS days_inactive,
         |       (max_us - last_us) // $DayUs > $ChurnDays AS is_churned
         |FROM pu, wm""".stripMargin,
    "asof_first_touch" ->
      s"""WITH $evCte,
         |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
         |      FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS purchase_us
         |      FROM ev WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.click_us,
         |         row_number() OVER (PARTITION BY p.purchase_id
         |           ORDER BY c.click_us ASC, c.click_id ASC) AS rn
         |  FROM p LEFT JOIN c
         |    ON c.user_id = p.user_id AND c.click_us <= p.purchase_us)
         |SELECT purchase_id, user_id, purchase_us, click_id, click_us,
         |       purchase_us - click_us AS lag_us
         |FROM j WHERE rn = 1""".stripMargin,
    "session_cooccurrence" ->
      s"""WITH $evCte,
         |lagd AS (
         |  SELECT user_id, event_type, ts_us,
         |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us,
         |         event_id
         |  FROM ev),
         |b AS (
         |  SELECT user_id, event_type, ts_us, event_id,
         |         CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS boundary
         |  FROM lagd),
         |st AS (
         |  SELECT DISTINCT user_id,
         |         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid,
         |         event_type
         |  FROM b),
         |ab AS (
         |  SELECT a.event_type AS ta, b2.event_type AS tb, count(*) AS n_ab
         |  FROM st a JOIN st b2 ON a.user_id = b2.user_id AND a.sid = b2.sid
         |    AND a.event_type < b2.event_type
         |  GROUP BY 1, 2),
         |nx AS (SELECT event_type, count(*) AS n FROM st GROUP BY event_type),
         |ns AS (SELECT count(*) AS n_sessions FROM (SELECT DISTINCT user_id, sid FROM st))
         |SELECT ab.ta, ab.tb, ab.n_ab, na.n AS n_a, nb.n AS n_b, ns.n_sessions,
         |       CAST((ab.n_ab * ns.n_sessions * 1000000) // (na.n * nb.n) AS BIGINT) AS lift_ppm
         |FROM ab JOIN nx na ON ab.ta = na.event_type
         |        JOIN nx nb ON ab.tb = nb.event_type, ns""".stripMargin,
    "spend_percentile" ->
      s"""WITH $evCte
         |SELECT event_id, event_type, cents,
         |       percent_rank() OVER w AS pr,
         |       cume_dist() OVER w AS cd
         |FROM ev
         |WINDOW w AS (PARTITION BY event_type ORDER BY cents)""".stripMargin,
    "dwell_times" ->
      s"""WITH $evCte,
         |dl AS (
         |  SELECT event_type, event_id,
         |         lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) - ts_us AS dwell_us
         |  FROM ev),
         |d2 AS (SELECT * FROM dl WHERE dwell_us IS NOT NULL),
         |r AS (
         |  SELECT event_type, dwell_us,
         |         row_number() OVER (PARTITION BY event_type ORDER BY dwell_us, event_id) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS cnt
         |  FROM d2)
         |SELECT event_type, max(cnt) AS n_dwells, min(dwell_us) AS min_us,
         |       max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN dwell_us END) AS p50_us,
         |       max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN dwell_us END) AS p90_us,
         |       max(dwell_us) AS max_us
         |FROM r GROUP BY event_type""".stripMargin,
    "running_distinct_types" ->
      s"""WITH $evCte,
         |f AS (
         |  SELECT event_id, user_id, ts_us,
         |         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
         |           ORDER BY ts_us, event_id) = 1 THEN 1 ELSE 0 END AS is_first
         |  FROM ev)
         |SELECT event_id, user_id, ts_us,
         |       CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types
         |FROM f""".stripMargin,
    "hot_keys" ->
      s"""WITH $evCte,
         |cnt AS (SELECT user_id, count(*) AS n FROM ev GROUP BY user_id),
         |tot AS (SELECT count(*) AS total FROM ev)
         |SELECT user_id, n, CAST((n * 1000000) // total AS BIGINT) AS share_ppm
         |FROM cnt, tot ORDER BY n DESC, user_id LIMIT $HotK""".stripMargin,
    "conversion_lag" ->
      s"""WITH $evCte,
         |fv AS (
         |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts_us END) AS first_view
         |  FROM ev GROUP BY user_id),
         |lg AS (
         |  SELECT e.user_id, min(e.ts_us) - fv.first_view AS lag_us
         |  FROM ev e JOIN fv ON e.user_id = fv.user_id
         |  WHERE fv.first_view IS NOT NULL
         |    AND e.event_type = 'purchase' AND e.ts_us >= fv.first_view
         |  GROUP BY e.user_id, fv.first_view),
         |r AS (
         |  SELECT lag_us,
         |         row_number() OVER (ORDER BY lag_us, user_id) AS rn,
         |         count(*) OVER () AS cnt
         |  FROM lg)
         |SELECT CAST(max(cnt) AS BIGINT) AS n_converted,
         |       min(lag_us) AS min_us,
         |       max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN lag_us END) AS p50_us,
         |       max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN lag_us END) AS p90_us,
         |       max(lag_us) AS max_us
         |FROM r""".stripMargin,
    "session_duration_histogram" -> {
      val chain = (62 to 0 by -1)
        .map(b => s"WHEN dur_us >= ${1L << b} THEN $b").mkString("\n      ")
      s"""WITH $evCte,
         |lagd AS (
         |  SELECT user_id, ts_us,
         |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us,
         |         event_id
         |  FROM ev),
         |b AS (
         |  SELECT user_id, ts_us, event_id,
         |         CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS boundary
         |  FROM lagd),
         |sx AS (
         |  SELECT user_id, ts_us,
         |         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM b),
         |du AS (
         |  SELECT user_id, session_idx, max(ts_us) - min(ts_us) AS dur_us
         |  FROM sx GROUP BY 1, 2),
         |bk AS (
         |  SELECT CAST(CASE
         |      $chain
         |      ELSE -1 END AS BIGINT) AS bucket
         |  FROM du),
         |h AS (SELECT bucket, count(*) AS n_sessions FROM bk GROUP BY 1),
         |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS total FROM h)
         |SELECT bucket,
         |       CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT)
         |            ELSE CAST(1 AS BIGINT) << CAST(bucket AS INTEGER) END AS dur_lo_us,
         |       n_sessions,
         |       (n_sessions * 1000000) // total AS share_ppm
         |FROM h, t""".stripMargin
    },
    "event_seasonality" ->
      s"""WITH $evCte,
         |h AS (SELECT event_type, (ts_us // $HourUsL) % 24 AS hour24 FROM ev),
         |a AS (SELECT event_type, hour24, count(*) AS n FROM h GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type FROM a GROUP BY 1)
         |SELECT a.event_type, a.hour24, a.n, (a.n * 1000000) // t.n_type AS share_ppm
         |FROM a JOIN t ON a.event_type = t.event_type""".stripMargin,
    "shuffle_skew_report" ->
      s"""WITH p AS (
         |  SELECT ${Portable.h60Sql("'pt:' || CAST(user_id AS VARCHAR)")} % $SkewP AS part,
         |         user_id
         |  FROM events),
         |a AS (SELECT part, count(*) AS n_rows, count(DISTINCT user_id) AS n_keys
         |      FROM p GROUP BY part),
         |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM a)
         |SELECT part, n_rows, n_keys,
         |       (n_rows * 1000000) // total AS share_ppm,
         |       (n_rows * $SkewP * 1000000) // total AS skew_ppm
         |FROM a, t""".stripMargin,
    "salt_plan" ->
      s"""WITH cnt AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cnt),
         |pl AS (
         |  SELECT user_id, n, greatest(1, total // $SaltTasks) AS target_rows,
         |         (n + greatest(1, total // $SaltTasks) - 1) // greatest(1, total // $SaltTasks) AS salt
         |  FROM cnt, tot)
         |SELECT user_id, n, target_rows, salt, (n + salt - 1) // salt AS post_rows
         |FROM pl WHERE salt > 1""".stripMargin,
    "timeseries_fill" ->
      s"""WITH $evCte,
         |h AS (SELECT event_type, ts_us // $HourUs AS hour, cents FROM ev),
         |agg AS (
         |  SELECT event_type, hour, count(*) AS n_obs,
         |         CAST(sum(cents) AS BIGINT) AS sc_obs
         |  FROM h GROUP BY 1, 2),
         |b AS (SELECT min(hour) AS mn, max(hour) AS mx FROM h),
         |grid AS (
         |  SELECT t.event_type, g.hour
         |  FROM (SELECT DISTINCT event_type FROM h) t,
         |       (SELECT unnest(range(mn, mx + 1)) AS hour FROM b) g)
         |SELECT grid.event_type, grid.hour * $HourUs AS hour_us,
         |       coalesce(agg.n_obs, 0) AS n_events,
         |       CAST(coalesce(agg.sc_obs, 0) AS BIGINT) AS sum_cents,
         |       CAST(last_value(agg.sc_obs IGNORE NULLS) OVER (
         |         PARTITION BY grid.event_type ORDER BY grid.hour
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS locf_cents
         |FROM grid LEFT JOIN agg
         |  ON grid.event_type = agg.event_type AND grid.hour = agg.hour""".stripMargin,
    "attribution_linear" ->
      s"""WITH $evCte,
         |c AS (SELECT event_id AS click_id, user_id, ts_us AS c_us
         |      FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS p_us
         |      FROM ev WHERE event_type = 'purchase'),
         |pairs AS (
         |  SELECT p.purchase_id, c.click_id, p.user_id, c.c_us
         |  FROM p JOIN c ON c.user_id = p.user_id
         |    AND p.p_us >= c.c_us AND p.p_us <= c.c_us + $AttributionUs),
         |w AS (
         |  SELECT purchase_id, click_id, user_id,
         |         count(*) OVER (PARTITION BY purchase_id) AS n_clicks,
         |         row_number() OVER (PARTITION BY purchase_id ORDER BY c_us, click_id) AS rn
         |  FROM pairs)
         |SELECT purchase_id, click_id, user_id, n_clicks,
         |       CAST(1000000 // n_clicks
         |            + CASE WHEN rn = 1 THEN 1000000 % n_clicks ELSE 0 END AS BIGINT) AS credit_ppm
         |FROM w""".stripMargin,
    "asof_nearest" ->
      s"""WITH $evCte,
         |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
         |      FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS purchase_us
         |      FROM ev WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT p.purchase_id, c.click_id, c.click_us,
         |         abs(c.click_us - p.purchase_us) AS dist_us,
         |         row_number() OVER (PARTITION BY p.purchase_id ORDER BY
         |           abs(c.click_us - p.purchase_us),
         |           CASE WHEN c.click_us <= p.purchase_us THEN 0 ELSE 1 END,
         |           CASE WHEN c.click_us <= p.purchase_us THEN -c.click_id ELSE c.click_id END) AS rn
         |  FROM p JOIN c ON c.user_id = p.user_id
         |    AND c.click_us >= p.purchase_us - $NearestUs
         |    AND c.click_us <= p.purchase_us + $NearestUs)
         |SELECT p.purchase_id, p.user_id, p.purchase_us,
         |       j.click_id, j.click_us, j.dist_us
         |FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
         |  ON p.purchase_id = j.purchase_id""".stripMargin,
    "robust_spend_stats" ->
      s"""WITH $evCte,
         |r AS (
         |  SELECT event_type, cents,
         |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS rn,
         |         count(*) OVER (PARTITION BY event_type) AS n
         |  FROM ev),
         |b AS (
         |  SELECT event_type, max(n) AS n,
         |         max(CASE WHEN rn = (n * 1 + 99) // 100 THEN cents END) AS p01,
         |         max(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END) AS p99
         |  FROM r GROUP BY event_type)
         |SELECT ev.event_type, b.n, b.p01, b.p99,
         |       CAST(sum(least(greatest(ev.cents, b.p01), b.p99)) AS BIGINT) AS wins_sum,
         |       CAST(CAST(sum(least(greatest(ev.cents, b.p01), b.p99)) AS BIGINT) AS DOUBLE)
         |         / CAST(b.n AS DOUBLE) AS wins_mean
         |FROM ev JOIN b ON ev.event_type = b.event_type
         |GROUP BY ev.event_type, b.n, b.p01, b.p99""".stripMargin,
    "anomaly_zscore" ->
      s"""WITH $evCte,
         |st AS (
         |  SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sc,
         |         CAST(sum(cents * cents) AS BIGINT) AS sq
         |  FROM ev GROUP BY event_type)
         |SELECT ev.event_id, ev.event_type, ev.cents,
         |       (CAST(n AS DOUBLE) * CAST(cents AS DOUBLE) - CAST(sc AS DOUBLE))
         |         * (CAST(n AS DOUBLE) * CAST(cents AS DOUBLE) - CAST(sc AS DOUBLE))
         |       > 9.0 * (CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
         |                 - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) AS is_outlier
         |FROM ev JOIN st ON ev.event_type = st.event_type""".stripMargin,
    "retention_cohorts" ->
      s"""WITH $evCte,
         |days AS (SELECT DISTINCT user_id, ts_us // $DayUs AS day FROM ev),
         |first AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
         |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
         |       count(*) AS n_users
         |FROM days d JOIN first f ON d.user_id = f.user_id
         |GROUP BY 1, 2""".stripMargin,
    "markov_path_score" ->
      s"""WITH $evCte,
         |seq AS (
         |  SELECT user_id, event_type AS src_type,
         |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS dst_type
         |  FROM ev),
         |tr AS (SELECT user_id, src_type, dst_type FROM seq WHERE dst_type IS NOT NULL),
         |cnt AS (
         |  SELECT src_type, dst_type, count(*) AS n
         |  FROM tr GROUP BY 1, 2),
         |model AS (
         |  SELECT src_type, dst_type,
         |         CAST((n * 1000000) // sum(n) OVER (PARTITION BY src_type) AS BIGINT) AS ppm
         |  FROM cnt)
         |SELECT t.user_id, count(*) AS n_trans,
         |       CAST(sum(ppm) AS BIGINT) AS sum_ppm,
         |       min(ppm) AS min_ppm,
         |       CAST(sum(ppm) // count(*) AS BIGINT) AS avg_ppm
         |FROM tr t JOIN model m ON t.src_type = m.src_type AND t.dst_type = m.dst_type
         |GROUP BY t.user_id""".stripMargin,
    "markov_transitions" ->
      s"""WITH $evCte,
         |seq AS (
         |  SELECT event_type AS src_type,
         |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS dst_type
         |  FROM ev),
         |cnt AS (
         |  SELECT src_type, dst_type, count(*) AS n
         |  FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2)
         |SELECT src_type, dst_type, n,
         |       CAST((n * 1000000) // sum(n) OVER (PARTITION BY src_type) AS BIGINT) AS ppm
         |FROM cnt""".stripMargin,
    "session_paths" ->
      s"""WITH $evCte,
         |lagd AS (
         |  SELECT event_id, user_id, event_type, ts_us,
         |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
         |  FROM ev),
         |b AS (
         |  SELECT event_id, user_id, event_type, ts_us,
         |         CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS boundary
         |  FROM lagd),
         |sess AS (
         |  SELECT event_id, user_id, event_type, ts_us,
         |         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM b),
         |paths AS (
         |  SELECT string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
         |  FROM sess GROUP BY user_id, sid)
         |SELECT path, count(*) AS n_sessions FROM paths GROUP BY path""".stripMargin,
    "scd2_build" ->
      s"""WITH $evCte
         |SELECT user_id, event_id,
         |       CAST(row_number() OVER w AS BIGINT) AS version_idx, cents,
         |       ts_us AS valid_from_us,
         |       lead(ts_us) OVER w AS valid_to_us,
         |       (lead(ts_us) OVER w IS NULL) AS is_current
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,
    "interval_join" -> graft.streaming.StreamingIntervalJoin.oracle,
    // boundary at >= gap (session_window's half-open [start, prev+gap)
    // rule) where the lag-formulated `sessionize` uses strictly >
    "session_window_agg" ->
      s"""WITH $evCte,
         |lagd AS (
         |  SELECT user_id, ts_us, cents,
         |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us,
         |         event_id
         |  FROM ev),
         |b AS (
         |  SELECT user_id, ts_us, cents, event_id,
         |         CASE WHEN prev_us IS NULL OR ts_us - prev_us >= $GapUs THEN 1 ELSE 0 END AS boundary
         |  FROM lagd),
         |sess AS (
         |  SELECT user_id, ts_us, cents,
         |         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM b)
         |SELECT user_id, min(ts_us) AS start_us, max(ts_us) + $GapUs AS end_us,
         |       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM sess GROUP BY user_id, sid""".stripMargin,
    "sliding_window_counts" ->
      s"""WITH $evCte,
         |wins AS (
         |  SELECT (ts_us // $SlideUs) * $SlideUs - j.j * $SlideUs AS start_us, cents
         |  FROM ev, (SELECT unnest(range(0, ${WinUs / SlideUs})) AS j) j)
         |SELECT start_us, start_us + $WinUs AS end_us,
         |       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM wins GROUP BY start_us""".stripMargin,
    "event_cube" ->
      s"""WITH $evCte,
         |h AS (SELECT event_type, (ts_us // $HourUs) % 24 AS hod, cents FROM ev)
         |SELECT event_type, hod,
         |       CAST(GROUPING(event_type, hod) AS BIGINT) AS gid,
         |       count(*) AS n_events,
         |       CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM h GROUP BY CUBE (event_type, hod)""".stripMargin,
    "event_props_extract" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events""".stripMargin,
    "sessionize" ->
      s"""WITH $evCte,
         |lagd AS (
         |  SELECT event_id, user_id, ts_us,
         |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
         |  FROM ev),
         |b AS (
         |  SELECT event_id, user_id, ts_us,
         |         CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS boundary
         |  FROM lagd)
         |SELECT event_id, user_id, ts_us,
         |       CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         |FROM b""".stripMargin,
    "session_stats" ->
      s"""WITH $evCte,
         |lagd AS (
         |  SELECT event_id, user_id, ts_us, cents,
         |         lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us
         |  FROM ev),
         |b AS (
         |  SELECT user_id, ts_us, cents,
         |         CASE WHEN prev_us IS NULL OR ts_us - prev_us > $GapUs THEN 1 ELSE 0 END AS boundary,
         |         event_id
         |  FROM lagd),
         |sess AS (
         |  SELECT user_id, ts_us, cents,
         |         CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         |  FROM b)
         |SELECT user_id, session_idx, count(*) AS n_events,
         |       max(ts_us) - min(ts_us) AS duration_us,
         |       CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM sess GROUP BY user_id, session_idx""".stripMargin,
    "user_running_aggs" ->
      s"""WITH $evCte
         |SELECT event_id, user_id,
         |  count(*) OVER w AS r_count,
         |  CAST(sum(cents) OVER w AS BIGINT) AS r_cents,
         |  max(cents) OVER w AS r_max_cents,
         |  CAST(sum(cents) OVER w AS DOUBLE) / 100e0 AS r_dollars
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    // Opposite formulation on purpose: range join + per-purchase argmax
    // (row_number over click_us DESC) vs the engine's merged-scan
    // window — agreeing output pins the <= and tie rules of both.
    "asof_join" ->
      s"""WITH $evCte,
         |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
         |      FROM ev WHERE event_type = 'click'),
         |p AS (SELECT event_id AS purchase_id, user_id, ts_us AS purchase_us
         |      FROM ev WHERE event_type = 'purchase'),
         |j AS (
         |  SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.click_us,
         |         row_number() OVER (PARTITION BY p.purchase_id
         |           ORDER BY c.click_us DESC, c.click_id DESC) AS rn
         |  FROM p LEFT JOIN c
         |    ON c.user_id = p.user_id AND c.click_us <= p.purchase_us)
         |SELECT purchase_id, user_id, purchase_us, click_id, click_us,
         |       purchase_us - click_us AS lag_us
         |FROM j WHERE rn = 1""".stripMargin,
    "trailing_window_counts" ->
      s"""WITH $evCte
         |SELECT event_id, user_id, ts_us,
         |  count(*) OVER w AS n_trail,
         |  CAST(sum(cents) OVER w AS BIGINT) AS cents_trail
         |FROM ev
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
         |  RANGE BETWEEN $TrailUs PRECEDING AND CURRENT ROW)""".stripMargin,
    "event_funnel" ->
      s"""WITH $evCte,
         |base AS (SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id),
         |v AS (SELECT user_id, min(ts_us) AS first_view_us
         |      FROM ev WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.ts_us) AS first_click_us
         |      FROM ev e JOIN v ON e.user_id = v.user_id
         |      WHERE e.event_type = 'click' AND e.ts_us >= v.first_view_us
         |      GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.ts_us) AS first_purchase_us
         |      FROM ev e JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type = 'purchase' AND e.ts_us >= c.first_click_us
         |      GROUP BY e.user_id)
         |SELECT base.user_id, base.n_events,
         |       v.first_view_us, c.first_click_us, p.first_purchase_us,
         |       CAST(CASE WHEN p.first_purchase_us IS NOT NULL THEN 3
         |            WHEN c.first_click_us IS NOT NULL THEN 2
         |            WHEN v.first_view_us IS NOT NULL THEN 1
         |            ELSE 0 END AS BIGINT) AS stage
         |FROM base
         |LEFT JOIN v ON base.user_id = v.user_id
         |LEFT JOIN c ON base.user_id = c.user_id
         |LEFT JOIN p ON base.user_id = p.user_id""".stripMargin
  )
}
