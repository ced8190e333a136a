package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps

/** Streaming conversion-funnel progress: the Structured-Streaming twin
  * of [[graft.operators.EventOps.eventFunnel]], emitting one row per
  * STAGE TRANSITION (user reaches stage 1 = first view, 2 = first
  * click at/after that view, 3 = first purchase at/after that click)
  * at the moment it happens — the real-time shape of a conversion
  * dashboard, where the batch operator is the end-of-day table.
  *
  * State per user is three optional timestamps (the transition times),
  * bounded by the user dimension like the batch funnel's per-stage
  * rows. Within a batch, events fold in (ts_us, type_rank, event_id)
  * order with views before clicks before purchases at equal ts — that
  * tie order reproduces the batch operator's `>=` semantics (a click
  * at exactly the first-view timestamp advances the funnel on both
  * sides). A late cross-batch view older than the recorded first view
  * cannot retroactively re-open a click decision already made — the
  * same documented monotone trade as [[StreamingAsofJoin]]; under
  * `Trigger.AvailableNow` on a bounded input the result is exact, and
  * the oracle (the batch funnel unpivoted into its transition rows)
  * checks it row-for-row. */
object StreamingFunnel {

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long, tr: Int)
  final case class FunnelState(vUs: Option[Long], cUs: Option[Long], pUs: Option[Long])
  final case class Transition(user_id: Long, stage: Long, at_us: Long)

  def advance(user: Long, rows: Iterator[Ev],
              state: GroupState[FunnelState]): Iterator[Transition] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, e.tr, e.event_id))
    var st = state.getOption.getOrElse(FunnelState(None, None, None))
    val out = Array.newBuilder[Transition]
    for (e <- evs) e.tr match {
      case 0 => // view
        if (st.vUs.isEmpty) {
          st = st.copy(vUs = Some(e.ts_us))
          out += Transition(user, 1L, e.ts_us)
        }
      case 1 => // click
        if (st.vUs.exists(_ <= e.ts_us) && st.cUs.isEmpty) {
          st = st.copy(cUs = Some(e.ts_us))
          out += Transition(user, 2L, e.ts_us)
        }
      case _ => // purchase
        if (st.cUs.exists(_ <= e.ts_us) && st.pUs.isEmpty) {
          st = st.copy(pUs = Some(e.ts_us))
          out += Transition(user, 3L, e.ts_us)
        }
    }
    state.update(st)
    out.result().iterator
  }

  /** The transition stream over the events files matching `srcGlob`.
    * Run into a durable sink ([[MemorySinks.runFileSink]]), a restarted
    * stream resumes the offset log and rehydrates every user's funnel
    * stage, so a user whose view arrived before the restart still
    * converts on a click after it (pinned by the restart spec). */
  private[graft] def funnelStream(s: SparkSession, srcGlob: String,
                                  schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).parquet(srcGlob)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("event_id"), col("user_id"),
        EventOps.tsUs(schema("ts").dataType).as("ts_us"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).as("tr"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(advance)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    val stream = funnelStream(s, s"$dir/[e]vents.parquet", schema)
    MemorySinks.runAvailableNow(s, stream, "stream_funnel")._2
  }

  /** The batch funnel unpivoted into its transition rows — one row per
    * stage a user reached, timestamped at the reach time. */
  val oracle: String = {
    val ev =
      """ev AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_ns(ts) // 1000 AS ts_us
        |  FROM events
        |)""".stripMargin
    s"""WITH $ev,
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
       |SELECT user_id, CAST(1 AS BIGINT) AS stage, first_view_us AS at_us FROM v
       |UNION ALL
       |SELECT user_id, CAST(2 AS BIGINT) AS stage, first_click_us AS at_us FROM c
       |UNION ALL
       |SELECT user_id, CAST(3 AS BIGINT) AS stage, first_purchase_us AS at_us FROM p""".stripMargin
  }
}
