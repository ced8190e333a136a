package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps

/** Streaming ASOF attribution: the Structured-Streaming twin of
  * [[graft.operators.EventOps.asofJoin]] — each purchase attributed to
  * the latest same-user click at or before it.
  *
  * Where the stream-stream [[StreamingIntervalJoin]] must BUFFER every
  * click inside the watermark horizon (state grows with click rate x
  * window), the as-of lookup needs exactly ONE row per user: the
  * latest click seen so far. `flatMapGroupsWithState` keyed by user
  * carries that single-click state across micro-batches — the textbook
  * case where hand-held state beats the generic join operator's
  * buffering, and the state bound (#users, not #clicks) is what
  * survives 100 TB. Events inside a batch fold in (ts_us, side,
  * event_id) order — clicks before purchases at equal ts, matching the
  * batch operator's <= semantics; a late cross-batch click older than
  * the stored one never regresses the state (monotone guard), it can
  * only be missed — the documented watermark trade every streaming
  * attribution makes. Run with `Trigger.AvailableNow` through
  * [[MemorySinks.runAvailableNow]]; the driver's DuckDB oracle (the
  * batch `asof_join` range-join SQL, reused verbatim) checks it
  * exactly. */
object StreamingAsofJoin {

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long, is_p: Int)
  final case class ClickState(ts_us: Long, event_id: Long)
  final case class Out(purchase_id: Long, user_id: Long, purchase_us: Long,
                       click_id: Option[Long], click_us: Option[Long],
                       lag_us: Option[Long])

  def attribute(user: Long, rows: Iterator[Ev],
                state: GroupState[ClickState]): Iterator[Out] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, e.is_p, e.event_id))
    var st = state.getOption
    val out = Array.newBuilder[Out]
    for (e <- evs) {
      if (e.is_p == 0) {
        if (st.forall(c => c.ts_us < e.ts_us ||
            (c.ts_us == e.ts_us && c.event_id < e.event_id)))
          st = Some(ClickState(e.ts_us, e.event_id))
      } else {
        out += Out(e.event_id, user, e.ts_us,
          st.map(_.event_id), st.map(_.ts_us), st.map(c => e.ts_us - c.ts_us))
      }
    }
    st.foreach(state.update)
    out.result().iterator
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = graft.sources.Tables.events(s, dir).schema
    val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        EventOps.tsUs(schema("ts").dataType).as("ts_us"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(attribute)
    MemorySinks.runAvailableNow(s, stream.toDF(), "stream_asof_join")._2
  }
}
