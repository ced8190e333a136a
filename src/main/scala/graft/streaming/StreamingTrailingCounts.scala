package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps

/** Streaming trailing-window features: the Structured-Streaming twin
  * of [[graft.operators.EventOps.trailingWindowCounts]] — per event,
  * the same-user count and exact cent spend over the preceding hour.
  *
  * The third stateful pattern in the family: [[StreamingSessionize]]
  * carries BOUNDARY state (last ts + counter), [[StreamingRunningAggs]]
  * an ACCUMULATOR (monotone fold), this one a SLIDING BUFFER — the
  * events inside the time horizon, evicted as the clock advances.
  * That is exactly the state a real-time feature store keeps for
  * "events in the last N minutes" features, and its size is bounded
  * by the horizon (events/user/hour), not the stream length — the
  * property that lets it run forever. Events inside a batch fold in
  * (ts_us, event_id) order; the RANGE-frame semantics (every event
  * with ts in [t-1h, t] counts, ties included) are reproduced by
  * evicting strictly-older-than-horizon rows before emitting. Run
  * with `Trigger.AvailableNow` through [[MemorySinks.runAvailableNow]];
  * the batch `trailing_window_counts` oracle checks it verbatim. */
object StreamingTrailingCounts {

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long, cents: Long)
  final case class Item(ts_us: Long, cents: Long)
  final case class Buf(items: Seq[Item])
  final case class Out(event_id: Long, user_id: Long, ts_us: Long,
                       n_trail: Long, cents_trail: Long)

  def fold(user: Long, rows: Iterator[Ev], state: GroupState[Buf]): Iterator[Out] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
    var buf = state.getOption.map(_.items.toVector).getOrElse(Vector.empty[Item])
    val out = Array.newBuilder[Out]
    // RANGE-frame tie semantics: the value-based frame at time t holds
    // EVERY event with ts == t, including ones sorting after the
    // current row — so equal-ts groups enter the buffer together
    // before any of them emits.
    var i = 0
    while (i < evs.length) {
      var j = i
      while (j < evs.length && evs(j).ts_us == evs(i).ts_us) j += 1
      val t = evs(i).ts_us
      buf = (buf ++ evs.slice(i, j).map(e => Item(e.ts_us, e.cents)))
        .filter(_.ts_us >= t - EventOps.TrailUs)
      val n = buf.length.toLong
      val cs = buf.map(_.cents).sum
      evs.slice(i, j).foreach(e => out += Out(e.event_id, e.user_id, e.ts_us, n, cs))
      i = j
    }
    state.update(Buf(buf))
    out.result().iterator
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = graft.sources.Tables.events(s, dir).schema
    val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .select(col("event_id"), col("user_id"),
        EventOps.tsUs(schema("ts").dataType).as("ts_us"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
    MemorySinks.runAvailableNow(s, stream.toDF(), "stream_trailing_counts")._2
  }
}
