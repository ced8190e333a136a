package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps

/** Streaming per-user running aggregates: the Structured-Streaming
  * twin of [[graft.operators.EventOps.userRunningAggs]] — event count,
  * cumulative spend in exact integer cents, running max, dollars view.
  *
  * The canonical `flatMapGroupsWithState` ACCUMULATOR pattern (where
  * [[StreamingSessionize]] carries boundary state, this carries a
  * running fold): per-user state is (count, cent sum, cent max), so
  * the running values survive across micro-batches — exactly what a
  * batch window cannot do on an unbounded stream. Events inside a
  * batch fold in (ts_us, event_id) order; monetary state is integer
  * cents, so cross-engine and cross-retry results are bit-exact
  * (double accumulation would be order-sensitive —
  * dev/PORTABILITY.md). Run with `Trigger.AvailableNow` through
  * [[MemorySinks.runAvailableNow]] so the driver's DuckDB oracle (the
  * batch `user_running_aggs` SQL, reused verbatim) checks it like any
  * batch query; a production deployment would add a watermark + state
  * TTL and a durable sink. */
object StreamingRunningAggs {

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long, cents: Long)
  final case class AggState(n: Long, cents: Long, maxCents: Long)
  final case class Out(event_id: Long, user_id: Long, r_count: Long,
                       r_cents: Long, r_max_cents: Long, r_dollars: Double)

  def fold(user: Long, rows: Iterator[Ev], state: GroupState[AggState]): Iterator[Out] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(AggState(0L, 0L, Long.MinValue))
    val out = evs.map { e =>
      st = AggState(st.n + 1, st.cents + e.cents, math.max(st.maxCents, e.cents))
      Out(e.event_id, e.user_id, st.n, st.cents, st.maxCents, st.cents.toDouble / 100.0)
    }
    state.update(st)
    out.iterator
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
    MemorySinks.runAvailableNow(s, stream.toDF(), "stream_running_aggs")._2
  }
}
