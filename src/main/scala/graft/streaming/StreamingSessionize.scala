package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.operators.EventOps

/** Streaming gap-rule sessionization: the Structured-Streaming twin of
  * [[graft.operators.EventOps.sessionize]].
  *
  * `readStream` over the events parquet → `flatMapGroupsWithState`
  * keyed by user — per-user state is (last event time, session
  * counter), so an open session survives across micro-batches, which
  * is exactly what the batch window cannot do on an unbounded stream.
  * [[run]] runs it with `Trigger.AvailableNow` over the bounded input
  * (one batch → deterministic) so the driver's oracle can check it
  * like any batch query; a production deployment would add an
  * event-time watermark + state TTL.
  */
object StreamingSessionize {

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long)
  final case class SessState(lastTs: Long, sessionIdx: Long)
  final case class SessOut(event_id: Long, user_id: Long, ts_us: Long, session_idx: Long)

  /** Incremental per-user session assignment. Events inside a batch are
    * sorted by (ts_us, event_id); state carries the open session across
    * batches, so late (out-of-order across batches) data would need a
    * watermark — documented, not needed for AvailableNow. */
  def assign(user: Long, rows: Iterator[Ev], state: GroupState[SessState]): Iterator[SessOut] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
    val out = evs.map { e =>
      val fresh = st.lastTs == Long.MinValue || e.ts_us - st.lastTs > EventOps.GapUs
      val idx = if (fresh) st.sessionIdx + 1 else st.sessionIdx
      st = SessState(e.ts_us, idx)
      SessOut(e.event_id, e.user_id, e.ts_us, idx)
    }
    state.update(st)
    out.iterator
  }

  /** The session-assignment stream over the events files matching
    * `srcGlob`. Run into a durable sink ([[MemorySinks.runFileSink]]),
    * a restart with the same checkpoint resumes exactly where the last
    * trigger stopped — the file-source offset log skips already-read
    * files and the state store rehydrates every user's open session,
    * so sessions CONTINUE across restarts (pinned by the
    * restart-recovery spec, which equals the batch window result over
    * the full data). */
  private[graft] def sessionStream(s: SparkSession, srcGlob: String,
                                   schema: StructType): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).parquet(srcGlob)
      .select(col("event_id"), col("user_id"),
        EventOps.tsUs(schema("ts").dataType).as("ts_us"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(assign)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    // glob form: the file-stream source requires a directory or glob
    // basePath, and the driver ships events as a single parquet file
    val stream = sessionStream(s, s"$dir/[e]vents.parquet", schema)
    MemorySinks.runAvailableNow(s, stream, "stream_sessionize")._2
  }
}
