package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming event-time windowed aggregation: tumbling 1-hour counts
  * and exact cent-sums per event type.
  *
  * `readStream` → event-time watermark → `groupBy(window(...))` — the
  * canonical Structured-Streaming aggregation. The watermark bounds
  * state (windows older than 2 hours of event time drop from the
  * store); [[run]]'s `Complete` output makes the bounded AvailableNow
  * run deterministic so the DuckDB oracle can check it (Append mode
  * would hold back the final, still-open window — right for
  * production, wrong for an exact-compare harness).
  */
object StreamingWindowCounts {

  /** The windowed-count stream over the events files matching
    * `srcGlob`. Its production shape is APPEND mode into a durable sink
    * ([[MemorySinks.runFileSink]]): a window row is emitted exactly
    * once, when the watermark passes its end, and rows older than the
    * checkpointed watermark are DROPPED before aggregation — the
    * contract that bounds the state store at any scale, pinned across
    * a restart by the late-data spec. */
  private[graft] def windowAgg(s: SparkSession, srcGlob: String,
                               schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema)
      .parquet(srcGlob)
      .select(
        graft.operators.EventOps.tsEventTime(schema("ts").dataType).as("ev_time"),
        col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withWatermark("ev_time", "2 hours")
      .groupBy(window(col("ev_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("sum_cents"))

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    val stream = windowAgg(s, s"$dir/[e]vents.parquet", schema)
    MemorySinks.runAvailableNow(s, stream, "stream_window_counts", mode = "complete")._2
  }

  val oracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY 1, 2""".stripMargin
}
