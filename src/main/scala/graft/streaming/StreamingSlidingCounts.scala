package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SLIDING-window aggregation: the 1-hour / 15-minute
  * traffic curve of the batch
  * [[graft.operators.EventOps.slidingWindowCounts]] maintained
  * continuously — the real-time dashboard shape where
  * [[StreamingWindowCounts]] is the tumbling rollup.
  *
  * Structurally the sliding window multiplies STATE, not just rows:
  * every event belongs to window/slide = 4 open windows, so the state
  * store holds 4× the window rows of the tumbling variant. In the
  * production (append-mode) deployment the watermark is what keeps
  * that bounded — windows whose end is older than the watermark
  * close, emit, and drop from the store; that bounded path, including
  * survival across a restart, is what the window-counts late-data
  * spec pins for the tumbling twin ([[StreamingWindowCounts.windowAgg]]
  * through [[MemorySinks.runFileSink]]), and the same eviction rule
  * applies per-window here. THIS entry point, however, runs Complete
  * mode through [[MemorySinks.runAvailableNow]] for the driver's
  * exact-compare harness, and in Complete mode Spark retains
  * every window indefinitely (the watermark evicts nothing) — it is a
  * harness surface, not the bounded deployment shape. The batch
  * sliding oracle (epoch bucket arithmetic) is reused verbatim —
  * Spark's window() is epoch-aligned, which is exactly what the
  * oracle computes. */
object StreamingSlidingCounts {

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    val stream = s.readStream.schema(schema)
      .parquet(s"$dir/[e]vents.parquet")
      .select(
        graft.operators.EventOps.tsEventTime(schema("ts").dataType).as("ev_time"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withWatermark("ev_time", "2 hours")
      .groupBy(window(col("ev_time"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(unix_micros(col("window.start")).as("start_us"),
        unix_micros(col("window.end")).as("end_us"),
        col("n_events"), col("sum_cents").cast("long").as("sum_cents"))
    MemorySinks.runAvailableNow(s, stream, "stream_sliding_counts",
      mode = "complete")._2
  }
}
