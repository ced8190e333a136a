package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream event-time interval join: attribute each purchase to
  * the clicks of the same user in the preceding hour.
  *
  * The canonical two-stream pattern: both sides carry an event-time
  * watermark so the join state (buffered clicks waiting for possible
  * purchases) is bounded — without the time-range predicate + watermark
  * a stream-stream join would buffer forever. Inner interval joins
  * emit on match, so the bounded AvailableNow run is deterministic and
  * the batch oracle can check it exactly. */
object StreamingIntervalJoin {

  val AttributionUs = 3600L * 1000000L // 1-hour click→purchase window

  def run(s: SparkSession, dir: String): DataFrame = {
    // Streaming state partition count is fixed at the FIRST run from
    // the session's shuffle partitions and sizes the per-batch state
    // store overhead (open/commit per partition per side per batch) —
    // 32 batch-sized partitions cost ~5 s of pure state bookkeeping
    // for this dimension-sized state. The override is scoped to a
    // CLONED session (same SparkContext, shared data, private conf +
    // temp-view catalog): mutating the caller's session-global conf
    // would race with any query concurrently planned on it. A
    // production always-on query would instead set the value once at
    // stream start, sized to its state volume.
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "4")
    val schema = graft.sources.Tables.events(ns, dir).schema
    def side(tpe: String, idAs: String, userAs: String, tsAs: String) =
      ns.readStream.schema(schema)
        .parquet(s"$dir/[e]vents.parquet")
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          graft.operators.EventOps.tsEventTime(schema("ts").dataType).as(tsAs))
        .withWatermark(tsAs, "2 hours")
    val clicks    = side("click", "click_id", "c_user", "click_time")
    val purchases = side("purchase", "purchase_id", "p_user", "p_time")
    val joined = clicks.join(purchases,
      expr(s"""c_user = p_user
              | AND p_time >= click_time
              | AND p_time <= click_time + interval 1 hour""".stripMargin))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"))
    MemorySinks.runAvailableNow(ns, joined, "stream_interval_join")._2
  }

  val oracle: String =
    s"""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
       |FROM events c JOIN events p
       |  ON c.user_id = p.user_id
       | AND c.event_type = 'click' AND p.event_type = 'purchase'
       | AND epoch_ns(p.ts) // 1000 >= epoch_ns(c.ts) // 1000
       | AND epoch_ns(p.ts) // 1000 <= epoch_ns(c.ts) // 1000 + $AttributionUs""".stripMargin
}
