package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Caches

/** Per-run result naming with garbage collection for the streaming
  * family's bounded (AvailableNow) runs.
  *
  * Through r16 every operator wrote its result through Spark's MEMORY
  * sink, which `collect()`s every batch's rows into the DRIVER — for
  * the per-event emitters (`streaming_db_upsert` emits one row per
  * lineitem key, `streaming_running_aggs` one per event) that is a
  * single-threaded driver materialization of the whole output on every
  * run, the exact §5 anti-pattern ("the driver should do almost no
  * data work"). [[runAvailableNow]] keeps the rows DISTRIBUTED
  * instead: each micro-batch is eagerly local-checkpointed (persisted
  * partition blocks, lineage cut so the data outlives the stream's
  * incremental plan) inside the sink hook, and the returned frame is
  * the union of batch results registered under the per-run name —
  * byte-identical rows to the memory sink, none of them collected.
  *
  * Naming + GC (r16 ADVICE): a sink name cannot be re-opened, so each
  * run takes `<prefix>_N` and drops run N−1's temp view AND its
  * persisted blocks before handing out the next — repeated invocations
  * in a long-lived session hold exactly one run's output per operator. */
object MemorySinks {

  def next(s: SparkSession, prefix: String, seq: AtomicInteger): String = {
    val n = seq.incrementAndGet()
    if (n > 1) s.catalog.dropTempView(s"${prefix}_${n - 1}")
    s"${prefix}_$n"
  }

  /** Previous run's checkpointed batch frames per prefix — released
    * when the next run starts, and by
    * [[graft.operators.Caches.clearAll]] like the per-dir caches. */
  private val live = new Caches.PerDir[Seq[DataFrame]]("MemorySinks.live", identity)

  /** Run a bounded stream to completion under `Trigger.AvailableNow`,
    * materializing every batch's rows as persisted DISTRIBUTED blocks
    * (eager localCheckpoint inside the batch hook — executed while the
    * state stores commit, never collected to the driver), and return
    * (query handle, result frame) — the handle for the operators that
    * assert single-batch preconditions from `lastProgress`, the frame
    * (union of the checkpointed batches) holding exactly the rows the
    * old memory-sink table held. No temp view is registered: the batch
    * frames belong to the stream's cloned session, and every consumer
    * takes the returned frame directly.
    *
    * ONE-LIVE-RUN-PER-PREFIX CONTRACT (r17 advice): starting run N
    * releases run N−1's checkpointed blocks, whose lineage is CUT — a
    * caller still holding the previous run's returned frame gets a
    * block-not-found on any later action (stricter than the old
    * memory sink, whose driver-resident rows survived the view drop).
    * Every call site here consumes the frame before re-invoking, and
    * the same operator must not run concurrently on one prefix (the
    * per-prefix live map would interleave); a service wanting
    * overlapping runs keeps its own naming + release discipline.
    *
    * The finished run's state-store providers are unloaded before
    * returning: its state is already committed to the checkpoint, and
    * left loaded it would sit in the heap until the maintenance task's
    * idle sweep. */
  def runAvailableNow(s: SparkSession, stream: DataFrame, prefix: String,
                      seq: AtomicInteger,
                      mode: String = "append"): (StreamingQuery, DataFrame) = {
    val n = seq.incrementAndGet()
    val name = s"${prefix}_$n"
    live.drop(prefix)
    val batches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val p = b.localCheckpoint(true)
        batches.synchronized {
          // complete mode re-emits the FULL result table per batch —
          // the memory sink REPLACES its rows, so keep the last batch
          // only (append mode accumulates, matching the sink exactly)
          if (mode == "complete") { batches.foreach(Caches.release); batches.clear() }
          batches += p
        }
        ()
      }
      .queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StateStoreBridge.unload(q)
    val out = batches.synchronized {
      if (batches.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], stream.schema)
      else batches.reduceLeft(_ unionByName _)
    }
    live.put(prefix, batches.synchronized(batches.toSeq))
    (q, out)
  }
}
