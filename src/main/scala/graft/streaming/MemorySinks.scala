package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.StateStoreBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Caches

/** The one module that runs bounded (`Trigger.AvailableNow`) streams:
  * every streaming operator reaches Spark through [[runAvailableNow]]
  * (rows kept as distributed blocks, for the registry and its oracle)
  * or [[runFileSink]] (a durable parquet sink plus checkpoint, the
  * deployment shape the restart specs pin). Both kinds unload the
  * finished run's state-store providers before returning: the state is
  * already committed to the checkpoint, and left loaded it would sit in
  * the heap until the maintenance task's idle sweep.
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
  * the union of batch results — byte-identical rows to the memory
  * sink, none of them collected.
  *
  * One live run per prefix: a memory run's query is named by its
  * prefix, and Spark refuses to start a query whose name an active
  * query of the session holds, so two overlapping runs of one operator
  * fail at start instead of interleaving their retained batches. A
  * finished run frees its name; the session sets no checkpoint root,
  * so each memory run checkpoints to a fresh temp dir and reusing a
  * name never resumes an earlier run. */
object MemorySinks {

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
    * Starting a run releases the previous run's checkpointed blocks for
    * the same prefix, whose lineage is CUT — a caller still holding the
    * previous run's returned frame gets a block-not-found on any later
    * action (stricter than the old memory sink, whose driver-resident
    * rows survived). Every call site here consumes the frame before
    * re-invoking; a service wanting overlapping runs of one operator
    * gives each its own prefix. */
  def runAvailableNow(s: SparkSession, stream: DataFrame, prefix: String,
                      mode: String = "append"): (StreamingQuery, DataFrame) = {
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
      .queryName(prefix)
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

  /** Run a bounded stream to completion into a DURABLE parquet sink in
    * append mode, checkpointing to `ckptDir`, and return the finished
    * query handle. A restart with the same checkpoint resumes from the
    * file-source offset log with every key's state rehydrated, so
    * already-read files are skipped and state carries across the
    * restart (pinned by the restart specs). */
  def runFileSink(stream: DataFrame, sinkDir: String, ckptDir: String): StreamingQuery = {
    val q = stream.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    StateStoreBridge.unload(q)
    q
  }
}
