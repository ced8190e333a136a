package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The measurement spine [[Bench]] and [[Dev]] share: one timed
  * materialization, one warm-until-steady rule and one metrics
  * listener. */
object Probe {

  /** Seconds to build `fn` on `dir` and materialize its result. toRdd
    * materializes every output column: a bare count() would let the
    * optimizer prune expensive projections (hash RNG, pSA folds) and
    * under-report queries whose cost lives in the SELECT list rather
    * than the joins. */
  def run(spark: SparkSession, fn: QueryFn, dir: String): Double = {
    val t0 = System.nanoTime()
    fn(spark, dir).queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Calls `time` until the query is steady and returns its timings:
    * at least 2 runs, one more while a run is more than 1.4× faster
    * than the one before, at most 4. A cold query's first executions
    * burn interpreted codegen on every core until the C2 compile queue
    * drains (measured 205 core-s cold vs 9 hot on quality_gopher), so
    * one fixed warm-up run is not always enough. A negative timing (a
    * failed run) stops the loop. */
  def warm(time: () => Double): Seq[Double] = {
    val ts = ArrayBuffer(time(), time())
    def speedingUp: Boolean = {
      val Seq(prev, cur) = ts.takeRight(2).toSeq
      prev >= 0 && cur >= 0 && prev / math.max(cur, 1e-9) > 1.4
    }
    while (ts.size < 4 && speedingUp) ts += time()
    ts.toSeq
  }

  /** One completed stage's task-metric totals. `shuffleBytes` is
    * shuffle write plus shuffle read. */
  final case class Stage(
      id: Int, name: String, tasks: Int, runMs: Long, gcMs: Long,
      spillDiskBytes: Long, spillMemBytes: Long, shuffleBytes: Long, inputRecords: Long)

  object Stage {
    /** Column-wise sum of `rows` (id -1). */
    def total(rows: Seq[Stage]): Stage = Stage(-1, "total",
      rows.map(_.tasks).sum, rows.map(_.runMs).sum, rows.map(_.gcMs).sum,
      rows.map(_.spillDiskBytes).sum, rows.map(_.spillMemBytes).sum,
      rows.map(_.shuffleBytes).sum, rows.map(_.inputRecords).sum)
  }

  /** Positions in both logs of a [[Metrics]]. */
  final case class Mark(stages: Int, progress: Int)

  /** What the listeners saw after a [[Mark]]: the completed stages, and
    * the `durationMs` map (phase -> ms) of each streaming progress, one
    * per micro-batch. */
  final case class Window(stages: Seq[Stage], progress: Seq[Map[String, Long]])

  /** Logs every completed stage of `spark`'s context and every progress
    * of its streaming queries, from construction until [[close]]. */
  final class Metrics(spark: SparkSession) {
    private val stages = ArrayBuffer[Stage]()
    private val progress = ArrayBuffer[Map[String, Long]]()

    private val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null) stages.synchronized {
          stages += Stage(i.stageId, i.name.split("\n").head, i.numTasks,
            m.executorRunTime, m.jvmGCTime, m.diskBytesSpilled, m.memoryBytesSpilled,
            m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
            m.inputMetrics.recordsRead)
        }
      }
    }
    private val streamListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.synchronized {
        progress += e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      }
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.streams.addListener(streamListener)

    /** Returns once both listeners have seen every event posted before
      * the call. */
    def drain(): Unit = ListenerBusBridge.drain(spark.sparkContext)

    def mark(): Mark = {
      drain()
      Mark(stages.synchronized(stages.size), progress.synchronized(progress.size))
    }

    def since(m: Mark): Window = {
      drain()
      Window(stages.synchronized(stages.drop(m.stages).toSeq),
        progress.synchronized(progress.drop(m.progress).toSeq))
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(stageListener)
      spark.streams.removeListener(streamListener)
    }
  }
}
