package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SketchOps

/** Streaming log₂-histogram quantile sketch — the continuously-
  * maintained twin of [[graft.operators.SketchOps.quantileHistSketch]]:
  * per event_type a bounded (≤ [[SketchOps.HistMaxPow]]+2 buckets)
  * power-of-two cent histogram survives across micro-batches, and each
  * batch emits the group's refreshed p50/p90/p99 lower bounds. A second
  * instance of the BOUNDED MERGEABLE SKETCH stateful pattern
  * ([[StreamingDistinctKmv]] is the first): the state is one count
  * per bucket ([[Registers]] with addition, slot = bucket + 1, over
  * the batch operator's own [[SketchOps.histBucket]]) — associative
  * and commutative, so the final emission is deterministic under ANY
  * micro-batch split of the input, and under `Trigger.AvailableNow`
  * on bounded input it equals the batch sketch verbatim (the batch
  * DuckDB oracle checks it directly). Where the KMV sketch answers
  * "how many distinct", this one answers "how are values distributed"
  * from the same O(1)-per-key state budget.
  */
object StreamingQuantileHist {

  final case class Out(event_type: String, n: Long,
                       p50_lo: Long, p90_lo: Long, p99_lo: Long)

  /** Exact ceil-rank selection over the bucket CDF — the same
    * integer arithmetic as the batch operator's windowed form. Slot
    * `b + 1` counts bucket `b`. */
  private def quantileLo(counts: Array[Long], n: Long, q: Int): Long = {
    val target = (n * q + 99) / 100
    val cum = counts.iterator.scanLeft(0L)(_ + _).drop(1)
    val b = cum.indexWhere(_ >= target) - 1
    if (b < 0) 0L else 1L << b
  }

  /** A type's refreshed p50/p90/p99 lower bounds. */
  private def emit(key: String, counts: Array[Long]): Iterator[Out] = {
    val n = counts.sum
    Iterator.single(Out(key, n,
      quantileLo(counts, n, 50), quantileLo(counts, n, 90), quantileLo(counts, n, 99)))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run — a write-side option would be silently
    * ignored by the source). */
  def histStream(s: SparkSession, srcGlob: String,
                 schema: org.apache.spark.sql.types.StructType,
                 srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val buckets = s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .select(col("event_type"), SketchOps.histCents.as("cents"))
      .select(col("event_type").as("key"), (SketchOps.histBucket + 1L).as("slot"), lit(1L).as("v"))
    Registers.fold(buckets, SketchOps.HistMaxPow + 2, Registers.Sum)(emit)
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      histStream(s, s"$dir/[e]vents.parquet", schema), "stream_qhist")._2
  }
}
