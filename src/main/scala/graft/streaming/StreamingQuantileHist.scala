package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.SketchOps

/** Streaming log₂-histogram quantile sketch — the continuously-
  * maintained twin of [[graft.operators.SketchOps.quantileHistSketch]]:
  * per event_type a bounded (≤ [[SketchOps.HistMaxPow]]+2 buckets)
  * power-of-two cent histogram survives across micro-batches, and each
  * batch emits the group's refreshed p50/p90/p99 lower bounds. A second
  * instance of the BOUNDED MERGEABLE SKETCH stateful pattern
  * ([[StreamingDistinctKmv]] is the first): the state is a (bucket →
  * count) map whose merge is plain per-bucket addition — associative
  * and commutative, so the final emission is deterministic under ANY
  * micro-batch split of the input, and under `Trigger.AvailableNow`
  * on bounded input it equals the batch sketch verbatim (the batch
  * DuckDB oracle checks it directly). Where the KMV sketch answers
  * "how many distinct", this one answers "how are values distributed"
  * from the same O(1)-per-key state budget.
  */
object StreamingQuantileHist {

  final case class Bucketed(event_type: String, bucket: Long)
  /** Pre-combined (type, bucket) count — what actually crosses the
    * state shuffle since the r17 map-side combine. */
  final case class BucketCnt(event_type: String, bucket: Long, n: Long)
  final case class HistState(buckets: Map[Long, Long])
  final case class Out(event_type: String, n: Long,
                       p50_lo: Long, p90_lo: Long, p99_lo: Long)

  /** Exact ceil-rank selection over the bucket CDF — the same
    * integer arithmetic as the batch operator's windowed form. */
  private def quantileLo(sorted: Seq[(Long, Long)], n: Long, q: Int): Long = {
    val target = (n * q + 99) / 100
    var cum = 0L
    for ((b, c) <- sorted) {
      cum += c
      if (cum >= target) return if (b < 0) 0L else 1L << b
    }
    0L // unreachable for n ≥ 1
  }

  /** Map-side combine (r17 optimization round, guide §2.3): bucket
    * counts ADD, so each scan partition collapses its rows to
    * ≤ types·buckets partial counts before the state shuffle. */
  def combine(rows: Iterator[Bucketed]): Iterator[BucketCnt] = {
    val acc = scala.collection.mutable.HashMap.empty[(String, Long), Long]
    rows.foreach { r =>
      val k = (r.event_type, r.bucket)
      acc(k) = acc.getOrElse(k, 0L) + 1L
    }
    acc.iterator.map { case ((t, b), n) => BucketCnt(t, b, n) }
  }

  def fold(key: String, rows: Iterator[BucketCnt],
           state: GroupState[HistState]): Iterator[Out] = {
    val prev = state.getOption.map(_.buckets).getOrElse(Map.empty[Long, Long])
    val merged = rows.foldLeft(prev) { (m, r) =>
      m.updated(r.bucket, m.getOrElse(r.bucket, 0L) + r.n)
    }
    state.update(HistState(merged))
    val n = merged.valuesIterator.sum
    val sorted = merged.toSeq.sortBy(_._1)
    Iterator.single(Out(key, n,
      quantileLo(sorted, n, 50), quantileLo(sorted, n, 90), quantileLo(sorted, n, 99)))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run — a write-side option would be silently
    * ignored by the source). */
  def histStream(s: SparkSession, srcGlob: String,
                 schema: org.apache.spark.sql.types.StructType,
                 srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .select(col("event_type"), expr(SketchOps.histBucketChain).as("bucket"))
      .as[Bucketed]
      .mapPartitions(combine)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      histStream(s, s"$dir/[e]vents.parquet", schema), "stream_qhist")._2
  }
}
