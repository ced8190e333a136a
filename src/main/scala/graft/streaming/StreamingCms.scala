package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.SketchOps

/** Streaming Count-Min sketch — the continuously-maintained twin of
  * the batch counter table behind
  * [[graft.operators.SketchOps.cmsErrorReport]] /
  * [[SketchOps.cmsHeavyHitters]]: token occurrences stream into the
  * d×w counters and each micro-batch emits the refreshed table. A
  * fourth bounded-mergeable-sketch stateful instance with the
  * simplest merge of the family — per-counter ADDITION (associative
  * + commutative, so any micro-batch split of the input yields the
  * identical final counters; NOT idempotent, which is exactly the
  * at-least-once caveat that separates CMS from HLL in production).
  * Keyed by hash-row index i, so state is exactly w = [[SketchOps
  * .CmsW]] longs per key across d = [[SketchOps.CmsD]] keys — the
  * whole sketch is d·w longs regardless of stream length. Position
  * arithmetic reuses the batch salt ('cm' + i + ':' + term), so under
  * `Trigger.AvailableNow` the final emission per (i, pos) is checked
  * verbatim by the batch counter-table DuckDB oracle. */
object StreamingCms {

  final case class PosRow(i: Long, pos: Long)
  /** Pre-combined (i, pos) occurrence count — what actually crosses
    * the state shuffle since the r17 map-side combine. */
  final case class PosCnt(i: Long, pos: Long, n: Long)
  final case class CmsState(cw: Seq[Long]) // length CmsW
  final case class Out(i: Long, pos: Long, cw: Long)

  /** Map-side combine (r17 optimization round, guide §2.3): counter
    * ADDITION is associative + commutative, so each scan partition
    * collapses its token occurrences to ≤ d·w (i, pos, n) partials
    * before the state shuffle — O(partitions · d · w) shuffled rows
    * instead of one per token occurrence per hash row. */
  def combine(rows: Iterator[PosRow]): Iterator[PosCnt] = {
    val acc = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    rows.foreach { r =>
      val k = (r.i, r.pos)
      acc(k) = acc.getOrElse(k, 0L) + 1L
    }
    acc.iterator.map { case ((i, pos), n) => PosCnt(i, pos, n) }
  }

  def fold(key: Long, rows: Iterator[PosCnt],
           state: GroupState[CmsState]): Iterator[Out] = {
    val cw = state.getOption.map(_.cw.toArray)
      .getOrElse(new Array[Long](SketchOps.CmsW))
    rows.foreach(r => cw(r.pos.toInt) += r.n)
    state.update(CmsState(cw.toSeq))
    (0 until SketchOps.CmsW).iterator
      .filter(p => cw(p) > 0L)
      .map(p => Out(key, p.toLong, cw(p)))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run). */
  def sketchStream(s: SparkSession, srcGlob: String,
                   schema: org.apache.spark.sql.types.StructType,
                   srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("term"))
      .select(col("term"),
        explode(array((0 until SketchOps.CmsD).map(i => lit(i.toLong)): _*)).as("i"))
      .select(col("i"),
        (graft.functions.Portable.h60(concat(lit("cm"), col("i").cast("string"),
          lit(":"), col("term"))) % SketchOps.CmsW).as("pos"))
      .as[PosRow]
      .mapPartitions(combine)
      .groupByKey(_.i)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.documents(s, dir).schema
    MemorySinks.runAvailableNow(s,
      sketchStream(s, s"$dir/[d]ocuments.parquet", schema), "stream_cms")._2
  }
}
