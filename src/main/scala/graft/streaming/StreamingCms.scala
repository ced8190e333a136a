package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * whole sketch is d·w longs regardless of stream length. Positions
  * are the batch operator's own [[SketchOps.cmsPos]] and the fold is
  * [[Registers]] with addition, so under
  * `Trigger.AvailableNow` the final emission per (i, pos) is checked
  * verbatim by the batch counter-table DuckDB oracle. */
object StreamingCms {

  final case class Out(i: Long, pos: Long, cw: Long)

  /** Hash row `i`'s non-zero counters. */
  private def emit(i: Long, cw: Array[Long]): Iterator[Out] =
    cw.iterator.zipWithIndex.collect { case (c, p) if c > 0L => Out(i, p.toLong, c) }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run). */
  def sketchStream(s: SparkSession, srcGlob: String,
                   schema: org.apache.spark.sql.types.StructType,
                   srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val pos = s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("term"))
      .select(col("term"), SketchOps.cmsRows)
      .select(col("i").cast("long").as("key"),
        SketchOps.cmsPos(col("i"), col("term")).as("slot"), lit(1L).as("v"))
    Registers.fold(pos, SketchOps.CmsW, Registers.Sum)(emit)
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.documents(s, dir).schema
    MemorySinks.runAvailableNow(s,
      sketchStream(s, s"$dir/[d]ocuments.parquet", schema), "stream_cms")._2
  }
}
