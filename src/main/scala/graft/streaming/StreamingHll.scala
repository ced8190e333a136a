package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SketchOps

/** Streaming HyperLogLog — the continuously-maintained twin of
  * [[graft.operators.SketchOps.hllDistinct]]: per event_type the
  * m = [[SketchOps.HllM]] register maxima survive across
  * micro-batches and each batch emits the refreshed estimate. A
  * second instance of the BOUNDED MERGEABLE SKETCH stateful pattern
  * (alongside KMV and the quantile histogram) with the strongest
  * merge of the family: per-register MAX is associative, commutative
  * AND idempotent, so state is a CONSTANT m longs per key, any
  * micro-batch split of the input yields the identical final state,
  * and replayed rows (at-least-once sources) cost nothing — the
  * property that lets production HLL states union across streams,
  * days and datacenters. The register rows are the batch operator's
  * own projection ([[SketchOps.hllRegRho]]) and the fold is
  * [[Registers]] with MAX, so under `Trigger.AvailableNow` each key's
  * final emission is checked verbatim by the batch `hll_distinct`
  * DuckDB oracle. */
object StreamingHll {

  final case class Out(event_type: String, n_zero: Long, harm_sum: Long,
                       est_hll: Double)

  /** The estimate off a type's registers: the batch `hllEstimate`'s
    * exact integer harmonic sum, where a register never hit (0)
    * contributes 2^55, and one division. */
  private def emit(key: String, regs: Array[Long]): Iterator[Out] = {
    val nZero = regs.count(_ == 0L).toLong
    val harm = regs.map(r => 1L << (SketchOps.HllWBits + 1 - r.toInt)).sum
    Iterator.single(Out(key, nZero, harm, SketchOps.HllEstNum / harm.toDouble))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run — a write-side option would be silently
    * ignored by the source). */
  def sketchStream(s: SparkSession, srcGlob: String,
                   schema: org.apache.spark.sql.types.StructType,
                   srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val regs = SketchOps.hllRegRho(s.readStream.schema(schema).options(srcOptions).parquet(srcGlob),
      col("event_type"), col("event_type"))
    Registers.fold(regs.select(col("event_type").as("key"), col("reg").as("slot"), col("rho").as("v")),
      SketchOps.HllM, Registers.Max)(emit)
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      sketchStream(s, s"$dir/[e]vents.parquet", schema), "stream_hll")._2
  }
}
