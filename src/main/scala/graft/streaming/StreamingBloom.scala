package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SketchOps

/** Streaming Bloom filter — the continuously-maintained membership
  * state behind [[graft.operators.SketchOps.bloomSemiFilter]]: the
  * purchaser set's [[SketchOps.BloomBits]]-bit filter, built word by
  * word as purchase events stream in, each micro-batch emitting the
  * refreshed (word, bits) table a scan-side pre-filter would
  * broadcast. A fifth bounded-mergeable-sketch stateful instance with
  * the bitwise-OR merge — associative, commutative AND idempotent
  * (like HLL's register MAX, unlike CMS's addition), so replays and
  * duplicate purchases cost nothing and no pre-distinct is needed.
  * Keyed by word index, state = ONE long per key across
  * [[SketchOps.BloomWords]] keys; the (word, bit) rows are the batch
  * build side's own [[SketchOps.bloomBits]] and the fold is
  * [[Registers]] with OR, so under `Trigger.AvailableNow` the final
  * per-word emission equals the batch filter exactly (the spec joins
  * it against the batch words; the DuckDB oracle recomputes the word
  * table in SQL). */
object StreamingBloom {

  final case class Out(w: Long, bw: Long)

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run). */
  def filterStream(s: SparkSession, srcGlob: String,
                   schema: org.apache.spark.sql.types.StructType,
                   srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val bits = SketchOps.bloomBits(s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .filter(col("event_type") === "purchase"))
    Registers.fold(bits.select(col("w").as("key"), lit(0L).as("slot"), col("mask").as("v")),
      1, Registers.Or)((w: Long, bw: Array[Long]) => Iterator.single(Out(w, bw(0))))
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      filterStream(s, s"$dir/[e]vents.parquet", schema), "stream_bloom")._2
  }
}
