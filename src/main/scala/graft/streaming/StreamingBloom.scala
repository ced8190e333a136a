package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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
  * [[SketchOps.BloomWords]] keys; bit positions reuse the batch salt,
  * so under `Trigger.AvailableNow` the final per-word emission equals
  * the batch filter exactly (the spec joins it against the batch
  * words; the DuckDB oracle recomputes the word table in SQL). */
object StreamingBloom {

  final case class WordBit(w: Long, mask: Long)
  final case class BloomState(bw: Long)
  final case class Out(w: Long, bw: Long)

  /** Map-side combine (r17 optimization round, guide §2.3): bitwise OR
    * is associative + commutative + idempotent, so each scan partition
    * collapses its bit rows to ≤ BloomWords partial words before the
    * state shuffle. */
  def combine(rows: Iterator[WordBit]): Iterator[WordBit] = {
    val acc = scala.collection.mutable.HashMap.empty[Long, Long]
    rows.foreach(r => acc(r.w) = acc.getOrElse(r.w, 0L) | r.mask)
    acc.iterator.map { case (w, m) => WordBit(w, m) }
  }

  def fold(key: Long, rows: Iterator[WordBit],
           state: GroupState[BloomState]): Iterator[Out] = {
    var bw = state.getOption.map(_.bw).getOrElse(0L)
    rows.foreach(r => bw |= r.mask)
    state.update(BloomState(bw))
    Iterator.single(Out(key, bw))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run). */
  def filterStream(s: SparkSession, srcGlob: String,
                   schema: org.apache.spark.sql.types.StructType,
                   srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        explode(array((0 until SketchOps.BloomK).map(j => lit(j.toLong)): _*)).as("j"))
      .select((graft.functions.Portable.h60(concat(lit("bf"), col("j").cast("string"),
        lit(":"), col("user_id").cast("string"))) % SketchOps.BloomBits).as("pos"))
      .select(expr(s"pos div ${SketchOps.BloomWords}").as("w"),
        expr(s"shiftleft(1L, cast(pos % ${SketchOps.BloomWords} as int))").as("mask"))
      .as[WordBit]
      .mapPartitions(combine)
      .groupByKey(_.w)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      filterStream(s, s"$dir/[e]vents.parquet", schema), "stream_bloom")._2
  }
}
