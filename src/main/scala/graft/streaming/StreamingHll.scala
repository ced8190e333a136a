package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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
  * days and datacenters. Registers/rho reuse the batch operator's
  * exact CASE-chain arithmetic ([[SketchOps.hllRhoChain]]), so under
  * `Trigger.AvailableNow` each key's final emission is checked
  * verbatim by the batch `hll_distinct` DuckDB oracle. */
object StreamingHll {

  final case class RegRow(event_type: String, reg: Long, rho: Long)
  /** mrho(reg) for all m registers; 0 = register never hit. */
  final case class HllState(mrho: Seq[Long])
  final case class Out(event_type: String, n_zero: Long, harm_sum: Long,
                       est_hll: Double)

  /** Map-side combine (r17 optimization round, guide §2.3 "aggregate
    * before you shuffle"): per-register MAX is associative +
    * commutative + idempotent, so each scan partition can collapse its
    * rows to ≤ types·m partials before the state shuffle — the
    * shuffle then moves O(partitions · types · m) rows instead of one
    * per input event, and [[fold]] sees the identical register maxima
    * (pinned by the combiner spec). */
  def combine(rows: Iterator[RegRow]): Iterator[RegRow] = {
    val acc = scala.collection.mutable.HashMap.empty[(String, Long), Long]
    rows.foreach { r =>
      val k = (r.event_type, r.reg)
      val cur = acc.getOrElse(k, 0L)
      if (r.rho > cur) acc(k) = r.rho
    }
    acc.iterator.map { case ((t, reg), rho) => RegRow(t, reg, rho) }
  }

  def fold(key: String, rows: Iterator[RegRow],
           state: GroupState[HllState]): Iterator[Out] = {
    val regs = state.getOption.map(_.mrho.toArray)
      .getOrElse(new Array[Long](SketchOps.HllM))
    rows.foreach { r =>
      val i = r.reg.toInt
      if (r.rho > regs(i)) regs(i) = r.rho
    }
    state.update(HllState(regs.toSeq))
    var nZero = 0L
    var sPresent = 0L
    var i = 0
    while (i < SketchOps.HllM) {
      if (regs(i) == 0L) nZero += 1
      else sPresent += 1L << (SketchOps.HllWBits + 1 - regs(i).toInt)
      i += 1
    }
    val harm = sPresent + nZero * (1L << (SketchOps.HllWBits + 1))
    Iterator.single(Out(key, nZero, harm, SketchOps.HllEstNum / harm.toDouble))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run — a write-side option would be silently
    * ignored by the source). */
  def sketchStream(s: SparkSession, srcGlob: String,
                   schema: org.apache.spark.sql.types.StructType,
                   srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .select(col("event_type"),
        graft.functions.Portable.h60(
          concat(lit("hll:"), col("user_id").cast("string"))).as("h"))
      .select(col("event_type"), (col("h") % SketchOps.HllM).as("reg"),
        expr(s"h div ${SketchOps.HllM}").as("w"))
      .withColumn("rho", expr(SketchOps.hllRhoChain(v => s"${v}L")))
      .select(col("event_type"), col("reg"), col("rho"))
      .as[RegRow]
      .mapPartitions(combine)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      sketchStream(s, s"$dir/[e]vents.parquet", schema), "stream_hll")._2
  }
}
