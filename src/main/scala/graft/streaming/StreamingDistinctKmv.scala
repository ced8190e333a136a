package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.SketchOps

/** Streaming distinct-count sketch — the continuously-maintained twin
  * of [[graft.operators.SketchOps.distinctKmv]]: per event_type the K
  * smallest distinct `h60` hashes survive across micro-batches, and
  * each batch emits the group's refreshed estimate. The sixth stateful
  * pattern in the streaming family: a BOUNDED MERGEABLE SKETCH —
  * state is ≤ K longs per key regardless of stream length, and the
  * fold (merge, dedup, keep K smallest) is associative and
  * commutative, which is exactly why the result is deterministic under
  * ANY micro-batch split of the input (the batch-equivalence spec pins
  * this on a forced multi-batch run). Under `Trigger.AvailableNow` on
  * the bounded input each key's final emission is the full-corpus
  * sketch, so the batch `distinct_kmv` DuckDB oracle checks it
  * verbatim. */
object StreamingDistinctKmv {

  final case class Hashed(event_type: String, h: Long)
  final case class KmvState(hashes: Seq[Long]) // ascending, distinct, ≤ K
  final case class Out(event_type: String, n_kept: Long, kth_min: Long,
                       est_distinct: Double)

  /** Map-side combine (r17 optimization round, guide §2.3): the KMV
    * merge (distinct ∪ sort ∪ take K) is associative + commutative +
    * idempotent, so each scan partition collapses its hash rows to its
    * own ≤ types·K smallest distinct hashes before the state shuffle —
    * the fold's merge over the partials yields the identical sketch. */
  def combine(rows: Iterator[Hashed]): Iterator[Hashed] = {
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.TreeSet[Long]]
    rows.foreach { r =>
      val set = acc.getOrElseUpdate(r.event_type,
        scala.collection.mutable.TreeSet.empty[Long])
      set += r.h
      if (set.size > SketchOps.KmvK) set -= set.last
    }
    acc.iterator.flatMap { case (t, set) => set.iterator.map(Hashed(t, _)) }
  }

  def fold(key: String, rows: Iterator[Hashed],
           state: GroupState[KmvState]): Iterator[Out] = {
    val prev = state.getOption.map(_.hashes).getOrElse(Seq.empty)
    val merged = (prev.iterator ++ rows.map(_.h)).toSeq
      .distinct.sorted.take(SketchOps.KmvK)
    state.update(KmvState(merged))
    val n = merged.length
    val est =
      if (n < SketchOps.KmvK) n.toDouble
      else ((SketchOps.KmvK - 1).toDouble * SketchOps.KmvDomain) / merged.last.toDouble
    Iterator.single(Out(key, n.toLong, merged.last, est))
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
          concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
      .as[Hashed]
      .mapPartitions(combine)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
      .toDF()
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    MemorySinks.runAvailableNow(s,
      sketchStream(s, s"$dir/[e]vents.parquet", schema), "stream_kmv")._2
  }
}
