package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps

/** Streaming hot-key detector — the continuously-maintained twin of
  * [[graft.operators.EventOps.hotKeys]]: per user a MONOTONE COUNTER
  * survives across micro-batches (one long per key, bounded by key
  * cardinality like the latest-value store), each batch emitting the
  * key's refreshed running count. The seventh stateful pattern in the
  * streaming family, and the one that shows where state machines END:
  * the top-K + share selection needs CROSS-key information no per-key
  * state can see, so it runs as a bounded BATCH query over the final
  * emissions (counts only grow, so a key's final state is its max
  * emission) — per-key state for the unbounded part, post-selection
  * for the K-row part. Under `Trigger.AvailableNow` the final counts
  * are the full-corpus counts, so the batch `hot_keys` DuckDB oracle
  * checks the result verbatim; the count fold is associative, so the
  * outcome is micro-batch-split-proof (pinned by the spec's forced
  * 2-batch run). */
object StreamingHotKeys {

  final case class Ev(user_id: Long)
  final case class CountState(n: Long)
  final case class Out(user_id: Long, n: Long)

  // NOTE (r17 optimization round): a per-partition count combine was
  // tried here and REVERTED — the per-user event multiplicity is low,
  // so the small row reduction cannot pay for the extra encoder
  // round-trip a typed mapPartitions inserts (measured slower; the
  // streaming_db_upsert note has the general rule).
  def fold(key: Long, rows: Iterator[Ev],
           state: GroupState[CountState]): Iterator[Out] = {
    val n = state.getOption.map(_.n).getOrElse(0L) + rows.size
    state.update(CountState(n))
    Iterator.single(Out(key, n))
  }

  /** `srcOptions` go to the file SOURCE (e.g. maxFilesPerTrigger to
    * force a multi-batch run — a write-side option would be silently
    * ignored by the source). */
  def countStream(s: SparkSession, srcGlob: String,
                  schema: org.apache.spark.sql.types.StructType,
                  srcOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    s.readStream.schema(schema).options(srcOptions).parquet(srcGlob)
      .select(col("user_id")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
      .toDF()
  }

  /** Final counts (max emission per key — counters are monotone) →
    * the same top-K + one-row-total share arithmetic as the batch
    * operator. */
  def select(emissions: DataFrame): DataFrame = {
    val cnt = emissions.groupBy(col("user_id")).agg(max(col("n")).as("n"))
    val tot = cnt.agg(sum(col("n")).as("total"))
    cnt.orderBy(col("n").desc, col("user_id")).limit(EventOps.HotK)
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"),
        expr("(n * 1000000) div total").cast("long").as("share_ppm"))
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Tables.events(s, dir).schema
    select(MemorySinks.runAvailableNow(s,
      countStream(s, s"$dir/[e]vents.parquet", schema), "stream_hot")._2)
  }
}
