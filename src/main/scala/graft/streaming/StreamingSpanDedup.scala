package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

import graft.operators.TextOps
import graft.functions.Portable

/** STREAMING ingest-time ExactSubstr span probe — the continuously-fed
  * variant of `span_dedup_incremental` (the crawl-batch arrives as a
  * STREAM instead of a batch slice): each arriving document's shingle
  * hashes probe the persisted index (the static side — everything
  * outside the incoming slice, exactly the store a production pipeline
  * maintains between ingests), and runs of ≥ SpanMinRun consecutive
  * already-indexed shingles are emitted as located token spans. Same
  * output schema and values as the batch operator, so the batch SQL
  * twin checks it exactly under AvailableNow.
  *
  * Shape: positions explode per arriving doc → ONE stream-static LEFT
  * SEMI equi-join into the distinct-hash index (stateless — the static
  * side never grows per batch) → per-doc gaps-and-islands merge inside
  * `flatMapGroupsWithState` (window functions are not available on
  * streams; the merge is per-document local work over ≤ doc-length
  * positions, the `streaming_dedup_minhash` in-group pattern). Like
  * that operator, correctness of the in-group merge needs every
  * position of a document in ONE micro-batch — asserted from
  * `lastProgress.batchId` (ring-buffer-proof), not assumed. */
object StreamingSpanDedup {

  final case class PosRow(doc_id: Long, pos: Long)
  final case class SpanRow(
      doc_id: Long, start_tok: Long, end_tok: Long, n_shingles: Long, n_tokens: Long)

  /** Per-doc islands merge: sorted duplicated-shingle positions →
    * maximal consecutive runs of ≥ [[TextOps.SpanMinRun]], each
    * extended by the n−1 trailing tokens of its last shingle. */
  private def merge(docId: Long, positions: Array[Long]): Iterator[SpanRow] = {
    java.util.Arrays.sort(positions)
    val out = Seq.newBuilder[SpanRow]
    var i = 0
    while (i < positions.length) {
      var j = i
      while (j + 1 < positions.length && positions(j + 1) == positions(j) + 1) j += 1
      val n = j - i + 1
      if (n >= TextOps.SpanMinRun) {
        val sp = positions(i); val ep = positions(j)
        out += SpanRow(docId, sp, ep + (TextOps.ShingleN - 1), n.toLong,
          ep - sp + TextOps.ShingleN)
      }
      i = j + 1
    }
    out.result().iterator
  }

  private val runSeq = new AtomicInteger(0)

  /** The persisted shingle-hash store per data dir (r17 optimization
    * round): the distinct-hash index of everything outside the
    * incoming slice IS the store a production pipeline maintains
    * between ingests — through r16 each run() re-ran the distinct over
    * the positioned table. Released by
    * [[graft.operators.Caches.clearAll]]. */
  private val indexCache =
    new graft.operators.Caches.PerDir[DataFrame]("StreamingSpanDedup.index", Seq(_))

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val posOf = (df: DataFrame) => df
      .withColumn("tk", Portable.tokens(col("text")))
      .select(col("doc_id"),
        posexplode(Portable.shingles(col("tk"), TextOps.ShingleN)).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        Portable.h60(col("sh")).as("h"))
    // the persisted shingle store: the static side, built from
    // everything OUTSIDE the incoming slice (the batch operator's
    // index convention) — derived from the span family's per-dir
    // cached positioned table and ITSELF persisted per dir (the
    // distinct is the store's build, paid once per corpus version)
    val idx = indexCache.get(dir)(
      TextOps.positioned(s, dir)
        .filter(col("doc_id") % TextOps.IncMod =!= 0)
        .select(col("h")).distinct()
        .localCheckpoint(true))
    val stream = posOf(s.readStream.schema(StreamingDedup.docsSchema)
        .parquet(s"$dir/[d]ocuments.parquet")
        .filter(col("doc_id") % TextOps.IncMod === 0))
      .join(idx, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos")).as[PosRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId: Long, rows: Iterator[PosRow],
         _: org.apache.spark.sql.streaming.GroupState[Long]) =>
          merge(docId, rows.map(_.pos).toArray)
      }
    val (q, out) =
      MemorySinks.runAvailableNow(s, stream.toDF(), "stream_span_dedup", runSeq)
    // single-batch precondition (the streaming_dedup_minhash rule):
    // the in-group islands merge sees one document's positions only if
    // they all arrived in ONE micro-batch; asserted from
    // lastProgress.batchId, which no ring-buffer cap can hide
    val lp = q.lastProgress
    require(lp != null &&
        (lp.batchId == 0L || (lp.batchId == 1L && lp.numInputRows == 0L)),
      s"streaming_span_dedup: last micro-batch was ${if (lp == null) "absent"
        else s"batch ${lp.batchId} with ${lp.numInputRows} input rows"} — input " +
        "split across data batches; the per-group islands merge does not apply")
    out
  }

  /** Batch twin: identical to `span_dedup_incremental`'s oracle. */
  val oracle: String = TextOps.oracles("span_dedup_incremental")
}
