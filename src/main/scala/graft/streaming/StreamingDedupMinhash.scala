package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.TextOps

/** Streaming INGEST-TIME near-dup detection — the MinHash-LSH dedup
  * run as documents arrive (the shape a production corpus pipeline
  * actually deploys: new crawl shards are checked against the already
  * ingested index, not re-paired corpus-wide). The stream computes
  * each document's shingle set + minhash signature statelessly
  * ([[graft.operators.TextOps.bandedSignatures]] — the same column
  * expressions the batch family uses), then keys by LSH band bucket
  * and keeps the bucket's members as state: an arriving document
  * verifies exact n-gram Jaccard against the members already in its
  * buckets and emits a (doc_id, earlier dup) pair on a hit.
  *
  * Bucket-cap semantics are the streaming-native ARRIVAL-ORDER rule:
  * a bucket accepts its first [[TextOps.MaxBucket]] members (each
  * pairing against those before it) and then goes dead — later
  * arrivals in a hot (boilerplate) bucket are skipped. This is the
  * same skew guard as the batch `MaxBucket` cap but causal: a stream
  * cannot retroactively drop a bucket that later turns out hot, so
  * the cap binds at ingest. The oracle encodes exactly this rule
  * (rank members per bucket by arrival, pair within the first cap).
  *
  * State per bucket is bounded by construction: ≤ MaxBucket
  * (doc_id, shingle set) members, then a tombstone — no state ever
  * scales with the stream. Verification is exact |A∩B|/|A∪B| over
  * distinct shingle strings (int/int → IEEE double, bit-portable).
  * Two EMPTY shingle sets (NULL or sub-ShingleN docs meeting in the
  * all-P buckets) produce 0/0 = NaN, which Scala's `>= T` rejects —
  * matching the oracle's NULL semantics and the batch kernel's
  * explicit empty-union guard: no-content docs never verify as
  * near-dups anywhere. Run with
  * `Trigger.AvailableNow` into a memory pair log; the returned frame
  * is the per-doc verdict (earliest verified canonical), the
  * aggregation a downstream consumer runs over the published log.
  *
  * SINGLE-BATCH PRECONDITION: the rank-based batch oracle equates
  * arrival order with doc_id order, which [[fold]] guarantees only
  * WITHIN a micro-batch (it sorts each batch's rows by doc_id; across
  * batches, arrival order is file-listing order). `AvailableNow` over
  * one parquet path stays under the file source's per-trigger file
  * cap here, so the whole input lands in one batch — and [[run]]
  * ASSERTS that from the query progress rather than assuming it
  * (the same posture as the spec's bucket-overflow precondition). A
  * deployment sharding input across triggers keeps the bounded-state
  * and causal-cap semantics but must compare against an
  * arrival-order oracle, not this doc_id-rank one. */
object StreamingDedupMinhash {

  final case class Doc(doc_id: Long, shset: Seq[String], band: Int, bkey: Long)
  final case class Member(id: Long, sh: Seq[String])
  final case class BState(members: List[Member])
  final case class Pair(doc_id: Long, ida: Long)

  def fold(key: (Int, Long), rows: Iterator[Doc],
           state: GroupState[BState]): Iterator[Pair] = {
    val arr = rows.toArray.sortBy(_.doc_id) // arrival order = id order in-batch
    var members = state.getOption.map(_.members).getOrElse(List.empty[Member])
    val out = Seq.newBuilder[Pair]
    for (d <- arr) {
      if (members.size < TextOps.MaxBucket) {
        val ds = Option(d.shset).getOrElse(Seq.empty).toSet
        for (m <- members) {
          val ms = Option(m.sh).getOrElse(Seq.empty).toSet
          val jacc = ds.intersect(ms).size.toDouble / ds.union(ms).size.toDouble
          if (jacc >= TextOps.JaccT) // NaN (two empty sets) compares false
            out += Pair(math.max(d.doc_id, m.id), math.min(d.doc_id, m.id))
        }
        members = members :+ Member(d.doc_id, Option(d.shset).getOrElse(Seq.empty))
      }
    }
    state.update(BState(members))
    out.result().iterator
  }

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = graft.sources.Tables.documents(s, dir).schema
    val stream = TextOps.bandedSignatures(
        s.readStream.schema(schema).parquet(s"$dir/[d]ocuments.parquet"))
      .as[Doc]
      .groupByKey(d => (d.band, d.bkey))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold)
    val (q, out) = MemorySinks.runAvailableNow(s, stream.toDF(), "stream_dedup_minhash")
    // single-batch precondition (see scaladoc): the doc_id-rank oracle
    // is only valid when all input rows arrived in ONE micro-batch.
    // Asserted from lastProgress.batchId, NOT by counting
    // recentProgress entries — that is a ring buffer capped by
    // spark.sql.streaming.numRecentProgressUpdates (default 100), so a
    // deployment that split input across more batches than the buffer
    // holds would drop the early entries and undercount. Under
    // AvailableNow with a single data batch the final progress is
    // batch 0 (or an empty trailing batch 1); anything later means
    // the input was split.
    val lp = q.lastProgress
    require(lp != null &&
        (lp.batchId == 0L || (lp.batchId == 1L && lp.numInputRows == 0L)),
      s"streaming_dedup_minhash: last micro-batch was ${if (lp == null) "absent"
        else s"batch ${lp.batchId} with ${lp.numInputRows} input rows"} — input " +
        "arrived in more than one data batch, so arrival order is no longer " +
        "doc_id order and the rank-based oracle does not apply")
    // the published pair log → per-doc verdict (the consumer-side agg)
    out.groupBy(col("doc_id"))
      .agg(min(col("ida")).as("canonical_id"))
  }

  /** Batch SQL twin: the arrival-order bucket cap as a rank rule
    * (members ranked by doc_id per bucket, pairs within the first
    * MaxBucket), then the exact-Jaccard verify and the per-doc
    * earliest-canonical rollup. */
  val oracle: String = {
    val nBands = TextOps.MinhashK / TextOps.MinhashR
    val bandSelects = (0 until nBands).map { b =>
      s"SELECT doc_id, shset, $b AS band, " +
        s"sig[${TextOps.MinhashR * b + 1}] * ${TextOps.P} + sig[${TextOps.MinhashR * b + 2}] AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ${TextOps.sigCtesSql},
       |b0 AS (
       |  $bandSelects),
       |bm AS (
       |  SELECT doc_id, shset, band, bkey,
       |         row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
       |  FROM b0),
       |bc AS (SELECT * FROM bm WHERE rn <= ${TextOps.MaxBucket}),
       |vf AS (
       |  SELECT DISTINCT b.doc_id, a.doc_id AS ida
       |  FROM bc a JOIN bc b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.shset, b.shset))) AS DOUBLE)
       |          >= ${TextOps.JaccT}e0)
       |SELECT doc_id, CAST(min(ida) AS BIGINT) AS canonical_id
       |FROM vf GROUP BY doc_id""".stripMargin
  }
}
