package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication on document ingest: the pattern a
  * continuously-fed training-data pipeline uses to drop already-seen
  * content as it arrives. `readStream` → content hash →
  * `dropDuplicates` keeps hash state across micro-batches. The output
  * is the distinct content-hash set (which document carries a given
  * hash first is arrival-order-dependent, so only the hash set is the
  * deterministic — and therefore checked — surface; a production
  * deployment bounds the state with a watermark on ingest time). */
object StreamingDedup {

  def run(s: SparkSession, dir: String): DataFrame = {
    val stream = s.readStream.schema(graft.sources.Tables.documents(s, dir).schema)
      .parquet(s"$dir/[d]ocuments.parquet")
      .select(sha2(col("text"), 256).as("chash"))
      .dropDuplicates("chash")
    MemorySinks.runAvailableNow(s, stream, "stream_dedup")._2
  }

  val oracle: String = "SELECT DISTINCT sha256(text) AS chash FROM documents"
}
