package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.functions.Portable

/** Streaming corpus quality filter: the continuously-fed variant of
  * `corpus_clean`'s quality stage — documents stream in, the C4-style
  * predicates (min words, max mean word length, min stopword ratio)
  * evaluate per arriving row, and only survivors flow on. Stateless
  * (pure filter — no aggregation state, no watermark needed), so the
  * streaming plan is the batch projection run per micro-batch; under
  * `AvailableNow` over the bounded test input it is deterministic and
  * the batch SQL twin checks it exactly. The near-dup stage stays
  * batch (LSH banding needs corpus-wide state — the reference shape
  * is a periodic batch dedup over the streamed-in survivor table).
  * Thresholds are [[TextOps.MinWords]] / [[TextOps.MaxMeanWord]] /
  * [[TextOps.MinStopRatio]] — one source of truth with the batch
  * operator. */
object StreamingCorpusFilter {

  def run(s: SparkSession, dir: String): DataFrame = {
    val stopArr = array(TextOps.Stopwords.map(lit): _*)
    val stream = s.readStream.schema(graft.sources.Tables.documents(s, dir).schema)
      .parquet(s"$dir/[d]ocuments.parquet")
      .withColumn("tk", Portable.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("tk")).as("n_words"),
        ((length(col("text")) - (size(col("tk")) - 1)).cast("double") /
          size(col("tk")).cast("double")).as("mean_word_len"),
        (size(filter(col("tk"), t => array_contains(stopArr, t))).cast("double") /
          size(col("tk")).cast("double")).as("stop_ratio"))
      .filter(col("n_words") >= TextOps.MinWords &&
        col("mean_word_len") <= TextOps.MaxMeanWord &&
        col("stop_ratio") >= TextOps.MinStopRatio)
    MemorySinks.runAvailableNow(s, stream, "stream_corpus_filter")._2
  }

  val oracle: String = {
    val tkSql = Portable.tokensSql("text")
    val stopListSql = TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH toks AS (SELECT doc_id, source, text, $tkSql AS tk FROM documents),
       |m AS (SELECT doc_id, source,
       |  len(tk) AS n_words,
       |  CAST(length(text) - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_word_len,
       |  CAST(len(list_filter(tk, t -> list_contains($stopListSql, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio
       |  FROM toks)
       |SELECT doc_id, source, n_words, mean_word_len, stop_ratio
       |FROM m
       |WHERE n_words >= ${TextOps.MinWords} AND mean_word_len <= ${TextOps.MaxMeanWord}e0
       |  AND stop_ratio >= ${TextOps.MinStopRatio}e0""".stripMargin
  }
}
