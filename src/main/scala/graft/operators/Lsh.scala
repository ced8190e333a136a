package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LSH bucket pairs, the one candidate mechanism of the near-duplicate
  * family: MinHash (`dedup_minhash`, `ngram_jaccard` and every verify
  * built on its candidates, `lsh_band_sweep`, `dedup_incremental`, the
  * streaming ingest dedup), SimHash, embedding LSH (`dedup_embedding`,
  * the kNN graph) and IVF-cell semantic dedup.
  *
  * [[bands]] explodes one row per band, [[capped]] drops the buckets
  * of more than [[MaxBucket]] rows, and [[pairs]] enumerates the sorted
  * member pairs inside each bucket. Pairs are generated inside the
  * bucket (collect the members, emit ordered pairs) rather than by a
  * bucket self-join: the upstream pipeline is evaluated once, there is
  * one shuffle, and the per-bucket work is bounded by the cap — the
  * shape web-scale dedup uses.
  */
object Lsh {

  /** Bucket-size cap. A band value shared by more rows than this is
    * boilerplate (or a degenerate embedding direction), not a near-dup
    * signal, and it is what turns LSH quadratic: the cap bounds
    * per-bucket work at any scale (the skew guard of SURVEY §5). */
  val MaxBucket = 64

  /** The bucket key of a [[bands]] row. */
  val Bucket: Seq[String] = Seq("band", "bkey")

  /** One row per band: `(keep…, band, bkey)`, band `b` keyed by `keys(b)`. */
  def bands(df: DataFrame, keep: Seq[String], keys: Seq[Column]): DataFrame =
    df.select(keep.map(col) :+ explode(array(keys.zipWithIndex.map { case (k, b) =>
        struct(lit(b).as("band"), k.as("bkey"))
      }: _*)).as("bk"): _*)
      .select(keep.map(col) :+ col("bk.band").as("band") :+ col("bk.bkey").as("bkey"): _*)

  /** `rows` without its buckets of more than [[MaxBucket]] rows. */
  def capped(rows: DataFrame): DataFrame =
    rows.withColumn("bn", count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
      .filter(col("bn") <= MaxBucket).drop("bn")

  /** `(a, b)`: every pair of `member` values with `a < b` inside one
    * `bucket` group, once per group that holds both (callers dedupe a
    * pair that shares several bands). `member` is a column: an id, or
    * a struct led by the id that carries the pair's payload. */
  def pairs(rows: DataFrame, bucket: Seq[String], member: Column): DataFrame =
    rows.groupBy(bucket.map(col): _*)
      .agg(sort_array(collect_list(member)).as("xs"))
      .select(explode(expr(
        "flatten(transform(xs, (a, i) -> transform(slice(xs, i + 2, size(xs)), b -> struct(a AS a, b AS b))))"
      )).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
}
