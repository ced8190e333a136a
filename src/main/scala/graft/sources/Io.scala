package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Generic sources/sinks beyond the driver's parquet star schema —
  * the reference pipeline ingests and publishes CSV flatfiles
  * (`nzgmdb/data_processing/merge_flatfiles.py` readers/writers), so a
  * user switching engines needs the same edges.
  *
  * Scale rules encoded here:
  *  - CSV reads take an explicit schema — `inferSchema` is a full
  *    extra pass over the data and type-drifts between runs.
  *  - Writes partition by the query key (e.g. event year) so
  *    downstream reads prune partitions, and optionally sort within
  *    partitions so parquet min/max row-group stats are selective.
  */
object Io {

  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSON-lines source with explicit schema (same rule as CSV: never
    * pay the inference pass, never let types drift). */
  def readJsonLines(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Partitioned (and optionally sorted-within-partition) parquet sink:
    * the layout that makes 100 TB outputs re-readable with partition
    * pruning + row-group skipping rather than full scans. A layout
    * `path/source=X/lang=Y/...parquet` read back with
    * `spark.read.parquet(path)` lets any predicate on the partition
    * columns skip whole directories at PLANNING time: the files are
    * never listed into the scan, visible as `PartitionFilters` in the
    * plan (row-group pushdown, by contrast, still reads footers).
    *
    * Choosing the partition columns follows two hard rules:
    * (1) partition ONLY on low-cardinality columns every consumer
    * filters on (source, language, date) — a high-cardinality key
    * creates millions of small files and kills the driver's listing;
    * (2) expect skew — a `source=common_crawl` directory will dwarf
    * `source=wikipedia`, which is fine for pruning (split planning
    * within the directory, `maxPartitionBytes`, handles it) but means
    * partition directories are NOT units of parallelism. The files are
    * plain parquet readable by any engine; the layout is the
    * interface. */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions(sortCols.map(df.col): _*)
      else df
    sorted.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }
}
