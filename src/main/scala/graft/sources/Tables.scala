package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet readers for the driver-provided star schema (TESTDATA.md).
  *
  * All engine inputs flow through here so every operator reads the same
  * way and Catalyst can prune columns / push filters into the scan
  * (visible as ReadSchema / PushedFilters in `.explain("formatted")`).
  * At cluster scale these would be catalog tables; the parquet-dir
  * indirection keeps the operators storage-agnostic.
  */
object Tables {
  /** Read a table, widening to the session's parallelism when the file
    * layout under-splits. Parquet splits at row-group granularity, and
    * the driver writes each table as ONE row group — so without this
    * every scan is 1 task and every map-side pipeline (scan →
    * project/explode/broadcast-join → partial agg) runs single-threaded
    * until its first exchange; the CPU-heavy signal/quality operators
    * were leaving 31 of 32 cores idle. The round-robin exchange moves
    * only the PRUNED columns (Catalyst pushes the projection below the
    * repartition into the scan) of a dimension-to-small-fact-sized
    * table — trivial next to the 3-30x map-width win. Gated on actual
    * scan partitions so a production multi-split layout (the 100 TB
    * case: thousands of splits >> cores) keeps its natural
    * partitioning and pays nothing. */
  private def rd(s: SparkSession, dir: String, name: String): DataFrame =
    tableCache.get(
      // applicationId + startTime is a STABLE unique context key —
      // identityHashCode (r17) could be reused after a stopped
      // context was GC'd, serving a DataFrame bound to a dead context
      s"${s.sparkContext.applicationId}@${s.sparkContext.startTime}|$dir/$name") {
        val df = s.read.parquet(s"$dir/$name.parquet")
        val width = s.sparkContext.defaultParallelism
        if (df.rdd.getNumPartitions < width) df.repartition(width) else df
      }

  /** Constructed-reader cache per (SparkContext, dir, table) — a
    * METADATA cache, not a data cache (r17 optimization round): every
    * `rd` call paid the parquet directory listing + footer schema read
    * (~66 ms) plus the physical planning behind the width probe's
    * `df.rdd` (~52 ms) — ~118 ms per table reference, re-paid by every
    * query construction on every run. A catalog table (which these
    * parquet dirs stand in for — see the object scaladoc) resolves
    * once per session; this map is that behavior. Nothing is
    * persisted: the cached object is an immutable logical plan, and
    * every action still scans the parquet files. Keyed by the
    * SparkContext identity so a restarted context never serves plans
    * bound to a stopped one. Cleared by
    * [[graft.operators.Caches.clearAll]]; holds no blocks to release. */
  private val tableCache = new graft.operators.Caches.PerDir[DataFrame]("Tables.table", _ => Nil)

  def region(s: SparkSession, dir: String): DataFrame     = rd(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame     = rd(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame   = rd(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame   = rd(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame       = rd(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame     = rd(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame   = rd(s, dir, "lineitem")
  def events(s: SparkSession, dir: String): DataFrame     = rd(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame  = rd(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = rd(s, dir, "embeddings")
}
