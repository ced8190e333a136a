package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Publication sinks — the write side of the reference's flatfile
  * stage (`data_processing/merge_flatfiles.py:647-694`: per-component
  * ground-motion IM files plus the event / site / propagation /
  * station-magnitude tables, all CSV). Every file goes through
  * [[Io.writeCsv]]: partitioned CSV with headers, every executor
  * writing its partition (no driver funnel).
  */
object FlatfileSink {

  /** The reference's component split (`merge_flatfiles.py:615-644`):
    * one published file per component value, each DROPPING the
    * columns that are NaN-invalid for that component
    * (`columns_remove_rotd` drops CAV/AI/durations + FAS columns from
    * the rotd files at :631, `columns_remove_eas` drops PGA/pSA from
    * the eas file at :632-644). Component values are read with one
    * dimension-sized distinct (component cardinality is ~8); each
    * component then writes with its own pruned schema. Per-component
    * scans mirror the reference; when all components share a schema,
    * `df.write.partitionBy(componentCol)` does it in ONE pass — the
    * per-component column drop is exactly what rules that out.
    * Returns component → output path. */
  def splitByComponent(df: DataFrame, componentCol: String,
                       dropCols: Map[String, Seq[String]],
                       outDir: String): Map[String, String] = {
    val raw = df.select(componentCol).distinct().collect().map(_.get(0))
    // a NULL component has no file to land in — fail with a clear
    // message instead of an opaque NullPointerException mid-write
    require(!raw.contains(null),
      s"splitByComponent: NULL values in component column '$componentCol'")
    val comps = raw.map(_.toString).sorted
    comps.map { c =>
      val sub = df.filter(col(componentCol) === c)
        .drop(dropCols.getOrElse(c, Nil): _*)
      val path = s"$outDir/${c}_flat"
      Io.writeCsv(sub, path)
      c -> path
    }.toMap
  }
}
