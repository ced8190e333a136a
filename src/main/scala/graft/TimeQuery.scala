package graft

/** Single-query timing harness for contention adjudication — the tool
  * behind "re-measure X on a quiet host" verdict items (r16:
  * `ccld_sample_sigma` shipped >2× with no clean window on record and
  * needed exactly this). Runs the named queries with the same session,
  * setup charging, warmup and full-materialization rule as
  * [[Bench]] (toRdd.count — a bare count() lets the optimizer prune
  * expensive SELECT-list work), prints one JSON line per query with
  * all timed runs and the median. Not part of any gate; a dev tool.
  *
  * Usage: graft.TimeQuery <sfDir> <name>[,<name>...] [runs=6]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val runs = if (args.length > 2) args(2).toInt else 6
    val spark = Sessions.local()
    def fmt(x: Double) =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))
    def time(fn: QueryFn): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    graft.operators.Caches.warmAll(spark, sfDir)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      var prev = time(fn); var cur = prev; var i = 1
      while (i < 4 && prev / math.max(cur, 1e-9) > 1.4) { prev = cur; cur = time(fn); i += 1 }
      val ts = (1 to runs).map(_ => time(fn))
      val med = ts.sorted.apply((ts.length - 1) / 2)
      println(s"""{"q":"$n","runs":[${ts.map(fmt).mkString(",")}],"median":${fmt(med)}}""")
    }
    spark.stop()
  }
}
