package graft
/** Plan-audit tool: prints the formatted physical plan for one query
  * (or all) so broadcast/pushdown/codegen posture can be inspected and
  * committed as artifacts: `graft.Explain [queryName] [sfDir]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("all")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    // pin the per-dir session caches to their steady (built) state so
    // plan text is deterministic (the plan-audit/spec convention): a
    // cold cache's first consumer prints the cache's BUILD inside its
    // own plan
    graft.operators.Caches.warmAll(spark, dir)
    val sel = if (name == "all") SparkEntry.queries else SparkEntry.queries.filter(_._1 == name)
    sel.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      println(s"==== $k ====")
      try fn(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"  error: ${e.getMessage}") }
    }
    spark.stop()
  }
}
