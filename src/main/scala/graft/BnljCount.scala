package graft
/** Dev scratch: warm caches, print the spec's BNLJ count per query. */
object BnljCount {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.Caches.warmAll(spark, dir)
    for (name <- SparkEntry.queries.keys.toSeq.sorted if !name.startsWith("streaming_")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      val n = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      if (n > 0) println(s"$name $n")
    }
    spark.stop()
  }
}
