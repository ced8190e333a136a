package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.operators.{AnnOps, Caches}

/** The dev tool: one main, four modes, all measured through [[Probe]].
  *
  *   graft.Dev time     <sfDir> <name>[,<name>...] [runs=6]
  *   graft.Dev stages   <sfDir> <name>[,<name>...]
  *   graft.Dev explain  <sfDir> [<name>[,<name>...]|all]
  *   graft.Dev ann-grid <sfDir>
  *
  *  - `time` warms the per-dir caches and then each query
  *    ([[Probe.warm]]), and prints one JSON line per query: every timed
  *    run, the lower-middle median, each run's stage totals and, for a
  *    streaming query, each run's summed progress phase durations. It
  *    re-measures a query on a quiet host with Bench's setup charging,
  *    warm-up and materialization, and tells a CPU-bound outlier from
  *    GC, spill or wall-wait.
  *  - `stages` prints one JSON line per completed stage of each query's
  *    second run, slowest first, to pin a hot query's cost on a stage.
  *  - `explain` prints the formatted physical plans after warming the
  *    caches, so plan text is deterministic: a cold cache's first
  *    consumer would print the cache's build inside its own plan.
  *  - `ann-grid` prints the exact-top-k recall of each LSH/IVF
  *    configuration against the brute-force cosine baseline (the
  *    SURVEY §5 recall/cost table): |approx ∩ exact| / |exact| over all
  *    queries' top-10. */
object Dev {

  private val Usage =
    "usage: graft.Dev time|stages|explain|ann-grid <sfDir> [name[,name...]|all] [runs]"

  /** The output lines of one invocation; the session stays open. */
  def run(spark: SparkSession, args: Seq[String]): Seq[String] = {
    require(args.length >= 2, Usage)
    val (mode, dir) = (args(0), args(1))
    def names = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(throw new IllegalArgumentException(Usage))
    val metrics = new Probe.Metrics(spark)
    try mode match {
      case "time" => time(spark, metrics, dir, names, args.lift(3).fold(6)(_.toInt))
      case "stages" => stages(spark, metrics, dir, names)
      case "explain" => explain(spark, dir,
        if (args.lift(2).forall(_ == "all")) SparkEntry.queries.keys.toSeq.sorted else names)
      case "ann-grid" => annGrid(spark, dir)
      case _ => throw new IllegalArgumentException(Usage)
    } finally metrics.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq).foreach(println) finally spark.stop()
  }

  private def num(x: Double): JValue = JDouble(math.round(x * 1000) / 1000.0)

  private def line(fields: Seq[(String, JValue)]): String = compact(render(JObject(fields: _*)))

  private def stageFields(s: Probe.Stage): Seq[(String, JValue)] = Seq(
    "tasks" -> JInt(s.tasks), "run_ms" -> JInt(s.runMs), "gc_ms" -> JInt(s.gcMs),
    "spill_disk_mb" -> num(s.spillDiskBytes / 1048576.0),
    "spill_mem_mb" -> num(s.spillMemBytes / 1048576.0),
    "shuffle_mb" -> num(s.shuffleBytes / 1048576.0), "input_rows" -> JInt(s.inputRecords))

  private def time(spark: SparkSession, metrics: Probe.Metrics, dir: String,
                   names: Seq[String], runs: Int): Seq[String] = {
    Caches.warmAll(spark, dir)
    names.map { n =>
      val fn = SparkEntry.queries(n)
      Probe.warm(() => Probe.run(spark, fn, dir))
      val (ts, windows) = (1 to runs).map { _ =>
        val m = metrics.mark()
        val t = Probe.run(spark, fn, dir)
        (t, metrics.since(m))
      }.unzip
      val phases =
        if (windows.forall(_.progress.isEmpty)) Nil
        else Seq("phases" -> JArray(windows.map { w =>
          JObject(w.progress.flatten.groupMapReduce(_._1)(_._2)(_ + _)
            .toSeq.sorted.map { case (k, v) => k -> JInt(v) }: _*)
        }.toList))
      line(Seq("q" -> JString(n), "runs" -> JArray(ts.map(num).toList),
        "median" -> num(ts.sorted.apply((ts.length - 1) / 2)),
        "stages" -> JArray(windows.map { w =>
          JObject(("n" -> JInt(w.stages.size)) +: stageFields(Probe.Stage.total(w.stages)): _*)
        }.toList)) ++ phases)
    }
  }

  private def stages(spark: SparkSession, metrics: Probe.Metrics, dir: String,
                     names: Seq[String]): Seq[String] =
    names.flatMap { n =>
      val fn = SparkEntry.queries(n)
      Probe.run(spark, fn, dir) // fills the caches the query reads
      val m = metrics.mark()
      Probe.run(spark, fn, dir)
      metrics.since(m).stages.sortBy(-_.runMs).map { s =>
        line(Seq("q" -> JString(n), "stage" -> JInt(s.id)) ++ stageFields(s) :+
          ("name" -> JString(s.name)))
      }
    }

  private def explain(spark: SparkSession, dir: String, names: Seq[String]): Seq[String] = {
    Caches.warmAll(spark, dir)
    names.map { n =>
      val plan =
        try SparkEntry.queries(n)(spark, dir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"  error: ${e.getMessage}" }
      s"==== $n ====\n$plan"
    }
  }

  private def annGrid(spark: SparkSession, dir: String): Seq[String] = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(AnnOps.annCosineTopk(spark, dir))
    val grid: Seq[(String, () => DataFrame)] =
      Seq(6, 8, 10).flatMap { k =>
        Seq(s"lsh k=$k" -> (() => AnnOps.annLshTopkWith(spark, dir, k)),
          s"lsh k=$k multiprobe r=1" -> (() => AnnOps.annLshMultiprobeWith(spark, dir, k)),
          s"lsh k=$k multiprobe r=2" -> (() => AnnOps.annLshMultiprobeWith(spark, dir, k, radius = 2)))
      } ++
      Seq("lsh k=8 multiprobe r=3" -> (() => AnnOps.annLshMultiprobeWith(spark, dir, 8, radius = 3))) ++
      Seq((8, 1), (8, 2), (16, 4), (64, 8), (64, 16), (256, 32)).map { case (cells, probe) =>
        s"ivf cells=$cells probe=$probe" -> (() => AnnOps.annIvfTopkWith(spark, dir, cells, probe))
      }
    grid.map { case (config, df) =>
      val t0 = System.nanoTime()
      val got = pairs(df())
      val secs = (System.nanoTime() - t0) / 1e9
      line(Seq("config" -> JString(config),
        "recall" -> num(got.intersect(exact).size.toDouble / exact.size),
        "kept" -> JInt(got.size), "sec" -> num(secs)))
    }
  }
}
