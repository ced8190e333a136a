package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Sessions, SparkEntry}
import graft.operators._
import graft.sources.Tables

/** The JVM side of the benchmark. It drives graft only through its
  * public calls (`Sessions.local`, `Tables.*`, the families'
  * `warmCaches`, `SparkEntry.queries(name)(spark, dir)` followed by
  * `queryExecution.toRdd.count()`, and `Caches.clearAll`), records raw
  * timings, counters and output fingerprints, and writes them as one
  * JSON document. Metrics are computed from that document by
  * `perfbench/bench/metrics.py`.
  *
  * One client thread runs the workload's queries back to back (a
  * closed loop). Run order:
  *   1. setup: session start plus the workload's `warmCaches` calls;
  *   2. the cold pass, the first pass in this JVM;
  *   3. the check pass (untimed): every query's output fingerprint.
  *      It runs before the window so that it also serves as warm-up;
  *   4. warm passes back to back until `--seconds` have elapsed and
  *      at least `--min-passes` have run, each in its own seeded
  *      order, with a full GC after each pass to read the live
  *      old-generation heap;
  *   5. teardown: persisted RDDs and storage, then `Caches.clearAll`;
  *   6. further setups on a restarted session, so set-up time is a
  *      median of several.
  * With `--trace 1`, warm passes mix untraced and traced ones. A
  * traced pass records spans around every call into graft and
  * listener counters; an untraced pass records neither, so their
  * difference is the tracing overhead.
  *
  * Usage:
  *   Harness run --data <dir> --queries a,b --warm GeoOps,TextOps
  *     --seed <n> --seconds <s> --trace <0|1> --setups <k>
  *     --min-passes <k> --out <file>
  *   Harness reference --dump <verify-out-dir> --queries a,b --out <file>
  */
object Harness {

  // ---------------------------------------------------------------- spans

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  /** In-memory span recorder for the single client thread. Spans are
    * written out only when the run ends. */
  final class Tracer {
    val spans = ArrayBuffer[Span]()
    var enabled = false
    private var stack = List(0)
    private var nextId = 1
    def span[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = nextId; nextId += 1
        val parent = stack.head
        stack = id :: stack
        val t0 = System.nanoTime()
        try body
        finally {
          spans += Span(id, parent, name, t0, System.nanoTime())
          stack = stack.tail
        }
      }
  }

  // ------------------------------------------------------------ listeners

  /** Task, stage and job counters summed from listener events. */
  final class Counters extends SparkListener {
    val jobs, stages, tasks, failedTasks, runMs, cpuNs, gcMs = new AtomicLong
    val shuffleRead, shuffleWrite, spill, result, inBytes, inRows = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
        result.addAndGet(m.resultSize)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        inRows.addAndGet(m.inputMetrics.recordsRead)
      }
      ()
    }
    def snapshot: Map[String, Double] = Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.failed_tasks" -> failedTasks.get.toDouble,
      "spark.task_run_s" -> runMs.get / 1e3,
      "spark.task_cpu_s" -> cpuNs.get / 1e9,
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "spark.shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "spark.spill_mb" -> spill.get / 1048576.0,
      "spark.result_mb" -> result.get / 1048576.0,
      "sources.scan_mb" -> inBytes.get / 1048576.0,
      "sources.scan_rows" -> inRows.get.toDouble)
  }

  /** Micro-batch progress summed per streaming run. State size is the
    * last reported size of each run, summed over runs. */
  final class StreamCounters extends StreamingQueryListener {
    private val batches, triggerMs, addBatchMs, walMs = new AtomicLong
    private val lastState =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, (Long, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.incrementAndGet()
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      triggerMs.addAndGet(ms("triggerExecution"))
      addBatchMs.addAndGet(ms("addBatch"))
      walMs.addAndGet(ms("walCommit"))
      val ops = p.stateOperators
      lastState.put(p.runId,
        (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      ()
    }
    def snapshot: Map[String, Double] = {
      val st = lastState.values.asScala
      Map(
        "streaming.batches" -> batches.get.toDouble,
        "streaming.trigger_s" -> triggerMs.get / 1e3,
        "streaming.add_batch_s" -> addBatchMs.get / 1e3,
        "streaming.wal_commit_s" -> walMs.get / 1e3,
        "streaming.state_rows" -> st.map(_._1).sum.toDouble,
        "streaming.state_mb" -> st.map(_._2).sum / 1048576.0)
    }
  }

  /** Collection time of every collector in this JVM. In local mode the
    * executors share the driver's JVM, and a task's own GC time
    * (`spark.gc_s`) misses collections that fall between tasks. */
  private def jvmGc(): Map[String, Double] = Map("jvm.gc_s" ->
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)

  private def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  // ---------------------------------------------------------- fingerprint

  /** Row count and an order-independent hash of a query's output: the
    * wrapping sum of one xxhash64 per row, chained over the row's
    * columns. The same function serves live outputs and the verified
    * parquet dumps the reference is recorded from. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val types = df.schema.fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var sum = 0L
      it.foreach { row =>
        var h = 42L
        var i = 0
        while (i < types.length) {
          h = XxHash64Function.hash(row.get(i, types(i)), types(i), h); i += 1
        }
        sum += h; n += 1
      }
      Iterator((n, sum))
    }.collect().foldLeft((0L, 0L)) { case ((n, s), (m, t)) => (n + m, s + t) }
  }

  // ----------------------------------------------------------------- json

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  private def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })

  // ----------------------------------------------------------------- args

  private def parse(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("run") => run(parse(argv.toSeq.tail))
    case Some("reference") => reference(parse(argv.toSeq.tail))
    case _ =>
      System.err.println("usage: Harness run|reference --key value ...")
      sys.exit(2)
  }

  /** Family of each registry key, named after its operator module. */
  def familyOf: Map[String, String] = {
    val fams = Seq(
      "Quality" -> Quality.queries, "MergeOps" -> MergeOps.queries,
      "GeoOps" -> GeoOps.queries, "SignalOps" -> SignalOps.queries,
      "CcldOps" -> CcldOps.queries, "TextOps" -> TextOps.queries,
      "AnnOps" -> AnnOps.queries, "MixOps" -> MixOps.queries,
      "SketchOps" -> SketchOps.queries, "GraphOps" -> GraphOps.queries,
      "MultiModalOps" -> MultiModalOps.queries, "EventOps" -> EventOps.queries)
    val m = fams.flatMap { case (f, q) => q.keys.map(_ -> f) }.toMap
    SparkEntry.queries.keys.map(k => k -> m.getOrElse(k, "streaming")).toMap
  }

  private val warmers: Map[String, (SparkSession, String) => Unit] = Map(
    "TextOps" -> TextOps.warmCaches, "AnnOps" -> AnnOps.warmCaches,
    "GeoOps" -> GeoOps.warmCaches, "MixOps" -> MixOps.warmCaches)

  private val tables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Old-generation pool usage right after a full collection, in MB.
    * A collection only queues the weak references through which
    * Spark's ContextCleaner frees broadcasts and shuffle blocks; the
    * blocks go once its thread has run. So collect again until the
    * reading stops falling. */
  private def liveHeapMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def collect(): Double = {
      System.gc()
      pools.map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed).sum / 1048576.0
    }
    var prev = Double.MaxValue
    var cur = collect()
    var rounds = 1
    while (prev - cur > 1.0 && rounds < 5) {
      Thread.sleep(100)
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  /** Persisted RDD count once the ContextCleaner has released every
    * RDD whose last reference is gone: a full GC, then polls until the
    * count holds still, so the count repeats from run to run. */
  private def settledPersistedCount(sc: org.apache.spark.SparkContext): Int = {
    System.gc()
    var last = -1; var same = 0; var polls = 0
    while (same < 5 && polls < 100) {
      Thread.sleep(100)
      val n = sc.getPersistentRDDs.size
      if (n == last) same += 1 else { same = 0; last = n }
      polls += 1
    }
    last
  }

  final case class Exec(name: String, buildS: Double, execS: Double, error: Option[String])

  private def run(o: Map[String, String]): Unit = {
    val dir = o("data")
    val names = o("queries").split(',').toSeq.filter(_.nonEmpty)
    val warm = o("warm").split(',').toSeq.filter(_.nonEmpty)
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val setups = o("setups").toInt
    val minPasses = o("min-passes").toInt
    val unknown = (names.filterNot(SparkEntry.queries.contains) ++
      warm.filterNot(warmers.contains))
    require(unknown.isEmpty, s"unknown queries or families: ${unknown.mkString(",")}")
    val fam = familyOf
    val tracer = new Tracer
    tracer.enabled = traced
    // java.util.Random's first draws are alike for nearby seeds; mix
    // the seed first so that seeds 1, 2, 3 give unrelated orders
    val rng = new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())

    def setup(first: Boolean): (SparkSession, Double) = {
      val t0 = System.nanoTime()
      val s = tracer.span("Sessions.local")(Sessions.local())
      if (first && traced) tables.foreach { case (t, f) =>
        tracer.span(s"sources.open.$t")(f(s, dir)) }
      warm.foreach(f => tracer.span(s"Caches.warm.$f")(warmers(f)(s, dir)))
      (s, (System.nanoTime() - t0) / 1e9)
    }

    // ---- 1. setup (no RDD is persisted before the first session)
    val (spark, setup1) = setup(first = true)
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val setupTimes = ArrayBuffer(setup1)
    val spansOfSetup = tracer.spans.size

    def execOne(n: String): Exec = tracer.span(s"query.$n") {
      val t0 = System.nanoTime()
      try {
        val df = tracer.span(s"operators.${fam(n)}.build")(SparkEntry.queries(n)(spark, dir))
        val t1 = System.nanoTime()
        tracer.span(s"operators.${fam(n)}.exec")(df.queryExecution.toRdd.count())
        Exec(n, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, None)
      } catch {
        case e: Throwable =>
          Exec(n, 0, (System.nanoTime() - t0) / 1e9,
            Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    }
    final case class Pass(wallS: Double, execs: Seq[Exec], traced: Boolean,
                          layers: Map[String, Double])
    val counters = new Counters
    val streams = new StreamCounters
    def drain(): Unit = org.apache.spark.graftbenchaccess.Bus.drain(sc)
    def pass(withTrace: Boolean): Pass = {
      val order = rng.shuffle(names)
      tracer.enabled = withTrace
      if (withTrace) { sc.addSparkListener(counters); spark.streams.addListener(streams) }
      val before = counters.snapshot ++ streams.snapshot ++ jvmGc()
      val firstSpan = tracer.spans.size
      val t0 = System.nanoTime()
      val execs = tracer.span("pass")(order.map(execOne))
      val wall = (System.nanoTime() - t0) / 1e9
      val layers = if (!withTrace) Map.empty[String, Double] else {
        drain()
        sc.removeSparkListener(counters); spark.streams.removeListener(streams)
        val spanTotals = tracer.spans.drop(firstSpan).groupBy(_.name)
          .collect { case (k, ss) if k.startsWith("operators.") =>
            s"${k}_s" -> ss.map(s => (s.end - s.start) / 1e9).sum }
        delta(before, counters.snapshot ++ streams.snapshot ++ jvmGc()) ++ spanTotals
      }
      tracer.enabled = traced
      Pass(wall, execs, withTrace, layers)
    }

    // ---- 2. cold pass, untraced in every run
    val cold = pass(withTrace = false)
    val heap = ArrayBuffer(liveHeapMb())

    // ---- 3. check pass, untimed; it also warms the JVM for the window
    val fps = names.sorted.map { n =>
      n -> (try {
        val (rows, h) = fingerprint(SparkEntry.queries(n)(spark, dir))
        obj(Seq("rows" -> rows.toString, "hash" -> str(java.lang.Long.toHexString(h))))
      } catch {
        case e: Throwable => obj(Seq("error" -> str(s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))))
      })
    }

    // ---- 4. warm passes for the measured window
    val warmPasses = ArrayBuffer[Pass]()
    val w0 = System.nanoTime()
    while (warmPasses.size < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      // every other pass traced, from the second: pass times still fall
      // as the JVM warms, and the median untraced pass (the third of
      // five) sits between the traced second and fourth
      warmPasses += pass(withTrace = traced && warmPasses.size % 2 == 1)
      heap += liveHeapMb()
    }
    val windowS = (System.nanoTime() - w0) / 1e9

    // ---- 5. teardown
    tracer.enabled = traced
    val persisted = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val c0 = System.nanoTime()
    tracer.span("Caches.clearAll")(Caches.clearAll())
    val clearS = (System.nanoTime() - c0) / 1e9
    val leaked = settledPersistedCount(sc)
    tracer.enabled = false

    // ---- 6. further setups
    spark.stop()
    (2 to setups).foreach { _ =>
      val (s, t) = setup(first = false)
      setupTimes += t
      Caches.clearAll()
      s.stop()
    }

    def execJson(e: Exec): String = obj(Seq(
      "name" -> str(e.name), "build_s" -> num(e.buildS), "exec_s" -> num(e.execS)) ++
      e.error.map(m => "error" -> str(m)))
    def passJson(p: Pass): String = obj(Seq(
      "wall_s" -> num(p.wallS), "traced" -> p.traced.toString,
      "execs" -> arr(p.execs.map(execJson)), "layers" -> nums(p.layers)))
    val spanJson = arr(tracer.spans.map(s => obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))))
    val setupSpans = tracer.spans.take(spansOfSetup)
      .groupBy(_.name).map { case (k, ss) => k -> ss.map(s => (s.end - s.start) / 1e9).sum }
    val out = obj(Seq(
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "setup_s" -> arr(setupTimes.map(num)),
      "cold" -> passJson(cold),
      "warm" -> arr(warmPasses.map(passJson)),
      "window_s" -> num(windowS),
      "live_heap_mb" -> arr(heap.map(num)),
      "fingerprints" -> obj(fps),
      "setup_spans" -> nums(setupSpans),
      "caches" -> nums(Map(
        "Caches.persisted_rdds" -> persisted.toDouble,
        "Caches.storage_mb" -> storageMb,
        "Caches.clear_s" -> clearS,
        "Caches.leaked_rdds" -> leaked.toDouble)),
      "spans" -> spanJson))
    Files.writeString(Paths.get(o("out")), out)
  }

  /** Fingerprints of a verified correctness dump (one parquet
    * directory per query, as `graft.Verify` writes them). */
  private def reference(o: Map[String, String]): Unit = {
    val dump = o("dump")
    val names = o("queries").split(',').toSeq.filter(_.nonEmpty).sorted
    val spark = Sessions.local()
    val fps = names.map { n =>
      val (rows, h) = fingerprint(spark.read.parquet(s"$dump/$n"))
      n -> obj(Seq("rows" -> rows.toString, "hash" -> str(java.lang.Long.toHexString(h))))
    }
    Files.writeString(Paths.get(o("out")), obj(fps))
    spark.stop()
  }
}
