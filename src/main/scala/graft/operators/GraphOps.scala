package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryFn
import graft.sources.Tables

/** Graph analytics over the thresholded kNN similarity graph
  * ([[AnnOps.annKnnGraph]] edges with cosine ≥
  * [[AnnOps.SemClusterCosT]]) — the structural health checks a
  * semantic-dedup / diversity-sampling pipeline runs beside
  * `semantic_clusters`' component labels: triangle counts (local
  * clustering — boilerplate families triangulate, topical neighbors
  * mostly don't) and PageRank centrality (which documents anchor
  * their semantic neighborhood).
  *
  * Scale shape: the edge list is the ALREADY-BOUNDED kNN output
  * (≤ KnnK rows per vector, LSH-bucketed, Lsh.MaxBucket-capped — never
  * all-pairs), so every operator here is equi-joins and partial-agg
  * groupBys over an O(N·K) table. PageRank runs in FIXED-POINT
  * integers (the `label_centroids` rule: float sums are
  * shuffle-order-sensitive, integer sums are not), so iterated ranks
  * are bit-identical on any partitioning and engine.
  */
object GraphOps {

  /** Canonical undirected edges (u < v) of the thresholded kNN graph.
    * The kNN rank cut is per-direction, so an edge can survive in one
    * direction only — `least/greatest` + distinct canonicalizes. */
  private def canonEdges(s: SparkSession, d: String): DataFrame =
    edgeCache.get(d)(
      AnnOps.annKnnGraph(s, d).filter(col("cosine") >= AnnOps.SemClusterCosT)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Canonical-edge table cached per data dir (the sigCache pattern):
    * the distinct is a shuffle, and `pagerank_knn`'s unrolled
    * recurrence otherwise re-executes the whole edge pipeline ~6x
    * (degree table + two contribution passes, with r1's chain
    * evaluated twice). The edge list is O(N·K) rows — orders of
    * magnitude smaller than the corpus, exactly what a production
    * graph job persists as its edge table. */
  private val edgeCache = new Caches.PerDir[DataFrame]("GraphOps.edge", Seq(_))

  /** Symmetrized directed edges (both directions) — PageRank's view,
    * persisted per dir HASH-PARTITIONED ON dst (r17 optimization
    * round): every PageRank iteration's contribution aggregate groups
    * by dst, so a dst-clustered edge table satisfies the aggregate's
    * required distribution through the (broadcast) rank join and the
    * per-iteration `Exchange hashpartitioning(vec_id)` disappears —
    * 8 shuffles of the O(N·K) edge list per `pagerank_full` call
    * (plus 2 per `pagerank_knn`) become zero. At cluster scale the
    * same layout holds: the rank join keys on src (broadcast here,
    * SMJ there — either way the EDGE side needed no src clustering it
    * would lose), and the contribution shuffle by dst is the one this
    * layout pre-pays once at build. */
  private def symEdges(s: SparkSession, d: String): DataFrame =
    symEdgeCache.get(d) {
      val e = canonEdges(s, d)
      e.select(col("u").as("src"), col("v").as("dst"))
        .union(e.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col("dst"))
        // eager localCheckpoint: materializes once per dir AND records
        // the dst hash-partitioning on the LogicalRDD, so downstream
        // per-iteration aggregates see their distribution satisfied
        .localCheckpoint(true)
    }

  private val symEdgeCache = new Caches.PerDir[DataFrame]("GraphOps.symEdge", Seq(_))

  /** Per-vertex TRIANGLE counts on the thresholded kNN graph. The
    * classic distributed formulation: with canonical a<b<c ordering
    * each triangle is generated exactly once — wedges (a<b, b<c) from
    * one self-join on the middle vertex, closed by an equi-join back
    * to the edge list on (a, c). Never enumerates non-wedge pairs;
    * wedge fan-out is bounded by the kNN degree cap (≤ 2·KnnK per
    * vertex), so work is O(N·K²) worst case, not O(N²). Vertices in
    * no triangle keep an explicit 0 row. */
  def triangleCount(s: SparkSession, d: String): DataFrame = {
    val e = canonEdges(s, d)
    val wedges = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("b"), col("v").as("c")), Seq("b"))
    val tris = wedges.join(e.select(col("u").as("a"), col("v").as("c")), Seq("a", "c"))
    val perVertex = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n"))
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(perVertex, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  val PrR0: Long     = 1000000L // initial rank (fixed-point ppm)
  val PrDampNum      = 85L      // damping 0.85 as an integer ratio
  val PrDampDen      = 100L

  /** One fixed-point PageRank iteration: each vertex splits its rank
    * equally over its out-edges (integer division — the remainder is
    * dropped on both engines identically), receives the damped sum.
    * Isolated vertices keep the teleport term only. */
  private def prIter(ids: DataFrame, se: DataFrame, deg: DataFrame,
                     r: DataFrame, out: String): DataFrame = {
    val contrib = se
      .join(r.select(col("vec_id").as("src"), col("r")), Seq("src"))
      .join(deg, Seq("src"))
      .select(col("dst").as("vec_id"), expr("r div deg").as("c"))
      .groupBy(col("vec_id")).agg(sum(col("c")).as("s"))
    ids.join(contrib, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (lit(PrR0 - PrR0 * PrDampNum / PrDampDen) +
          expr(s"($PrDampNum * coalesce(s, 0L)) div $PrDampDen")).as(out))
  }

  /** Two unrolled PageRank iterations (damping 0.85) over the
    * symmetrized thresholded kNN graph, in parts-per-million
    * fixed-point integers — every iteration is one equi-join + one
    * partial-agg groupBy, and the integer arithmetic makes the
    * iterated ranks reproducible on any partitioning (a float
    * PageRank diverges bit-wise between runs at cluster scale). A
    * full solve loops the same step with checkpointing like
    * `dup_clusters`; two checked iterations pin the recurrence. */
  def pagerankKnn(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
    val se  = symEdges(s, d)
    val deg = se.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val r0  = ids.select(col("vec_id"), lit(PrR0).as("r"))
    val r1  = prIter(ids, se, deg, r0, "r")
    val r2  = prIter(ids, se, deg, r1, "r2")
    r1.select(col("vec_id"), col("r").as("r1"))
      .join(r2, Seq("vec_id"))
      .select(col("vec_id"), col("r1"), col("r2"))
  }

  val PrFullIters = 8 // fixed solve depth: the gate pins the LOOPED path

  /** The LOOPED PageRank solve `pagerank_knn` documents: the same
    * fixed-point integer iteration run [[PrFullIters]] deep with an
    * eager localCheckpoint every few rounds (the `dup_clusters`
    * pattern — lineage stays a few iterations shallow, so no round's
    * plan ever re-derives the whole history), over the same cached
    * O(N·K) edge table. Integer states make the iterate ENGINE-EXACT at any
    * depth (a float PageRank drifts bit-wise per iteration), which is
    * what lets a DuckDB oracle check the loop, not just the step: the
    * oracle unrolls the identical recurrence [[PrFullIters]] times.
    * Per round: one equi-join + one partial-agg groupBy — the same
    * scale shape as the checked 2-step recurrence. */
  def pagerankFull(s: SparkSession, d: String): DataFrame =
    pagerankFull(s, d, PrFullIters)

  def pagerankFull(s: SparkSession, d: String, iters: Int): DataFrame = {
    // the loop's last checkpoint is the result: with no round there is
    // none, and the result would read the released ids table
    require(iters >= 1, s"pagerankFull needs iters >= 1, got $iters")
    // ids joins back into EVERY iteration — materialize the one-column
    // projection once per call instead of re-scanning the corpus 8×
    val ids = Tables.embeddings(s, d).select(col("vec_id"))
      .localCheckpoint(true)
    val se  = symEdges(s, d)
    val deg = se.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var r = ids.select(col("vec_id"), lit(PrR0).as("r"))
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to iters) {
      r = prIter(ids, se, deg, r, "r")
      // checkpoint every FOURTH round (and the last): at gate scale
      // the solve is ~all fixed per-job driver latency (N is tiny),
      // so fewer, deeper jobs are strictly faster; lineage stays ≤ 4
      // iterations — well under the depth that bloats plans
      if (i % 4 == 0 || i == iters) {
        r = r.localCheckpoint(true)
        scratch += r
      }
    }
    // release the per-call scratch blocks (ids, deg, intermediate
    // round checkpoints) — everything but the RETURNED final
    // checkpoint, which is already eagerly materialized so the freed
    // inputs are never re-read. Without this every call parked extra
    // persisted blocks until the ContextCleaner happened to GC them
    // (r17 advice item).
    (Seq(ids, deg) ++ scratch.dropRight(1)).foreach(Caches.release)
    r
  }

  val queries: Map[String, QueryFn] = Map(
    "triangle_count" -> (triangleCount _),
    "pagerank_knn"   -> (pagerankKnn _),
    "pagerank_full"  -> (pagerankFull(_, _))
  )

  private val edgesCte: String =
    s"""ce AS (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM g WHERE cosine >= ${AnnOps.SemClusterCosT}e0)""".stripMargin

  val oracles: Map[String, String] = Map(
    "triangle_count" ->
      s"""WITH g AS (${AnnOps.knnGraphSql}),
         |$edgesCte,
         |tri AS (
         |  SELECT w1.u AS a, w1.v AS b, w2.v AS c
         |  FROM ce w1 JOIN ce w2 ON w1.v = w2.u
         |  JOIN ce e ON e.u = w1.u AND e.v = w2.v),
         |pv AS (
         |  SELECT x AS vec_id, count(*) AS n FROM (
         |    SELECT a AS x FROM tri UNION ALL
         |    SELECT b AS x FROM tri UNION ALL
         |    SELECT c AS x FROM tri) GROUP BY x)
         |SELECT e.vec_id, CAST(coalesce(pv.n, 0) AS BIGINT) AS n_triangles
         |FROM embeddings e LEFT JOIN pv ON e.vec_id = pv.vec_id""".stripMargin,
    "pagerank_knn" ->
      s"""WITH g AS (${AnnOps.knnGraphSql}),
         |$edgesCte,
         |se AS (SELECT u AS src, v AS dst FROM ce UNION ALL SELECT v, u FROM ce),
         |deg AS (SELECT src, count(*) AS deg FROM se GROUP BY src),
         |ids AS (SELECT vec_id FROM embeddings),
         |r0 AS (SELECT vec_id, $PrR0 AS r FROM ids),
         |c1 AS (
         |  SELECT se.dst AS vec_id, sum(r0.r // deg.deg) AS s
         |  FROM se JOIN r0 ON se.src = r0.vec_id JOIN deg ON se.src = deg.src
         |  GROUP BY se.dst),
         |r1 AS (
         |  SELECT ids.vec_id,
         |         ${PrR0 - PrR0 * PrDampNum / PrDampDen} + ($PrDampNum * coalesce(c1.s, 0)) // $PrDampDen AS r
         |  FROM ids LEFT JOIN c1 ON ids.vec_id = c1.vec_id),
         |c2 AS (
         |  SELECT se.dst AS vec_id, sum(r1.r // deg.deg) AS s
         |  FROM se JOIN r1 ON se.src = r1.vec_id JOIN deg ON se.src = deg.src
         |  GROUP BY se.dst),
         |r2 AS (
         |  SELECT ids.vec_id,
         |         ${PrR0 - PrR0 * PrDampNum / PrDampDen} + ($PrDampNum * coalesce(c2.s, 0)) // $PrDampDen AS r
         |  FROM ids LEFT JOIN c2 ON ids.vec_id = c2.vec_id)
         |SELECT r1.vec_id, CAST(r1.r AS BIGINT) AS r1, CAST(r2.r AS BIGINT) AS r2
         |FROM r1 JOIN r2 ON r1.vec_id = r2.vec_id""".stripMargin,
    "pagerank_full" -> {
      val steps = (1 to PrFullIters).map { k =>
        s"""c$k AS (
           |  SELECT se.dst AS vec_id, sum(r${k - 1}.r // deg.deg) AS s
           |  FROM se JOIN r${k - 1} ON se.src = r${k - 1}.vec_id JOIN deg ON se.src = deg.src
           |  GROUP BY se.dst),
           |r$k AS (
           |  SELECT ids.vec_id,
           |         ${PrR0 - PrR0 * PrDampNum / PrDampDen} + ($PrDampNum * coalesce(c$k.s, 0)) // $PrDampDen AS r
           |  FROM ids LEFT JOIN c$k ON ids.vec_id = c$k.vec_id)""".stripMargin
      }.mkString(",\n")
      s"""WITH g AS (${AnnOps.knnGraphSql}),
         |$edgesCte,
         |se AS (SELECT u AS src, v AS dst FROM ce UNION ALL SELECT v, u FROM ce),
         |deg AS (SELECT src, count(*) AS deg FROM se GROUP BY src),
         |ids AS (SELECT vec_id FROM embeddings),
         |r0 AS (SELECT vec_id, $PrR0 AS r FROM ids),
         |$steps
         |SELECT vec_id, CAST(r AS BIGINT) AS r FROM r$PrFullIters""".stripMargin
    }
  )
}
