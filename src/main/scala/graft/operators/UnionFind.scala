package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, least, min}
import org.apache.spark.sql.graftbridge.CheckpointBridge.measuredCheckpoint
import org.apache.spark.storage.StorageLevel

/** Connected components, the one mechanism behind `dup_clusters`
  * (TextOps) and `semantic_clusters` (AnnOps): [[components]] labels
  * every vertex with the minimum id of its component. One gate picks
  * one of two paths. At or below [[TailMax]] edges the component
  * structure is driver-sized and a single driver union-find
  * ([[minLabels]]) beats per-round distributed job latency — the
  * ABWD-tail pattern. Above it the distributed min-label loop runs,
  * with pointer jumping, at most [[MaxRounds]] rounds.
  *
  * Two hazards of a naive driver union-find are closed in
  * [[minLabels]]:
  *
  *  1. `find` is ITERATIVE (walk the parent chain to the root, then a
  *     second pass re-pointing every visited node at the root) and
  *     unions are BY SIZE, so tree depth is O(log n) even before
  *     compression. A recursive find that compresses only on the
  *     unwind and unions by arbitrary root recurses once per link of
  *     a long near-dup chain — exactly the case the tail gate admits
  *     at its 4M-edge limit — and kills the driver with a
  *     StackOverflowError.
  *  2. Edges are collected via `toLocalIterator` into PRIMITIVE long
  *     arrays: each Row is released as soon as its two longs are
  *     copied out, so the steady driver footprint is 16 bytes/edge
  *     (64 MB at the 4M gate) rather than a retained array of boxed
  *     GenericRows (~100+ bytes each, several hundred MB transient).
  *     The vertex index (open-addressed long->int table, load <= 0.5)
  *     adds <= 24 bytes/slot over <= 2*edges vertices — ~400 MB worst
  *     case all-in at the gate, sized for the driver heap.
  */
private[graft] object UnionFind {

  /** Round cap of the distributed loop; a component that has not
    * converged by then fails the call rather than return wrong labels. */
  val MaxRounds = 50

  /** Driver-tail gate, in edge rows (two longs each, so 4M edges is
    * ~64 MB of driver state): at or below it [[components]] runs the
    * union-find tail, above it the distributed loop. */
  val TailMax = 4000000L

  /** `(<ids column>, cluster_id)`: every id of the one-column frame
    * `ids` labelled with the minimum id of its connected component
    * (singletons keep their own id). `edges` has two long columns,
    * read by position (src, dst); either direction, duplicates and
    * self-loops are fine, and every endpoint must be an id. The edges
    * are persisted and counted once: at or below `tailMax` rows the
    * driver union-find labels them and a left join from `ids` ships
    * the labels back (the unbounded id table never leaves the
    * cluster); above it the distributed loop runs. */
  def components(ids: DataFrame, edges: DataFrame, tailMax: Long = TailMax): DataFrame = {
    val id = ids.columns.head
    edges.persist(StorageLevel.MEMORY_AND_DISK)
    // finally: a non-converged require() (or any round failure) must
    // not leak the persisted edge list for the life of the session
    try {
      if (edges.count() <= tailMax) {
        val lbl = ids.sparkSession.createDataFrame(minLabels(edges)).toDF(id, "cl")
        ids.join(lbl, Seq(id), "left")
          .select(col(id), coalesce(col("cl"), col(id)).as("cluster_id"))
      } else distributed(ids, edges)
    } finally edges.unpersist()
  }

  /** The 100 TB path: checkpointed min-label propagation with
    * per-round pointer jumping, every step an equi-join. A label chain
    * whose ids fall toward the minimum collapses in O(log length)
    * rounds; a minimum that enters a chain from the side still moves
    * one hop per round. Each round's propagation checkpoint and the
    * labels it superseded are released once the round's jump
    * checkpoint is materialized; the returned frame reads the last
    * one. Each checkpoint's size estimate is its measured block size,
    * so the jump self-join cannot compound the estimate round over
    * round. */
  private def distributed(ids: DataFrame, dirEdges: DataFrame): DataFrame = {
    val id = ids.columns.head
    val d = dirEdges.toDF("src", "dst")
    // components are an undirected notion: symmetrize
    val edges = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cp = measuredCheckpoint(ids.select(col(id).as("v"), col(id).as("cluster_id")))
    var converged = false
    var rounds = 0
    try {
      while (!converged && rounds < MaxRounds) {
        rounds += 1
        val labels = cp.select(col("v"), col("cluster_id"))
        val neighborMin = edges
          .join(labels.select(col("v").as("dst"), col("cluster_id").as("nl")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("nl")).as("nmin"))
        // Checkpointed before the self-join: the jump shuffles its two
        // sides on DIFFERENT keys (cluster_id vs v), so exchange reuse
        // cannot dedupe them — without the checkpoint the whole
        // neighborMin subtree would execute twice per round.
        val propagated = labels
          .join(neighborMin.select(col("src").as("v"), col("nmin")), Seq("v"), "left")
          .select(col("v"), col("cluster_id").as("prev"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("cluster_id"))
          .transform(measuredCheckpoint)
        // Pointer jump: label := label(label). Every label is the id
        // of some row of `propagated`, so the self-join always hits;
        // this halves the remaining label-chain depth each round. The
        // `changed` flag rides the checkpointed frame, so the
        // convergence test is a filter over materialized rows, not an
        // extra join job per round.
        val next = propagated.as("a")
          .join(propagated.select(col("v").as("cluster_id"),
            col("cluster_id").as("jump")).as("b"), Seq("cluster_id"))
          .select(col("v"),
            least(col("cluster_id"), col("jump")).as("cluster_id"),
            (least(col("cluster_id"), col("jump")) =!= col("prev")).as("changed"))
          .transform(measuredCheckpoint)
        Caches.release(propagated)
        Caches.release(cp)
        cp = next
        converged = next.filter(col("changed")).isEmpty
      }
      require(converged, s"label propagation did not converge in $MaxRounds rounds")
      cp.select(col("v").as(id), col("cluster_id"))
    } finally edges.unpersist()
  }

  /** Collect a two-long-column edge DataFrame (column order: src, dst)
    * and return one (vertexId, minVertexIdOfComponent) row per DISTINCT
    * vertex that appears in an edge — the non-singleton label rows the
    * tail ships back (singletons never enter the edge list and keep
    * their own id via the caller's left join). */
  def minLabels(edges: DataFrame): Seq[(Long, Long)] = {
    // 1. stream the edges into primitive arrays
    var cap = 1 << 16
    var ea = new Array[Long](cap)
    var eb = new Array[Long](cap)
    var n = 0
    val it = edges.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      if (n == cap) {
        cap <<= 1
        ea = java.util.Arrays.copyOf(ea, cap)
        eb = java.util.Arrays.copyOf(eb, cap)
      }
      ea(n) = r.getLong(0)
      eb(n) = r.getLong(1)
      n += 1
    }

    // 2. index vertices: open-addressed long->int, power-of-two
    //    capacity, load factor <= 0.5 (vertices <= 2n)
    var tcap = 64
    while (tcap < 4L * math.max(n, 1)) tcap <<= 1
    val mask = tcap - 1
    val keys = new Array[Long](tcap)
    val slotUsed = new Array[Boolean](tcap)
    val slotIdx = new Array[Int](tcap)
    val ids = new Array[Long](2 * math.max(n, 1))
    var nv = 0
    def indexOf(id: Long): Int = {
      var h = (java.lang.Long.hashCode(id * 0x9e3779b97f4a7c15L)) & mask
      while (slotUsed(h) && keys(h) != id) h = (h + 1) & mask
      if (slotUsed(h)) slotIdx(h)
      else {
        keys(h) = id; slotUsed(h) = true; slotIdx(h) = nv
        ids(nv) = id; nv += 1; nv - 1
      }
    }

    val parent = new Array[Int](2 * math.max(n, 1))
    val size = new Array[Int](2 * math.max(n, 1))

    // 3. iterative find: walk to the root, then compress the path
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    var i = 0
    while (i < n) {
      val a = indexOf(ea(i)); val b = indexOf(eb(i))
      // lazy-init union-find cells as vertices appear
      if (size(a) == 0) { parent(a) = a; size(a) = 1 }
      if (size(b) == 0) { parent(b) = b; size(b) = 1 }
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (size(ra) < size(rb)) { parent(ra) = rb; size(rb) += size(ra) }
        else { parent(rb) = ra; size(ra) += size(rb) }
      }
      i += 1
    }

    // 4. min vertex id per component root, then one label row/vertex
    val minLbl = new Array[Long](nv)
    java.util.Arrays.fill(minLbl, Long.MaxValue)
    i = 0
    while (i < nv) {
      val r = find(i)
      if (ids(i) < minLbl(r)) minLbl(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](nv)
    i = 0
    while (i < nv) { out(i) = (ids(i), minLbl(find(i))); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}
