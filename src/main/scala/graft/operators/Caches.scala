package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Single release switch for every per-data-dir session cache the
  * operator families keep (signature/segment/dup-label tables, the
  * token projection, HLL register tables, the ABWD pair table, the ANN
  * index tables, the streaming family's retained runs). The caches are
  * intentionally session-long for the gate and bench runs — a
  * long-lived service calls [[clearAll]] between corpus versions, and
  * the test/verify mains call it at teardown so no path leaks persisted
  * or checkpointed blocks for the life of the JVM.
  *
  * The rule: a per-dir cache is declared as a [[PerDir]] family and
  * nowhere else. Constructing one registers it here, so it is released
  * by construction — there is no separate wiring step to forget (a
  * forgotten wire-up shipped twice while the caches were hand-wired). */
object Caches {

  private val families = new CopyOnWriteArrayList[PerDir[_]]()

  /** One cache family: one map from key (the data dir, plus a variant
    * suffix where a family keeps several per dir) to a value, and
    * `held`, the DataFrames a value keeps materialized — `Nil` for
    * values that hold no blocks (plans, driver-side models). */
  final class PerDir[V](val name: String, held: V => Seq[DataFrame]) {
    private val map = new ConcurrentHashMap[String, V]()
    families.add(this)

    /** The entry for `key`, built on first use. Builds nest across
      * families (`dupLabel` reads `sig`, `walk` reads `refine` reads
      * `knn`), but a build must never read or write its own family:
      * `computeIfAbsent` forbids updating the map from inside the
      * mapping function. */
    def get(key: String)(build: => V): V = map.computeIfAbsent(key, _ => build)

    /** Store `v` under `key`, releasing the entry it replaces. */
    def put(key: String, v: V): Unit = Option(map.put(key, v)).foreach(held(_).foreach(release))

    /** Remove `key`'s entry and release its frames. */
    def drop(key: String): Unit = Option(map.remove(key)).foreach(held(_).foreach(release))

    def clear(): Unit = map.keySet.forEach(k => drop(k))

    def isEmpty: Boolean = map.isEmpty

    private[graft] def frames: Seq[DataFrame] = map.values.asScala.toSeq.flatMap(held)
  }

  private[graft] def registered: Seq[PerDir[_]] = families.asScala.toSeq

  /** Release one cached frame, persisted or checkpointed: the
    * CacheManager entry of a persisted frame, and the RDD blocks of an
    * eager local checkpoint, which Dataset.unpersist does not reach —
    * those go through the LogicalRDD handle. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(false); ()
      case _ => ()
    }
  }

  def clearAll(): Unit = families.forEach(_.clear())

  /** Materialize every family's declared index builds — the bench's
    * named setup step, and the steady state plan-text audits read. */
  def warmAll(s: SparkSession, d: String): Unit = {
    TextOps.warmCaches(s, d)
    AnnOps.warmCaches(s, d)
    GeoOps.warmCaches(s, d)
    MixOps.warmCaches(s, d)
  }
}
