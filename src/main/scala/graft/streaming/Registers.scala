package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The keyed-register fold behind every fixed-size mergeable sketch
  * stream (HLL, Count-Min, Bloom, the log₂ quantile histogram): each
  * key owns `slots` long registers, and a row `(key, slot, v)` merges
  * `v` into register `slot` with an associative, commutative `merge`
  * whose identity is 0. Because the merge is associative and
  * commutative, any micro-batch split of the input — and any
  * per-partition pre-merge — gives the identical final registers, so
  * under `Trigger.AvailableNow` each key's last emission equals the
  * batch sketch the DuckDB oracle checks.
  *
  * The fold owns the map-side combine (each scan partition collapses
  * its rows to at most keys · slots partials before the state
  * shuffle, so the shuffle no longer grows with the input), the
  * `flatMapGroupsWithState` and the state class; a sketch supplies its
  * row projection, its merge and its `emit(key, registers)`.
  * [[StreamingDistinctKmv]] (a K-smallest set, not fixed slots) and
  * [[StreamingHotKeys]] (no combine, by measurement) stay outside. */
object Registers {

  /** A key's registers — the whole per-key stream state. */
  final case class State(regs: Array[Long])

  val Max: (Long, Long) => Long = math.max
  val Sum: (Long, Long) => Long = _ + _
  val Or: (Long, Long) => Long = _ | _

  /** Per-partition pre-merge: one `(key, slot, v)` per distinct
    * (key, slot). */
  def combine[K](merge: (Long, Long) => Long)(rows: Iterator[(K, Long, Long)])
      : Iterator[(K, Long, Long)] = {
    val acc = scala.collection.mutable.HashMap.empty[(K, Long), Long]
    rows.foreach { case (k, slot, v) => acc((k, slot)) = merge(acc.getOrElse((k, slot), 0L), v) }
    acc.iterator.map { case ((k, slot), v) => (k, slot, v) }
  }

  /** Merges `rows` into `regs` in place and returns it. */
  def absorb[K](merge: (Long, Long) => Long)(regs: Array[Long],
                                              rows: Iterator[(K, Long, Long)]): Array[Long] = {
    rows.foreach { case (_, slot, v) => regs(slot.toInt) = merge(regs(slot.toInt), v) }
    regs
  }

  /** Folds `rows` (columns `key`, `slot`, `v`) into per-key registers
    * across micro-batches; each batch calls `emit` once per key it
    * touched, with that key's merged registers. */
  def fold[K: Encoder, O: Encoder](rows: DataFrame, slots: Int, merge: (Long, Long) => Long)
      (emit: (K, Array[Long]) => Iterator[O]): DataFrame = {
    implicit val rowEnc: Encoder[(K, Long, Long)] =
      Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong, Encoders.scalaLong)
    implicit val stateEnc: Encoder[State] = Encoders.product[State]
    rows.select(col("key"), col("slot"), col("v")).as[(K, Long, Long)]
      .mapPartitions(combine[K](merge))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[(K, Long, Long)], state: GroupState[State]) =>
          val regs = absorb(merge)(state.getOption.fold(new Array[Long](slots))(_.regs), it)
          state.update(State(regs))
          emit(key, regs)
      }
      .toDF()
  }
}
