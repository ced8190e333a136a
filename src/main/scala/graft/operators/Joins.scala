package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Join-strategy helpers for the cases the planner can't fix.
  *
  * AQE's skew-join split handles a skewed SHUFFLE side (it splits
  * oversized partitions and replicates the other side's matching
  * partition), but it works at partition granularity AFTER the
  * shuffle — when one join KEY alone carries a large share of the
  * rows AND the other side is too big to broadcast, explicit SALTING
  * is the remaining lever: append a salt in [0, S) to the skewed
  * side's key, replicate each matching row of the other side S times
  * (one per salt value), and equi-join on (key, salt). Every original
  * match survives exactly once (the replicated side carries each salt
  * once), and the hot key's rows now spread across S reducer
  * partitions. Cost: S× replication of the (smaller) replicated side
  * — the knob trades its duplication against the hot partition's
  * width, which is why it is a per-pipeline decision, not a default.
  *
  * A range predicate (distance cutoff, time window) has no equi-key:
  * [[banded]] buckets both sides, replicates one to the neighbouring
  * buckets, and leaves the exact filter to the caller.
  */
object Joins {

  /** Inner equi-join of `skewed` and `other` on `key`, salted S ways:
    * the skewed side hashes each row to one salt (no replication);
    * `other` replicates into all S salts. Result equals
    * `skewed.join(other, Seq(key))` row-for-row (spec-pinned). The
    * salt derives from a hash of the skewed side's whole row id
    * expression `rowId` so it is deterministic and
    * partitioning-independent. The salt column name is generated to
    * miss every column of BOTH inputs — `withColumn` silently
    * REPLACES an existing column of the same name, which would
    * corrupt the join with no error if a caller's frame already
    * carried a column named like the salt. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
                 rowId: Column, salts: Int): DataFrame = {
    val taken = (skewed.columns ++ other.columns).toSet
    val saltCol = Iterator.from(0).map(i => s"__salt$i").find(!taken(_)).get
    val salted = skewed.withColumn(saltCol, pmod(hash(rowId), lit(salts)))
    val replicated = other.withColumn(saltCol,
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, saltCol)).drop(saltCol)
  }

  /** One dimension of [[banded]]: a qualifying pair has `otherKey −
    * replicatedKey` in `[lo, hi]`, and both keys bucket by `width` (a
    * double key as `floor(key / width)`, an integral key by exact `div`
    * with a whole `width`). `div` truncates toward zero, so its bucket 0
    * is nearly twice as wide: the offsets stay exhaustive only for a
    * window holding 0, which an integral band must have. */
  final case class Band(replicatedKey: Column, otherKey: Column,
                        width: Double, lo: Double, hi: Double) {
    require(width > 0 && lo <= hi, s"a band needs width > 0 and lo <= hi: $this")

    /** Exact buckets put `floor(o/w) − floor(r/w)` in
      * `[floor((o−r)/w), ceil((o−r)/w)]`, so these offsets reach every
      * qualifying pair. A double predicate can admit a pair an ulp
      * outside the window, and `key / width` can round across an edge:
      * 1e-9 buckets of slack cover both for keys within 2^20 buckets of
      * 0, and add an offset only where a window edge sits on a bucket
      * edge (no caller's window does). */
    def offsets(integral: Boolean): Seq[Long] = {
      val slack = if (integral) 0.0 else 1e-9
      math.floor(lo / width - slack).toLong to math.ceil(hi / width + slack).toLong
    }
  }

  object Band {
    def symmetric(replicatedKey: Column, otherKey: Column, width: Double, reach: Double): Band =
      Band(replicatedKey, otherKey, width, -reach, reach)
  }

  /** Inner banded join: every (replicated, other) pair equal on `on`
    * whose keys fall in every band's window, plus nearby candidates —
    * never fewer pairs, never one twice. It never filters: the caller
    * applies its exact predicate. `other` gets one bucket column per
    * band; `replicated` explodes over the cross product of the bands'
    * [[Band.offsets]], and the sides equi-join on `on` plus the
    * buckets, whose names miss every input column (as in
    * [[saltedJoin]]). `other` is the join's left child; callers read
    * the output by column name. */
  def banded(replicated: DataFrame, other: DataFrame, bands: Seq[Band],
             on: Seq[String] = Nil): DataFrame = {
    require(bands.nonEmpty, "banded needs at least one band")
    val taken = (replicated.columns ++ other.columns).toSet
    val names = Iterator.from(0).map(i => s"__band$i").filterNot(taken).take(bands.size + 1).toSeq
    val (offCol, buckets) = (names.head, names.tail)
    def kinds(df: DataFrame, keys: Seq[Column]): Seq[Boolean] =
      df.select(keys: _*).schema.map(f => Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType))
    val integral = kinds(replicated, bands.map(_.replicatedKey))
    require(integral == kinds(other, bands.map(_.otherKey)), s"band keys must both be integral or both not: $bands")
    require(bands.zip(integral).forall { case (b, i) => !i || (b.lo <= 0 && b.hi >= 0) },
      s"an integral band's window must hold 0: $bands")
    val combos = bands.zip(integral).foldLeft(Seq(Seq.empty[Long])) { case (acc, (b, i)) =>
      for (c <- acc; o <- b.offsets(i)) yield c :+ o
    }
    val offsets = array(combos.map(c => struct(c.zipWithIndex.map { case (o, i) => lit(o).as(s"o$i") }: _*)): _*)
    val rep = replicated.select(col("*"), explode(offsets).as(offCol))
      .select(replicated.columns.map(c => col(s"`$c`")) ++ bands.indices.map { i =>
        (bucket(bands(i).replicatedKey, bands(i).width, integral(i)) + col(s"$offCol.o$i")).as(buckets(i))
      }: _*)
    val oth = other.select(col("*") +: bands.indices.map { i =>
      bucket(bands(i).otherKey, bands(i).width, integral(i)).as(buckets(i))
    }: _*)
    oth.join(rep, on ++ buckets).drop(buckets: _*)
  }

  private def bucket(key: Column, width: Double, integral: Boolean): Column =
    if (integral) {
      require(width.isWhole, s"an integral band needs a whole width: $width")
      call_function("div", key, lit(width.toLong))
    } else floor(key / width).cast("long")
}
