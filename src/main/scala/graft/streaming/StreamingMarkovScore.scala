package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.EventOps

/** Streaming per-user path scoring under a batch-fit Markov model —
  * the MODEL-SERVING stateful pattern the batch `markov_path_score`
  * deploys as: the transition model is a batch artifact (fit by
  * [[graft.operators.EventOps.markovTransitions]], |types|² rows,
  * collected once and closed over — exactly how a production scorer
  * broadcasts its fitted model), and the stream keeps per-user state
  * (last event type + running transition count / ppm sum / ppm min)
  * so every arriving event emits the user's score-so-far.
  *
  * Where the batch operator reports each user's FINAL rollup, the
  * stream emits the running rollup AFTER EVERY TRANSITION (an
  * unbounded stream has no "final") — so the oracle is the running
  * window form of the same exact-ppm arithmetic. All state is
  * integers (ppm values from the model, counts); running sums over
  * integers are bit-portable where double accumulation would not be
  * (dev/PORTABILITY.md). Run with `Trigger.AvailableNow` through
  * [[MemorySinks.runAvailableNow]]; production adds a watermark +
  * state TTL and a durable sink. */
object StreamingMarkovScore {

  final case class Ev(event_id: Long, user_id: Long, ts_us: Long, event_type: String)
  final case class St(lastType: String, n: Long, sum: Long, min: Long)
  final case class Out(event_id: Long, user_id: Long, n_trans: Long,
                       sum_ppm: Long, min_ppm: Long, avg_ppm: Long)

  /** Per-user fold: rows sort (ts_us, event_id) inside the batch, the
    * first-ever event only seeds `lastType`, every later event scores
    * its (prev → cur) transition with the closed-over model. A
    * transition ABSENT from the model — a NULL-typed event on either
    * side, or an unseen pair when the model was fit on an earlier
    * window — is skipped, not scored: the same rows the batch twin's
    * inner model join drops (a bare Map.apply here would instead kill
    * the whole streaming query on the first unseen pair). */
  def fold(model: Map[(String, String), Long])(
      user: Long, rows: Iterator[Ev], state: GroupState[St]): Iterator[Out] = {
    val evs = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(St(null, 0L, 0L, Long.MaxValue))
    val out = Seq.newBuilder[Out]
    for (e <- evs) {
      if (st.lastType != null) {
        model.get((st.lastType, e.event_type)) match {
          case Some(ppm) =>
            st = St(e.event_type, st.n + 1, st.sum + ppm, math.min(st.min, ppm))
            out += Out(e.event_id, e.user_id, st.n, st.sum, st.min, st.sum / st.n)
          case None =>
            st = St(e.event_type, st.n, st.sum, st.min)
        }
      } else st = St(e.event_type, st.n, st.sum, st.min)
    }
    state.update(st)
    out.result().iterator
  }

  /** The fitted model per data dir (r17 optimization round): the
    * |types|² transition table is a batch-fit ARTIFACT — production
    * fits once and serves it to every scoring run, but through r16
    * each run() re-ran the fit query + collect (~0.5 s of a 1.9 s
    * query at sf0.1). Cleared by [[graft.operators.Caches.clearAll]]. */
  private val modelCache =
    new graft.operators.Caches.PerDir[Map[(String, String), Long]]("StreamingMarkovScore.model", _ => Nil)

  def run(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the batch-fit model artifact (|types|² rows — driver-collected
    // and closed over, the broadcast-a-fitted-model serving shape)
    val model = modelCache.get(dir)(
      EventOps.markovTransitions(s, dir).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap)
    val schema = graft.sources.Tables.events(s, dir).schema
    val stream = s.readStream.schema(schema).parquet(s"$dir/[e]vents.parquet")
      .select(col("event_id"), col("user_id"),
        EventOps.tsUs(schema("ts").dataType).as("ts_us"), col("event_type"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fold(model))
    MemorySinks.runAvailableNow(s, stream.toDF(), "stream_markov_score")._2
  }

  /** Batch SQL twin: the same model fit + the running-window form of
    * the per-user score (integer ppm running sums — portable). */
  val oracle: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events),
      |sq AS (
      |  SELECT event_id, user_id, event_type, ts_us,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
      |  FROM ev),
      |tr AS (SELECT * FROM sq WHERE prev_type IS NOT NULL),
      |cnt AS (
      |  SELECT prev_type AS src_type, event_type AS dst_type, count(*) AS n
      |  FROM tr GROUP BY 1, 2),
      |model AS (
      |  SELECT src_type, dst_type,
      |         CAST((n * 1000000) // sum(n) OVER (PARTITION BY src_type) AS BIGINT) AS ppm
      |  FROM cnt),
      |sc AS (
      |  SELECT t.event_id, t.user_id, t.ts_us, m.ppm
      |  FROM tr t JOIN model m ON t.prev_type = m.src_type AND t.event_type = m.dst_type)
      |SELECT event_id, user_id,
      |       count(*) OVER w AS n_trans,
      |       CAST(sum(ppm) OVER w AS BIGINT) AS sum_ppm,
      |       min(ppm) OVER w AS min_ppm,
      |       CAST((sum(ppm) OVER w) // (count(*) OVER w) AS BIGINT) AS avg_ppm
      |FROM sc
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
}
