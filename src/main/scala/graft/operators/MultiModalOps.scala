package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryFn
import graft.sources.Tables

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed, per-partition batch decoding.
  *
  * The driver testdata has no real image/audio bytes, so the payload is
  * the UTF-8 encoding of `documents.text` and the decoder is a
  * clearly-marked deterministic STUB — but the Spark-side plumbing is
  * the real thing a media pipeline needs: a `binary` column flowing
  * through a typed `Dataset`, decoded batch-wise inside
  * `mapPartitions` (one decoder instantiation per partition, the same
  * shape a JNI codec or ONNX session wants), with a fixed output
  * schema. Swapping `decodeStub` for a real codec changes no plan.
  */
object MultiModalOps {

  /** Typed rows entering the decode kernel. */
  final case class MediaIn(doc_id: Long, blob: Array[Byte])

  /** Typed decode output: byte stats + (stubbed) media dimensions. A
    * NULL payload has no size or dimensions and 0-valued headers. */
  final case class MediaMeta(doc_id: Long, n_bytes: Option[Long], header0: Int, header1: Int,
                             width: Option[Int], height: Option[Int], n_frames: Option[Int])

  /** STUB decoder — a real implementation would hand `blob` to an
    * image/audio codec; the container has none, so dimensions are a
    * deterministic function of the payload so the oracle can verify
    * the plumbing end-to-end. */
  def decodeStub(blob: Array[Byte]): (Int, Int, Int) = {
    val n = blob.length
    (16 + (n % 64) * 4, 16 + ((n / 64) % 64) * 4, 1 + n % 7)
  }

  def multimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .as[MediaIn]
    in.mapPartitions { it =>
      // Per-partition decoder lifecycle: init once, decode batch-wise.
      it.map { m =>
        val blob = Option(m.blob) // a NULL text is a NULL blob
        val dims = blob.map(decodeStub)
        // short payloads yield 0-valued header bytes, not an exception
        def header(i: Int): Int = blob.filter(_.length > i).fold(0)(_(i) & 0xff)
        MediaMeta(m.doc_id, blob.map(_.length.toLong), header(0), header(1),
          dims.map(_._1), dims.map(_._2), dims.map(_._3))
      }
    }.toDF()
  }

  /** Frame sampling: every decoded payload fans out to one row per
    * sampled frame with a per-frame feature vector slot — the
    * explode-shaped plumbing a video/audio pipeline needs between
    * decode and per-frame featurization. Frame count and the (stub)
    * frame feature are deterministic functions of the payload so the
    * oracle verifies the fan-out exactly. A NULL payload has NULL
    * frames and gives no rows. */
  def multimodalFrameSample(s: SparkSession, d: String): DataFrame =
    multimodalMeta(s, d)
      .select(col("doc_id"), col("n_bytes"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        // stub per-frame feature: offset of the frame's first byte
        expr("(n_bytes * frame_idx) div n_frames").as("frame_offset"))

  // ---- ClipNet serving slot --------------------------------------

  /** Literal-weight stand-in for the reference's ClipNet
    * (`data_processing/filtering.py:24-59`: clamped magnitude +
    * distance + the three heuristic clip flags → `clipNet().evaluate`
    * → clip probability). The real network is a trained model
    * artifact the container does not ship (documented gap, SURVEY
    * §6); this 5→[[ClipHidden]]→1 MLP proves the SERVING path — a
    * model instantiated once per partition scoring typed feature rows
    * — with deterministic synthetic weights. The activation is the
    * rational fast-sigmoid 0.5 + 0.5·x/(1+|x|): pure +,*,/,abs, so
    * the whole forward pass is bit-exact cross-engine and the DuckDB
    * oracle checks it end-to-end (a real exp()-sigmoid would be
    * rows-only per dev/PORTABILITY.md). Swapping in trained weights
    * (or an ONNX session in [[loadClipNet]]) changes no plan. */
  final case class ClipNetStub(w1: Array[Array[Double]], b1: Array[Double],
                               w2: Array[Double], b2: Double) {
    def evaluate(x: Array[Double]): Double = {
      var out = b2
      var j = 0
      while (j < b1.length) {
        var h = b1(j)
        var i = 0
        while (i < x.length) { h = h + w1(i)(j) * x(i); i += 1 }
        val hj = 0.5 + 0.5 * h / (1.0 + math.abs(h))
        out = out + w2(j) * hj
        j += 1
      }
      0.5 + 0.5 * out / (1.0 + math.abs(out))
    }
  }

  val ClipInputs = 5
  val ClipHidden = 8

  /** Deterministic synthetic weights in [-1, 1] — the single source of
    * truth for BOTH the Scala model and the SQL twin's literals. */
  def clipW1(i: Int, j: Int): Double =
    (((i * ClipHidden + j + 1) * 2654435761L) % 1999L - 999L) / 999.0
  def clipB1(j: Int): Double = (((j + 7) * 1103515245L) % 1999L - 999L) / 999.0
  def clipW2(j: Int): Double = (((j + 3) * 2246822519L) % 1999L - 999L) / 999.0
  val ClipB2: Double = -0.25

  /** Per-partition model load — where a real deployment opens its
    * ONNX/TF session; here it materializes the literal weights. */
  def loadClipNet(): ClipNetStub = ClipNetStub(
    Array.tabulate(ClipInputs, ClipHidden)(clipW1),
    Array.tabulate(ClipHidden)(clipB1),
    Array.tabulate(ClipHidden)(clipW2), ClipB2)

  final case class ClipIn(record_id: String, mag_clipped: Double,
                          dist_clipped: Option[Double], max_amp_clip: Boolean,
                          hist_clip: Boolean, ping_clip: Boolean)
  final case class ClipScored(record_id: String, clip_prob: Option[Double])

  /** The serving query: `clip_features` → per-partition model →
    * `clip_prob`. Records beyond the distance cutoff carry a NULL
    * distance (no pair row in the reference either) and score NULL. */
  def clipProb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = SignalOps.clipFeatures(s, d).as[ClipIn]
    feats.mapPartitions { it =>
      val model = loadClipNet() // once per partition: the session shape
      it.map { r =>
        ClipScored(r.record_id, r.dist_clipped.map { dist =>
          model.evaluate(Array(r.mag_clipped, dist,
            if (r.max_amp_clip) 1.0 else 0.0,
            if (r.hist_clip) 1.0 else 0.0,
            if (r.ping_clip) 1.0 else 0.0))
        })
      }
    }.toDF()
  }

  /** Exact media dedup by content hash — the first pass of every
    * image/video corpus pipeline (byte-identical re-uploads dominate
    * web media duplication; perceptual hashing only runs on what
    * survives this). sha-256 over the opaque BINARY payload + window
    * keep-first, the media twin of `dedup_exact`: same plan, but the
    * hash is computed on bytes (codec-agnostic, works on any blob)
    * rather than decoded text. One scan + one hash-keyed window
    * shuffle; at corpus scale the 32-byte digest column is what
    * shuffles, never the payload. */
  def multimodalDedup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bhash")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        sha2(encode(col("text"), "UTF-8"), 256).as("bhash"))
      .withColumn("rn", row_number().over(w))
      .withColumn("is_canonical", col("rn") === 1)
      .select("doc_id", "n_bytes", "bhash", "is_canonical")
  }

  val queries: Map[String, QueryFn] = Map(
    "multimodal_dedup" -> (multimodalDedup _),
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_frame_sample" -> (multimodalFrameSample _),
    "clip_prob" -> (clipProb _)
  )

  /** SQL twin of the forward pass — same literals via clipW1/clipB1/
    * clipW2, same left-associated accumulation order, so doubles are
    * bit-exact. */
  private def clipProbOracle: String = {
    import graft.functions.Portable.dl
    val xs = Seq("f.mag_clipped", "f.dist_clipped",
      "(CASE WHEN f.max_amp_clip THEN 1e0 ELSE 0e0 END)",
      "(CASE WHEN f.hist_clip THEN 1e0 ELSE 0e0 END)",
      "(CASE WHEN f.ping_clip THEN 1e0 ELSE 0e0 END)")
    def pre(j: Int): String =
      (0 until ClipInputs).map(i => s" + ${dl(clipW1(i, j))} * ${xs(i)}")
        .mkString(s"(${dl(clipB1(j))}", "", ")")
    def hj(j: Int): String =
      s"(0.5e0 + 0.5e0 * ${pre(j)} / (1e0 + abs(${pre(j)})))"
    val out = (0 until ClipHidden).map(j => s" + ${dl(clipW2(j))} * ${hj(j)}")
      .mkString(s"(${dl(ClipB2)}", "", ")")
    graft.model.Catalog.oracle(
      s"""SELECT f.record_id,
         |  CASE WHEN f.dist_clipped IS NULL THEN NULL
         |       ELSE 0.5e0 + 0.5e0 * $out / (1e0 + abs($out)) END AS clip_prob
         |FROM (${SignalOps.clipFeaturesOracleBody}) f""".stripMargin)
  }

  val oracles: Map[String, String] = Map(
    // DuckDB's sha256 takes VARCHAR only; hashing the text is
    // byte-identical to hashing its UTF-8 encoding (the blob IS that
    // encoding), so the twin hashes the string and sizes the blob.
    "multimodal_dedup" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS bhash,
        |  row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
        |    AS is_canonical
        |FROM documents""".stripMargin,
    "clip_prob" -> clipProbOracle,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CASE WHEN octet_length(encode(text)) >= 1
        |       THEN CAST('0x' || substring(hex(encode(text)), 1, 2) AS INT) ELSE 0 END AS header0,
        |  CASE WHEN octet_length(encode(text)) >= 2
        |       THEN CAST('0x' || substring(hex(encode(text)), 3, 2) AS INT) ELSE 0 END AS header1,
        |  CAST(16 + (octet_length(encode(text)) % 64) * 4 AS INT) AS width,
        |  CAST(16 + ((octet_length(encode(text)) // 64) % 64) * 4 AS INT) AS height,
        |  CAST(1 + octet_length(encode(text)) % 7 AS INT) AS n_frames
        |FROM documents""".stripMargin,
    "multimodal_frame_sample" ->
      """SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |       (n_bytes * f) // n_frames AS frame_offset
        |FROM (
        |  SELECT doc_id, n_bytes, n_frames, unnest(range(0, n_frames)) AS f
        |  FROM (
        |    SELECT doc_id,
        |      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |      CAST(1 + octet_length(encode(text)) % 7 AS INT) AS n_frames
        |    FROM documents))""".stripMargin
  )
}
