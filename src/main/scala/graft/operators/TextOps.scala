package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryFn
import graft.functions.Portable
import graft.sources.Tables

/** LLM-training-data text operators over the `documents` table.
  *
  * The dedup family follows the standard web-scale pipeline shapes
  * (exact hash, MinHash-LSH, SimHash) — every candidate-pair step is a
  * banded equi-join, never an all-pairs product, so the plans scale to
  * billions of documents: pair count is bounded by band-bucket
  * collisions, and a skewed bucket can be salt-split without changing
  * semantics. All hashes go through [[Portable]] so the DuckDB oracle
  * recomputes identical values (xxhash64 is the documented production
  * swap-in).
  */
object TextOps {

  val ShingleN = 3   // word n-gram size for shingling
  val MinhashK = 8   // permutations in the MinHash signature
  val MinhashR = 2   // rows per LSH band => K/R = 4 bands
  val JaccT    = 0.5 // near-dup verification threshold
  val SimBits  = 32  // SimHash fingerprint width
  val SimBandBits = 8 // 4 bands of 8 bits for the hamming-band join
  val HamT     = 3   // max hamming distance for simhash near-dup
  val WinnowW  = 4   // winnowing window (doc_fingerprint)
  val Stopwords = Seq("a", "the")
  val P        = Portable.P

  private def nBands = MinhashK / MinhashR

  // ---- shared derivations ----------------------------------------

  private[operators] def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).withColumn("tk", Portable.tokens(col("text")))

  /** doc_id, hs (shingle hash list, order-preserving), shset (distinct
    * shingles) — the single scan every dedup operator builds on.
    *
    * Persisted: the tokenize→shingle→md5 pipeline is the dominant CPU
    * kernel of the whole dedup family, and the uncached plan evaluates
    * it up to 4× per query (band generation + both sides of the
    * Jaccard verification join each re-derive it). Spark's cache
    * manager matches the fragment across separately built DataFrames,
    * so one materialization feeds minhash bands, Jaccard verify, and
    * the simhash fingerprints — the distributed equivalent of a
    * web-dedup pipeline's "write the signature table once" step. The
    * cached projection is 3 narrow columns, orders of magnitude
    * smaller than the raw corpus. Lifetime: the entry (one per data
    * dir) stays cached for the session — intentional for the gate and
    * bench runs, which hit the whole dedup family; a long-lived
    * service would call [[Caches.clearAll]] (or persist to a real
    * signature TABLE) between corpus versions. */
  private val sigCache = new Caches.PerDir[DataFrame]("TextOps.sig", Seq(_))

  private def hashed(s: SparkSession, d: String): DataFrame =
    sigCache.get(d)(
      docs(s, d)
        .withColumn("sh", Portable.shingles(col("tk"), ShingleN))
        .select(col("doc_id"),
          transform(col("sh"), x => Portable.hmod(x)).as("hs"),
          array_distinct(col("sh")).as("shset"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Positioned-shingle hash table (doc_id, pos, h60) cached per data
    * dir — the span family's shared kernel (the [[sigCache]] pattern):
    * through r16, six span queries (`dedup_spans`, `dup_span_stats`,
    * `span_excise`, `span_excise_savings`, `dedup_stack_report`, the
    * `streaming_span_dedup` index side) each re-ran the corpus
    * tokenize→shingle→h60 positioned explode at 0.8-2.3 s apiece;
    * one materialization (charged to the bench's named setup) feeds
    * them all. Three narrow columns, O(corpus tokens) rows — the
    * persisted hash store a production ExactSubstr pipeline keeps
    * anyway. Released by [[Caches.clearAll]]. */
  private val posCache = new Caches.PerDir[DataFrame]("TextOps.pos", Seq(_))

  private[graft] def positioned(s: SparkSession, d: String): DataFrame =
    posCache.get(d)(
      docs(s, d)
        .select(col("doc_id"),
          posexplode(Portable.shingles(col("tk"), ShingleN)).as(Seq("pos", "sh")))
        .select(col("doc_id"), col("pos"), Portable.h60(col("sh")).as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def sigCol: Column = array((0 until MinhashK).map { j =>
    coalesce(
      array_min(transform(col("hs"), h => (h * Portable.permA(j) + Portable.permB(j)) % P)),
      lit(P))
  }: _*)

  /** Stateless signature projection over a documents frame — pure
    * column expressions (no window/agg), so it is STREAMING-SAFE: the
    * ingest-dedup stream computes the same shingle sets and minhash
    * signatures row-by-row that the batch family computes corpus-wide.
    * NULL or sub-[[ShingleN]]-word text yields an EMPTY shingle set
    * ([[Portable.shingles]]'s guard) and the all-P signature — same
    * as the batch [[hashed]] derivation. */
  private[graft] def signatureFrame(df: DataFrame): DataFrame =
    df.withColumn("tk", Portable.tokens(col("text")))
      .withColumn("sh", Portable.shingles(col("tk"), ShingleN))
      .withColumn("hs", transform(col("sh"), x => Portable.hmod(x)))
      .select(col("doc_id"), array_distinct(col("sh")).as("shset"), sigCol.as("sig"))

  /** The MinHash band keys: band b packs signature rows R·b and R·b+1
    * base [[P]]. */
  private def minhashKeys: Seq[Column] = (0 until nBands).map { b =>
    col("sig").getItem(MinhashR * b) * P + col("sig").getItem(MinhashR * b + 1)
  }

  /** [[signatureFrame]] + the LSH band explode — the streaming
    * ingest-dedup input shape. */
  private[graft] def bandedSignatures(df: DataFrame): DataFrame =
    Lsh.bands(signatureFrame(df), Seq("doc_id", "shset"), minhashKeys)

  /** (doc_id, band, bkey): one row per LSH band; the join key that
    * replaces the all-pairs product. */
  private def bands(s: SparkSession, d: String): DataFrame =
    Lsh.bands(hashed(s, d).withColumn("sig", sigCol), Seq("doc_id"), minhashKeys)

  /** Distinct candidate pairs (ida < idb) from the capped buckets of
    * `bands` ([[Lsh]]). */
  private def candidatePairs(bands: DataFrame): DataFrame =
    Lsh.pairs(Lsh.capped(bands), Lsh.Bucket, col("doc_id"))
      .select(col("a").as("ida"), col("b").as("idb")).distinct()

  private def candidates(s: SparkSession, d: String): DataFrame =
    candidatePairs(bands(s, d))

  /** Exact Jaccard of two shingle sets, NULL for an empty union (two
    * no-shingle docs colliding in the all-P buckets). Spark runs with
    * ANSI on, so an unguarded 0.0/0.0 raises DIVIDE_BY_ZERO; the guard
    * gives "no verdict", as the DuckDB twins' NULL does, and a NULL
    * never passes `jacc >= T`. */
  private def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) > 0,
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double"))

  /** `cand` pairs (ida, idb) with both sides' shingle sets (sha, shb)
    * from the persisted signature table. */
  private def withShingles(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    val sh = hashed(s, d).select(col("doc_id"), col("shset"))
    cand
      .join(sh.withColumnRenamed("doc_id", "ida").withColumnRenamed("shset", "sha"), Seq("ida"))
      .join(sh.withColumnRenamed("doc_id", "idb").withColumnRenamed("shset", "shb"), Seq("idb"))
  }

  /** Candidate pairs with exact n-gram Jaccard (the in-bucket verify
    * kernel — int/int division is bit-exact cross-engine). */
  private def pairJaccard(s: SparkSession, d: String): DataFrame =
    withShingles(s, d, candidates(s, d))
      .select(col("ida"), col("idb"), jaccard(col("sha"), col("shb")).as("jacc"))

  // ---- SimHash ---------------------------------------------------

  /** 32-bit SimHash over shingle hashes: per bit, majority vote of
    * +-1 contributions. One explode + one groupBy (32 conditional
    * sums) — a single shuffle keyed by doc_id. */
  private def simFingerprints(s: SparkSession, d: String): DataFrame = {
    val tokenHashes = hashed(s, d).select(col("doc_id"), explode(col("hs")).as("h"))
    val bitSums = (0 until SimBits).map { i =>
      sum(when(shiftright(col("h"), i) % 2 === 1, 1).otherwise(-1)).as(s"s$i")
    }
    tokenHashes.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimBits).map { i =>
          when(col(s"s$i") > 0, lit(1L) * (1L << i)).otherwise(0L)
        }.reduce(_ + _).as("fp"))
  }

  private def simBands(s: SparkSession, d: String): DataFrame =
    Lsh.bands(simFingerprints(s, d), Seq("doc_id", "fp"), (0 until SimBits / SimBandBits).map { b =>
      shiftright(col("fp"), b * SimBandBits) % (1 << SimBandBits)
    })

  // ---- operators -------------------------------------------------

  def dedupExact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("chash")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("chash"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("doc_id", "chash")
  }

  def dedupMinhash(s: SparkSession, d: String): DataFrame = {
    val dupIds = pairJaccard(s, d).filter(col("jacc") >= JaccT).select(col("idb").as("doc_id"))
    Tables.documents(s, d).select("doc_id")
      .join(dupIds, Seq("doc_id"), "left_anti")
  }

  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    pairJaccard(s, d)

  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val dup = Lsh.pairs(Lsh.capped(simBands(s, d)), Lsh.Bucket, struct(col("doc_id"), col("fp")))
      .filter(bit_count(col("a.fp").bitwiseXOR(col("b.fp"))) <= HamT)
      .select(col("b.doc_id").as("doc_id")).distinct()
    simFingerprints(s, d).join(dup, Seq("doc_id"), "left_anti")
      .select("doc_id", "fp")
  }

  def textQuality(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    docs(s, d).select(
      col("doc_id"),
      length(col("text")).as("len"),
      size(col("tk")).as("n_words"),
      ((length(col("text")) - (size(col("tk")) - 1)).cast("double") /
        size(col("tk")).cast("double")).as("mean_word_len"),
      (size(filter(col("tk"), t => array_contains(stopArr, t))).cast("double") /
        size(col("tk")).cast("double")).as("stop_ratio"),
      (size(array_distinct(col("tk"))).cast("double") /
        size(col("tk")).cast("double")).as("distinct_ratio"))
  }

  def langId(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(Stopwords.map(lit): _*)
    docs(s, d).select(col("doc_id"), col("lang"),
      (size(filter(col("tk"), t => array_contains(stopArr, t))).cast("double") /
        size(col("tk")).cast("double")).as("stop_ratio"))
      .withColumn("guess", when(col("stop_ratio") >= 0.02, lit("en")).otherwise(lit("unk")))
      .select(col("doc_id"), col("lang"), col("guess"),
        (col("guess") === col("lang")).as("correct"))
  }

  def tokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      size(col("tk")).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("re_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"))

  /** Winnowing via posexplode + sliding-window min, NOT a nested
    * array lambda: a lambda that references the hash array would
    * re-evaluate the md5 transform once per window position (no
    * subexpression elimination inside higher-order functions — this
    * was a measured 100x blowup), and the window form is also the
    * scalable shape (hashes materialize once, one window shuffle). */
  def docFingerprint(s: SparkSession, d: String): DataFrame = {
    val ex = hashed(s, d).select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val slide = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    val perDoc = Window.partitionBy(col("doc_id"))
    val big = ex
      .withColumn("n", count(lit(1)).over(perDoc))
      .withColumn("wmin", min(col("h")).over(slide))
      .filter(col("n") >= WinnowW && col("pos") <= col("n") - WinnowW)
      .select(col("doc_id"), col("wmin").as("fp")).distinct()
    val small = hashed(s, d).filter(size(col("hs")) < WinnowW)
      .select(col("doc_id"), explode(array_distinct(col("hs"))).as("fp"))
    big.unionByName(small)
  }

  val FpMaxBucket = 64     // fingerprints shared this widely carry no signal
  val FpDupPpm = 500000L   // fingerprint-Jaccard dup threshold (0.5)

  /** Fingerprint-based near-dup detection — [[docFingerprint]]'s
    * winnowing output (Schleimer et al., SIGMOD 2003) wired into the
    * verify family: documents sharing winnowed fingerprints become
    * candidate pairs (the fingerprint IS the LSH bucket — winnowing
    * guarantees any sufficiently long shared substring shares a
    * fingerprint), stop-fingerprints shared by more than
    * [[FpMaxBucket]] docs are dropped (boilerplate carries no dup
    * signal and unbounded buckets are the all-pairs failure mode),
    * and each pair is scored by exact fingerprint-set Jaccard over
    * the filtered space — integer ppm, engine-exact. Complements
    * `ngram_jaccard`/`minhash_containment`: those verify candidates
    * against the FULL shingle sets; this stays entirely inside the
    * KB-per-doc fingerprint table, the index a 100 TB dedup actually
    * persists. One self-join on the (materialized once) fingerprint
    * table, all aggregates partial. */
  def dedupFingerprint(s: SparkSession, d: String): DataFrame = {
    val fpt = docFingerprint(s, d).localCheckpoint(false)
    val good = fpt.groupBy(col("fp")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= FpMaxBucket).select(col("fp"))
    val f2 = fpt.join(good, Seq("fp"), "left_semi").localCheckpoint(false)
    val sz = f2.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val pairs = f2.select(col("fp"), col("doc_id").as("ida"))
      .join(f2.select(col("fp"), col("doc_id").as("idb")), Seq("fp"))
      .filter(col("ida") < col("idb"))
      .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sz.select(col("doc_id").as("ida"), col("nf").as("n_a")), Seq("ida"))
      .join(sz.select(col("doc_id").as("idb"), col("nf").as("n_b")), Seq("idb"))
      .withColumn("jacc_ppm", expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
      .select(col("ida"), col("idb"), col("n_shared"), col("n_a"), col("n_b"),
        col("jacc_ppm"), (col("jacc_ppm") >= FpDupPpm).as("is_dup"))
  }

  val SpanMinRun = 4 // min consecutive duplicated shingles per span
                     // (span length >= SpanMinRun + ShingleN - 1 tokens)

  /** Exact-substring SPAN dedup (the ExactSubstr half of the standard
    * dedup stack, Lee et al. 2021 "Deduplicating Training Data Makes
    * Language Models Better"): per document, the maximal runs of
    * >= [[SpanMinRun]] CONSECUTIVE shingles whose content appears at
    * least twice corpus-wide — i.e. the located char/token spans that
    * `dup_ngram_coverage` can only count. Reported as token offsets
    * ([start_tok, end_tok] inclusive), which is what a
    * CCNet/RefinedWeb-class pipeline actually cuts ([[spanExcise]]
    * does the cutting).
    *
    * NOT a corpus-wide suffix array: duplication is detected on the
    * 60-bit shingle-hash index (one positioned explode of the corpus,
    * one partial-aggregable groupBy on the hash — the shape of the
    * persisted fingerprint store), runs are merged with the
    * gaps-and-islands trick (pos - row_number is constant within a
    * consecutive run), and nothing ever pairs documents — cost is
    * O(corpus tokens) + one hash-keyed shuffle at any scale. The h60
    * hash (not the mod-2^20 minhash domain) keeps the collision rate
    * negligible, and the oracle computes the SAME hash, so the check
    * is engine-exact even on a collision. */
  def dedupSpans(s: SparkSession, d: String): DataFrame = {
    val pos = positioned(s, d)
    // duplicated = the shingle content occurs >= 2 times corpus-wide
    // (any doc, including a repeat within the same doc — ExactSubstr
    // counts all corpus occurrences)
    val dupH = pos.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.join(dupH, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"), count(lit(1)).as("n"))
      .filter(col("n") >= SpanMinRun)
      .select(col("doc_id"),
        col("sp").cast("long").as("start_tok"),
        (col("ep") + (ShingleN - 1)).cast("long").as("end_tok"),
        col("n").cast("long").as("n_shingles"),
        (col("ep") - col("sp") + ShingleN).cast("long").as("n_tokens"))
  }

  /** INGEST-TIME ExactSubstr — [[dedupSpans]]' incremental sibling
    * (the span-level `dedup_incremental`): for the incoming batch
    * (doc_id % [[IncMod]] == 0, the shared batch convention), the
    * token spans of >= [[SpanMinRun]] consecutive shingles ALREADY
    * PRESENT in the index (everything else) — the probe a production
    * pipeline runs per crawl batch against its persisted shingle-hash
    * store, without re-deduping the index against itself. Because
    * index presence implies corpus occurrence >= 2, every located
    * incremental span lies inside some full-corpus [[dedupSpans]]
    * span (the spec pins this containment); within-batch repeats are
    * deliberately NOT flagged here — that is the full operator's job
    * on the next index rebuild. Shape: the index side is one
    * positioned explode + distinct (the persisted store), the batch
    * side probes it with one equi-semi-join, then the same
    * gaps-and-islands merge — per-ingest cost is O(batch tokens) +
    * the join fan-in, independent of index size. */
  def spanDedupIncremental(s: SparkSession, d: String): DataFrame = {
    val isInc = col("doc_id") % IncMod === 0
    val pos = positioned(s, d)
    val idx = pos.filter(!isInc).select(col("h")).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.filter(isInc).join(idx, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"), count(lit(1)).as("n"))
      .filter(col("n") >= SpanMinRun)
      .select(col("doc_id"),
        col("sp").cast("long").as("start_tok"),
        (col("ep") + (ShingleN - 1)).cast("long").as("end_tok"),
        col("n").cast("long").as("n_shingles"),
        (col("ep") - col("sp") + ShingleN).cast("long").as("n_tokens"))
  }

  /** The ExactSubstr HEADLINE statistic (Lee et al. 2021 report
    * "X% of tokens sit inside duplicated substrings"), per source:
    * doc counts, docs carrying at least one located span, exact token
    * totals, tokens covered by [[dedupSpans]] spans and the coverage
    * in integer ppm — the number that sizes the span-dedup budget per
    * corpus slice. Covered tokens are the UNION of span extents, not
    * a sum: two runs separated by < ShingleN-1 shingle positions have
    * OVERLAPPING token extents (the n-1 extension), so the count
    * explodes the span-bounded position set and distincts it — the
    * same covered set `span_excise` cuts, so the two stay consistent
    * by construction. One span-bounded explode + one corpus-pass
    * token total + one broadcast-sized join per source. */
  def dupSpanStats(s: SparkSession, d: String): DataFrame = {
    val perDoc = dedupSpans(s, d)
      .select(col("doc_id"),
        explode(sequence(col("start_tok"), col("end_tok"))).as("pos"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("cov"))
    val tot = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), size(col("tk")).cast("long").as("nt"))
    tot.join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cov").isNotNull, 1L).otherwise(0L)).cast("long").as("docs_with_spans"),
        sum(col("nt")).cast("long").as("total_tokens"),
        sum(coalesce(col("cov"), lit(0L))).cast("long").as("span_tokens"))
      .withColumn("span_ppm",
        when(col("total_tokens") > 0,
          expr("(span_tokens * 1000000) div total_tokens")).otherwise(lit(0L)))
  }

  /** Span EXCISION — [[dedupSpans]] applied: each document's
    * duplicated spans are cut and the remaining tokens re-joined (the
    * report locates, this removes — together they are the ExactSubstr
    * pipeline stage). Kept per doc: every token position not covered
    * by any located span; `n_removed` is the excised token count (0
    * for clean docs, all tokens for a fully duplicated doc, whose
    * clean_text degrades to ''). Shape: the span table explodes to
    * covered positions (span-bounded, tiny vs the corpus), the corpus
    * explodes to positioned tokens once, one anti equi-join, one
    * per-doc re-aggregation — no pairing, no second duplication
    * detection pass. */
  def spanExcise(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("tk"))
    val cover = dedupSpans(s, d)
      .select(col("doc_id"),
        explode(sequence(col("start_tok"), col("end_tok"))).as("pos"))
      .distinct()
    val kept = base
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("long").as("pos"), col("tok"))
      .join(cover, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("ct"))
    base.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ct"), lit("")).as("clean_text"),
        (size(col("tk")).cast("long") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }

  /** Per-source POST-EXCISION corpus size — the number a dedup report
    * carries beside `dedup_savings` for the span family: after
    * [[spanExcise]] cuts every duplicated span, how many tokens each
    * source still contributes (before/removed/after + removed ppm +
    * docs touched). `dup_span_stats` reports coverage of the located
    * spans; this reports the YIELD of actually cutting them — the two
    * reconcile by construction (removed = the same union-of-extents
    * covered set; spec-pinned), which is the audit line a 100 TB
    * span-dedup run closes before shipping a corpus version. One
    * partial-agg groupBy over [[spanExcise]]'s per-doc output joined
    * to the sources-projection; Catalyst prunes the clean_text
    * aggregation out of the excision subplan since nothing here
    * reads it (the composition costs the position anti-join, not the
    * string rebuild). */
  def spanExciseSavings(s: SparkSession, d: String): DataFrame = {
    val sz = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), size(col("tk")).cast("long").as("nt"))
    spanExcise(s, d)
      .join(sz, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).cast("long").as("docs_excised"),
        sum(col("nt")).cast("long").as("tokens_before"),
        sum(col("n_removed")).cast("long").as("tokens_removed"))
      .withColumn("tokens_after", col("tokens_before") - col("tokens_removed"))
      .withColumn("removed_ppm",
        when(col("tokens_before") > 0,
          expr("(tokens_removed * 1000000) div tokens_before")).otherwise(lit(0L)))
  }

  // thresholds for the composite corpus filter (C4-style heuristics)
  val MinWords    = 20
  val MaxMeanWord = 12.0
  val MinStopRatio = 0.01

  /** End-to-end corpus cleaning — the composition a training-data
    * pipeline actually ships: quality-filter the documents (length,
    * word-shape, stopword heuristics), then drop MinHash near-dups.
    * One pass for the filters + the banded dedup; the quality
    * predicates prune the corpus before any hashing happens. */
  def corpusClean(s: SparkSession, d: String): DataFrame = {
    val q = textQuality(s, d)
      .filter(col("n_words") >= MinWords &&
        col("mean_word_len") <= MaxMeanWord &&
        col("stop_ratio") >= MinStopRatio)
      .select("doc_id")
    val dupIds = pairJaccard(s, d).filter(col("jacc") >= JaccT).select(col("idb").as("doc_id"))
    q.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Filter-funnel report: how many documents each quality rule of
    * [[corpusClean]] drops, applied in SEQUENCE (the release report
    * that says which rule is doing the work — a rule dropping 40% of
    * the corpus gets its threshold re-examined; a rule dropping
    * nothing is dead weight). One conditional-aggregation pass over
    * the same quality frame + the near-dup flag (no per-rule rescan),
    * unpivoted to one row per stage with `stack`. NULL-text docs fail
    * the first rule (coalesce to false), matching corpusClean's
    * filter semantics. */
  def filterFunnel(s: SparkSession, d: String): DataFrame = {
    val dupIds = pairJaccard(s, d).filter(col("jacc") >= JaccT)
      .select(col("idb").as("doc_id")).distinct().withColumn("isdup", lit(true))
    val q = textQuality(s, d).join(dupIds, Seq("doc_id"), "left")
      .select(
        coalesce(col("n_words") >= MinWords, lit(false)).as("f1"),
        coalesce(col("mean_word_len") <= MaxMeanWord, lit(false)).as("f2"),
        coalesce(col("stop_ratio") >= MinStopRatio, lit(false)).as("f3"),
        coalesce(col("isdup"), lit(false)).as("isdup"))
    // coalesce: SUM over zero rows is NULL — an empty ingest must
    // report zeros, not a NULL-riddled funnel
    q.agg(
        count(lit(1)).as("n0"),
        coalesce(sum(when(col("f1"), 1L).otherwise(0L)), lit(0L)).as("n1"),
        coalesce(sum(when(col("f1") && col("f2"), 1L).otherwise(0L)), lit(0L)).as("n2"),
        coalesce(sum(when(col("f1") && col("f2") && col("f3"), 1L).otherwise(0L)), lit(0L)).as("n3"),
        coalesce(sum(when(col("f1") && col("f2") && col("f3") && !col("isdup"), 1L).otherwise(0L)), lit(0L)).as("n4"))
      .select(expr(
        """stack(4,
          |  1L, 'min_words',     n0, n1,
          |  2L, 'mean_word_len', n1, n2,
          |  3L, 'stop_ratio',    n2, n3,
          |  4L, 'near_dup',      n3, n4) AS (stage, rule, n_in, n_out)""".stripMargin))
      .select(col("stage"), col("rule"), col("n_in"), col("n_out"),
        (col("n_in") - col("n_out")).as("n_dropped"))
  }

  /** Cluster-label table cached per data dir (the sigCache pattern):
    * one narrow (doc_id, cluster_id) row per doc, shared by
    * `dup_clusters`, `dup_cluster_sizes` and `dedup_keep_best` — each
    * otherwise re-runs the verified-pair join + union-find tail.
    * Released by [[Caches.clearAll]]; warmed by [[warmCaches]]. */
  private val dupLabelCache = new Caches.PerDir[DataFrame]("TextOps.dupLabel", Seq(_))

  /** Near-duplicate CLUSTER assignment — the transitive closure the
    * pairwise dedup operators stop short of: every document gets the
    * minimum doc_id of its connected component in the verified
    * near-dup pair graph (singletons keep their own id). Web-scale
    * dedup publishes exactly this (canonical doc + cluster id). The
    * components come from [[UnionFind.components]]: one edge-count
    * gate, a driver union-find tail below it and the checkpointed
    * pointer-jumping min-label loop above it. The DuckDB twin is a
    * recursive-CTE transitive closure — exact same fixpoint. */
  def dupClusters(s: SparkSession, d: String): DataFrame =
    dupLabelCache.get(d)(
      dupClusters(s, d, UnionFind.TailMax)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** [[dupClusters]] uncached, with an explicit driver-tail gate so
    * the spec can force the distributed loop (`tailMax = -1`). */
  def dupClusters(s: SparkSession, d: String, tailMax: Long): DataFrame =
    UnionFind.components(Tables.documents(s, d).select(col("doc_id")),
      pairJaccard(s, d).filter(col("jacc") >= JaccT).select("ida", "idb"), tailMax)

  /** Best-representative dedup: one KEPT document per near-dup
    * cluster, chosen by quality rather than id — production pipelines
    * keep the best member of a duplicate class (cf. CCNet / RefinedWeb
    * keep-longest), where `dedup_minhash` keeps the id-canonical one.
    * Quality key: token count DESC (integer-exact cross-engine; a
    * double score would make the argmax tie-break engine-dependent),
    * ties → lowest doc_id; NULL-text docs rank below everything.
    *
    * Scale shape: [[dupClusters]]'s label table (one narrow row per
    * doc) joined to the token-count projection, then ONE
    * partial-aggregable max_by per cluster — no pairwise work beyond
    * what the banded cluster labels already paid. */
  def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val nw = docs(s, d).select(col("doc_id"), size(col("tk")).cast("long").as("n_words"))
    dupClusters(s, d)
      .join(nw, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max_by(
        struct(col("doc_id"), col("n_words")),
        struct(coalesce(col("n_words"), lit(-1L)), -col("doc_id"))).as("best"))
      .select(col("best.doc_id").as("doc_id"), col("cluster_id"),
        col("best.n_words").as("n_words"))
  }

  /** Per-document novelty: the share (ppm) of a document's distinct
    * shingles it INTRODUCES to the corpus (first occurrence in ingest
    * = doc_id order) — the redundancy/novelty curation signal: a
    * near-zero score means the document restates content the corpus
    * already holds even when no single pair crosses the dedup
    * threshold, and the aggregate novelty curve is `vocab_growth`'s
    * shingle-level twin. Rides the cached signature table (zero new
    * corpus scans): one shingle explode + one first-occurrence
    * partial-agg groupBy + one join back, all integer counts. Docs
    * with no shingles — NULL text or fewer than [[ShingleN]] words,
    * both of which shingle to the EMPTY set — report (0, 0, NULL ppm)
    * rows, never vanish. */
  def docNovelty(s: SparkSession, d: String): DataFrame = {
    val ex = hashed(s, d).select(col("doc_id"), explode(col("shset")).as("sh"))
    val first = ex.groupBy(col("sh")).agg(min(col("doc_id")).as("fdoc"))
    val novel = ex.join(first, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("fdoc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
    hashed(s, d).select(col("doc_id"), size(col("shset")).cast("long").as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("novel"), lit(0L)).as("n_novel"),
        expr("CASE WHEN n_shingles > 0 THEN (coalesce(novel, 0) * 1000000) div n_shingles END")
          .cast("long").as("novelty_ppm"))
  }

  /** The dedup-impact KPI a training-data pipeline publishes per
    * ingest batch: per source, how many documents/tokens exact dedup
    * (content-hash keep-first, `dedup_exact`'s rule) and near-dup
    * keep-best dedup (`dedup_keep_best`'s rule — one best doc per
    * verified cluster) would remove, with the token savings in
    * integer ppm. This is the number that justifies the dedup
    * budget — "N% of this source's tokens are duplicates".
    *
    * Scale shape: rides the session-cached cluster-label table (one
    * narrow row per doc — the expensive pair work is already paid and
    * shared with the dup family), one content-hash window, one
    * cluster-keyed keep-best aggregate, one partial-agg groupBy per
    * source. NULL-text docs hash to one NULL group (keep-first
    * semantics identical to `dedup_exact`). */
  def dedupSavings(s: SparkSession, d: String): DataFrame = {
    val exactW = Window.partitionBy(col("chash")).orderBy(col("doc_id"))
    // dedup_keep_best's keep rule inlined on this operator's own
    // projection (spec-pinned equivalent) — one corpus pass total
    // beside the cached label table, instead of a second token scan
    val bestW = Window.partitionBy(col("cluster_id"))
      .orderBy(coalesce(col("n_words"), lit(-1L)).desc, col("doc_id"))
    docs(s, d).select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_words"),
        sha2(col("text"), 256).as("chash"))
      .withColumn("ern", row_number().over(exactW))
      .join(dupClusters(s, d), Seq("doc_id"))
      .withColumn("brn", row_number().over(bestW))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_words")), lit(0L)).cast("long").as("n_tokens"),
        sum(when(col("ern") > 1, 1L).otherwise(0L)).as("exact_dup_docs"),
        coalesce(sum(when(col("ern") > 1, col("n_words"))), lit(0L)).cast("long")
          .as("exact_dup_tokens"),
        sum(when(col("brn") > 1, 1L).otherwise(0L)).as("near_dup_docs"),
        coalesce(sum(when(col("brn") > 1, col("n_words"))), lit(0L)).cast("long")
          .as("near_dup_tokens"))
      .withColumn("savings_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (near_dup_tokens * 1000000) div n_tokens END")
          .cast("long"))
  }

  /** The FULL dedup stack as one composed report — what shipping the
    * whole pipeline (exact → near → span) actually leaves of each
    * source, which none of the per-stage KPIs give: `dedup_savings`
    * prices exact and near-dup removal INDEPENDENTLY, and
    * `span_excise_savings` cuts spans located on the FULL corpus.
    * Stage semantics are the production order: (1) exact keep-first
    * per content hash; (2) near-dup keep-best per verified cluster,
    * ranked among EXACT SURVIVORS only (a removed exact dup must not
    * win its cluster); (3) ExactSubstr spans RE-LOCATED on the
    * survivor corpus (occurrence ≥ 2 among survivors — duplication
    * that dedup already removed must not be double-counted, the
    * subtlety that makes the naive compose-the-three-reports number
    * wrong) and their union-of-extents token coverage excised.
    * Per source: doc/token totals, per-stage removals, and the final
    * corpus size with its retention ppm.
    *
    * Scale shape: rides the cached cluster-label table; one
    * content-hash window + one per-cluster keep-best window over the
    * narrow survivor frame; the span stage is the [[dedupSpans]]
    * shape (positioned explode + h60 partial-agg + islands) on the
    * survivor subset — O(survivor tokens) + one hash shuffle;
    * nothing pairs documents anywhere. */
  def dedupStackReport(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_words"),
        sha2(col("text"), 256).as("chash"))
      .withColumn("ern",
        row_number().over(Window.partitionBy(col("chash")).orderBy(col("doc_id"))))
      .join(dupClusters(s, d), Seq("doc_id"))
    // the per-doc keep verdict is TWO narrow columns consumed three
    // times (survivor set for the span probe, dupH side, final agg) —
    // pin it to one evaluation so the plan doesn't re-derive the
    // hash+cluster windows per consumer (the sketch-table rule)
    val kept = base.filter(col("ern") === 1)
      .withColumn("brn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(coalesce(col("n_words"), lit(-1L)).desc, col("doc_id"))))
      .select(col("doc_id"), (col("brn") === 1).as("kept"))
      .localCheckpoint(false)
    val survivors = kept.filter(col("kept")).select(col("doc_id"))
    // the cached positioned table filtered to survivors — filtering
    // after the explode is row-equivalent to exploding the filtered
    // corpus, and rides the one shared materialization
    val pos = positioned(s, d)
      .join(survivors, Seq("doc_id"), "left_semi")
    val dupH = pos.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cov = pos.join(dupH, Seq("h"), "left_semi")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"), count(lit(1)).as("n"))
      .filter(col("n") >= SpanMinRun)
      .select(col("doc_id"),
        explode(sequence(col("sp"), col("ep") + (ShingleN - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("cov"))
    base
      .join(kept, Seq("doc_id"), "left")
      .withColumn("surv", coalesce(col("kept"), lit(false)))
      .join(cov, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_words")), lit(0L)).cast("long").as("n_tokens"),
        sum(when(col("ern") > 1, 1L).otherwise(0L)).as("exact_removed_docs"),
        sum(when(col("ern") === 1 && !col("surv"), 1L).otherwise(0L)).as("near_removed_docs"),
        sum(when(col("surv"), 1L).otherwise(0L)).as("surviving_docs"),
        coalesce(sum(when(col("surv"), col("n_words"))), lit(0L)).cast("long")
          .as("surviving_tokens"),
        coalesce(sum(when(col("surv"), coalesce(col("cov"), lit(0L)))), lit(0L)).cast("long")
          .as("span_tokens_removed"))
      .withColumn("final_tokens", col("surviving_tokens") - col("span_tokens_removed"))
      .withColumn("final_ppm",
        expr("CASE WHEN n_tokens > 0 THEN (final_tokens * 1000000) div n_tokens END")
          .cast("long"))
  }

  /** Materialize the session-cached signature and segment tables for
    * `d` — the bench's named SETUP step. The persisted
    * tokenize→shingle→md5 projection is the shared kernel of the whole
    * dedup family; materializing it here (and charging the cost to an
    * explicit `setup_sec`) means no per-query timing silently absorbs
    * the one-off build under whatever run ordering the harness uses —
    * the round-11 `filter_funnel` driver-vs-local divergence was
    * unattributable precisely because materialization cost landed on
    * whichever consumer ran first. */
  def warmCaches(s: SparkSession, d: String): Unit = {
    hashed(s, d).queryExecution.toRdd.count()
    segmentRows(s, d).queryExecution.toRdd.count()
    dupClusters(s, d).queryExecution.toRdd.count()
    positioned(s, d).queryExecution.toRdd.count()
    ()
  }

  /** Per-(source, lang) corpus report — the monitoring surface a
    * training-data pipeline publishes per ingest batch: document and
    * token volumes, exact mean lengths (integer-sum ratios), and the
    * short-document share. One partial-aggregable groupBy. */
  val ShortDocWords = 30
  def corpusStats(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        sum(size(col("tk"))).as("sum_words"),
        count(when(size(col("tk")) < ShortDocWords, lit(1))).as("n_short"))
      .select(col("source"), col("lang"), col("n_docs"),
        col("sum_chars").cast("long").as("sum_chars"),
        col("sum_words").cast("long").as("sum_words"),
        (col("sum_chars").cast("double") / col("n_docs").cast("double")).as("mean_chars"),
        (col("n_short").cast("double") / col("n_docs").cast("double")).as("short_ratio"))

  // ---- segment-level dedup (CCNet-style line dedup) --------------

  /** Words per dedup segment — this corpus has no newlines, so the
    * CCNet "line" unit is a fixed-width word window. */
  val SegWords = 8

  /** (doc_id, segh, wc) segment rows, persisted once per data dir:
    * the tokenize→window→hash subtree feeds BOTH the corpus-wide
    * frequency groupBy and the join back, and without materialization
    * the plan evaluates it twice — two full `documents` scans (the
    * same disease the minhash family had before [[hashed]]; same
    * cure). The cached projection is 3 narrow columns. Lifetime
    * mirrors [[sigCache]]: session-long for the gate/bench, released
    * by [[Caches.clearAll]]. */
  private val segCache = new Caches.PerDir[DataFrame]("TextOps.seg", Seq(_))

  private def segmentRows(s: SparkSession, d: String): DataFrame =
    segCache.get(d) {
      val nSeg = floor((size(col("tk")) + lit(SegWords - 1)).cast("double") / lit(SegWords)).cast("int")
      val segCol = transform(sequence(lit(0), nSeg - 1),
        i => concat_ws(" ", slice(col("tk"), i * SegWords + 1, lit(SegWords))))
      docs(s, d).select(col("doc_id"), explode(segCol).as("seg"))
        .select(col("doc_id"), Portable.h60(col("seg")).as("segh"),
          size(split(col("seg"), " ")).as("wc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
   }

  /** Segment-level exact dedup report (the CCNet/RefinedWeb shape:
    * hash every line across the WHOLE corpus, drop lines seen in
    * multiple documents as boilerplate). Per document: segment count,
    * duplicated-segment count/ratio, and the word count that survives
    * dropping cross-document duplicate segments. Scale shape: explode
    * to (segment-hash, doc) rows, one partial-aggregable groupBy on
    * the hash (THE corpus-wide shuffle), join back on the same key
    * (co-partitioned), re-aggregate per doc. */
  def dedupSegments(s: SparkSession, d: String): DataFrame = {
    val segRows = segmentRows(s, d)
    val freq = segRows.groupBy(col("segh")).agg(countDistinct(col("doc_id")).as("ndocs"))
    segRows.join(freq, Seq("segh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_segments"),
        sum(col("wc")).as("total_words"),
        sum(when(col("ndocs") < 2, col("wc")).otherwise(0L)).as("kept_words"))
      .select(col("doc_id"), col("n_segments"),
        col("n_dup_segments").cast("long").as("n_dup_segments"),
        col("total_words").cast("long").as("total_words"),
        col("kept_words").cast("long").as("kept_words"),
        (col("n_dup_segments").cast("double") / col("n_segments").cast("double")).as("dup_ratio"))
  }

  // ---- Gopher-style repetition quality ---------------------------

  /** Gopher quality-filter signals (Rae et al. 2021 §A1.1, the
    * repetition rules a production corpus filter applies on top of
    * [[textQuality]]'s basics): duplicate word-n-gram fractions, the
    * most-frequent-word dominance ratio, and the combined pass flag
    * at the published thresholds.
    *
    * Scale shape: the most-frequent-word count is explode +
    * `groupBy(doc_id, term)` + max — two partial-aggregable shuffles,
    * LINEAR in document length (a per-row lambda mode scan is
    * O(words x distinct words): ~1e9 comparisons on one core for a
    * single 100k-word doc, Gopher's own domain). The array-derived
    * metrics ride through the aggregation as per-group constants
    * (max of a constant), so the whole operator stays one corpus
    * scan with no join back. The wider shuffle rows (4 extra double
    * buffers per (doc, term) group) are the accepted price: the
    * narrow-row alternative re-derives the constants in a second
    * projection joined back on doc_id, and tokenize+shingle is the
    * dominant CPU kernel — one corpus pass with wider rows beats two
    * passes with narrow ones.
    *
    * Degenerate docs survive: `explode_outer` keeps a (doc_id, NULL)
    * row for NULL/empty text (a plain `explode` would silently drop
    * the document — split(NULL)→NULL→no rows), `count(term)` gives
    * that row top_cnt 0, and the ratio guard yields NULL metrics —
    * exactly the row of NULLs the pre-aggregation projection and the
    * DuckDB twin produce on a real corpus containing NULL text. */
  def qualityGopher(s: SparkSession, d: String): DataFrame = {
    def dupFrac(g: Column): Column =
      when(size(g) > 0,
        (size(g) - size(array_distinct(g))).cast("double") / size(g).cast("double"))
        .otherwise(lit(0.0))
    val consts = Seq("n_words", "mean_word_len", "dup_2gram_frac", "dup_3gram_frac")
    docs(s, d)
      .withColumn("g2", Portable.shingles(col("tk"), 2))
      .withColumn("g3", Portable.shingles(col("tk"), 3))
      .select(col("doc_id"),
        size(col("tk")).as("n_words"),
        ((length(col("text")) - (size(col("tk")) - 1)).cast("double") /
          size(col("tk")).cast("double")).as("mean_word_len"),
        dupFrac(col("g2")).as("dup_2gram_frac"),
        dupFrac(col("g3")).as("dup_3gram_frac"),
        explode_outer(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col(consts.head)).as(consts.head),
        consts.tail.map(c => max(col(c)).as(c)) :+ count(col("term")).as("cnt"): _*)
      .groupBy(col("doc_id"))
      .agg(max(col(consts.head)).as(consts.head),
        consts.tail.map(c => max(col(c)).as(c)) :+ max(col("cnt")).as("top_cnt"): _*)
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("dup_2gram_frac"), col("dup_3gram_frac"),
        when(col("n_words") > 0,
          col("top_cnt").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(null).cast("double")).as("top_word_ratio"))
      .withColumn("gopher_pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("dup_2gram_frac") < 0.2 && col("dup_3gram_frac") < 0.18 &&
          col("top_word_ratio") < 0.2)
  }

  /** Gopher duplicate-LINE signals (Rae et al. 2021 §A1.1, the other
    * half of the repetition table [[qualityGopher]]'s n-gram/word
    * rules leave): fraction of lines that are repeats of an earlier
    * line, and the fraction of characters inside those repeated
    * occurrences — boilerplate navigation/footer text shows up as
    * line-level repetition long before it dominates n-grams.
    *
    * Scale shape: same as [[qualityGopher]] — explode the line list,
    * two partial-aggregable groupBys (per-(doc, line) counts, then
    * per-doc sums), one corpus scan, LINEAR in document length. All
    * ratios divide two exact integer sums, so the DuckDB twin (a
    * per-row list recompute) lands on identical doubles. NULL-text
    * docs keep a row of NULL metrics (explode_outer + the n_lines
    * gate), like every corpus operator here. */
  def qualityRepetition(s: SparkSession, d: String): DataFrame = {
    val perLine = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
        explode_outer(col("ls")).as("line"))
      .groupBy(col("doc_id"), col("line"))
      .agg(max(col("n_lines")).as("n_lines"), count(col("line")).as("cnt"))
    perLine
      .groupBy(col("doc_id"))
      .agg(max(col("n_lines")).as("n_lines"),
        sum(when(col("cnt") > 0, col("cnt") - 1).otherwise(lit(0L))).as("dup_lines"),
        sum(when(col("cnt") > 1, (col("cnt") - 1) * length(col("line")).cast("long"))
          .otherwise(lit(0L))).as("dup_chars"),
        sum(when(col("cnt") > 0, col("cnt") * length(col("line")).cast("long"))
          .otherwise(lit(0L))).as("tot_chars"))
      .select(col("doc_id"), col("n_lines"),
        when(col("n_lines").isNotNull,
          col("dup_lines").cast("double") / col("n_lines").cast("double"))
          .as("dup_line_frac"),
        when(col("n_lines").isNotNull,
          when(col("tot_chars") > 0,
            col("dup_chars").cast("double") / col("tot_chars").cast("double"))
            .otherwise(lit(0.0)))
          .as("dup_line_char_frac"))
      .withColumn("rep_pass",
        when(col("n_lines").isNotNull,
          col("dup_line_frac") < 0.3 && col("dup_line_char_frac") < 0.2))
  }

  // ---- benchmark decontamination ---------------------------------

  /** Eval-set membership: a fixed hash-free slice of the corpus
    * stands in for the benchmark suite a production pipeline
    * decontaminates against (the suite arrives as its own small
    * table; the slice keeps the oracle on one input). */
  val EvalMod = 50L

  /** Benchmark n-gram decontamination — the training-data hygiene
    * step every published pipeline runs (GPT-3 appendix C / Gopher
    * §A1.2 shape: drop or flag training docs sharing word n-grams
    * with the eval suite). Per non-eval doc with at least one
    * overlap: distinct-shingle count, hit count, contamination
    * fraction. Scale shape: the eval side of the join is
    * benchmark-sized (MBs against a 100 TB corpus) — distinct
    * shingle hashes, equi-joined (AQE broadcasts a small build side
    * on its own); the corpus side is one explode off the persisted
    * [[hashed]] signature table, so decontamination adds NO extra
    * corpus scan when run alongside the dedup family. One
    * partial-aggregable groupBy. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val dh = hashed(s, d)
      .select(col("doc_id"), array_distinct(col("hs")).as("dh"))
    val evalSh = dh.filter(col("doc_id") % EvalMod === 0)
      .select(explode(col("dh")).as("h")).distinct()
    dh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"), size(col("dh")).as("n_sh"), explode(col("dh")).as("h"))
      .join(evalSh, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_sh")).as("n_sh"), count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_sh").cast("double")).as("contam_frac"))
  }

  // ---- deterministic stratified sampling -------------------------

  /** Hash-based stratified sampling — the reproducible per-source
    * downsampling step of a training-data mix: every (doc, salt) pair
    * maps to a uniform in [0, 1e6) via the counter-hash (no RNG
    * state, partitioning-independent, replayable), and each source
    * stratum keeps docs under its rate. Rates here derive from the
    * source hash (4 tiers); a production mix passes an explicit
    * rate table. One scan, no shuffle. */
  val SampleSalt = "s1"
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("rate_ppm", (Portable.h60(col("source")) % 4L) * 250000L + 125000L)
      .withColumn("u_ppm",
        Portable.h60(concat(col("doc_id").cast("string"), lit(":" + SampleSalt))) % 1000000L)
      .filter(col("u_ppm") < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("rate_ppm"), col("u_ppm"))

  // ---- TF-IDF top terms ------------------------------------------

  /** Top-k characteristic terms per document, scored tf * N / df —
    * the log-free IDF weighting (ln is not bit-portable cross-engine;
    * the ranking intent is identical). Scale shape: explode + two
    * partial-aggregable groupBys; the document-frequency table is
    * vocabulary-sized, so the tf⋈df join carries NO broadcast hint —
    * a web corpus has 10⁸+ distinct terms and a forced broadcast
    * would OOM the driver; AQE still picks a broadcast join when the
    * vocabulary measures small, and falls back to a sort-merge join
    * co-partitioned on `term` (the same key tf was just aggregated
    * on, so the shuffle is already in place) when it doesn't. The
    * top-k window repartitions by doc. */
  val TfidfK = 3
  def tfidfTopk(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), explode(col("tk")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs").cast("double") / col("df").cast("double"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= TfidfK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"),
        col("rank").cast("long").as("rank"))
  }

  // ---- document chunking -----------------------------------------

  val ChunkTokens = 256L
  val ChunkStride = 192L

  /** Sliding-window document chunking — the standard pre-training
    * splitting step that turns long documents into model-context-sized
    * pieces with a fixed token overlap (stride < window keeps
    * cross-boundary context). The complementary half of
    * [[graft.operators.MixOps]]'s `pack_sequences`: packing
    * concatenates SHORT docs up to the context length, chunking splits
    * LONG docs down to it. Window starts advance by ChunkStride while
    * tokens remain past the previous window:
    * K = 1 + ceil(max(0, n − ChunkTokens) / ChunkStride); the final
    * chunk may be short. NULL-text docs keep a single all-NULL chunk
    * row (explode_outer), like every corpus operator here.
    *
    * Scale shape: one scan, pure explode projection — zero shuffles,
    * row growth n/stride, linear in corpus size; the chunk_text slice
    * re-reads the token array already in the row, so no join-back. */
  def chunkDocuments(s: SparkSession, d: String): DataFrame = {
    val nTok = size(col("tk")).cast("long")
    val k = when(col("n").isNull, lit(null).cast("long"))
      .when(col("n") <= ChunkTokens, lit(1L))
      .otherwise(expr(s"1 + (n - $ChunkTokens + ${ChunkStride - 1}) div $ChunkStride"))
    val len = least(col("n") - col("chunk_idx") * ChunkStride, lit(ChunkTokens))
    docs(s, d).select(col("doc_id"), col("tk"), nTok.as("n"))
      .withColumn("k", k)
      .select(col("doc_id"), col("tk"), col("n"),
        explode_outer(when(col("k").isNotNull, sequence(lit(0L), col("k") - 1)))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("chunk_start"),
        len.as("n_chunk_tokens"),
        // concat_ws treats a NULL array as "" (DuckDB's array_to_string
        // keeps NULL), so the no-chunk row needs an explicit NULL
        when(col("chunk_idx").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            slice(col("tk"), (col("chunk_idx") * ChunkStride + 1).cast("int"),
              len.cast("int"))))
          .as("chunk_text"))
  }

  /** Sliding-window chunking in LEARNED-token space — [[chunkDocuments]]
    * re-keyed on the fitted tokenizer, completing the r16 rule that
    * fit, encode, pack, and chunk all budget the SAME tokens the
    * model will see: windows of [[ChunkTokens]] ids advancing by
    * [[ChunkStride]] over each document's [[bpeEncode]]d id array,
    * each chunk emitting its ID SLICE (what a dataloader reads), not
    * a re-tokenized text slice. Docs that encode to nothing (no
    * vocab words) have nothing to chunk and no row — the whitespace
    * chunker keeps its NULL-row convention for those. Scale shape:
    * the encode pass (one scan + vocab broadcast) then a pure explode
    * projection — zero additional shuffles, row growth n/stride.
    * Contract note (the BMP-contract pattern): the slice offsets cast
    * to int, so a single document's id stream is bounded by Int — the
    * same 2^31 ceiling Spark's array values carry anyway; per-DOC
    * streams at that length are a malformed input, not a scale case
    * (100 TB scale grows the number of docs, not one doc's ids). */
  def chunkDocumentsBpe(s: SparkSession, d: String): DataFrame = {
    val k = when(col("n") <= ChunkTokens, lit(1L))
      .otherwise(expr(s"1 + (n - $ChunkTokens + ${ChunkStride - 1}) div $ChunkStride"))
    val len = least(col("n") - col("chunk_idx") * ChunkStride, lit(ChunkTokens))
    bpeEncode(s, d).select(col("doc_id"), col("token_ids"), col("n_ids").as("n"))
      .withColumn("k", k)
      .select(col("doc_id"), col("token_ids"), col("n"),
        explode(sequence(lit(0L), col("k") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("chunk_start"),
        len.as("n_chunk_ids"),
        slice(col("token_ids"), (col("chunk_idx") * ChunkStride + 1).cast("int"),
          len.cast("int")).as("chunk_ids"))
  }

  // ---- containment + corpus report extras ------------------------

  val ContainT = 0.8 // doc-in-doc containment flag threshold

  /** Asymmetric near-dup detection: n-gram CONTAINMENT |A∩B| / |A|
    * over the same LSH candidate buckets as `ngram_jaccard`. Jaccard
    * misses the doc-embedded-in-doc case (a page quoted inside a much
    * larger page scores low symmetric overlap); containment flags it —
    * the Broder (1997) resemblance/containment pair. Same scale shape
    * as the Jaccard verify: candidates are banded-LSH bucket pairs
    * (never all-pairs), the shingle sets ride the persisted signature
    * table, and the per-pair kernel is int/int division (bit-exact
    * cross-engine). Short docs with no shingles yield NULL containment
    * on that side rather than a 0/0. */
  def minhashContainment(s: SparkSession, d: String): DataFrame =
    withShingles(s, d, candidates(s, d))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .select(col("ida"), col("idb"),
        when(size(col("sha")) > 0,
          col("inter").cast("double") / size(col("sha")).cast("double")).as("contain_a"),
        when(size(col("shb")) > 0,
          col("inter").cast("double") / size(col("shb")).cast("double")).as("contain_b"))
      .withColumn("is_contained",
        (coalesce(col("contain_a"), lit(0.0)) >= ContainT) ||
          (coalesce(col("contain_b"), lit(0.0)) >= ContainT))

  val IncMod = 5 // docs with doc_id % IncMod == 0 form the "incoming batch"

  /** Incremental (batch-vs-index) dedup — the daily-ingest shape: an
    * INCOMING batch (here the deterministic doc_id % IncMod == 0
    * slice) is screened against the EXISTING corpus index, exact
    * (content hash) and near (LSH bands + Jaccard verify), without
    * ever re-deduping the index against itself. Within-batch dup
    * handling stays with `dedup_exact`/`dedup_minhash`; this operator
    * is the lookup against history. Scale shape: the index side is
    * exactly the persisted signature/band table a production pipeline
    * maintains between ingests — both probes are equi-joins into it
    * (hash, and capped band buckets), so per-ingest cost is
    * O(batch + matched buckets), independent of index size beyond the
    * join fan-in the [[Lsh.MaxBucket]] cap bounds. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val isInc = col("doc_id") % IncMod === 0
    val h = Tables.documents(s, d).select(col("doc_id"), sha2(col("text"), 256).as("chash"))
    val exactDup = h.filter(isInc)
      .join(h.filter(!isInc).select(col("chash")).distinct(), Seq("chash"), "left_semi")
      .select("doc_id")
    val b = Lsh.capped(bands(s, d))
    val cand = b.filter(isInc)
      .join(b.filter(!isInc).withColumnRenamed("doc_id", "idx_id"), Seq("band", "bkey"))
      .select(col("doc_id"), col("idx_id")).distinct()
    val sh = hashed(s, d).select(col("doc_id"), col("shset"))
    val nearDup = cand
      .join(sh, Seq("doc_id"))
      .join(sh.withColumnRenamed("doc_id", "idx_id").withColumnRenamed("shset", "shb"), Seq("idx_id"))
      .filter(jaccard(col("shset"), col("shb")) >= JaccT)
      .select("doc_id").distinct()
    Tables.documents(s, d).filter(isInc).select("doc_id")
      .join(exactDup.withColumn("de", lit(true)), Seq("doc_id"), "left")
      .join(nearDup.withColumn("dn", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("de"), lit(false)).as("dup_exact"),
        coalesce(col("dn"), lit(false)).as("dup_near"))
      .withColumn("keep", !(col("dup_exact") || col("dup_near")))
  }

  /** Exact per-source token-length distribution report: doc counts and
    * nearest-rank (ceil) p50/p90/p99 quantiles. Percentiles by the
    * nearest-rank rule computed via row_number selection — all-integer
    * (rank = (cnt·q + 99) div 100), so the result is engine-exact where
    * interpolating percentile_cont would drift in the float arithmetic.
    * One window shuffle on `source` + one partial-aggregable groupBy;
    * the NULL-text side is a separate count joined back (two
    * source-sized aggregates, AQE-broadcast). At corpus scale the
    * per-source sort is the cost — exactly the distributed-sort shape
    * exact quantiles require; approximate needs swap in a sketch, which
    * the report deliberately avoids (release gates want exact). */
  def corpusQuantiles(s: SparkSession, d: String): DataFrame =
    tokenQuantiles(s, d, "source")

  /** Per-LANGUAGE token-length distribution — [[corpusQuantiles]]'
    * report keyed on the language column: multilingual mixes budget
    * per lang, and a lang whose length profile collapses (boilerplate
    * flood) needs its own threshold, not its sources'. Same plan,
    * same oracle shape, different key. */
  def corpusQuantilesLang(s: SparkSession, d: String): DataFrame =
    tokenQuantiles(s, d, "lang")

  private def tokenQuantiles(s: SparkSession, d: String, key: String): DataFrame = {
    // rides the persisted (doc_id, source, lang, n_tokens) projection
    // the mix/pack family shares — the report's three aggregates
    // (NULL count, value counts, per-key totals) otherwise each
    // re-ran the tokenize scan over the raw corpus
    val t = MixOps.docTokens(s, d)
      .select(col(key), col("n_tokens").as("ntok"))
    // ONE value-count table (NULL ntok kept as its own value group,
    // materialized once) carries all three statistics legs — the
    // NULL counts, the per-key totals AND the rank pass — where
    // separate aggregates each re-derived the token projection
    val vc = t.groupBy(col(key), col("ntok")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val n = vc.groupBy(col(key)).agg(
      sum(when(col("ntok").isNotNull, col("c")).otherwise(0L)).as("cnt"),
      sum(when(col("ntok").isNull, col("c")).otherwise(0L)).as("n_null"))
    // value-grouped nearest-rank selection (the spend family's
    // RangeRank shape — a per-key rank window funnels ~N/|keys|
    // rows through one unsplittable task): the value at rank r is the
    // least value whose cumulative count reaches r, ties sharing value
    def pick(pct: Int): Column =
      min(when(col("cum") >= expr(s"(cnt * $pct + 99) div 100"), col("ntok")))
    RangeRank.runningSum(vc.filter(col("ntok").isNotNull),
        Seq(key), Seq(col("ntok")), col("c"), "cum")
      .join(broadcast(n), Seq(key))
      .groupBy(col(key))
      .agg(max(col("cnt")).as("n_docs"), max(col("n_null")).as("n_null"),
        min(col("ntok")).as("min_tokens"),
        pick(50).as("p50_tokens"), pick(90).as("p90_tokens"), pick(99).as("p99_tokens"),
        max(col("ntok")).as("max_tokens"))
      .select(col(key), col("n_docs"), col("n_null"), col("min_tokens"),
        col("p50_tokens"), col("p90_tokens"), col("p99_tokens"), col("max_tokens"))
  }

  /** Multi-level corpus report in ONE pass: per (source, lang), per
    * source, and grand-total doc counts / token volumes / NULL-text
    * counts via ROLLUP grouping sets — the report shape a release
    * dashboard wants without three scans. Spark plans rollup as a
    * single expand + partial-aggregable groupBy (rows 3x, one
    * shuffle); `gid` is the grouping bit-vector (0 = detail row,
    * 1 = lang rolled up, 3 = grand total), identical semantics to
    * SQL GROUPING(). Token sums ride the BIGINT token counts, so
    * every level is integer-exact. */
  def corpusRollup(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("source"), col("lang"), size(col("tk")).cast("long").as("ntok"))
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ntok").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(col("ntok")).as("sum_tokens"),
        grouping_id().as("gid"))
      .select("source", "lang", "gid", "n_docs", "n_null", "sum_tokens")

  val VocabK = 500 // vocabulary report size

  /** Corpus vocabulary report: the global top-K terms by total
    * occurrence count, with document frequency — the seed statistics a
    * BPE/vocab fit or a stopword audit starts from. Scale shape: one
    * explode + one partial-aggregable groupBy(term) (map-side combine
    * collapses the per-partition duplicates before the shuffle), then
    * a DISTRIBUTED top-K — `orderBy(...).limit(K)` plans as
    * TakeOrderedAndProject (per-partition heaps + a K-row driver
    * merge), NOT a single-partition global sort; the rank column is a
    * window over the K survivors only. Deterministic: ties break on
    * the term string. */
  def vocabTopk(s: SparkSession, d: String): DataFrame = {
    val stats = docs(s, d)
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("term")).limit(VocabK)
    stats.withColumn("rnk",
        RangeRank.kRank(col("term"), col("tf").desc, col("term")))
      .select("rnk", "term", "tf", "df")
  }

  val BpeK = 200 // pair-statistics report size

  /** BPE pair statistics: the global top-K ADJACENT token pairs by
    * occurrence count, with document frequency — the inner statistic of
    * a byte-pair-encoding merge step (Sennrich et al. 2016: each merge
    * round picks the most frequent adjacent pair), and the seed report
    * a tokenizer fit over a new corpus starts from. Adjacent pairs are
    * exactly the 2-gram shingles the dedup family already defines, so
    * the derivation shares [[graft.functions.Portable.shingles]].
    * Same scale shape as [[vocabTopk]]: one explode + one
    * partial-aggregable groupBy(pair) (map-side combine collapses
    * per-partition repeats before the shuffle), then the distributed
    * top-K (`orderBy.limit` → TakeOrderedAndProject: per-partition
    * heaps + a K-row driver merge); the rank window runs over the K
    * survivors only. A full BPE fit iterates merge→re-pair; each round
    * is this same one-shuffle shape over the re-merged token column. */
  def bpePairCounts(s: SparkSession, d: String): DataFrame = {
    val pairs = docs(s, d)
      .select(col("doc_id"), explode(Portable.shingles(col("tk"), 2)).as("pair"))
    val stats = pairs.groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("cnt").desc, col("pair")).limit(BpeK)
    stats.withColumn("rnk",
        RangeRank.kRank(col("pair"), col("cnt").desc, col("pair")))
      .select("rnk", "pair", "cnt", "df")
  }

  // ---- quality-model serving (literal-weight MLP) -----------------

  val QmInputs = 5
  val QmHidden = 8

  /** Deterministic literal weights for the quality-model slot — in
    * production these are the trained fasttext/CCNet-style quality
    * classifier's parameters; here a counter-hash fill so the serving
    * arithmetic is pinned end-to-end (the `clip_prob` rule: the model
    * artifact is the gap, the serving path is not). */
  def qmW1(i: Int, j: Int): Double =
    (((i * QmHidden + j + 3) * 2654435761L) % 1999L - 999L) / 1000.0
  def qmB1(j: Int): Double = (((j + 7) * 48271L) % 1999L - 999L) / 1000.0
  def qmW2(j: Int): Double = (((j + 13) * 69621L) % 1999L - 999L) / 1000.0
  val QmB2: Double = 0.125

  /** Rational fast sigmoid — σ(x) = ½ + ½·x/(1+|x|): monotone,
    * bounded to (0,1), and bit-portable (no exp). */
  private def qmSig(x: Double): Double = 0.5 + 0.5 * x / (1.0 + math.abs(x))

  final case class QmIn(doc_id: Long, len: Option[Long], n_words: Option[Long],
                        mean_word_len: Option[Double], stop_ratio: Option[Double],
                        distinct_ratio: Option[Double])
  final case class QmOut(doc_id: Long, quality_prob: Option[Double])

  /** The quality-classifier lifecycle stub ([[clipProb]]'s shape): one
    * instantiation per partition — where a real fasttext/ONNX session
    * would load its weights once and score the partition's stream.
    * The weight arrays materialize in the constructor (the "load"),
    * so the per-row forward pass reads memory, not the counter-hash
    * derivation. */
  private final class QmModel {
    private val w1 = Array.tabulate(QmInputs, QmHidden)(qmW1)
    private val b1 = Array.tabulate(QmHidden)(qmB1)
    private val w2 = Array.tabulate(QmHidden)(qmW2)
    def evaluate(x: Array[Double]): Double = {
      var out = QmB2
      var j = 0
      while (j < QmHidden) {
        var acc = b1(j)
        var i = 0
        while (i < QmInputs) { acc += w1(i)(j) * x(i); i += 1 }
        out += w2(j) * qmSig(acc)
        j += 1
      }
      qmSig(out)
    }
  }

  /** Model-based document quality score — the serving path of the
    * learned quality filter every production corpus pipeline runs
    * (CCNet's fasttext LM filter, Gopher/phi-style quality
    * classifiers): [[textQuality]]'s five exact-rational features
    * through a literal-weight 5→8→1 MLP with a rational fast sigmoid,
    * executed with the per-partition model lifecycle (`mapPartitions`,
    * one instantiation per partition — the ONNX/fasttext session
    * shape). The trained weights are the documented artifact gap; the
    * feature plumbing, batching and forward arithmetic are real and
    * bit-exact in the DuckDB oracle (left-associated accumulation,
    * no transcendentals). NULL text scores NULL, explicitly kept. */
  def qualityModelScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val feats = textQuality(s, d).select(
      col("doc_id"), col("len").cast("long").as("len"),
      col("n_words").cast("long").as("n_words"),
      col("mean_word_len"), col("stop_ratio"), col("distinct_ratio")).as[QmIn]
    feats.mapPartitions { it =>
      val model = new QmModel // once per partition: the session shape
      it.map { r =>
        // all-or-nothing feature match: textQuality nulls the five
        // features together today, but scoring must DEGRADE to a NULL
        // verdict — not a partition-killing NoSuchElementException —
        // if any single feature ever arrives null independently
        val score = (r.len, r.n_words, r.mean_word_len, r.stop_ratio,
            r.distinct_ratio) match {
          case (Some(len), Some(nw), Some(mwl), Some(sr), Some(dr)) =>
            Some(model.evaluate(Array(len / 1000.0, nw / 100.0, mwl, sr, dr)))
          case _ => None
        }
        QmOut(r.doc_id, score)
      }
    }.toDF()
  }

  val BpeMerges = 3    // fixed merge depth: the gate pins the LOOPED fit
  /** Symbol delimiter for the BPE working representation — probed
    * absent from the corpus charset (documents.text is space +
    * lowercase ASCII); a production fit over arbitrary bytes swaps in
    * an out-of-band sentinel (0x1f) with zero structural change. */
  val BpeDelim = "~"

  /** The word-frequency table a BPE fit actually iterates over —
    * Sennrich et al. 2016's key compression step: the corpus is
    * scanned ONCE into (word, count, symbol-sequence) and every merge
    * round thereafter runs on this vocabulary-sized table (≤ a few
    * hundred thousand rows for any corpus — KBs to MBs at 100 TB of
    * text, since counts absorb all duplication). `seq` is the working
    * representation: each character followed by [[BpeDelim]]
    * ("hello" → "h~e~l~l~o~"). The lazy localCheckpoint pins the
    * corpus scan to exactly one physical evaluation — every merge
    * round's pair count, argmax and rewrite reads the checkpointed
    * vocab table, never the documents parquet. */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(col("tk")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .withColumn("seq", regexp_replace(col("w"), "([\\s\\S])", "$1" + BpeDelim))
      .localCheckpoint(false)

  /** Adjacent-symbol pairs of the working vocab table, weighted by
    * word frequency: one explode + one partial-aggregable groupBy per
    * round (the map-side combine collapses per-partition repeats), all
    * over the vocabulary-sized table. */
  private def bpePairTable(wt: DataFrame): DataFrame =
    wt.withColumn("syms",
        expr(s"slice(split(seq, '$BpeDelim'), 1, size(split(seq, '$BpeDelim')) - 1)"))
      .select(col("wc"), explode(Portable.shingles(col("syms"), 2)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).cast("long").as("cnt"))

  /** The LOOPED byte-pair-encoding fit `bpe_pair_counts` documents
    * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    * with Subword Units"): [[BpeMerges]] rounds of count-adjacent-pairs
    * → pick the global argmax pair → rewrite it into one symbol, run
    * entirely on the checkpointed word-frequency table ([[bpeWords]]).
    * Per round the driver collects ONE row (the argmax pair — the
    * `kmeans_fit` pattern: a scalar model update, not a data
    * collect). The rewrite is two passes of leftmost-non-overlapping
    * `replace` over the delimiter-framed sequence ("~a~b~" → "~ab~";
    * the second pass catches the occurrence a shared frame delimiter
    * hid — both engines scan leftmost-non-overlapping, so the rewrite
    * is engine-exact by construction, and a same-symbol run like
    * "aaaa" merges to "aa aa" deterministically). Ties break on the
    * pair string; counts are exact integer sums, so the learned merge
    * table is bit-identical on any partitioning and a DuckDB oracle
    * unrolls and checks the whole loop. Output: one row per merge
    * round — the learned merge, its weighted frequency, and how many
    * vocabulary words it rewrote. */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeFitRounds(s, d)._1

  /** Fit result cached per data dir (the sigCache pattern):
    * `bpe_train` and `bpe_apply` share one loop execution instead of
    * each paying the argmax collects + rewrite checkpoints; both
    * tables are vocab-sized. Released by [[Caches.clearAll]]. */
  private val bpeFitCache =
    new Caches.PerDir[(DataFrame, DataFrame)]("TextOps.bpeFit", f => Seq(f._1, f._2))

  /** Shared fit loop: returns (merge-table DF, final vocab table). */
  private def bpeFitRounds(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bpeFitCache.get(d)(bpeFitRoundsUncached(s, d))

  private def bpeFitRoundsUncached(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val D = BpeDelim
    var wt = bpeWords(s, d)
    val rounds = Seq.newBuilder[(Long, String, Long, Long)]
    var exhausted = false
    for (r <- 1 to BpeMerges if !exhausted) {
      val top = bpePairTable(wt)
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true // empty corpus / no pairs left
      else {
        val pair = top(0).getString(0)
        val cnt  = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        val pat = s"$D$a$D$b$D"
        val rep = s"$D$a$b$D"
        val framed = concat(lit(D), col("seq"))
        val nWords = wt.filter(instr(framed, pat) > 0).count()
        wt = wt
          .withColumn("m", replace(replace(framed, lit(pat), lit(rep)), lit(pat), lit(rep)))
          .select(col("w"), col("wc"), expr("substring(m, 2)").as("seq"))
          .localCheckpoint(false)
        rounds += ((r.toLong, pair, cnt, nWords))
      }
    }
    (rounds.result().toDF("round", "pair", "cnt", "n_words"), wt)
  }

  /** The learned SUBWORD VOCABULARY after the [[bpeTrain]] merges: every
    * symbol the fitted tokenizer can emit, with its corpus occurrence
    * count (word frequency × occurrences in the word) and the number
    * of distinct word types containing it — the vocabulary table a
    * tokenizer ships (`vocab_topk` is this report for whole words;
    * `bpe_pair_counts` was the merge statistic; this closes the
    * train → vocab → apply triple). Rides the per-dir cached fit
    * (zero additional corpus scans — the plan reads the checkpointed
    * vocab table): one explode + one partial-agg groupBy over the
    * vocab-sized table, then the distributed top-K + K-row rank. */
  def bpeVocabTopk(s: SparkSession, d: String): DataFrame = {
    val wt = bpeFitRounds(s, d)._2
    val stats = wt
      .withColumn("syms",
        expr(s"slice(split(seq, '$BpeDelim'), 1, size(split(seq, '$BpeDelim')) - 1)"))
      .select(col("w"), col("wc"), explode(col("syms")).as("sym"))
      .groupBy(col("sym"))
      .agg(sum(col("wc")).cast("long").as("cnt"),
        countDistinct(col("w")).as("n_words"))
      .orderBy(col("cnt").desc, col("sym")).limit(BpeK)
    stats.withColumn("rnk",
        RangeRank.kRank(col("sym"), col("cnt").desc, col("sym")).cast("long"))
      .select("rnk", "sym", "cnt", "n_words")
  }

  /** Apply the [[bpeTrain]] merges back to the corpus: per source, how
    * much the learned subword inventory compresses the text — token
    * instances, total symbols before (characters) and after the
    * merges, and the compression in integer ppm. The fit side is the
    * checkpointed vocab loop above; the apply side is ONE more corpus
    * scan joined (broadcast — the vocab table is KB-sized) against the
    * final per-word symbol count, then one partial-agg groupBy. This
    * is the fertility-after-fit statistic that decides whether the
    * merge budget bought anything per corpus slice. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val wtFinal = bpeFitRounds(s, d)._2
      .withColumn("n_syms",
        expr(s"size(split(seq, '$BpeDelim')) - 1").cast("long"))
      .select(col("w"), col("n_syms"))
    docs(s, d)
      .select(col("source"), explode(col("tk")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wtFinal), Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w"))).cast("long").as("chars_total"),
        sum(col("n_syms")).cast("long").as("syms_total"))
      .withColumn("compression_ppm",
        expr("(syms_total * 1000000) div chars_total").cast("long"))
  }

  /** ENCODE the corpus with the fitted BPE tokenizer: per document,
    * the token-ID ARRAY a training run actually consumes —
    * [[bpeApply]] reports compression statistics, this EMITS the ids,
    * closing fit → encode → pack with the SAME tokenizer (through
    * r15 the packer counted whitespace tokens while the fit counted
    * symbols — two different tokenizations of one corpus). Symbol ids
    * are the lexicographic rank over the final vocabulary's distinct
    * symbols — deterministic, engine-replayable, and stable under
    * repartitioning (a production tokenizer ships ids by frequency;
    * the rank RULE is the contract here, not the numbering taste).
    * Shape: the fit side is the per-dir cached vocab loop; the encode
    * side is ONE corpus scan joined (broadcast — vocab-sized) against
    * the per-word id arrays, then one per-doc re-aggregation in token
    * order. Docs whose every token is empty (or NULL text) encode to
    * no row — nothing to train on. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val D = BpeDelim
    val wt = bpeFitRounds(s, d)._2
      .withColumn("syms",
        expr(s"slice(split(seq, '$D'), 1, size(split(seq, '$D')) - 1)"))
      .select(col("w"), col("syms"))
    val ids = wt.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("id", RangeRank.kRank(col("sym"), col("sym")).cast("long"))
    val wordIds = wt
      .select(col("w"), posexplode(col("syms")).as(Seq("sp", "sym")))
      .join(ids, Seq("sym"))
      .groupBy(col("w"))
      .agg(transform(array_sort(collect_list(struct(col("sp"), col("id")))),
        x => x.getField("id")).as("wids"))
    docs(s, d)
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("p", "w")))
      .filter(length(col("w")) > 0)
      .join(broadcast(wordIds), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        flatten(transform(array_sort(collect_list(struct(col("p"), col("wids")))),
          x => x.getField("wids"))).as("token_ids"))
      .select(col("doc_id"), col("n_words"),
        size(col("token_ids")).cast("long").as("n_ids"), col("token_ids"))
  }

  /** Driver-checked view of [[bpeEncode]]: the token-ID array rendered
    * as its canonical space-joined string (`token_ids_s`). The driver's
    * compare harness sorts rows with pandas, which cannot hash raw
    * array cells, so the REGISTERED query must not put `array<long>`
    * columns in front of the sorter; the join is lossless (ids are
    * non-negative integers, the array is never empty — every encoded
    * doc has ≥ 1 id) and bit-exact against DuckDB's
    * `array_to_string`. Internal consumers keep the array API. */
  def bpeEncodeChecked(s: SparkSession, d: String): DataFrame =
    bpeEncode(s, d).select(col("doc_id"), col("n_words"), col("n_ids"),
      array_join(col("token_ids").cast("array<string>"), " ").as("token_ids_s"))

  /** Driver-checked view of [[chunkDocumentsBpe]] — same string
    * canonicalization as [[bpeEncodeChecked]] for the `chunk_ids`
    * slice column (chunks always have ≥ 1 id by the window formula). */
  def chunkDocumentsBpeChecked(s: SparkSession, d: String): DataFrame =
    chunkDocumentsBpe(s, d).select(col("doc_id"), col("chunk_idx"),
      col("chunk_start"), col("n_chunk_ids"),
      array_join(col("chunk_ids").cast("array<string>"), " ").as("chunk_ids_s"))

  /** Per-doc LEARNED-token counts (doc_id, source, n_tokens) under the
    * fitted BPE tokenizer — the learned sibling of [[MixOps]]' per-doc
    * whitespace token projection, consumed by `pack_sequences_bpe`
    * (packing budgets context windows in the tokens the model will
    * actually see). Same broadcast-vocab shape as [[bpeApply]]. */
  private[operators] def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
    val wtFinal = bpeFitRounds(s, d)._2
      .withColumn("n_syms",
        expr(s"size(split(seq, '$BpeDelim')) - 1").cast("long"))
      .select(col("w"), col("n_syms"))
    docs(s, d)
      .select(col("doc_id"), col("source"), explode(col("tk")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(wtFinal), Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_syms")).cast("long").as("n_tokens"))
  }

  // ---- unigram-LM tokenizer fit (SentencePiece's other half) ------

  val UniMaxPiece = 4   // max piece length (chars) in the candidate set
  val UniSeedK    = 300 // seed vocabulary size (top substrings by count)
  val UniVocabK   = 120 // pieces kept at each prune (single chars always kept)
  val UniRounds   = 2   // Viterbi-EM rounds

  /** Unigram vocab sizing from the corpus WORD-TYPE count — the
    * [[graft.operators.AnnOps.planesFor]] rule for this family, so
    * 100 TB vocab sizing is a derivation, not a hand-picked constant:
    * SentencePiece practice keeps vocab well under the type count and
    * growing sublinearly with it; `mul·√types` (clamped to the
    * gate-pinned floor and a 32k serving cap — the common production
    * vocab ceiling) reproduces the defaults at the gate fixture scale
    * and lands in the usual 8-32k band for web-corpus type counts.
    * Seeds oversample the target vocab 2.5× so the prune has choice
    * (the 300/120 default ratio). */
  def uniVocabFor(nTypes: Long, mul: Int = 4): Int =
    math.max(UniVocabK, math.min(32000, (mul * math.sqrt(nTypes.toDouble)).toInt))

  /** Viterbi segmentation of every word in the vocab table under a
    * broadcast-literal log-prob model — expressed entirely in Catalyst
    * higher-order functions (no UDF, no mapPartitions): one forward
    * `aggregate` builds the DP array (best score + backpointer per
    * char position; candidates are the ≤ [[UniMaxPiece]] pieces ending
    * at the position, ties resolved to the LONGER piece by the struct
    * ordering (score, len)), a second `aggregate` walks the
    * backpointers from the end to emit the piece sequence. Runs on the
    * vocabulary-sized word table, never the corpus. */
  private def uniViterbi(wt: DataFrame, logp: Map[String, Double]): DataFrame = {
    val m = typedlit(logp)
    val negInf = lit(-1e18d)
    val n = length(col("w"))
    val dpCol = aggregate(
      sequence(lit(1), n),
      array(struct(lit(0.0d).as("sc"), lit(0).as("bp"))),
      (dp, i) => concat(dp, array(array_max(
        transform(
          filter(sequence(lit(1), lit(UniMaxPiece)), l => l <= i),
          l => struct(
            (element_at(dp, i - l + 1).getField("sc") +
              coalesce(element_at(m, col("w").substr(i - l + 1, l)), negInf)).as("sc"),
            l.as("bp")))))))
    val back = (st: Column) => {
      val bp = element_at(col("dp"), st.getField("pos") + 1).getField("bp")
      when(st.getField("pos") > 0,
        struct(
          (st.getField("pos") - bp).as("pos"),
          concat(array(col("w").substr(st.getField("pos") - bp + 1, bp)),
            st.getField("ps")).as("ps")))
        .otherwise(st)
    }
    wt.withColumn("dp", dpCol)
      .withColumn("pieces", aggregate(
        sequence(lit(1), n),
        struct(n.cast("int").as("pos"), array().cast("array<string>").as("ps")),
        (st, _) => back(st),
        st => st.getField("ps")))
      .select(col("w"), col("wc"), col("pieces"))
  }

  /** Per-dir cached unigram fit: (final vocab rows, final segmented
    * word table). Model state (the vocab + counts) is KB-sized at any
    * corpus scale — the [[bpeFitRounds]] contract. */
  private val uniFitCache =
    new Caches.PerDir[(Seq[(String, Long)], DataFrame)]("TextOps.uniFit", f => Seq(f._2))

  private[operators] def uniFit(s: SparkSession, d: String): (Seq[(String, Long)], DataFrame) =
    uniFitCache.get(d)(uniFitUncached(s, d, UniSeedK, UniVocabK))

  /** Parameterized fit (the gate pins [[UniSeedK]]/[[UniVocabK]]; a
    * production run derives the sizes via [[uniVocabFor]]): bypasses
    * the per-dir cache — only the default-knob fit is session-wide
    * state (the clusterCache forced-path rule). */
  private[graft] def uniFitSized(s: SparkSession, d: String,
      seedK: Int, vocabK: Int): (Seq[(String, Long)], DataFrame) =
    uniFitUncached(s, d, seedK, vocabK)

  /** The LOOPED unigram-LM fit (Kudo 2018, hard-EM/Viterbi variant):
    * corpus scanned ONCE into the checkpointed word-frequency table
    * (shared with the BPE fit — counts absorb all duplication), seeded
    * with the top-[[UniSeedK]] substrings (≤ [[UniMaxPiece]] chars) by
    * weighted count plus every single character; each EM round
    * broadcasts the current add-one-smoothed log-prob model as a map
    * LITERAL into the distributed Viterbi E-step ([[uniViterbi]]),
    * re-estimates piece counts with one partial-aggregable groupBy
    * over the segmented vocab table, and prunes to the top
    * [[UniVocabK]] pieces (single chars always survive, so every word
    * stays segmentable). Driver state per round is the vocab-sized
    * count table (the kmeans_fit/bpe_train bounded-collect pattern).
    *
    * Correctness posture: the EM scores are sums of LOGS — a
    * transcendental, excluded from the cross-engine bit-exact set
    * (dev/PORTABILITY.md), so this family is rows-only at the driver
    * gate BY DESIGN and its exactness gate is the sequential
    * plain-Scala recompute spec (same JVM, same IEEE op order). */
  private def uniFitUncached(s: SparkSession, d: String,
      seedK: Int, vocabK: Int): (Seq[(String, Long)], DataFrame) = {
    val wt = bpeWords(s, d).select(col("w"), col("wc"))
    val sub = wt.select(col("wc"), explode(expr(
        s"flatten(transform(sequence(1, char_length(w)), " +
          s"i -> transform(sequence(1, least($UniMaxPiece, char_length(w) - i + 1)), " +
          "l -> substring(w, i, l))))")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wc")).cast("long").as("cnt"))
      .localCheckpoint(false)
    val chars = sub.filter(length(col("piece")) === 1)
    val seed = sub.orderBy(col("cnt").desc, col("piece")).limit(seedK)
      .unionByName(chars).distinct()
    var vocab: Seq[(String, Long)] = seed.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val charSet = chars.select(col("piece")).collect().map(_.getString(0)).toSet
    var seg: DataFrame = null
    for (_ <- 1 to UniRounds) {
      val tot = vocab.map(_._2 + 1).sum.toDouble
      val logp = vocab.map { case (p, c) => p -> math.log((c + 1).toDouble / tot) }.toMap
      seg = uniViterbi(wt, logp).localCheckpoint(false)
      val counts = seg.select(col("wc"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wc")).cast("long").as("cnt"))
        .localCheckpoint(false)
      val top = counts.orderBy(col("cnt").desc, col("piece")).limit(vocabK)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val cntMap = counts.filter(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val keptChars = charSet.toSeq.sorted
        .map(c => c -> cntMap.getOrElse(c, 0L))
        .filterNot { case (c, _) => top.exists(_._1 == c) }
      vocab = (top ++ keptChars).sortBy { case (p, c) => (-c, p) }
    }
    (vocab, seg)
  }

  /** The learned unigram vocabulary: every piece the fitted tokenizer
    * can emit with its final Viterbi-EM count — `bpe_vocab_topk`'s
    * sibling for the unigram-LM fit. Rows-only at the driver gate
    * (float EM — see [[uniFitUncached]]); pinned exactly by the
    * sequential recompute spec. */
  def unigramLmTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    uniFit(s, d)._1.toDF("piece", "cnt")
      .withColumn("n_chars", length(col("piece")).cast("long"))
  }

  /** Fertility comparison of the two fitted tokenizers over the SAME
    * corpus: weighted (by word frequency) pieces-per-word of the
    * unigram fit vs symbols-per-word of the BPE fit, in integer ppm —
    * the statistic that picks between SentencePiece's two halves for
    * a corpus. Joins the two per-dir cached fit tables (vocab-sized,
    * broadcast) — ZERO corpus scans beyond the two cached fits'
    * single passes. Rows-only at the driver gate (the unigram side
    * rides the float EM); recompute-spec checked. */
  def unigramFertility(s: SparkSession, d: String): DataFrame = {
    val uniSeg = uniFit(s, d)._2
      .select(col("w"), col("wc"), size(col("pieces")).cast("long").as("np"))
    val bpeWt = bpeFitRounds(s, d)._2
      .withColumn("n_syms",
        expr(s"size(split(seq, '$BpeDelim')) - 1").cast("long"))
      .select(col("w"), col("n_syms"))
    // coalesce: SUM over zero rows is NULL — an empty corpus must
    // report an explicit all-zero totals row, not a NULL-riddled one
    uniSeg.join(bpeWt, Seq("w"))
      .agg(coalesce(sum(col("wc")), lit(0L)).cast("long").as("n_words"),
        coalesce(sum(col("wc") * col("np")), lit(0L)).cast("long").as("uni_pieces"),
        coalesce(sum(col("wc") * col("n_syms")), lit(0L)).cast("long").as("bpe_syms"))
      .withColumn("uni_fertility_ppm",
        when(col("n_words") > 0, expr("(uni_pieces * 1000000) div n_words"))
          .otherwise(lit(0L)))
      .withColumn("bpe_fertility_ppm",
        when(col("n_words") > 0, expr("(bpe_syms * 1000000) div n_words"))
          .otherwise(lit(0L)))
  }

  /** Tokenizer-fertility report per (source, lang): whitespace words
    * vs BPE-ish regex tokens vs characters, with the per-corpus-slice
    * ratios in integer ppm — the statistic that sizes a tokenizer
    * (tokens-per-word ≫ 1e6 ppm on a slice means the tokenizer
    * shatters that language/source and its documents pay more context
    * budget per word). One partial-aggregable groupBy; ratios are
    * exact integer division over the integer sums, so the report is
    * bit-identical on any partitioning. */
  def tokenizerFertility(s: SparkSession, d: String): DataFrame =
    docs(s, d).groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("tk"))).as("ws_tokens"),
        sum(size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))).as("re_tokens"),
        sum(length(col("text"))).as("n_chars"))
      .select(col("source"), col("lang"), col("n_docs"),
        col("ws_tokens").cast("long").as("ws_tokens"),
        col("re_tokens").cast("long").as("re_tokens"),
        col("n_chars").cast("long").as("n_chars"))
      .withColumn("re_per_ws_ppm",
        when(col("ws_tokens") > 0, expr("(re_tokens * 1000000) div ws_tokens"))
          .otherwise(lit(0L)))
      .withColumn("chars_per_re_ppm",
        when(col("re_tokens") > 0, expr("(n_chars * 1000000) div re_tokens"))
          .otherwise(lit(0L)))

  val LmK = 200 // bigram LM-table report size

  /** Bigram language-model count table — the exact-count statistics a
    * Kneser-Ney/Stupid-Backoff n-gram LM (or a tokenizer-merge
    * scorer) is estimated from, for the corpus's top-K bigrams: the
    * bigram count, the left-context unigram count, the left fan-out
    * |{w₂ : c(w₁,w₂)>0}| (KN's denominator statistic) and the right
    * CONTINUATION count |{w₁ : c(w₁,w₂)>0}| (KN's numerator — how
    * many distinct contexts a word continues). Everything is an
    * exact integer count: four partial-aggregable groupBys off one
    * exploded pass (the fan-out/continuation tables aggregate the
    * already-grouped bigram table, not the corpus), then the
    * distributed top-K (`orderBy.limit` → TakeOrderedAndProject) with
    * the three count tables joined onto the K survivors (broadcast-
    * sized probe side). */
  def ngramLmCounts(s: SparkSession, d: String): DataFrame = {
    val bg = docs(s, d)
      .select(explode(Portable.shingles(col("tk"), 2)).as("pair"))
      .select(expr("split_part(pair, ' ', 1)").as("w1"),
        expr("split_part(pair, ' ', 2)").as("w2"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
    val uni = docs(s, d).select(explode(col("tk")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
    val fan = big.groupBy(col("w1")).agg(count(lit(1)).as("fanout_w1"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("cont_w2"))
    val top = big.orderBy(col("c_bigram").desc, col("w1"), col("w2")).limit(LmK)
    top.join(uni, Seq("w1")).join(fan, Seq("w1")).join(cont, Seq("w2"))
      .withColumn("rnk", RangeRank.kRank(col("w1"),
        col("c_bigram").desc, col("w1"), col("w2")))
      .select(col("rnk"), col("w1"), col("w2"), col("c_bigram"),
        col("c_w1"), col("fanout_w1"), col("cont_w2"))
  }

  /** Sparse TF-IDF COSINE over the banded candidate pairs — the
    * lexical similarity score (term-frequency weighted, rare terms
    * dominant) that complements shingle Jaccard (`minhash_est_error`)
    * and character edits (`edit_ratio_pairs`): boilerplate with
    * different rare content scores LOW here even when Jaccard is
    * high. Weights are INTEGER fixed point — w = tf · ((N·1000) div
    * df), so the pairwise dot product and the per-doc squared norms
    * are exact integer sums in decimal(38,0)/HUGEINT, bit-identical
    * on any partitioning (a float Σ tf·idf drifts with shuffle
    * order); bound: tf ≤ 1e4 and N ≤ 1e9 keep w ≤ 1e16, Σw² ≤ 1e36 <
    * 10^38. The only floats are the two per-doc sqrt's and one final
    * division — each deterministic on deterministic integers. Shape:
    * one tf groupBy, one df groupBy, a one-row N broadcast, then the
    * pair dot as two term-keyed equi-joins bounded by candidate
    * volume × doc length — never all-pairs. */
  def tfidfCosinePairs(s: SparkSession, d: String): DataFrame = {
    val tf = docs(s, d).select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
    // ONE physical evaluation of the tf-idf vector build per call
    // (r18, the pagerank `ids` pattern — a per-call eager checkpoint,
    // NOT a per-dir cache): the weight table feeds THREE consumers
    // below (the wa side, the wb side, the norms agg), and without the
    // barrier the plan re-derives the tf→df→weight subtree per
    // consumer (reuse covered only the exchanges, not the join work).
    val w = tf.join(dfreq, Seq("term")).crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        expr("tf * ((n_docs * 1000) div df)").as("w"))
      .localCheckpoint(true)
    val norms = w.groupBy(col("doc_id"))
      .agg(sum(expr("cast(w as decimal(38,0)) * w")).as("sumsq"))
      .select(col("doc_id"), sqrt(col("sumsq").cast("double")).as("nrm"))
    // one candidate frame referenced twice: the canonical plans are
    // identical, so AQE's ReusedExchange serves the second consumer
    // from the first's shuffle output instead of re-running the LSH
    // band/pair pipeline
    val cand = candidates(s, d)
    val dot = cand
      .join(w.select(col("doc_id").as("ida"), col("term"), col("w").as("wa")), Seq("ida"))
      .join(w.select(col("doc_id").as("idb"), col("term"), col("w").as("wb")),
        Seq("idb", "term"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(expr("cast(wa as decimal(38,0)) * wb")).as("dt"))
    cand
      .join(dot, Seq("ida", "idb"), "left")
      .join(norms.select(col("doc_id").as("ida"), col("nrm").as("nrm_a")), Seq("ida"))
      .join(norms.select(col("doc_id").as("idb"), col("nrm").as("nrm_b")), Seq("idb"))
      .select(col("ida"), col("idb"),
        coalesce(col("n_shared_terms"), lit(0L)).as("n_shared_terms"),
        coalesce(col("dt").cast("double"), lit(0.0)).as("dot_w"),
        (coalesce(col("dt").cast("double"), lit(0.0)) /
          (col("nrm_a") * col("nrm_b"))).as("cosine_tfidf"))
  }

  val KnDiscountPpm = 750000L // Kneser-Ney absolute discount d = 0.75

  /** Interpolated Kneser-Ney bigram PROBABILITIES for the top-[[LmK]]
    * bigrams — the actual LM estimation step over [[ngramLmCounts]]'
    * count statistics: P(w2|w1) = max(c−d,0)/c(w1•) +
    * (d·fanout(w1)/c(w1•)) · (cont(w2)/|bigram types|), the formula
    * (Kneser & Ney 1995; Chen & Goodman 1999) every production n-gram
    * LM tabulates. Entirely in ppm FIXED POINT (d = [[KnDiscountPpm]]
    * = 0.75): all four factors are exact-integer ratios, so the
    * probability table is bit-identical on any partitioning — where a
    * float evaluation would drift per engine. Same scale shape as the
    * count table: margins aggregate the already-grouped bigram table,
    * distributed top-K, K-row broadcast joins, one-row type-count
    * broadcast. */
  def ngramKnProbs(s: SparkSession, d: String): DataFrame = {
    val bg = docs(s, d)
      .select(explode(Portable.shingles(col("tk"), 2)).as("pair"))
      .select(expr("split_part(pair, ' ', 1)").as("w1"),
        expr("split_part(pair, ' ', 2)").as("w2"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
    val left = big.groupBy(col("w1"))
      .agg(sum(col("c_bigram")).as("c_left"), count(lit(1)).as("fanout_w1"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("cont_w2"))
    val types = big.agg(count(lit(1)).as("n_big_types"))
    val top = big.orderBy(col("c_bigram").desc, col("w1"), col("w2")).limit(LmK)
    top.join(left, Seq("w1")).join(cont, Seq("w2")).crossJoin(broadcast(types))
      .withColumn("term1_ppm",
        expr(s"(c_bigram * 1000000 - $KnDiscountPpm) div c_left"))
      .withColumn("lambda_ppm", expr(s"($KnDiscountPpm * fanout_w1) div c_left"))
      .withColumn("pcont_ppm", expr("(cont_w2 * 1000000) div n_big_types"))
      .withColumn("pkn_ppm",
        expr("term1_ppm + (lambda_ppm * pcont_ppm) div 1000000"))
      .withColumn("rnk", RangeRank.kRank(col("w1"),
        col("c_bigram").desc, col("w1"), col("w2")))
      .select(col("rnk"), col("w1"), col("w2"), col("c_bigram"), col("c_left"),
        col("fanout_w1"), col("cont_w2"), col("pkn_ppm"))
  }

  /** Per-document LM QUALITY score from the corpus's own interpolated
    * Kneser-Ney bigram model — the perplexity-filter statistic of
    * CCNet/Gopher-style pipelines, kept cross-engine exact: log/exp
    * are not bit-portable, so the score is the arithmetic MEAN and
    * MINIMUM of per-bigram pkn_ppm over the document's bigrams
    * (monotone rankings of the same signal a perplexity threshold
    * reads — a doc of rare/implausible transitions scores low). The
    * pkn formula is [[ngramKnProbs]]' two-staged integer-division ppm
    * arithmetic VERBATIM, evaluated over EVERY bigram type (no top-K
    * cut: the model table stays one partial-agg groupBy). Scale
    * shape: count/margin tables are partial aggregates; the per-doc
    * pass is the exploded doc-bigram stream equi-joined to the bigram
    * model (the `decontaminate` shuffle) + one doc-keyed partial agg;
    * zero-bigram (short/NULL-text) docs keep explicit rows with NULL
    * scores. */
  def lmDocScore(s: SparkSession, d: String): DataFrame = {
    val db = docs(s, d)
      .select(col("doc_id"), explode(Portable.shingles(col("tk"), 2)).as("pair"))
      .select(col("doc_id"), expr("split_part(pair, ' ', 1)").as("w1"),
        expr("split_part(pair, ' ', 2)").as("w2"))
    // the MODEL table (bigram types — vocab²-bounded, tiny next to
    // the occurrence stream) is materialized once: its three margin
    // aggregates and the probability join otherwise each re-derived
    // the full tokenize→explode→groupBy lineage (4 extra corpus
    // scans in the round-13 plan)
    val big = db.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
      .localCheckpoint(false)
    val left = big.groupBy(col("w1"))
      .agg(sum(col("c_bigram")).as("c_left"), count(lit(1)).as("fanout_w1"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("cont_w2"))
    val types = big.agg(count(lit(1)).as("n_big_types"))
    val pkn = big.join(left, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("term1_ppm",
        expr(s"(c_bigram * 1000000 - $KnDiscountPpm) div c_left"))
      .withColumn("lambda_ppm", expr(s"($KnDiscountPpm * fanout_w1) div c_left"))
      .withColumn("pcont_ppm", expr("(cont_w2 * 1000000) div n_big_types"))
      .select(col("w1"), col("w2"),
        expr("term1_ppm + (lambda_ppm * pcont_ppm) div 1000000").as("pkn_ppm"))
    val scored = db.join(pkn, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("pkn_ppm")).as("sum_ppm"),
        min(col("pkn_ppm")).as("min_pkn_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_ppm div n_bigrams").as("avg_pkn_ppm"), col("min_pkn_ppm"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_pkn_ppm"), col("min_pkn_ppm"))
  }

  /** Bigram association LIFT for the top-[[LmK]] bigrams:
    * P(w1,w2) / (P(w1)·P(w2)) over the bigram space in integer ppm —
    * the collocation statistic (PMI's ratio argument, kept rational
    * where the log would float-drift) that separates true
    * collocations (lift ≫ 1e6) from bigrams frequent only because
    * both words are (lift ≈ 1e6). Marginals aggregate the
    * already-grouped bigram table, not the corpus; the lift numerator
    * c·N·1e6 runs in decimal(38,0) (c·N alone passes int64 around
    * ~3e9 bigrams/corpus — DuckDB promotes to HUGEINT, Spark would
    * wrap silently); distributed top-K, K-row broadcast joins. */
  def bigramLift(s: SparkSession, d: String): DataFrame = {
    val bg = docs(s, d)
      .select(explode(Portable.shingles(col("tk"), 2)).as("pair"))
      .select(expr("split_part(pair, ' ', 1)").as("w1"),
        expr("split_part(pair, ' ', 2)").as("w2"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
    val left  = big.groupBy(col("w1")).agg(sum(col("c_bigram")).as("c_left"))
    val right = big.groupBy(col("w2")).agg(sum(col("c_bigram")).as("c_right"))
    val tot   = big.agg(sum(col("c_bigram")).as("n_bigrams"))
    val top = big.orderBy(col("c_bigram").desc, col("w1"), col("w2")).limit(LmK)
    top.join(left, Seq("w1")).join(right, Seq("w2")).crossJoin(broadcast(tot))
      .withColumn("lift_ppm",
        expr("(cast(c_bigram as decimal(38,0)) * n_bigrams * 1000000) div " +
          "(cast(c_left as decimal(38,0)) * c_right)").cast("long"))
      .withColumn("rnk", RangeRank.kRank(col("w1"),
        col("c_bigram").desc, col("w1"), col("w2")))
      .select(col("rnk"), col("w1"), col("w2"), col("c_bigram"),
        col("c_left"), col("c_right"), col("lift_ppm"))
  }

  /** Out-of-vocabulary rate per source against the corpus's own
    * top-[[VocabK]] vocabulary — the coverage statistic read with
    * [[vocabTopk]] when sizing a tokenizer's vocab: a source whose
    * occurrences are mostly OOV pays per-character fallback encoding.
    * The K-term vocabulary joins as a broadcast flag onto one exploded
    * pass; counts and the ppm rate are exact integers. */
  def vocabOovRate(s: SparkSession, d: String): DataFrame = {
    val vocab = vocabTopk(s, d).select(col("term"), lit(true).as("in_vocab"))
    docs(s, d).select(col("source"), explode(col("tk")).as("term"))
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        coalesce(sum(when(col("in_vocab").isNull, 1L).otherwise(0L)), lit(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_tokens"))
  }

  /** Bigram LM coverage per source against the corpus's own
    * top-[[LmK]] bigram table — [[vocabOovRate]]'s statistic lifted
    * from unigrams to the LM level: the ppm of a source's bigram
    * occurrences that the estimated LM ([[ngramLmCounts]]'s table)
    * has counts for, i.e. how much of the source a K-entry bigram
    * model can score without backing off. The K survivors join as a
    * broadcast flag onto the one exploded bigram pass; counts and the
    * ppm rate are exact integers; the top-K plans as
    * TakeOrderedAndProject (per-partition heaps, K-row driver
    * merge). */
  def lmCoverage(s: SparkSession, d: String): DataFrame = {
    val bg = docs(s, d)
      .select(col("source"), explode(Portable.shingles(col("tk"), 2)).as("pair"))
    val top = bg.groupBy(col("pair")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pair")).limit(LmK)
      .select(col("pair"), lit(true).as("in_lm"))
    bg.join(broadcast(top), Seq("pair"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        coalesce(sum(when(col("in_lm"), 1L).otherwise(0L)), lit(0L)).as("n_in_lm"))
      .withColumn("coverage_ppm", expr("(n_in_lm * 1000000) div n_bigrams"))
  }

  /** Train→holdout CONTAMINATION audit over the frozen
    * [[MixOps.dataSplit]] assignment — the eval-integrity twin of
    * [[decontaminate]] (which screens against an external eval set;
    * this screens the pipeline's own val/test splits): per holdout
    * split, how many documents share at least one [[ShingleN]]-gram
    * shingle with ANY train document, and the shingle-occurrence
    * leak rate — the number a training run must report before its
    * held-out loss is believable (near-dups straddling the split
    * boundary inflate eval performance silently). Scale shape: the
    * train shingle set is one distinct projection of the persisted
    * signature table and the probe side is the ~10% holdout, equi-
    * joined on the 60-bit hash (the `decontaminate` shuffle, never
    * all-pairs); per-doc then per-split rollups are partial-agg;
    * exact integers throughout. Zero-shingle AND null-text holdout
    * docs count as clean: dh coalesces to the empty array so both
    * take the same explode_outer path on both engines. */
  def splitLeakageReport(s: SparkSession, d: String): DataFrame = {
    val sp = MixOps.dataSplit(s, d).select(col("doc_id"), col("split"))
    val dh = hashed(s, d).select(col("doc_id"),
        coalesce(array_distinct(col("hs")),
          array().cast("array<bigint>")).as("dh"))
      .join(sp, Seq("doc_id"))
    val trainSh = dh.filter(col("split") === "train")
      .select(explode(col("dh")).as("h")).distinct()
    val perDoc = dh.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), size(col("dh")).as("n_sh"),
        explode_outer(col("dh")).as("h"))
      .join(trainSh.withColumn("hit", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(max(col("n_sh")).cast("long").as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    perDoc.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_docs_leaked"),
        sum(col("n_sh")).as("n_shingles"),
        sum(col("n_hits")).as("n_leaked"))
      .withColumn("doc_leak_ppm", expr("(n_docs_leaked * 1000000) div n_docs"))
      .withColumn("shingle_leak_ppm",
        when(col("n_shingles") > 0,
          expr("(n_leaked * 1000000) div n_shingles")).otherwise(lit(0L)))
  }

  /** LSH band-tuning sweep: for r ∈ {1, 2, 4} signature rows per band
    * (b = K/r bands from the SAME 8-permutation signature), the
    * candidate-pair volume the banding generates and how many
    * candidates verify at the Jaccard threshold — the measured
    * precision curve behind the (b, r) choice every MinHash pipeline
    * hard-codes (more rows per band → fewer, more precise candidates;
    * the sweep shows what each step buys AT THIS corpus). Band keys
    * hash the r-tuple with the portable h60 (uniform for every r — a
    * base-P pack overflows int64 at r=4); per-config volumes ride the
    * same capped-bucket in-bucket pair generation as the production
    * banding, and the verify join reuses the persisted shingle sets.
    * Output is |configs| rows of exact integer counts + a ppm
    * precision. */
  def lshBandSweep(s: SparkSession, d: String): DataFrame = {
    val perConfig = LshSweepRs.map { r =>
      val b = MinhashK / r
      val keys = (0 until b).map { bi =>
        Portable.h60(concat_ws(",", (0 until r).map(j => col("sig").getItem(bi * r + j).cast("string")): _*))
      }
      val cand = candidatePairs(Lsh.bands(hashed(s, d).withColumn("sig", sigCol), Seq("doc_id"), keys))
      withShingles(s, d, cand).select(jaccard(col("sha"), col("shb")).as("jacc"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("jacc") >= JaccT, 1L).otherwise(0L)), lit(0L)).as("n_verified"))
        .select(lit(r.toLong).as("rows_per_band"), lit(b.toLong).as("n_bands"),
          col("n_candidates"), col("n_verified"))
    }
    perConfig.reduce(_ unionByName _)
      .withColumn("precision_ppm",
        when(col("n_candidates") > 0, expr("(n_verified * 1000000) div n_candidates"))
          .otherwise(lit(0L)))
  }

  val LshSweepRs = Seq(1, 2, 4)

  val RecallSampleK = 128 // fixed-SIZE ground-truth sample (hash-rank)
  val RecallSalt    = "rec1"

  /** Measured RECALL of the production MinHash banding on a
    * deterministic document sample — the other axis of
    * [[lshBandSweep]]'s precision curve: of all TRUE near-dup pairs
    * (exact Jaccard ≥ [[JaccT]], computed all-pairs WITHIN the
    * sample), how many does the banded candidate generation find?
    * Banding can only miss (hash collisions add candidates, never
    * drop them), so found ⊆ true and the ppm is a real recall. The
    * quadratic is SAMPLE-bounded by a FIXED SIZE: the sample is the
    * [[RecallSampleK]] hash-rank-smallest docs (the
    * [[sampleReservoir]] selection — uniform, replayable on any
    * partitioning, and a distributed top-K, never a global sort), so
    * the ground-truth cross is ≤ K²/2 pairs at ANY corpus scale — a
    * fixed-RATE modulus would grow the quadratic as (N/mod)². One
    * broadcast cross of the K-doc sample against itself + the shared
    * banded-candidate pipeline restricted to sample endpoints; three
    * one-row counts. Zero true pairs reports recall 1e6 (vacuously
    * complete). */
  def minhashRecallSample(s: SparkSession, d: String): DataFrame = {
    val sample = hashed(s, d).select(col("doc_id"), col("shset"))
      .withColumn("u", Portable.h60(concat(col("doc_id").cast("string"),
        lit(":" + RecallSalt))))
      .orderBy(col("u"), col("doc_id")).limit(RecallSampleK)
      .select(col("doc_id"), col("shset"))
    val a = sample.select(col("doc_id").as("ida"), col("shset").as("sha"))
    val b = sample.select(col("doc_id").as("idb"), col("shset").as("shb"))
    val truePairs = a.crossJoin(broadcast(b)).filter(col("ida") < col("idb"))
      .filter(jaccard(col("sha"), col("shb")) >= JaccT)
      .select(col("ida"), col("idb"))
    val foundPairs = pairJaccard(s, d).filter(col("jacc") >= JaccT)
      .join(sample.select(col("doc_id").as("ida")), Seq("ida"))
      .join(sample.select(col("doc_id").as("idb")), Seq("idb"))
      .select(col("ida"), col("idb"))
    sample.agg(count(lit(1)).as("n_sample_docs"))
      .crossJoin(truePairs.agg(count(lit(1)).as("n_true_pairs")))
      .crossJoin(foundPairs.agg(count(lit(1)).as("n_found_pairs")))
      .withColumn("recall_ppm",
        when(col("n_true_pairs") > 0,
          expr("(n_found_pairs * 1000000) div n_true_pairs"))
          .otherwise(lit(1000000L)))
  }

  val ReservoirK    = 10   // sample size per source stratum (< the
                           // sf0.01 per-source doc count, so the gate
                           // exercises real selection, not identity)
  val ReservoirSalt = "r1"

  /** Fixed-SIZE deterministic per-source sample — the reservoir-sample
    * complement of [[sampleStratified]]'s fixed-RATE draw: exactly
    * min(K, n) documents per source, chosen as the K smallest values of
    * the counter-hash u = h60(doc_id:salt). Hash-rank selection is the
    * distributed, replayable equivalent of reservoir sampling (every
    * doc's key is computable anywhere, no sequential state, and the
    * same K docs come out on any partitioning or re-run). One window
    * shuffle on `source`. At corpus scale the per-source sort is the
    * cost; because u is uniform, a production caller prefilters
    * u < ceil(K · margin / n_source · 2^60) from the per-source counts
    * before the sort — the survivors are ~K·margin rows and the result
    * is unchanged (the K smallest always survive a cut above them). */
  def sampleReservoir(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        Portable.h60(concat(col("doc_id").cast("string"),
          lit(":" + ReservoirSalt))).as("u"))
    // per-source ranks via RangeRank (a source-partitioned window
    // sorts ~N/|sources| rows in one task); the pre-sort prefilter the
    // doc-comment describes composes unchanged — it cuts the ranked
    // input, not the ranking method
    RangeRank.rowNumber(keyed, Seq("source"), Seq(col("u"), col("doc_id")), "rnk")
      .filter(col("rnk") <= ReservoirK)
      .select(col("doc_id"), col("source"), col("u"), col("rnk"))
  }

  val RareTf = 3L // corpus occurrence count below which a token is "rare"

  /** Frequency-based rarity signal: per document, the fraction of
    * tokens whose CORPUS-wide occurrence count is below RareTf — the
    * log-free analogue of a unigram-LM perplexity filter (CCNet-style:
    * documents dominated by tokens the corpus has never seen are
    * OCR noise / mojibake / codebooks; ln is not bit-portable
    * cross-engine, so the signal stays in exact integer counts).
    * Scale shape: one explode + a vocabulary-sized groupBy(term), then
    * the tf table joins back on `term` (the key the aggregation just
    * shuffled on — co-partitioned; no broadcast hint, the vocabulary
    * of a web corpus does not fit the driver) and one partial-agg
    * groupBy(doc_id). NULL-text docs keep a row of NULL metrics
    * (explode_outer), like every corpus operator here. */
  def rareTokenRatio(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("doc_id"), explode_outer(col("tk")).as("term"))
    val tf = toks.filter(col("term").isNotNull)
      .groupBy(col("term")).agg(count(lit(1)).as("ctf"))
    toks.join(tf, Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("term")).as("n_tokens"),
        sum(when(col("ctf") < RareTf, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_rare").cast("long").as("n_rare"),
        when(col("n_tokens") > 0,
          col("n_rare").cast("double") / col("n_tokens").cast("double"))
          .as("rare_ratio"))
  }

  // ---- BM25 retrieval --------------------------------------------

  val BmK1     = 1.2
  val BmB      = 0.75
  val BmTopK   = 20
  val BmQTerms = Seq("hash", "join", "vector") // the literal query

  /** BM25 document retrieval for a fixed query — the ranking function
    * behind corpus search / retrieval-augmented sampling (Robertson &
    * Zaragoza 2009), with the log-free IDF weight N/df the TF-IDF
    * operator already established (ln is not bit-portable; the ranking
    * intent is identical). Per query term:
    * idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)); the per-doc
    * score adds the (fixed, literal) query terms in a FIXED order via
    * a conditional-aggregation pivot — a groupBy sum of doubles would
    * be accumulation-order-dependent and neither reproducible across
    * engines nor across retries. Scale shape: the exploded term scan
    * filters to the query terms FIRST (predicate on the explode
    * output, so only matching postings survive the shuffle), one
    * partial-agg groupBy(doc_id, term), a query-sized df aggregate and
    * one-row corpus stats both broadcast, then the distributed top-K
    * (TakeOrderedAndProject). */
  def bm25Topk(s: SparkSession, d: String): DataFrame = {
    val qArr = array(BmQTerms.map(lit): _*)
    val dls = docs(s, d).filter(col("text").isNotNull)
      .select(col("doc_id"), size(col("tk")).cast("long").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = docs(s, d)
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .filter(array_contains(qArr, col("term")))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("term"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("sc",
        (col("n_docs").cast("double") / col("df").cast("double")) *
          (col("tf").cast("double") * lit(BmK1 + 1.0)) /
          (col("tf").cast("double") +
            lit(BmK1) * (lit(1.0) - lit(BmB) + lit(BmB) * col("dl").cast("double") / col("avgdl"))))
    val aggs = BmQTerms.map(t =>
      coalesce(max(when(col("term") === t, col("sc"))), lit(0.0)).as(s"s_$t"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("score", BmQTerms.map(t => col(s"s_$t")).reduce(_ + _))
    val top = perDoc.orderBy(col("score").desc, col("doc_id")).limit(BmTopK)
    top.withColumn("rnk",
        RangeRank.kRank(col("doc_id"), col("score").desc, col("doc_id")).cast("long"))
      .select(col("rnk") +: col("doc_id") +: col("score") +:
        BmQTerms.map(t => col(s"s_$t")): _*)
  }

  val HistMaxPow = 20 // token-length histogram covers [1, 2^21)

  /** Power-of-2 token-length HISTOGRAM per source — the distribution
    * view the release dashboard wants beside [[corpusQuantiles]]'s
    * point statistics (quantiles say where the mass sits, the
    * histogram shows the shape: a bimodal crawl, a truncation spike).
    * Bucket b holds docs with 2^b ≤ tokens < 2^(b+1); the bucket CASE
    * fold is generated from one Scala Seq on both engines (no log2 —
    * not bit-portable). One partial-aggregable groupBy; NULL-text docs
    * land in a NULL bucket row rather than disappearing. */
  def tokenHistogram(s: SparkSession, d: String): DataFrame = {
    val nt = size(col("tk")).cast("long")
    // fold ascending so the LARGEST power ends up as the outermost
    // when() — each bucket test must shadow all smaller ones
    val bucket = (0 to HistMaxPow).foldLeft(lit(null).cast("long")) {
      (acc, b) => when(nt >= (1L << b), lit(b.toLong)).otherwise(acc)
    }
    docs(s, d)
      .select(col("source"), nt.as("ntok"), when(col("text").isNotNull, bucket).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sum_tokens"))
      .select(col("source"), col("bucket"),
        when(col("bucket").isNotNull, expr("shiftleft(1L, cast(bucket as int))"))
          .as("bucket_lo"),
        col("n_docs"), col("sum_tokens").cast("long").as("sum_tokens"))
  }

  /** Cross-source duplication matrix: for every (source, source) pair,
    * how many verified near-dup pairs span them — the corpus-curation
    * report that shows which dumps/crawls re-host each other's content
    * (and how much of the dedup burden is intra- vs inter-source).
    * Rides the banded-LSH pair table (never all-pairs); the source
    * pair is ordered lexicographically so each unordered pair
    * aggregates once. Two broadcast-sized lookups + one partial-agg
    * groupBy. */
  def dedupCrossSource(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairJaccard(s, d).filter(col("jacc") >= JaccT)
      .join(src.withColumnRenamed("doc_id", "ida").withColumnRenamed("source", "sa"), Seq("ida"))
      .join(src.withColumnRenamed("doc_id", "idb").withColumnRenamed("source", "sb"), Seq("idb"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
  }

  /** Near-dup cluster SIZE distribution — the one-line health report
    * of the dedup pass (a fat tail of giant clusters means boilerplate
    * is slipping through the bucket caps; all-singletons means the
    * thresholds are too tight). Composes [[dupClusters]]'s label table
    * with two partial-aggregable groupBys; every output is an exact
    * integer. */
  def dupClusterSizes(s: SparkSession, d: String): DataFrame =
    dupClusters(s, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))

  val NormStripRe = "[^a-z0-9 ]" // kept in the Java∩RE2-identical subset

  /** Normalize-then-dedup — the CCNet normalization step ahead of
    * exact hashing: lowercase, strip non-alphanumerics, collapse
    * whitespace, THEN hash — so trivially-variant re-hosts (case,
    * punctuation, spacing) collapse onto one canonical doc that raw
    * `dedup_exact` treats as distinct. The normalization stays in the
    * ASCII + Java∩RE2 regex subset (the `pii_count` portability rule)
    * so both engines produce identical bytes; full Unicode NFKC would
    * be a library call with no cross-engine twin. Same plan as
    * `dedup_exact`: one scan, codegen'd projection, one digest-keyed
    * window shuffle. */
  def dedupNormalized(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), NormStripRe, ""), " +", " "))
    val w = Window.partitionBy(col("nhash")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), norm.as("norm"))
      .select(col("doc_id"), sha2(col("norm"), 256).as("nhash"),
        length(col("norm")).cast("long").as("n_norm_chars"))
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select("doc_id", "nhash", "n_norm_chars", "is_canonical")
  }

  /** Vocabulary COVERAGE report: per source, the fraction of token
    * occurrences covered by the GLOBAL top-K vocabulary — the
    * evaluation a tokenizer/vocab fit is judged by (a domain whose
    * coverage lags the corpus average will fragment into rare tokens
    * at training time). Composes [[vocabTopk]]'s distributed top-K
    * with a vocabulary-semi-join over the exploded term scan (the
    * K-term side is broadcast-sized by construction) + one partial-agg
    * groupBy(source); covered/total is int/int engine-exact. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    val top = vocabTopk(s, d).select(col("term"), lit(1L).as("in_vocab"))
    docs(s, d).select(col("source"), explode(col("tk")).as("term"))
      .join(broadcast(top), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("total_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("covered_tokens"))
      .select(col("source"), col("total_tokens"),
        col("covered_tokens").cast("long").as("covered_tokens"),
        (col("covered_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("coverage"))
  }

  /** Language-ID CONFUSION MATRIX: counts per (label, guess) cell with
    * per-label row shares — the evaluation report for the `lang_id`
    * heuristic (and the report shape any classifier-based quality
    * filter publishes per release). One partial-aggregable groupBy
    * over the scored scan; the per-label total rides a window over the
    * cell table (label-cardinality-sized), int/int shares. */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val cells = langId(s, d)
      .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n"))
    val labelW = Window.partitionBy(col("lang"))
    cells
      .withColumn("label_total", sum(col("n")).over(labelW))
      .select(col("lang"), col("guess"), col("n"),
        col("label_total").cast("long").as("label_total"),
        (col("n").cast("double") / col("label_total").cast("double")).as("share"))
  }

  /** Per-document near-dup DEGREE: how many verified near-dup partners
    * each doc has (0 for docs outside every pair) — the per-doc view
    * the cluster-size histogram aggregates away, used to rank worst
    * boilerplate offenders and audit the bucket caps. One groupBy over
    * the symmetrized banded pair table + a left join back to keep
    * zero-degree docs. */
  def dupDegree(s: SparkSession, d: String): DataFrame = {
    val pairs = pairJaccard(s, d).filter(col("jacc") >= JaccT)
    val deg = pairs.select(col("ida").as("doc_id"))
      .unionByName(pairs.select(col("idb").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(deg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .withColumn("is_duplicated", col("degree") > 0)
  }

  /** Cross-document duplicated-n-gram coverage (the Lee et al. 2021
    * "Deduplicating Training Data" span statistic at shingle
    * granularity): per document, the fraction of its DISTINCT word
    * n-grams that also occur in at least one other document — high
    * coverage marks templated/boilerplate text that exact and
    * near-dup document matching both miss (no single pair is similar,
    * but every span is shared). Where `quality_gopher` measures
    * repetition WITHIN a document, this measures it ACROSS the
    * corpus. Rides the persisted signature table's distinct-shingle
    * sets; one vocabulary-keyed partial-agg groupBy + a join back on
    * the just-shuffled key (the `rare_token_ratio` shape). NULL-text /
    * too-short docs keep a zero row with NULL ratio. */
  def dupNgramCoverage(s: SparkSession, d: String): DataFrame = {
    val e = hashed(s, d).select(col("doc_id"), explode_outer(col("shset")).as("sh"))
    val cnt = e.filter(col("sh").isNotNull)
      .groupBy(col("sh")).agg(count(lit(1)).as("ndocs"))
    e.join(cnt, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("sh")).as("n_shingles"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"),
        col("n_dup").cast("long").as("n_dup"),
        when(col("n_shingles") > 0,
          col("n_dup").cast("double") / col("n_shingles").cast("double"))
          .as("dup_ratio"))
  }

  /** MinHash calibration report: for every verified candidate pair,
    * the SIGNATURE-estimated Jaccard (matching permutations / K)
    * beside the exact n-gram Jaccard — the QA query that justifies
    * the MinhashK/band sizing (E[est] = true Jaccard; a drifting gap
    * means broken permutations or skewed shingles, caught here before
    * it silently mis-tunes the dedup threshold). Rides the persisted
    * signature table and the existing capped candidate generation —
    * both similarity columns are one scan + bounded-bucket work, no
    * all-pairs anywhere. */
  def minhashEstError(s: SparkSession, d: String): DataFrame = {
    val sigs = hashed(s, d).withColumn("sig", sigCol).select(col("doc_id"), col("sig"))
    pairJaccard(s, d)
      .join(sigs.withColumnRenamed("doc_id", "ida").withColumnRenamed("sig", "siga"), Seq("ida"))
      .join(sigs.withColumnRenamed("doc_id", "idb").withColumnRenamed("sig", "sigb"), Seq("idb"))
      .select(col("ida"), col("idb"),
        expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))")
          .cast("long").as("n_match"),
        col("jacc"))
      .withColumn("jacc_est", col("n_match").cast("double") / MinhashK.toDouble)
      .select("ida", "idb", "n_match", "jacc_est", "jacc")
  }

  /** Source OVERLAP matrix: exact shingle-level Jaccard between every
    * pair of sources (over the hashed shingle universe) — the
    * corpus-composition QA that tells a mix designer which sources
    * are near-copies of each other BEFORE `token_budget_mix` weights
    * them as if independent (two mirrors of the same crawl at weight
    * 2 ≠ diversity). Per-source DISTINCT shingle hashes are one
    * partial-agg distinct off the tokenize pass; the intersection is
    * an equi-join keyed by the 60-bit hash (source-pair fan-out only
    * AFTER the hash match, bounded by source-dimension²); union sizes
    * come from the per-source counts by inclusion-exclusion — no
    * all-pairs product anywhere. Zero-overlap pairs are kept via the
    * broadcast source-dimension frame. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val e = docs(s, d)
      .select(col("source"), explode(Portable.shingles(col("tk"), ShingleN)).as("shg"))
      .select(col("source"), Portable.hmod(col("shg")).as("h")).distinct()
    val per = e.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val tp = broadcast(per.select(col("source").as("src_a"), col("n_sh").as("n_a")))
      .join(broadcast(per.select(col("source").as("src_b"), col("n_sh").as("n_b"))),
        col("src_a") < col("src_b"))
    val common = e.select(col("source").as("src_a"), col("h"))
      .join(e.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_common"))
    tp.join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
      .withColumn("jacc_ppm",
        expr("(n_common * 1000000) div (n_a + n_b - n_common)"))
  }

  val BbitB = 2 // low bits kept per signature slot (Li & Koenig 2010)

  /** b-bit MinHash Jaccard estimator on the banded candidate pairs —
    * the COMPRESSED-signature variant (Li & Koenig, WWW 2010) every
    * web-scale dedup eventually adopts: storing only the low
    * [[BbitB]] bits of each of the K minhashes shrinks the signature
    * table 30x (60-bit → 2-bit slots) at the cost of collision noise,
    * corrected by E[match] = C + (1−C)·J with C = 2^-b:
    * Ĵ = (2^b·m − K) / ((2^b − 1)·K), clamped at 0. Emitted next to
    * the full-signature estimate and the exact Jaccard (both in
    * integer ppm) so the compression's measured cost at THIS corpus
    * sits in one row — the sizing evidence for swapping the signature
    * table's layout. Rides the same persisted signatures and capped
    * candidate pairs as `minhash_est_error`; everything is integer
    * (the clamp fires before Spark-div-vs-DuckDB-floor-division could
    * diverge on a negative numerator — both sides stay negative). */
  def bbitMinhashEst(s: SparkSession, d: String): DataFrame = {
    val w = 1 << BbitB
    val sigs = hashed(s, d).withColumn("sig", sigCol)
      .select(col("doc_id"), col("sig"), col("shset"))
    candidates(s, d)
      .join(sigs.select(col("doc_id").as("ida"), col("sig").as("siga"),
        col("shset").as("sha")), Seq("ida"))
      .join(sigs.select(col("doc_id").as("idb"), col("sig").as("sigb"),
        col("shset").as("shb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        expr("size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))")
          .cast("long").as("n_match"),
        expr(s"size(filter(zip_with(siga, sigb, (x, y) -> x % $w = y % $w), b -> b))")
          .cast("long").as("n_match_bbit"),
        // NULL for an empty union, as the DuckDB twin's `//` by zero
        // gives (ANSI Spark's `div` by zero raises instead)
        when(size(array_union(col("sha"), col("shb"))) > 0,
          expr("(cast(size(array_intersect(sha, shb)) as bigint) * 1000000) div " +
            "cast(size(array_union(sha, shb)) as bigint)")).as("jacc_ppm"))
      .withColumn("est_full_ppm", expr(s"(n_match * 1000000) div $MinhashK"))
      .withColumn("est_bbit_ppm",
        greatest(lit(0L),
          expr(s"(($w * n_match_bbit - $MinhashK) * 1000000) div (${w - 1} * $MinhashK)")))
  }

  val EditPrefix = 200 // chars of text the edit-distance verify reads

  /** Edit-distance VERIFICATION of the banded candidate pairs — the
    * character-level near-dup check (templated boilerplate with small
    * substitutions) that shingle Jaccard under-scores: for every LSH
    * candidate pair, the Levenshtein distance over the first
    * [[EditPrefix]] chars and the similarity 1 − d/max_len in integer
    * ppm. The prefix cap is the scale guard: Levenshtein is O(len²)
    * per pair, so production verifies on a fixed prefix (or falls
    * back to token-level `fuzzy_source_pairs`-style blocking) — the
    * cap bounds per-pair work at any document length, and the pair
    * volume is already bounded by the capped LSH buckets. Both
    * engines run the identical DP (`fuzzy_source_pairs` proved the
    * parity); empty-vs-empty scores 1e6 (identical). */
  def editRatioPairs(s: SparkSession, d: String): DataFrame = {
    val txt = docs(s, d).select(col("doc_id"),
      expr(s"substring(coalesce(text, ''), 1, $EditPrefix)").as("tx"))
    candidates(s, d)
      .join(txt.select(col("doc_id").as("ida"), col("tx").as("txa")), Seq("ida"))
      .join(txt.select(col("doc_id").as("idb"), col("tx").as("txb")), Seq("idb"))
      .select(col("ida"), col("idb"),
        levenshtein(col("txa"), col("txb")).cast("long").as("edit_dist"),
        greatest(length(col("txa")), length(col("txb"))).cast("long").as("max_len"))
      .withColumn("edit_sim_ppm",
        when(col("max_len") > 0,
          expr("((max_len - edit_dist) * 1000000) div max_len")).otherwise(lit(1000000L)))
      .withColumn("is_near_dup", col("edit_sim_ppm") >= 800000L)
  }

  /** Ingest-drift report: the per-source document share of two corpus
    * slices (even vs odd doc_id — standing in for yesterday's ingest
    * vs today's) side by side in integer ppm, with the delta — the
    * monitoring query that catches a source silently growing or
    * vanishing between pipeline runs before it skews the training
    * mix. One partial-agg groupBy with conditional sums + a
    * source-cardinality window for the slice totals; all-integer. */
  def corpusDrift(s: SparkSession, d: String): DataFrame = {
    // non-foldable constant key: a lit is stripped by Spark 4's
    // EliminateWindowPartitions, re-firing the single-partition
    // warning on this source-cardinality-sized window
    val tot = Window.partitionBy(pmod(hash(col("source")), lit(1)))
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
      .withColumn("ta", sum(col("n_a")).over(tot))
      .withColumn("tb", sum(col("n_b")).over(tot))
      .select(col("source"), col("n_a"), col("n_b"),
        expr("(n_a * 1000000) div ta").cast("long").as("share_a_ppm"),
        expr("(n_b * 1000000) div tb").cast("long").as("share_b_ppm"),
        (expr("(n_a * 1000000) div ta") - expr("(n_b * 1000000) div tb"))
          .cast("long").as("delta_ppm"))
  }

  val WTargetLen = 400L // length-proportional sampling pivot (tokens)
  val WSalt      = "w1"

  /** Length-proportional (size-biased) deterministic sampling: each
    * document kept with probability min(1, n_tokens / WTargetLen) —
    * the draw that makes a TOKEN budget sample uniformly over tokens
    * instead of documents (short-doc-heavy sources are otherwise
    * over-represented per token; the packing stage's input wants the
    * opposite). Same counter-hash machinery as `sample_stratified`
    * (u = h60(doc_id:salt), replayable on any partitioning), but the
    * threshold is the document's own length: keep iff
    * u_ppm · T < n_tokens · 1e6 — all-integer, engine-exact, and docs
    * at or above the pivot length are kept with certainty. NULL-text
    * docs have zero tokens and are never kept. One scan, no shuffle. */
  def sampleWeighted(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), col("source"),
        when(col("text").isNull, 0L).otherwise(size(col("tk")).cast("long")).as("n_tokens"),
        (Portable.h60(concat(col("doc_id").cast("string"), lit(":" + WSalt))) % 1000000L)
          .as("u_ppm"))
      .withColumn("kept", col("u_ppm") * WTargetLen < col("n_tokens") * 1000000L)

  /** Equi-depth length deciles per source: each document's decile bin
    * by character length — the balanced-bucket view used for
    * curriculum schedules and per-bin sampling quotas (where
    * `token_histogram` buckets by VALUE, this buckets by RANK).
    * The `ntile` remainder rule (earlier buckets take the extra rows)
    * is applied as explicit arithmetic over a [[RangeRank]] rank — a
    * source-partitioned `ntile` window would sort ~N/|sources| rows
    * in one task, and the remainder rule is a pure function of
    * (rank, group size): with s = n div 10 and r = n mod 10, rows
    * rank ≤ r·(s+1) land in bucket (rank−1) div (s+1) + 1 and the
    * rest in r + (rank − r·(s+1) − 1) div s + 1 — identical to both
    * engines' ntile. The order key carries the unique doc_id
    * tiebreak, so bin assignment is deterministic under any
    * partitioning. */
  def quantileBins(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
    val n = t.groupBy(col("source")).agg(count(lit(1)).as("n"))
    RangeRank.rowNumber(t, Seq("source"), Seq(col("n_chars"), col("doc_id")), "rn")
      .join(broadcast(n), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("""CASE WHEN rn <= (n % 10) * (n div 10 + 1)
               |     THEN (rn - 1) div (n div 10 + 1) + 1
               |     ELSE n % 10 + (rn - (n % 10) * (n div 10 + 1) - 1) div (n div 10) + 1
               |END""".stripMargin).cast("long").as("decile"))
  }

  /** Vocabulary-growth (Heaps-law) curve per source: documents in
    * ingest (doc_id) order, each with its count of NEVER-BEFORE-SEEN
    * terms and the running vocabulary size — the statistic that says
    * whether a source keeps contributing novel language or has gone
    * repetitive (its curve flattens), read directly against tokenizer
    * sizing. A term's first document is one vocabulary-keyed
    * partial-agg groupBy (min doc_id); the curve is a
    * [[RangeRank.runningSum]] per source (a source-partitioned window
    * would stream ~N/|sources| rows through one task); docs
    * introducing nothing keep explicit zero rows. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val firstDoc = docs(s, d)
      .select(col("source"), col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("source"), col("term")).agg(min(col("doc_id")).as("fdoc"))
      .groupBy(col("source"), col("fdoc").as("doc_id"))
      .agg(count(lit(1)).as("n_new_terms"))
    val perDoc = Tables.documents(s, d).select(col("source"), col("doc_id"))
      .join(firstDoc, Seq("source", "doc_id"), "left")
      .withColumn("n_new_terms", coalesce(col("n_new_terms"), lit(0L)))
    RangeRank.runningSum(perDoc, Seq("source"), Seq(col("doc_id")),
        col("n_new_terms"), "vocab_size")
      .select("source", "doc_id", "n_new_terms", "vocab_size")
  }

  /** Language-diversity index per source: Gini–Simpson
    * 1 − Σ pᵢ² of the language distribution, in integer ppm — the
    * log-free diversity metric (a Shannon entropy would need `ln`,
    * which is not bit-portable cross-engine; Gini–Simpson carries the
    * same monitoring signal in pure rational arithmetic). Exact while
    * N² · 1e6 fits int64 (N ≤ ~3M docs per source); beyond that the
    * production caller computes it over a fixed-rate counter-hash
    * sample, which leaves the index unbiased. One partial-agg groupBy
    * chain, no window. */
  def langDiversity(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("ni"))
      .groupBy(col("source"))
      .agg(sum(col("ni")).as("n_docs"), count(lit(1)).as("n_langs"),
        sum(col("ni") * col("ni")).as("ssq"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"), col("n_langs"),
        expr("((n_docs * n_docs - ssq) * 1000000) div (n_docs * n_docs)")
          .cast("long").as("simpson_ppm"))

  val queries: Map[String, QueryFn] = Map(
    "lang_diversity" -> (langDiversity _),
    "vocab_growth" -> (vocabGrowth _),
    "filter_funnel" -> (filterFunnel _),
    "corpus_drift" -> (corpusDrift _),
    "minhash_est_error" -> (minhashEstError _),
    "bbit_minhash_est" -> (bbitMinhashEst _),
    "edit_ratio_pairs" -> (editRatioPairs _),
    "source_overlap" -> (sourceOverlap _),
    "sample_weighted" -> (sampleWeighted _),
    "dup_ngram_coverage" -> (dupNgramCoverage _),
    "quantile_bins" -> (quantileBins _),
    "lang_confusion" -> (langConfusion _),
    "dup_degree" -> (dupDegree _),
    "vocab_coverage" -> (vocabCoverage _),
    "dedup_normalized" -> (dedupNormalized _),
    "token_histogram" -> (tokenHistogram _),
    "dedup_cross_source" -> (dedupCrossSource _),
    "dup_cluster_sizes" -> (dupClusterSizes _),
    "bm25_topk" -> (bm25Topk _),
    "bpe_pair_counts" -> (bpePairCounts _),
    "bpe_train" -> (bpeTrain _),
    "bpe_apply" -> (bpeApply _),
    // the two array-emitting queries register a driver-sortable view:
    // the driver's compare harness sorts rows with pandas, which cannot
    // hash raw array cells (r16 driver record: TypeError on ndarray), so
    // the CHECKED output carries the canonical space-joined id string
    // while the array-valued Scala API stays for internal consumers
    // (chunk_documents_bpe, pack_sequences_bpe reconciliation)
    "bpe_encode" -> (bpeEncodeChecked _),
    "chunk_documents_bpe" -> (chunkDocumentsBpeChecked _),
    "bpe_vocab_topk" -> (bpeVocabTopk _),
    "quality_model_score" -> (qualityModelScore _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "ngram_lm_counts" -> (ngramLmCounts _),
    "ngram_kn_probs" -> (ngramKnProbs _),
    "lm_doc_score" -> (lmDocScore _),
    "tfidf_cosine_pairs" -> (tfidfCosinePairs _),
    "sample_reservoir" -> (sampleReservoir _),
    "rare_token_ratio" -> (rareTokenRatio _),
    "corpus_rollup" -> (corpusRollup _),
    "vocab_topk" -> (vocabTopk _),
    "vocab_oov_rate" -> (vocabOovRate _),
    "lm_coverage" -> (lmCoverage _),
    "split_leakage_report" -> (splitLeakageReport _),
    "bigram_lift" -> (bigramLift _),
    "lsh_band_sweep" -> (lshBandSweep _),
    "minhash_recall_sample" -> (minhashRecallSample _),
    "minhash_containment" -> (minhashContainment _),
    "corpus_quantiles" -> (corpusQuantiles _),
    "dedup_incremental" -> (dedupIncremental _),
    "chunk_documents" -> (chunkDocuments _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_savings"   -> (dedupSavings _),
    "dedup_stack_report" -> (dedupStackReport _),
    "doc_novelty"     -> (docNovelty _),
    "decontaminate"   -> (decontaminate _),
    "dedup_segments"  -> (dedupSegments _),
    "quality_gopher"  -> (qualityGopher _),
    "quality_repetition" -> (qualityRepetition _),
    "sample_stratified" -> (sampleStratified _),
    "tfidf_topk"      -> (tfidfTopk _),
    "corpus_stats"    -> (corpusStats _),
    "dup_clusters"    -> (dupClusters _),
    "corpus_clean"    -> (corpusClean _),
    "dedup_exact"     -> (dedupExact _),
    "dedup_minhash"   -> (dedupMinhash _),
    "dedup_simhash"   -> (dedupSimhash _),
    "ngram_jaccard"   -> (ngramJaccard _),
    "text_quality"    -> (textQuality _),
    "lang_id"         -> (langId _),
    "token_count"     -> (tokenCount _),
    "doc_fingerprint" -> (docFingerprint _),
    "dedup_fingerprint" -> (dedupFingerprint _),
    "corpus_quantiles_lang" -> (corpusQuantilesLang _),
    "dedup_spans" -> (dedupSpans _),
    "span_excise" -> (spanExcise _),
    "span_excise_savings" -> (spanExciseSavings _),
    "dup_span_stats" -> (dupSpanStats _),
    "span_dedup_incremental" -> (spanDedupIncremental _),
    "unigram_lm_train" -> (unigramLmTrain _),
    "unigram_fertility" -> (unigramFertility _)
  )

  // ---- SQL twins (DuckDB) ----------------------------------------

  private val tkSql = Portable.tokensSql("text")

  /** CTE chain for the exact-substring span family: positioned h60
    * shingle hashes → corpus-wide duplicated hashes → gaps-and-islands
    * run merge → spans of >= [[SpanMinRun]] consecutive duplicated
    * shingles. Twin of [[dedupSpans]]' plan, including the hash (so a
    * collision — negligible at 60 bits — still checks exactly). */
  private def spanCtes: String =
    s"""toks AS (SELECT doc_id, source, text, $tkSql AS tk FROM documents),
       |shp AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
       |spos AS (SELECT doc_id, unnest(range(len(shl))) AS pos,
       |                unnest(list_transform(shl, x -> ${Portable.h60Sql("x")})) AS h
       |         FROM shp),
       |duph AS (SELECT h FROM spos GROUP BY h HAVING count(*) >= 2),
       |druns AS (SELECT doc_id, pos,
       |                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |          FROM spos WHERE h IN (SELECT h FROM duph)),
       |spans AS (SELECT doc_id, min(pos) AS sp, max(pos) AS ep, count(*) AS n
       |          FROM druns GROUP BY doc_id, grp
       |          HAVING count(*) >= $SpanMinRun)""".stripMargin
  private val stopListSql = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** toks→shingles→hashes→signature CTE chain — the SQL twin of
    * [[hashed]]+[[sigCol]], shared by the minhash family oracles and
    * the band-sweep oracle. */
  private[graft] def sigCtesSql: String = {
    val sigElems = (0 until MinhashK).map { j =>
      s"coalesce(list_min(list_transform(hs, h -> (h * ${Portable.permA(j)} + ${Portable.permB(j)}) % $P)), $P)"
    }.mkString("[", ",\n      ", "]")
    s"""toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
       |sh AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
       |hsh AS (SELECT doc_id,
       |    list_transform(shl, x -> ${Portable.hmodSql("x")}) AS hs,
       |    list_distinct(shl) AS shset FROM sh),
       |sig AS (SELECT doc_id, shset, $sigElems AS sig FROM hsh)""".stripMargin
  }

  private def minhashCtes: String = {
    val bandSelects = (0 until nBands).map { b =>
      s"SELECT doc_id, $b AS band, sig[${MinhashR * b + 1}] * $P + sig[${MinhashR * b + 2}] AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$sigCtesSql,
       |bands0 AS (
       |  $bandSelects),
       |bands AS (
       |  SELECT doc_id, band, bkey FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn FROM bands0)
       |  WHERE bn <= ${Lsh.MaxBucket}),
       |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pj AS (SELECT c.ida, c.idb,
       |    CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(x.shset, y.shset))) AS DOUBLE) AS jacc
       |  FROM cand c JOIN sig x ON c.ida = x.doc_id JOIN sig y ON c.idb = y.doc_id)""".stripMargin
  }

  /** CTE chain for the simhash oracles. */
  private def simhashCtes: String = {
    val bitSums = (0 until SimBits).map { i =>
      s"sum(CASE WHEN (h >> $i) % 2 = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(",\n      ")
    val fpExpr = (0 until SimBits).map { i =>
      s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    val bandSelects = (0 until SimBits / SimBandBits).map { b =>
      s"SELECT doc_id, fp, $b AS band, (fp >> ${b * SimBandBits}) % ${1 << SimBandBits} AS bkey FROM fps"
    }.mkString("\n  UNION ALL ")
    s"""toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
       |sh AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
       |th AS (SELECT doc_id, unnest(list_transform(shl, x -> ${Portable.hmodSql("x")})) AS h FROM sh),
       |bsums AS (SELECT doc_id, $bitSums FROM th GROUP BY doc_id),
       |fps AS (SELECT doc_id, $fpExpr AS fp FROM bsums),
       |sbands0 AS (
       |  $bandSelects),
       |sbands AS (
       |  SELECT doc_id, fp, band, bkey FROM (
       |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn FROM sbands0)
       |  WHERE bn <= ${Lsh.MaxBucket}),
       |sdup AS (SELECT DISTINCT b.doc_id
       |  FROM sbands a JOIN sbands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= $HamT)""".stripMargin
  }

  private val bmInList = BmQTerms.map(t => s"'$t'").mkString("(", ", ", ")")
  private val bmPivot = BmQTerms.map(t =>
    s"coalesce(max(CASE WHEN term = '$t' THEN sc END), 0.0) AS s_$t").mkString(",\n  ")
  private val bmSum = BmQTerms.map(t => s"s_$t").mkString(" + ")

  private val histChain = (HistMaxPow to 0 by -1)
    .map(b => s"WHEN ntok >= ${1L << b} THEN $b").mkString("\n    ")

  /** Unrolled BPE fit as CTEs ([[bpeTrain]]'s twin): `w0` is the
    * word-frequency table with the delimiter-framed char sequence;
    * each round k derives pair counts `p_k`, the argmax `b_k`, the
    * rewrite patterns `m_k`, the rewritten vocab `w_k`, and the
    * merge-table row `r_k`. Yields the final vocab as `w$BpeMerges`
    * and the union of rows as `merges`. */
  private[operators] def bpeCtesSql: String = {
    val D = BpeDelim
    def pairsOf(w: String): String =
      s"""SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM (
         |  SELECT wc, unnest(${Portable.shinglesSql(
               s"list_slice(string_split(seq, '$D'), 1, len(string_split(seq, '$D')) - 1)", 2)}) AS pair
         |  FROM $w) GROUP BY pair""".stripMargin
    val rounds = (1 to BpeMerges).map { k =>
      s"""p_$k AS (
         |  ${pairsOf(s"w${k - 1}")}),
         |b_$k AS (SELECT pair, cnt FROM p_$k ORDER BY cnt DESC, pair LIMIT 1),
         |m_$k AS (SELECT pair, cnt,
         |    '$D' || split_part(pair, ' ', 1) || '$D' || split_part(pair, ' ', 2) || '$D' AS pat,
         |    '$D' || split_part(pair, ' ', 1) || split_part(pair, ' ', 2) || '$D' AS rep
         |  FROM b_$k),
         |w_m$k AS (
         |  SELECT w, wc,
         |         CASE WHEN m.pat IS NULL THEN seq
         |              ELSE substring(replace(replace('$D' || seq, m.pat, m.rep), m.pat, m.rep), 2)
         |         END AS seq,
         |         CASE WHEN m.pat IS NOT NULL AND strpos('$D' || seq, m.pat) > 0
         |              THEN 1 ELSE 0 END AS tch
         |  FROM w${k - 1} LEFT JOIN m_$k m ON TRUE),
         |w$k AS (SELECT w, wc, seq FROM w_m$k),
         |r_$k AS (
         |  SELECT CAST($k AS BIGINT) AS round, pair, cnt,
         |         (SELECT CAST(sum(tch) AS BIGINT) FROM w_m$k) AS n_words
         |  FROM b_$k)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeMerges).map(k => s"SELECT * FROM r_$k").mkString("\n  UNION ALL ")
    s"""btoks AS (SELECT unnest($tkSql) AS w FROM documents WHERE text IS NOT NULL),
       |w0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS wc,
       |         regexp_replace(w, '([\\s\\S])', '\\1$D', 'g') AS seq
       |  FROM btoks WHERE w <> '' GROUP BY w),
       |$rounds,
       |merges AS (
       |  $union)""".stripMargin
  }

  /** The [[bpeEncode]] pipeline as a CTE chain ending in
    * `enc (doc_id, n_words, token_ids)` — shared by the encode and
    * learned-chunking oracles. */
  private lazy val bpeEncodeCtes: String =
    s"""$bpeCtesSql,
       |ws AS (
       |  SELECT w, list_slice(string_split(seq, '$BpeDelim'), 1,
       |                       len(string_split(seq, '$BpeDelim')) - 1) AS syms
       |  FROM w$BpeMerges),
       |sy AS (SELECT DISTINCT unnest(syms) AS sym FROM ws),
       |ids AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS id FROM sy),
       |wp AS (SELECT w, unnest(range(len(syms))) AS sp, syms FROM ws),
       |ws2 AS (SELECT w, sp, syms[sp + 1] AS sym FROM wp),
       |wids AS (
       |  SELECT w, list(id ORDER BY sp) AS wids
       |  FROM ws2 JOIN ids USING (sym) GROUP BY w),
       |dt AS (SELECT doc_id, $tkSql AS tk FROM documents WHERE text IS NOT NULL),
       |dp AS (SELECT doc_id, unnest(range(len(tk))) AS p, tk FROM dt),
       |dw AS (SELECT doc_id, p, tk[p + 1] AS w FROM dp WHERE tk[p + 1] <> ''),
       |enc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |         flatten(list(wids ORDER BY p)) AS token_ids
       |  FROM dw JOIN wids USING (w) GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "bpe_train" ->
      s"""WITH $bpeCtesSql
         |SELECT round, pair, cnt, n_words FROM merges""".stripMargin,
    "bpe_vocab_topk" ->
      s"""WITH $bpeCtesSql,
         |sy AS (
         |  SELECT w, wc,
         |         unnest(list_slice(string_split(seq, '$BpeDelim'), 1,
         |                           len(string_split(seq, '$BpeDelim')) - 1)) AS sym
         |  FROM w$BpeMerges),
         |st AS (
         |  SELECT sym, CAST(sum(wc) AS BIGINT) AS cnt,
         |         CAST(count(DISTINCT w) AS BIGINT) AS n_words
         |  FROM sy GROUP BY sym),
         |rk AS (
         |  SELECT sym, cnt, n_words,
         |         row_number() OVER (ORDER BY cnt DESC, sym) AS rnk
         |  FROM st)
         |SELECT CAST(rnk AS BIGINT) AS rnk, sym, cnt, n_words
         |FROM rk WHERE rnk <= $BpeK""".stripMargin,
    "bpe_encode" ->
      s"""WITH $bpeEncodeCtes
         |SELECT doc_id, n_words, CAST(len(token_ids) AS BIGINT) AS n_ids,
         |  array_to_string(token_ids, ' ') AS token_ids_s
         |FROM enc""".stripMargin,
    "chunk_documents_bpe" ->
      s"""WITH $bpeEncodeCtes,
         |e AS (SELECT doc_id, token_ids, CAST(len(token_ids) AS BIGINT) AS n FROM enc),
         |kx AS (SELECT *, CASE WHEN n <= $ChunkTokens THEN 1
         |                      ELSE 1 + (n - $ChunkTokens + ${ChunkStride - 1}) // $ChunkStride
         |                 END AS k FROM e),
         |cx AS (SELECT doc_id, token_ids, n, unnest(range(k)) AS chunk_idx FROM kx)
         |SELECT doc_id, chunk_idx,
         |  chunk_idx * $ChunkStride AS chunk_start,
         |  least(n - chunk_idx * $ChunkStride, $ChunkTokens) AS n_chunk_ids,
         |  array_to_string(list_slice(token_ids, chunk_idx * $ChunkStride + 1,
         |    chunk_idx * $ChunkStride + least(n - chunk_idx * $ChunkStride, $ChunkTokens)),
         |    ' ') AS chunk_ids_s
         |FROM cx""".stripMargin,
    "bpe_apply" ->
      s"""WITH $bpeCtesSql,
         |vocab AS (
         |  SELECT w, CAST(len(string_split(seq, '$BpeDelim')) - 1 AS BIGINT) AS n_syms
         |  FROM w$BpeMerges),
         |corpus AS (SELECT source, unnest($tkSql) AS w FROM documents WHERE text IS NOT NULL),
         |g AS (
         |  SELECT source, count(*) AS n_tokens,
         |         CAST(sum(length(c.w)) AS BIGINT) AS chars_total,
         |         CAST(sum(v.n_syms) AS BIGINT) AS syms_total
         |  FROM corpus c JOIN vocab v ON c.w = v.w
         |  WHERE c.w <> '' GROUP BY source)
         |SELECT source, n_tokens, chars_total, syms_total,
         |       CAST((syms_total * 1000000) // chars_total AS BIGINT) AS compression_ppm
         |FROM g""".stripMargin,
    "lang_diversity" ->
      """WITH g AS (SELECT source, lang, count(*) AS ni FROM documents GROUP BY source, lang),
        |a AS (SELECT source, CAST(sum(ni) AS BIGINT) AS n_docs, count(*) AS n_langs,
        |       CAST(sum(ni * ni) AS BIGINT) AS ssq FROM g GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |       CAST(((n_docs * n_docs - ssq) * 1000000) // (n_docs * n_docs) AS BIGINT) AS simpson_ppm
        |FROM a""".stripMargin,
    "vocab_growth" ->
      s"""WITH toks AS (SELECT source, doc_id, unnest($tkSql) AS term FROM documents),
         |fd AS (SELECT source, term, min(doc_id) AS fdoc FROM toks GROUP BY source, term),
         |nn AS (SELECT source, fdoc AS doc_id, count(*) AS n_new_terms
         |       FROM fd GROUP BY source, fdoc)
         |SELECT d.source, d.doc_id,
         |       CAST(coalesce(nn.n_new_terms, 0) AS BIGINT) AS n_new_terms,
         |       CAST(sum(coalesce(nn.n_new_terms, 0)) OVER (
         |         PARTITION BY d.source ORDER BY d.doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
         |FROM documents d LEFT JOIN nn
         |  ON d.source = nn.source AND d.doc_id = nn.doc_id""".stripMargin,
    "filter_funnel" ->
      s"""WITH $minhashCtes,
         |tq AS (
         |  SELECT doc_id,
         |    len($tkSql) AS n_words,
         |    CAST(length(text) - (len($tkSql) - 1) AS DOUBLE) / CAST(len($tkSql) AS DOUBLE) AS mean_word_len,
         |    CAST(len(list_filter($tkSql, t -> list_contains($stopListSql, t))) AS DOUBLE)
         |      / CAST(len($tkSql) AS DOUBLE) AS stop_ratio
         |  FROM documents),
         |dup AS (SELECT DISTINCT idb AS doc_id FROM pj WHERE jacc >= ${JaccT}e0),
         |fl AS (
         |  SELECT coalesce(tq.n_words >= $MinWords, false) AS f1,
         |         coalesce(tq.mean_word_len <= ${Portable.dl(MaxMeanWord)}, false) AS f2,
         |         coalesce(tq.stop_ratio >= ${Portable.dl(MinStopRatio)}, false) AS f3,
         |         (dup.doc_id IS NOT NULL) AS isdup
         |  FROM tq LEFT JOIN dup ON tq.doc_id = dup.doc_id),
         |ag AS (
         |  SELECT count(*) AS n0,
         |         coalesce(sum(CASE WHEN f1 THEN 1 ELSE 0 END), 0) AS n1,
         |         coalesce(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END), 0) AS n2,
         |         coalesce(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END), 0) AS n3,
         |         coalesce(sum(CASE WHEN f1 AND f2 AND f3 AND NOT isdup THEN 1 ELSE 0 END), 0) AS n4
         |  FROM fl)
         |SELECT stage, rule, CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
         |       CAST(n_in - n_out AS BIGINT) AS n_dropped
         |FROM (
         |  SELECT 1 AS stage, 'min_words' AS rule, n0 AS n_in, n1 AS n_out FROM ag
         |  UNION ALL SELECT 2, 'mean_word_len', n1, n2 FROM ag
         |  UNION ALL SELECT 3, 'stop_ratio', n2, n3 FROM ag
         |  UNION ALL SELECT 4, 'near_dup', n3, n4 FROM ag)""".stripMargin,
    "corpus_drift" ->
      """WITH g AS (
        |  SELECT source,
        |         sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
        |         sum(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM g)
        |SELECT source, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       CAST((n_a * 1000000) // ta AS BIGINT) AS share_a_ppm,
        |       CAST((n_b * 1000000) // tb AS BIGINT) AS share_b_ppm,
        |       CAST((n_a * 1000000) // ta - (n_b * 1000000) // tb AS BIGINT) AS delta_ppm
        |FROM g, t""".stripMargin,
    "source_overlap" ->
      s"""WITH toks AS (SELECT doc_id, source, $tkSql AS tk FROM documents),
         |shd AS (SELECT source, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |e AS (SELECT DISTINCT source, ${Portable.hmodSql("sh")} AS h
         |      FROM (SELECT source, unnest(shl) AS sh FROM shd)),
         |per AS (SELECT source, count(*) AS n_sh FROM e GROUP BY 1),
         |tp AS (
         |  SELECT a.source AS src_a, b.source AS src_b, a.n_sh AS n_a, b.n_sh AS n_b
         |  FROM per a JOIN per b ON a.source < b.source),
         |cm AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
         |  FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT tp.src_a, tp.src_b, tp.n_a, tp.n_b,
         |       coalesce(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
         |       (coalesce(cm.n_common, CAST(0 AS BIGINT)) * 1000000)
         |         // (tp.n_a + tp.n_b - coalesce(cm.n_common, CAST(0 AS BIGINT))) AS jacc_ppm
         |FROM tp LEFT JOIN cm ON tp.src_a = cm.src_a AND tp.src_b = cm.src_b""".stripMargin,
    "bbit_minhash_est" -> {
      val w = 1 << BbitB
      s"""WITH $minhashCtes,
         |m AS (
         |  SELECT c.ida, c.idb,
         |    CAST(len(list_filter(range(1, $MinhashK + 1), i -> x.sig[i] = y.sig[i])) AS BIGINT) AS n_match,
         |    CAST(len(list_filter(range(1, $MinhashK + 1), i -> (x.sig[i] % $w) = (y.sig[i] % $w))) AS BIGINT) AS n_match_bbit,
         |    (CAST(len(list_intersect(x.shset, y.shset)) AS BIGINT) * 1000000)
         |      // CAST(len(list_distinct(list_concat(x.shset, y.shset))) AS BIGINT) AS jacc_ppm
         |  FROM cand c JOIN sig x ON c.ida = x.doc_id JOIN sig y ON c.idb = y.doc_id)
         |SELECT ida, idb, n_match, n_match_bbit, jacc_ppm,
         |       (n_match * 1000000) // $MinhashK AS est_full_ppm,
         |       greatest(CAST(0 AS BIGINT),
         |         (($w * n_match_bbit - $MinhashK) * 1000000) // (${w - 1} * $MinhashK)) AS est_bbit_ppm
         |FROM m""".stripMargin
    },
    "edit_ratio_pairs" ->
      s"""WITH $minhashCtes,
         |tx AS (SELECT doc_id, substring(coalesce(text, ''), 1, $EditPrefix) AS tx FROM documents),
         |e AS (
         |  SELECT c.ida, c.idb,
         |         CAST(levenshtein(a.tx, b.tx) AS BIGINT) AS edit_dist,
         |         CAST(greatest(length(a.tx), length(b.tx)) AS BIGINT) AS max_len
         |  FROM cand c JOIN tx a ON c.ida = a.doc_id JOIN tx b ON c.idb = b.doc_id)
         |SELECT ida, idb, edit_dist, max_len,
         |       CASE WHEN max_len > 0 THEN ((max_len - edit_dist) * 1000000) // max_len
         |            ELSE CAST(1000000 AS BIGINT) END AS edit_sim_ppm,
         |       (CASE WHEN max_len > 0 THEN ((max_len - edit_dist) * 1000000) // max_len
         |             ELSE CAST(1000000 AS BIGINT) END) >= 800000 AS is_near_dup
         |FROM e""".stripMargin,
    "minhash_est_error" ->
      s"""WITH $minhashCtes
         |SELECT p.ida, p.idb,
         |       CAST(len(list_filter(range(1, $MinhashK + 1), i -> x.sig[i] = y.sig[i])) AS BIGINT) AS n_match,
         |       CAST(len(list_filter(range(1, $MinhashK + 1), i -> x.sig[i] = y.sig[i])) AS DOUBLE)
         |         / ${MinhashK}e0 AS jacc_est,
         |       p.jacc
         |FROM pj p JOIN sig x ON p.ida = x.doc_id JOIN sig y ON p.idb = y.doc_id""".stripMargin,
    "sample_weighted" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CASE WHEN text IS NULL THEN 0
         |              ELSE len($tkSql) END AS n_tokens,
         |         ${Portable.h60Sql(s"CAST(doc_id AS VARCHAR) || ':$WSalt'")} % 1000000 AS u_ppm
         |  FROM documents)
         |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |       CAST(u_ppm AS BIGINT) AS u_ppm,
         |       u_ppm * $WTargetLen < n_tokens * 1000000 AS kept
         |FROM t""".stripMargin,
    "dup_ngram_coverage" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |shd AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |e AS (SELECT doc_id, unnest(list_distinct(shl)) AS sh FROM shd),
         |c AS (SELECT sh, count(*) AS ndocs FROM e GROUP BY sh),
         |p AS (
         |  SELECT e.doc_id, count(*) AS n_shingles,
         |         sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
         |  FROM e JOIN c ON e.sh = c.sh GROUP BY e.doc_id)
         |SELECT d.doc_id,
         |       coalesce(p.n_shingles, 0) AS n_shingles,
         |       CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
         |       CASE WHEN p.n_shingles > 0
         |            THEN CAST(p.n_dup AS DOUBLE) / CAST(p.n_shingles AS DOUBLE) END AS dup_ratio
         |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id""".stripMargin,
    "quantile_bins" ->
      """SELECT doc_id, source, n_chars,
        |       CAST(ntile(10) OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS decile
        |FROM documents""".stripMargin,
    "lang_confusion" ->
      s"""WITH toks AS (SELECT doc_id, lang, $tkSql AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(tk, t -> list_contains($stopListSql, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio
         |  FROM toks),
         |g AS (SELECT lang, CASE WHEN stop_ratio >= 2e-2 THEN 'en' ELSE 'unk' END AS guess FROM sc),
         |cells AS (SELECT lang, guess, count(*) AS n FROM g GROUP BY lang, guess)
         |SELECT lang, guess, n,
         |       CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS label_total,
         |       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS share
         |FROM cells""".stripMargin,
    "dup_degree" ->
      s"""WITH $minhashCtes,
         |vp AS (SELECT ida, idb FROM pj WHERE jacc >= ${JaccT}e0),
         |deg AS (
         |  SELECT doc_id, count(*) AS degree FROM (
         |    SELECT ida AS doc_id FROM vp UNION ALL SELECT idb AS doc_id FROM vp)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(deg.degree, 0) AS degree,
         |       coalesce(deg.degree, 0) > 0 AS is_duplicated
         |FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id""".stripMargin,
    "vocab_coverage" ->
      s"""WITH toks AS (
         |  SELECT source, unnest($tkSql) AS term FROM documents),
         |dtoks AS (
         |  SELECT doc_id, unnest($tkSql) AS term FROM documents),
         |stats AS (
         |  SELECT term, count(*) AS tf FROM dtoks GROUP BY term),
         |vocab AS (
         |  SELECT term FROM (
         |    SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rnk
         |    FROM stats) WHERE rnk <= $VocabK)
         |SELECT t.source, count(*) AS total_tokens,
         |       CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS covered_tokens,
         |       CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS coverage
         |FROM toks t LEFT JOIN vocab v ON t.term = v.term
         |GROUP BY t.source""".stripMargin,
    "dedup_normalized" ->
      s"""WITH n AS (
         |  SELECT doc_id,
         |         trim(regexp_replace(regexp_replace(lower(text),
         |           '$NormStripRe', '', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM documents)
         |SELECT doc_id, sha256(norm) AS nhash,
         |       CAST(length(norm) AS BIGINT) AS n_norm_chars,
         |       row_number() OVER (PARTITION BY sha256(norm) ORDER BY doc_id) = 1
         |         AS is_canonical
         |FROM n""".stripMargin,
    "token_histogram" ->
      s"""WITH t AS (
         |  SELECT source, CAST(len($tkSql) AS BIGINT) AS ntok FROM documents),
         |b AS (
         |  SELECT source, ntok,
         |    CAST(CASE WHEN ntok IS NULL THEN NULL
         |    $histChain
         |    ELSE NULL END AS BIGINT) AS bucket
         |  FROM t)
         |SELECT source, bucket,
         |       CASE WHEN bucket IS NOT NULL THEN CAST(1 AS BIGINT) << bucket END AS bucket_lo,
         |       count(*) AS n_docs,
         |       CAST(sum(ntok) AS BIGINT) AS sum_tokens
         |FROM b GROUP BY source, bucket""".stripMargin,
    "dedup_cross_source" ->
      s"""WITH $minhashCtes
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs,
         |       least(da.source, db.source) <> greatest(da.source, db.source) AS cross_source
         |FROM pj
         |JOIN documents da ON pj.ida = da.doc_id
         |JOIN documents db ON pj.idb = db.doc_id
         |WHERE pj.jacc >= ${JaccT}e0
         |GROUP BY 1, 2, 4""".stripMargin,
    "dup_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashCtes,
         |dedges AS (
         |  SELECT ida AS a, idb AS b FROM pj WHERE jacc >= ${JaccT}e0
         |  UNION ALL
         |  SELECT idb AS a, ida AS b FROM pj WHERE jacc >= ${JaccT}e0),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN dedges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |cs AS (SELECT cluster_id, count(*) AS sz FROM labels GROUP BY cluster_id)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |       CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY sz""".stripMargin,
    "bm25_topk" ->
      s"""WITH dls AS (
         |  SELECT doc_id, CAST(len($tkSql) AS BIGINT) AS dl
         |  FROM documents WHERE text IS NOT NULL),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM dls),
         |toks AS (SELECT doc_id, unnest($tkSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN $bmInList GROUP BY doc_id, term),
         |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT t.doc_id, t.term,
         |    (CAST(s.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) *
         |      (CAST(t.tf AS DOUBLE) * ${BmK1 + 1.0}) /
         |      (CAST(t.tf AS DOUBLE) +
         |        $BmK1 * (1.0 - $BmB + $BmB * CAST(l.dl AS DOUBLE) / s.avgdl)) AS sc
         |  FROM tf t JOIN dfr d USING (term) JOIN dls l USING (doc_id) CROSS JOIN stats s),
         |pd AS (SELECT doc_id,
         |  $bmPivot
         |  FROM sc GROUP BY doc_id),
         |ranked AS (
         |  SELECT doc_id, $bmSum AS score, ${BmQTerms.map(t => s"s_$t").mkString(", ")},
         |         row_number() OVER (ORDER BY $bmSum DESC, doc_id) AS rnk
         |  FROM pd)
         |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, score,
         |       ${BmQTerms.map(t => s"s_$t").mkString(", ")}
         |FROM ranked WHERE rnk <= $BmTopK""".stripMargin,
    "bpe_pair_counts" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tkSql AS tk FROM documents),
         |prs AS (
         |  SELECT doc_id, unnest(${Portable.shinglesSql("tk", 2)}) AS pair FROM toks),
         |stats AS (
         |  SELECT pair, count(*) AS cnt, count(DISTINCT doc_id) AS df
         |  FROM prs GROUP BY pair),
         |ranked AS (
         |  SELECT pair, cnt, df,
         |         row_number() OVER (ORDER BY cnt DESC, pair) AS rnk
         |  FROM stats)
         |SELECT rnk, pair, cnt, df FROM ranked WHERE rnk <= $BpeK""".stripMargin,
    "sample_reservoir" ->
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |         ${Portable.h60Sql(s"CAST(doc_id AS VARCHAR) || ':$ReservoirSalt'")} AS u
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, u,
         |         row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rnk
         |  FROM u)
         |SELECT doc_id, source, u, CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= $ReservoirK""".stripMargin,
    "rare_token_ratio" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tkSql) AS term FROM documents
         |  UNION ALL
         |  SELECT doc_id, NULL AS term FROM documents WHERE text IS NULL),
         |tf AS (
         |  SELECT term, count(*) AS ctf FROM toks
         |  WHERE term IS NOT NULL GROUP BY term)
         |SELECT t.doc_id, count(t.term) AS n_tokens,
         |       CAST(sum(CASE WHEN tf.ctf < $RareTf THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
         |       CASE WHEN count(t.term) > 0
         |            THEN CAST(sum(CASE WHEN tf.ctf < $RareTf THEN 1 ELSE 0 END) AS DOUBLE)
         |               / CAST(count(t.term) AS DOUBLE)
         |       END AS rare_ratio
         |FROM toks t LEFT JOIN tf ON t.term = tf.term
         |GROUP BY t.doc_id""".stripMargin,
    "corpus_rollup" ->
      s"""WITH t AS (
         |  SELECT source, lang, CAST(len($tkSql) AS BIGINT) AS ntok FROM documents)
         |SELECT source, lang,
         |       CAST(GROUPING(source, lang) AS BIGINT) AS gid,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN ntok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |       CAST(sum(ntok) AS BIGINT) AS sum_tokens
         |FROM t GROUP BY ROLLUP (source, lang)""".stripMargin,
    "vocab_oov_rate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tkSql) AS term FROM documents),
         |st AS (SELECT term, count(*) AS tf FROM toks GROUP BY term),
         |vocab AS (
         |  SELECT term FROM (
         |    SELECT term, row_number() OVER (ORDER BY tf DESC, term) AS rnk FROM st)
         |  WHERE rnk <= $VocabK),
         |src AS (SELECT source, unnest($tkSql) AS term FROM documents),
         |g AS (
         |  SELECT s.source, count(*) AS n_tokens,
         |         CAST(coalesce(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_oov
         |  FROM src s LEFT JOIN vocab v ON s.term = v.term
         |  GROUP BY s.source)
         |SELECT source, n_tokens, n_oov, (n_oov * 1000000) // n_tokens AS oov_ppm
         |FROM g""".stripMargin,
    "lsh_band_sweep" -> {
      val cfg = LshSweepRs.map { r =>
        val b = MinhashK / r
        val bandSelects = (0 until b).map { bi =>
          val key = (0 until r).map(j => s"CAST(sig[${bi * r + j + 1}] AS VARCHAR)")
            .mkString(" || ',' || ")
          s"SELECT doc_id, $bi AS band, ${Portable.h60Sql(key)} AS bkey FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""b0_$r AS (
           |  $bandSelects),
           |b_$r AS (
           |  SELECT doc_id, band, bkey FROM (
           |    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bn FROM b0_$r)
           |  WHERE bn <= ${Lsh.MaxBucket}),
           |c_$r AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
           |  FROM b_$r a JOIN b_$r b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |s_$r AS (
           |  SELECT CAST($r AS BIGINT) AS rows_per_band, CAST($b AS BIGINT) AS n_bands,
           |         count(*) AS n_candidates,
           |         CAST(coalesce(sum(CASE WHEN
           |             CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) /
           |             CAST(len(list_distinct(list_concat(x.shset, y.shset))) AS DOUBLE) >= ${JaccT}e0
           |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_verified
           |  FROM c_$r c JOIN sig x ON c.ida = x.doc_id JOIN sig y ON c.idb = y.doc_id)""".stripMargin
      }.mkString(",\n")
      val sel = LshSweepRs.map(r => s"SELECT * FROM s_$r").mkString("\n  UNION ALL ")
      s"""WITH $sigCtesSql,
         |$cfg,
         |allcfg AS (
         |  $sel)
         |SELECT rows_per_band, n_bands, n_candidates, n_verified,
         |  CASE WHEN n_candidates > 0 THEN (n_verified * 1000000) // n_candidates
         |       ELSE CAST(0 AS BIGINT) END AS precision_ppm
         |FROM allcfg""".stripMargin
    },
    "vocab_topk" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tkSql) AS term FROM documents),
         |stats AS (
         |  SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
         |  FROM toks GROUP BY term),
         |ranked AS (
         |  SELECT term, tf, df,
         |         row_number() OVER (ORDER BY tf DESC, term) AS rnk
         |  FROM stats)
         |SELECT rnk, term, tf, df FROM ranked WHERE rnk <= $VocabK""".stripMargin,
    "minhash_containment" ->
      s"""WITH $minhashCtes
         |SELECT c.ida, c.idb,
         |  CASE WHEN len(x.shset) > 0
         |       THEN CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) / CAST(len(x.shset) AS DOUBLE)
         |  END AS contain_a,
         |  CASE WHEN len(y.shset) > 0
         |       THEN CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) / CAST(len(y.shset) AS DOUBLE)
         |  END AS contain_b,
         |  (coalesce(CASE WHEN len(x.shset) > 0
         |       THEN CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) / CAST(len(x.shset) AS DOUBLE)
         |     END, 0.0) >= ${ContainT}e0
         |   OR coalesce(CASE WHEN len(y.shset) > 0
         |       THEN CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) / CAST(len(y.shset) AS DOUBLE)
         |     END, 0.0) >= ${ContainT}e0) AS is_contained
         |FROM cand c JOIN sig x ON c.ida = x.doc_id JOIN sig y ON c.idb = y.doc_id""".stripMargin,
    "dedup_incremental" ->
      s"""WITH $minhashCtes,
         |exd AS (
         |  SELECT DISTINCT i.doc_id
         |  FROM documents i JOIN documents x
         |    ON sha256(i.text) = sha256(x.text)
         |  WHERE i.doc_id % $IncMod = 0 AND x.doc_id % $IncMod <> 0),
         |nrd AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM bands a
         |  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
         |  JOIN sig x ON x.doc_id = a.doc_id
         |  JOIN sig y ON y.doc_id = b.doc_id
         |  WHERE a.doc_id % $IncMod = 0 AND b.doc_id % $IncMod <> 0
         |    AND CAST(len(list_intersect(x.shset, y.shset)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(x.shset, y.shset))) AS DOUBLE) >= $JaccT)
         |SELECT d.doc_id,
         |       coalesce(e.t, false) AS dup_exact,
         |       coalesce(n.t, false) AS dup_near,
         |       NOT (coalesce(e.t, false) OR coalesce(n.t, false)) AS keep
         |FROM documents d
         |LEFT JOIN (SELECT doc_id, true AS t FROM exd) e ON d.doc_id = e.doc_id
         |LEFT JOIN (SELECT doc_id, true AS t FROM nrd) n ON d.doc_id = n.doc_id
         |WHERE d.doc_id % $IncMod = 0""".stripMargin,
    "corpus_quantiles" ->
      s"""WITH t AS (
         |  SELECT source, doc_id, CAST(len($tkSql) AS BIGINT) AS ntok FROM documents),
         |r AS (
         |  SELECT source, ntok,
         |         row_number() OVER (PARTITION BY source ORDER BY ntok, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY source) AS cnt
         |  FROM t WHERE ntok IS NOT NULL),
         |q AS (
         |  SELECT source, max(cnt) AS n_docs, min(ntok) AS min_tokens,
         |         max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN ntok END) AS p50_tokens,
         |         max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN ntok END) AS p90_tokens,
         |         max(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN ntok END) AS p99_tokens,
         |         max(ntok) AS max_tokens
         |  FROM r GROUP BY source),
         |z AS (
         |  SELECT source,
         |         CAST(sum(CASE WHEN ntok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
         |  FROM t GROUP BY source)
         |SELECT q.source, q.n_docs, z.n_null, q.min_tokens,
         |       q.p50_tokens, q.p90_tokens, q.p99_tokens, q.max_tokens
         |FROM q JOIN z ON q.source = z.source""".stripMargin,
    "chunk_documents" ->
      s"""WITH t AS (
         |  SELECT doc_id, $tkSql AS tk,
         |         CAST(len($tkSql) AS BIGINT) AS n
         |  FROM documents),
         |kk AS (
         |  SELECT doc_id, tk, n,
         |         CASE WHEN n IS NULL THEN NULL
         |              WHEN n <= $ChunkTokens THEN 1
         |              ELSE 1 + (n - $ChunkTokens + ${ChunkStride - 1}) // $ChunkStride
         |         END AS k
         |  FROM t)
         |SELECT doc_id,
         |       g.i AS chunk_idx,
         |       g.i * $ChunkStride AS chunk_start,
         |       least(n - g.i * $ChunkStride, $ChunkTokens) AS n_chunk_tokens,
         |       CASE WHEN g.i IS NULL THEN NULL
         |            ELSE array_to_string(
         |              tk[CAST(g.i * $ChunkStride + 1 AS BIGINT) :
         |                 CAST(g.i * $ChunkStride + least(n - g.i * $ChunkStride, $ChunkTokens) AS BIGINT)],
         |              ' ') END AS chunk_text
         |FROM kk LEFT JOIN LATERAL (
         |  SELECT unnest(generate_series(0, k - 1)) AS i) g ON TRUE""".stripMargin,
    "decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |shd AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |dht AS (SELECT doc_id, list_distinct(list_transform(shl, x -> ${Portable.hmodSql("x")})) AS dh FROM shd),
         |ev AS (SELECT DISTINCT unnest(dh) AS h FROM dht WHERE doc_id % $EvalMod = 0),
         |ex AS (SELECT doc_id, len(dh) AS n_sh, unnest(dh) AS h FROM dht WHERE doc_id % $EvalMod <> 0)
         |SELECT doc_id, n_sh, count(*) AS n_hits,
         |  CAST(count(*) AS DOUBLE) / CAST(n_sh AS DOUBLE) AS contam_frac
         |FROM ex JOIN ev USING (h) GROUP BY doc_id, n_sh""".stripMargin,
    "dedup_segments" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |segs AS (SELECT doc_id, unnest(list_transform(range(0, (len(tk) + ${SegWords - 1}) // $SegWords),
         |           i -> array_to_string(list_slice(tk, i * $SegWords + 1, i * $SegWords + $SegWords), ' '))) AS seg
         |         FROM toks),
         |sr AS (SELECT doc_id, ${Portable.h60Sql("seg")} AS segh,
         |              len(string_split(seg, ' ')) AS wc FROM segs),
         |fr AS (SELECT segh, count(DISTINCT doc_id) AS ndocs FROM sr GROUP BY segh)
         |SELECT doc_id, count(*) AS n_segments,
         |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
         |  CAST(sum(wc) AS BIGINT) AS total_words,
         |  CAST(sum(CASE WHEN ndocs < 2 THEN wc ELSE 0 END) AS BIGINT) AS kept_words,
         |  CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio
         |FROM sr JOIN fr USING (segh) GROUP BY doc_id""".stripMargin,
    "quality_gopher" ->
      s"""WITH toks AS (SELECT doc_id, text, $tkSql AS tk FROM documents),
         |f AS (SELECT doc_id, text, tk,
         |        ${Portable.shinglesSql("tk", 2)} AS g2,
         |        ${Portable.shinglesSql("tk", 3)} AS g3 FROM toks),
         |m AS (SELECT doc_id,
         |  len(tk) AS n_words,
         |  CAST(length(text) - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_word_len,
         |  CASE WHEN len(g2) > 0 THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) ELSE 0e0 END AS dup_2gram_frac,
         |  CASE WHEN len(g3) > 0 THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) ELSE 0e0 END AS dup_3gram_frac,
         |  CAST(list_max(list_transform(list_distinct(tk), t -> len(list_filter(tk, x -> x = t)))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS top_word_ratio
         |  FROM f)
         |SELECT doc_id, n_words, mean_word_len, dup_2gram_frac, dup_3gram_frac, top_word_ratio,
         |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3e0 AND mean_word_len <= 1e1
         |   AND dup_2gram_frac < 2e-1 AND dup_3gram_frac < 1.8e-1 AND top_word_ratio < 2e-1) AS gopher_pass
         |FROM m""".stripMargin,
    "quality_repetition" ->
      s"""WITH ls AS (SELECT doc_id, str_split(text, chr(10)) AS ls FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(ls) AS BIGINT) AS n_lines,
         |  CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS dup_lines,
         |  CAST(coalesce(list_sum(list_transform(list_distinct(ls),
         |    t -> (len(list_filter(ls, x -> x = t)) - 1) * length(t))), 0) AS BIGINT) AS dup_chars,
         |  CAST(coalesce(list_sum(list_transform(ls, x -> length(x))), 0) AS BIGINT) AS tot_chars
         |  FROM ls),
         |f AS (SELECT doc_id, n_lines,
         |  CASE WHEN n_lines IS NOT NULL
         |    THEN CAST(dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) END AS dup_line_frac,
         |  CASE WHEN n_lines IS NOT NULL
         |    THEN CASE WHEN tot_chars > 0
         |      THEN CAST(dup_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE) ELSE 0e0 END
         |  END AS dup_line_char_frac
         |  FROM m)
         |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
         |  CASE WHEN n_lines IS NOT NULL
         |    THEN (dup_line_frac < 3e-1 AND dup_line_char_frac < 2e-1) END AS rep_pass
         |FROM f""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, source, rate_ppm, u_ppm FROM (
         |  SELECT doc_id, source,
         |    (${Portable.h60Sql("source")} % 4) * 250000 + 125000 AS rate_ppm,
         |    ${Portable.h60Sql(s"CAST(doc_id AS VARCHAR) || ':$SampleSalt'")} % 1000000 AS u_ppm
         |  FROM documents)
         |WHERE u_ppm < rate_ppm""".stripMargin,
    "tfidf_topk" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tkSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         |SELECT doc_id, term, tf, df, score, rank FROM (
         |  SELECT doc_id, term, tf, df,
         |    CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE) DESC, term) AS rank
         |  FROM tf JOIN df USING (term) CROSS JOIN n)
         |WHERE rank <= $TfidfK""".stripMargin,
    "corpus_stats" ->
      s"""SELECT source, lang, n_docs,
         |  CAST(sum_chars AS BIGINT) AS sum_chars,
         |  CAST(sum_words AS BIGINT) AS sum_words,
         |  CAST(sum_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_chars,
         |  CAST(n_short AS DOUBLE) / CAST(n_docs AS DOUBLE) AS short_ratio
         |FROM (
         |  SELECT source, lang, count(*) AS n_docs,
         |    sum(length(text)) AS sum_chars,
         |    sum(len($tkSql)) AS sum_words,
         |    count(CASE WHEN len($tkSql) < $ShortDocWords THEN 1 END) AS n_short
         |  FROM documents GROUP BY source, lang)""".stripMargin,
    "dup_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
         |dedges AS (
         |  SELECT ida AS a, idb AS b FROM pj WHERE jacc >= ${JaccT}e0
         |  UNION ALL
         |  SELECT idb AS a, ida AS b FROM pj WHERE jacc >= ${JaccT}e0),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN dedges e ON r.b = e.a)
         |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a""".stripMargin,
    "doc_novelty" ->
      s"""WITH $sigCtesSql,
         |ex AS (SELECT doc_id, unnest(shset) AS s FROM sig),
         |fo AS (SELECT s, min(doc_id) AS fdoc FROM ex GROUP BY s),
         |nv AS (
         |  SELECT e.doc_id,
         |         CAST(sum(CASE WHEN f.fdoc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel
         |  FROM ex e JOIN fo f ON e.s = f.s GROUP BY e.doc_id)
         |SELECT g.doc_id,
         |  CAST(len(g.shset) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(nv.novel, 0) AS BIGINT) AS n_novel,
         |  CAST(CASE WHEN len(g.shset) > 0
         |       THEN (coalesce(nv.novel, 0) * 1000000) // len(g.shset) END AS BIGINT) AS novelty_ppm
         |FROM sig g LEFT JOIN nv ON g.doc_id = nv.doc_id""".stripMargin,
    "dedup_savings" ->
      s"""WITH RECURSIVE $minhashCtes,
         |dedges AS (
         |  SELECT ida AS a, idb AS b FROM pj WHERE jacc >= ${JaccT}e0
         |  UNION ALL
         |  SELECT idb AS a, ida AS b FROM pj WHERE jacc >= ${JaccT}e0),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN dedges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |nws AS (SELECT doc_id, source, CAST(len($tkSql) AS BIGINT) AS n_words,
         |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS ern
         |        FROM documents),
         |keep AS (SELECT doc_id FROM (
         |  SELECT c.doc_id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY coalesce(n.n_words, -1) DESC, c.doc_id) AS rn
         |  FROM cl c JOIN nws n USING (doc_id))
         |  WHERE rn = 1)
         |SELECT n.source, count(*) AS n_docs,
         |  CAST(coalesce(sum(n.n_words), 0) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN n.ern > 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_dup_docs,
         |  CAST(coalesce(sum(CASE WHEN n.ern > 1 THEN n.n_words END), 0) AS BIGINT) AS exact_dup_tokens,
         |  CAST(sum(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS near_dup_docs,
         |  CAST(coalesce(sum(CASE WHEN k.doc_id IS NULL THEN n.n_words END), 0) AS BIGINT) AS near_dup_tokens,
         |  CAST(CASE WHEN coalesce(sum(n.n_words), 0) > 0
         |       THEN (coalesce(sum(CASE WHEN k.doc_id IS NULL THEN n.n_words END), 0) * 1000000)
         |            // sum(n.n_words) END AS BIGINT) AS savings_ppm
         |FROM nws n LEFT JOIN keep k ON n.doc_id = k.doc_id
         |GROUP BY n.source""".stripMargin,
    "dedup_stack_report" ->
      s"""WITH RECURSIVE $minhashCtes,
         |dedges AS (
         |  SELECT ida AS a, idb AS b FROM pj WHERE jacc >= ${JaccT}e0
         |  UNION ALL
         |  SELECT idb AS a, ida AS b FROM pj WHERE jacc >= ${JaccT}e0),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN dedges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |nws AS (SELECT doc_id, source, CAST(len($tkSql) AS BIGINT) AS n_words,
         |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS ern
         |        FROM documents),
         |es AS (SELECT n.doc_id, n.n_words, c.cluster_id
         |       FROM nws n JOIN cl c USING (doc_id) WHERE n.ern = 1),
         |keep AS (SELECT doc_id FROM (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY coalesce(n_words, -1) DESC, doc_id) AS rn
         |  FROM es) WHERE rn = 1),
         |stoks AS (SELECT d.doc_id, $tkSql AS tk
         |          FROM documents d JOIN keep k ON d.doc_id = k.doc_id),
         |sshp AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM stoks),
         |sspos AS (SELECT doc_id, unnest(range(len(shl))) AS pos,
         |                 unnest(list_transform(shl, x -> ${Portable.h60Sql("x")})) AS h
         |          FROM sshp),
         |sduph AS (SELECT h FROM sspos GROUP BY h HAVING count(*) >= 2),
         |sdruns AS (SELECT doc_id, pos,
         |                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |           FROM sspos WHERE h IN (SELECT h FROM sduph)),
         |sspans AS (SELECT doc_id, min(pos) AS sp, max(pos) AS ep, count(*) AS n
         |           FROM sdruns GROUP BY doc_id, grp
         |           HAVING count(*) >= $SpanMinRun),
         |scov AS (SELECT doc_id, count(*) AS cov FROM (
         |           SELECT DISTINCT doc_id, pos FROM (
         |             SELECT doc_id, unnest(range(sp, ep + $ShingleN)) AS pos
         |             FROM sspans))
         |         GROUP BY doc_id),
         |pd AS (SELECT n.doc_id, n.source, n.n_words, n.ern,
         |         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS surv,
         |         coalesce(s.cov, 0) AS cov
         |       FROM nws n
         |       LEFT JOIN keep k ON n.doc_id = k.doc_id
         |       LEFT JOIN scov s ON n.doc_id = s.doc_id),
         |agg AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(coalesce(sum(n_words), 0) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN ern > 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_removed_docs,
         |    CAST(sum(CASE WHEN ern = 1 AND surv = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS near_removed_docs,
         |    CAST(sum(surv) AS BIGINT) AS surviving_docs,
         |    CAST(coalesce(sum(CASE WHEN surv = 1 THEN n_words END), 0) AS BIGINT)
         |      AS surviving_tokens,
         |    CAST(coalesce(sum(CASE WHEN surv = 1 THEN cov END), 0) AS BIGINT)
         |      AS span_tokens_removed
         |  FROM pd GROUP BY source)
         |SELECT source, n_docs, n_tokens, exact_removed_docs, near_removed_docs,
         |  surviving_docs, surviving_tokens, span_tokens_removed,
         |  surviving_tokens - span_tokens_removed AS final_tokens,
         |  CAST(CASE WHEN n_tokens > 0
         |       THEN ((surviving_tokens - span_tokens_removed) * 1000000) // n_tokens
         |       END AS BIGINT) AS final_ppm
         |FROM agg""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |dedges AS (
         |  SELECT ida AS a, idb AS b FROM pj WHERE jacc >= ${JaccT}e0
         |  UNION ALL
         |  SELECT idb AS a, ida AS b FROM pj WHERE jacc >= ${JaccT}e0),
         |reach(a, b) AS (
         |  SELECT doc_id AS a, doc_id AS b FROM documents
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN dedges e ON r.b = e.a),
         |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
         |nw AS (SELECT doc_id, CAST(len($tkSql) AS BIGINT) AS n_words FROM documents)
         |SELECT doc_id, cluster_id, n_words FROM (
         |  SELECT c.doc_id, c.cluster_id, nw.n_words,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY coalesce(nw.n_words, -1) DESC, c.doc_id) AS rn
         |  FROM cl c JOIN nw USING (doc_id))
         |WHERE rn = 1""".stripMargin,
    "corpus_clean" ->
      s"""WITH $minhashCtes,
         |q AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, len(tk) AS n_words,
         |      CAST(length(text) - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_word_len,
         |      CAST(len(list_filter(tk, t -> list_contains($stopListSql, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio
         |    FROM (SELECT doc_id, text, $tkSql AS tk FROM documents))
         |  WHERE n_words >= $MinWords AND mean_word_len <= ${MaxMeanWord}e0 AND stop_ratio >= ${MinStopRatio}e0)
         |SELECT doc_id FROM q
         |WHERE doc_id NOT IN (SELECT idb FROM pj WHERE jacc >= ${JaccT}e0)""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, chash FROM (
        |  SELECT doc_id, sha256(text) AS chash,
        |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT idb FROM pj WHERE jacc >= ${JaccT}e0)""".stripMargin,
    "ngram_jaccard" ->
      s"WITH $minhashCtes SELECT ida, idb, jacc FROM pj",
    "minhash_recall_sample" ->
      s"""WITH $minhashCtes,
         |smp AS (SELECT doc_id, shset FROM (
         |  SELECT doc_id, shset,
         |         row_number() OVER (ORDER BY ${Portable.h60Sql(s"CAST(doc_id AS VARCHAR) || ':$RecallSalt'")}, doc_id) AS rn
         |  FROM sig) WHERE rn <= $RecallSampleK),
         |tp AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb
         |  FROM smp a JOIN smp b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.shset, b.shset)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.shset, b.shset))) AS DOUBLE) >= ${JaccT}e0),
         |fp AS (
         |  SELECT pj.ida, pj.idb FROM pj
         |  JOIN smp x ON pj.ida = x.doc_id
         |  JOIN smp y ON pj.idb = y.doc_id
         |  WHERE pj.jacc >= ${JaccT}e0),
         |c AS (SELECT
         |  (SELECT count(*) FROM smp) AS n_sample_docs,
         |  (SELECT count(*) FROM tp) AS n_true_pairs,
         |  (SELECT count(*) FROM fp) AS n_found_pairs)
         |SELECT CAST(n_sample_docs AS BIGINT) AS n_sample_docs,
         |       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
         |       CAST(n_found_pairs AS BIGINT) AS n_found_pairs,
         |       CASE WHEN n_true_pairs > 0
         |            THEN CAST((n_found_pairs * 1000000) // n_true_pairs AS BIGINT)
         |            ELSE CAST(1000000 AS BIGINT) END AS recall_ppm
         |FROM c""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, fp FROM fps
         |WHERE doc_id NOT IN (SELECT doc_id FROM sdup)""".stripMargin,
    "quality_model_score" -> {
      import graft.functions.Portable.dl
      val xs = Seq("(length(text) / 1000e0)", "(len(tk) / 100e0)",
        "(CAST(length(text) - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE))",
        s"(CAST(len(list_filter(tk, t -> list_contains($stopListSql, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE))",
        "(CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE))")
      def pre(j: Int): String =
        (0 until QmInputs).map(i => s" + ${dl(qmW1(i, j))} * ${xs(i)}")
          .mkString(s"(${dl(qmB1(j))}", "", ")")
      def hj(j: Int): String =
        s"(0.5e0 + 0.5e0 * ${pre(j)} / (1e0 + abs(${pre(j)})))"
      val out = (0 until QmHidden).map(j => s" + ${dl(qmW2(j))} * ${hj(j)}")
        .mkString(s"(${dl(QmB2)}", "", ")")
      s"""WITH toks AS (SELECT doc_id, text, $tkSql AS tk FROM documents)
         |SELECT doc_id,
         |  CASE WHEN text IS NULL THEN NULL
         |       ELSE 0.5e0 + 0.5e0 * $out / (1e0 + abs($out)) END AS quality_prob
         |FROM toks""".stripMargin
    },
    "text_quality" ->
      s"""WITH toks AS (SELECT doc_id, text, $tkSql AS tk FROM documents)
         |SELECT doc_id, length(text) AS len, len(tk) AS n_words,
         |  CAST(length(text) - (len(tk) - 1) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS mean_word_len,
         |  CAST(len(list_filter(tk, t -> list_contains($stopListSql, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio,
         |  CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS distinct_ratio
         |FROM toks""".stripMargin,
    "lang_id" ->
      s"""WITH toks AS (SELECT doc_id, lang, $tkSql AS tk FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  CAST(len(list_filter(tk, t -> list_contains($stopListSql, t))) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS stop_ratio
         |  FROM toks),
         |g AS (SELECT doc_id, lang, CASE WHEN stop_ratio >= 2e-2 THEN 'en' ELSE 'unk' END AS guess FROM sc)
         |SELECT doc_id, lang, guess, guess = lang AS correct FROM g""".stripMargin,
    "tokenizer_fertility" ->
      s"""WITH t AS (
         |  SELECT source, lang, len($tkSql) AS ws,
         |         len(regexp_extract_all(text, '[a-z0-9]+')) AS re,
         |         length(text) AS ch
         |  FROM documents),
         |g AS (
         |  SELECT source, lang, count(*) AS n_docs,
         |         CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |         CAST(sum(re) AS BIGINT) AS re_tokens,
         |         CAST(sum(ch) AS BIGINT) AS n_chars
         |  FROM t GROUP BY 1, 2)
         |SELECT source, lang, n_docs, ws_tokens, re_tokens, n_chars,
         |  CASE WHEN ws_tokens > 0 THEN (re_tokens * 1000000) // ws_tokens
         |       ELSE CAST(0 AS BIGINT) END AS re_per_ws_ppm,
         |  CASE WHEN re_tokens > 0 THEN (n_chars * 1000000) // re_tokens
         |       ELSE CAST(0 AS BIGINT) END AS chars_per_re_ppm
         |FROM g""".stripMargin,
    "bigram_lift" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |bg AS (
         |  SELECT split_part(p, ' ', 1) AS w1, split_part(p, ' ', 2) AS w2
         |  FROM (SELECT unnest(${Portable.shinglesSql("tk", 2)}) AS p FROM toks)),
         |big AS (SELECT w1, w2, count(*) AS c_bigram FROM bg GROUP BY 1, 2),
         |l AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_left FROM big GROUP BY 1),
         |r AS (SELECT w2, CAST(sum(c_bigram) AS BIGINT) AS c_right FROM big GROUP BY 1),
         |t AS (SELECT CAST(sum(c_bigram) AS BIGINT) AS n_bigrams FROM big),
         |top AS (
         |  SELECT w1, w2, c_bigram,
         |         row_number() OVER (ORDER BY c_bigram DESC, w1, w2) AS rnk
         |  FROM big)
         |SELECT p.rnk, p.w1, p.w2, p.c_bigram, l.c_left, r.c_right,
         |       CAST((CAST(p.c_bigram AS HUGEINT) * t.n_bigrams * 1000000)
         |            // (CAST(l.c_left AS HUGEINT) * r.c_right) AS BIGINT) AS lift_ppm
         |FROM top p
         |JOIN l ON p.w1 = l.w1
         |JOIN r ON p.w2 = r.w2, t
         |WHERE p.rnk <= $LmK""".stripMargin,
    "tfidf_cosine_pairs" ->
      s"""WITH $minhashCtes,
         |tfq AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest($tkSql) AS term FROM documents)
         |  GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |w AS (
         |  SELECT tfq.doc_id, tfq.term,
         |         tfq.tf * (((SELECT n_docs FROM nd) * 1000) // dfq.df) AS w
         |  FROM tfq JOIN dfq ON tfq.term = dfq.term),
         |nr AS (
         |  SELECT doc_id, sqrt(CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm
         |  FROM w GROUP BY 1),
         |dt AS (
         |  SELECT c.ida, c.idb, count(*) AS n_shared_terms,
         |         sum(CAST(a.w AS HUGEINT) * b.w) AS dt
         |  FROM cand c
         |  JOIN w a ON a.doc_id = c.ida
         |  JOIN w b ON b.doc_id = c.idb AND b.term = a.term
         |  GROUP BY 1, 2)
         |SELECT c.ida, c.idb,
         |       CAST(coalesce(dt.n_shared_terms, 0) AS BIGINT) AS n_shared_terms,
         |       coalesce(CAST(dt.dt AS DOUBLE), CAST(0.0 AS DOUBLE)) AS dot_w,
         |       coalesce(CAST(dt.dt AS DOUBLE), CAST(0.0 AS DOUBLE)) / (na.nrm * nb.nrm)
         |         AS cosine_tfidf
         |FROM cand c
         |LEFT JOIN dt ON dt.ida = c.ida AND dt.idb = c.idb
         |JOIN nr na ON na.doc_id = c.ida
         |JOIN nr nb ON nb.doc_id = c.idb""".stripMargin,
    "ngram_kn_probs" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |bg AS (
         |  SELECT split_part(p, ' ', 1) AS w1, split_part(p, ' ', 2) AS w2
         |  FROM (SELECT unnest(${Portable.shinglesSql("tk", 2)}) AS p FROM toks)),
         |big AS (SELECT w1, w2, count(*) AS c_bigram FROM bg GROUP BY 1, 2),
         |lf AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_left,
         |              count(*) AS fanout_w1 FROM big GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS cont_w2 FROM big GROUP BY 1),
         |ty AS (SELECT count(*) AS n_big_types FROM big),
         |top AS (
         |  SELECT w1, w2, c_bigram,
         |         row_number() OVER (ORDER BY c_bigram DESC, w1, w2) AS rnk
         |  FROM big),
         |j AS (
         |  SELECT t.rnk, t.w1, t.w2, t.c_bigram, lf.c_left, lf.fanout_w1, cont.cont_w2,
         |         (t.c_bigram * 1000000 - $KnDiscountPpm) // lf.c_left AS term1_ppm,
         |         ($KnDiscountPpm * lf.fanout_w1) // lf.c_left AS lambda_ppm,
         |         (cont.cont_w2 * 1000000) // (SELECT n_big_types FROM ty) AS pcont_ppm
         |  FROM top t
         |  JOIN lf ON t.w1 = lf.w1
         |  JOIN cont ON t.w2 = cont.w2
         |  WHERE t.rnk <= $LmK)
         |SELECT rnk, w1, w2, c_bigram, c_left, fanout_w1, cont_w2,
         |       term1_ppm + (lambda_ppm * pcont_ppm) // 1000000 AS pkn_ppm
         |FROM j""".stripMargin,
    "lm_doc_score" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |db AS (
         |  SELECT doc_id, split_part(p, ' ', 1) AS w1, split_part(p, ' ', 2) AS w2
         |  FROM (SELECT doc_id, unnest(${Portable.shinglesSql("tk", 2)}) AS p FROM toks)),
         |big AS (SELECT w1, w2, count(*) AS c_bigram FROM db GROUP BY 1, 2),
         |lf AS (SELECT w1, CAST(sum(c_bigram) AS BIGINT) AS c_left,
         |              count(*) AS fanout_w1 FROM big GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS cont_w2 FROM big GROUP BY 1),
         |ty AS (SELECT count(*) AS n_big_types FROM big),
         |pk AS (
         |  SELECT b.w1, b.w2,
         |         (b.c_bigram * 1000000 - $KnDiscountPpm) // lf.c_left
         |         + ((($KnDiscountPpm * lf.fanout_w1) // lf.c_left)
         |            * ((cont.cont_w2 * 1000000) // (SELECT n_big_types FROM ty))) // 1000000
         |           AS pkn_ppm
         |  FROM big b JOIN lf ON b.w1 = lf.w1 JOIN cont ON b.w2 = cont.w2),
         |sc AS (
         |  SELECT d.doc_id, count(*) AS n_bigrams,
         |         CAST(sum(p.pkn_ppm) AS BIGINT) // count(*) AS avg_pkn_ppm,
         |         CAST(min(p.pkn_ppm) AS BIGINT) AS min_pkn_ppm
         |  FROM db d JOIN pk p ON d.w1 = p.w1 AND d.w2 = p.w2
         |  GROUP BY 1)
         |SELECT dd.doc_id,
         |       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CAST(sc.avg_pkn_ppm AS BIGINT) AS avg_pkn_ppm,
         |       sc.min_pkn_ppm
         |FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.doc_id""".stripMargin,
    "ngram_lm_counts" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |bg AS (
         |  SELECT split_part(p, ' ', 1) AS w1, split_part(p, ' ', 2) AS w2
         |  FROM (SELECT unnest(${Portable.shinglesSql("tk", 2)}) AS p FROM toks)),
         |big AS (SELECT w1, w2, count(*) AS c_bigram FROM bg GROUP BY 1, 2),
         |uc AS (SELECT w1, count(*) AS c_w1
         |       FROM (SELECT unnest(tk) AS w1 FROM toks) GROUP BY 1),
         |fan AS (SELECT w1, count(*) AS fanout_w1 FROM big GROUP BY 1),
         |cont AS (SELECT w2, count(*) AS cont_w2 FROM big GROUP BY 1),
         |top AS (
         |  SELECT w1, w2, c_bigram,
         |         row_number() OVER (ORDER BY c_bigram DESC, w1, w2) AS rnk
         |  FROM big)
         |SELECT t.rnk, t.w1, t.w2, t.c_bigram, uc.c_w1, fan.fanout_w1, cont.cont_w2
         |FROM top t
         |JOIN uc ON t.w1 = uc.w1
         |JOIN fan ON t.w1 = fan.w1
         |JOIN cont ON t.w2 = cont.w2
         |WHERE t.rnk <= $LmK""".stripMargin,
    "lm_coverage" ->
      s"""WITH toks AS (SELECT doc_id, source, $tkSql AS tk FROM documents),
         |bg AS (SELECT source, unnest(${Portable.shinglesSql("tk", 2)}) AS pair FROM toks),
         |top AS (SELECT pair FROM (
         |  SELECT pair, row_number() OVER (ORDER BY count(*) DESC, pair) AS rnk
         |  FROM bg GROUP BY pair) WHERE rnk <= $LmK)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN t.pair IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_lm,
         |  (CAST(sum(CASE WHEN t.pair IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // count(*) AS coverage_ppm
         |FROM bg b LEFT JOIN top t ON b.pair = t.pair
         |GROUP BY source""".stripMargin,
    "split_leakage_report" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |shd AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |dht AS (SELECT doc_id, coalesce(list_distinct(list_transform(shl, x -> ${Portable.hmodSql("x")})), []) AS dh FROM shd),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN b < ${MixOps.TestPct} THEN 'test'
         |         WHEN b < ${MixOps.ValPct} THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM (SELECT doc_id,
         |          ${Portable.h60Sql(s"CAST(doc_id AS VARCHAR) || ':${MixOps.SplitSalt}'")} % ${MixOps.SplitMod} AS b
         |        FROM documents)),
         |j AS (SELECT d.doc_id, s.split, d.dh FROM dht d JOIN sp s USING (doc_id)),
         |tr AS (SELECT DISTINCT unnest(dh) AS h FROM j WHERE split = 'train'),
         |px AS (SELECT doc_id, split, len(dh) AS n_sh, unnest(dh) AS h FROM j WHERE split <> 'train'),
         |pd AS (
         |  SELECT p.doc_id, p.split, CAST(max(p.n_sh) AS BIGINT) AS n_sh,
         |         CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM px p LEFT JOIN tr t ON p.h = t.h GROUP BY 1, 2
         |  UNION ALL
         |  SELECT doc_id, split, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  FROM j WHERE split <> 'train' AND len(dh) = 0)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_leaked,
         |  CAST(sum(n_sh) AS BIGINT) AS n_shingles,
         |  CAST(sum(n_hits) AS BIGINT) AS n_leaked,
         |  (CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         |    // count(*) AS doc_leak_ppm,
         |  CASE WHEN sum(n_sh) > 0
         |    THEN (CAST(sum(n_hits) AS BIGINT) * 1000000) // CAST(sum(n_sh) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS shingle_leak_ppm
         |FROM pd GROUP BY split""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($tkSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_actual
         |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |sh AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |hsh AS (SELECT doc_id, list_transform(shl, x -> ${Portable.hmodSql("x")}) AS hs FROM sh),
         |w AS (SELECT doc_id, CASE WHEN len(hs) >= $WinnowW
         |    THEN list_distinct(list_transform(range(1, len(hs) - ${WinnowW - 2}),
         |         i -> list_min(list_slice(hs, i, i + ${WinnowW - 1}))))
         |    ELSE list_distinct(hs) END AS fps FROM hsh)
         |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin,
    "dedup_fingerprint" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |sh AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |hsh AS (SELECT doc_id, list_transform(shl, x -> ${Portable.hmodSql("x")}) AS hs FROM sh),
         |w AS (SELECT doc_id, CASE WHEN len(hs) >= $WinnowW
         |    THEN list_distinct(list_transform(range(1, len(hs) - ${WinnowW - 2}),
         |         i -> list_min(list_slice(hs, i, i + ${WinnowW - 1}))))
         |    ELSE list_distinct(hs) END AS fps FROM hsh),
         |fpt AS (SELECT doc_id, unnest(fps) AS fp FROM w),
         |good AS (SELECT fp FROM fpt GROUP BY fp HAVING count(*) <= $FpMaxBucket),
         |f2 AS (SELECT f.doc_id, f.fp FROM fpt f JOIN good g USING (fp)),
         |sz AS (SELECT doc_id, count(*) AS nf FROM f2 GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS n_shared
         |      FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT p.ida, p.idb, p.n_shared, sa.nf AS n_a, sb.nf AS n_b,
         |       (p.n_shared * 1000000) // (sa.nf + sb.nf - p.n_shared) AS jacc_ppm,
         |       ((p.n_shared * 1000000) // (sa.nf + sb.nf - p.n_shared)) >= $FpDupPpm AS is_dup
         |FROM p JOIN sz sa ON p.ida = sa.doc_id JOIN sz sb ON p.idb = sb.doc_id""".stripMargin,
    "corpus_quantiles_lang" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id, CAST(len($tkSql) AS BIGINT) AS ntok FROM documents),
         |r AS (
         |  SELECT lang, ntok,
         |         row_number() OVER (PARTITION BY lang ORDER BY ntok, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY lang) AS cnt
         |  FROM t WHERE ntok IS NOT NULL),
         |q AS (
         |  SELECT lang, max(cnt) AS n_docs, min(ntok) AS min_tokens,
         |         max(CASE WHEN rn = (cnt * 50 + 99) // 100 THEN ntok END) AS p50_tokens,
         |         max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN ntok END) AS p90_tokens,
         |         max(CASE WHEN rn = (cnt * 99 + 99) // 100 THEN ntok END) AS p99_tokens,
         |         max(ntok) AS max_tokens
         |  FROM r GROUP BY lang),
         |z AS (
         |  SELECT lang,
         |         CAST(sum(CASE WHEN ntok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
         |  FROM t GROUP BY lang)
         |SELECT q.lang, q.n_docs, z.n_null, q.min_tokens,
         |       q.p50_tokens, q.p90_tokens, q.p99_tokens, q.max_tokens
         |FROM q JOIN z ON q.lang = z.lang""".stripMargin,
    "dedup_spans" ->
      s"""WITH $spanCtes
         |SELECT doc_id, CAST(sp AS BIGINT) AS start_tok,
         |       CAST(ep + ${ShingleN - 1} AS BIGINT) AS end_tok,
         |       CAST(n AS BIGINT) AS n_shingles,
         |       CAST(ep - sp + $ShingleN AS BIGINT) AS n_tokens
         |FROM spans""".stripMargin,
    "span_dedup_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $tkSql AS tk FROM documents),
         |shp AS (SELECT doc_id, ${Portable.shinglesSql("tk", ShingleN)} AS shl FROM toks),
         |spos AS (SELECT doc_id, unnest(range(len(shl))) AS pos,
         |                unnest(list_transform(shl, x -> ${Portable.h60Sql("x")})) AS h
         |         FROM shp),
         |idx AS (SELECT DISTINCT h FROM spos WHERE doc_id % $IncMod <> 0),
         |druns AS (SELECT doc_id, pos,
         |                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |          FROM spos WHERE doc_id % $IncMod = 0
         |            AND h IN (SELECT h FROM idx)),
         |spans AS (SELECT doc_id, min(pos) AS sp, max(pos) AS ep, count(*) AS n
         |          FROM druns GROUP BY doc_id, grp
         |          HAVING count(*) >= $SpanMinRun)
         |SELECT doc_id, CAST(sp AS BIGINT) AS start_tok,
         |       CAST(ep + ${ShingleN - 1} AS BIGINT) AS end_tok,
         |       CAST(n AS BIGINT) AS n_shingles,
         |       CAST(ep - sp + $ShingleN AS BIGINT) AS n_tokens
         |FROM spans""".stripMargin,
    "dup_span_stats" ->
      s"""WITH $spanCtes,
         |pd AS (SELECT doc_id, count(*) AS cov FROM (
         |         SELECT DISTINCT doc_id, pos FROM (
         |           SELECT doc_id, unnest(range(sp, ep + $ShingleN)) AS pos
         |           FROM spans))
         |       GROUP BY doc_id),
         |tot AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS nt
         |        FROM toks WHERE text IS NOT NULL)
         |SELECT t.source,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN p.cov IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_with_spans,
         |       CAST(sum(t.nt) AS BIGINT) AS total_tokens,
         |       CAST(sum(coalesce(p.cov, 0)) AS BIGINT) AS span_tokens,
         |       CASE WHEN sum(t.nt) > 0
         |            THEN CAST((sum(coalesce(p.cov, 0)) * 1000000) // sum(t.nt) AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS span_ppm
         |FROM tot t LEFT JOIN pd p ON t.doc_id = p.doc_id
         |GROUP BY t.source""".stripMargin,
    "span_excise_savings" ->
      s"""WITH $spanCtes,
         |cover AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(range(sp, ep + $ShingleN)) AS pos FROM spans)),
         |pd AS (SELECT doc_id, count(*) AS cov FROM cover GROUP BY doc_id),
         |tot AS (SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS nt
         |        FROM toks WHERE text IS NOT NULL)
         |SELECT t.source, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN coalesce(p.cov, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_excised,
         |       CAST(sum(t.nt) AS BIGINT) AS tokens_before,
         |       CAST(sum(coalesce(p.cov, 0)) AS BIGINT) AS tokens_removed,
         |       CAST(sum(t.nt) - sum(coalesce(p.cov, 0)) AS BIGINT) AS tokens_after,
         |       CASE WHEN sum(t.nt) > 0
         |            THEN CAST((sum(coalesce(p.cov, 0)) * 1000000) // sum(t.nt) AS BIGINT)
         |            ELSE CAST(0 AS BIGINT) END AS removed_ppm
         |FROM tot t LEFT JOIN pd p USING (doc_id)
         |GROUP BY t.source""".stripMargin,
    "span_excise" ->
      s"""WITH $spanCtes,
         |cover AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(range(sp, ep + $ShingleN)) AS pos FROM spans)),
         |tkp AS (SELECT doc_id, unnest(range(len(tk))) AS pos, unnest(tk) AS tok
         |        FROM toks WHERE text IS NOT NULL),
         |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tkp t
         |         WHERE NOT EXISTS (SELECT 1 FROM cover c
         |                           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |       CAST(len(b.tk) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM toks b LEFT JOIN agg a USING (doc_id)
         |WHERE b.text IS NOT NULL""".stripMargin
  )
}
