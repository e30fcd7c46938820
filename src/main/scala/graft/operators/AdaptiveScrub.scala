package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Adaptive C4-style boilerplate scrub (round 12, the d49 ↔ d51 gate):
  * strip every word position covered by an occurrence of a frequent
  * (document frequency >= `minDf`) 5-gram shingle, re-emitting each
  * document from the surviving words. One entry point that MEASURES the
  * frequent-shingle set and picks the membership transport by size —
  * the same flip [[JaccardAllPairs]] makes between its dense and
  * prefix-join paths:
  *
  *   - `BroadcastSet` (set fits [[MaxBroadcastShingles]]): the frequent
  *     shingle HASHES broadcast as an exact set and membership is an
  *     equi-join — no false positives, the d49-exact result (modulo
  *     xxhash64 collisions on 5-gram strings, the same tolerance d51
  *     documents: a collision can only promote a rare shingle to
  *     frequent-looking, i.e. more scrub, never less).
  *   - `BloomSketch` (set outgrew the broadcast): the hashes OR-fold
  *     into [[graft.functions.BloomAgg]]'s fixed 8 KiB sketch and
  *     membership is codegen'd integer arithmetic — d51's 100 TB arm,
  *     with its one-sided tolerated over-scrub (sketch false positives
  *     cover a few extra spans; never an under-scrub).
  *
  * The gate costs one extra aggregation pass (the frequent-set COUNT)
  * before the chosen branch lazily re-aggregates — the
  * [[graft.spark.Defrag.fragStats]] pattern: nothing corpus-sized is
  * ever materialized, so the measurement stays scale-safe where a
  * cache/checkpoint of the frequent set would not (it is
  * boilerplate-bounded on the broadcast branch but can be huge on
  * exactly the corpora that need the sketch).
  *
  * Branch equality is property-pinned one-sidedly (ScrubProps): per
  * document the sketch arm keeps a SUBSET of the set arm's words, and
  * wherever the sketch fired no false positive the rows are identical.
  */
object AdaptiveScrub {

  sealed trait Choice
  case object BroadcastSet extends Choice
  case object BloomSketch extends Choice

  /** The ONE default document-frequency threshold — shared by
    * [[apply]]'s default parameter and d52's aux export so the query
    * and its oracle can never scrub with different frequent sets
    * (review finding: two literal 3s could silently desync). */
  val DefaultMinDf: Int = 3

  /** Max frequent-shingle hashes forced into a broadcast (8 B each →
    * 16 MB raw at the default). Above this the membership rides the
    * fixed-size bloom sketch instead. The
    * `graft.scrub.maxBroadcastShingles` system property overrides —
    * test/bench instrumentation (force either branch on one corpus).
    */
  def MaxBroadcastShingles: Long =
    sys.props.get("graft.scrub.maxBroadcastShingles").map(_.toLong)
      .getOrElse(2000000L)

  /** Positioned hashed 5-gram shingles (doc_id, st, h) over a
    * (doc_id, text) frame — st is 1-based; h = xxhash64 of the
    * space-joined 5-gram. Deterministic by construction; the shared
    * front end of both branches and of the aux exports (query and
    * oracle must see the identical frame).
    */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
      .select(col("doc_id"), expr(
        """inline(transform(sequence(1, size(ws) - 4),
          |  i -> struct(i AS st,
          |              xxhash64(concat_ws(' ', slice(ws, i, 5))) AS h)))""".stripMargin))

  /** Frequent shingle hashes: df >= minDf, grouped by HASH (see the
    * collision note in the class doc). */
  def freqHashes(sh: DataFrame, minDf: Int): DataFrame =
    sh.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf).select("h")

  /** Covered 1-based word positions per doc, given a membership-filtered
    * (doc_id, st) frame of frequent-shingle occurrences. */
  private def coveredOf(hits: DataFrame): DataFrame =
    hits.groupBy("doc_id")
      .agg(expr("""array_distinct(flatten(collect_list(
                  |  array(st, st + 1, st + 2, st + 3, st + 4))))""".stripMargin)
        .as("covered"))

  /** Re-emit each document from the words NOT covered: (doc_id, kept)
    * with kept the surviving word array (exposed for the property
    * tests; the query surface folds it to n_kept + md5). */
  def keptWords(docs: DataFrame, covered: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), expr(
        """filter(ws, (w, i) -> covered IS NULL
          |  OR NOT array_contains(covered, i + 1))""".stripMargin).as("kept"))

  private def emit(kept: DataFrame): DataFrame =
    kept.select(col("doc_id"),
      size(col("kept")).cast("long").as("n_kept"),
      md5(concat_ws(" ", col("kept"))).as("kept_md5"))

  /** The covered frame of the chosen branch — split out so the property
    * suite can compare branches below the md5 fold. */
  def coveredWith(docs: DataFrame, minDf: Int, choice: Choice): DataFrame =
    coveredWithFreq(docs, freqHashes(shingles(docs), minDf), choice)

  /** [[coveredWith]] against a CALLER-SUPPLIED frequent-hash frame —
    * either the lazy aggregate subtree or a re-read of the spill
    * ([[applySpilled]]); must be shaped like [[freqHashes]]' output
    * (an `h` column). */
  def coveredWithFreq(docs: DataFrame, freq: DataFrame,
      choice: Choice): DataFrame = {
    val sh = shingles(docs)
    choice match {
      case BroadcastSet =>
        coveredOf(sh.join(broadcast(freq.select("h")), "h"))
      case BloomSketch =>
        val sketch = freq
          .agg(graft.functions.BloomAgg.bloom_agg(col("h")).as("words"))
        coveredOf(sh.crossJoin(broadcast(sketch))
          .filter(expr(graft.functions.BloomAgg.memberExpr("words", "h"))))
    }
  }

  /** Scrub with a FORCED branch (property tests / instrumentation). */
  def withChoice(docs: DataFrame, minDf: Int, choice: Choice): DataFrame =
    emit(keptWords(docs, coveredWith(docs, minDf, choice)))

  /** Adaptive entry point: measure, pick, scrub. Returns the scrubbed
    * (doc_id, n_kept, kept_md5) frame plus the branch taken.
    *
    * Three shingle passes total (count pass, then the chosen branch's
    * freq subtree + probe side). [[applySpilled]] drops one by
    * spilling the frequent set from the count job — prefer it when a
    * scratch directory is available; this entry stays for callers
    * without one.
    */
  def apply(docs: DataFrame, minDf: Int = DefaultMinDf,
      maxBroadcast: Long = MaxBroadcastShingles): (DataFrame, Choice) = {
    val n = freqHashes(shingles(docs), minDf).count()
    val choice = if (n <= maxBroadcast) BroadcastSet else BloomSketch
    (withChoice(docs, minDf, choice), choice)
  }

  /** [[apply]] with a frequent-set SPILL (round 13, verdict #5): ONE
    * job aggregates the frequent hashes AND materializes them to
    * `spillDir` (zstd parquet, 8 B/hash — ≤16 MB at the default
    * ceiling; on sketch-branch corpora the spill is whatever the frequent set is, still df≥minDf-
    * bounded, never corpus-sized), the gate decides on the spill's exact
    * footer row count, and the chosen branch reads the set back instead
    * of re-aggregating every shingle — 3 shingle passes become 2.
    *
    * The caller owns `spillDir`'s lifecycle (delete after the final
    * action on the returned frame); on a cluster pass a shared-FS path,
    * since executors read it back.
    */
  def applySpilled(docs: DataFrame, spillDir: String,
      minDf: Int = DefaultMinDf,
      maxBroadcast: Long = MaxBroadcastShingles): (DataFrame, Choice) = {
    freqHashes(shingles(docs), minDf).write.mode("overwrite")
      .option("compression", "zstd").parquet(spillDir)
    val freq = docs.sparkSession.read.parquet(spillDir)
    val n = freq.count() // parquet footer metadata — no scan
    val choice = if (n <= maxBroadcast) BroadcastSet else BloomSketch
    (emit(keptWords(docs, coveredWithFreq(docs, freq, choice))), choice)
  }
}
