package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + deduplication operators for a training-data pipeline:
  * exact dedup, token/quality stats, language-ID heuristic, n-gram Jaccard
  * near-dup. All DataFrame-native (codegen'd built-ins — no UDFs), all
  * oracled against DuckDB.
  *
  * Determinism: occurrence counts use exact integer string arithmetic
  * (length/replace); ratios use integer floor-division (`div` / DuckDB
  * `//`), never double→int casts (Spark truncates, DuckDB rounds).
  */
object TextOps {
  import Tables.t

  /** word-bigram shingles of a single-space-tokenized text column */
  private val bigramsExpr =
    "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1]))"

  /** (doc_id, h): xxhash64'd word-bigram shingles — the shared front end of
    * every Jaccard-based dedup query (d05/d09/d17/d19). */
  private def shingleHashes(s: SparkSession, dir: String): DataFrame =
    shingleHashesOf(t(s, dir, "documents"))

  private[graft] def shingleHashesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), explode(expr(bigramsExpr)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))

  /** d44's directed containment pairs over any (doc_id, text) frame —
    * exposed for the planted-hot-shingle soak. See the d44 entry for the
    * cap rationale. */
  private[graft] def containmentPairs(docs: DataFrame, cap: Int = 64,
      thresholdPermille: Int = 700): DataFrame = {
    val sh0 = shingleHashesOf(docs).distinct()
    val rare = sh0.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("h")
    val sh = sh0.join(rare, "h")
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.join(sh.select(col("doc_id").as("doc_b"), col("h").as("h_b")),
        col("h") === col("h_b") && col("doc_id") =!= col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .filter(expr(s"(1000 * inter) div n >= $thresholdPermille"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST((1000 * inter) div n AS BIGINT)").as("containment_permille"))
  }

  /** d04/d34's shared n-gram-heuristic classifier: occurrence counts of
    * language marker tokens on the space-padded text, argmax with fixed
    * precedence (en > de > fr > es > zh). `intDiv` is the engine's
    * integer-division token (`div` Spark, `//` DuckDB) — otherwise the
    * expression text is identical in both.
    */
  private def langPredExpr(intDiv: String): String = {
    def cnt(m: String) =
      s"((length(p) - length(replace(p, ' $m ', ''))) $intDiv ${m.length + 2})"
    val all = Seq("the", "der", "le", "el", "shi").map(cnt).mkString(",")
    s"""CASE
       | WHEN ${cnt("the")} >= greatest($all) THEN 'en'
       | WHEN ${cnt("der")} >= greatest($all) THEN 'de'
       | WHEN ${cnt("le")} >= greatest($all) THEN 'fr'
       | WHEN ${cnt("el")} >= greatest($all) THEN 'es'
       | ELSE 'zh' END""".stripMargin
  }

  /** (doc_id, st, h): positioned xxhash64'd 5-gram shingles — the shared
    * front end of the d51 bloom-gated scrub (query + aux export must see
    * the identical frame, so it is one def; deterministic by
    * construction, nothing cached).
    */
  private[graft] def d51Sh(s: SparkSession, dir: String): DataFrame =
    graft.operators.AdaptiveScrub.shingles(t(s, dir, "documents"))

  /** The frequent-shingle (df >= 3) bloom sketch of [[d51Sh]]: grouped by
    * HASH (a collision can only add a frequent-looking shingle — more
    * tolerated over-scrub, never an under-scrub of a truly frequent one),
    * then OR-folded into the fixed 8 KiB BloomAgg words array. */
  private[graft] def d51Bloom(s: SparkSession, dir: String): DataFrame =
    d51Sh(s, dir)
      .groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3)
      .agg(graft.functions.BloomAgg.bloom_agg(col("h")).as("words"))

  val queries: Seq[Q] = Seq(
    // --- d01: exact dedup by content hash ---------------------------------
    Q("d01_exact_dedup",
      (s, dir) => {
        t(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
      },
      Some("""SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // --- d02: token counting ----------------------------------------------
    Q("d02_token_stats",
      (s, dir) => {
        val d = t(s, dir, "documents")
        d.select(
          col("doc_id"),
          length(col("text")).cast(LongType).as("n_chars_calc"),
          (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
            .cast(LongType).as("n_tokens"),
          // mean token length in permille, exact integer arithmetic
          expr("CAST(1000 * (length(text) - (length(text) - length(replace(text, ' ', '')))) div (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)")
            .as("mean_tok_len_permille"))
      },
      Some("""SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars_calc,
             |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
             |  CAST(1000 * (length(text) - (length(text) - length(replace(text, ' ', '')))) // (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS mean_tok_len_permille
             |FROM documents""".stripMargin)),

    // --- d03: quality scoring ---------------------------------------------
    // stopword rate + length band, the classic pre-training quality gates
    Q("d03_quality_score",
      (s, dir) => {
        t(s, dir, "documents").select(
          col("doc_id"),
          expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)").as("n_tokens"),
          expr("CAST((length(text) - length(replace(text, 'the', ''))) div 3 AS BIGINT)").as("n_stop"),
          expr("""CAST(1000 * ((length(text) - length(replace(text, 'the', ''))) div 3)
                 |  div (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)""".stripMargin)
            .as("stop_permille"),
          expr("CAST(CASE WHEN length(text) BETWEEN 100 AND 400 THEN 1 ELSE 0 END AS BIGINT)").as("len_ok"))
      },
      Some("""SELECT doc_id,
             |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
             |  CAST((length(text) - length(replace(text, 'the', ''))) // 3 AS BIGINT) AS n_stop,
             |  CAST(1000 * ((length(text) - length(replace(text, 'the', ''))) // 3) // (length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS stop_permille,
             |  CAST(CASE WHEN length(text) BETWEEN 100 AND 400 THEN 1 ELSE 0 END AS BIGINT) AS len_ok
             |FROM documents""".stripMargin)),

    // --- d04: language identification (marker-token heuristic) ------------
    Q("d04_langid",
      (s, dir) => {
        t(s, dir, "documents")
          .withColumn("p", concat(lit(" "), col("text"), lit(" ")))
          .select(col("doc_id"), col("lang").as("lang_declared"),
            expr(langPredExpr("div")).as("lang_pred"))
      },
      Some(s"""SELECT doc_id, lang AS lang_declared,
              |  ${langPredExpr("//")} AS lang_pred
              |FROM (SELECT doc_id, lang, ' ' || text || ' ' AS p FROM documents)""".stripMargin)),

    // --- d05: n-gram Jaccard near-dup detection ---------------------------
    // word-bigram shingle sets; candidate pairs via shingle-equijoin;
    // jaccard in exact integer permille. The brute-force baseline — the
    // 100 TB path is d06 (MinHash LSH), which approximates this.
    Q("d05_ngram_jaccard",
      (s, dir) => {
        // shingles hashed to longs (xxhash64 collisions are 2^-64-scale —
        // immaterial); the adaptive all-pairs operator picks the dense
        // bitset path or the shingle-equijoin path by data shape
        graft.operators.JaccardAllPairs(shingleHashes(s, dir), 300)
      },
      dedupOracle,
      headline = true),

    // --- d09: near-dup cluster formation (connected components) -----------
    // pairs → clusters: the step a real dedup pipeline runs after d05/d06,
    // so "keep one canonical doc per cluster" is a min() per component.
    // Oracled against a DuckDB recursive-CTE transitive closure.
    Q("d09_dedup_clusters",
      (s, dir) => {
        val pairs = graft.operators.JaccardAllPairs(shingleHashes(s, dir), 300)
          .select("doc_a", "doc_b")
        graft.operators.ConnectedComponents(pairs)
          .select(col("node").as("doc_id"), col("component"))
      },
      Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS s FROM w),
             |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
             |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
             |e AS (SELECT da, db FROM p JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
             |      WHERE (1000*inter) // (x.n + y.n - inter) >= 300),
             |sym AS (SELECT da a, db b FROM e UNION SELECT db, da FROM e),
             |reach(a, b) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
             |SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a""".stripMargin)),

    // --- d10: deterministic per-group sampling ----------------------------
    // bottom-k by content hash: a reproducible uniform-ish sample per
    // source bucket — the standard way to cut a stable training subset
    // (same data → same sample, engine-independent via md5 ordering)
    Q("d10_sample_per_group",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(md5(col("text")).asc, col("doc_id").asc)
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("source"), col("doc_id"), col("rn").cast("long").as("rank"))
      },
      Some("""SELECT source, doc_id, CAST(rn AS BIGINT) AS rank FROM (
             |  SELECT source, doc_id,
             |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 3""".stripMargin)),

    // --- d11: edit-distance string similarity ------------------------------
    // levenshtein over doc-prefix pairs, blocked on (source, text-length
    // band ±1): round-1's source-only blocking was quadratic in the
    // largest source — at 100 TB one big source melts the join. The
    // 32-char band is a standard second blocking key (near-dup docs have
    // near-equal lengths); the adjacent-band probe means a pair is only
    // considered when their bands differ by at most 1, and each qualifying
    // pair matches exactly ONE probe row (the probe explodes 3 bands but
    // only the left row's own band can equal the join key) — no dedup
    // needed. Edit distance itself is uniquely defined, so both engines
    // agree exactly; the oracle mirrors the band predicate as
    // abs(band_a - band_b) <= 1.
    Q("d11_edit_distance",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            substring(col("text"), 1, 40).as("p"),
            expr("length(text) div 32").as("band"))
        val probe = d.select(col("doc_id").as("doc_id_b"), col("source"),
          col("p").as("pb"),
          explode(expr("array(band - 1, band, band + 1)")).as("band"))
        d.join(probe, Seq("source", "band"))
          .filter(col("doc_id") < col("doc_id_b"))
          .select(col("doc_id").as("doc_a"), col("doc_id_b").as("doc_b"),
            levenshtein(col("p"), col("pb")).cast("long").as("edit_dist"))
          .filter(col("edit_dist") <= 15)
      },
      Some("""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS edit_dist
             |FROM documents a JOIN documents b
             |  ON a.source = b.source AND a.doc_id < b.doc_id
             |  AND abs(length(a.text) // 32 - length(b.text) // 32) <= 1
             |WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 15""".stripMargin)),

    // --- d13: boilerplate detection (shared n-gram doc frequency) ----------
    // word-5-gram shingles appearing in >= 3 distinct documents — the
    // standard boilerplate/template detector a pre-training pipeline runs
    // before near-dup removal (headers, footers, license blurbs). Linear:
    // explode → one partial-aggregated shuffle on the shingle. At 100 TB
    // the shingle would be xxhash64'd before the shuffle (8-byte key
    // instead of a string); the text form is kept here because it is what
    // downstream scrubbing consumes — and it lets DuckDB oracle the op.
    Q("d13_boilerplate",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 5)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))")).as("shingle"))
          .groupBy("shingle")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 3)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |s AS (SELECT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
             |      FROM w, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(i))
             |SELECT shingle, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |FROM s GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 3""".stripMargin)),

    // --- d49: boilerplate SCRUB (the apply stage of d13) --------------------
    // d13 *detects* template shingles; d49 removes them from the corpus —
    // the C4-style "strip repeated spans" stage: every word position
    // covered by an occurrence of a frequent (df >= 3) 5-gram is dropped,
    // and the document is re-emitted from the surviving words. Two linear
    // passes: the d13 aggregate builds the frequent-shingle set, then a
    // second scan re-shingles and joins it back. THIS variant broadcasts
    // the frequent STRING set — exact, bounded by the distinct frequent
    // 5-grams (template boilerplate, not corpus size); the 100 TB path
    // where even that set outgrows a broadcast is d51_scrub_bloom_gate
    // below, which carries the same scrub through a fixed 8 KiB bloom
    // sketch (tolerated over-scrub, its own oracle). Covered positions fold
    // into a per-doc integer list, so the scrub itself is a narrow
    // array-filter — no per-word explode ever reaches a shuffle.
    Q("d49_boilerplate_scrub",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val sh = docs.filter(size(col("ws")) >= 5)
          .select(col("doc_id"), expr(
            """inline(transform(sequence(1, size(ws) - 4),
              |  i -> struct(i AS st, concat_ws(' ', slice(ws, i, 5)) AS shingle)))""".stripMargin))
        val freq = sh.groupBy("shingle")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") >= 3).select("shingle")
        val cov = sh.join(broadcast(freq), "shingle")
          .groupBy("doc_id")
          .agg(expr("""array_distinct(flatten(collect_list(
                      |  array(st, st + 1, st + 2, st + 3, st + 4))))""".stripMargin)
            .as("covered"))
        docs.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), expr(
            """filter(ws, (w, i) -> covered IS NULL
              |  OR NOT array_contains(covered, i + 1))""".stripMargin).as("kept"))
          .select(col("doc_id"),
            size(col("kept")).cast("long").as("n_kept"),
            md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh AS (SELECT doc_id, i AS st, array_to_string(ws[i:i+4], ' ') AS shingle
             |       FROM w, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(i)
             |       WHERE len(ws) >= 5),
             |fr AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 3),
             |cov AS (SELECT doc_id,
             |          list_distinct(flatten(list([st, st + 1, st + 2, st + 3, st + 4]))) AS covered
             |        FROM sh JOIN fr USING (shingle) GROUP BY doc_id),
             |k AS (SELECT w.doc_id,
             |        list_filter(w.ws, (x, i) -> cov.covered IS NULL
             |          OR NOT list_contains(cov.covered, i)) AS kept
             |      FROM w LEFT JOIN cov ON cov.doc_id = w.doc_id)
             |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
             |       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
             |FROM k""".stripMargin)),

    // --- d51: bloom-gated boilerplate scrub (d49's 100 TB arm) -------------
    // The same C4-style span scrub as d49, but the frequent-shingle set
    // never broadcasts as strings: shingles group by their xxhash64 (a
    // collision only promotes a rare shingle to frequent-looking — more
    // over-scrub, never an under-scrub), the df >= 3 hashes OR-fold into
    // BloomAgg's fixed 8 KiB sketch (map-side partials; m/8 bytes per
    // partition is the whole shuffle), and the second scan probes each
    // position's hash with pure codegen'd integer arithmetic. Bloom false
    // positives scrub a few extra spans — the tolerated over-scrub this
    // variant's own oracle pins exactly: the sketch words and the
    // positioned probe hashes export as aux frames and DuckDB replays the
    // identical bit arithmetic (the d27/s08 pattern), so both engines see
    // the same false positives.
    Q("d51_scrub_bloom_gate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val cov = d51Sh(s, dir)
          .crossJoin(broadcast(d51Bloom(s, dir)))
          .filter(expr(graft.functions.BloomAgg.memberExpr("words", "h")))
          .groupBy("doc_id")
          .agg(expr("""array_distinct(flatten(collect_list(
                      |  array(st, st + 1, st + 2, st + 3, st + 4))))""".stripMargin)
            .as("covered"))
        docs.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), expr(
            """filter(ws, (w, i) -> covered IS NULL
              |  OR NOT array_contains(covered, i + 1))""".stripMargin).as("kept"))
          .select(col("doc_id"),
            size(col("kept")).cast("long").as("n_kept"),
            md5(concat_ws(" ", col("kept"))).as("kept_md5"))
      },
      Some {
        import graft.functions.BloomAgg.{NumBits, NumProbes, WordBits}
        s"""WITH wds AS (SELECT idx, word FROM '{OUT}/_aux/d51_scrub_bloom_gate/aux_bloom/*.parquet'),
           |pr AS (SELECT doc_id, st, h FROM '{OUT}/_aux/d51_scrub_bloom_gate/aux_probes/*.parquet'),
           |ph AS (SELECT doc_id, st, h, h & ${NumBits - 1} AS h1,
           |              ((h & 4294967295) // 65536) | 1 AS h2 FROM pr),
           |pos AS (SELECT doc_id, st, h, (h1 + r.range * h2) % $NumBits AS pos
           |        FROM ph, range(0, $NumProbes) r),
           |bit AS (SELECT p.doc_id, p.st, p.h,
           |          CASE WHEN (w.word & (CAST(1 AS BIGINT) << CAST(pos % $WordBits AS INT))) != 0
           |               THEN 1 ELSE 0 END AS b
           |        FROM pos p JOIN wds w ON w.idx = pos // $WordBits),
           |mem AS (SELECT doc_id, st, MIN(b) AS is_m FROM bit GROUP BY doc_id, st, h),
           |cp AS (SELECT DISTINCT doc_id, st + r.range AS p
           |       FROM mem, range(0, 5) r WHERE is_m = 1),
           |covl AS (SELECT doc_id, list(p) AS covered FROM cp GROUP BY doc_id),
           |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |k AS (SELECT w.doc_id,
           |        list_filter(w.ws, (x, i) -> covl.covered IS NULL
           |          OR NOT list_contains(covl.covered, i)) AS kept
           |      FROM w LEFT JOIN covl ON covl.doc_id = w.doc_id)
           |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
           |       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
           |FROM k""".stripMargin
      },
      aux = Seq(
        "aux_bloom" -> ((s: SparkSession, dir: String) =>
          d51Bloom(s, dir).select(posexplode(col("words")).as(Seq("idx", "word")))),
        "aux_probes" -> ((s: SparkSession, dir: String) => d51Sh(s, dir)))),

    // --- d52: ADAPTIVE scrub gate (round 12 — the d49 ↔ d51 flip) ----------
    // One scrub entry that measures the frequent-shingle set and picks the
    // membership transport by size (the JaccardAllPairs dense/join
    // pattern): an exact broadcast hash set below the ceiling, BloomAgg's
    // fixed sketch above it. At every gate SF the measured set is far
    // below the 2M-hash default, so the declared plan is the exact arm —
    // asserted in the build (a silent flip would desynchronize the oracle,
    // which replays exact-set membership from the aux frames); the sketch
    // arm's bit-exactness is d51's own oracle, and branch equality modulo
    // the sketch's one-sided over-scrub is property-pinned (ScrubProps).
    Q("d52_scrub_adaptive",
      (s, dir) => {
        // round 13 (verdict #5): the spill path — the gate's count job
        // also materializes the frequent set (8 B/hash zstd parquet), so
        // the chosen branch reads it back instead of re-aggregating all
        // shingles (3 shingle passes → 2; interleaved A/B at 10×:
        // tools.BenchScrubSpill). The spill must outlive every action on
        // the returned frame — a per-build temp dir under the JVM tmpdir
        // (on a cluster the caller would pass a shared-FS scratch path).
        // Registered with TempCleanup (round-14 ADVICE: these leaked one
        // dir per build): purged after the frame is materialized, or by
        // the shutdown hook.
        val spillDir = java.nio.file.Files.createTempDirectory("graft_d52_freq")
        graft.TempCleanup.registerDir(spillDir.toString)
        val spill = spillDir.toString + "/freq"
        val (out, choice) = graft.operators.AdaptiveScrub
          .applySpilled(t(s, dir, "documents"), spill)
        require(choice == graft.operators.AdaptiveScrub.BroadcastSet,
          s"d52 planned $choice at gate scale — the aux oracle replays the " +
            "exact-set arm; a corpus this boilerplate-heavy needs its own entry")
        out
      },
      Some("""WITH fr AS (SELECT h FROM '{OUT}/_aux/d52_scrub_adaptive/aux_freq/*.parquet'),
             |pr AS (SELECT doc_id, st, h FROM '{OUT}/_aux/d52_scrub_adaptive/aux_probes/*.parquet'),
             |cp AS (SELECT DISTINCT doc_id, st + r.range AS p
             |       FROM pr JOIN fr USING (h), range(0, 5) r),
             |covl AS (SELECT doc_id, list(p) AS covered FROM cp GROUP BY doc_id),
             |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |k AS (SELECT w.doc_id,
             |        list_filter(w.ws, (x, i) -> covl.covered IS NULL
             |          OR NOT list_contains(covl.covered, i)) AS kept
             |      FROM w LEFT JOIN covl ON covl.doc_id = w.doc_id)
             |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
             |       md5(coalesce(array_to_string(kept, ' '), '')) AS kept_md5
             |FROM k""".stripMargin),
      aux = Seq(
        "aux_freq" -> ((s: SparkSession, dir: String) =>
          graft.operators.AdaptiveScrub.freqHashes(d51Sh(s, dir),
            graft.operators.AdaptiveScrub.DefaultMinDf)),
        "aux_probes" -> ((s: SparkSession, dir: String) => d51Sh(s, dir)))),

    // --- d14: text normalization/cleaning ----------------------------------
    // lowercase, strip non-alphanumerics, collapse whitespace — the
    // canonical-form stage exact dedup keys on. Narrow (no shuffle); the
    // canonical md5 doubles as the dedup key downstream.
    Q("d14_normalize",
      (s, dir) => {
        val norm = regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")
        t(s, dir, "documents").select(
          col("doc_id"),
          md5(norm).as("norm_md5"),
          length(norm).cast(LongType).as("n_norm_chars"))
      },
      Some("""SELECT doc_id,
             |  md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_md5,
             |  CAST(length(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS BIGINT) AS n_norm_chars
             |FROM documents""".stripMargin)),

    // --- d15: corpus vocabulary (global top-k frequent tokens) -------------
    // tokenizer-training's first step. Partial aggregation map-side, one
    // shuffle on the token, then TakeOrderedAndProject — the top-k never
    // materializes the full vocabulary on one node.
    Q("d15_vocab",
      (s, dir) => {
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(100)
      },
      Some("""SELECT token, CAST(COUNT(*) AS BIGINT) AS n
             |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin)),

    // --- d12: BPE-ish regex tokenization ----------------------------------
    // subword-style token classes (letter runs / digit runs / single
    // punctuation) — the regex is ASCII-simple so Java and RE2 agree
    Q("d12_bpe_tokens",
      (s, dir) => {
        t(s, dir, "documents").select(
          col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast(LongType).as("n_bpe_tokens"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
             |FROM documents""".stripMargin)),

    // --- d16: repetition signals (Gopher-style quality rules) --------------
    // fraction of the doc covered by its most frequent word-bigram + the
    // distinct-token ratio — the standard "repetitive document" filters a
    // pre-training pipeline applies before dedup. Computed entirely with
    // array higher-order functions: NARROW (zero shuffles), embarrassingly
    // parallel at 100 TB (per-doc O(n²) with n ≈ doc length in tokens —
    // bounded and cache-local). Integer permille only.
    Q("d16_repetition",
      (s, dir) => {
        val topBg = "array_max(transform(array_distinct(bgs), x -> size(filter(bgs, y -> y = x))))"
        t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 2)
          .withColumn("bgs", expr(bigramsExpr))
          .select(
            col("doc_id"),
            size(col("ws")).cast(LongType).as("n_tokens"),
            expr(s"CAST($topBg AS BIGINT)").as("top_bigram_n"),
            expr(s"CAST(1000 * $topBg div size(bgs) AS BIGINT)").as("top_bigram_permille"),
            expr("CAST(1000 * size(array_distinct(ws)) div size(ws) AS BIGINT)").as("distinct_permille"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             |          WHERE len(string_split(text, ' ')) >= 2),
             |b AS (SELECT doc_id, ws,
             |             [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] AS bgs FROM w)
             |SELECT doc_id,
             |  CAST(len(ws) AS BIGINT) AS n_tokens,
             |  CAST(list_max([len(list_filter(bgs, y -> y = x)) for x in list_distinct(bgs)]) AS BIGINT) AS top_bigram_n,
             |  CAST(1000 * list_max([len(list_filter(bgs, y -> y = x)) for x in list_distinct(bgs)]) // len(bgs) AS BIGINT) AS top_bigram_permille,
             |  CAST(1000 * len(list_distinct(ws)) // len(ws) AS BIGINT) AS distinct_permille
             |FROM b""".stripMargin)),

    // --- d17: near-dup provenance (source × source pair matrix) ------------
    // which sources share near-duplicate content — the curation question a
    // pipeline asks right after pair generation ("is src X scraping src Y?").
    // Reuses the d05 pair generator, joins doc→source twice (at 100 TB the
    // pair set is far smaller than the corpus; the doc→source map joins by
    // shuffle on doc_id — linear), then a tiny group-by.
    Q("d17_neardup_sources",
      (s, dir) => {
        val pairs = graft.operators.JaccardAllPairs(shingleHashes(s, dir), 300)
          .select("doc_a", "doc_b")
        val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
        pairs
          .join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "src_a"), "doc_a")
          .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "src_b"), "doc_b")
          .select(least(col("src_a"), col("src_b")).as("source_a"),
            greatest(col("src_a"), col("src_b")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS s FROM w),
             |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
             |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
             |e AS (SELECT da, db FROM p JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
             |      WHERE (1000*inter) // (x.n + y.n - inter) >= 300)
             |SELECT least(da.source, db.source) AS source_a,
             |       greatest(da.source, db.source) AS source_b,
             |       COUNT(*) AS n_pairs
             |FROM e JOIN documents da ON da.doc_id = e.da
             |       JOIN documents db ON db.doc_id = e.db
             |GROUP BY 1, 2""".stripMargin)),

    // --- d18: benchmark-contamination check --------------------------------
    // per-doc fraction of word-5-gram shingles that also appear in a
    // designated benchmark/eval set (here: the 'src0' docs) — the overlap
    // audit run before training. The benchmark shingle set is DISTINCT and
    // small relative to the corpus → broadcast left-semi-style mark join;
    // the corpus side shuffles only for its per-doc aggregation. Linear.
    Q("d18_contamination",
      (s, dir) => {
        val grams5 = "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))"
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 5)
          .select(col("doc_id"), col("source"), explode(expr(grams5)).as("shingle"))
          .distinct()
        val bench = sh.filter(col("source") === "src0")
          .select(col("shingle")).distinct().withColumn("hit", lit(1L))
        sh.filter(col("source") =!= "src0")
          .join(broadcast(bench), Seq("shingle"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
          .select(col("doc_id"), col("n_shingles"),
            col("n_contaminated").cast(LongType).as("n_contaminated"),
            expr("CAST(1000 * n_contaminated div n_shingles AS BIGINT)").as("contam_permille"))
      },
      Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
             |          WHERE len(string_split(text, ' ')) >= 5),
             |s AS (SELECT DISTINCT doc_id, source, array_to_string(ws[i:i+4], ' ') AS shingle
             |      FROM w, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(i)),
             |bench AS (SELECT DISTINCT shingle FROM s WHERE source = 'src0')
             |SELECT s.doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |  CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
             |  CAST(1000 * SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
             |       // COUNT(*) AS BIGINT) AS contam_permille
             |FROM s LEFT JOIN bench b USING (shingle)
             |WHERE s.source <> 'src0'
             |GROUP BY s.doc_id""".stripMargin)),

    // --- d19: end-to-end dedup keep-list -----------------------------------
    // the full fuzzy-dedup pipeline a user actually runs: shingle → pairs
    // (d05) → connected components (d09) → one canonical survivor per
    // cluster (the min doc_id), every other member dropped, singletons
    // kept. Output is the per-doc keep/cluster verdict — the thing the
    // next pipeline stage filters on.
    Q("d19_dedup_keep",
      (s, dir) => {
        val pairs = graft.operators.JaccardAllPairs(shingleHashes(s, dir), 300)
          .select("doc_a", "doc_b")
        val cc = graft.operators.ConnectedComponents(pairs)
          .withColumnRenamed("node", "doc_id")
        t(s, dir, "documents").select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("cluster_id"),
            when(col("component").isNull || col("component") === col("doc_id"), lit(1L))
              .otherwise(lit(0L)).as("keep"))
      },
      Some("""WITH RECURSIVE w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS s FROM w),
             |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
             |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
             |e AS (SELECT da, db FROM p JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
             |      WHERE (1000*inter) // (x.n + y.n - inter) >= 300),
             |sym AS (SELECT da a, db b FROM e UNION SELECT db, da FROM e),
             |reach(a, b) AS (
             |  SELECT a, b FROM sym
             |  UNION
             |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
             |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
             |SELECT d.doc_id,
             |  COALESCE(c.component, d.doc_id) AS cluster_id,
             |  CAST(CASE WHEN c.component IS NULL OR c.component = d.doc_id
             |       THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // --- d20: distinctive-term extraction (rarest tokens per doc) ----------
    // keyword extraction without floats: a doc's most distinctive terms
    // are its tokens with the LOWEST global document frequency — the
    // integer-exact stand-in for tf-idf (log-idf is monotone in 1/df, so
    // the rarest-first ranking is the idf ranking). Two linear shuffles:
    // the global df aggregation, then a (token → df) join back; the
    // per-doc top-3 is a bounded window.
    Q("d20_distinctive_terms",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
        val df = tok.groupBy("token").agg(countDistinct(col("doc_id")).as("df"))
        val w = Window.partitionBy("doc_id").orderBy(col("df").asc, col("token").asc)
        tok.join(df, "token")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("rnk").cast(LongType).as("rnk"),
            col("token"), col("df"))
      },
      Some("""WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             |            FROM documents),
             |df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |       FROM tok GROUP BY token)
             |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, df FROM (
             |  SELECT t.doc_id, t.token, df.df,
             |         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.token) AS rnk
             |  FROM tok t JOIN df USING (token))
             |WHERE rnk <= 3""".stripMargin)),

    // --- d21: document chunking (overlapping token windows) ----------------
    // split every doc into 16-token chunks at stride 8 — the window
    // sampling that feeds sequence models. Narrow (explode only), so it
    // scales as a pure map; the chunk md5 doubles as the downstream
    // chunk-dedup key.
    Q("d21_chunking",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), col("ws"),
            explode(expr("sequence(1, size(ws), 8)")).as("start"))
          .select(col("doc_id"), col("start").cast(LongType).as("start"),
            expr("CAST(size(slice(ws, start, 16)) AS BIGINT)").as("n_chunk_tokens"),
            expr("md5(concat_ws(' ', slice(ws, start, 16)))").as("chunk_md5"))
      },
      // DuckDB slice ws[a:b] is inclusive → b = start+15 caps at 16 tokens,
      // truncating at the doc end exactly like Spark's slice(ws, start, 16)
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |st AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1, 8)) AS start FROM w)
             |SELECT doc_id, CAST(start AS BIGINT) AS start,
             |  CAST(len(ws[start:start+15]) AS BIGINT) AS n_chunk_tokens,
             |  md5(array_to_string(ws[start:start+15], ' ')) AS chunk_md5
             |FROM st""".stripMargin)),

    // --- d23: deterministic dataset split (train/val/test) -----------------
    // content-hash splitting — the same doc lands in the same split on
    // every run, on any engine, regardless of row order or partitioning
    // (the property a random() split lacks). 8/1/1 by the first 32 bits
    // of md5(text); narrow, no shuffle.
    Q("d23_dataset_split",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT) % 10").as("bucket"))
          .select(col("doc_id"), col("source"),
            expr("CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END")
              .as("split"))
      },
      Some("""SELECT doc_id, source,
             |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
             |FROM (SELECT doc_id, source,
             |        CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 10 AS b
             |      FROM documents)""".stripMargin)),

    // --- d22: sequence packing (contiguous fill into token budgets) --------
    // assign docs (in deterministic doc_id order per source) to fixed
    // 2000-token training packs by cumulative offset — the standard
    // streaming packer (one window cumsum; no driver loop, no shuffle
    // beyond the per-source window partition).
    Q("d22_packing",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            expr("CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("source"), col("doc_id"), col("n_tokens"),
            expr("CAST((cum - n_tokens) div 2000 AS BIGINT)").as("pack_id"),
            expr("CAST((cum - n_tokens) % 2000 AS BIGINT)").as("pack_offset"))
      },
      Some("""WITH d AS (SELECT source, doc_id,
             |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT source, doc_id, n_tokens,
             |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM d)
             |SELECT source, doc_id, n_tokens,
             |  CAST((cum - n_tokens) // 2000 AS BIGINT) AS pack_id,
             |  CAST((cum - n_tokens) % 2000 AS BIGINT) AS pack_offset
             |FROM c""".stripMargin)),

    // --- d31: collocation extraction (PMI-ranked word bigrams) -------------
    // which word pairs co-occur far more than chance — the phrase-mining
    // step (new_york, machine_learning) a tokenizer-prep pipeline runs
    // before vocabulary induction. PMI's log is monotonic, so ranking by
    // the *ratio* n_xy·Tu²/(Tb·n_x·n_y) needs no floating point: it is
    // integerized with a fixed floor-division ladder — each step divides
    // before the next multiply, keeping magnitudes ≤ Tu² (safe in BIGINT
    // up to ~3e9 corpus tokens; beyond that, widen to the log domain).
    // The ladder order is part of the contract: both engines compute
    // ((((n_xy·Tu) div n_x)·Tu) div n_y)·1000 div Tb exactly.
    // Scale: unigram/bigram counting is one map-side-combined shuffle
    // each; the scalar totals broadcast; the final join is linear on the
    // (much smaller) surviving-bigram set. Full sort key on the ranking.
    Q("d31_collocations",
      (s, dir) => {
        val ws = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
        val uni = ws.select(explode(col("ws")).as("x"))
          .groupBy("x").agg(count(lit(1)).as("n_x"))
        val bi = ws.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS x, ws[i+1] AS y))")).as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(count(lit(1)).as("n_xy"))
        val totals = uni.agg(sum("n_x").as("tu")).crossJoin(
          bi.agg(sum("n_xy").as("tb")))
        bi.filter(col("n_xy") >= 5)
          .join(uni, "x")
          .join(uni.select(col("x").as("y"), col("n_x").as("n_y")), "y")
          .crossJoin(broadcast(totals))
          .select(col("x"), col("y"), col("n_xy"),
            expr("CAST(((((n_xy * tu) div n_x) * tu) div n_y) * 1000 div tb AS BIGINT)")
              .as("pmi_ratio_milli"))
          .orderBy(col("pmi_ratio_milli").desc, col("x").asc, col("y").asc)
          .limit(50)
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |u AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x
             |      FROM (SELECT unnest(ws) AS x FROM w) GROUP BY x),
             |b AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy FROM (
             |        SELECT unnest([ws[i] for i in range(1, len(ws))]) AS x,
             |               unnest([ws[i+1] for i in range(1, len(ws))]) AS y
             |        FROM w WHERE len(ws) >= 2) GROUP BY x, y),
             |tt AS (SELECT (SELECT CAST(SUM(n_x) AS BIGINT) FROM u) AS tu,
             |              (SELECT CAST(SUM(n_xy) AS BIGINT) FROM b) AS tb)
             |SELECT x, y, n_xy,
             |  CAST(((((n_xy * tu) // n_x) * tu) // uy.n_y) * 1000 // tb AS BIGINT) AS pmi_ratio_milli
             |FROM b JOIN u USING (x)
             |  JOIN (SELECT x AS y, n_x AS n_y FROM u) uy USING (y)
             |  CROSS JOIN tt
             |WHERE n_xy >= 5
             |ORDER BY pmi_ratio_milli DESC, x, y LIMIT 50""".stripMargin)),

    // --- d32: corpus bigram-LM quality scoring ------------------------------
    // A perplexity proxy with no floats: per-bigram conditional likelihood
    // P(w2|w1) ≈ 1000·c(w1,w2) div c(w1·) in integer permille (c(w1·) is
    // the FIRST-position bigram count, so probabilities per w1 sum to
    // ~1000), averaged per document — fluent text reuses common corpus
    // transitions and scores high, gibberish scores low. The standard
    // LM-based quality gate a pre-training pipeline runs after d03's
    // surface heuristics. Plan: one bigram-count shuffle reused by both
    // the numerator join and (pre-aggregated, broadcast-sized) from-word
    // totals; the per-doc mean is a doc_id aggregation — all linear.
    Q("d32_bigram_lm_score",
      (s, dir) => {
        val bg = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(ws)-2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
        val cu = cb.groupBy("w1").agg(sum("cb").as("cu"))
        bg.join(cb, Seq("w1", "w2"))
          .join(cu, Seq("w1"))
          .select(col("doc_id"), expr("CAST(1000 * cb div cu AS BIGINT)").as("p"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            expr("CAST(sum(p) div count(1) AS BIGINT)").as("lm_score_permille"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |g AS (SELECT doc_id,
             |        unnest([ws[i] for i in range(1, len(ws))]) AS w1,
             |        unnest([ws[i+1] for i in range(1, len(ws))]) AS w2
             |      FROM w WHERE len(ws) >= 2),
             |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM g GROUP BY w1, w2),
             |cu AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS cu FROM cb GROUP BY w1)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(1000 * cb.cb // cu.cu) // COUNT(*) AS BIGINT) AS lm_score_permille
             |FROM g JOIN cb USING (w1, w2) JOIN cu USING (w1)
             |GROUP BY doc_id""".stripMargin),
      headline = true),

    // --- d33: Zipf rank-frequency audit -------------------------------------
    // Corpus-health check: rank the vocabulary by frequency (total order:
    // count DESC, word ASC) and report word count + occurrence mass per
    // log2-rank bucket — a healthy natural corpus shows the Zipf slope,
    // machine-generated spam flattens it. `length(bin(rank))` is
    // floor(log2)+1 in BOTH engines: an integer logarithm, no floats.
    // The rank is GlobalRank's two-phase exact row number (range-partition
    // → local index → broadcast offsets): a 100-TB web corpus has 10⁸–10⁹
    // distinct "words", so an unpartitioned row_number window — one task
    // ranking the whole vocabulary — was the round-4 verdict's one named
    // scale-killer. The two-phase plan keeps every vocab-sized stage
    // partitioned (soak: OperatorSpec ranks 10⁷ distinct tokens with
    // per-task row counts bounded by ~2× the even share).
    Q("d33_zipf_audit",
      (s, dir) => {
        val counts = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
        graft.operators.GlobalRank
          .withRowNumber(counts, Seq(col("cnt").desc, col("word").asc), "rank")
          .withColumn("bucket", expr("CAST(length(bin(rank)) AS BIGINT)"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_words"), sum("cnt").as("occurrences"))
      },
      Some("""WITH c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
             |          FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |          GROUP BY word),
             |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rank FROM c)
             |SELECT CAST(length(bin(rank)) AS BIGINT) AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n_words,
             |       CAST(SUM(cnt) AS BIGINT) AS occurrences
             |FROM r GROUP BY bucket""".stripMargin)),

    // --- d34: langid confusion matrix ---------------------------------------
    // Classifier-evaluation-as-a-query: d04's n-gram language prediction
    // against the declared lang column, one cell per (declared, predicted)
    // pair with the integer-permille row share — the accuracy audit a
    // pipeline runs before trusting a filter. Plan: the classifier is the
    // same narrow scan as d04; the matrix is one ≤|langs|² aggregation
    // and the row-share window runs on that tiny frame.
    Q("d34_langid_confusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cells = t(s, dir, "documents")
          .withColumn("p", concat(lit(" "), col("text"), lit(" ")))
          .select(col("lang").as("lang_declared"),
            expr(langPredExpr("div")).as("lang_pred"))
          .groupBy("lang_declared", "lang_pred")
          .agg(count(lit(1)).as("n"))
        cells
          .withColumn("tot",
            sum("n").over(Window.partitionBy("lang_declared")))
          .select(col("lang_declared"), col("lang_pred"), col("n"),
            expr("CAST(1000 * n div tot AS BIGINT)").as("share_permille"))
      },
      Some(s"""WITH pr AS (SELECT lang AS lang_declared,
              |             ${langPredExpr("//")} AS lang_pred
              |           FROM (SELECT lang, ' ' || text || ' ' AS p FROM documents)),
              |c AS (SELECT lang_declared, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
              |      FROM pr GROUP BY lang_declared, lang_pred)
              |SELECT lang_declared, lang_pred, n,
              |  CAST(1000 * n // CAST(SUM(n) OVER (PARTITION BY lang_declared) AS BIGINT) AS BIGINT) AS share_permille
              |FROM c""".stripMargin)),

    // --- d36: Heaps'-law vocabulary growth audit ----------------------------
    // How fast does the vocabulary grow as the corpus is consumed in
    // doc_id order? A natural corpus follows Heaps' law (V ∝ T^β,
    // β ≈ 0.5-0.7); template/machine spam saturates early, OCR noise
    // never flattens. Exact and linear at any scale: each word's FIRST
    // document is one min() aggregation (no ordered scan), docs are
    // assigned to 10 equal id-range buckets via the broadcast max-id
    // scalar, and the only windows run on the ≤10-row bucket frame.
    Q("d36_vocab_growth",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mx = docs.agg(max("doc_id").as("mx")) // 1-row scalar
        val newWords = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .groupBy("word").agg(min("doc_id").as("first_doc"))
          .crossJoin(broadcast(mx))
          .withColumn("bucket", expr("CAST(first_doc * 10 div (mx + 1) AS BIGINT)"))
          .groupBy("bucket").agg(count(lit(1)).as("new_words"))
        val tokens = docs.crossJoin(broadcast(mx))
          .withColumn("bucket", expr("CAST(doc_id * 10 div (mx + 1) AS BIGINT)"))
          .select(col("bucket"), size(split(col("text"), " ")).cast(LongType).as("ntok"))
          .groupBy("bucket").agg(sum("ntok").as("n_tokens"))
        tokens.join(newWords, Seq("bucket"), "left")
          .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
          // cumulative over ≤10 rows — bounded by the bucket constant
          // (PlanQualitySpec pins the full allowlist of these intentional
          // single-task windows; the harness mains silence WindowExec's
          // indiscriminate warning, which cannot see the bound)
          .withColumn("vocab_size", sum("new_words").over(Window.orderBy("bucket")))
          .withColumn("tokens_cum", sum("n_tokens").over(Window.orderBy("bucket")))
          .select("bucket", "n_tokens", "new_words", "vocab_size", "tokens_cum")
      },
      Some("""WITH mx AS (SELECT MAX(doc_id) AS mx FROM documents),
             |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |fo AS (SELECT word, MIN(doc_id) AS first_doc FROM w GROUP BY word),
             |nw AS (SELECT CAST(first_doc * 10 // (mx + 1) AS BIGINT) AS bucket,
             |         CAST(COUNT(*) AS BIGINT) AS new_words
             |       FROM fo, mx GROUP BY 1),
             |tk AS (SELECT CAST(doc_id * 10 // (mx + 1) AS BIGINT) AS bucket,
             |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |       FROM documents, mx GROUP BY 1)
             |SELECT tk.bucket, tk.n_tokens,
             |  COALESCE(nw.new_words, 0) AS new_words,
             |  CAST(SUM(COALESCE(nw.new_words, 0)) OVER (ORDER BY tk.bucket) AS BIGINT) AS vocab_size,
             |  CAST(SUM(tk.n_tokens) OVER (ORDER BY tk.bucket) AS BIGINT) AS tokens_cum
             |FROM tk LEFT JOIN nw USING (bucket)""".stripMargin)),

    // --- d37: n-gram novelty audit (temporal-leakage shape) -----------------
    // "How much of each document is NEW relative to everything ingested
    // before it?" — score the fraction of each doc's distinct 5-grams
    // whose FIRST corpus occurrence (by doc_id order) is this doc. The
    // dedup/contamination dual: low novelty flags recombined boilerplate
    // even when no single source document matches (d18 needs a named
    // benchmark set; this needs none). Exact and linear at any scale:
    // "first occurrence" is one min() aggregation over the distinct
    // (gram, doc) table — no ordered scan, no window, same 5-gram
    // expressions as d18.
    Q("d37_ngram_novelty",
      (s, dir) => {
        val grams5 = "transform(sequence(1, size(ws) - 4), i -> concat_ws(' ', slice(ws, i, 5)))"
        val sh = t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .filter(size(col("ws")) >= 5)
          .select(col("doc_id"), explode(expr(grams5)).as("g"))
          .distinct()
        val first = sh.groupBy("g").agg(min("doc_id").as("first_doc"))
        sh.join(first, Seq("g"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            expr("CAST(1000 * n_novel div n_grams AS BIGINT)").as("novelty_permille"))
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             |          WHERE len(string_split(text, ' ')) >= 5),
             |s AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS g
             |      FROM w, unnest(range(1, greatest(len(ws) - 3, 1))) AS t(i)),
             |f AS (SELECT g, MIN(doc_id) AS first_doc FROM s GROUP BY g)
             |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |  CAST(1000 * SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             |       // COUNT(*) AS BIGINT) AS novelty_permille
             |FROM s JOIN f USING (g)
             |GROUP BY s.doc_id""".stripMargin)),

    // --- d38: deterministic stratified sample (data-mixing primitive) -------
    // "Sample k docs per source, reproducibly, in one pass" — the
    // training-mix sampling shape: rank every doc by a multiplicative
    // hash (Knuth 2654435761 — pure integer arithmetic, identical in
    // both engines, so the sample is seed-stable across reruns and
    // engines) and keep the k hash-largest per source through the
    // TopKAgg bounded-heap aggregate. Map-side partial trim means
    // k·|sources| rows cross the shuffle, never the corpus — the window
    // formulation this replaces shuffles and sorts every doc of every
    // source. Ties (hash collisions) break on doc_id ASC in both
    // engines (TopKAgg's total order / the oracle's full sort key).
    Q("d38_stratified_sample",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            // mask to 31 bits BEFORE the multiply (ADVICE r5): the raw
            // product overflows BIGINT for doc_id ≳ 3.47e9, where Spark
            // wraps silently but DuckDB errors; (2^31-1)·2654435761 ≈
            // 5.7e18 stays in 64 bits in both engines, and ids < 2^31
            // hash identically to the unmasked form
            expr("CAST(((doc_id & 2147483647) * 2654435761) % 4294967296 AS BIGINT)").as("h"))
          .groupBy("source")
          .agg(graft.functions.TopKAgg.topk_by(col("h"), col("doc_id"), 20).as("tk"))
          .select(col("source"), explode(col("tk")).as("e"))
          .select(col("source"), col("e.id").as("doc_id"), col("e.ord").as("h"))
      },
      Some("""WITH d AS (SELECT source, doc_id,
             |         CAST(((doc_id & 2147483647) * 2654435761) % 4294967296 AS BIGINT) AS h
             |       FROM documents)
             |SELECT source, doc_id, h FROM (
             |  SELECT source, doc_id, h,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h DESC, doc_id) AS rn
             |  FROM d)
             |WHERE rn <= 20""".stripMargin)),

    // --- d41: text normalization battery ----------------------------------
    // The cleaning pass a prep pipeline runs BEFORE dedup/tokenization
    // (d01's md5 identity is only as good as its canonicalization):
    // lowercase, trim, collapse whitespace runs — each a codegen'd
    // built-in, all narrow. Emits the canonical hash plus the shrinkage
    // so the effect is observable; DuckDB's regexp_replace needs the
    // explicit 'g' flag where Spark's replaces all matches by default.
    Q("d41_normalize",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), " +", " "))).as("norm"))
        .select(col("doc_id"),
          md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast(LongType).as("norm_len")),
      Some("""SELECT doc_id,
             |  md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS norm_md5,
             |  CAST(length(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS BIGINT) AS norm_len
             |FROM documents""".stripMargin)),

    // --- d40: inverted index + conjunctive postings lookup ----------------
    // The secondary-index shape, sharded (operators/InvertedIndex): token
    // → bounded (tok, bucket) postings rows of ≤ 64 doc ids each (bucket
    // = doc_id div 64 — derived from the id, so the build is ONE
    // map-side-combinable groupBy with no per-token window; per-doc
    // `array_distinct` keeps the explode narrow, the d27 lesson). The
    // hottest token never materializes one O(corpus) array row — it owns
    // many capped shards, which is what survives 100 TB. df is a map-side
    // SUM over shard counts. The conjunctive AND query joins the two
    // tokens' shard sets on bucket and intersects within the bucket
    // (union over buckets = exact global intersection). Query terms are
    // the two highest-df tokens (df DESC, token ASC — total order), the
    // worst-case widest postings. The token regex uses whole-input
    // anchors \A..\z: Java's `$` also matches before a trailing newline,
    // DuckDB's regexp_full_match does not (ADVICE r6).
    Q("d40_inverted_index",
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("doc_id"),
          explode(expr(
            "array_distinct(filter(split(text, ' '), w -> w rlike '\\\\A[a-z]+\\\\z'))"))
            .as("tok"))
        val shards = graft.operators.InvertedIndex.shards(toks, cap = 64)
        // the heavy top-2 selection is a distributed TakeOrdered over
        // the per-token df table; the rank window then runs over TWO
        // rows (bounded by construction — see the Window.orderBy
        // allowlist)
        val top2 = graft.operators.InvertedIndex.docFreq(shards)
          .orderBy(col("df").desc, col("tok").asc).limit(2)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("df").desc, col("tok").asc)))
        val a = top2.filter(col("rn") === 1)
          .select(col("tok").as("tok_a"), col("df").as("df_a"))
        val b = top2.filter(col("rn") === 2)
          .select(col("tok").as("tok_b"), col("df").as("df_b"))
        val sa = shards.join(broadcast(a), col("tok") === col("tok_a"))
          .select(col("tok_a"), col("df_a"), col("bucket"),
            col("docs").as("docs_a"))
        val sb = shards.join(broadcast(b), col("tok") === col("tok_b"))
          .select(col("tok_b"), col("df_b"), col("bucket").as("bucket_b"),
            col("docs").as("docs_b"))
        sa.join(sb, col("bucket") === col("bucket_b"))
          .select(col("tok_a"), col("df_a"), col("tok_b"), col("df_b"),
            explode(expr("array_intersect(docs_a, docs_b)")).as("doc_id"))
      },
      Some("""WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tk AS (SELECT DISTINCT doc_id, tok FROM wd WHERE regexp_full_match(tok, '[a-z]+')),
             |p AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             |             list_sort(list(doc_id)) AS docs
             |      FROM tk GROUP BY tok),
             |r AS (SELECT tok, df, docs, ROW_NUMBER() OVER (ORDER BY df DESC, tok) AS rn FROM p),
             |a AS (SELECT tok AS tok_a, df AS df_a, docs AS docs_a FROM r WHERE rn = 1),
             |b AS (SELECT tok AS tok_b, df AS df_b, docs AS docs_b FROM r WHERE rn = 2)
             |SELECT tok_a, df_a, tok_b, df_b,
             |       unnest(list_intersect(docs_a, docs_b)) AS doc_id
             |FROM a, b""".stripMargin)),

    // --- d42: BM25 ranking — integer-exact rational variant ---------------
    // The retrieval-scoring counterpart of d40's index build: score every
    // document against the corpus's 3 widest terms (df DESC, tok ASC — a
    // TakeOrdered, no window) with BM25 at k1=1.2, b=0.75. Both factors
    // are EXACT RATIONALS so the whole score is merge-order-independent
    // 128-bit integer arithmetic, never a cross-engine float:
    //   idf surrogate  (N-df+0.5)/(df+0.5)      = (2N-2df+1)/(2df+1)
    //   tf norm  tf·(k1+1)/(tf+k1(1-b+b·dl/avgdl)), avgdl = L/N, scaled
    //   by 20L:                                  44·tf·L /
    //                                            (20L·tf + 6L + 18·dl·N)
    // (ln-idf is monotone in its argument, so ranking by the rational
    // itself is the standard integer-only-IR substitution — the same
    // trade d20 documents for tf-idf.) Each per-(doc,term) score is
    // floored to integer micro-units BEFORE the per-doc sum (the PqAnn
    // rule: integerize PER TERM, then integer-sum), in Spark
    // DECIMAL(38,0) `div` ↔ DuckDB HUGEINT `//`. At 100 TB: tf/dl/df are
    // map-side-combinable aggregates, the 3-term query table and the 1×1
    // (N, L) scalar frame broadcast, so the corpus shuffles once for tf.
    Q("d42_bm25",
      (s, dir) => {
        val words = t(s, dir, "documents").select(col("doc_id"),
          explode(expr(
            "filter(split(text, ' '), w -> w rlike '\\\\A[a-z]+\\\\z')"))
            .as("tok"))
        val tf = words.groupBy("doc_id", "tok")
          .agg(count(lit(1)).as("tf"))
        // dl derives from tf (Σtf per doc ≡ the doc's token count) with
        // the IDENTICAL child plan, so AQE's ReuseExchange runs the
        // tokenize + (doc_id, tok) shuffle once for both; df's keys-only
        // aggregate canonicalizes differently (column pruning drops the
        // tf count) and keeps its own narrower scan — 2 corpus passes,
        // not 3
        val dl = tf.groupBy("doc_id").agg(sum("tf").cast(LongType).as("dl"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).cast(LongType).as("df"))
        val scal = dl.agg(count(lit(1)).as("n_docs"),
          sum("dl").cast(LongType).as("corpus_len"))
        val terms = dfreq.orderBy(col("df").desc, col("tok").asc).limit(3)
        tf.join(broadcast(terms), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(scal))
          .withColumn("term_micro", expr(bm25TermExpr("div", "DECIMAL(38,0)")))
          .groupBy("doc_id")
          .agg(sum("term_micro").as("score_micro"),
            count(lit(1)).cast(LongType).as("n_terms"))
          .orderBy(col("score_micro").desc, col("doc_id").asc)
          .limit(10)
      },
      Some(s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |f AS (SELECT doc_id, tok FROM w WHERE regexp_full_match(tok, '[a-z]+')),
             |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM f GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
             |scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |                CAST(SUM(dl) AS BIGINT) AS corpus_len FROM dl),
             |terms AS (SELECT tok, df FROM dfq ORDER BY df DESC, tok LIMIT 3),
             |sc AS (SELECT t.doc_id, ${bm25TermExpr("//", "HUGEINT")} AS term_micro
             |       FROM tf t JOIN terms USING (tok) JOIN dl USING (doc_id) CROSS JOIN scal)
             |SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS score_micro,
             |       CAST(COUNT(*) AS BIGINT) AS n_terms
             |FROM sc GROUP BY doc_id
             |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin),
      headline = true),

    // --- d44: asymmetric containment dedup --------------------------------
    // Jaccard resemblance (d05) misses the SUBSET case: a short doc
    // pasted inside a long one scores low symmetric overlap but high
    // CONTAINMENT |Sh(a)∩Sh(b)| / |Sh(a)| — Broder's second measure, the
    // one quote/boilerplate inclusion detection needs. Pairs are
    // DIRECTED (a-in-b ≠ b-in-a): the permille divides by the CONTAINED
    // side's shingle count only. Same hashed-shingle front end as d05
    // (xxhash64 on the Spark side for narrow shuffles; the oracle joins
    // the raw shingle strings — intersection counts agree since the
    // shingle sets are distinct per doc). Scale guard: shingles in more
    // than 64 documents are DROPPED from the universe before the join
    // (the d25 boilerplate-cap lesson) — a ubiquitous shingle carries no
    // containment signal but fans out df² pairs, the hot-key quadratic
    // that kills the equijoin at 100 TB; with the cap, per-shingle work
    // is bounded at 64² whatever the corpus. Sizes are measured over the
    // SAME capped universe so the permille stays a true fraction.
    Q("d44_containment",
      (s, dir) => containmentPairs(t(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
             |sh0 AS (SELECT DISTINCT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS s FROM w),
             |dfq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
             |sh AS (SELECT doc_id, sh0.s FROM sh0 JOIN dfq USING (s) WHERE df <= 64),
             |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
             |p AS (SELECT a.doc_id da, b.doc_id db, CAST(COUNT(*) AS BIGINT) AS inter
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
             |SELECT da AS doc_a, db AS doc_b,
             |       CAST((1000 * inter) // x.n AS BIGINT) AS containment_permille
             |FROM p JOIN sz x ON x.doc_id = da
             |WHERE (1000 * inter) // x.n >= 700""".stripMargin)),

    // --- d47: dataset profile — the per-column data-quality report --------
    // The first thing a pipeline runs against a new corpus drop: one row
    // per column with null/distinct/length statistics, all integer-exact.
    // Shape at 100 TB: ONE aggregation pass over the table — the exact
    // per-column distinct counts make Catalyst plan an Expand (one
    // projection per counted column, so ~6× the input rows flow into the
    // partial aggregates), which is the standard price of exact
    // multi-column NDV and still a single scan + one shuffle of partial
    // states. Lengths are measured over CAST(col AS STRING), identical
    // text in both engines for BIGINT/VARCHAR columns, so one metric set
    // covers every column type uniformly.
    Q("d47_profile",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
        val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
          Seq(
            count(col(c)).as(s"nn_$c"),
            countDistinct(col(c)).as(s"nd_$c"),
            min(length(col(c).cast(StringType))).cast(LongType).as(s"mnl_$c"),
            max(length(col(c).cast(StringType))).cast(LongType).as(s"mxl_$c"),
            sum(length(col(c).cast(StringType)).cast(LongType)).as(s"sl_$c"))
        }
        val one = d.agg(aggs.head, aggs.tail: _*)
        val stacked = cols.map(c =>
          s"'$c', nn_$c, nd_$c, mnl_$c, mxl_$c, sl_$c").mkString(", ")
        one.select(col("n_rows"), expr(
          s"stack(${cols.size}, $stacked) AS (col_name, n_non_null, n_distinct, min_len, max_len, sum_len)"))
          .select(col("col_name"), col("n_rows"),
            (col("n_rows") - col("n_non_null")).as("n_null"),
            col("n_distinct"), col("min_len"), col("max_len"), col("sum_len"))
      },
      Some(Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN(length(CAST($c AS VARCHAR))) AS BIGINT) AS min_len,
           |  CAST(MAX(length(CAST($c AS VARCHAR))) AS BIGINT) AS max_len,
           |  CAST(SUM(length(CAST($c AS VARCHAR))) AS BIGINT) AS sum_len
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n"))),

    // --- d43: train/eval distribution-shift audit -------------------------
    // The drift check a training pipeline runs before mixing sources:
    // which tokens are over/under-represented between the two LARGEST
    // sources (count DESC, source ASC — a TakeOrdered), scored by the
    // two-sample chi-square homogeneity statistic in EXACT integer
    // micro-units (see [[chi2TermExpr]] — per-token integerize, integer
    // sort; no cross-engine float anywhere). Shape at 100 TB: one
    // map-side (source, tok) count over the corpus, the 2-row source
    // totals broadcast, a full-outer merge of the two vocabularies on
    // tok (each side already one row per token), TakeOrdered top-20.
    Q("d43_distribution_shift",
      (s, dir) => {
        val words = t(s, dir, "documents").select(col("source"),
          explode(expr(
            "filter(split(text, ' '), w -> w rlike '\\\\A[a-z]+\\\\z')"))
            .as("tok"))
        val counts = words.groupBy("source", "tok")
          .agg(count(lit(1)).as("n"))
        val totals = counts.groupBy("source").agg(sum("n").cast(LongType).as("nt"))
        val top2 = totals.orderBy(col("nt").desc, col("source").asc).limit(2)
          .orderBy(col("source").asc).collect()
        require(top2.length == 2,
          s"d43 compares the two largest sources; corpus has ${top2.length}")
        val (srcA, na) = (top2(0).getString(0), top2(0).getLong(1))
        val (srcB, nb) = (top2(1).getString(0), top2(1).getLong(1))
        val ca = counts.filter(col("source") === srcA)
          .select(col("tok"), col("n").as("a"))
        val cb = counts.filter(col("source") === srcB)
          .select(col("tok").as("tok_b"), col("n").as("b"))
        ca.join(cb, col("tok") === col("tok_b"), "full_outer")
          .select(coalesce(col("tok"), col("tok_b")).as("tok"),
            coalesce(col("a"), lit(0L)).as("a"),
            coalesce(col("b"), lit(0L)).as("b"))
          .withColumn("na", lit(na)).withColumn("nb", lit(nb))
          .withColumn("chi2_micro", expr(chi2TermExpr("div", "DECIMAL(38,0)")))
          .select(col("tok"), col("a"), col("b"), col("chi2_micro"))
          .orderBy(col("chi2_micro").desc, col("tok").asc)
          .limit(20)
      },
      Some(s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
             |f AS (SELECT source, tok FROM w WHERE regexp_full_match(tok, '[a-z]+')),
             |c AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n FROM f GROUP BY 1, 2),
             |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nt FROM c GROUP BY source),
             |t2 AS (SELECT source, nt,
             |         ROW_NUMBER() OVER (ORDER BY source) AS rs
             |       FROM (SELECT * FROM t ORDER BY nt DESC, source LIMIT 2)),
             |sa AS (SELECT source, nt AS na FROM t2 WHERE rs = 1),
             |sb AS (SELECT source, nt AS nb FROM t2 WHERE rs = 2),
             |ca AS (SELECT tok, n AS a FROM c JOIN sa USING (source)),
             |cb AS (SELECT tok, n AS b FROM c JOIN sb USING (source)),
             |m AS (SELECT COALESCE(ca.tok, cb.tok) AS tok,
             |             COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
             |      FROM ca FULL OUTER JOIN cb ON cb.tok = ca.tok)
             |SELECT tok, a, b, ${chi2TermExpr("//", "HUGEINT")} AS chi2_micro
             |FROM m CROSS JOIN sa CROSS JOIN sb
             |ORDER BY chi2_micro DESC, tok LIMIT 20""".stripMargin))
  )

  /** d43's per-token two-sample chi-square contribution in micro-units:
    * with a, b the token's counts and na, nb the sources' total tokens,
    *   χ²_term ∝ (a·nb − b·na)² / (na·nb·(a+b))
    * (the 2×2 homogeneity statistic up to the constant (na+nb), dropped
    * identically in both engines — ranking and relative magnitude are
    * unchanged). All products run 128-bit: a·nb alone overflows BIGINT
    * at real corpus sizes once squared.
    */
  private def chi2TermExpr(intDiv: String, big: String): String =
    s"""CAST(CAST(1000000 AS $big)
       | * (a * CAST(nb AS $big) - b * CAST(na AS $big))
       | * (a * CAST(nb AS $big) - b * CAST(na AS $big))
       | $intDiv (CAST(na AS $big) * nb * (a + b)) AS BIGINT)""".stripMargin
      .replace("\n", " ")

  /** d42's per-(doc,term) BM25 micro-score: identical integer arithmetic
    * in both engines; only the floor-division token and the 128-bit type
    * name differ. All products run in the 128-bit type (a BIGINT
    * intermediate would overflow at real corpus_len).
    */
  private def bm25TermExpr(intDiv: String, big: String): String =
    s"""CAST(CAST(1000000 AS $big) * (2 * n_docs - 2 * df + 1) * tf * 44 * corpus_len
       | $intDiv (CAST(2 * df + 1 AS $big)
       |   * (CAST(20 AS $big) * corpus_len * tf
       |      + CAST(6 AS $big) * corpus_len
       |      + CAST(18 AS $big) * dl * n_docs)) AS BIGINT)""".stripMargin
      .replace("\n", " ")

  /** d05's exact near-dup pairs as a callable — d45 measures d06's LSH
    * recall/precision against exactly this truth set. */
  private[graft] def exactNearDups(s: SparkSession, dir: String): DataFrame =
    graft.operators.JaccardAllPairs(shingleHashes(s, dir), 300)

  /** d05's oracle SQL text, exposed so d45 can embed the truth set. */
  private[graft] def dedupOracleSql: String = dedupOracle.get

  /** d05's oracle, shared shape with d09's edge definition. */
  private def dedupOracle: Option[String] =
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') ws FROM documents),
             |sh AS (SELECT DISTINCT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS s FROM w),
             |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
             |p AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
             |      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
             |SELECT da AS doc_a, db AS doc_b,
             |       CAST((1000*inter) // (x.n + y.n - inter) AS BIGINT) AS jaccard_permille
             |FROM p JOIN sz x ON x.doc_id = da JOIN sz y ON y.doc_id = db
             |WHERE (1000*inter) // (x.n + y.n - inter) >= 300""".stripMargin)
}
