package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape assertions: the scale properties the code comments
  * promise must be visible in `explain` output, so a regression that
  * silently de-optimizes a plan (lost broadcast, lost pushdown, shuffle
  * where none belongs) fails CI.
  */
class PlanQualitySpec extends SparkFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q01: shipdate filter is pushed into the parquet scan") {
    val p = plan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    assert(p.contains("PushedFilters") &&
      p.matches("(?s).*PushedFilters: \\[[^\\]]*LessThanOrEqual\\(l_shipdate.*"), p)
  }

  test("q01: scan reads only the referenced columns") {
    val p = plan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    // ReadSchema must not include unused wide columns like l_comment-ish ones
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && read.contains("l_returnflag"))
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"), read)
  }

  test("q04: dimension join is a broadcast hash join, fact side not shuffled") {
    val p = plan(SparkEntry.queries("q04_brand_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q03: nation dim broadcast; partial aggregation before the shuffle") {
    val p = plan(SparkEntry.queries("q03_revenue_by_nation")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("defrag: first-fragment side is broadcast (packet table never shuffles)") {
    import PcapFixtures._
    val frames = Seq(
      (1000L, ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17,
        udp(53, 9, dnsQuery("x.example", 1)), id = 5, mf = true))),
      (2000L, ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17,
        Array.fill[Byte](8)(0), id = 5, mf = false, fragOffset = 4))))
    val dir = java.nio.file.Files.createTempDirectory("plantest")
    val f = dir.resolve("t.pcap")
    java.nio.file.Files.write(f, legacyPcap(frames.map { case (ts, b) => (ts, -1, b) }))
    val pcap = graft.spark.PcapSource.read(spark, f.toString)
    val p = plan(graft.spark.Defrag.defrag(pcap))
    assert(p.contains("BroadcastHashJoin"), p)
    // the ff argmin is the declarative min(struct) SortAggregate (round
    // 17's measured pick), planned in the caller's session — no clone
    val ff = graft.spark.Defrag.firstFragments(pcap)
    assert(ff.sparkSession eq pcap.sparkSession)
    val pf = plan(ff)
    assert(pf.contains("SortAggregate") && !pf.contains("ObjectHashAggregate"), pf)
    // round-10 shuffle branch: the bypass split must keep the
    // non-joinable slice OUT of any exchange — the only shuffles are
    // the joinable slice and the pre-aggregated ff side (plus AQE
    // reads); the bypass side is a plain scan+filter unioned back
    val ps = plan(graft.spark.Defrag.defrag(pcap, broadcastFF = false))
    assert(ps.contains("Union"), ps)
    assert(ps.contains("SortMergeJoin") || ps.contains("ShuffledHashJoin"), ps)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(ps).size
    assert(exchanges <= 2, s"bypass side leaked into a shuffle ($exchanges):\n$ps")
  }

  test("e01: corpus side streams through a broadcast nested loop (no corpus shuffle)") {
    val p = plan(graft.queries.VectorOps.cosineTopK(spark, sf))
    assert(p.contains("Broadcast"), p)
    // the only exchange below the window should be the broadcast, not a
    // corpus-wide hash repartition before scoring
    val beforeWindow = p.substring(0, math.max(p.indexOf("Window"), 0))
    assert(!beforeWindow.contains("Exchange hashpartitioning(cid"), p)
  }

  test("q05/q06: semi and anti joins are real join operators, not subquery scans") {
    assert(plan(SparkEntry.queries("q05_semi_join")(spark, sf)).contains("LeftSemi"))
    assert(plan(SparkEntry.queries("q06_anti_join")(spark, sf)).contains("LeftAnti"))
  }

  test("d11: join is blocked on (source, length band), not source alone") {
    val p = plan(SparkEntry.queries("d11_edit_distance")(spark, sf))
    // the band must be part of the equi-join keys — source-only blocking
    // is quadratic in the largest source (round-1 verdict #5)
    assert(p.matches("(?s).*(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin).*"), p)
    assert(p.contains("band"), p)
  }

  test("d05 join path: the distinct's exchange is computed once and reused") {
    import org.apache.spark.sql.functions._
    // force the join path with a tiny dense gate
    val sh = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("h"))
    val df = graft.operators.JaccardAllPairs(sh, 300, maxDenseVocab = 1)
    df.collect()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage") ||
      p.contains("TableCacheQueryStage"), p)
  }

  test("d06: bucket-cap window shares the band-join's exchange (no extra shuffle)") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = graft.queries.FuzzyDedup.minhashNearDups(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val stages = finalPlan.collect { case s: ShuffleQueryStageExec => s }
    val fresh = stages.count(_.plan.isInstanceOf[ShuffleExchangeExec])
    // real shuffles: the banded (band,bucket) exchange feeding BOTH the
    // cap window and the self-join sides (ideally shared via reuse), and
    // the pair distinct. More than 3 fresh shuffles in the final plan
    // means the cap window repartitioned separately per join side.
    assert(fresh <= 3, s"$fresh fresh shuffle stages (of ${stages.length}):\n$finalPlan")
  }

  test("q28: EXISTS/NOT EXISTS decorrelate to semi/anti joins (no subquery per row)") {
    val p = plan(SparkEntry.queries("q28_exists_subquery")(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("d16: repetition signals are computed without any shuffle") {
    val p = plan(SparkEntry.queries("d16_repetition")(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("d53: scoring pass is narrow + TakeOrdered (score table rides as a literal, no join)") {
    // the design claim (round 12): after the tiny bucket-count job, the
    // corpus-side scoring is a pure projection against a LITERAL 4096-
    // long lookup — no join, no shuffle — and the top-k is TakeOrdered.
    // An Exchange or a join here means the literal-lookup plan regressed
    // to a corpus-shuffling one.
    val p = plan(SparkEntry.queries("d53_dsir_select")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("d52: exact arm scrubs through a broadcast set (corpus never shuffles for membership)") {
    val df = SparkEntry.queries("d52_scrub_adaptive")(spark, sf)
    // the membership join (shingles ⋈ frequent set) broadcasts statically
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
    // round 13 (frequent-set spill): the doc-keyed backfill join is now
    // planned from the spill SCAN's statistics, so the static plan may
    // sort-merge it — which IS the right 100 TB shape (covered is
    // doc-cardinality, not boilerplate-bounded); at gate scale AQE
    // converts it to a broadcast from runtime sizes. Assert the
    // EXECUTED plan: every join broadcast, no sort-merge survived.
    df.collect()
    // executedPlan prints "Final Plan" AND "Initial Plan" sections —
    // assert only on what actually ran
    val fin = df.queryExecution.executedPlan.toString()
      .split("== Initial Plan ==")(0)
    assert(fin.contains("BroadcastHashJoin"), fin)
    assert(!fin.contains("SortMergeJoin"), fin)
  }

  test("d54: both aggregates partial-combine (no corpus-sized shuffle)") {
    val p = plan(SparkEntry.queries("d54_k_anonymity")(spark, sf))
    assert(p.contains("partial_count"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("d18: benchmark shingle set joins by broadcast (corpus side not shuffled for the join)") {
    val p = plan(SparkEntry.queries("d18_contamination")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d21: chunking is narrow (explode only — zero shuffles)") {
    val p = plan(SparkEntry.queries("d21_chunking")(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("e06: probes and ADC tables join by broadcast (tiny sides never shuffle the corpus)") {
    val p = plan(SparkEntry.queries("e06_ivf_pq")(spark, sf))
    // probes (nQueries × nprobe) and qtab (nQueries × m × k) broadcast;
    // the candidate↔codes join on vec_id legitimately shuffles — both
    // sides are corpus-scale at real query volumes
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q36: the star's dimensions all broadcast (no dim ever shuffles the fact side)") {
    val p = plan(SparkEntry.queries("q36_star_join")(spark, sf))
    // region, nation, supplier, customer must all be broadcast joins; at
    // real scale orders⋈lineitem alone may legitimately shuffle
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 4, s"$broadcasts broadcast joins in:\n$p")
  }

  test("q37: the SELECT-list scalar subquery decorrelates to one outer join + aggregate") {
    val p = plan(SparkEntry.queries("q37_select_subquery")(spark, sf))
    assert(p.contains("LeftOuter") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Subquery"), s"per-row subquery survived:\n$p")
  }

  test("whole-stage codegen covers the q01 aggregation pipeline") {
    // AQE's formatted explain omits codegen stages pre-execution: run the
    // query, then inspect the final executed plan
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    // `*(n)` prefixes in the executed plan are whole-stage-codegen stages
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("*(1)") && p.contains("HashAggregate"), p)
  }

  test("m08: metadata scan is narrow (byte arithmetic only — zero shuffles, no decode)") {
    val p = plan(SparkEntry.queries("m08_png_metadata")(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("q50: the from-type totals broadcast into the probability join") {
    val p = plan(SparkEntry.queries("q50_markov_transitions")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d32: one bigram exchange is reused between the count and the rejoin") {
    val df = SparkEntry.queries("d32_bigram_lm_score")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    // the (w1, w2) bigram stream shuffles once for the count and once for
    // the probe-side rejoin, the (w1) totals once; more would mean the
    // count subplan stopped being reused
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("q54: bucketed layout makes the fact-fact merge join shuffle-free") {
    val df = SparkEntry.queries("q54_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), p)
    val below = p.substring(p.indexOf("SortMergeJoin"))
    assert(!below.contains("Exchange hashpartitioning(l_orderkey") &&
      !below.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffled:\n$p")
  }

  test("q55: the partition-column filter prunes the landed scan") {
    val df = SparkEntry.queries("q55_partition_pruning")(spark, sf)
    val p = plan(df)
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*event_type[^\\]]*\\].*"),
      s"partition filter not pushed:\n$p")
  }

  test("m06: audio windowing is narrow (flatMap only — zero shuffles)") {
    val p = plan(SparkEntry.queries("m06_audio_windows")(spark, sf))
    assert(!p.contains("Exchange"), p)
  }

  test("d27: the 8 KiB bloom sketch broadcasts; probe side never shuffles for the join") {
    val p = plan(SparkEntry.queries("d27_bloom_contamination")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the membership probe is built-in integer arithmetic, not a UDF
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("d28: the one-row-per-source threshold table broadcasts") {
    val p = plan(SparkEntry.queries("d28_quantile_filter")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("e08: queries broadcast into the corpus scan (corpus never shuffles before the coarse stage)") {
    val p = plan(SparkEntry.queries("e08_two_stage_rerank")(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q17: the physical as-of join plans one exchange per side, no window") {
    val df = SparkEntry.queries("q17_asof_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin") && !p.contains("!AsOfJoin"), p)
    // the composed formulation needed a union + window over both inputs;
    // the physical operator is exactly two shuffles (one per side) and no
    // Window operator at all
    assert(!p.contains("Window"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected one exchange per side:\n$p")
  }

  test("d33: no unpartitioned row_number window over the vocabulary") {
    // round-4 verdict's named scale-killer: the vocab rank must come from
    // GlobalRank's two-phase plan. The only Window allowed in the final
    // plan is the per-partition offset cumulation, whose input is the
    // ≤numPartitions-row count aggregate (keyed __pid), never the vocab.
    val p = plan(SparkEntry.queries("d33_zipf_audit")(spark, sf))
    assert(!p.contains("row_number"), p)
    assert(p.contains("__pid"), p)
  }

  test("q56: the sweep cumsum windows are hour-partitioned; only the tiny offset frame is global") {
    // the delta-stream cumsum must be Window [partitionBy hour]; the one
    // unpartitioned window allowed is the per-hour offset cumulation over
    // the calendar-bounded hour-totals aggregate
    val p = plan(SparkEntry.queries("q56_peak_concurrency")(spark, sf))
    // formatted mode: each Window node's spec is an "Arguments:" line
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toList
    assert(winSpecs.nonEmpty, p)
    // every window over the session/delta stream carries a partition key
    // (user_id for sessionization, hour for the local cumsum); the
    // offset window's spec orders by hour with no data-sized input
    val unpartitioned = winSpecs.filterNot(w =>
      w.contains("user_id") || w.contains("hour#"))
    assert(unpartitioned.isEmpty, s"unexpected window specs:\n${winSpecs.mkString("\n")}")
  }

  test("q57: ranks come from GlobalRank (no per-nation row_number window)") {
    val p = plan(SparkEntry.queries("q57_gini_concentration")(spark, sf))
    assert(!p.contains("row_number"), p)
    assert(p.contains("__pid"), p) // the two-phase offset machinery
  }

  test("e11: both recall arms broadcast the query side; the corpus is never shuffled") {
    val p = plan(SparkEntry.queries("e11_ann_recall")(spark, sf))
    // exact arm: broadcast nested loop over the corpus; bucketed arm:
    // broadcast hash join on label — no Exchange before either join's
    // corpus-side scan
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q59: equi-depth ranks come from GlobalRank (no global ordered window)") {
    val p = plan(SparkEntry.queries("q59_equidepth_histogram")(spark, sf))
    assert(!p.contains("row_number"), p)
    assert(p.contains("__pid"), p)
    // round-10: the rank must NOT materialize its full fact-table input —
    // a localCheckpoint would surface as a Scan ExistingRDD replacing the
    // parquet scan (at 100× that wrote the corpus to executor storage)
    assert(!p.contains("ExistingRDD"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("q56: sweep deltas are recomputed, never materialized (no ExistingRDD)") {
    // round-11 (verdict task 1): the deltas frame used to be
    // localCheckpoint()ed — corpus-proportional executor storage at
    // 100×. Now both consumers (per-hour cumsum + hour-totals offsets)
    // recompute the deterministic derivation; the sessionization
    // shuffles dedupe via exchange reuse. Same pin as q59's.
    val p = plan(SparkEntry.queries("q56_peak_concurrency")(spark, sf))
    assert(!p.contains("ExistingRDD"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("q58: top-k-per-group is a partial object aggregate, not a window sort") {
    // the TopKAgg scale contract: map-side partial trims to k per group
    // before the exchange — the plan must show the two-stage
    // ObjectHashAggregate and NO row_number window over the fact table
    val p = plan(SparkEntry.queries("q58_topk_aggregate")(spark, sf))
    assert(!p.contains("row_number"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate stages:\n$p")
  }

  test("q65: the optimizer rewrote the window formulation into the heap aggregate") {
    // the query is WRITTEN as row_number + rn <= 2; TopKWindowRewrite
    // (injectOptimizerRule) must have replaced the window (and Spark's
    // own WindowGroupLimit) with the two-stage ObjectHashAggregate +
    // posexplode reconstruction
    val p = plan(SparkEntry.queries("q65_topk_rewrite")(spark, sf))
    assert(!p.contains("row_number") && !p.contains("WindowGroupLimit"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Generate"), p)
  }

  test("single-task windows: the source-wide allowlist of unpartitioned Window.orderBy") {
    // Three single-task windows are INTENTIONAL: each runs over a frame
    // already aggregated to a size bounded by construction, not by data
    // volume — GlobalRank's per-partition offsets (≤ numPartitions rows),
    // q56's hour totals (≤ calendar hours), d36's decile buckets (≤ 10).
    // WindowExec's runtime warning for them is noise (silenced in the
    // harness mains via LogHygiene); THIS is the real guard: any new
    // `Window.orderBy` in main code fails here until its input bound is
    // audited and the allowlist updated. (Occurrence counts include doc
    // comments deliberately — the audit covers prose claims too.)
    val allowed = Map(
      "operators/GlobalRank.scala" -> 2, // 1 offsets window + 1 scaladoc mention
      "queries/TextOps.scala" -> 4,      // d36 vocab_size + tokens_cum cumsum; d40 rank over the LIMIT-2 top-df frame (+ its doc mention)
      "queries/PipelineOps.scala" -> 1,  // q56 hour-offset cumsum
      "queries/Relational.scala" -> 1,   // q77 running min over the per-size frame (≤ |p_size domain| ≈ 50 rows)
      "Bench.scala" -> 1)                // x_rank_window: the DELIBERATE anti-pattern arm of the rank A/B — it exists to be measured against GlobalRank, never shipped in a query
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val found = scala.collection.mutable.Map.empty[String, Int]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val n = "Window\\.orderBy".r
          .findAllIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).size
        if (n > 0) found(root.relativize(p).toString) = n
      }
    }
    assert(found.toMap == allowed,
      s"unpartitioned-window call sites changed: found=$found allowed=$allowed — " +
        "audit the new window's input bound (or partition it) and update the allowlist")
  }

  test("q64: MERGE is one full-outer join + one projection (no union, no window, no rescan)") {
    // the MergeInto contract: all four WHEN-cases fold into a single
    // Project over one full-outer equi-join — a union-of-three-joins
    // formulation would scan base and source twice each
    val p = plan(SparkEntry.queries("q64_merge_upsert")(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Union"), p)
  }

  test("q63: CMS counters aggregate with map-side partials (bounded shuffle)") {
    // the sketch's scale contract: each partition ships <= depth*width
    // partial counter rows, never the event stream — visible as the
    // partial+final HashAggregate pair over the (j, bucket) keys
    val p = plan(SparkEntry.queries("q63_cms_heavy_hitters")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("d39: within-cluster pair generation is an equi-join on the learned cell") {
    // SemDeDup's scale contract: pairs come from a cell equijoin (each
    // cluster joins only with itself), never a corpus cross product
    val p = plan(SparkEntry.queries("d39_semdedup")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.matches("(?s).*(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*cell.*"), p)
  }

  test("d25: span-cap window shares the span-join's hash partitioning (no extra shuffle)") {
    val df = SparkEntry.queries("d25_substring_dedup")(spark, sf)
    df.collect()
    // the AdaptiveSparkPlan string repeats the plan (final + initial):
    // count exchanges only inside the final section
    val p = df.queryExecution.executedPlan.toString().split("== Initial Plan ==")(0)
    // one exchange per join input (window + join share it), one for the
    // pair aggregation; more would mean the cap re-shuffled the span table
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("runtime bloom-filter join: the dim's selectivity reaches the fact scan as might_contain") {
    // The 100-TB shuffle-join configuration: when the dim side is too big
    // to broadcast but carries a selective filter, Spark's
    // InjectRuntimeFilter can build a bloom sketch of the dim's join keys
    // and semi-filter the FACT side before the shuffle — rows that cannot
    // match never leave the map side. The thresholds default to
    // cluster-scale sizes (10 GB application-side scan), so the engine's
    // bench/verify fixtures never trip it implicitly; this pins the
    // conf recipe and the resulting plan shape on a fresh session.
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the shuffle join
    val li = s2.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = s2.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    val p = plan(j)
    assert(p.contains("might_contain"),
      s"runtime bloom filter was not injected:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }
}
