package graft.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.core.PacketSchema

/** The reference's one shipped query: UDP datagram "defragmentation" —
  * back-fill L7 columns from each datagram's first fragment onto its
  * sibling fragments (reference: src/main.rs:268-301). Not payload
  * reassembly; a filter → first-per-group → left join → coalesce pipeline.
  *
  * Spark plan shape (designed for the 100 TB case):
  *   - `ff` (first fragments) is one row per fragmented UDP datagram —
  *     orders of magnitude smaller than the packet table → `broadcast(ff)`
  *     turns the enrichment join into a map-side broadcast hash join; the
  *     big table is never shuffled.
  *   - First-fragment selection runs only on the pre-filtered fragment
  *     subset (predicate pushed to the parquet scan), not the full table,
  *     as a `min(struct(frame_time, patched…))` AGGREGATE (round 10) —
  *     field-by-field struct ordering with nulls first picks the same row
  *     a `frame_time`-ordered window would, but partial-combines map-side
  *     with no per-partition sort, and its exchange is already
  *     hash-partitioned on the join keys for the shuffle branch's reuse.
  *   - `first()` determinism: the reference relies on DuckDB scan order
  *     (src/main.rs:292, SURVEY §4.4); the min(struct) total order makes
  *     results stable across partitionings.
  */
object Defrag {

  val JoinKeys: Seq[String] = Seq("ip_src", "ip_dst", "ip_proto", "ip_id")
  val Patched: Seq[String] = PacketSchema.defragPatched

  /** `(ip_frag_offset = 0 AND ip_mf) OR ip_frag_offset > 0` — the
    * fragmented-packet predicate of the reference's % scan
    * (reference src/main.rs:274).
    */
  val fragmentedCond =
    (col("ip_frag_offset") === 0 && col("ip_mf")) || col("ip_frag_offset") > 0

  /** A UDP first fragment: the rows the reference's `ff` groups
    * (reference src/main.rs:292). */
  val firstFragmentCond =
    col("ip_proto") === 17 && col("ip_mf") && col("ip_frag_offset") === 0

  /** One pass over the packet table collects everything the adaptive plan
    * needs: total count, fragmented count (the reference's % scan,
    * src/main.rs:274), the UDP first-fragment count, and an HLL estimate
    * of DISTINCT datagram keys. The broadcast decision hangs on the
    * latter (round 12): `ff` is one row per distinct key, so the
    * first-fragment ROW count only upper-bounds it — on key-collided
    * captures (long DDoS runs wrap the 16-bit ip_id space, so the same
    * (src,dst,proto,id) key recurs thousands of times) the row count
    * overshoots by 10×+ and forced the shuffle branch where a ~1M-row
    * broadcast was the right plan (measured: the 100M-packet bench
    * corpus has 10M ff rows but 1.12M distinct keys).
    */
  final case class FragStats(total: Long, fragmented: Long,
      firstFragments: Long, distinctKeysEst: Long) {
    def pct: Double =
      if (total == 0) 0.0 else math.round(100.0 * fragmented / total).toDouble
  }

  def fragStats(pcap: DataFrame): FragStats = {
    val row = pcap
      .agg(
        count(lit(1)).as("total"),
        sum(when(fragmentedCond, 1L).otherwise(0L)).as("frag"),
        sum(when(firstFragmentCond, 1L).otherwise(0L)).as("ffs"),
        // NULL for non-ff rows → ignored by the HLL sketch; stays one
        // HashAggregate pass (fixed-width HLL buffer), default rsd 5%
        approx_count_distinct(when(firstFragmentCond, struct(JoinKeys.map(col): _*)))
          .as("ffk"))
      .head()
    FragStats(row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2),
      row.getLong(3))
  }

  /** Percentage of fragmented packets
    * (reference src/main.rs:274: `round(100*count(frag)/count(*))`).
    */
  def fragmentedPct(pcap: DataFrame): Double = fragStats(pcap).pct

  /** One row per fragmented UDP datagram: the deterministic "first"
    * fragment's six L7 columns (reference src/main.rs:292, with a
    * deterministic lexicographic-min instead of DuckDB's scan-order
    * `first`, SURVEY §4.4).
    *
    * Round 10: a `min(struct(frame_time, patched…))` AGGREGATE, not a
    * row_number window. Identical row choice — struct ordering is
    * field-by-field with nulls first, exactly the window's
    * `frame_time.asc +: patched.asc` full sort key (the patched columns
    * still break retransmit ties at the same µs) — and the aggregate
    * gets map-side partial combining, and its output exchange is already
    * hash-partitioned by the join keys, so the shuffle branch of
    * [[defrag]] reuses it for the build side.
    *
    * Round 16 moved the argmin to MinStructAgg (ObjectHashAggregate);
    * round 17 reverted it to this declarative form on an
    * order-alternating 100M A/B (3.0–4.3 s vs 4.5–15.3 s): the per-task
    * sorts are cheaper than the typed aggregate's per-row struct
    * allocation. Same total order, same row choice either way
    * (DefragProps pins MinStructAgg ≡ min(struct)). Plans in the
    * caller's session (no conf to scope for a SortAggregate).
    *
    * The convert's fused stats pass does not run this aggregate: it
    * computes the same argmin in one map-only job ([[statsAndBuild]]).
    * This form stays as the declarative reference that pass is
    * property-checked against (DefragProps, PcapPipelineSpec), and as
    * the shuffle fallback's ff spill.
    */
  def firstFragments(pcap: DataFrame): DataFrame = {
    val ffStruct = struct((col("frame_time") +: Patched.map(col)): _*)
    pcap
      .filter(firstFragmentCond)
      .groupBy(JoinKeys.map(col): _*)
      .agg(min(ffStruct).as("__ff"))
      .select((JoinKeys.map(col) ++ Patched.map(c => col(s"__ff.$c").as(c))): _*)
  }

  /** Max first-fragment rows we force into a broadcast. Above this (a
    * heavily fragmented multi-TB capture — the reference's own Booter8 run
    * was 90% fragmented), the enrichment falls back to a shuffle join that
    * AQE plans (including skew-split on hot datagram keys).
    *
    * The `graft.defrag.maxBroadcastFF` system property overrides the
    * ceiling — benchmark instrumentation only (BenchPcap's warmup forces
    * the SHUFFLE branch on a small file so the first timed 100M arm does
    * not absorb that branch's JIT ramp; round-10 probe: 944k vs 2.29M
    * pkt/s for identical code, first arm vs warmed).
    */
  def MaxBroadcastFirstFragments: Long =
    sys.props.get("graft.defrag.maxBroadcastFF").map(_.toLong)
      .getOrElse(4000000L)

  /** The enrichment join: every packet inherits its datagram's
    * first-fragment L7 columns where its own are NULL
    * (reference src/main.rs:296: EXCLUDE + coalesce×6). Keeps the
    * reference's defragged column order — the six patched columns move to
    * the end of the schema (SURVEY §2.4).
    *
    * `ff` is one row per fragmented UDP datagram: usually tiny → force a
    * broadcast so the packet table never shuffles; at pathological
    * fragmentation the adaptive guard switches to a shuffle join instead
    * of OOMing the driver.
    */
  def defrag(pcap: DataFrame, broadcastFF: Boolean = true): DataFrame =
    defragWith(pcap, firstFragments(pcap), broadcastFF)

  /** [[defrag]] with a CALLER-SUPPLIED first-fragment frame — the same
    * enrichment join, but `ff0` may be a re-read of a spilled ff parquet
    * (the convert's shuffle fallback) instead of the lazy aggregate
    * subtree (which re-parses the whole capture). `ff0` must be shaped
    * exactly like [[firstFragments]]' output (join keys + patched
    * columns).
    */
  def defragWith(pcap: DataFrame, ff0: DataFrame,
      broadcastFF: Boolean): DataFrame = {
    val ff = Patched.foldLeft(ff0) { (d, c) =>
      d.withColumnRenamed(c, "__ff_" + c)
    }
    val keep = pcap.columns.filterNot(Patched.contains).toSeq
    def enrich(rows: DataFrame, ffSide: DataFrame): DataFrame =
      rows.join(ffSide, JoinKeys, "left")
        .select(
          keep.map(col) ++
            Patched.map(c => coalesce(col(c), col("__ff_" + c)).as(c)): _*)
    if (broadcastFF) enrich(pcap, broadcast(ff))
    else {
      // Shuffle branch (round 10, the 100M-packet sublinearity fix): at
      // pathological fragmentation the join cannot broadcast — but only
      // a SLICE of the packet table can possibly change under the
      // enrichment, so only that slice is shuffled. A row provably
      // keeps its exact bytes when any of:
      //   - a join key is NULL (an equi-join never matches NULL keys);
      //   - ip_proto != 17 (every ff row has 17 in its key);
      //   - all six patched columns are non-NULL (coalesce(col, ff) ≡
      //     col — the join result is the identity row regardless of
      //     any key match).
      // Those rows bypass as-is; the rest (continuation fragments plus
      // NULL-L7 UDP rows whose ip_id may collide — the reference's LEFT
      // JOIN patches those too, so they must flow through the join)
      // shuffle against the aggregate-partitioned ff side. Exact: the
      // bypass predicate never evaluates NULL (the null-key disjunct
      // fires first), so every row lands on exactly one side.
      val joinable = JoinKeys.map(col(_).isNotNull).reduce(_ && _) &&
        col("ip_proto") === 17 &&
        Patched.map(col(_).isNull).reduce(_ || _)
      val bypass = pcap.filter(!joinable)
        .select((keep ++ Patched).map(col): _*)
      bypass.unionByName(enrich(pcap.filter(joinable), ff))
    }
  }

  /** Which plan the adaptive pipeline chose — for any caller that
    * wants to log or assert the branch.
    */
  sealed trait Choice
  case object NoDefrag extends Choice
  case object BroadcastJoin extends Choice
  case object ShuffleBypass extends Choice

  /** Full adaptive pipeline (reference src/main.rs:274-301): one stats
    * pass decides both whether to defrag (>= 1% fragmented) and how to
    * join (broadcast vs shuffle by first-fragment count). Note the parse
    * stage is fast enough that re-parsing the capture for each pass beats
    * caching the wide packet table — callers cache only when memory is
    * ample.
    */
  def apply(pcap: DataFrame, thresholdPct: Double = 1.0): DataFrame =
    applyWithChoice(pcap, thresholdPct)._1

  /** [[apply]] plus the branch it took (see [[Choice]]).
    *
    * Broadcast decision (round 12): `ff` after the aggregate is one row
    * per DISTINCT datagram key, so that — not the first-fragment row
    * count — is what must fit the broadcast ceiling. The row count still
    * short-circuits as the exact cheap bound (rows ≤ ceiling ⇒ distinct
    * ≤ ceiling); above it, the HLL estimate decides with a 1.25× safety
    * factor on its default 5% rsd (a ~4σ margin — an undershoot past
    * that would broadcast ~25% over the ceiling, which the 8 GiB
    * broadcast limit still absorbs at the default 4M-row ceiling).
    * Key-collided captures (ip_id wraps every 64k datagrams per flow
    * pair) now take the broadcast join: measured on the 100M-packet
    * bench corpus, 10M ff rows / 1.12M distinct keys — the shuffle
    * branch moved ~30M wide rows for nothing.
    */
  def applyWithChoice(pcap: DataFrame,
      thresholdPct: Double = 1.0): (DataFrame, Choice) = {
    val st = fragStats(pcap)
    val ffFitsBroadcast =
      st.firstFragments <= MaxBroadcastFirstFragments ||
        st.distinctKeysEst * 5 / 4 <= MaxBroadcastFirstFragments
    if (st.pct < thresholdPct) (pcap, NoDefrag)
    else if (ffFitsBroadcast) (defrag(pcap, broadcastFF = true), BroadcastJoin)
    else (defrag(pcap, broadcastFF = false), ShuffleBypass)
  }

  /** The defragged OUTPUT column order (reference src/main.rs:296:
    * EXCLUDE + re-append — the six patched columns move to the end).
    */
  def defraggedOrder(columns: Seq[String]): Seq[String] =
    columns.filterNot(Patched.contains) ++ Patched

  /** Result of the FUSED stats pass: the adaptive decision inputs plus,
    * on the broadcast branch, the already-built patch map. `ffKeys` is
    * the exact distinct datagram key count whenever the map fit the
    * ceiling; on overflow (`map = None`) it is a lower bound above it.
    */
  final case class FusedStats(pct: Double, total: Long, ffKeys: Long,
      map: Option[graft.sources.DefragPatch.PatchMap])

  /** The fused stats pass: ONE map-only job over the
    * first-fragment-gated scan yields the convert's whole decision — the
    * fragmented percentage and, on the broadcast branch, the patch map:
    *
    *   - (total, fragmented) are counted IN THE READERS (`sm` must carry
    *     the `fragmented` accumulator — [[PcapSource.statsMetrics]] — and
    *     be the metrics of the scan `ffRows` reads), for every frame, so
    *     the first-fragment filter runs inside the scan: the ~90% non-ff
    *     rows are vetoed at L3 BEFORE any column vector fills;
    *   - each task reduces its first fragments to a per-key argmin under
    *     [[firstFragments]]' order, and the driver merges those
    *     fragments into the patch map as they arrive
    *     ([[graft.sources.DefragPatch.buildArgmin]]) — no exchange, no
    *     sort, no single-task final stage;
    *   - past `maxKeys` distinct keys the build gives up (None ⇒ the
    *     caller takes the shuffle branch — pathological key spaces
    *     only), with driver memory bounded by the cap plus one fragment.
    *
    * `ffRows` are the UDP first fragments only, shaped like
    * [[graft.sources.DefragPatch.ArgminSchema]]. The convert passes its
    * plan-free gated reader's rows
    * ([[graft.sources.PcapDirectScan.firstFragmentRows]]: the reader
    * applies the first-fragment predicate exactly, nothing is planned).
    *
    * Counts equal [[fragStats]] over the ungated scan, and the map equals
    * `DefragPatch.build(firstFragments(ungated))` (PcapPipelineSpec,
    * DefragProps). Accumulator caveat: re-executed tasks on a real
    * cluster could over-count; the 1% threshold is robust to that class
    * of drift and the decision is a plan choice, never a correctness
    * dependency.
    */
  def statsAndBuild(ffRows: RDD[InternalRow],
      sm: PcapSource.Metrics, maxKeys: Long): FusedStats = {
    require(sm.fragmented != null,
      "statsAndBuild needs stats metrics with the fragmented counter " +
        "armed (PcapSource.statsMetrics), registered on the scan it reads")
    val (map, keys) = graft.sources.DefragPatch.buildArgmin(ffRows, maxKeys)
    val total: Long = sm.packets.value
    val frag: Long = sm.fragmented.value
    val pct =
      if (total == 0) 0.0 else math.round(100.0 * frag / total).toDouble
    FusedStats(pct, total, keys, map)
  }

  /** [[statsAndBuild]] over a DataFrame scan: `statsPcap` is a
    * first-fragment-gated pcap scan whose `metricsKey` registers `sm`;
    * Catalyst filters it to first fragments (the filter pushes into the
    * gated reader) and projects the argmin columns. Same core, same
    * result as the convert's plan-free stats job (DefragProps).
    */
  def statsAndBuild(statsPcap: DataFrame,
      sm: PcapSource.Metrics, maxKeys: Long): FusedStats =
    statsAndBuild(graft.sources.DefragPatch.argminRows(
      statsPcap.filter(firstFragmentCond)), sm, maxKeys)
}
