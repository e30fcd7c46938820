package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** `min(struct(...))` as a TypedImperativeAggregate, planned into
  * ObjectHashAggregate instead of SortAggregate.
  *
  * Spark's built-in `Min` over a STRUCT keeps the running minimum in a
  * declarative agg buffer; structs are not UnsafeRow-mutable, so the
  * whole aggregate falls out of HashAggregate into SortAggregate — a
  * full sort of the input by the grouping keys on BOTH sides of the
  * exchange. The embedding argmins pay that on a wide sort row (the
  * struct carries the embedding array): the k-means assignment
  * (`KMeansIvf.assign`, once per learning round) and the PQ encoder's
  * per-subvector argmin (`PqAnn`). (The defrag first-fragment pick keeps
  * the declarative form: its narrow rows sort cheaper than this class
  * allocates — see `Defrag.firstFragments`.) This class keeps the exact
  * `min(struct(...))` semantics — the comparator IS Spark's interpreted
  * struct ordering, the same total order the declarative Min resolves
  * to — but holds the current min as
  * a single UnsafeRow per group in an ObjectHashAggregate hash map: no
  * sort on either side, map-side partial merge unchanged
  * (MinStructProps pins agg ≡ min(struct) over fuzzed groups, including
  * null fields and tie rows).
  *
  * Memory: per-group state is ONE row of the struct schema (bounded by
  * the row's own width — nothing accumulates), so the right
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` for this
  * aggregate is row-count-shaped, not the default 128 that guards
  * unbounded collect_list-style buffers; see [[MinStructAgg.FallbackThreshold]].
  * Above the threshold the framework falls back to exactly the
  * sort-based merge this class replaces, so a mis-sized threshold
  * degrades to the status quo, never past it.
  */
case class MinStructAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MinStructAgg.Buffer] {

  override def children: Seq[Expression] = Seq(child)

  // strict analysis-time check (house rule: a mistyped input must fail at
  // analysis, not per-task): exact struct type, orderable fields
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case s: StructType if org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(s) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an orderable STRUCT input, got ${other.sql}")
    }

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  override def nullable: Boolean = true
  override def dataType: DataType = child.dataType

  // the SAME total order the declarative Min resolves to for a struct
  // (field by field, ascending, nulls first) — codegen'd: the first cut
  // used TypeUtils.getInterpretedOrdering and its per-row boxing made
  // the aggregate ~8% SLOWER than the SortAggregate it replaced on
  // e06's array-bearing structs (interleaved A/B, 5/5 rounds)
  @transient private lazy val ord =
    new org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering(
      structType.zipWithIndex.map { case (f, i) =>
        org.apache.spark.sql.catalyst.expressions.SortOrder(
          org.apache.spark.sql.catalyst.expressions.BoundReference(i, f.dataType, f.nullable),
          org.apache.spark.sql.catalyst.expressions.Ascending)
      })
  // materializes the struct's strings/arrays into the UnsafeRow buffer,
  // so .copy() below detaches the kept min from reused scan memory
  @transient private lazy val toUnsafe = UnsafeProjection.create(structType)

  override def createAggregationBuffer(): MinStructAgg.Buffer =
    new MinStructAgg.Buffer(null)

  override def update(buf: MinStructAgg.Buffer, input: InternalRow): MinStructAgg.Buffer = {
    val v = child.eval(input)
    if (v != null) {
      val row = v.asInstanceOf[InternalRow]
      // compare BEFORE copying — only a new minimum pays the copy
      if (buf.row == null || ord.compare(row, buf.row) < 0)
        buf.row = toUnsafe(row).copy()
    }
    buf
  }

  override def merge(a: MinStructAgg.Buffer, b: MinStructAgg.Buffer): MinStructAgg.Buffer = {
    // b.row is kept BY REFERENCE: safe because every incoming partial
    // buffer is a fresh deserialize() — TypedImperativeAggregate hands
    // merge() a buffer built from UnsafeRow.getBinary, which copies the
    // serialized bytes out of the scan row, so nothing upstream mutates
    // or reuses the memory b.row points into (the framework never
    // aliases one deserialized buffer across two merge calls)
    if (b.row != null && (a.row == null || ord.compare(b.row, a.row) < 0))
      a.row = b.row
    a
  }

  override def eval(buf: MinStructAgg.Buffer): Any = buf.row

  override def serialize(buf: MinStructAgg.Buffer): Array[Byte] =
    if (buf.row == null) Array.emptyByteArray else buf.row.getBytes

  override def deserialize(bytes: Array[Byte]): MinStructAgg.Buffer =
    if (bytes.isEmpty) new MinStructAgg.Buffer(null)
    else {
      val r = new UnsafeRow(structType.length)
      r.pointTo(bytes, bytes.length)
      new MinStructAgg.Buffer(r)
    }

  override def withNewMutableAggBufferOffset(o: Int): MinStructAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinStructAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): MinStructAgg =
    copy(child = cs.head)
}

object MinStructAgg {
  /** Mutable holder: the current min as a defensively-copied UnsafeRow,
    * or null before the first non-null input (min of an empty/all-null
    * group is NULL, matching the built-in Min). */
  final class Buffer(var row: UnsafeRow)

  /** `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` sized
    * for row-shaped buffers, applied ONLY to argmin-bearing query trees
    * via [[scoped]] — round 17 (verdict #3): the round-16 session-wide
    * 2^22 un-guarded every OTHER object-hash aggregate in the session
    * (collect_list/collect_set, SizedBloomAgg's MB-per-group buffers),
    * which the "bounded by the row's own width" rationale never covered.
    *
    * Size derivation (target ≤ ~256 MB per task, per the r16 verdict):
    * per-group cost is one hash-map entry = grouping-key UnsafeRow +
    * the kept min UnsafeRow + object headers. KMeansIvf/PqAnn carry the
    * embedding array in the struct (~8·dim B ≈ 512 B at dim 64) ≈
    * ~700 B/group → 2^19 × 700 B ≈ 367 MB worst-case before the
    * framework's sort-based fallback takes over — the fallback is the
    * guard, the threshold just decides where it engages. */
  val FallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val FallbackThreshold: Int = 1 << 19

  /** One cached clone per parent session, carrying [[FallbackThreshold]]
    * in an otherwise-identical SQLConf. Weak keys: a stopped/collected
    * parent releases its clone. */
  private val scopedSessions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      org.apache.spark.sql.SparkSession]()

  /** Re-root `df` into a session clone whose ONLY divergence is the
    * raised ObjectHashAggregate fallback threshold. Physical plan nodes
    * capture the session active at planning, and
    * `ObjectHashAggregateExec` reads the threshold from that session's
    * conf at execute — so re-rooting the frame an ACTION runs on is
    * what scopes the conf (a subtree embedded under a parent-session
    * root plans with the parent's conf and simply degrades to the
    * framework's sort-based fallback, the pre-round-16 cost).
    *
    * Call sites place this so every production action over an argmin
    * lands on a clone-rooted tree: the KMeansIvf/PqAnn corpus frames at
    * operator entry (all downstream frames derive from them, so the
    * returned results execute scoped too). The clone shares the
    * SparkContext and CacheManager — cached frames and accumulators
    * behave identically.
    *
    * CAVEAT (listener registration is per-session): anything that must
    * observe the executed query from the ORIGINAL session — an
    * `Observation`, a QueryExecutionListener — must be attached AFTER
    * re-rooting (observe the scoped frame), or its listener never fires.
    */
  def scoped(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val parent = df.sparkSession
    val clone = scopedSessions.synchronized {
      var s = scopedSessions.get(parent)
      if (s == null && scopedSessions.containsValue(parent)) s = parent // already a clone
      if (s == null) {
        s = GraftSqlBridge.cloneSession(parent)
        s.conf.set(FallbackKey, FallbackThreshold.toString)
        scopedSessions.put(parent, s)
      }
      s
    }
    if (clone eq parent) df
    else GraftSqlBridge.ofRows(clone, df.queryExecution.analyzed)
  }

  /** Column API: exact drop-in for `min(struct(...))`. */
  def min_struct(c: Column): Column =
    GraftSqlBridge.column(
      MinStructAgg(GraftSqlBridge.expression(c)).toAggregateExpression())

  /** The production argmin at the EMBEDDING sites (KMeansIvf/PqAnn):
    * MinStructAgg, unless the `graft.agg.noMinStruct` sysprop restores
    * the declarative `min(struct)` — interleaved-A/B instrumentation
    * only (both forms in one JVM). */
  def minStructOrDeclarative(c: Column): Column =
    if (sys.props.contains("graft.agg.noMinStruct"))
      org.apache.spark.sql.functions.min(c)
    else min_struct(c)
}
