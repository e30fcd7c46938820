package graft.sources

import java.util

import scala.annotation.switch
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.util.SerializableConfiguration

import graft.core.{DictVector, PacketSchema, StringDict}
import graft.dissect.{DissectAcc, PacketDissector}
import graft.pcapio.PcapFramer
import graft.spark.PcapSource

/** DataSource V2 pcap/pcapng reader: `spark.read.format("pcap").load(path)`.
  *
  * Design (SURVEY §7 "optional DSv2 FileFormat"):
  *   - one `InputPartition` per file by default (§4.3); a 1000-executor
  *     cluster reading a million captures gets a million independent
  *     tasks;
  *   - the reader streams blocks through [[graft.pcapio.PcapFramer]] — no
  *     whole-file buffering, unlike `binaryFiles` (2 GiB ceiling);
  *   - column pruning is honored: pruned columns are dropped at row
  *     construction (`SupportsPushDownRequiredColumns`), so narrow
  *     analytics queries don't pay for DNS-name/UTF8 materialization.
  *
  * Options: `mode=reference-compat` reproduces the reference's EPB quirks
  * (SURVEY §2.1); `decodePartitions=N` cuts each file into N contiguous
  * frame-aligned byte ranges, one partition each (the single-huge-file
  * knob — see [[PcapShardPlan]]; batch and streaming reads alike).
  */
class PcapDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pcap"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("bytes", false)) PacketSchema.bytesSchema
    else PacketSchema.schema

  /** Writes carry arbitrary projections of the packet table (the sink only
    * requires `frame_bytes`); external metadata lets Spark hand us the
    * incoming DataFrame's schema instead of arity-checking against the
    * fixed 31-column read schema.
    */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PcapTable(schema, properties.asScala.toMap)
}

final class PcapTable(tableSchema: StructType, properties: Map[String, String])
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    "pcap:" + properties.getOrElse("path", properties.getOrElse("paths", "?"))
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PcapScanBuilder(options)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new PcapWriteBuilder(
      properties.getOrElse("path",
        throw new IllegalArgumentException("pcap write needs a path")),
      info.schema(),
      info.options())
}

final class PcapScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType =
    if (options.getBoolean("bytes", false)) PacketSchema.bytesSchema
    else PacketSchema.schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the filters [[PcapFilters]] can evaluate on the dissected row,
    * but report ALL filters as residual (return value) so Spark still
    * re-evaluates them — the reader-side filter is a row-skipping
    * optimization (no InternalRow materialization for dropped packets,
    * e.g. the fragment-gate `ip_frag_offset = 0`), not a correctness
    * contract.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(PcapFilters.supported)
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = {
    // the multi-path `paths` option arrives as a JSON array (Spark
    // encodes load(paths*) that way) — parse it as one, not by string
    // surgery: a path containing a comma would otherwise shatter into
    // bogus fragments
    def jsonStringSeq(key: String): Option[Seq[String]] =
      Option(options.get(key))
        .map(js => new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(js, classOf[Array[String]]).toSeq)
    val paths = jsonStringSeq("paths")
      .getOrElse(Option(options.get("path")).toSeq)
    // retired roots (streaming only): same JSON-array encoding as paths
    val retired = jsonStringSeq("retiredRoots").getOrElse(Seq.empty)
    val decodeParts = options.getInt("decodePartitions", 1)
    require(decodeParts >= 1 && decodeParts <= 1024,
      s"pcap option decodePartitions must be in [1, 1024], got $decodeParts")
    // _internal.dissectGate=first-fragment (round 13; renamed round 14):
    // an explicit consumer contract — transport/L7 columns are dissected
    // ONLY on UDP first-fragment rows (ip_proto 17, MF, offset 0); every
    // other row keeps its L3 columns exact and NULLs the rest. Sound
    // only for consumers that read transport/L7 columns exclusively
    // under that predicate — the convert's first-fragment argmin
    // (Defrag.statsAndBuild's stats pass, Defrag.firstFragments in the
    // shuffle fallback's ff spill) is the intended (and only) user: it filters
    // exactly this condition and the reader-side counts read no
    // transport column, so the whole corpus stops paying the DNS/NTP
    // parse for the 90%+ non-ff rows. The shape cannot be verified from
    // inside the scan (the gate must be sound whether or not the ff
    // filter is pushed down), hence the `_internal.` prefix: a general caller setting it would get
    // silently-NULL transport/L7 columns on most rows. The old public
    // name refuses loudly (round-13 verdict hardening nit).
    require(!options.containsKey("dissectGate"),
      "pcap option dissectGate is an internal consumer contract of the " +
        "defrag stats pass, not a general knob: non-first-fragment rows " +
        "get NULL transport/L7 columns. If you are implementing a " +
        "stats-pass-shaped consumer (transport/L7 read only under the " +
        "UDP-first-fragment predicate), set '_internal.dissectGate'.")
    val gate = Option(options.get("_internal.dissectGate"))
    require(gate.forall(_ == "first-fragment"),
      s"pcap option _internal.dissectGate: only 'first-fragment' is supported, got ${gate.get}")
    new PcapScan(paths, required,
      options.getOrDefault("mode", "sane") == "reference-compat", pushed,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      decodeParts,
      options.getBoolean("strictLanding", false),
      Option(options.get("metricsKey")),
      retired,
      ffGate = gate.isDefined,
      patchKey = Option(options.get("defragPatchKey")))
  }
}

final class PcapScan(
    paths: Seq[String],
    required: StructType,
    refCompat: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    maxFilesPerTrigger: Option[Int] = None,
    decodePartitions: Int = 1,
    strictLanding: Boolean = false,
    metricsKey: Option[String] = None,
    retiredRoots: Seq[String] = Seq.empty,
    ffGate: Boolean = false,
    patchKey: Option[String] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Every partition reads columnar batches ([[PcapColumnarReader]]),
    * bytes mode and micro-batches included. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // decodePartitions streams too (round 12 — the rounds-9..11 refusal
    // here was wrong-footed): the unit of ADMISSION CONTROL stays the
    // FILE (offsets, watermarks, maxFilesPerTrigger all unchanged), and
    // a range shard only splits one admitted file's framing and
    // dissection within its planned batch — a replay reads the same
    // frames from the committed (start, end] file range, so exactly-once
    // is untouched. This closed the streaming-vs-batch convert gap: one
    // task per file left 24 of 32 cores idle on the 8-file bench corpus.
    // filters ride along, and the required schema carries bytes mode's
    // frame_bytes/linktype columns. Multi-root paths
    // stream natively since round 9: one watermark per root in a
    // composite offset (see PcapMicroBatchStream).
    new PcapMicroBatchStream(paths, required, refCompat, checkpointLocation,
      maxFilesPerTrigger, filters, strictLanding, retiredRoots,
      decodePartitions)
  }
  override def description(): String =
    s"PcapScan(${paths.mkString(",")}, cols=${required.fieldNames.mkString(",")}" +
      (if (filters.nonEmpty) s", pushed=${filters.mkString(";")})" else ")")

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val files = PcapFileEnum.list(paths, hconf)
    // decodePartitions > 1 = the SINGLE-HUGE-FILE parallelism knob (the
    // DSv2 twin of PcapSource's RDD-path repartition, round-7 verdict
    // #7): pcap has no sync markers, so a file is cut only where its
    // frame index ([[graft.pcapio.FrameIndex]]) says a record starts —
    // N contiguous byte ranges, each reader seeking to its range and
    // framing only its 1/N of the bytes. The cut is made HERE on the
    // driver, once per scan, so every reader of one file sees one
    // layout. For many small files leave decodePartitions at 1 —
    // per-file pipelining already saturates.
    PcapShardPlan.cut(files, decodePartitions, refCompat, hconf)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    // the metrics registry is consulted on the DRIVER (here), then the
    // accumulators themselves serialize into the task closures; same
    // for the defrag patch map (the broadcast rides the closures)
    val patch = patchKey.map(k => DefragPatch.forKey(k).getOrElse(
      throw new IllegalArgumentException(
        s"pcap option defragPatchKey: no patch registered under '$k'")))
    PcapReaderFactory(conf, required, refCompat, filters,
      metricsKey.flatMap(graft.spark.PcapSource.metricsFor), ffGate, patch)
  }
}

/** THE one path expander shared by the batch scan and the streaming
  * source (the two had drifting hand copies). Globs expand FIRST —
  * `getFileStatus` on a pattern throws before `globStatus` could run, so
  * the old order made glob loads dead code; glob-matched directories
  * expand one level like literal directories. Hidden files (`.`/`_`
  * basenames: in-flight `.tmp` staging from [[PcapWrite]], crashed-task
  * debris, marker siblings) are never data — reading a half-written tmp
  * as pcap fails the whole job (or double-reads frames once the rename
  * lands).
  */
private[graft] object PcapFileEnum {
  def isHidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  def list(paths: Seq[String], hconf: Configuration): Seq[String] = paths.flatMap { p =>
    val path = new Path(p)
    val fs = path.getFileSystem(hconf)
    val stats = fs.globStatus(path) match {
      case null => Seq(fs.getFileStatus(path)) // literal missing path → loud
      case g => g.toSeq
    }
    stats.flatMap(st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filter(st => st.isFile && !isHidden(st.getPath.getName))
      .map(_.getPath.toString)
  }.sorted
}

/** `rangeStart/rangeEnd >= 0` = a frame-aligned contiguous byte range
  * cut from the file's [[graft.pcapio.FrameIndex]] (the reader seeks to
  * it); `-1` = the whole file. For pcapng ranges, `ngState` carries the
  * index's section-state snapshot at `rangeStart`; null = legacy range
  * or whole file.
  */
final case class PcapInputPartition(
    file: String,
    rangeStart: Long = -1L, rangeEnd: Long = -1L,
    ngState: graft.pcapio.PcapFramer.NgState = null) extends InputPartition

/** THE one shard-layout decision, shared by the batch planner, the
  * streaming `planInputPartitions` and the convert's [[PcapDirectScan]]
  * (drifting hand copies here would let them disagree on a file's
  * decomposition). With `decodePartitions` n > 1 each file gets
  * min(n, frames) contiguous frame-aligned byte ranges, cut from its
  * [[graft.pcapio.FrameIndex]] sidecar or, when none is valid, from an
  * index built by framing the file once here on the driver (written
  * back as the sidecar on a best-effort basis, so a read-only directory
  * still gets ranges). A file with fewer than 2 frames is one whole-file
  * partition. Always driver-side — every reader of one file sees one
  * consistent layout.
  *
  * Streaming replay safety: the committed offset fixes the FILE set; the
  * shard decomposition is an execution detail BELOW the commit
  * granularity, and every cut reads exactly the file's full frame
  * multiset (spec-pinned), so a replay whose cut differs from its
  * original attempt's (another `decodePartitions`, a sidecar written in
  * between) changes task boundaries, never rows — the file sink commits
  * whole batches, so output stays exactly-once.
  */
private[sources] object PcapShardPlan {
  import graft.pcapio.FrameIndex

  /** Every file's partitions, in the order of `files`. Files without a
    * valid sidecar are framed concurrently, on at most one thread per
    * driver core.
    */
  def cut(files: Seq[String], decodePartitions: Int, refCompat: Boolean,
      hconf: Configuration): Array[InputPartition] = {
    val mode = if (refCompat) PcapFramer.ReferenceCompat else PcapFramer.Sane
    if (decodePartitions <= 1) files.map(PcapInputPartition(_): InputPartition).toArray
    else parmap(files)(ranges(_, decodePartitions, mode, hconf)).flatten.toArray
  }

  private def ranges(file: String, n: Int, mode: PcapFramer.Mode,
      hconf: Configuration): Seq[InputPartition] = {
    val path = new Path(file)
    val idx = FrameIndex.read(path, hconf).getOrElse {
      val built = FrameIndex.build(path, hconf, mode)
      FrameIndex.write(path, built, hconf)
      built
    }
    FrameIndex.cutIndices(idx, math.min(n, idx.offsets.length)) match {
      case None => Seq(PcapInputPartition(file))
      case Some(cuts) => cuts.indices.map { k =>
        val end = if (k == cuts.length - 1) idx.fileLen else idx.offsets(cuts(k + 1))
        val st = if (idx.isNg) idx.stateAt(cuts(k)) else null
        PcapInputPartition(file, idx.offsets(cuts(k)), end, st): InputPartition
      }
    }
  }

  /** `xs.map(f)`, concurrently past one element (as Spark's parallel
    * file listing does); the first failure is rethrown as itself.
    */
  private def parmap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.size, Runtime.getRuntime.availableProcessors))
      try {
        val futures = xs.map(x => pool.submit(() => f(x)))
        futures.map { fu =>
          try fu.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
}

/** The one pcap partition reader's factory: every batch scan, bytes-mode
  * scan, streaming micro-batch and the convert's [[PcapDirectScan]]
  * read columnar batches from [[PcapColumnarReader]]. The dissector's
  * unboxed accumulator fields go straight into `OnHeapColumnVector`s
  * (no per-packet `GenericInternalRow` or boxed numerics), downstream
  * operators consume whole batches (`ColumnarToRow` is codegen'd), and
  * pushed filters evaluate per packet on the unboxed accumulator
  * ([[PcapFilters.compileAcc]]) before the vector writes.
  *
  * `conf` is a broadcast, as in Spark's own file scans: the ~1k-entry
  * Hadoop configuration ships once per executor, not inside every task.
  */
final case class PcapReaderFactory(
    conf: Broadcast[SerializableConfiguration],
    required: StructType,
    refCompat: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    metrics: Option[graft.spark.PcapSource.Metrics] = None,
    ffGate: Boolean = false,
    patch: Option[org.apache.spark.broadcast.Broadcast[
      DefragPatch.PatchMap]] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "pcap partitions read columnar batches only (createColumnarReader)")

  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(
      p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val pp = p.asInstanceOf[PcapInputPartition]
    new PcapColumnarReader(pp.file, conf.value.value, required, refCompat,
      filters, metrics, ffGate, patch, pp.rangeStart, pp.rangeEnd, pp.ngState)
  }
}

/** The reader's staged-dissection plan (round 13):
  * derive the level the scan actually needs from the pruned schema plus
  * every pushed filter's referenced columns, split the pushed filters
  * into the L3-decidable conjuncts (evaluated BEFORE the transport/L7
  * stages run — a dropped row pays nothing past L3) and the rest
  * (evaluated after the resume). Error accounting follows the work
  * actually done: a row dropped by an L3 filter, or held at L3 by the
  * ff gate, does not surface transport/L7 parse errors it never ran.
  */
private[sources] final case class DissectPlan(
    levelRequired: Int,
    baseLevel: Int,
    l3Filters: Array[org.apache.spark.sql.sources.Filter],
    highFilters: Array[org.apache.spark.sql.sources.Filter])

private[sources] object DissectPlan {
  import graft.dissect.DissectLevel

  def of(required: StructType,
      filters: Array[org.apache.spark.sql.sources.Filter],
      ffGate: Boolean): DissectPlan = {
    val levelRequired = DissectLevel.of(
      required.fieldNames.toSeq ++ filters.toSeq.flatMap(_.references.toSeq))
    val (l3, high) = filters.partition(f =>
      DissectLevel.of(f.references.toSeq) == DissectLevel.L3)
    val staged = levelRequired > DissectLevel.L3 && (ffGate || l3.nonEmpty)
    DissectPlan(levelRequired,
      if (staged) DissectLevel.L3 else levelRequired, l3, high)
  }

  /** The gate predicate: UDP first fragments only (the rows whose
    * transport/L7 columns the defrag stats pass consumes).
    */
  @inline def gatePass(a: graft.dissect.DissectAcc): Boolean =
    a.ipProto == 17 && a.ipMf && a.ipFragOffset == 0
}

/** The pcap partition reader: frames → [[graft.dissect.DissectAcc]] →
  * column vectors, 4096 packets per batch. The required columns' source
  * ordinals ([[PacketSchema.bytesSchema]], so bytes mode's `frame_bytes`
  * and `linktype` too) are resolved ONCE per reader and [[fill]]
  * switches on them per packet. A batch that carries `frame_bytes` also
  * closes once those pass [[BatchBytes]], so jumbo or TSO-sized frames
  * cannot make one batch buffer 4096 × 64 KiB.
  *
  * Every populated string column leaves as dictionary ids
  * ([[graft.core.DictVector]]), the shape Spark's vectorized Parquet
  * reader emits, so `getUTF8String` readers see the same strings and the
  * page encoder hashes a value once per distinct id: addresses and
  * DNS/DHIP names index the accumulator's reader dictionaries,
  * `col_protocol` and `tcp_flags` the static [[DissectAcc.ProtoDict]] /
  * [[DissectAcc.FlagDict]], `pcap_file` a one-entry dictionary. A reader
  * dictionary past the writer's dictionary-page threshold (1 MiB) is
  * replaced at the next batch, so a flood of distinct names costs one
  * dictionary's worth of memory per reader. `col_info` and `http_*`,
  * declared but never populated, are nulled once per batch.
  */
final class PcapColumnarReader(
    file: String,
    conf: Configuration,
    required: StructType,
    refCompat: Boolean,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    metrics: Option[graft.spark.PcapSource.Metrics] = None,
    ffGate: Boolean = false,
    patch: Option[org.apache.spark.broadcast.Broadcast[
      DefragPatch.PatchMap]] = None,
    rangeStart: Long = -1L,
    rangeEnd: Long = -1L,
    ngState: PcapFramer.NgState = null)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private val BatchRows = 4096
  /** Frame-byte budget of one bytes-mode batch: 4096 full-MTU Ethernet
    * frames (≈ 6.2 MB) still fit, 64 KiB frames close it at 128 rows. */
  private val BatchBytes = 8L << 20
  private val mode: PcapFramer.Mode =
    if (refCompat) PcapFramer.ReferenceCompat else PcapFramer.Sane
  private val in = { val p = new Path(file); p.getFileSystem(conf).open(p) }
  /** The whole file, or the planner's frame-aligned byte range: pcapng
    * resumes there with the range's section-state snapshot, legacy pcap
    * with its parsed global header. */
  private val frames: PcapFramer =
    if (rangeStart < 0L) PcapFramer.frames(in, mode)
    else if (ngState != null) {
      in.seek(rangeStart)
      PcapFramer.framesRangeNg(in, mode, ngState, rangeEnd - rangeStart)
    } else {
      val hdr = new Array[Byte](PcapFramer.LegacyHeaderLen)
      in.readFully(0L, hdr)
      val preset = PcapFramer.legacyPreset(hdr).getOrElse {
        in.close()
        throw new IllegalStateException(
          s"pcap range read on a non-legacy file: $file " +
            "(it changed after the planner indexed it)")
      }
      in.seek(rangeStart)
      PcapFramer.framesRange(in, mode, preset, rangeEnd - rangeStart)
    }
  private val base = PcapSource.basename(file)
  // staged dissection (round 13): dissect to the level the pruned
  // schema + filters need; L3-decidable filters veto BEFORE the
  // transport/L7 stages run. The unboxed predicate forms evaluate on
  // the accumulator's fields directly — no per-packet Option-boxed
  // PacketRow just to test a predicate (value parity with
  // PcapFilters.getter over toPacketRow is property-pinned).
  private val plan = DissectPlan.of(required, filters, ffGate)
  private val predL3 = PcapFilters.compileAcc(plan.l3Filters, base)
  private val predHigh = PcapFilters.compileAcc(plan.highFilters, base)
  private val noL3 = plan.l3Filters.isEmpty
  private val noHigh = plan.highFilters.isEmpty
  private val stagedResume = plan.baseLevel < plan.levelRequired
  // defrag broadcast-patch map (null = no patching) — see DefragPatch
  private val patchMap = patch.map(_.value).orNull
  /** Source-schema ordinal of each REQUIRED column (column pruning =
    * fewer fills, not a per-row projection). */
  private val sourceOrds: Array[Int] =
    required.fieldNames.map(PacketSchema.bytesSchema.fieldIndex)
  private val vectors: Array[ColumnVector] = sourceOrds.indices.map { c =>
    val dt = required(c).dataType
    if (PcapColumnarReader.DictOrds(sourceOrds(c))) new DictVector(BatchRows, dt)
    else new OnHeapColumnVector(BatchRows, dt)
  }.toArray
  /** What [[fill]] writes per column: a dictionary column's ids, else
    * the column itself. */
  private val writables: Array[OnHeapColumnVector] = vectors.map {
    case d: DictVector => d.ids
    case v: OnHeapColumnVector => v
  }
  private val dictCols: Array[Int] = vectors.indices.filter(vectors(_).isInstanceOf[DictVector]).toArray
  /** Columns filled per packet, and the never-populated ones. */
  private val (filled, nulled) = sourceOrds.indices.toArray
    .partition(c => !PcapColumnarReader.NullOrds(sourceOrds(c)))
  private val batch = new org.apache.spark.sql.vectorized.ColumnarBatch(vectors)
  private val acc = new graft.dissect.DissectAcc
  private val fileDict = StringDict.of(
    Array(org.apache.spark.unsafe.types.UTF8String.fromString(base)))
  private var raw: graft.core.RawFrame = _
  private var nPackets = 0L
  private var nErrors = 0L
  // fused-stats counting (round 16): when the scan's metrics carry a
  // fragmented accumulator, every frame in this range is classified by
  // the reference's fragmented predicate (main.rs:274) regardless of
  // pushed-filter vetoes — evaluated on the same post-resume values the
  // old observe-barrier stats saw on emitted rows
  private val countFrag = metrics.exists(_.fragmented != null)
  private var nFrag = 0L

  private val FrameBytesOrd = PacketSchema.schema.length
  private val withBytes = sourceOrds.contains(FrameBytesOrd)

  /** Fill row `r` of `v` with source column `ord` from the accumulator;
    * a string column's `v` takes the value's dictionary id.
    * A switch, not an array of `(vector, row) => Unit` closures: Scala
    * does not specialise a Function2 whose first parameter is a
    * reference type, so every per-packet call boxed `r` and dispatched
    * megamorphically.
    */
  private def fill(v: OnHeapColumnVector, ord: Int, r: Int): Unit = {
    (ord: @switch) match {
      case 0 => v.putLong(r, acc.frameTime)
      case 1 => v.putLong(r, acc.frameLen)
      case 2 => if (acc.ethType < 0) v.putNull(r) else v.putInt(r, acc.ethType)
      case 3 | 18 => // ip_src, col_source
        if (acc.ipSrcU8 == null) v.putNull(r) else v.putInt(r, acc.ipSrcId)
      case 4 | 19 => // ip_dst, col_destination
        if (acc.ipDstU8 == null) v.putNull(r) else v.putInt(r, acc.ipDstId)
      case 5 => v.putShort(r, acc.ipProto)
      case 6 => if (acc.ipTtl < 0) v.putNull(r) else v.putShort(r, acc.ipTtl.toShort)
      case 7 => v.putInt(r, acc.ipFragOffset)
      case 8 => v.putInt(r, acc.ipId)
      case 9 => v.putBoolean(r, acc.ipMf)
      case 10 =>
        if (acc.icmpType < 0) v.putNull(r) else v.putShort(r, acc.icmpType.toShort)
      case 11 => if (acc.udpLength < 0) v.putNull(r) else v.putInt(r, acc.udpLength)
      case 12 => if (acc.udpSrcport < 0) v.putNull(r) else v.putInt(r, acc.udpSrcport)
      case 13 => if (acc.udpDstport < 0) v.putNull(r) else v.putInt(r, acc.udpDstport)
      case 14 =>
        if (acc.tcpFlagsBits < 0) v.putNull(r) else v.putInt(r, acc.tcpFlagsBits)
      case 15 => if (acc.tcpSrcport < 0) v.putNull(r) else v.putInt(r, acc.tcpSrcport)
      case 16 => if (acc.tcpDstport < 0) v.putNull(r) else v.putInt(r, acc.tcpDstport)
      case 20 => if (acc.protoIdx < 0) v.putNull(r) else v.putInt(r, acc.protoIdx)
      case 21 =>
        if (acc.dnsQryName == null) v.putNull(r) else v.putInt(r, acc.dnsQryNameId)
      case 22 => if (acc.dnsQryType < 0) v.putNull(r) else v.putInt(r, acc.dnsQryType)
      case 28 =>
        if (acc.ntpPrivReqcode < 0) v.putNull(r)
        else v.putShort(r, acc.ntpPrivReqcode.toShort)
      case 29 =>
        if (acc.dhipDevice == null) v.putNull(r) else v.putInt(r, acc.dhipDeviceId)
      case 30 => v.putInt(r, 0)
      case 31 => v.putByteArray(r, raw.data); ()
      case 32 => v.putInt(r, raw.linktype)
    }
  }

  /** The dictionary behind source column `ord`'s ids. */
  private def dictOf(ord: Int): StringDict = ord match {
    case 3 | 4 | 18 | 19 => acc.addrDict
    case 14 => DissectAcc.FlagDict
    case 20 => DissectAcc.ProtoDict
    case 21 | 29 => acc.nameDict
    case 30 => fileDict
  }

  override def next(): Boolean = {
    var i = 0
    while (i < writables.length) { writables(i).reset(); i += 1 }
    acc.boundDictionaries(PcapColumnarReader.DictBytes)
    dictCols.foreach(c => vectors(c).asInstanceOf[DictVector].dict = dictOf(sourceOrds(c)))
    var n = 0
    var bytes = 0L
    while (n < BatchRows && bytes < BatchBytes && frames.hasNext) {
      raw = frames.next()
      PacketDissector.dissectInto(acc, raw, walkV6 = !refCompat,
        level = plan.baseLevel)
      // L3-decidable pushed filters veto before transport/L7 ever
      // run; the ff gate holds non-first-fragment rows at L3 (their
      // transport columns emit NULL — the gate's documented
      // contract); unknown filter shapes default to true, Spark
      // re-applies every filter above the scan
      var emit = noL3 || predL3(acc)
      if (emit && stagedResume && (!ffGate || DissectPlan.gatePass(acc))) {
        // a resume whose never-panic catch RESET the accumulator must
        // re-make the L3 emit decision on the reset row — direct full
        // dissection resets before any filter evaluates (round-13
        // ADVICE; pinned by the l7FaultHook scan spec)
        if (PacketDissector.dissectResume(acc, raw.data, plan.levelRequired))
          emit = noL3 || predL3(acc)
      }
      // defrag broadcast-patch BEFORE any transport-level filter: a
      // filter pushed against the patched scan must see the patched
      // (defragged) values, like a filter above the join would; rows
      // already vetoed by the L3 filters never probe (they are never
      // written — round-13 ADVICE)
      if (emit && patchMap != null) DefragPatch.apply(patchMap, acc)
      if (emit && !noHigh) emit = predHigh(acc)
      nPackets += 1
      if (countFrag &&
          (acc.ipFragOffset > 0 || (acc.ipFragOffset == 0 && acc.ipMf)))
        nFrag += 1
      if (acc.errors > 0) nErrors += acc.errors.toLong
      if (emit) {
        var k = 0
        while (k < filled.length) {
          val c = filled(k)
          fill(writables(c), sourceOrds(c), n)
          k += 1
        }
        if (withBytes) bytes += raw.data.length
        n += 1
      }
    }
    nulled.foreach(c => writables(c).putNulls(0, n))
    batch.setNumRows(n)
    // flush per BATCH, not per packet: cheap, and executor heartbeats
    // still surface live progress (`-v`) from the partial sums
    if (nPackets > 0) metrics.foreach { m =>
      m.packets.add(nPackets); m.errors.add(nErrors)
      if (m.fragmented != null) { m.fragmented.add(nFrag); nFrag = 0L }
      nPackets = 0L; nErrors = 0L
    }
    n > 0
  }

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = batch
  override def close(): Unit = in.close()
}

private object PcapColumnarReader {
  /** Source ordinals of the string columns read as dictionary ids. */
  val DictOrds: Set[Int] = Set(3, 4, 14, 18, 19, 20, 21, 29, 30)
  /** `col_info` and `http_*`: declared, never populated. */
  val NullOrds: Set[Int] = Set(17, 23, 24, 25, 26, 27)
  /** A reader dictionary's bound: the writer's dictionary-page
    * threshold, past which its column chunk falls back to PLAIN anyway.
    */
  val DictBytes: Long =
    ParquetProperties.builder().build().getDictionaryPageSizeThreshold.toLong
}
