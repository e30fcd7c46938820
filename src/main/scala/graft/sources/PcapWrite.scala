package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** pcap write-back sink: `df.write.format("pcap").save(dir)` emits legacy
  * pcap (µs resolution) from a packet table that carries raw frame bytes
  * (read with `option("bytes", "true")` — dissection is lossy, so the
  * original bytes are the only faithful source). Completes the reference's
  * read→transform→write surface (its write path, src/statswriter.rs:31-69,
  * is parquet-only; pcap OUT enables the tcpdump-at-scale pattern: read
  * 100 TB of captures, filter to the interesting flows, hand a small pcap
  * to any desktop tool).
  *
  * Distribution model mirrors the reader: one pcap part-file per task
  * (pcap has no sync markers, so per-file is the parallelism unit both
  * ways). Each writer streams records to a temp file and renames on task
  * commit — rename-visible-or-absent is the same atomicity contract
  * Hadoop's FileOutputCommitter v2 provides.
  *
  * Schema contract: `frame_bytes` (binary, required); `frame_time`
  * (timestamp, 0 if absent/null); `frame_len` (wire length, defaults to
  * the captured length).
  *
  * Two output formats (`option("format", ...)`):
  *   - `"pcap"` (default): legacy pcap. Option `linktype` (default 1 =
  *     Ethernet) sets the global-header linktype; per-row `linktype`
  *     values are NOT consulted — legacy pcap has ONE linktype per file.
  *   - `"pcapng"`: one SHB per part-file, one IDB per DISTINCT linktype
  *     encountered (per-row `linktype` column when present, else the
  *     option), EPBs referencing the matching interface. This lifts the
  *     legacy one-linktype limit — a mixed Ethernet/raw-IP capture
  *     round-trips through a single file set. IDBs are emitted lazily at
  *     first sight of a linktype, which pcapng permits (an IDB need only
  *     precede the first EPB that references it). µs timestamps need no
  *     if_tsresol option — 1e-6 is the pcapng default resolution.
  */
final class PcapWriteBuilder(
    path: String,
    schema: StructType,
    options: CaseInsensitiveStringMap)
    extends WriteBuilder
    with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    require(schema.fieldNames.contains("frame_bytes") &&
        schema(schema.fieldIndex("frame_bytes")).dataType == BinaryType,
      "pcap write needs a binary frame_bytes column — read the source with " +
        "spark.read.format(\"pcap\").option(\"bytes\", \"true\")")
    val fmt = Option(options.get("format")).getOrElse("pcap")
    require(fmt == "pcap" || fmt == "pcapng", s"unknown pcap output format: $fmt")
    new PcapWrite(path, schema, doTruncate, options.getInt("linktype", 1), fmt == "pcapng")
  }
}

final class PcapWrite(
    path: String, schema: StructType, truncate: Boolean, linktype: Int, ng: Boolean)
    extends Write {
  override def toBatch: BatchWrite = new PcapBatchWrite(path, schema, truncate, linktype, ng)
}

final class PcapBatchWrite(
    path: String, schema: StructType, truncate: Boolean, linktype: Int, ng: Boolean)
    extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(hconf)
    if (truncate && fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    PcapWriterFactory(new SerializableConfiguration(hconf), path, schema, linktype, ng)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    messages.collect { case PcapCommitMessage(f) =>
      val p = new Path(f)
      p.getFileSystem(hconf).delete(p, false)
    }
  }
}

final case class PcapCommitMessage(file: String) extends WriterCommitMessage

final case class PcapWriterFactory(
    conf: SerializableConfiguration,
    dir: String,
    schema: StructType,
    linktype: Int,
    ng: Boolean)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    if (ng) new PcapNgDataWriter(conf.value, dir, schema, linktype, partitionId, taskId)
    else new PcapDataWriter(conf.value, dir, schema, linktype, partitionId, taskId)
}

final class PcapDataWriter(
    conf: org.apache.hadoop.conf.Configuration,
    dir: String,
    schema: StructType,
    linktype: Int,
    partitionId: Int,
    taskId: Long)
    extends DataWriter[InternalRow] {

  private val bytesIdx = schema.fieldIndex("frame_bytes")
  private val timeIdx =
    if (schema.fieldNames.contains("frame_time") &&
        schema(schema.fieldIndex("frame_time")).dataType == TimestampType)
      schema.fieldIndex("frame_time")
    else -1
  private val lenIdx =
    // type-gated like frame_time above: these optional columns are read
    // with a fixed-width getter, so a differently-typed projection must
    // fall back (misreading an unsafe-row word writes a garbage length)
    if (schema.fieldNames.contains("frame_len") &&
        schema(schema.fieldIndex("frame_len")).dataType == LongType)
      schema.fieldIndex("frame_len")
    else -1

  private val finalPath = new Path(dir, f"part-$partitionId%05d-$taskId.pcap")
  private val tmpPath = new Path(dir, f".part-$partitionId%05d-$taskId.pcap.tmp")
  private val fs = finalPath.getFileSystem(conf)
  private val out = new java.io.BufferedOutputStream(fs.create(tmpPath, true), 1 << 16)
  private var wroteHeader = false
  // frame-index sidecar, built for free as we write (round 14): the
  // writer knows every record offset exactly, so the output is
  // range-shardable on its very first sharded read (the pcapng writer
  // emits its stateful twin since round 16 — see PcapNgDataWriter)
  private var pos = 24L // global header
  private val idx = new graft.pcapio.FrameIndex.Builder(ng = false)

  private def le32(v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  private def writeHeader(): Unit = {
    le32(0xa1b2c3d4) // µs-resolution magic, matching our µs frame_time
    out.write(Array[Byte](2, 0, 4, 0)) // version 2.4 LE
    le32(0) // thiszone
    le32(0) // sigfigs
    le32(262144) // snaplen
    le32(linktype)
    wroteHeader = true
  }

  override def write(row: InternalRow): Unit = {
    if (!wroteHeader) writeHeader()
    val bytes = row.getBinary(bytesIdx)
    val micros =
      if (timeIdx >= 0 && !row.isNullAt(timeIdx)) row.getLong(timeIdx) else 0L
    val orig =
      if (lenIdx >= 0 && !row.isNullAt(lenIdx)) row.getLong(lenIdx).toInt
      else bytes.length
    idx.record(pos, null)
    pos += 16L + bytes.length
    le32(Math.floorDiv(micros, 1000000L).toInt)
    le32(Math.floorMod(micros, 1000000L).toInt)
    le32(bytes.length)
    le32(orig)
    out.write(bytes)
  }

  override def commit(): WriterCommitMessage = {
    if (!wroteHeader) writeHeader() // an empty partition still yields a valid pcap
    out.close()
    if (!fs.rename(tmpPath, finalPath))
      throw new java.io.IOException(s"rename $tmpPath -> $finalPath failed")
    // pos is the exact file length; the mtime is the renamed file's
    graft.pcapio.FrameIndex.write(finalPath,
      idx.result(pos, fs.getFileStatus(finalPath).getModificationTime), conf)
    PcapCommitMessage(finalPath.toString)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}

/** pcapng part-file writer: SHB, then per-linktype IDBs interleaved with
  * EPBs. Consults a per-row `linktype` column when the schema has one
  * (the `bytes`-mode read emits it), so one file carries a mixed-linktype
  * capture — the thing the legacy writer structurally cannot.
  */
final class PcapNgDataWriter(
    conf: org.apache.hadoop.conf.Configuration,
    dir: String,
    schema: StructType,
    defaultLinktype: Int,
    partitionId: Int,
    taskId: Long)
    extends DataWriter[InternalRow] {

  private val bytesIdx = schema.fieldIndex("frame_bytes")
  private val timeIdx =
    if (schema.fieldNames.contains("frame_time") &&
        schema(schema.fieldIndex("frame_time")).dataType == TimestampType)
      schema.fieldIndex("frame_time")
    else -1
  private val lenIdx =
    // type-gated like frame_time above: these optional columns are read
    // with a fixed-width getter, so a differently-typed projection must
    // fall back (misreading an unsafe-row word writes a garbage length)
    if (schema.fieldNames.contains("frame_len") &&
        schema(schema.fieldIndex("frame_len")).dataType == LongType)
      schema.fieldIndex("frame_len")
    else -1
  private val ltIdx =
    if (schema.fieldNames.contains("linktype") &&
        schema(schema.fieldIndex("linktype")).dataType == IntegerType)
      schema.fieldIndex("linktype")
    else -1

  private val finalPath = new Path(dir, f"part-$partitionId%05d-$taskId.pcapng")
  private val tmpPath = new Path(dir, f".part-$partitionId%05d-$taskId.pcapng.tmp")
  private val fs = finalPath.getFileSystem(conf)
  private val out = new java.io.BufferedOutputStream(fs.create(tmpPath, true), 1 << 16)
  private var wroteShb = false
  /** linktype → interface id, in first-seen order (pcapng numbers IDBs
    * implicitly by appearance). */
  private val ifaceOf = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
  // stateful frame-index sidecar, built for free as we write (round 16,
  // closing the round-15 gap where only legacy outputs were born
  // indexed): the writer knows every EPB offset AND its own section
  // state exactly (one SHB, lazily-added IDBs, µs tsresol throughout),
  // so written pcapng is range-shardable on its very first sharded read
  // instead of paying the planner's whole-file walk to build the sidecar
  private var pos = 0L
  private val idx = new graft.pcapio.FrameIndex.Builder(ng = true)

  /** Section state a whole-file parse would hold at the CURRENT offset:
    * LE, interfaces in emission order, all at the pcapng default µs
    * tsresol (the writer never emits if_tsresol), so last-IDB-wins is 6
    * too. Evaluated only for offsets the index keeps (record is lazy in it).
    */
  private def ngState: graft.pcapio.PcapFramer.NgState =
    graft.pcapio.PcapFramer.NgState(bigEndian = false,
      ifaceOf.keysIterator.toArray, Array.fill(ifaceOf.size)(6), 6)

  private def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
  private def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }

  private def writeShb(): Unit = {
    le32(0x0a0d0d0a) // SHB block type
    le32(28)         // block total length
    le32(0x1a2b3c4d) // byte-order magic (we write LE)
    le16(1); le16(0) // version 1.0
    le32(-1); le32(-1) // section length: unspecified
    le32(28)
    pos += 28L
    wroteShb = true
  }

  private def ifaceFor(linktype: Int): Int = ifaceOf.getOrElseUpdate(linktype, {
    le32(1)  // IDB block type
    le32(20) // block total length (no options: µs is the default tsresol)
    le16(linktype); le16(0) // linktype, reserved
    le32(262144) // snaplen
    le32(20)
    pos += 20L
    ifaceOf.size
  })

  override def write(row: InternalRow): Unit = {
    if (!wroteShb) writeShb()
    val bytes = row.getBinary(bytesIdx)
    val micros =
      if (timeIdx >= 0 && !row.isNullAt(timeIdx)) row.getLong(timeIdx) else 0L
    val orig =
      if (lenIdx >= 0 && !row.isNullAt(lenIdx)) row.getLong(lenIdx).toInt
      else bytes.length
    val lt =
      if (ltIdx >= 0 && !row.isNullAt(ltIdx)) row.getInt(ltIdx) else defaultLinktype
    // interface FIRST: a lazily-emitted IDB physically precedes this EPB,
    // so the frame-start offset (and the state snapshot a range resuming
    // here needs) is the position AFTER the IDB landed
    val iface = ifaceFor(lt)
    idx.record(pos, ngState)
    val pad = (4 - (bytes.length & 3)) & 3
    val blockLen = 32 + bytes.length + pad
    pos += blockLen
    le32(6) // EPB block type
    le32(blockLen)
    le32(iface)
    le32((micros >>> 32).toInt) // timestamp high
    le32(micros.toInt)          // timestamp low
    le32(bytes.length)          // captured length
    le32(orig)                  // original length
    out.write(bytes)
    var i = 0
    while (i < pad) { out.write(0); i += 1 }
    le32(blockLen)
  }

  override def commit(): WriterCommitMessage = {
    if (!wroteShb) writeShb() // an empty partition still yields a valid pcapng
    out.close()
    if (!fs.rename(tmpPath, finalPath))
      throw new java.io.IOException(s"rename $tmpPath -> $finalPath failed")
    // pos is the exact file length (every SHB/IDB/EPB byte is accounted
    // above); the mtime is the renamed file's
    graft.pcapio.FrameIndex.write(finalPath,
      idx.result(pos, fs.getFileStatus(finalPath).getModificationTime), conf)
    PcapCommitMessage(finalPath.toString)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}
