package graft.pcapio

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream, InputStream, SequenceInputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.core.OutputFiles

/** Frame-index SIDECAR for pcap files (legacy pcap and pcapng).
  *
  * pcap has no sync markers, so a file can only be cut at byte offsets
  * where a record is known to start. The index records the byte offset
  * of every `stride`-th frame, so a sharded read is planned as N
  * CONTIGUOUS byte ranges: each shard seeks to its range and frames
  * only its 1/N of the bytes.
  *
  * Containers: legacy pcap is stateless past its 24-byte header, so an
  * offset alone is resumable. pcapng is STATEFUL (SHB resets,
  * per-interface IDBs, last-IDB-wins tsresol in ReferenceCompat —
  * reference src/main.rs:177-213), so each recorded offset additionally
  * carries a [[PcapFramer.NgState]] snapshot of the section state at
  * that block boundary; a range resumes with the snapshot and parses
  * any SHB/IDB inside the range normally. Snapshots are deduplicated
  * (interface state rarely changes), so the ng sidecar stays ~20 B per
  * recorded offset.
  *
  * Lifecycle: the sharded-read planner ([[graft.sources.PcapShardPlan]])
  * reads the sidecar, or, when none is valid, walks the file once on
  * the driver ([[build]]: record headers only for legacy pcap, the
  * framer for pcapng) and cuts its ranges from that in-memory index.
  * The index is then written atomically (temp + rename) next to the file
  * under a hidden `.fidx/` dir ([[graft.sources.PcapFileEnum]] never
  * reads hidden paths as data); a read-only source dir just skips the
  * write and the next sharded read frames the file again. Both pcap
  * writers also emit an exact sidecar at commit
  * ([[graft.sources.PcapWrite]]), so written output is range-shardable
  * without that walk.
  *
  * Granularity: [[Builder]] records every frame's offset until it holds
  * [[MaxOffsets]], then drops every other offset and doubles its
  * stride. So any file with at least n frames cuts n ranges for every
  * legal `decodePartitions` (≤ 1024), and the sidecar never exceeds
  * 8192 offsets (~64 KiB).
  *
  * Validity: the sidecar stores the file's length and modification
  * time; a mismatch on either (an appended, truncated or rewritten file,
  * including a same-length rewrite) invalidates it and the planner
  * builds it again. A rewrite that keeps both the length and the
  * filesystem's mtime (within its granularity) is not detected. v2+
  * appends a CRC32 over the whole payload — a corrupted offset that
  * stays monotone and in-range would otherwise pass the structural
  * checks and seek a range to a non-block boundary, where the Sane
  * framer stops quietly (silent frame loss). Older versions fail the
  * version check → None → rebuilt by the next sharded read.
  */
object FrameIndex {
  private val Magic = 0x46494458 // "FIDX"
  private val Version = 4
  private val ContainerLegacy = 0
  private val ContainerNg = 1

  /** Offsets a [[Builder]] holds at most: at least 4096 after a halving,
    * so four times the 1024 ranges a read may ask for.
    */
  private val MaxOffsets = 8192

  /** `states`/`stateIdx` are null for legacy; for pcapng,
    * `states(stateIdx(i))` is the section state at `offsets(i)`.
    */
  final case class Index(
      fileLen: Long, mtime: Long, frameCount: Long, stride: Int,
      offsets: Array[Long],
      container: Int = ContainerLegacy,
      states: Array[PcapFramer.NgState] = null,
      stateIdx: Array[Int] = null) {
    def isNg: Boolean = container == ContainerNg
    /** Section state at offsets(i) (ng only). */
    def stateAt(i: Int): PcapFramer.NgState = states(stateIdx(i))
  }

  def sidecarPath(file: Path): Path =
    new Path(file.getParent, ".fidx/" + file.getName + ".fidx")

  private def encodePayload(idx: Index): Array[Byte] = {
    val bos = new ByteArrayOutputStream(16 + 8 * idx.offsets.length)
    val out = new DataOutputStream(bos)
    out.writeByte(idx.container)
    out.writeLong(idx.fileLen); out.writeLong(idx.mtime)
    out.writeLong(idx.frameCount)
    out.writeInt(idx.stride); out.writeInt(idx.offsets.length)
    idx.offsets.foreach(out.writeLong)
    if (idx.isNg) {
      out.writeInt(idx.states.length)
      idx.states.foreach { s =>
        out.writeBoolean(s.bigEndian)
        out.writeByte(s.lastTsresol)
        out.writeInt(s.ifLinktypes.length)
        var i = 0
        while (i < s.ifLinktypes.length) {
          out.writeInt(s.ifLinktypes(i))
          out.writeByte(s.ifTsresols(i))
          i += 1
        }
      }
      idx.stateIdx.foreach(out.writeInt)
    }
    out.flush()
    bos.toByteArray
  }

  private def crc32(payload: Array[Byte]): Long = {
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    crc.getValue
  }

  /** Read + validate the sidecar; None when absent, stale (length or
    * mtime mismatch), corrupted (CRC), or malformed.
    */
  def read(file: Path, conf: Configuration): Option[Index] = try {
    val fs = file.getFileSystem(conf)
    val sp = sidecarPath(file)
    if (!fs.exists(sp)) return None
    val raw = {
      val st = fs.getFileStatus(sp)
      val buf = new Array[Byte](st.getLen.toInt)
      val s = fs.open(sp)
      try s.readFully(0L, buf) finally s.close()
      buf
    }
    if (raw.length < 8 + 8) return None
    val in = new DataInputStream(new java.io.ByteArrayInputStream(raw))
    if (in.readInt() != Magic || in.readInt() != Version) return None
    val payload = java.util.Arrays.copyOfRange(raw, 8, raw.length - 8)
    val crcIn = java.nio.ByteBuffer.wrap(raw, raw.length - 8, 8).getLong
    if (crc32(payload) != crcIn) return None // corrupted content
    val container = in.readByte().toInt
    if (container != ContainerLegacy && container != ContainerNg) return None
    val fileLen = in.readLong()
    val mtime = in.readLong()
    val frameCount = in.readLong()
    val stride = in.readInt()
    val n = in.readInt()
    if (stride <= 0 || n <= 0 || n > frameCount / stride + 1) return None
    val st = fs.getFileStatus(file)
    if (st.getLen != fileLen || st.getModificationTime != mtime) return None // stale
    val offsets = new Array[Long](n)
    var i = 0
    var mono =
      if (container == ContainerLegacy) PcapFramer.LegacyHeaderLen - 1L
      else 0L // first EPB sits after the SHB (>0); exact floor unknown
    while (i < n) {
      offsets(i) = in.readLong()
      if (offsets(i) <= mono || offsets(i) > fileLen) return None
      mono = offsets(i)
      i += 1
    }
    if (container == ContainerLegacy)
      return Some(Index(fileLen, mtime, frameCount, stride, offsets))
    val k = in.readInt()
    if (k <= 0 || k > n) return None
    val states = new Array[PcapFramer.NgState](k)
    i = 0
    while (i < k) {
      val be = in.readBoolean()
      val lastRes = in.readByte() & 0xff
      val nIf = in.readInt()
      if (nIf < 0 || nIf > (1 << 20)) return None
      val lts = new Array[Int](nIf)
      val ress = new Array[Int](nIf)
      var j = 0
      while (j < nIf) {
        lts(j) = in.readInt()
        ress(j) = in.readByte() & 0xff
        j += 1
      }
      states(i) = PcapFramer.NgState(be, lts, ress, lastRes)
      i += 1
    }
    val stateIdx = new Array[Int](n)
    i = 0
    while (i < n) {
      stateIdx(i) = in.readInt()
      if (stateIdx(i) < 0 || stateIdx(i) >= k) return None
      i += 1
    }
    Some(Index(fileLen, mtime, frameCount, stride, offsets, ContainerNg,
      states, stateIdx))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Atomic best-effort write (temp + rename, through
    * [[graft.core.OutputFiles]]); failures — read-only dir, concurrent
    * writer won the rename — are silently dropped, the sidecar is never
    * required for correctness. A stale sidecar is replaced. An index
    * that cannot cut two ranges (fewer than 2 frames) is not written.
    */
  def write(file: Path, idx: Index, conf: Configuration): Unit = try {
    if (idx.offsets.length < 2) return
    val sp = sidecarPath(file)
    val files = OutputFiles(sp, conf)
    val tmp = new Path(sp.getParent,
      s".${sp.getName}.tmp.${java.util.UUID.randomUUID}")
    val out = new DataOutputStream(files.create(tmp))
    try {
      val payload = encodePayload(idx)
      out.writeInt(Magic); out.writeInt(Version)
      out.write(payload)
      out.writeLong(crc32(payload))
    } finally out.close()
    files.replace(tmp, sp)
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Index `file` once, start to end ([[walk]]), stamped with the length
    * and mtime it had before the walk (a file rewritten during the walk
    * then fails the next [[read]]).
    */
  def build(file: Path, conf: Configuration, mode: PcapFramer.Mode): Index = {
    val fs = file.getFileSystem(conf)
    val st = fs.getFileStatus(file)
    val in = fs.open(file)
    try walk(in, mode).result(st.getLen, st.getModificationTime)
    finally in.close()
  }

  /** Feed every frame of the whole-file stream `in` to a [[Builder]].
    * Legacy pcap reads only the 16-byte record headers and skips the
    * payloads ([[legacyWalk]]); pcapng, and anything without a full
    * legacy header, is framed by [[PcapFramer]].
    */
  private[graft] def walk(in: InputStream, mode: PcapFramer.Mode): Builder = {
    val head = new Array[Byte](PcapFramer.LegacyHeaderLen)
    val got = in.readNBytes(head, 0, head.length)
    (if (got == head.length) PcapFramer.legacyPreset(head) else None) match {
      case Some(preset) =>
        val b = new Builder(ng = false)
        legacyWalk(in, preset.bigEndian, b)
        b
      case None =>
        val frames = PcapFramer.frames(new SequenceInputStream(
          new ByteArrayInputStream(head, 0, got), in), mode)
        val b = new Builder(ng = frames.hasNext && !frames.isLegacy)
        while (frames.hasNext) {
          frames.next()
          b.record(frames.lastFrameStart, frames.ngState)
        }
        b
    }
  }

  /** The legacy records after the global header `in` has consumed. It
    * ends exactly where [[PcapFramer]] does: at EOF, at a caplen the
    * framer refuses (above 0x0fffffff) and before a truncated tail
    * record, which is not recorded.
    */
  private def legacyWalk(in: InputStream, bigEndian: Boolean, b: Builder): Unit = {
    val buf = new Array[Byte](1 << 16)
    var p = 0 // next unread byte of buf
    var lim = 0 // end of buf's valid bytes
    // at least n unread bytes in buf; false at EOF before that
    def fill(n: Int): Boolean = {
      if (lim - p < n) {
        System.arraycopy(buf, p, buf, 0, lim - p)
        lim -= p
        p = 0
        while (lim < n) {
          val r = in.read(buf, lim, buf.length - lim)
          if (r < 0) return false
          lim += r
        }
      }
      true
    }
    // consume n bytes; false at EOF before that
    def skip(n: Int): Boolean = {
      var left = n
      while (left > 0) {
        if (p == lim && !fill(1)) return false
        val k = math.min(left, lim - p)
        p += k
        left -= k
      }
      true
    }
    def u32(o: Int): Long =
      if (bigEndian)
        ((buf(o) & 0xffL) << 24) | ((buf(o + 1) & 0xffL) << 16) |
          ((buf(o + 2) & 0xffL) << 8) | (buf(o + 3) & 0xffL)
      else
        ((buf(o + 3) & 0xffL) << 24) | ((buf(o + 2) & 0xffL) << 16) |
          ((buf(o + 1) & 0xffL) << 8) | (buf(o) & 0xffL)
    var off = PcapFramer.LegacyHeaderLen.toLong
    var more = true
    while (more && fill(16)) {
      val caplen = u32(p + 8).toInt
      p += 16
      more = caplen >= 0 && caplen <= 0x0fffffff && skip(caplen)
      if (more) {
        b.record(off, null)
        off += 16L + caplen
      }
    }
  }

  /** Split the file into `n` contiguous frame-aligned byte ranges of
    * ~equal frame counts. None when n < 2 or the index holds fewer than
    * n offsets.
    * Range k starts at `offsets(cuts(k))`; for pcapng the matching
    * section state is `stateAt(cuts(k))`.
    */
  def cutIndices(idx: Index, n: Int): Option[Array[Int]] = {
    if (n <= 1 || idx.offsets.length < n) return None
    val cuts = new Array[Int](n)
    cuts(0) = 0
    // cut indices are STRICTLY increasing (round 15, ADVICE): a rounded
    // cut landing on its predecessor's offset would yield a zero-byte
    // range — correct but an idle shard. offsets.length >= n guarantees
    // room: clamp up to prevJ+1 and down so the remaining cuts still fit.
    var i = 1
    while (i < n) {
      val targetFrame = i.toDouble * idx.frameCount / n
      cuts(i) = math.min(idx.offsets.length - (n - i),
        math.max(cuts(i - 1) + 1,
          math.round(targetFrame / idx.stride).toInt))
      i += 1
    }
    Some(cuts)
  }

  /** [[cutIndices]] materialized as byte ranges (start, end). */
  def ranges(idx: Index, n: Int): Option[Array[(Long, Long)]] =
    cutIndices(idx, n).map { cuts =>
      Array.tabulate(n) { k =>
        val end = if (k == n - 1) idx.fileLen else idx.offsets(cuts(k + 1))
        (idx.offsets(cuts(k)), end)
      }
    }

  /** Incremental builder a whole-file framing loop (or a writer) feeds:
    * [[record]] per frame, then [[result]] once EOF was reached. It
    * keeps every `stride`-th offset, stride 1 until [[MaxOffsets]] are
    * held; then every other offset is dropped and the stride doubles.
    * Consecutive identical ng states dedupe to one stored snapshot.
    */
  final class Builder(ng: Boolean) {
    private val offs = new Array[Long](MaxOffsets)
    private val stateIdx = if (ng) new Array[Int](MaxOffsets) else null
    private val states =
      new scala.collection.mutable.ArrayBuffer[PcapFramer.NgState](4)
    private var n = 0
    private var stride = 1
    private var count = 0L

    private def sameState(a: PcapFramer.NgState, b: PcapFramer.NgState): Boolean =
      a.bigEndian == b.bigEndian && a.lastTsresol == b.lastTsresol &&
        java.util.Arrays.equals(a.ifLinktypes, b.ifLinktypes) &&
        java.util.Arrays.equals(a.ifTsresols, b.ifTsresols)

    /** One frame whose record starts at `frameStart`; `state` (pcapng
      * only, the section state there) is evaluated only when the offset
      * is kept.
      */
    @inline def record(frameStart: Long, state: => PcapFramer.NgState): Unit = {
      if (count % stride == 0) {
        if (n == MaxOffsets) halve()
        offs(n) = frameStart
        if (ng) {
          val s = state
          if (states.isEmpty || !sameState(states.last, s)) states += s
          stateIdx(n) = states.length - 1
        }
        n += 1
      }
      count += 1
    }

    /** Keep offsets 0, 2, 4, …; a full builder holds frames 0, s, …,
      * (MaxOffsets - 1)·s, so the next due frame, MaxOffsets·s, is a
      * multiple of the doubled stride too.
      */
    private def halve(): Unit = {
      var i = 0
      while (2 * i < n) {
        offs(i) = offs(2 * i)
        if (ng) stateIdx(i) = stateIdx(2 * i)
        i += 1
      }
      n = i
      stride *= 2
      if (ng) { // drop the snapshots no kept offset refers to
        val kept = new scala.collection.mutable.ArrayBuffer[PcapFramer.NgState](4)
        var last = -1
        i = 0
        while (i < n) {
          if (stateIdx(i) != last) { last = stateIdx(i); kept += states(last) }
          stateIdx(i) = kept.length - 1
          i += 1
        }
        states.clear(); states ++= kept
      }
    }

    /** `fileLen`/`mtime`: the indexed file's, as [[read]] validates them
      * (writers know them only after their commit rename).
      */
    def result(fileLen: Long, mtime: Long): Index =
      if (ng)
        Index(fileLen, mtime, count, stride, offs.take(n), ContainerNg,
          states.toArray, stateIdx.take(n))
      else Index(fileLen, mtime, count, stride, offs.take(n))
  }
}
