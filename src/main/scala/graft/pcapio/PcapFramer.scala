package graft.pcapio

import java.io.{EOFException, IOException, InputStream}

import graft.core.RawFrame

/** Streaming pcap / pcapng block reader: `InputStream => Iterator[RawFrame]`.
  *
  * Behavior contract follows the reference's reader loop
  * (reference: src/main.rs:148-233):
  *   - legacy pcap: `frame_time = ts_sec * 1e6 + ts_subsec` — the subsecond
  *     field is treated as microseconds even for nanosecond-magic captures,
  *     matching the reference (reference: src/main.rs:165-166);
  *   - pcapng EnhancedPacket: 64-bit timestamp scaled by `if_tsresol`
  *     (reference: src/main.rs:186-190);
  *   - pcapng SimplePacket: `frame_time = 0`, linktype of first interface
  *     (reference: src/main.rs:201-213);
  *   - SectionHeader resets the interface list (reference: src/main.rs:177-179);
  *   - unknown NG block types are skipped (reference: src/main.rs:214-215);
  *   - a truncated trailing record terminates the stream cleanly, keeping
  *     all complete frames before it (reference: src/main.rs:222-230).
  *
  * Two deliberate divergences from reference quirks, controlled by
  * [[PcapFramer.Mode]] (SURVEY §2.1 "decide fidelity vs fix"):
  *   - EPB `frame_len`: reference uses `caplen` (src/main.rs:191); sane mode
  *     uses `origlen` (the wire length, what the column means elsewhere).
  *   - EPB linktype: reference uses the stale legacy-global linktype
  *     variable (src/main.rs:197, always ETHERNET for pure pcapng files);
  *     sane mode uses the packet's interface linktype. Likewise tsresol is
  *     per-interface in sane mode vs last-IDB-wins in the reference
  *     (src/main.rs:151,182).
  */
object PcapFramer {
  sealed trait Mode
  /** Fix the reference's EPB quirks (default). */
  case object Sane extends Mode
  /** Bug-for-bug reference fidelity (caplen frame_len, stale linktype,
    * last-IDB-wins tsresol). */
  case object ReferenceCompat extends Mode

  val LinktypeEthernet = 1

  def frames(in: InputStream, mode: Mode = Sane): PcapFramer =
    new PcapFramer(in, mode)

  def frames(bytes: Array[Byte], mode: Mode): PcapFramer =
    new PcapFramer(new java.io.ByteArrayInputStream(bytes), mode)

  def frames(bytes: Array[Byte]): PcapFramer = frames(bytes, Sane)

  /** Pre-parsed legacy global header — the state a mid-file range framer
    * needs (legacy pcap is STATELESS past its 24-byte header; pcapng
    * carries SHB/IDB state, which ranges resume via [[NgState]]
    * snapshots recorded in the file's [[FrameIndex]]).
    */
  final case class LegacyPreset(bigEndian: Boolean, linktype: Int)

  /** Snapshot of the pcapng per-section state at a block boundary
    * (round 15, verdict #4): everything a mid-file range framer needs to
    * resume as if it had parsed every block before the boundary. The
    * state evolves identically in both modes (SHB/IDB parsing is
    * mode-independent; mode only changes how EPB/SPB fields map to the
    * frame), so one snapshot serves Sane and ReferenceCompat — including
    * the reference's last-IDB-wins global tsresol, carried here as
    * `lastTsresol`.
    */
  final case class NgState(bigEndian: Boolean, ifLinktypes: Array[Int],
      ifTsresols: Array[Int], lastTsresol: Int) extends Serializable

  /** Parse a legacy global header from the file's first ≥24 bytes; None
    * for pcapng or non-pcap magic.
    */
  def legacyPreset(header: Array[Byte]): Option[LegacyPreset] = {
    if (header.length < 24) return None
    def u32be(o: Int): Long =
      ((header(o) & 0xffL) << 24) | ((header(o + 1) & 0xffL) << 16) |
        ((header(o + 2) & 0xffL) << 8) | (header(o + 3) & 0xffL)
    val be = u32be(0) match {
      case 0xa1b2c3d4L | 0xa1b23c4dL => Some(true)
      case 0xd4c3b2a1L | 0x4d3cb2a1L => Some(false)
      case _ => None
    }
    be.map { bigEndian =>
      val lt =
        if (bigEndian) u32be(20).toInt
        else (((header(23) & 0xffL) << 24) | ((header(22) & 0xffL) << 16) |
          ((header(21) & 0xffL) << 8) | (header(20) & 0xffL)).toInt
      LegacyPreset(bigEndian, lt)
    }
  }

  /** The legacy global header is exactly 24 bytes — frame 0 starts there. */
  val LegacyHeaderLen = 24

  /** Frame a CONTIGUOUS BYTE RANGE of a legacy pcap: `in` must already be
    * positioned at `rangeBytes`-from-the-end-of-range (i.e. seeked to the
    * range start, which must be an exact frame boundary from a
    * [[graft.pcapio.FrameIndex]]); exactly the frames whose record starts
    * inside the range are emitted — the bound cuts the stream at the
    * range end, and frame-aligned ranges mean the final record completes
    * exactly at the cut.
    */
  def framesRange(in: InputStream, mode: Mode, preset: LegacyPreset,
      rangeBytes: Long): PcapFramer =
    new PcapFramer(new BoundedIn(in, rangeBytes), mode, preset)

  /** Frame a CONTIGUOUS BYTE RANGE of a pcapng: `in` must be seeked to a
    * BLOCK boundary recorded together with `state` by a
    * [[graft.pcapio.FrameIndex]] sidecar; the framer resumes with the
    * snapshot section state and parses any SHB/IDB inside the range
    * normally (a new section mid-range resets state exactly like a
    * whole-file parse would).
    */
  def framesRangeNg(in: InputStream, mode: Mode, state: NgState,
      rangeBytes: Long): PcapFramer =
    new PcapFramer(new BoundedIn(in, rangeBytes), mode, ngPreset = state)
}

/** InputStream view capped at `limit` bytes (range framing). */
private final class BoundedIn(in: InputStream, limit: Long)
    extends InputStream {
  private var left = limit
  override def read(): Int =
    if (left <= 0) -1
    else { val r = in.read(); if (r >= 0) left -= 1; r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (left <= 0) return -1
    val r = in.read(b, off, math.min(len.toLong, left).toInt)
    if (r > 0) left -= r
    r
  }
  override def close(): Unit = in.close()
}

final class PcapFramer private[pcapio] (in: InputStream,
    mode: PcapFramer.Mode,
    preset: PcapFramer.LegacyPreset = null,
    ngPreset: PcapFramer.NgState = null)
    extends Iterator[RawFrame] {
  import PcapFramer._

  // ---- buffered exact reads -------------------------------------------------
  private val bin = new java.io.BufferedInputStream(in, 65536)

  /** Read exactly n bytes, or null on clean EOF at a record boundary /
    * truncated tail (terminates the iterator, like the reference's
    * consecutive-Incomplete guard).
    */
  private def readN(n: Int): Array[Byte] = {
    if (n < 0) return null
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = bin.read(buf, off, n - off)
      if (r < 0) return null
      off += r
    }
    pos += n
    buf
  }

  // logical byte position (bytes DELIVERED, not buffered ahead) — for a
  // whole-file framer this is the absolute file offset, which is what
  // FrameIndex records
  private var pos: Long = 0L
  private var frameStart: Long = 0L

  /** Absolute byte offset of the most recently returned frame's record
    * header (whole-file framers only — range framers are offset-relative).
    * Valid after `next()`; [[FrameIndex]] builders read it.
    */
  def lastFrameStart: Long = frameStart

  /** Whether the stream is legacy pcap (valid once framing started). */
  def isLegacy: Boolean = legacy

  private def u16(b: Array[Byte], o: Int, be: Boolean): Int =
    if (be) ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    else ((b(o + 1) & 0xff) << 8) | (b(o) & 0xff)

  private def u32(b: Array[Byte], o: Int, be: Boolean): Long =
    if (be)
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    else
      ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)

  // ---- format state ---------------------------------------------------------
  private var initialized = false
  private var legacy = false
  private var bigEndian = false
  private var legacyLinktype = LinktypeEthernet
  // pcapng per-section state
  private var ifLinktypes = Vector.empty[Int]
  private var ifTsresols = Vector.empty[Int]
  private var lastTsresol = 6 // reference: global, last-IDB-wins (main.rs:151)

  private var nextFrame: RawFrame = _
  private var done = false

  /** Snapshot of the current pcapng section state. Valid right after
    * `next()`: the returned frame's EPB/SPB mutates nothing, so this IS
    * the state at that frame's block start (metadata blocks between the
    * previous frame and this one have already been parsed into it).
    */
  def ngState: NgState =
    NgState(bigEndian, ifLinktypes.toArray, ifTsresols.toArray, lastTsresol)

  private def init(): Unit = {
    initialized = true
    if (preset != null) {
      // range framing: the caller parsed the legacy global header and
      // seeked past it — the stream starts at a frame boundary
      legacy = true
      bigEndian = preset.bigEndian
      legacyLinktype = preset.linktype
      return
    }
    if (ngPreset != null) {
      // pcapng range framing: resume with the sidecar's section-state
      // snapshot, positioned at a block boundary
      legacy = false
      bigEndian = ngPreset.bigEndian
      ifLinktypes = ngPreset.ifLinktypes.toVector
      ifTsresols = ngPreset.ifTsresols.toVector
      lastTsresol = ngPreset.lastTsresol
      return
    }
    val magic = readN(4)
    if (magic == null) { done = true; return }
    val m = u32(magic, 0, be = true)
    m match {
      case 0xa1b2c3d4L | 0xa1b23c4dL => // written big-endian
        legacy = true; bigEndian = true; readLegacyHeader()
      case 0xd4c3b2a1L | 0x4d3cb2a1L =>
        legacy = true; bigEndian = false; readLegacyHeader()
      case 0x0a0d0d0aL => // pcapng SHB (type is endian-palindromic)
        legacy = false
        if (!readShbAfterType()) done = true
      case _ =>
        throw new IOException(f"not a pcap/pcapng file (magic 0x$m%08x)")
    }
  }

  private def readLegacyHeader(): Unit = {
    // remaining 20 bytes: ver(4) thiszone(4) sigfigs(4) snaplen(4) network(4)
    val rest = readN(20)
    if (rest == null) { done = true; return }
    legacyLinktype = u32(rest, 16, bigEndian).toInt
  }

  /** SHB body after the 4 type bytes: total_len(4) BOM(4) ... trailer(4). */
  private def readShbAfterType(): Boolean = {
    val lenBom = readN(8)
    if (lenBom == null) return false
    val bom = u32(lenBom, 4, be = true)
    bigEndian = bom == 0x1a2b3c4dL
    val totalLen = u32(lenBom, 0, bigEndian).toInt
    if (totalLen < 12 || (totalLen & 3) != 0) return false
    val rest = readN(totalLen - 12)
    if (rest == null) return false
    // new section: reset interface registry (reference: src/main.rs:177-179)
    ifLinktypes = Vector.empty
    ifTsresols = Vector.empty
    true
  }

  /** Scale a pcapng 64-bit timestamp to microseconds given if_tsresol.
    * Decimal resolutions follow the reference's `*10^(9-r)/1000` formula
    * (src/main.rs:186-190). Power-of-2 (MSB-set) resolutions diverge by
    * mode: the reference has no power-of-2 branch — `10^(9-r)` underflows
    * for r≥0x80, so it panics/mis-scales — therefore Sane scales the
    * spec-correct `ts / 2^bits`, while ReferenceCompat applies the same
    * decimal-only formula to the raw byte the reference would (which for
    * any MSB-set value collapses to 0 µs under saturating integer
    * arithmetic, the closest non-panicking equivalent). Pinned by the
    * FramerDissectorSpec power-of-2 divergence test.
    */
  private def toMicros(ts: Long, tsresol: Int): Long =
    if ((tsresol & 0x80) != 0 && mode == Sane) {
      val bits = tsresol & 0x7f
      // ts / 2^bits seconds → µs, without overflow for sane inputs
      (BigInt(ts) * 1000000 >> bits).toLong
    } else if (tsresol <= 6) {
      ts * math.pow(10, 6 - tsresol).toLong
    } else {
      // r > 6 (incl. ReferenceCompat's raw MSB-set byte): divide; the
      // divisor saturates at Long.MaxValue for huge r, giving 0 µs
      ts / math.pow(10, tsresol - 6).toLong
    }

  /** Parse one pcapng block; returns a frame or null (metadata/skipped). */
  private def readNgBlock(): Option[RawFrame] = {
    // block start of whatever this call parses — meaningful to callers
    // only when it yields a frame (metadata blocks overwrite it on the
    // next call), same contract as the legacy record path
    frameStart = pos
    val head = readN(8)
    if (head == null) { done = true; return None }
    val blockType = u32(head, 0, bigEndian)
    if (blockType == 0x0a0d0d0aL) {
      // a new SHB: its endianness may differ — re-read BOM path
      // (we already consumed type+len with the *old* endianness; re-derive)
      val bomBytes = readN(4)
      if (bomBytes == null) { done = true; return None }
      val bom = u32(bomBytes, 0, be = true)
      bigEndian = bom == 0x1a2b3c4dL
      val totalLen = u32(head, 4, bigEndian).toInt
      if (totalLen < 12 || (totalLen & 3) != 0 || readN(totalLen - 12) == null) {
        done = true; return None
      }
      ifLinktypes = Vector.empty
      ifTsresols = Vector.empty
      return None
    }
    val totalLen = u32(head, 4, bigEndian).toInt
    if (totalLen < 12 || (totalLen & 3) != 0) { done = true; return None }
    val body = readN(totalLen - 8) // includes trailing total_len copy
    if (body == null) { done = true; return None }
    val bodyLen = totalLen - 12 // without trailer

    blockType match {
      case 1L => // InterfaceDescription
        if (bodyLen < 8) return None
        val linktype = u16(body, 0, bigEndian)
        var tsresol = 6
        // options start at offset 8: code(2) len(2) value (padded to 4)
        var o = 8
        var endOpts = false
        while (!endOpts && o + 4 <= bodyLen) {
          val code = u16(body, o, bigEndian)
          val olen = u16(body, o + 2, bigEndian)
          if (code == 0) endOpts = true
          else {
            if (code == 9 && olen >= 1) tsresol = body(o + 4) & 0xff
            o += 4 + ((olen + 3) & ~3)
          }
        }
        ifLinktypes :+= linktype
        ifTsresols :+= tsresol
        lastTsresol = tsresol // reference: last IDB wins (src/main.rs:182)
        None

      case 6L => // EnhancedPacket
        if (bodyLen < 20) return None
        val ifId = u32(body, 0, bigEndian).toInt
        val ts = (u32(body, 4, bigEndian) << 32) | u32(body, 8, bigEndian)
        val caplen = u32(body, 12, bigEndian).toInt
        val origlen = u32(body, 16, bigEndian)
        // compare as `caplen > bodyLen - 20`: the `20 + caplen` spelling
        // overflows Int for a corrupt caplen near Int.MaxValue, slipping
        // past the guard into copyOfRange's IllegalArgumentException
        // instead of the skip-malformed path
        if (caplen < 0 || caplen > bodyLen - 20) return None
        val data = java.util.Arrays.copyOfRange(body, 20, 20 + caplen)
        val (lt, res) = mode match {
          case ReferenceCompat =>
            // stale legacy linktype + global tsresol (src/main.rs:197,189)
            (legacyLinktype, lastTsresol)
          case Sane =>
            val lt0 =
              if (ifId >= 0 && ifId < ifLinktypes.size) ifLinktypes(ifId)
              else LinktypeEthernet
            val r0 =
              if (ifId >= 0 && ifId < ifTsresols.size) ifTsresols(ifId) else 6
            (lt0, r0)
        }
        val frameLen = mode match {
          case ReferenceCompat => caplen.toLong // reference quirk (main.rs:191)
          case Sane            => origlen
        }
        Some(RawFrame(toMicros(ts, res), frameLen, data, lt))

      case 3L => // SimplePacket
        if (bodyLen < 4) return None
        val origlen = u32(body, 0, bigEndian)
        // reference: caplen = block_len - 16 (src/main.rs:204)
        val caplen = math.min(totalLen - 16, bodyLen - 4)
        if (caplen < 0) return None
        val data = java.util.Arrays.copyOfRange(body, 4, 4 + caplen)
        val lt = ifLinktypes.headOption.getOrElse(LinktypeEthernet)
        Some(RawFrame(0L, origlen, data, lt))

      case _ => None // skip statistics/name-resolution/custom blocks
    }
  }

  private def readLegacyRecord(): Option[RawFrame] = {
    frameStart = pos
    val head = readN(16)
    if (head == null) { done = true; return None }
    val tsSec = u32(head, 0, bigEndian)
    val tsSub = u32(head, 4, bigEndian)
    val caplen = u32(head, 8, bigEndian).toInt
    val origlen = u32(head, 12, bigEndian)
    if (caplen < 0 || caplen > 0x0fffffff) { done = true; return None }
    val data = readN(caplen)
    if (data == null) { done = true; return None } // truncated tail
    // subsecond field treated as µs regardless of ns magic (main.rs:165-166)
    Some(RawFrame(tsSec * 1000000L + tsSub, origlen, data, legacyLinktype))
  }

  private def advance(): Unit = {
    if (!initialized) init()
    while (nextFrame == null && !done) {
      val f = if (legacy) readLegacyRecord() else readNgBlock()
      f.foreach(nextFrame = _)
    }
  }

  override def hasNext: Boolean = {
    if (nextFrame == null) advance()
    nextFrame != null
  }

  override def next(): RawFrame = {
    if (!hasNext) throw new EOFException("no more frames")
    val f = nextFrame
    nextFrame = null
    f
  }
}
