package graft.dissect

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{PacketRow, StringDict}

/** Mutable per-packet dissection accumulator — the allocation-lean core
  * behind [[PacketDissector.dissect]].
  *
  * Why it exists: the immutable builder chained ~6 full PacketRow copies
  * plus ~20 Option boxes and 4 UTF8String encodes PER PACKET. Single-thread
  * dissection ran 1.5M pkt/s, but the 8-way job only reached ~610k
  * pkt/s/thread — the gap is young-gen allocation pressure (~1.3 KiB/packet
  * × 5M pkt/s ≈ 6 GiB/s), i.e. the dissector was GC-bound, not CPU-bound.
  * The accumulator holds unboxed sentinel fields, is reset per packet, and
  * emits the 31-column InternalRow directly with interned UTF8Strings for
  * every repeating value (protocol labels, tcp_flags, cached IPv4 text).
  *
  * Reader dictionaries: once [[boundDictionaries]] has run, every address
  * and every DNS/DHIP name also carries an id into this accumulator's
  * [[addrDict]] / [[nameDict]], so the pcap reader hands string columns
  * on as dictionary ids and the page encoder hashes a value once per
  * distinct id, not once per packet. Addresses get their id, looked up
  * by value, when they fill an IPv4 cache slot (a refilled slot keeps its
  * address's id) or, for IPv6, per packet. Names get theirs on first ask
  * ([[dnsQryNameId]], [[dhipDeviceId]]; a defrag-patched name once per
  * patch-map entry, [[setDnsQryName]]). Pointer-free DNS qnames are
  * also interned by their wire bytes (direct-mapped, [[QnameSlots]]
  * slots): a hit reuses the parsed String and its id, and no
  * `StringBuilder` runs.
  *
  * NOT thread-safe: one instance per partition/thread
  * (see [[PacketDissector.acc]]).
  */
final class DissectAcc {
  import DissectAcc._

  // sentinel conventions: -1 = absent for non-negative ints; null = absent
  // for strings; protoIdx/tcpFlagsBits index the static tables
  var frameTime: Long = 0L
  var frameLen: Long = 0L
  var ethType: Int = -1
  var ipSrcStr: String = null
  var ipSrcU8: UTF8String = null
  var ipDstStr: String = null
  var ipDstU8: UTF8String = null
  var ipProto: Short = 0
  var ipTtl: Int = -1
  var ipFragOffset: Int = 0
  var ipId: Int = 0
  var ipMf: Boolean = false
  var icmpType: Int = -1
  var udpLength: Int = -1
  var udpSrcport: Int = -1
  var udpDstport: Int = -1
  var tcpFlagsBits: Int = -1
  var tcpSrcport: Int = -1
  var tcpDstport: Int = -1
  var protoIdx: Int = -1
  var dnsQryName: String = null
  var dnsQryType: Int = -1
  var ntpPrivReqcode: Int = -1
  var dhipDevice: String = null
  var errors: Int = 0
  // reader-dictionary ids (-1 = none yet); see the class doc
  var ipSrcId: Int = -1
  var ipDstId: Int = -1
  private var dnsQryId = -1
  private var dhipId = -1

  // Staged-dissection resume state (round 13, [[DissectLevel]]): when
  // [[PacketDissector.dissectInto]] stops below Full, the continuation
  // point is parked here so [[PacketDissector.dissectResume]] picks up
  // exactly where the lower level left off — no re-parse, no duplicate
  // error counting. pendKind 0 = nothing pending, 1 = transport pending
  // (a = ip proto, b = payload start, c = payload end), 2 = L7 pending
  // (a = udp srcport, b = dstport, c = l7 start, d = payload end).
  // rawOrigLen keeps the pre-IP-overwrite frame length so a resume-time
  // parse exception can reset to the same base row dissectInto's own
  // catch produces.
  var pendKind: Int = 0
  var pendA: Int = 0
  var pendB: Int = 0
  var pendC: Int = 0
  var pendD: Int = 0
  var rawOrigLen: Long = 0L

  /** Direct-mapped IPv4 text cache (key = the 32-bit address): captures
    * repeat source/dest addresses heavily (flows), so the dotted string +
    * its UTF-8 encoding are built once per distinct address per partition,
    * not once per packet. Collisions simply overwrite (4096 slots).
    */
  private val ipKeys = new Array[Int](IpCacheSlots)
  private val ipStrs = new Array[String](IpCacheSlots)
  private val ipU8s = new Array[UTF8String](IpCacheSlots)
  private val ipIds = new Array[Int](IpCacheSlots)

  // the reader dictionaries (null until boundDictionaries) and their
  // by-value id lookups
  private var addrs: StringDict = null
  private var names: StringDict = null
  private val v4Ids = new IntIds
  private val v6Ids = new java.util.HashMap[String, Integer]
  private val nameIds = new java.util.HashMap[String, Integer]

  // the qname intern: wire bytes, hash, parsed name and its id per slot
  private val qWire = new Array[Array[Byte]](QnameSlots)
  private val qHash = new Array[Int](QnameSlots)
  private val qStrs = new Array[String](QnameSlots)
  private val qIds = new Array[Int](QnameSlots)
  private var qSlot = 0 // the slot the last miss maps to

  def reset(): Unit = {
    frameTime = 0L; frameLen = 0L; ethType = -1
    ipSrcStr = null; ipSrcU8 = null; ipDstStr = null; ipDstU8 = null
    ipProto = 0; ipTtl = -1; ipFragOffset = 0; ipId = 0; ipMf = false
    icmpType = -1; udpLength = -1; udpSrcport = -1; udpDstport = -1
    tcpFlagsBits = -1; tcpSrcport = -1; tcpDstport = -1
    protoIdx = -1; dnsQryName = null; dnsQryType = -1
    ntpPrivReqcode = -1; dhipDevice = null; errors = 0
    ipSrcId = -1; ipDstId = -1; dnsQryId = -1; dhipId = -1
    pendKind = 0
  }

  /** The dictionary the address ids index (null before [[boundDictionaries]]). */
  def addrDict: StringDict = addrs
  /** The dictionary the DNS qname and DHIP device ids index. */
  def nameDict: StringDict = names

  /** Install fresh reader dictionaries where none is installed yet or the
    * installed one holds more than `maxBytes` ([[StringDict.bytes]]); the
    * ids handed out before refer to the old dictionary only. Call it
    * between batches, never while a batch's ids are being read.
    */
  def boundDictionaries(maxBytes: Long): Unit = {
    if (addrs == null || addrs.bytes > maxBytes) {
      addrs = new StringDict
      v4Ids.clear(); v6Ids.clear()
      java.util.Arrays.fill(ipIds, -1)
    }
    if (names == null || names.bytes > maxBytes) {
      names = new StringDict
      nameIds.clear()
      java.util.Arrays.fill(qIds, -1)
      if (tableIds != null) java.util.Arrays.fill(tableIds, -1)
    }
  }

  private def v4Id(key: Int, u8: UTF8String): Int =
    if (addrs == null) -1
    else {
      var id = v4Ids.get(key)
      if (id < 0) { id = addrs.add(u8); v4Ids.put(key, id) }
      id
    }

  private def nameId(s: String): Int =
    if (names == null || s == null) -1
    else {
      val id = nameIds.get(s)
      if (id != null) id.intValue
      else { val n = names.add(s); nameIds.put(s, n); n }
    }

  // ids of a fixed table's strings (the defrag patch map's), by index
  private var tableStrs: Array[String] = null
  private var tableIds: Array[Int] = null

  /** Set `dnsQryName` to `strs(i)`, an entry of a table that stays the
    * same across calls (the defrag patch map's strings): its id is
    * looked up once per entry, not once per packet.
    */
  def setDnsQryName(strs: Array[String], i: Int): Unit = {
    dnsQryName = strs(i)
    if (names != null) {
      if (strs ne tableStrs) {
        tableStrs = strs
        tableIds = Array.fill(strs.length)(-1)
      }
      if (tableIds(i) < 0) tableIds(i) = nameId(strs(i))
      dnsQryId = tableIds(i)
    }
  }

  /** [[nameDict]] id of `dnsQryName` (-1 without dictionaries). */
  def dnsQryNameId: Int = {
    if (dnsQryId < 0) dnsQryId = nameId(dnsQryName)
    dnsQryId
  }

  /** [[nameDict]] id of `dhipDevice` (-1 without dictionaries). */
  def dhipDeviceId: Int = {
    if (dhipId < 0) dhipId = nameId(dhipDevice)
    dhipId
  }

  /** Look the pointer-free wire name `b[from, until)` up in the qname
    * intern: on a hit set `dnsQryName` (and its id) and return true; on
    * a miss return false, and [[qnameMiss]] stores the parsed name.
    */
  private[dissect] def qnameHit(b: Array[Byte], from: Int, until: Int): Boolean = {
    val n = until - from
    val h = Murmur3_x86_32.hashUnsafeBytes2(b, Platform.BYTE_ARRAY_OFFSET + from, n, 42)
    val slot = (h * 0x9e3779b1) >>> (32 - QnameBits)
    val w = qWire(slot)
    if (w != null && qHash(slot) == h && w.length == n &&
        java.util.Arrays.equals(w, 0, n, b, from, until)) {
      dnsQryName = qStrs(slot)
      if (names != null) {
        if (qIds(slot) < 0) qIds(slot) = nameId(dnsQryName)
        dnsQryId = qIds(slot)
      }
      true
    } else {
      qSlot = slot
      qHash(slot) = h
      false
    }
  }

  /** After a [[qnameHit]] miss on the same bytes: intern `name` as their
    * parse and set `dnsQryName`.
    */
  private[dissect] def qnameMiss(b: Array[Byte], from: Int, until: Int, name: String): Unit = {
    qWire(qSlot) = java.util.Arrays.copyOfRange(b, from, until)
    qStrs(qSlot) = name
    qIds(qSlot) = -1
    dnsQryName = name
  }

  /** Cached dotted-quad lookup; fills ipStrs/ipU8s on miss. Returns the
    * slot so src/dst writers can take both representations.
    */
  private def ipv4Slot(key: Int): Int = {
    val slot = (key * 0x9e3779b1) >>> (32 - IpCacheBits)
    if (ipStrs(slot) == null || ipKeys(slot) != key) {
      val s = new java.lang.StringBuilder(15)
      s.append((key >>> 24) & 0xff).append('.').append((key >>> 16) & 0xff)
        .append('.').append((key >>> 8) & 0xff).append('.').append(key & 0xff)
      val str = s.toString
      ipKeys(slot) = key
      ipStrs(slot) = str
      ipU8s(slot) = UTF8String.fromString(str)
      ipIds(slot) = -1
    }
    if (ipIds(slot) < 0) ipIds(slot) = v4Id(key, ipU8s(slot))
    slot
  }

  def setIpv4Src(key: Int): Unit = {
    val s = ipv4Slot(key); ipSrcStr = ipStrs(s); ipSrcU8 = ipU8s(s); ipSrcId = ipIds(s)
  }
  def setIpv4Dst(key: Int): Unit = {
    val s = ipv4Slot(key); ipDstStr = ipStrs(s); ipDstU8 = ipU8s(s); ipDstId = ipIds(s)
  }
  def setIpv6Src(text: String): Unit = {
    ipSrcStr = text; ipSrcId = v6Id(text)
    ipSrcU8 = if (ipSrcId < 0) UTF8String.fromString(text)
      else UTF8String.fromBytes(addrs.decodeToBinary(ipSrcId))
  }
  def setIpv6Dst(text: String): Unit = {
    ipDstStr = text; ipDstId = v6Id(text)
    ipDstU8 = if (ipDstId < 0) UTF8String.fromString(text)
      else UTF8String.fromBytes(addrs.decodeToBinary(ipDstId))
  }

  /** [[addrDict]] id of an IPv6 text, by value (-1 without dictionaries). */
  private def v6Id(text: String): Int =
    if (addrs == null) -1
    else {
      val id = v6Ids.get(text)
      if (id != null) id.intValue
      else { val n = addrs.add(text); v6Ids.put(text, n); n }
    }

  /** The 31-column Catalyst row ([[graft.core.PacketSchema.schema]] order).
    * A fresh GenericInternalRow per call (rows escape downstream); all
    * string columns reuse interned UTF8Strings where the value repeats.
    */
  def toInternalRow(pcapFile: UTF8String): GenericInternalRow = {
    val src = ipSrcU8
    val dst = ipDstU8
    new GenericInternalRow(Array[Any](
      frameTime,
      java.lang.Long.valueOf(frameLen),
      if (ethType < 0) null else java.lang.Integer.valueOf(ethType),
      src,
      dst,
      ipProto,
      if (ipTtl < 0) null else java.lang.Short.valueOf(ipTtl.toShort),
      ipFragOffset,
      ipId,
      ipMf,
      if (icmpType < 0) null else java.lang.Short.valueOf(icmpType.toShort),
      if (udpLength < 0) null else java.lang.Integer.valueOf(udpLength),
      if (udpSrcport < 0) null else java.lang.Integer.valueOf(udpSrcport),
      if (udpDstport < 0) null else java.lang.Integer.valueOf(udpDstport),
      if (tcpFlagsBits < 0) null else FlagU8(tcpFlagsBits),
      if (tcpSrcport < 0) null else java.lang.Integer.valueOf(tcpSrcport),
      if (tcpDstport < 0) null else java.lang.Integer.valueOf(tcpDstport),
      null, // col_info: declared, never populated
      src, // col_source (reference: src/packetstats.rs:204,248)
      dst, // col_destination
      if (protoIdx < 0) null else ProtoU8(protoIdx),
      if (dnsQryName == null) null else UTF8String.fromString(dnsQryName),
      if (dnsQryType < 0) null else java.lang.Integer.valueOf(dnsQryType),
      null, null, null, null, null, // http_*: declared, never populated
      if (ntpPrivReqcode < 0) null
      else java.lang.Short.valueOf(ntpPrivReqcode.toShort),
      if (dhipDevice == null) null else UTF8String.fromString(dhipDevice),
      pcapFile))
  }

  /** The immutable public form ([[PacketDissector.dissect]]'s return). */
  def toPacketRow: PacketRow = PacketRow(
    frameTime = frameTime,
    frameLen = Some(frameLen),
    ethType = if (ethType < 0) None else Some(ethType),
    ipSrc = Option(ipSrcStr),
    ipDst = Option(ipDstStr),
    ipProto = ipProto,
    ipTtl = if (ipTtl < 0) None else Some(ipTtl.toShort),
    ipFragOffset = ipFragOffset,
    ipId = ipId,
    ipMf = ipMf,
    icmpType = if (icmpType < 0) None else Some(icmpType.toShort),
    udpLength = if (udpLength < 0) None else Some(udpLength),
    udpSrcport = if (udpSrcport < 0) None else Some(udpSrcport),
    udpDstport = if (udpDstport < 0) None else Some(udpDstport),
    tcpFlags = if (tcpFlagsBits < 0) None else Some(FlagStr(tcpFlagsBits)),
    tcpSrcport = if (tcpSrcport < 0) None else Some(tcpSrcport),
    tcpDstport = if (tcpDstport < 0) None else Some(tcpDstport),
    colProtocol = if (protoIdx < 0) None else Some(ProtoStr(protoIdx)),
    dnsQryName = Option(dnsQryName),
    dnsQryType = if (dnsQryType < 0) None else Some(dnsQryType),
    ntpPrivReqcode =
      if (ntpPrivReqcode < 0) None else Some(ntpPrivReqcode.toShort),
    dhipDevice = Option(dhipDevice),
    errors = errors)
}

object DissectAcc {
  private val IpCacheBits = 12
  private val IpCacheSlots = 1 << IpCacheBits
  private val QnameBits = 11
  /** Slots of the direct-mapped qname intern. */
  private[graft] val QnameSlots = 1 << QnameBits

  /** Open-addressing Int → id map (ids >= 0; -1 = absent). */
  private final class IntIds {
    private var keys = new Array[Int](256)
    private var vals = new Array[Int](256) // id + 1; 0 = empty
    private var n = 0
    private def slot(k: Int): Int = { val x = k * 0x9e3779b1; x ^ (x >>> 16) }
    def get(k: Int): Int = {
      val mask = keys.length - 1
      var s = slot(k) & mask
      while (vals(s) != 0) {
        if (keys(s) == k) return vals(s) - 1
        s = (s + 1) & mask
      }
      -1
    }
    def put(k: Int, id: Int): Unit = {
      if (2 * (n + 1) > keys.length) {
        val (ok, ov) = (keys, vals)
        keys = new Array[Int](ok.length * 2); vals = new Array[Int](ok.length * 2)
        n = 0
        var i = 0
        while (i < ok.length) { if (ov(i) != 0) put(ok(i), ov(i) - 1); i += 1 }
      }
      val mask = keys.length - 1
      var s = slot(k) & mask
      while (vals(s) != 0 && keys(s) != k) s = (s + 1) & mask
      if (vals(s) == 0) n += 1
      keys(s) = k; vals(s) = id + 1
    }
    def clear(): Unit = {
      if (keys.length > 256) { keys = new Array[Int](256); vals = new Array[Int](256) }
      else java.util.Arrays.fill(vals, 0)
      n = 0
    }
  }

  /** Protocol-label table; [[PacketDissector]] writes indices into it. */
  val ProtoStr: Array[String] =
    Array("IPv4", "IPv6", "UDP", "TCP", "ICMP", "DNS", "NTP", "DHDiscover")
  val ProtoU8: Array[UTF8String] = ProtoStr.map(UTF8String.fromString)
  /** [[ProtoU8]] as a dictionary: `protoIdx` is the id. */
  val ProtoDict: StringDict = StringDict.of(ProtoU8)
  val PIpv4 = 0; val PIpv6 = 1; val PUdp = 2; val PTcp = 3
  val PIcmp = 4; val PDns = 5; val PNtp = 6; val PDhip = 7

  /** All 256 tcp_flags renderings, precomputed once
    * (`"CEUAPRSF"` mask over `"........"`, reference packetstats.rs:114-142).
    */
  val FlagStr: Array[String] = Array.tabulate(256) { f =>
    val names = "CEUAPRSF" // bit 7 (CWR) .. bit 0 (FIN)
    val cs = "........".toCharArray
    var i = 0
    while (i < 8) {
      if ((f & (1 << (7 - i))) != 0) cs(i) = names.charAt(i)
      i += 1
    }
    new String(cs)
  }
  val FlagU8: Array[UTF8String] = FlagStr.map(UTF8String.fromString)
  /** [[FlagU8]] as a dictionary: the flag bits are the id. */
  val FlagDict: StringDict = StringDict.of(FlagU8)
}
