package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame

/** Columnar broadcast-patch for the defrag convert (round 13, verdict
  * #4): the measured bound showed the row-shaped broadcast join +
  * RowToColumnarExec rebatch costing ~50% of the defrag-convert write
  * (`tools.BenchRebatchBound`, interleaved: join 17.3 s vs no-join
  * 8.4–9.8 s median at 100M packets) — so on the broadcast branch the
  * enrichment moves INTO the scan: the first-fragment aggregate
  * (bounded by distinct datagram keys — the same rows a broadcast hash
  * join would ship) is collected into one compact map, broadcast once,
  * and each reader patches its dissection accumulator before the column
  * vectors are filled. The convert plan is then scan → vector write,
  * columnar end to end: no join node, no ColumnarToRow, no rebatch.
  *
  * Semantics are exactly [[graft.spark.Defrag.defragWith]]'s coalesce:
  * each of the six patched columns takes the first fragment's value
  * ONLY where the row's own value is NULL, and only for rows whose
  * (ip_src, ip_dst, ip_proto=17, ip_id) key has a first fragment
  * (reference src/main.rs:292-296). NULL-keyed rows never match (the
  * join's NULL-key semantics); col_protocol is never effectively
  * patched on IP rows (their own "IPv4"/"IPv6" is non-NULL — the same
  * outcome the reference's coalesce produces).
  *
  * Two hot-path lessons are baked into the layout (both measured by
  * `tools.BenchRebatchBound`):
  *   - LOOKUP: a concatenated string key cost ~100 ns/row in per-probe
  *     allocation + hashing (~7 s over 100M packets); the round-13
  *     two-level HashMap (ip_id array over src→dst maps) still cost two
  *     cached-hash map gets on every UDP row — at ~1M distinct keys
  *     every 16-bit id slot is occupied, and the all-columns-populated
  *     bail-out almost never fires (a DNS row's NTP column is
  *     organically NULL). Round 15: one open-addressing table at load
  *     ≤ 0.25 keyed by mixed cached string hashCodes + ip_id — the
  *     dominant MISS ends on the first, empty slot, zero allocation.
  *   - TRANSPORT: java-serializing the 64Ki-nested-map graph cost
  *     ~3 s/broadcast. The broadcast form is dictionary-encoded
  *     parallel primitive arrays; the probe index is a `@transient
  *     lazy val` rebuilt once per executor JVM from the arrays
  *     (~100 ms at 1M keys), never serialized.
  *
  * The driver-side collect mirrors what a broadcast hash join does
  * internally (Spark collects the build side to the driver before
  * broadcasting); the adaptive guard's ceiling bounds it identically.
  * The shuffle branch (wide key spaces) keeps the join path.
  */
object DefragPatch {

  /** Dictionary-encoded first-fragment patch table: entry i patches key
    * (strings(srcIdx(i)), strings(dstIdx(i)), ids(i)). Value sentinel
    * -1 = that column was NULL on the first fragment (patch leaves the
    * row's NULL in place, like coalesce(NULL, NULL)).
    */
  final class PatchMap(
      val ids: Array[Int],
      val srcIdx: Array[Int],
      val dstIdx: Array[Int],
      val strings: Array[String],
      val udpSrcport: Array[Int],
      val udpDstport: Array[Int],
      val ntpPrivReqcode: Array[Int],
      val dnsQryType: Array[Int],
      val dnsNameIdx: Array[Int],
      val protoIdx: Array[Int]) extends Serializable {

    /** Open-addressing probe table (round 15, verdict #1): slot →
      * entry index, −1 empty, keyed by a mix of the two address-string
      * hashCodes (cached — the accumulator interns per distinct
      * address) and ip_id. The previous two-level HashMap probe cost
      * two map gets per UDP row (~30 ns) and EVERY UDP row probes (a
      * DNS row's NTP column is organically NULL, so the all-populated
      * bail-out almost never fires, and at ~1M distinct keys every
      * 16-bit id slot was occupied); at 100M packets that was the
      * largest slice of the patch-vs-floor gap. Load factor ≤ 0.25 →
      * a MISS (the dominant case) usually ends on the first, empty
      * slot: one int-array read after a few ALU ops. Rebuilt lazily
      * per JVM — nothing serialized.
      */
    @transient lazy val table: Array[Int] = {
      var cap = 1024
      while (cap < ids.length * 4) cap <<= 1
      val a = new Array[Int](cap)
      java.util.Arrays.fill(a, -1)
      var i = 0
      while (i < ids.length) {
        var slot = hashOf(strings(srcIdx(i)), strings(dstIdx(i)), ids(i)) &
          (cap - 1)
        // stop on an EQUAL key too, not just an empty slot (round-16
        // ADVICE): entries are unique post-aggregate, but if that
        // invariant ever slips, overwriting preserves the last-wins
        // semantics the pre-round-15 HashMap index had — duplicate keys
        // must not shadow each other from separate slots
        var e = a(slot)
        while (e != -1 && !(ids(e) == ids(i) &&
            strings(srcIdx(e)) == strings(srcIdx(i)) &&
            strings(dstIdx(e)) == strings(dstIdx(i)))) {
          slot = (slot + 1) & (cap - 1)
          e = a(slot)
        }
        a(slot) = i
        i += 1
      }
      a
    }

    /** Probe: entry index for (src, dst, id), −1 when absent. Same
      * contract the HashMap index had; verification compares the
      * dictionary strings by value (the broadcast dictionary and the
      * reader's interned instances are distinct objects).
      */
    @inline def probe(src: String, dst: String, id: Int): Int = {
      val t = table
      val mask = t.length - 1
      var slot = hashOf(src, dst, id) & mask
      var e = t(slot)
      while (e != -1) {
        if (ids(e) == id && strings(srcIdx(e)) == src &&
            strings(dstIdx(e)) == dst) return e
        slot = (slot + 1) & mask
        e = t(slot)
      }
      -1
    }
  }

  /** Key hash shared by build and probe: String.hashCode is value-based
    * and cached after first use on interned instances, so the per-row
    * cost is two field reads plus mixing.
    */
  @inline private def hashOf(src: String, dst: String, id: Int): Int = {
    var h = src.hashCode * 0x9e3779b1 ^ dst.hashCode * 0x85ebca77 ^ id
    h ^= h >>> 15
    h * 0x27d4eb2f
  }

  /** Mutable dictionary used by both the per-partition fragment build
    * and the driver-side merge. */
  private final class Dict {
    val map = new java.util.HashMap[String, Integer]()
    val list = new scala.collection.mutable.ArrayBuffer[String]()
    def intern(s: String): Int = {
      val got = map.get(s)
      if (got != null) got.intValue()
      else {
        val idx = list.length
        map.put(s, Integer.valueOf(idx))
        list += s
        idx
      }
    }
  }

  private final class Cols(n: Int) {
    val ids = new Array[Int](n)
    val srcIdx = new Array[Int](n)
    val dstIdx = new Array[Int](n)
    val udpSrc = new Array[Int](n)
    val udpDst = new Array[Int](n)
    val ntp = new Array[Int](n)
    val dnsType = new Array[Int](n)
    val dnsName = new Array[Int](n)
    val proto = new Array[Int](n)
    def toMap(dict: Dict): PatchMap =
      new PatchMap(ids, srcIdx, dstIdx, dict.list.toArray, udpSrc, udpDst,
        ntp, dnsType, dnsName, proto)
  }

  /** Build the patch table from a frame shaped like
    * [[graft.spark.Defrag.firstFragments]]' output (join keys + the six
    * patched columns). Caller enforces the broadcast ceiling first.
    *
    * DISTRIBUTED build (round 15, verdict #1): executors turn their
    * partitions into dictionary-encoded column fragments (unsafe-row
    * field reads, no boxed external Rows), the driver merges compact
    * int arrays with one dictionary remap per fragment. The old
    * `collect()`-then-intern loop materialized ~9 boxed cells per key
    * on the driver — ~0.7 s of the ~1.4 s patch-vs-floor gap at 100M
    * packets / 1.12M keys.
    */
  def build(ff: DataFrame): PatchMap = merge(fragmentsRdd(ff).collect())

  /** [[build]] with a ROW CAP (round 16, the fused stats pass): the
    * caller cannot know the distinct-key count before the aggregate
    * runs, so the collect itself enforces the broadcast ceiling —
    * fragments are merged as they arrive and DISCARDED wholesale the moment the
    * cumulative row count exceeds `maxRows` (driver memory stays
    * bounded by the cap plus one in-flight fragment). Returns the map
    * (None = overflowed — take the shuffle branch) and the EXACT total
    * row count across all fragments, which is the distinct datagram key
    * count whether or not the map was kept.
    */
  def buildCapped(ff: DataFrame, maxRows: Long): (Option[PatchMap], Long) = {
    val frags = scala.collection.mutable.ArrayBuffer.empty[PatchMap]
    var seen = 0L
    var over = false
    // runJob's result handler runs serially (JobWaiter synchronizes), so
    // plain vars are safe; collect() would instead hold every fragment
    ff.sparkSession.sparkContext.runJob[PatchMap, Array[PatchMap]](
      fragmentsRdd(ff),
      (it: Iterator[PatchMap]) => it.toArray,
      (_: Int, fs: Array[PatchMap]) => fs.foreach { f =>
        seen += f.ids.length
        if (seen > maxRows && !over) { over = true; frags.clear() }
        if (!over) frags += f
      })
    if (over) (None, seen) else (Some(merge(frags.toArray)), seen)
  }

  /** Executor side of the distributed build: dictionary-encoded column
    * fragments from unsafe-row reads, one per non-empty partition.
    */
  private def fragmentsRdd(ff: DataFrame)
      : org.apache.spark.rdd.RDD[PatchMap] = {
    val protoIdxOf = graft.dissect.DissectAcc.ProtoStr.zipWithIndex.toMap
    val proj = ff.select("ip_src", "ip_dst", "ip_id", "udp_srcport",
      "udp_dstport", "ntp_priv_reqcode", "dns_qry_type", "dns_qry_name",
      "col_protocol")
    proj.queryExecution.toRdd.mapPartitions { it =>
      val dict = new Dict
      val buf = new scala.collection.mutable.ArrayBuffer[Array[Int]]()
      it.foreach { r =>
        // groupBy keys are non-null by construction (ip_proto=17 rows
        // always carry parsed addresses) — but a NULL key could never
        // match a row (join semantics), so drop any defensively
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          buf += Array(
            dict.intern(r.getUTF8String(0).toString),
            dict.intern(r.getUTF8String(1).toString),
            r.getInt(2) & 0xffff,
            if (r.isNullAt(3)) -1 else r.getInt(3),
            if (r.isNullAt(4)) -1 else r.getInt(4),
            if (r.isNullAt(5)) -1 else r.getShort(5).toInt,
            if (r.isNullAt(6)) -1 else r.getInt(6),
            if (r.isNullAt(7)) -1 else dict.intern(r.getUTF8String(7).toString),
            if (r.isNullAt(8)) -1
            else protoIdxOf.getOrElse(r.getUTF8String(8).toString, -1))
        }
      }
      val n = buf.length
      val c = new Cols(n)
      var i = 0
      while (i < n) {
        val e = buf(i)
        c.srcIdx(i) = e(0); c.dstIdx(i) = e(1); c.ids(i) = e(2)
        c.udpSrc(i) = e(3); c.udpDst(i) = e(4); c.ntp(i) = e(5)
        c.dnsType(i) = e(6); c.dnsName(i) = e(7); c.proto(i) = e(8)
        i += 1
      }
      if (n == 0) Iterator.empty else Iterator.single(c.toMap(dict))
    }
  }

  /** Driver merge: remap each fragment's dictionary once, then copy. */
  private def merge(fragments: Array[PatchMap]): PatchMap = {
    val total = fragments.iterator.map(_.ids.length).sum
    val dict = new Dict
    val out = new Cols(total)
    var o = 0
    fragments.foreach { f =>
      val remap = f.strings.map(dict.intern)
      val n = f.ids.length
      var i = 0
      while (i < n) {
        out.ids(o) = f.ids(i)
        out.srcIdx(o) = remap(f.srcIdx(i))
        out.dstIdx(o) = remap(f.dstIdx(i))
        out.udpSrc(o) = f.udpSrcport(i)
        out.udpDst(o) = f.udpDstport(i)
        out.ntp(o) = f.ntpPrivReqcode(i)
        out.dnsType(o) = f.dnsQryType(i)
        out.dnsName(o) = if (f.dnsNameIdx(i) < 0) -1 else remap(f.dnsNameIdx(i))
        out.proto(o) = f.protoIdx(i)
        i += 1
        o += 1
      }
    }
    out.toMap(dict)
  }

  /** Apply one row's patch to the dissection accumulator (post-dissect,
    * pre-vector-write): coalesce semantics per column. Cheap bail-outs
    * first — rows whose ip_id maps to no fragmented datagram pay one
    * array read; non-UDP rows and rows with every patched column
    * populated never probe at all.
    *
    * The round-14 per-reader probe MEMO was DELETED in round 16 (the
    * verdict's decision pair): with the round-15 open-addressing probe
    * a miss is one array read, and interleaved BenchRebatchBound read
    * memo ≡ no-memo within noise on BOTH range and stride layouts at
    * 100M (stride, where it had won 27% against the old two-level
    * HashMap probe: 9.63 vs 9.51 s median — the memo's compares now
    * cost what they save).
    */
  @inline def apply(m: PatchMap, a: graft.dissect.DissectAcc): Unit = {
    if (a.ipProto == 17 && a.ipSrcStr != null && a.ipDstStr != null &&
        (a.udpSrcport < 0 || a.udpDstport < 0 || a.ntpPrivReqcode < 0 ||
          a.dnsQryType < 0 || a.dnsQryName == null || a.protoIdx < 0)) {
      val i = m.probe(a.ipSrcStr, a.ipDstStr, a.ipId & 0xffff)
      if (i >= 0) {
        if (a.udpSrcport < 0 && m.udpSrcport(i) >= 0)
          a.udpSrcport = m.udpSrcport(i)
        if (a.udpDstport < 0 && m.udpDstport(i) >= 0)
          a.udpDstport = m.udpDstport(i)
        if (a.ntpPrivReqcode < 0 && m.ntpPrivReqcode(i) >= 0)
          a.ntpPrivReqcode = m.ntpPrivReqcode(i)
        if (a.dnsQryType < 0 && m.dnsQryType(i) >= 0)
          a.dnsQryType = m.dnsQryType(i)
        if (a.dnsQryName == null && m.dnsNameIdx(i) >= 0)
          a.dnsQryName = m.strings(m.dnsNameIdx(i))
        if (a.protoIdx < 0 && m.protoIdx(i) >= 0)
          a.protoIdx = m.protoIdx(i)
      }
    }
  }

  // DRIVER-side registry, like PcapSource's metrics registry: the scan
  // option carries only a key; createReaderFactory (driver) resolves it
  // to the broadcast, which then rides the task closures.
  private val registry = new ConcurrentHashMap[String, Broadcast[PatchMap]]()

  def register(k: String, bc: Broadcast[PatchMap]): Unit = {
    registry.put(k, bc); ()
  }
  def unregister(k: String): Unit = { registry.remove(k); () }
  def forKey(k: String): Option[Broadcast[PatchMap]] =
    Option(registry.get(k))
}
