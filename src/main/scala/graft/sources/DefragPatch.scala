package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.dissect.DissectAcc

/** Columnar broadcast-patch for the defrag convert (round 13, verdict
  * #4): the measured bound showed the row-shaped broadcast join +
  * RowToColumnarExec rebatch costing ~50% of the defrag-convert write
  * (`tools.BenchRebatchBound`, interleaved: join 17.3 s vs no-join
  * 8.4–9.8 s median at 100M packets) — so on the broadcast branch the
  * enrichment moves INTO the scan: the per-key first-fragment argmin
  * (bounded by distinct datagram keys — the same rows a broadcast hash
  * join would ship) is built map-side into dictionary-encoded fragments,
  * merged on the driver into one compact map ([[buildArgmin]]),
  * broadcast once, and each reader patches its dissection accumulator
  * before the column vectors are filled. The convert plan is then scan → vector write,
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
  * The driver-side merge mirrors what a broadcast hash join does
  * internally (Spark collects the build side to the driver before
  * broadcasting); the key cap bounds it the same way. The shuffle
  * branch (wide key spaces) keeps the join path.
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
        // ADVICE): the argmin build keeps one entry per key, but if that
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
  @inline private def hashOf(src: String, dst: String, id: Int): Int =
    mix(src.hashCode, dst.hashCode, id)

  @inline private def mix(src: Int, dst: Int, id: Int): Int = {
    var h = src * 0x9e3779b1 ^ dst * 0x85ebca77 ^ id
    h ^= h >>> 15
    h * 0x27d4eb2f
  }

  /** Columns [[buildArgmin]] reads, in this ordinal order. */
  private val ArgminCols = Seq("ip_src", "ip_dst", "ip_id", "frame_time",
    "udp_srcport", "udp_dstport", "ntp_priv_reqcode", "dns_qry_type",
    "dns_qry_name", "col_protocol")

  /** The packet-schema fields of [[ArgminCols]], in that order: the row
    * shape [[buildArgmin]] takes. */
  val ArgminSchema: StructType =
    StructType(ArgminCols.map(graft.core.PacketSchema.schema(_)))

  /** `ffRows` projected to [[ArgminSchema]] through Catalyst. */
  def argminRows(ffRows: DataFrame): RDD[InternalRow] =
    ffRows.select(ArgminCols.map(col): _*).queryExecution.toRdd

  /** Build the patch table from a frame shaped like
    * [[graft.spark.Defrag.firstFragments]]' output (join keys + the six
    * patched columns, one row per key). Caller enforces the broadcast
    * ceiling first. Same fragment build and merge as [[buildArgmin]],
    * with no frame_time to order by.
    */
  def build(ff: DataFrame): PatchMap =
    buildArgmin(argminRows(ff.withColumn("frame_time", lit(null).cast(TimestampType))),
      Long.MaxValue)._1.get

  /** The fused stats pass's patch-map build: the per-key argmin of
    * [[graft.spark.Defrag.firstFragments]] as ONE map-only job over
    * `rows` — first-fragment rows shaped like [[ArgminSchema]], from the
    * convert's gated reader ([[PcapDirectScan.firstFragmentRows]]) or a
    * DataFrame ([[argminRows]]). Each task reduces its rows to one
    * dictionary-encoded [[Fragment]] holding its per-key argmin; the
    * driver merges fragments as they arrive under the same order. No
    * exchange, no sort: duplicate keys scattered across files meet in the
    * driver merge instead of a shuffle.
    *
    * The order is `min(struct(frame_time, udp_srcport, udp_dstport,
    * ntp_priv_reqcode, dns_qry_type, dns_qry_name, col_protocol))`'s:
    * field by field, NULLs first, strings (col_protocol included) in
    * UTF-8 byte order.
    *
    * Memory guard: a task whose local map passes `maxKeys` ships an
    * overflow marker (its local count lower-bounds the global one), and
    * the driver drops its merge once the merged keys pass `maxKeys`, so
    * driver memory stays bounded by the cap plus one in-flight fragment.
    * Returns the map and the exact distinct key count, or `None` and a
    * lower bound above `maxKeys`. Every task drains its rows either way
    * and the job is never cancelled: callers count (total, fragmented)
    * in the readers of this same scan and need the counts whole.
    */
  def buildArgmin(rows: RDD[InternalRow], maxKeys: Long): (Option[PatchMap], Long) = {
    var merged = new Fragment
    var keys = 0L
    // runJob's result handler runs serially (JobWaiter synchronizes), so
    // plain vars are safe
    rows.sparkContext.runJob(rows,
      (it: Iterator[InternalRow]) => Fragment.of(it, maxKeys),
      (_: Int, f: Fragment) => {
        val fits = merged != null && !f.overflow
        if (fits) merged.mergeFrom(f)
        keys = math.max(keys, if (fits) merged.size.toLong else f.size.toLong)
        if (!fits || keys > maxKeys) merged = null
      })
    if (merged == null) (None, keys) else (Some(merged.toPatchMap), keys)
  }

  /** One task's (or the driver's merged) per-key argmin, dictionary-
    * encoded. Entry e occupies `cols(e * W until (e + 1) * W)`: source,
    * destination, ip_id, then the order columns udp_srcport,
    * udp_dstport, ntp_priv_reqcode, dns_qry_type, dns_qry_name,
    * col_protocol, with `time(e)` its frame_time. Strings are dictionary
    * indices. NULL is −1 in `cols` (every value is non-negative, so int
    * order IS nulls-first) and Long.MinValue in `time`.
    *
    * `overflow` = the task passed its key cap: no entries ride along and
    * `size` is a lower bound on the global distinct-key count. The
    * lookup state is transient — a shipped fragment is only read.
    */
  private final class Fragment extends Serializable {
    import Fragment.W
    var size = 0
    var overflow = false
    var cols = new Array[Int](64 * W)
    var time = new Array[Long](64)
    var strings = new Array[UTF8String](64)
    var nStrings = 0
    @transient private var dict = new java.util.HashMap[UTF8String, Integer]()
    /** Open-addressing slot → entry index, −1 empty, load ≤ 0.5. */
    @transient private var table = Array.fill(256)(-1)

    private def intern(s: UTF8String): Int = {
      val got = dict.get(s)
      if (got != null) got.intValue()
      else {
        if (nStrings == strings.length)
          strings = java.util.Arrays.copyOf(strings, nStrings * 2)
        val c = s.clone() // reader rows reuse their buffers
        strings(nStrings) = c
        dict.put(c, Integer.valueOf(nStrings))
        nStrings += 1
        nStrings - 1
      }
    }

    private def slotOf(t: Array[Int], src: Int, dst: Int, id: Int): Int = {
      val mask = t.length - 1
      var slot = mix(src, dst, id) & mask
      var e = t(slot)
      while (e >= 0 && !(cols(e * W) == src && cols(e * W + 1) == dst &&
          cols(e * W + 2) == id)) {
        slot = (slot + 1) & mask
        e = t(slot)
      }
      slot
    }

    /** Candidate `c` (W ints, this fragment's dictionary) with frame
      * time `t` before entry `e` in the argmin order? */
    private def before(c: Array[Int], t: Long, e: Int): Boolean =
      if (t != time(e)) t < time(e)
      else {
        var k = 3
        while (k < W && c(k) == cols(e * W + k)) k += 1
        k < W && {
          val a = c(k)
          val b = cols(e * W + k)
          // distinct dictionary indices are distinct strings
          if (k < 7 || a < 0 || b < 0) a < b
          else strings(a).binaryCompare(strings(b)) < 0
        }
      }

    /** Keep candidate `c`/`t` if its key is new or it precedes the key's
      * current entry. */
    def offer(c: Array[Int], t: Long): Unit = {
      val slot = slotOf(table, c(0), c(1), c(2))
      val e = table(slot)
      if (e < 0) {
        if (size * W == cols.length) {
          cols = java.util.Arrays.copyOf(cols, cols.length * 2)
          time = java.util.Arrays.copyOf(time, time.length * 2)
        }
        System.arraycopy(c, 0, cols, size * W, W)
        time(size) = t
        table(slot) = size
        size += 1
        if (size * 2 > table.length) rehash()
      } else if (before(c, t, e)) {
        System.arraycopy(c, 3, cols, e * W + 3, W - 3)
        time(e) = t
      }
    }

    private def rehash(): Unit = {
      val t = Array.fill(table.length * 2)(-1)
      var e = 0
      while (e < size) {
        t(slotOf(t, cols(e * W), cols(e * W + 1), cols(e * W + 2))) = e
        e += 1
      }
      table = t
    }

    /** Offer one `ArgminCols`-shaped row; NULL-keyed rows never match a
      * packet (join semantics) and are dropped. */
    def add(r: InternalRow, c: Array[Int]): Unit =
      if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
        def int(i: Int): Int = if (r.isNullAt(i)) -1 else r.getInt(i)
        def str(i: Int): Int = if (r.isNullAt(i)) -1 else intern(r.getUTF8String(i))
        c(0) = str(0); c(1) = str(1); c(2) = r.getInt(2) & 0xffff
        c(3) = int(4); c(4) = int(5)
        c(5) = if (r.isNullAt(6)) -1 else r.getShort(6).toInt
        c(6) = int(7); c(7) = str(8); c(8) = str(9)
        offer(c, if (r.isNullAt(3)) Long.MinValue else r.getLong(3))
      }

    /** Driver merge: remap `f`'s dictionary once, then offer its
      * entries — keys seen in earlier fragments keep the argmin. */
    def mergeFrom(f: Fragment): Unit = {
      val remap = Array.tabulate(f.nStrings)(i => intern(f.strings(i)))
      def re(i: Int): Int = if (i < 0) -1 else remap(i)
      val c = new Array[Int](W)
      var e = 0
      while (e < f.size) {
        val b = e * W
        System.arraycopy(f.cols, b, c, 0, W)
        c(0) = remap(c(0)); c(1) = remap(c(1)); c(7) = re(c(7)); c(8) = re(c(8))
        offer(c, f.time(e))
        e += 1
      }
    }

    /** Trim to what the driver reads and drop the lookup state; an
      * overflowed fragment keeps only its count. No offers after this. */
    def shipped: Fragment = {
      if (overflow) nStrings = 0
      val keep = if (overflow) 0 else size
      cols = java.util.Arrays.copyOf(cols, keep * W)
      time = java.util.Arrays.copyOf(time, keep)
      strings = java.util.Arrays.copyOf(strings, nStrings)
      dict = null
      table = null
      this
    }

    /** The broadcast form: only referenced strings stay in the
      * dictionary; col_protocol becomes its [[DissectAcc.ProtoStr]]
      * index (−1 when it names none). */
    def toPatchMap: PatchMap = {
      val pos = Array.fill(nStrings)(-1)
      val out = new scala.collection.mutable.ArrayBuffer[String]()
      def ref(i: Int): Int =
        if (i < 0) -1
        else {
          if (pos(i) < 0) { pos(i) = out.length; out += strings(i).toString }
          pos(i)
        }
      val n = size
      val ids, srcIdx, dstIdx, udpSrc, udpDst, ntp, dnsType, dnsName, proto =
        new Array[Int](n)
      var e = 0
      while (e < n) {
        val b = e * W
        srcIdx(e) = ref(cols(b)); dstIdx(e) = ref(cols(b + 1)); ids(e) = cols(b + 2)
        udpSrc(e) = cols(b + 3); udpDst(e) = cols(b + 4); ntp(e) = cols(b + 5)
        dnsType(e) = cols(b + 6); dnsName(e) = ref(cols(b + 7))
        proto(e) =
          if (cols(b + 8) < 0) -1 else DissectAcc.ProtoU8.indexOf(strings(cols(b + 8)))
        e += 1
      }
      new PatchMap(ids, srcIdx, dstIdx, out.toArray, udpSrc, udpDst, ntp,
        dnsType, dnsName, proto)
    }
  }

  private object Fragment {
    /** Ints per entry in [[Fragment.cols]]. */
    val W = 9

    /** Task side: one fragment from a partition's rows. The iterator is
      * drained past an overflow so the readers' counters see every row. */
    def of(it: Iterator[InternalRow], maxKeys: Long): Fragment = {
      val f = new Fragment
      val c = new Array[Int](W)
      while (it.hasNext) {
        val r = it.next()
        if (!f.overflow) {
          f.add(r, c)
          if (f.size > maxKeys) { f.overflow = true; f.shipped }
        }
      }
      if (f.overflow) f else f.shipped
    }
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
