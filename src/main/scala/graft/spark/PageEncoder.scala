package graft.spark

import org.apache.parquet.bytes.{BytesInput, BytesUtils}
import org.apache.parquet.column.{ColumnDescriptor, Encoding, ParquetProperties}
import org.apache.parquet.column.page.{DictionaryPage, PageWriter}
import org.apache.parquet.column.statistics._
import org.apache.parquet.column.statistics.geospatial.GeospatialStatistics
import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridEncoder
import org.apache.parquet.hadoop.ColumnChunkPageWriteStore
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.execution.vectorized.{OffHeapColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.core.{DictVector, StringDict}

/** Page-at-a-time parquet V1 encoder for a flat schema of optional
  * columns: each batch column is read in one loop specialised by type,
  * and finished data pages go to the `ColumnChunkPageWriteStore` page
  * writers (which keep compression, page CRCs, column/offset indexes and
  * the chunk metadata). It makes the decisions parquet-mr's V1 column
  * write store makes, under the same rules and the thresholds of the
  * given `ParquetProperties`:
  *
  *  - pages close at the page row-count limit or the page byte size,
  *    checked on `ColumnWriteStoreBase.sizeCheck`'s schedule;
  *  - definition levels are RLE/bit-packed hybrid (one RLE run when a
  *    page has no nulls or only nulls), repetition levels empty;
  *  - one dictionary per column chunk (not for booleans), ids at the
  *    dictionary's current bit width; `FallbackValuesWriter`'s rules
  *    switch to PLAIN: the first page falls back unless its ids plus the
  *    dictionary are smaller than its plain bytes, and any page falls
  *    back once the dictionary passes the dictionary page threshold
  *    (earlier pages keep their ids; the dictionary page holds the
  *    entries of the last dictionary-encoded page);
  *  - page statistics: signed min/max for ints and longs, unsigned
  *    lexicographic for byte arrays (over the page's distinct dictionary
  *    entries while dictionary-encoded), null counts, and the unencoded
  *    byte-array size.
  *
  * Strings from a [[graft.core.DictVector]] (what the pcap reader emits)
  * arrive as ids into the vector's dictionary: each column maps a reader
  * id to its chunk-dictionary id through an int array, so a value's bytes
  * are hashed and compared only the first time its id appears in the
  * chunk. Any other string vector is read in place from its byte storage
  * (on- or off-heap). Either way each distinct value is copied once, into
  * the chunk dictionary, and entries keep first-seen order, so the pages,
  * dictionaries and statistics do not depend on the vector kind.
  * Buffers live for the encoder (one per write task) and are reused
  * across pages and row groups.
  */
private[spark] final class PageEncoder(schema: StructType, msg: MessageType,
    props: ParquetProperties) extends AutoCloseable {
  import PageEncoder._

  private val limit = props.getPageRowCountLimit
  private val pageBytes = props.getPageSizeThreshold.toLong
  // ColumnWriteStoreBase's THRESHOLD_TOLERANCE_RATIO
  private val tolerance = (props.getPageSizeThreshold * 0.1f).toLong
  private val cols: Array[Col] = schema.fields.indices.map { c =>
    val desc = msg.getColumns.get(c)
    schema(c).dataType match {
      case TimestampType | LongType => new LongCol(desc, props)
      case IntegerType => new IntCol(desc, props, short = false)
      case ShortType => new IntCol(desc, props, short = true)
      case BooleanType => new BoolCol(desc, props)
      case StringType => new BinCol(desc, props, string = true)
      case BinaryType => new BinCol(desc, props, string = false)
      case other => throw new IllegalArgumentException(
        s"PageEncoder: unsupported column type $other")
    }
  }.toArray
  private var rowCount = 0L
  private var nextCheck = 0L

  /** Rows buffered in the current row group. */
  def rows: Long = rowCount

  /** Start a row group whose pages go to `store`'s page writers. */
  def startGroup(store: ColumnChunkPageWriteStore): Unit = {
    cols.foreach(c => c.writer = store.getPageWriter(c.desc))
    rowCount = 0L
    nextCheck = math.min(props.getMinRowCountForPageSizeCheck, limit).toLong
  }

  /** Append a batch; `perm(c)` is the batch column of output column c. */
  def write(batch: ColumnarBatch, perm: Array[Int]): Unit = {
    val n = batch.numRows()
    var from = 0
    while (from < n) {
      // stop at the next page size check, as endRecord() would
      val until = math.min(n.toLong, from + (nextCheck - rowCount)).toInt
      var c = 0
      while (c < cols.length) {
        cols(c).append(batch.column(perm(c)), from, until)
        c += 1
      }
      rowCount += until - from
      if (rowCount >= nextCheck) sizeCheck()
      from = until
    }
  }

  /** Encoded bytes held for the row group: finished pages plus the open
    * pages' buffers (what `ColumnWriteStoreBase.getBufferedSize` counts).
    */
  def bufferedSize: Long = {
    var s = 0L
    var c = 0
    while (c < cols.length) {
      s += cols(c).pageBuffered + cols(c).writer.getMemSize
      c += 1
    }
    s
  }

  /** Close every open page and write the dictionary pages. */
  def endGroup(): Unit = cols.foreach { c =>
    if (c.pageRows > 0) c.writePage()
    c.endChunk()
  }

  def close(): Unit = cols.foreach(_.close())

  // ColumnWriteStoreBase.sizeCheck
  private def sizeCheck(): Unit = {
    var minRecordToWait = Long.MaxValue
    var nextRowCountCheck = rowCount + limit
    cols.foreach { c =>
      val usedMem = c.pageBuffered
      val rows = c.pageRows.toLong
      var remainingMem = pageBytes - usedMem
      if (remainingMem <= tolerance || rows >= limit ||
          c.pageRows >= props.getPageValueCountThreshold) {
        c.writePage()
        remainingMem = pageBytes
      } else {
        nextRowCountCheck = math.min(nextRowCountCheck, rowCount - rows + limit)
      }
      val rowsToFillPage =
        if (usedMem == 0) props.getMaxRowCountForPageSizeCheck.toLong
        else rows * remainingMem / usedMem
      if (rowsToFillPage < minRecordToWait) minRecordToWait = rowsToFillPage
    }
    val minRows = props.getMinRowCountForPageSizeCheck.toLong
    if (minRecordToWait == Long.MaxValue) minRecordToWait = minRows
    nextCheck =
      if (props.estimateNextSizeCheck) rowCount + math.min(
        math.max(minRecordToWait / 2, minRows), props.getMaxRowCountForPageSizeCheck.toLong)
      else rowCount + minRows
    if (nextRowCountCheck < nextCheck) nextCheck = nextRowCountCheck
  }
}

private object PageEncoder {

  /** Unsigned lexicographic order of two byte ranges (heap or off-heap). */
  def compareBytes(a: AnyRef, ao: Long, al: Int, b: AnyRef, bo: Long, bl: Int): Int = {
    val n = math.min(al, bl)
    var i = 0
    while (i < n) {
      val x = Platform.getByte(a, ao + i) & 0xff
      val y = Platform.getByte(b, bo + i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    al - bl
  }

  /** Growable little-endian byte buffer. */
  final class Buf {
    var arr = new Array[Byte](1 << 12)
    var len = 0
    def ensure(extra: Int): Unit =
      if (len + extra > arr.length)
        arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, len + extra))
    def putInt(x: Int): Unit = {
      ensure(4)
      arr(len) = x.toByte; arr(len + 1) = (x >>> 8).toByte
      arr(len + 2) = (x >>> 16).toByte; arr(len + 3) = (x >>> 24).toByte
      len += 4
    }
    def putLong(x: Long): Unit = { putInt(x.toInt); putInt((x >>> 32).toInt) }
    def getInt(at: Int): Int =
      (arr(at) & 0xff) | (arr(at + 1) & 0xff) << 8 |
        (arr(at + 2) & 0xff) << 16 | (arr(at + 3) & 0xff) << 24
    def putBytes(base: AnyRef, off: Long, n: Int): Unit = {
      ensure(n)
      Platform.copyMemory(base, off, arr, Platform.BYTE_ARRAY_OFFSET + len, n)
      len += n
    }
    def bytes: BytesInput = BytesInput.from(arr, 0, len)
  }

  /** One column chunk's open page: definition levels, page statistics
    * and the page write; subclasses own the values.
    */
  abstract class Col(val desc: ColumnDescriptor, props: ParquetProperties) {
    var writer: PageWriter = _
    var pageRows = 0
    protected val ptype = desc.getPrimitiveType
    protected val limit = props.getPageRowCountLimit
    protected var pageNulls = 0
    /** Definition levels of the page's rows: 1 set, 0 null. */
    protected val defs = new Array[Byte](limit)
    private var defsFed = 0
    private val dl = new RunLengthBitPackingHybridEncoder(
      1, 64, props.getPageSizeThreshold, props.getAllocator)

    def append(v: ColumnVector, from: Int, until: Int): Unit
    /** `ValuesWriter.getBufferedSize` of the open page's values. */
    protected def dataBuffered: Long
    /** The page's values and their encoding; called once per page. */
    protected def pageData(): (BytesInput, Encoding)
    protected def pageStats(st: Statistics[_]): Unit
    protected def unencodedBytes: Long = 0L
    protected def resetPage(): Unit
    def endChunk(): Unit = ()
    def close(): Unit = dl.close()

    /** Record the levels of rows [from, until) at `defs(pageRows)` on;
      * returns how many are set. The value loops then read `defs`
      * instead of asking the vector again.
      */
    protected final def levels(v: ColumnVector, from: Int, until: Int): Int = {
      val n = until - from
      if (!v.hasNull) {
        java.util.Arrays.fill(defs, pageRows, pageRows + n, 1.toByte)
        n
      } else {
        var nulls = 0
        var r = from
        var p = pageRows
        while (r < until) {
          if (v.isNullAt(r)) { defs(p) = 0; nulls += 1 } else defs(p) = 1
          r += 1
          p += 1
        }
        pageNulls += nulls
        n - nulls
      }
    }

    private def uniform = pageNulls == 0 || pageNulls == pageRows
    private def feedDefs(): Unit =
      while (defsFed < pageRows) { dl.writeInt(defs(defsFed).toInt); defsFed += 1 }

    /** `ColumnWriterBase.getCurrentPageBufferedSize`: the level encoder
      * holds nothing while a page's levels are all equal.
      */
    final def pageBuffered: Long =
      dataBuffered + (if (uniform) 0L else { feedDefs(); dl.getBufferedSize })

    final def writePage(): Unit = {
      val st = Statistics.createStats(ptype)
      st.setNumNulls(pageNulls.toLong)
      if (pageNulls < pageRows) pageStats(st)
      val size = new SizeStatistics(ptype, unencodedBytes,
        java.util.Collections.emptyList[java.lang.Long](),
        java.util.Collections.emptyList[java.lang.Long]())
      val dlBytes =
        if (uniform && pageRows >= 8)
          // the hybrid encoder's output for >= 8 equal levels: one RLE
          // run, varint(count << 1) then the level in one byte
          BytesInput.concat(BytesInput.fromUnsignedVarInt(pageRows << 1),
            BytesInput.from(Array[Byte](if (pageNulls == 0) 1 else 0)))
        else { feedDefs(); dl.toBytes }
      val (data, enc) = pageData()
      writer.writePage(
        BytesInput.concat(BytesInput.fromInt(dlBytes.size.toInt), dlBytes, data),
        pageRows, pageRows, st, size, GeospatialStatistics.newBuilder(ptype).build(),
        Encoding.BIT_PACKED, Encoding.RLE, enc)
      dl.reset()
      defsFed = 0
      pageRows = 0
      pageNulls = 0
      resetPage()
    }
  }

  final class BoolCol(desc: ColumnDescriptor, props: ParquetProperties)
      extends Col(desc, props) {
    private val bits = new Array[Byte](limit / 8 + 1)
    private var nv = 0
    private var sawFalse = false
    private var sawTrue = false

    def append(v: ColumnVector, from: Int, until: Int): Unit = {
      if (levels(v, from, until) > 0) {
        var r = from
        var p = pageRows
        while (r < until) {
          if (defs(p) != 0) {
            if (v.getBoolean(r)) { bits(nv >> 3) = (bits(nv >> 3) | (1 << (nv & 7))).toByte; sawTrue = true }
            else sawFalse = true
            nv += 1
          }
          r += 1
          p += 1
        }
      }
      pageRows += until - from
    }
    protected def dataBuffered: Long = ((nv + 7) / 8).toLong
    protected def pageData(): (BytesInput, Encoding) =
      (BytesInput.from(bits, 0, (nv + 7) / 8), Encoding.PLAIN)
    protected def pageStats(st: Statistics[_]): Unit =
      st.asInstanceOf[BooleanStatistics].setMinMax(!sawFalse, sawTrue)
    protected def resetPage(): Unit = {
      java.util.Arrays.fill(bits, 0, (nv + 7) / 8, 0.toByte)
      nv = 0; sawFalse = false; sawTrue = false
    }
  }

  /** A dictionary-encoded column with `FallbackValuesWriter`'s PLAIN
    * fallback. Subclasses keep the dictionary (ids in insertion order)
    * and write PLAIN values into `plain` once fallen back.
    */
  abstract class DictCol(desc: ColumnDescriptor, props: ParquetProperties)
      extends Col(desc, props) {
    protected val dictMax = props.getDictionaryPageSizeThreshold.toLong
    protected val ids = new Array[Int](limit)
    protected var nv = 0 // non-null values in the page
    protected var raw = 0L // their PLAIN size
    protected var dictBytes = 0L
    protected var fellBack = false
    protected val plain = new Buf
    private var firstPage = true
    private var lastUsed = 0 // dictionary size at the last dictionary-encoded page
    private val idEncoders = new Array[RunLengthBitPackingHybridEncoder](33)
    private var usedEncoder: RunLengthBitPackingHybridEncoder = _

    protected def dictSize: Int
    /** Write dictionary entry `id` as a PLAIN value. */
    protected def plainEntry(id: Int, out: Buf): Unit
    protected def clearDict(): Unit
    /** Called after the page's values moved to `plain`. */
    protected def fellBackMidPage(): Unit = ()

    protected def dataBuffered: Long = raw

    /** `FallbackValuesWriter.checkFallback`: the dictionary is too big. */
    protected final def dictFull: Boolean = dictBytes > dictMax

    /** Move the page's `nv` values to PLAIN and stay PLAIN for the chunk. */
    protected final def fallBack(): Unit = {
      var i = 0
      while (i < nv) { plainEntry(ids(i), plain); i += 1 }
      fellBack = true
      if (lastUsed == 0) { clearDict(); dictBytes = 0L }
      fellBackMidPage()
    }

    protected def pageData(): (BytesInput, Encoding) = {
      if (!fellBack) {
        val width = BytesUtils.getWidthFromMaxInt(dictSize - 1)
        if (idEncoders(width) == null)
          idEncoders(width) = new RunLengthBitPackingHybridEncoder(
            width, 64, dictMax.toInt, props.getAllocator)
        val e = idEncoders(width)
        var i = 0
        while (i < nv) { e.writeInt(ids(i)); i += 1 }
        val rle = e.toBytes
        usedEncoder = e
        if (!firstPage || 1 + rle.size + dictBytes < raw) {
          lastUsed = dictSize
          return (BytesInput.concat(BytesInput.from(Array(width.toByte)), rle),
            Encoding.PLAIN_DICTIONARY)
        }
        fallBack() // the first page: lastUsed is 0, so the dictionary goes too
      }
      (plain.bytes, Encoding.PLAIN)
    }

    protected def resetPage(): Unit = {
      if (usedEncoder != null) { usedEncoder.reset(); usedEncoder = null }
      nv = 0; raw = 0L; plain.len = 0; firstPage = false
    }

    override def endChunk(): Unit = {
      if (lastUsed > 0) {
        val out = new Buf
        var i = 0
        while (i < lastUsed) { plainEntry(i, out); i += 1 }
        writer.writeDictionaryPage(
          new DictionaryPage(out.bytes, lastUsed, Encoding.PLAIN_DICTIONARY))
      }
      clearDict()
      dictBytes = 0L; lastUsed = 0; fellBack = false; firstPage = true
    }

    override def close(): Unit = {
      super.close()
      idEncoders.foreach(e => if (e != null) e.close())
    }
  }

  /** Open-addressing slot table of dictionary ids (0 = empty, else id + 1). */
  final class Slots {
    var slots = new Array[Int](1 << 10)
    def mask: Int = slots.length - 1
    def clear(): Unit = java.util.Arrays.fill(slots, 0)
    def full(size: Int): Boolean = size * 2 > slots.length
    /** Double the table; `hashOf(id)` re-places the ids. */
    def grow(size: Int, hashOf: Int => Int): Unit = {
      slots = new Array[Int](slots.length * 2)
      var id = 0
      while (id < size) {
        var s = hashOf(id) & mask
        while (slots(s) != 0) s = (s + 1) & mask
        slots(s) = id + 1
        id += 1
      }
    }
  }

  def mix(h: Int): Int = { val x = h * 0x9e3779b9; x ^ (x >>> 16) }

  final class IntCol(desc: ColumnDescriptor, props: ParquetProperties, short: Boolean)
      extends DictCol(desc, props) {
    private val table = new Slots
    private var entries = new Array[Int](1 << 10)
    private var size = 0
    private var min = 0
    private var max = 0
    private var last = 0
    private var lastId = -1

    private def idOf(x: Int): Int = {
      if (lastId >= 0 && x == last) return lastId
      val t = table.slots
      val mask = t.length - 1
      var s = mix(x) & mask
      var e = t(s)
      while (e != 0 && entries(e - 1) != x) {
        s = (s + 1) & mask
        e = t(s)
      }
      if (e == 0) {
        if (size == entries.length) entries = java.util.Arrays.copyOf(entries, size * 2)
        entries(size) = x
        t(s) = size + 1
        size += 1
        e = size
        dictBytes += 4
        if (table.full(size)) table.grow(size, id => mix(entries(id)))
      }
      last = x
      lastId = e - 1
      lastId
    }

    def append(v: ColumnVector, from: Int, until: Int): Unit = {
      if (levels(v, from, until) > 0) {
        val defs = this.defs
        val ids = this.ids
        var dict = !fellBack
        var n = nv
        val n0 = n
        var lo = min
        var hi = max
        var r = from
        var p = pageRows
        while (r < until) {
          if (defs(p) != 0) {
            val x = if (short) v.getShort(r).toInt else v.getInt(r)
            if (n == 0) { lo = x; hi = x } else if (x < lo) lo = x else if (x > hi) hi = x
            if (dict) ids(n) = idOf(x) else plain.putInt(x)
            n += 1
            if (dict && dictFull) { nv = n; fallBack(); dict = false }
          }
          r += 1
          p += 1
        }
        nv = n; min = lo; max = hi; raw += 4L * (n - n0)
      }
      pageRows += until - from
    }
    protected def dictSize: Int = size
    protected def plainEntry(id: Int, out: Buf): Unit = out.putInt(entries(id))
    protected def clearDict(): Unit = { table.clear(); size = 0; lastId = -1 }
    protected def pageStats(st: Statistics[_]): Unit =
      st.asInstanceOf[IntStatistics].setMinMax(min, max)
  }

  final class LongCol(desc: ColumnDescriptor, props: ParquetProperties)
      extends DictCol(desc, props) {
    private val table = new Slots
    private var entries = new Array[Long](1 << 10)
    private var size = 0
    private var min = 0L
    private var max = 0L
    private var last = 0L
    private var lastId = -1

    private def idOf(x: Long): Int = {
      if (lastId >= 0 && x == last) return lastId
      val t = table.slots
      val mask = t.length - 1
      var s = mix((x ^ (x >>> 32)).toInt) & mask
      var e = t(s)
      while (e != 0 && entries(e - 1) != x) {
        s = (s + 1) & mask
        e = t(s)
      }
      if (e == 0) {
        if (size == entries.length) entries = java.util.Arrays.copyOf(entries, size * 2)
        entries(size) = x
        t(s) = size + 1
        size += 1
        e = size
        dictBytes += 8
        if (table.full(size)) table.grow(size, id => mix((entries(id) ^ (entries(id) >>> 32)).toInt))
      }
      last = x
      lastId = e - 1
      lastId
    }

    def append(v: ColumnVector, from: Int, until: Int): Unit = {
      if (levels(v, from, until) > 0) {
        val defs = this.defs
        val ids = this.ids
        var dict = !fellBack
        var n = nv
        val n0 = n
        var lo = min
        var hi = max
        var r = from
        var p = pageRows
        while (r < until) {
          if (defs(p) != 0) {
            val x = v.getLong(r)
            if (n == 0) { lo = x; hi = x } else if (x < lo) lo = x else if (x > hi) hi = x
            if (dict) ids(n) = idOf(x) else plain.putLong(x)
            n += 1
            if (dict && dictFull) { nv = n; fallBack(); dict = false }
          }
          r += 1
          p += 1
        }
        nv = n; min = lo; max = hi; raw += 8L * (n - n0)
      }
      pageRows += until - from
    }
    protected def dictSize: Int = size
    protected def plainEntry(id: Int, out: Buf): Unit = out.putLong(entries(id))
    protected def clearDict(): Unit = { table.clear(); size = 0; lastId = -1 }
    protected def pageStats(st: Statistics[_]): Unit =
      st.asInstanceOf[LongStatistics].setMinMax(min, max)
  }

  /** BYTE_ARRAY values: ids of a [[DictVector]] through `remap`, else
    * read in place (a `WritableColumnVector`'s offsets/lengths over its
    * child's byte storage, else the vector's own getters). Entries live
    * in one arena.
    */
  final class BinCol(desc: ColumnDescriptor, props: ParquetProperties, string: Boolean)
      extends DictCol(desc, props) {
    private val table = new Slots
    private val arena = new Buf
    private var offs = new Array[Int](1 << 10)
    private var lens = new Array[Int](1 << 10)
    private var hashes = new Array[Int](1 << 10)
    private var size = 0
    private var lastId = -1
    // distinct ids of the page (dictionary mode), for min/max
    private var seen = new Array[Int](1 << 10)
    private var page = 1
    private val pageIds = new Array[Int](limit)
    private var distinct = 0
    // min/max as offsets into `plain` (PLAIN mode)
    private var minAt = 0
    private var minLen = 0
    private var maxAt = 0
    private var maxLen = 0
    private var unencoded = 0L
    // the current value
    private var base: AnyRef = _
    private var off = 0L
    private var len = 0
    private val arenaBase = Platform.BYTE_ARRAY_OFFSET.toLong
    // reader id → chunk id + 1 (0 = not seen yet) for the ids of `src`;
    // entries below `remapTop` may be set
    private var remap = new Array[Int](1 << 10)
    private var remapTop = 0
    private var src: StringDict = _

    private def entryEquals(id: Int): Boolean =
      lens(id) == len && ByteArrayMethods.arrayEquals(
        arena.arr, arenaBase + offs(id), base, off, len.toLong)

    private def idOf(): Int = {
      if (lastId >= 0 && entryEquals(lastId)) return lastId
      val h = Murmur3_x86_32.hashUnsafeBytes2(base, off, len, 42)
      val t = table.slots
      val mask = t.length - 1
      var s = mix(h) & mask
      while (t(s) != 0) {
        val id = t(s) - 1
        if (hashes(id) == h && entryEquals(id)) { lastId = id; return id }
        s = (s + 1) & mask
      }
      if (size == offs.length) {
        offs = java.util.Arrays.copyOf(offs, size * 2)
        lens = java.util.Arrays.copyOf(lens, size * 2)
        hashes = java.util.Arrays.copyOf(hashes, size * 2)
        seen = java.util.Arrays.copyOf(seen, size * 2)
      }
      offs(size) = arena.len
      lens(size) = len
      hashes(size) = h
      seen(size) = 0
      arena.putBytes(base, off, len)
      t(s) = size + 1
      size += 1
      dictBytes += 4L + len
      if (table.full(size)) table.grow(size, id => mix(hashes(id)))
      lastId = size - 1
      lastId
    }

    private def plainValue(first: Boolean): Unit = {
      val at = plain.len + 4
      plain.putInt(len)
      plain.putBytes(base, off, len)
      offerPlain(at, len, first)
    }

    private def offerPlain(at: Int, n: Int, first: Boolean): Unit = {
      val a = plain.arr
      val o = arenaBase
      if (first) { minAt = at; minLen = n; maxAt = at; maxLen = n }
      else if (compareBytes(a, o + at, n, a, o + minAt, minLen) < 0) { minAt = at; minLen = n }
      else if (compareBytes(a, o + at, n, a, o + maxAt, maxLen) > 0) { maxAt = at; maxLen = n }
    }

    override protected def fellBackMidPage(): Unit = {
      // min/max now come from the PLAIN copy of the page's values
      var at = 0
      var i = 0
      while (i < nv) {
        val n = plain.getInt(at)
        offerPlain(at + 4, n, i == 0)
        at += 4 + n
        i += 1
      }
    }

    private def clearRemap(): Unit = {
      java.util.Arrays.fill(remap, 0, remapTop, 0)
      remapTop = 0
    }

    def append(v: ColumnVector, from: Int, until: Int): Unit = v match {
      case d: DictVector if d.dict != null => appendIds(d, from, until)
      case _ => appendBytes(v, from, until)
    }

    /** Rows of a dictionary vector: while the chunk is dictionary-encoded
      * a reader id seen before in the chunk costs one array read; once
      * fallen back to PLAIN, values are read through the dictionary.
      */
    private def appendIds(d: DictVector, from: Int, until: Int): Unit = {
      val dict = d.dict
      if (dict ne src) { clearRemap(); src = dict }
      if (levels(d, from, until) > 0) {
        val rids = d.ids
        val defs = this.defs
        val ids = this.ids
        var dictMode = !fellBack
        var n = nv
        val n0 = n
        var bytes = 0L
        var r = from
        var p = pageRows
        while (r < until) {
          if (defs(p) != 0) {
            val rid = rids.getInt(r)
            if (dictMode) {
              if (rid >= remap.length)
                remap = java.util.Arrays.copyOf(remap, math.max(remap.length * 2, rid + 1))
              var id = remap(rid) - 1
              if (id < 0) {
                val b = dict.decodeToBinary(rid)
                base = b; off = arenaBase; len = b.length
                id = idOf()
                remap(rid) = id + 1
                if (rid >= remapTop) remapTop = rid + 1
              }
              ids(n) = id
              if (seen(id) != page) { seen(id) = page; pageIds(distinct) = id; distinct += 1 }
              bytes += lens(id)
            } else {
              val b = dict.decodeToBinary(rid)
              base = b; off = arenaBase; len = b.length
              bytes += len
              plainValue(n == 0)
            }
            n += 1
            if (dictMode && dictFull) { nv = n; fallBack(); dictMode = false }
          }
          r += 1
          p += 1
        }
        raw += 4L * (n - n0) + bytes
        unencoded += bytes
        nv = n
      }
      pageRows += until - from
      base = null
    }

    private def appendBytes(v: ColumnVector, from: Int, until: Int): Unit = {
      // the byte storage behind a plain writable vector's offsets
      val (w, data, dataOff): (WritableColumnVector, AnyRef, Long) = v match {
        case w: WritableColumnVector if !w.hasDictionary => w.arrayData() match {
          case on: OnHeapColumnVector =>
            (w, on.getByteBuffer(0, 0).array(), arenaBase)
          case off: OffHeapColumnVector => (w, null, off.valuesNativeAddress())
          case _ => (null, null, 0L)
        }
        case _ => (null, null, 0L)
      }
      if (levels(v, from, until) > 0) {
        val defs = this.defs
        val ids = this.ids
        var dict = !fellBack
        var n = nv
        val n0 = n
        var bytes = 0L
        var r = from
        var p = pageRows
        while (r < until) {
          if (defs(p) != 0) {
            if (w != null) {
              base = data; off = dataOff + w.getArrayOffset(r); len = w.getArrayLength(r)
            } else if (string) {
              val u = v.getUTF8String(r)
              base = u.getBaseObject; off = u.getBaseOffset; len = u.numBytes
            } else {
              val b = v.getBinary(r)
              base = b; off = arenaBase; len = b.length
            }
            bytes += len
            if (dict) {
              val id = idOf()
              ids(n) = id
              if (seen(id) != page) { seen(id) = page; pageIds(distinct) = id; distinct += 1 }
            } else plainValue(n == 0)
            n += 1
            if (dict && dictFull) { nv = n; fallBack(); dict = false }
          }
          r += 1
          p += 1
        }
        raw += 4L * (n - n0) + bytes
        unencoded += bytes
        nv = n
      }
      pageRows += until - from
      base = null
    }

    protected def dictSize: Int = size
    protected def plainEntry(id: Int, out: Buf): Unit = {
      out.putInt(lens(id))
      out.putBytes(arena.arr, arenaBase + offs(id), lens(id))
    }
    protected def clearDict(): Unit = {
      table.clear(); size = 0; arena.len = 0; lastId = -1
      clearRemap()
    }
    override protected def unencodedBytes: Long = unencoded

    protected def pageStats(st: Statistics[_]): Unit = {
      def copy(a: Array[Byte], at: Int, n: Int) =
        Binary.fromConstantByteArray(java.util.Arrays.copyOfRange(a, at, at + n))
      if (fellBack)
        st.asInstanceOf[BinaryStatistics].setMinMax(
          copy(plain.arr, minAt, minLen), copy(plain.arr, maxAt, maxLen))
      else {
        var lo = pageIds(0)
        var hi = lo
        var i = 1
        while (i < distinct) {
          val id = pageIds(i)
          val a = arena.arr
          if (compareBytes(a, arenaBase + offs(id), lens(id), a, arenaBase + offs(lo), lens(lo)) < 0) lo = id
          if (compareBytes(a, arenaBase + offs(id), lens(id), a, arenaBase + offs(hi), lens(hi)) > 0) hi = id
          i += 1
        }
        st.asInstanceOf[BinaryStatistics].setMinMax(
          copy(arena.arr, offs(lo), lens(lo)), copy(arena.arr, offs(hi), lens(hi)))
      }
    }

    override protected def resetPage(): Unit = {
      super.resetPage()
      page += 1
      distinct = 0
      unencoded = 0L
    }

    override def endChunk(): Unit = {
      super.endChunk()
      java.util.Arrays.fill(seen, 0)
      page = 1
    }
  }
}
