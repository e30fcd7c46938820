package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.execution.vectorized.{Dictionary, OnHeapColumnVector}
import org.apache.spark.sql.types.{DataType, Decimal, IntegerType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** A string column's reader dictionary: UTF-8 values by id, in the order
  * they were added. Values may repeat under different ids; a value's
  * bytes are shared with whoever added them and never change.
  * `bytes` counts what a PLAIN dictionary page of the entries would hold
  * (a 4-byte length plus the bytes per entry), the measure the pcap
  * reader bounds each dictionary by.
  */
final class StringDict extends Dictionary {
  private var vals = new Array[Array[Byte]](64)
  private var n = 0
  private var nBytes = 0L

  def size: Int = n
  def bytes: Long = nBytes

  /** Append `v` (not copied); returns its id. */
  def add(v: Array[Byte]): Int = {
    if (n == vals.length) vals = java.util.Arrays.copyOf(vals, n * 2)
    vals(n) = v
    nBytes += 4L + v.length
    n += 1
    n - 1
  }
  def add(s: String): Int = add(s.getBytes(StandardCharsets.UTF_8))
  def add(s: UTF8String): Int = add(s.getBytes)

  override def decodeToBinary(id: Int): Array[Byte] = vals(id)
  override def decodeToInt(id: Int): Int = unsupported
  override def decodeToLong(id: Int): Long = unsupported
  override def decodeToFloat(id: Int): Float = unsupported
  override def decodeToDouble(id: Int): Double = unsupported
  private def unsupported = throw new UnsupportedOperationException(
    "StringDict holds strings only")
}

object StringDict {
  /** A fixed dictionary: id i is `values(i)`. */
  def of(values: Array[UTF8String]): StringDict = {
    val d = new StringDict
    values.foreach(d.add)
    d
  }
}

/** A string column whose rows are ids into a [[StringDict]], the shape
  * Spark's vectorized Parquet reader emits for a dictionary-encoded
  * chunk: readers see the strings through `getUTF8String`/`getBinary`
  * (no copy: the row's bytes are the dictionary entry), and the page
  * encoder, which knows the type, reads the ids and the dictionary
  * instance. Ids and null flags live in the on-heap int vector [[ids]];
  * a null row's id is never read. Spark's `OnHeapColumnVector` is final
  * and keeps its installed dictionary protected, hence this type.
  */
final class DictVector(capacity: Int, dataType: DataType) extends ColumnVector(dataType) {
  /** Row r's id is `ids.getInt(r)`; its null flag is `ids.isNullAt(r)`. */
  val ids = new OnHeapColumnVector(capacity, IntegerType)
  /** The dictionary the ids index. */
  var dict: StringDict = _

  override def hasNull: Boolean = ids.hasNull
  override def numNulls: Int = ids.numNulls
  override def isNullAt(r: Int): Boolean = ids.isNullAt(r)
  override def getUTF8String(r: Int): UTF8String =
    if (ids.isNullAt(r)) null else UTF8String.fromBytes(dict.decodeToBinary(ids.getInt(r)))
  override def getBinary(r: Int): Array[Byte] =
    if (ids.isNullAt(r)) null else dict.decodeToBinary(ids.getInt(r))
  override def close(): Unit = ids.close()
  /** Reused batch after batch, like Spark's writable vectors: a
    * consumer done with one batch (`ColumnarToRow`) must not free it. */
  override def closeIfFreeable(): Unit = ()

  override def getBoolean(r: Int): Boolean = unsupported
  override def getByte(r: Int): Byte = unsupported
  override def getShort(r: Int): Short = unsupported
  override def getInt(r: Int): Int = unsupported
  override def getLong(r: Int): Long = unsupported
  override def getFloat(r: Int): Float = unsupported
  override def getDouble(r: Int): Double = unsupported
  override def getArray(r: Int): ColumnarArray = unsupported
  override def getMap(r: Int): ColumnarMap = unsupported
  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal = unsupported
  override def getChild(ordinal: Int): ColumnVector = unsupported
  private def unsupported = throw new UnsupportedOperationException(
    s"DictVector holds ${dataType.simpleString} values only")
}
