package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.column.impl.ColumnWriteStoreV1
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.vectorized.{OffHeapColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.core.{DictVector, StringDict}
import graft.spark.PcapColumnarWrite

/** The convert's page encoder over synthetic batches of all five
  * physical kinds (INT32, INT(16), INT64/timestamp, BOOLEAN, BYTE_ARRAY),
  * from on- and off-heap vectors. Each case must
  *  - produce the same file bytes from both vector kinds and from
  *    parquet-mr's own per-value `ColumnWriteStoreV1` loop (the same
  *    pages, dictionaries, levels, statistics and indexes);
  *  - match Spark's `df.write.parquet` of the same rows chunk by chunk
  *    (encodings, min/max, null and value counts): wrong min/max would
  *    silently drop rows under pushed-down filters;
  *  - read back equal to the input through Spark's vectorized reader and
  *    through parquet-mr's record reader;
  *  - produce the same file bytes when its strings arrive as dictionary
  *    ids ([[graft.core.DictVector]], what the pcap reader emits), from
  *    reader dictionaries with shuffled ids and duplicate values: one
  *    dictionary for the whole chunk, a fresh one every batch, or two
  *    taking turns.
  */
object PageEncoderProps extends Properties("page-encoder") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("i32", IntegerType), StructField("i16", ShortType),
    StructField("i64", LongType), StructField("ts", TimestampType),
    StructField("flag", BooleanType), StructField("s1", StringType),
    StructField("s2", StringType)))

  /** Null layouts: none, all, 30%, 0.1%, or the first page and a bit. */
  private val nullModes = Seq("none", "all", "mixed", "sparse", "head")
  /** Value layouts; `phased` is a few values for one page, then long
    * unique strings that push the dictionary past its threshold.
    */
  private val valueModes = Seq("few", "unique", "extreme", "long", "phased")

  final case class Case(seed: Long, rows: Int, maxBatch: Int,
      nulls: Seq[String], values: Seq[String])

  private val pool = Seq("", "a", "abc", "é", "ÿ", "ÿz", "😀", "Z", "zz", "\u0080")

  private def column(dt: DataType, rows: Int, nulls: String, values: String,
      rnd: Random): Array[Any] = {
    val limit = ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT
    def isNull(r: Int) = nulls match {
      case "none" => false
      case "all" => true
      case "mixed" => rnd.nextDouble() < 0.3
      case "sparse" => rnd.nextDouble() < 0.001
      case "head" => r < limit + 17
    }
    def str(r: Int): String = values match {
      case "few" | "extreme" => pool(rnd.nextInt(pool.size))
      case "unique" => s"u$r-${rnd.alphanumeric.take(rnd.nextInt(12)).mkString}"
      case "long" => s"$r-" + "x" * (90 + rnd.nextInt(40))
      case "phased" =>
        if (r < limit) pool(rnd.nextInt(4)) else s"$r-" + "y" * (100 + rnd.nextInt(20))
    }
    Array.tabulate[Any](rows) { r =>
      if (isNull(r)) null
      else dt match {
        case IntegerType => values match {
          case "few" | "phased" => rnd.nextInt(5) - 2
          case "extreme" => Seq(Int.MinValue, Int.MaxValue, 0, -1)(rnd.nextInt(4))
          case _ => rnd.nextInt()
        }
        case ShortType => values match {
          case "few" | "phased" => (rnd.nextInt(3) + 7).toShort
          case "extreme" => Seq(Short.MinValue, Short.MaxValue, 0.toShort, -1.toShort)(rnd.nextInt(4))
          case _ => rnd.nextInt().toShort
        }
        case LongType => values match {
          case "few" | "phased" => rnd.nextInt(3).toLong << 40
          case "extreme" => Seq(Long.MinValue, Long.MaxValue, 0L, -1L)(rnd.nextInt(4))
          case _ => rnd.nextLong()
        }
        case TimestampType => values match {
          case "few" | "phased" | "extreme" => 1700000000000000L + rnd.nextInt(3)
          case _ => 1700000000000000L + r * 1000L + rnd.nextInt(1000)
        }
        case BooleanType => rnd.nextBoolean()
        case StringType => str(r)
      }
    }
  }

  private def columns(k: Case): Array[Array[Any]] = {
    val rnd = new Random(k.seed)
    schema.fields.indices.map(c =>
      column(schema(c).dataType, k.rows, k.nulls(c), k.values(c), rnd)).toArray
  }

  private def batches(cols: Array[Array[Any]], k: Case, offHeap: Boolean): Seq[ColumnarBatch] = {
    val rnd = new Random(k.seed ^ 0x5eed)
    val out = Seq.newBuilder[ColumnarBatch]
    var from = 0
    while (from < k.rows) {
      val n = math.min(k.rows - from, 1 + rnd.nextInt(k.maxBatch))
      val vs: Array[WritableColumnVector] =
        if (offHeap) OffHeapColumnVector.allocateColumns(n, schema).map(v => v: WritableColumnVector)
        else OnHeapColumnVector.allocateColumns(n, schema).map(v => v: WritableColumnVector)
      schema.fields.indices.foreach { c =>
        val v = vs(c)
        (0 until n).foreach { r =>
          cols(c)(from + r) match {
            case null => v.putNull(r)
            case x: Int => v.putInt(r, x)
            case x: Short => v.putShort(r, x)
            case x: Long => v.putLong(r, x)
            case x: Boolean => v.putBoolean(r, x)
            case x: String => v.putByteArray(r, x.getBytes("UTF-8"))
            case x => throw new IllegalStateException(s"unexpected $x")
          }
        }
      }
      out += new ColumnarBatch(vs.map(v => v: ColumnVector), n)
      from += n
    }
    out.result()
  }

  /** How a dictionary arm's string columns get their dictionaries. */
  private val dictLayouts = Seq("shared", "swapped", "alternating")

  /** `batches(cols, k, offHeap = false)`'s rows and batch boundaries,
    * with every string column as dictionary ids. Each reader dictionary
    * holds its values twice, at shuffled ids, and a row picks one of its
    * value's ids at random; `layout` "shared" uses one dictionary per
    * column, "swapped" a fresh one per batch (over that batch's values),
    * "alternating" two that take turns batch by batch.
    */
  private def dictBatches(cols: Array[Array[Any]], k: Case, layout: String): Seq[ColumnarBatch] = {
    val rnd = new Random(k.seed ^ 0x5eed)
    val pick = new Random(k.seed ^ 0xd1c7)
    def dict(values: Seq[String]): (StringDict, Map[String, Seq[Int]]) = {
      val d = new StringDict
      val ids = pick.shuffle(values ++ values).map(v => v -> d.add(v.getBytes("UTF-8")))
      (d, ids.groupMap(_._1)(_._2))
    }
    def values(c: Int, from: Int, until: Int) =
      cols(c).slice(from, until).collect { case x: String => x }.distinct.toSeq
    val whole = schema.fields.indices.map(c =>
      if (schema(c).dataType == StringType) Seq(dict(values(c, 0, k.rows)), dict(values(c, 0, k.rows)))
      else Seq.empty)
    val out = Seq.newBuilder[ColumnarBatch]
    var from = 0
    var b = 0
    while (from < k.rows) {
      val n = math.min(k.rows - from, 1 + rnd.nextInt(k.maxBatch))
      val vs: Array[ColumnVector] = schema.fields.indices.map { c =>
        schema(c).dataType match {
          case StringType =>
            val (d, ids) = layout match {
              case "shared" => whole(c).head
              case "swapped" => dict(values(c, from, from + n))
              case "alternating" => whole(c)(b % 2)
            }
            val v = new DictVector(n, StringType)
            v.dict = d
            (0 until n).foreach { r =>
              cols(c)(from + r) match {
                case null => v.ids.putNull(r)
                case x: String => val xs = ids(x); v.ids.putInt(r, xs(pick.nextInt(xs.size)))
              }
            }
            v: ColumnVector
          case _ =>
            val v = new OnHeapColumnVector(n, schema(c).dataType)
            (0 until n).foreach { r =>
              cols(c)(from + r) match {
                case null => v.putNull(r)
                case x: Int => v.putInt(r, x)
                case x: Short => v.putShort(r, x)
                case x: Long => v.putLong(r, x)
                case x: Boolean => v.putBoolean(r, x)
                case x => throw new IllegalStateException(s"unexpected $x")
              }
            }
            v: ColumnVector
        }
      }.toArray
      out += new ColumnarBatch(vs, n)
      from += n
      b += 1
    }
    out.result()
  }

  /** Write `bs` with our encoder (uncompressed) and return the file's bytes. */
  private def encoded(bs: Seq[ColumnarBatch], file: String, rowGroupBytes: Long): Array[Byte] = {
    try PcapColumnarWrite.writePartition(bs.iterator, schema, schema.indices.toArray,
      new Path(file), spark.sessionState.newHadoopConf(), CompressionCodecName.UNCOMPRESSED,
      rowGroupBytes)
    finally bs.foreach(_.close())
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
  }

  private def rowsOf(cols: Array[Array[Any]], k: Case): Seq[Row] =
    (0 until k.rows).map { r =>
      Row.fromSeq(schema.fields.indices.map { c =>
        (schema(c).dataType, cols(c)(r)) match {
          case (TimestampType, x: Long) => DateTimeUtils.toJavaTimestamp(x)
          case (_, x) => x
        }
      })
    }

  /** The same rows through parquet-mr's column writers, one record at a
    * time (as Spark's row writer feeds them).
    */
  private def parquetMrWrite(bs: Seq[ColumnarBatch], file: Path): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val msg = PcapColumnarWrite.messageType(schema)
    val props = ParquetProperties.builder().build()
    val writer = new ParquetFileWriter(conf, msg, file, ParquetFileWriter.Mode.OVERWRITE)
    writer.start()
    val codecs = new CodecFactory(conf, props.getPageSizeThreshold)
    val store = new ColumnChunkPageWriteStore(codecs.getCompressor(CompressionCodecName.UNCOMPRESSED),
      msg, props.getAllocator, props.getColumnIndexTruncateLength)
    val cws = new ColumnWriteStoreV1(msg, store, props)
    var rows = 0L
    val cw = msg.getColumns.asScala.map(cws.getColumnWriter).toArray
    bs.foreach { b =>
      (0 until b.numRows()).foreach { r =>
        schema.fields.indices.foreach { c =>
          val v = b.column(c)
          if (v.isNullAt(r)) cw(c).writeNull(0, 0)
          else schema(c).dataType match {
            case IntegerType => cw(c).write(v.getInt(r), 0, 1)
            case ShortType => cw(c).write(v.getShort(r).toInt, 0, 1)
            case LongType | TimestampType => cw(c).write(v.getLong(r), 0, 1)
            case BooleanType => cw(c).write(v.getBoolean(r), 0, 1)
            case StringType => cw(c).write(Binary.fromConstantByteArray(v.getBinary(r)), 0, 1)
            case other => throw new IllegalStateException(s"unexpected $other")
          }
        }
        cws.endRecord()
      }
      rows += b.numRows()
    }
    writer.startBlock(rows)
    cws.flush()
    store.flushToFileWriter(writer)
    writer.endBlock()
    cws.close()
    store.close()
    writer.end(new java.util.HashMap[String, String]())
    codecs.release()
  }

  /** Per column chunk: type, encodings, value count, null count, min/max. */
  private def chunks(file: String): Seq[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sessionState.newHadoopConf()))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap { b =>
      b.getColumns.asScala.map { c =>
        val st = c.getStatistics
        val mm = if (st.hasNonNullValue) s"${st.minAsString} .. ${st.maxAsString}" else "-"
        s"${c.getPath} ${c.getPrimitiveType} ${c.getEncodings.asScala.map(_.toString).toSeq.sorted} " +
          s"values=${c.getValueCount} nulls=${st.getNumNulls} $mm rows=${b.getRowCount}"
      }
    } finally r.close()
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Our file's chunks when every check holds. */
  private def check(k: Case): Option[Seq[String]] = {
    val dir = java.nio.file.Files.createTempDirectory("pageenc").toString
    val cols = columns(k)
    val files = Seq(false, true).map { offHeap =>
      val bs = batches(cols, k, offHeap)
      val f = new Path(s"$dir/enc-${if (offHeap) "off" else "on"}/part.parquet")
      try PcapColumnarWrite.writePartition(bs.iterator, schema, schema.indices.toArray, f,
        spark.sessionState.newHadoopConf(), CompressionCodecName.UNCOMPRESSED, 128L << 20)
      finally if (offHeap) bs.foreach(_.close())
      if (!offHeap) try parquetMrWrite(bs, new Path(s"$dir/mr.parquet")) finally bs.foreach(_.close())
      f.toString
    }
    def bytes(f: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    val want = rowsOf(cols, k)
    withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      spark.createDataFrame(spark.sparkContext.parallelize(want, 1), schema)
        .write.option("compression", "uncompressed").parquet(s"$dir/spark")
    }
    val sparkFile = new java.io.File(s"$dir/spark").listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toString
    def read(vectorized: Boolean) =
      withConf("spark.sql.parquet.enableVectorizedReader" -> vectorized.toString) {
        spark.read.parquet(files.head).collect().toSeq
      }
    val ours = chunks(files.head)
    val theirs = chunks(sparkFile)
    val layout = dictLayouts((k.seed % dictLayouts.size).toInt)
    val viaIds = encoded(dictBatches(cols, k, layout), s"$dir/ids/part.parquet", 128L << 20)
    val checks = Seq(
      "on-heap ≡ off-heap bytes" -> java.util.Arrays.equals(bytes(files(0)), bytes(files(1))),
      s"on-heap ≡ dictionary ids ($layout) bytes" -> java.util.Arrays.equals(bytes(files(0)), viaIds),
      "≡ ColumnWriteStoreV1 bytes" -> java.util.Arrays.equals(bytes(files(0)), bytes(s"$dir/mr.parquet")),
      "chunks ≡ Spark's writer" -> (ours == theirs),
      "vectorized read-back" -> (read(vectorized = true) == want),
      "record-reader read-back" -> (read(vectorized = false) == want))
    val bad = checks.filterNot(_._2).map(_._1)
    if (bad.nonEmpty)
      println(s"PageEncoderProps $k failed: ${bad.mkString(", ")}\n" +
        ours.zipAll(theirs, "", "").filter(p => p._1 != p._2)
          .map(p => s"  ours   ${p._1}\n  theirs ${p._2}").mkString("\n"))
    graft.TempCleanup.rmrf(new java.io.File(dir))
    if (bad.isEmpty) Some(ours) else None
  }

  private val genCase = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    rows <- Gen.oneOf(Gen.oneOf(1, 7, 19999, 20000, 20001, 40000), Gen.choose(1, 45000))
    maxBatch <- Gen.oneOf(1000, 4096, 30000)
    nulls <- Gen.listOfN(schema.length, Gen.oneOf(nullModes))
    values <- Gen.listOfN(schema.length, Gen.oneOf(valueModes))
  } yield Case(seed, rows, maxBatch, nulls, values)

  property("page encoder ≡ parquet-mr's column writers, read back from both heaps") =
    Prop.forAllNoShrink(genCase)(k => check(k).isDefined)

  property("page encoder edge layouts: page limit ± 1, fallbacks, extremes") = {
    val all = Seq.fill(schema.length)("none")
    val cases = Seq(
      // exactly one page, no nulls, small dictionaries
      Case(1L, 20000, 4096, all, Seq.fill(schema.length)("few")),
      // the limit ± 1 with mixed and sparse nulls straddling batches
      Case(2L, 19999, 3000, Seq("mixed", "sparse", "mixed", "none", "mixed", "sparse", "mixed"),
        Seq("few", "extreme", "unique", "unique", "few", "few", "unique")),
      Case(3L, 20001, 7001, Seq("sparse", "mixed", "none", "mixed", "none", "mixed", "none"),
        Seq("unique", "few", "extreme", "few", "few", "extreme", "few")),
      // a dictionary past its threshold mid-chunk (s1), long strings
      // closing pages by size (s2), unique ints (first-page PLAIN), an
      // all-null column and a null first page
      Case(4L, 45000, 5000, Seq("none", "all", "head", "none", "mixed", "none", "sparse"),
        Seq("unique", "few", "few", "unique", "few", "phased", "long")),
      // extremes, empty strings and bytes >= 0x80 across pages
      Case(5L, 41234, 2048, Seq("mixed", "none", "none", "head", "all", "none", "mixed"),
        Seq("extreme", "extreme", "extreme", "few", "few", "extreme", "few")))
    val got = cases.map(check)
    // the layouts really happened: s1 went PLAIN mid-chunk after a
    // dictionary-encoded first page, unique i32 went PLAIN on its first
    // page, and the all-null i16 chunk has no dictionary
    def chunk(k: Int, col: String) = got(k).toSeq.flatten.filter(_.startsWith(s"[$col]"))
    val layouts = chunk(3, "s1").exists(c => c.contains("PLAIN,") && c.contains("PLAIN_DICTIONARY")) &&
      chunk(3, "i32").forall(!_.contains("PLAIN_DICTIONARY")) && chunk(3, "i32").nonEmpty &&
      chunk(3, "i16").forall(c => !c.contains("PLAIN_DICTIONARY") && c.contains(" - ")) &&
      chunk(3, "i16").nonEmpty
    if (got.forall(_.isDefined) && layouts) Prop.proved else Prop.falsified
  }

  property("dictionary ids ≡ byte vectors: swapped, alternating, fallback, all-null, rollover") = {
    // the edge layouts' hardest shapes fed as dictionary ids: a
    // dictionary replaced every batch and two taking turns inside one
    // chunk, s1's PLAIN fallback after a dictionary-encoded first page,
    // all-null columns, and 256 KiB row groups that roll over mid-file
    val cases = Seq(
      Case(4L, 45000, 5000, Seq("none", "all", "head", "none", "mixed", "none", "sparse"),
        Seq("unique", "few", "few", "unique", "few", "phased", "long")),
      Case(6L, 30000, 3000, Seq("none", "none", "none", "none", "none", "mixed", "all"),
        Seq("few", "few", "few", "few", "few", "few", "few")),
      Case(7L, 41234, 2048, Seq("mixed", "none", "none", "head", "all", "none", "mixed"),
        Seq("extreme", "extreme", "extreme", "few", "few", "extreme", "unique")))
    val dir = java.nio.file.Files.createTempDirectory("pageenc-ids").toString
    def groups(f: String) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f),
        spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.size finally r.close()
    }
    val results = for {
      (k, i) <- cases.zipWithIndex
      rowGroup <- Seq(128L << 20, 256L << 10)
      layout <- dictLayouts
    } yield {
      val cols = columns(k)
      val base = s"$dir/$i-$rowGroup-$layout"
      val want = encoded(batches(cols, k, offHeap = false), s"$base-bytes.parquet", rowGroup)
      val got = encoded(dictBatches(cols, k, layout), s"$base-ids.parquet", rowGroup)
      val same = java.util.Arrays.equals(want, got)
      if (!same) println(s"PageEncoderProps ids: $k $layout rowGroup=$rowGroup: file bytes differ")
      // the shapes really happened: several row groups under the small
      // target, and case 4's s1 fell back to PLAIN after a dictionary page
      val shaped = (rowGroup > (1L << 20) || groups(s"$base-ids.parquet") > 1) &&
        (i != 0 || rowGroup < (1L << 20) || chunks(s"$base-ids.parquet")
          .exists(c => c.startsWith("[s1]") && c.contains("PLAIN,") && c.contains("PLAIN_DICTIONARY")))
      same && shaped
    }
    graft.TempCleanup.rmrf(new java.io.File(dir))
    if (results.forall(identity)) Prop.proved else Prop.falsified
  }
}
