package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter,
  ParquetWriter}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

import graft.core.OutputFiles

/** Vector-direct parquet writer for the pcap convert path: the DSv2
  * scan already emits `ColumnarBatch`es, but Spark's FileFormatWriter
  * accepts rows only — so the default write pays ColumnarToRow + per-row
  * record assembly (ParquetWriteSupport walks every field of every row
  * through a RecordConsumer). This sink hands the batch VECTORS to a
  * [[PageEncoder]], which builds whole V1 data pages per column in one
  * type-specialised loop (dictionary, levels, page statistics) and
  * passes them to parquet-mr's `ColumnChunkPageWriteStore` for
  * compression, CRCs, indexes and the footer — no InternalRow, no record
  * assembly, no per-value call into parquet-mr.
  *
  * Scope (deliberate): the flat 31-column packet schema, local/Hadoop
  * paths, one file per scan partition, snappy/zstd/gzip/lz4/uncompressed.
  * Timestamps are written as INT64 TIMESTAMP(MICROS, UTC-adjusted)
  * rather than Spark's legacy INT96 — every reader in the gate (Spark,
  * DuckDB) reads both as the same µs instant, and the µs long is what
  * the vector already holds.
  *
  * Two entry points over one core ([[writeBatches]]: an
  * `RDD[ColumnarBatch]` + its schema). The convert's speculated, skip,
  * patch and `-n` writes call it directly with the batches of its
  * plan-free scan ([[graft.sources.PcapDirectScan]]) — nothing is
  * planned. [[write]] is the DataFrame adapter: when the plan below the
  * write is still columnar the plan's vectors feed straight through; a
  * row-shaped plan (the shuffle-fallback defrag join's output) REFUSES
  * by default, but with `rebatch = true` it is wrapped in Spark's
  * [[org.apache.spark.sql.execution.RowToColumnarExec]]: rows transpose
  * into fresh ColumnVectors once (cheap primitive-array appends), and
  * the write still skips ColumnarToRow + per-row record assembly
  * (ParquetWriteSupport's RecordConsumer walk) — measured ~15% ahead of
  * the row writer on the 10M broadcast branch and ahead on the 100M
  * shuffle-bypass branch (round 11, interleaved).
  *
  * Commit protocol: the driver resets the output directory (deletes it,
  * then creates it empty) before any task starts. Each task writes a
  * dot-prefixed temp file (readers and `*.parquet` globs skip dot-files),
  * writes the footer only on success and then renames the temp file to
  * its final name; on failure the stream is closed and only the temp
  * file is deleted, so a late-failing zombie attempt can never clobber a
  * concurrent successful attempt's finished file. After the job the
  * driver writes `_SUCCESS`, last. Still not a general-purpose committer
  * (no job-level commit protocol); the convert CLI is a single-attempt
  * local batch job, which is exactly the contract the reference's own
  * writer has (pcap-converter writes local files through a plain file
  * handle, main.rs:22-43, statswriter.rs).
  *
  * Every one of those file operations goes through
  * [[graft.core.OutputFiles]]. A `file:` path is written, renamed and
  * marked through java.nio (parquet-mr's `LocalOutputFile`, an atomic
  * `Files.move`): Hadoop's `LocalFileSystem` would start a `chmod` child
  * process for the directory, for every part file and for every part's
  * `.crc` checksum sidecar, since Spark ships no libhadoop. So local
  * outputs carry no `.crc` files and their modes follow the umask. Any
  * other scheme keeps Hadoop's calls, and there a rename that loses the
  * race to an identical speculative twin quietly drops its own temp.
  * Both arms build the file writer with the same row-group size,
  * padding, truncate lengths and page checksums, so the chunk metadata
  * is the same; only the Hadoop arm pads row groups to its block size
  * (a local file reports none).
  */
object PcapColumnarWrite {

  /** parquet MessageType mirroring how Spark maps [[PacketSchema]]'s
    * Catalyst types (INT(16) annotation for shorts, STRING for strings)
    * except the timestamp (INT64 micros, above).
    */
  private[graft] def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case TimestampType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
        case LongType => Types.optional(PrimitiveTypeName.INT64)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case ShortType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(16, true))
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(PrimitiveTypeName.BINARY)
        case other => throw new IllegalArgumentException(
          s"PcapColumnarWrite: unsupported column type $other for ${f.name}")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  /** The columnar child of `df`'s executed plan, or None when the plan
    * is row-shaped anywhere below the top (then the standard writer is
    * the right path — converting rows BACK to vectors would pay the
    * transposition this sink exists to skip).
    */
  private def columnarChild(df: DataFrame): Option[SparkPlan] = {
    def unwrap(p: SparkPlan): Option[SparkPlan] = p match {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => unwrap(c.child)
      case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
      case other => if (other.supportsColumnar) Some(other) else None
    }
    unwrap(df.queryExecution.executedPlan)
  }

  /** Write `df` as parquet at `out` through the vector path; false when
    * the plan is not columnar end-to-end (caller falls back to the
    * standard writer) — unless `rebatch` is set, which re-batches a
    * row-shaped plan's output through [[RowToColumnarExec]] so the
    * defrag-join shape rides the vector write too (see class doc). The
    * adapter over [[writeBatches]]: it resolves the plan, broadcasts the
    * session's Hadoop configuration and hands the plan's batches on.
    */
  def write(df: DataFrame, out: String, compression: String,
      rowGroupBytes: Long = 128L * 1024 * 1024,
      singleFile: Boolean = false,
      rebatch: Boolean = false,
      outputOrder: Option[Seq[String]] = None,
      fragCounters: Option[(LongAccumulator, LongAccumulator)] = None): Boolean = {
    val plan = columnarChild(df) match {
      case Some(p) => p
      case None if rebatch =>
        org.apache.spark.sql.execution.RowToColumnarExec(
          df.queryExecution.executedPlan)
      case None => return false
    }
    val spark = df.sparkSession
    // broadcast, not captured: a closure copy would ride every task
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    writeBatches(plan.executeColumnar(), df.schema, out, compression, conf,
      rowGroupBytes, singleFile, outputOrder, fragCounters)
    true
  }

  /** The vector write itself: `batches` (columns in `frameSchema` order)
    * become parquet part files under `out`, one per partition, each
    * committed by temp+rename, then `_SUCCESS`. `conf` is the broadcast
    * Hadoop configuration the tasks open files with (the convert passes
    * the one its scan broadcast). Row-group target mirrors Spark's
    * 128 MiB.
    *
    * `singleFile` funnels every batch through ONE task via an RDD-level
    * coalesce — no shuffle, batches stay columnar — so the CLI's default
    * single-file output rides the vector path too (a DataFrame-level
    * coalesce(1) would plan a row-shaped CoalesceExec instead).
    *
    * `outputOrder` (round 13): write the parquet columns in this name
    * order instead of the frame's — a WRITER-side permutation, so a
    * column reorder (the defragged patched-at-end layout) costs nothing
    * in the PLAN (a `select` reorder over the columnar scan would plan
    * a Project → ColumnarToRow → the very rebatch the broadcast-patch
    * path exists to avoid). Must be a permutation of the frame's
    * columns.
    *
    * `fragCounters` (round 13, the speculative single-pass convert):
    * (total, fragmented) LongAccumulators the write tasks feed per
    * batch from the ip_frag_offset/ip_mf vectors — the defrag stats
    * ride the OUTPUT write instead of their own pass, so an
    * unfragmented capture converts in one read. Requires both columns
    * in the frame.
    */
  def writeBatches(batches: RDD[ColumnarBatch], frameSchema: StructType,
      out: String, compression: String,
      conf: Broadcast[SerializableConfiguration],
      rowGroupBytes: Long = 128L * 1024 * 1024,
      singleFile: Boolean = false,
      outputOrder: Option[Seq[String]] = None,
      fragCounters: Option[(LongAccumulator, LongAccumulator)] = None): Unit = {
    val (schema, perm) = outputOrder match {
      case None => (frameSchema, frameSchema.indices.toArray)
      case Some(order) =>
        require(order.sorted == frameSchema.fieldNames.toSeq.sorted,
          s"outputOrder must permute the frame's columns; got $order " +
            s"over ${frameSchema.fieldNames.mkString(",")}")
        (StructType(order.map(n => frameSchema(n))),
          order.map(frameSchema.fieldIndex).toArray)
    }
    val codec = compression.toLowerCase(java.util.Locale.ROOT) match {
      case "none" | "uncompressed" => CompressionCodecName.UNCOMPRESSED
      case "snappy" => CompressionCodecName.SNAPPY
      case "gzip" => CompressionCodecName.GZIP
      case "lz4" | "lz4_raw" => CompressionCodecName.LZ4_RAW
      case "zstd" => CompressionCodecName.ZSTD
      case other => throw new IllegalArgumentException(
        s"PcapColumnarWrite: unsupported codec $other")
    }
    val outDir = new Path(out)
    val files = OutputFiles(outDir, conf.value.value)
    files.resetDir(outDir) // overwrite semantics
    val rdd = if (singleFile) batches.coalesce(1) else batches
    // frag-stats ordinals resolved in the PERMUTED schema (what the
    // tasks see); fail fast if the columns were projected away
    val fragOrds = fragCounters.map { _ =>
      (schema.fieldIndex("ip_frag_offset"), schema.fieldIndex("ip_mf"))
    }
    rdd.foreachPartition { (it: Iterator[ColumnarBatch]) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val file = new Path(outDir,
        f"part-$pid%05d-vec.${codec.name.toLowerCase}.parquet")
      val observer: ColumnarBatch => Unit = (fragCounters, fragOrds) match {
        case (Some((total, frag)), Some((offOrd, mfOrd))) => batch => {
          val n = batch.numRows()
          // the batch columns are in FRAME order; map through perm
          val off = batch.column(perm(offOrd))
          val mf = batch.column(perm(mfOrd))
          var fragN = 0L
          var r = 0
          while (r < n) {
            // fragmentedCond: (offset = 0 AND mf) OR offset > 0; both
            // columns are non-null vectors (PacketSchema defaults)
            val o = off.getInt(r)
            if (o > 0 || (o == 0 && mf.getBoolean(r))) fragN += 1L
            r += 1
          }
          total.add(n.toLong)
          frag.add(fragN)
        }
        case _ => _ => ()
      }
      writePartition(it, schema, perm, file, conf.value.value, codec, rowGroupBytes,
        observer)
    }
    // SUCCESS marker for parity with the standard committer's layout
    files.touch(new Path(outDir, "_SUCCESS"))
  }

  private[graft] def writePartition(it: Iterator[ColumnarBatch], schema: StructType,
      perm: Array[Int],
      file: Path, conf: Configuration, codec: CompressionCodecName,
      rowGroupBytes: Long,
      observer: ColumnarBatch => Unit = _ => ()): Unit = {
    val msg = messageType(schema)
    val props = ParquetProperties.builder().build()
    val files = OutputFiles(file, conf)
    // temp+rename commit: the dot prefix hides the in-progress file from
    // parquet globs and the task-attempt id keeps a zombie/speculative
    // twin's temp from colliding with a live attempt's
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    val tmp = new Path(file.getParent, s".${file.getName}.a$attempt.inprogress")
    // the values ParquetFileWriter(conf, schema, path, mode) resolves
    val writer = new ParquetFileWriter(files.parquetFile(tmp), msg,
      ParquetFileWriter.Mode.OVERWRITE, ParquetWriter.DEFAULT_BLOCK_SIZE,
      ParquetWriter.MAX_PADDING_SIZE_DEFAULT,
      ParquetProperties.DEFAULT_COLUMN_INDEX_TRUNCATE_LENGTH,
      ParquetProperties.DEFAULT_STATISTICS_TRUNCATE_LENGTH,
      ParquetProperties.DEFAULT_PAGE_WRITE_CHECKSUM_ENABLED)
    val enc = new PageEncoder(schema, msg, props)
    var codecFactory: CodecFactory = null
    var ok = false
    try {
      writer.start()
      codecFactory = new CodecFactory(conf, props.getPageSizeThreshold)
      val compressor = codecFactory.getCompressor(codec)
      var store: ColumnChunkPageWriteStore = null
      def openGroup(): Unit = {
        store = new ColumnChunkPageWriteStore(compressor, msg,
          props.getAllocator, props.getColumnIndexTruncateLength)
        enc.startGroup(store)
      }
      def closeGroup(): Unit = {
        // a rollover that lands exactly on the last batch leaves a
        // freshly opened EMPTY group: no block to write, but the store's
        // page buffers still need releasing
        if (enc.rows > 0) {
          writer.startBlock(enc.rows)
          enc.endGroup()
          store.flushToFileWriter(writer)
          writer.endBlock()
        }
        store.close()
      }
      openGroup()
      while (it.hasNext) {
        val batch = it.next()
        if (batch.numRows() > 0) {
          observer(batch)
          enc.write(batch, perm) // writer-side column permutation
          if (enc.bufferedSize > rowGroupBytes) {
            closeGroup(); openGroup()
          }
        }
      }
      closeGroup()
      // footer ONLY on success: ending the file in a finally block would
      // stamp a valid footer over whatever groups survived a mid-write
      // failure — a silently short file any *.parquet glob reads as good
      // data (review finding); a footer-write failure would additionally
      // mask the root cause
      writer.end(new java.util.HashMap[String, String]())
      ok = true
    } finally {
      enc.close()
      if (codecFactory != null) codecFactory.release()
      if (!ok) {
        // close the underlying output stream (end() never ran), then
        // delete ONLY the temp file — never anything at the final name;
        // swallow secondary errors so the ORIGINAL exception propagates
        try writer.close() catch { case _: Throwable => () }
        try files.delete(tmp) catch { case _: Throwable => () }
      }
    }
    // commit: reached only on success (an exception above propagates
    // past this point after the finally's temp cleanup)
    files.commit(tmp, file)
  }
}
