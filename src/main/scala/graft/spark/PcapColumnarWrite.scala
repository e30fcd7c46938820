package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.{CodecFactory, ColumnChunkPageWriteStore, ParquetFileWriter}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

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
  * Plan shapes (round 11): when the plan below the write is still
  * columnar (the nodefrag / defrag-skip convert shapes) the vectors
  * feed straight through. A row-shaped plan (the shuffle-fallback
  * defrag join's output) REFUSES by
  * default, but with `rebatch = true` it is wrapped in Spark's
  * [[org.apache.spark.sql.execution.RowToColumnarExec]]: rows transpose
  * into fresh ColumnVectors once (cheap primitive-array appends), and
  * the write still skips ColumnarToRow + per-row record assembly
  * (ParquetWriteSupport's RecordConsumer walk) — measured ~15% ahead of
  * the row writer on the 10M broadcast branch and ahead on the 100M
  * shuffle-bypass branch (round 11, interleaved).
  *
  * Commit protocol: each task writes a dot-prefixed temp file (readers
  * and `*.parquet` globs skip dot-files) and renames it into place only
  * after the footer is written; on failure the stream is closed and
  * only the temp file is deleted — a late-failing zombie attempt can
  * never clobber a concurrent successful attempt's finished file, and
  * a rename that loses the race to an identical speculative twin
  * quietly drops its own temp. Still not a general-purpose committer
  * (no job-level commit protocol); the convert CLI is a single-attempt
  * local batch job, which is exactly the contract the reference's own
  * writer has (pcap-converter writes local files, main.rs:22-43).
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
    * defrag-join shape rides the vector write too (see class doc).
    * Row-group target mirrors Spark's 128 MiB.
    * `singleFile` funnels every batch through ONE task via an RDD-level
    * coalesce — no shuffle, batches stay columnar — so the CLI's default
    * single-file output rides the vector path too (a DataFrame-level
    * coalesce(1) would plan a row-shaped CoalesceExec instead).
    */
  /** `outputOrder` (round 13): write the parquet columns in this name
    * order instead of the frame's — a WRITER-side permutation, so a
    * column reorder (the defragged patched-at-end layout) costs nothing
    * in the PLAN (a `select` reorder over the columnar scan would plan
    * a Project → ColumnarToRow → the very rebatch the broadcast-patch
    * path exists to avoid). Must be a permutation of the frame's
    * columns.
    */
  /** `fragCounters` (round 13, the speculative single-pass convert):
    * (total, fragmented) LongAccumulators the write tasks feed per
    * batch from the ip_frag_offset/ip_mf vectors — the defrag stats
    * ride the OUTPUT write instead of their own pass, so an
    * unfragmented capture converts in one read. Requires both columns
    * in the frame.
    */
  def write(df: DataFrame, out: String, compression: String,
      rowGroupBytes: Long = 128L * 1024 * 1024,
      singleFile: Boolean = false,
      rebatch: Boolean = false,
      outputOrder: Option[Seq[String]] = None,
      fragCounters: Option[(org.apache.spark.util.LongAccumulator,
        org.apache.spark.util.LongAccumulator)] = None): Boolean = {
    val plan = columnarChild(df) match {
      case Some(p) => p
      case None if rebatch =>
        org.apache.spark.sql.execution.RowToColumnarExec(
          df.queryExecution.executedPlan)
      case None => return false
    }
    val frameSchema = df.schema
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
    val spark = df.sparkSession
    val hconf = spark.sessionState.newHadoopConf()
    // broadcast, not captured: a closure copy would ride every task
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    val outDir = new Path(out)
    val fs = outDir.getFileSystem(hconf)
    if (fs.exists(outDir)) fs.delete(outDir, true) // overwrite semantics
    fs.mkdirs(outDir)
    val schemaB = spark.sparkContext.broadcast(schema.json)
    val rdd0 = plan.executeColumnar()
    val rdd = if (singleFile) rdd0.coalesce(1) else rdd0
    // frag-stats ordinals resolved in the PERMUTED schema (what the
    // tasks see); fail fast if the columns were projected away
    val fragOrds = fragCounters.map { _ =>
      (schema.fieldIndex("ip_frag_offset"), schema.fieldIndex("ip_mf"))
    }
    rdd.foreachPartition { (it: Iterator[ColumnarBatch]) =>
      val sc = DataType.fromJson(schemaB.value).asInstanceOf[StructType]
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
      writePartition(it, sc, perm, file, confB.value.value, codec, rowGroupBytes,
        observer)
    }
    // SUCCESS marker for parity with the standard committer's layout
    fs.create(new Path(outDir, "_SUCCESS"), true).close()
    true
  }

  private[graft] def writePartition(it: Iterator[ColumnarBatch], schema: StructType,
      perm: Array[Int],
      file: Path, conf: Configuration, codec: CompressionCodecName,
      rowGroupBytes: Long,
      observer: ColumnarBatch => Unit = _ => ()): Unit = {
    val msg = messageType(schema)
    val props = ParquetProperties.builder().build()
    val fs = file.getFileSystem(conf)
    // temp+rename commit: the dot prefix hides the in-progress file from
    // parquet globs and the task-attempt id keeps a zombie/speculative
    // twin's temp from colliding with a live attempt's
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    val tmp = new Path(file.getParent, s".${file.getName}.a$attempt.inprogress")
    val writer = new ParquetFileWriter(conf, msg, tmp,
      ParquetFileWriter.Mode.OVERWRITE)
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
        try { fs.delete(tmp, false); () } catch { case _: Throwable => () }
      }
    }
    // commit: reached only on success (an exception above propagates
    // past this point after the finally's temp cleanup)
    if (!fs.rename(tmp, file)) {
      if (fs.exists(file)) {
        // lost the race to a concurrent successful attempt of the same
        // partition — its bytes are identical ONLY because write()
        // clears the out dir before launching tasks (line ~144), so any
        // occupant is a twin of this attempt. That invariant is
        // load-bearing: assert it (byte length match) so a future
        // caller reusing a dirty dir fails loudly instead of silently
        // keeping stale data (review finding). Note RawLocalFileSystem's
        // rename(2) OVERWRITES, so this branch is FS-dependent and may
        // never run on local disks.
        val kept = fs.getFileStatus(file).getLen
        val ours = fs.getFileStatus(tmp).getLen
        if (kept != ours)
          throw new java.io.IOException(
            s"PcapColumnarWrite: $file already exists with ${kept}B but " +
              s"this attempt wrote ${ours}B — the occupant is NOT a twin " +
              "of this partition (out dir reused without clearing?)")
        try { fs.delete(tmp, false); () } catch { case _: Throwable => () }
      } else {
        try { fs.delete(tmp, false); () } catch { case _: Throwable => () }
        throw new java.io.IOException(
          s"PcapColumnarWrite: commit rename $tmp -> $file failed")
      }
    }
  }
}
