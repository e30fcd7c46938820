package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.spark.{PcapColumnarWrite, PcapSource}

/** Round-10 vector-direct parquet writer (verdict #4's measured
  * attempt): the write must be READ-identical to the standard
  * FileFormatWriter path on all 31 columns — same Spark schema back,
  * same values row-for-row — and must refuse (return false) when the
  * plan under the write is row-shaped, so the convert CLI can fall
  * back instead of transposing rows to vectors.
  */
class PcapColumnarWriteSpec extends SparkFunSuite {

  test("vector-written parquet reads back identical to the standard writer") {
    val dir = java.nio.file.Files.createTempDirectory("pcapvecw").toString
    graft.spark.PcapGen.write(s"$dir/cap.pcap", 20000)
    val df = spark.read.format("pcap").load(s"$dir/cap.pcap")
    assert(PcapColumnarWrite.write(df, s"$dir/vec.parquet", "snappy"))
    spark.read.format("pcap").load(s"$dir/cap.pcap")
      .write.mode("overwrite").parquet(s"$dir/row.parquet")
    val vec = spark.read.parquet(s"$dir/vec.parquet")
    val row = spark.read.parquet(s"$dir/row.parquet")
    // same Catalyst schema on read-back (field order matches the scan;
    // the INT64-micros timestamp reads as the same TimestampType the
    // INT96 legacy form does)
    assert(vec.schema == row.schema,
      s"schema drift:\n${vec.schema.treeString}\nvs\n${row.schema.treeString}")
    def canon(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("\u0000"))
    val (v, r) = (canon(vec), canon(row))
    assert(v.size == 20000 && v == r,
      s"value drift: ${v.diff(r).take(2)} vs ${r.diff(v).take(2)}")
    // NULL fidelity on a sparse column: both paths agree per column
    Seq("dns_qry_name", "udp_srcport", "ip_src").foreach { c =>
      assert(vec.filter(col(c).isNull).count() == row.filter(col(c).isNull).count(), c)
    }
  }

  test("row-group rollover: multi-batch partitions write multiple groups, rows intact") {
    val dir = java.nio.file.Files.createTempDirectory("pcapvecw2").toString
    graft.spark.PcapGen.write(s"$dir/cap.pcap", 60000)
    val df = spark.read.format("pcap")
      .option("decodePartitions", 2).load(s"$dir/cap.pcap")
    assert(PcapColumnarWrite.write(df, s"$dir/vec.parquet", "zstd",
      rowGroupBytes = 256L * 1024))
    val back = spark.read.parquet(s"$dir/vec.parquet")
    assert(back.count() == 60000)
    // the tiny row-group cap must have produced several groups in EVERY
    // part file (read from the footers), and the groups hold every row
    val conf = spark.sessionState.newHadoopConf()
    val parts = new java.io.File(s"$dir/vec.parquet").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    val groupRows = parts.toSeq.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq finally r.close()
    }
    assert(parts.length == 2 && groupRows.forall(_.size > 1),
      s"row groups per part file: ${groupRows.map(_.size)}")
    assert(groupRows.flatten.sum == 60000L, groupRows)
    assert(back.filter(col("col_protocol") === "DNS").count() ==
      df.filter(col("col_protocol") === "DNS").count())
  }

  test("singleFile coalesces at the RDD level: one file, batches stay columnar") {
    val dir = java.nio.file.Files.createTempDirectory("pcapvecw4").toString
    graft.spark.PcapGen.write(s"$dir/a.pcap", 8000)
    graft.spark.PcapGen.write(s"$dir/b.pcap", 8000, 1700000009000000L)
    val df = spark.read.format("pcap").load(s"$dir/*.pcap")
    assert(PcapColumnarWrite.write(df, s"$dir/one.parquet", "snappy",
      singleFile = true))
    val parts = new java.io.File(s"$dir/one.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.length == 1, parts.mkString(", "))
    assert(spark.read.parquet(s"$dir/one.parquet").count() == 16000)
  }

  test("row-shaped plans refuse so the caller falls back to the standard writer") {
    val dir = java.nio.file.Files.createTempDirectory("pcapvecw3").toString
    graft.spark.PcapGen.write(s"$dir/cap.pcap", 5000)
    val rows = spark.read.format("pcap").load(s"$dir/cap.pcap")
      .groupBy("col_protocol").count()
    assert(!PcapColumnarWrite.write(rows, s"$dir/never.parquet", "snappy"))
    assert(!new java.io.File(s"$dir/never.parquet/_SUCCESS").exists())
  }

  test("rebatch: the row-shaped defrag-join plan rides the vector write, read-identical") {
    // round 11 (verdict task 2): the reference's own headline workload —
    // heavily fragmented, defrag join runs — produces a row-shaped plan;
    // with rebatch the rows transpose through RowToColumnarExec and the
    // vector write must be READ-identical to the standard writer on all
    // 31 columns, including the six the join patched
    val dir = java.nio.file.Files.createTempDirectory("pcapvecw5").toString
    graft.spark.PcapGen.write(s"$dir/cap.pcap", 20000)
    def defragged() = graft.spark.Defrag(
      spark.read.format("pcap").load(s"$dir/cap.pcap"), thresholdPct = 0.0)
    val df = defragged()
    // without rebatch the join plan still refuses (the round-10 contract)
    assert(!PcapColumnarWrite.write(df, s"$dir/refuse.parquet", "snappy"))
    assert(PcapColumnarWrite.write(defragged(), s"$dir/vec.parquet", "snappy",
      rebatch = true))
    defragged().write.mode("overwrite").parquet(s"$dir/row.parquet")
    val vec = spark.read.parquet(s"$dir/vec.parquet")
    val row = spark.read.parquet(s"$dir/row.parquet")
    assert(vec.schema == row.schema,
      s"schema drift:\n${vec.schema.treeString}\nvs\n${row.schema.treeString}")
    def canon(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString(" "))
    val (v, r) = (canon(vec), canon(row))
    assert(v.size == r.size && v == r,
      s"value drift: ${v.diff(r).take(2)} vs ${r.diff(v).take(2)}")
    // the patched L7 columns must show the defrag back-fill in both
    assert(vec.filter(col("dns_qry_name").isNotNull).count() ==
      row.filter(col("dns_qry_name").isNotNull).count())
    // no in-progress temp files left behind by the commit protocol
    val leftovers = new java.io.File(s"$dir/vec.parquet").listFiles()
      .filter(_.getName.endsWith(".inprogress"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("outputOrder: writer-side column permutation, values intact (round 13)") {
    val dir = java.nio.file.Files.createTempDirectory("pcapvecperm").toString
    graft.spark.PcapGen.write(s"$dir/cap.pcap", 5000)
    val df = spark.read.format("pcap").load(s"$dir/cap.pcap")
    val order = graft.spark.Defrag.defraggedOrder(df.columns.toSeq)
    assert(PcapColumnarWrite.write(df, s"$dir/perm.parquet", "snappy",
      outputOrder = Some(order)))
    assert(PcapColumnarWrite.write(df, s"$dir/plain.parquet", "snappy"))
    val perm = spark.read.parquet(s"$dir/perm.parquet")
    val plain = spark.read.parquet(s"$dir/plain.parquet")
    // the parquet carries the permuted order; values are identical once
    // re-projected to a common order
    assert(perm.columns.toSeq == order)
    def canon(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.selectExpr(d.columns.sorted.map(c => s"`$c`"): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString(" "))
    assert(canon(perm) == canon(plain))
    // a non-permutation must fail fast, before any task launches
    intercept[IllegalArgumentException] {
      PcapColumnarWrite.write(df, s"$dir/bad.parquet", "snappy",
        outputOrder = Some(order.tail))
    }
    ()
  }
}
