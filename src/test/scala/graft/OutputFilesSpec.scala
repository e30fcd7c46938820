package graft

import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.core.PacketSchema
import graft.sources.PcapDirectScan
import graft.spark.{PcapColumnarWrite, PcapConvert}

/** Hadoop's raw local FileSystem under the `testfs:` scheme: a non-`file`
  * scheme on local disk, so the writer's Hadoop arm can be compared with
  * its java.nio arm on the same bytes.
  */
class TestSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("testfs:///")
  override def getScheme: String = "testfs"
}

object OutputFilesSpec {
  /** Set by a failing task when it saw its own temp file. */
  val sawTemp = new AtomicBoolean(false)

  /** `it`'s first batch, then an injected failure that first records
    * whether `dir` holds an in-progress temp file. */
  def failAfterFirst(it: Iterator[ColumnarBatch], dir: String): Iterator[ColumnarBatch] =
    it.take(1) ++ Iterator.single(()).map { _ =>
      sawTemp.set(Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .exists(_.getFileName.toString.endsWith(".inprogress")))
      throw new IllegalStateException("injected task failure")
    }
}

/** The convert's output files ([[graft.core.OutputFiles]]): a `file:`
  * output is written, renamed and marked through java.nio, so it starts
  * no child process and leaves no `.crc` sidecar; any other scheme keeps
  * Hadoop's calls and writes the same rows and chunk metadata.
  */
class OutputFilesSpec extends SparkFunSuite {

  private def tree(root: NioPath): Seq[NioPath] =
    Files.walk(root).iterator().asScala.toSeq

  /** `conf` with `testfs:` registered: the spec's own configuration, not
    * the session's. */
  private def testfsConf(): Configuration = {
    val c = new Configuration(spark.sessionState.newHadoopConf())
    c.set("fs.testfs.impl", classOf[TestSchemeFileSystem].getName)
    c.setBoolean("fs.testfs.impl.disable.cache", true)
    c
  }

  private def scan(cap: String, shards: Int) = new PcapDirectScan(spark,
    spark.sessionState.newHadoopConf(), Seq(cap), refCompat = false, shards)

  test("local converts start no process that names the output or the capture (patch and -n)") {
    val dir = Files.createTempDirectory("nofork")
    val cap = dir.resolve("cap.pcap").toString
    graft.spark.PcapGen.write(cap, 20000)
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      // the patch branch (30% fragmented), with the cold capture's
      // frame-index sidecar written beside it, then -n
      PcapConvert.run(spark, PcapConvert.parse(Array("-f", cap, "-o", s"$dir/patch")))
      PcapConvert.run(spark, PcapConvert.parse(
        Array("-f", cap, "-o", s"$dir/nodefrag", "-n", "--multi-file")))
      // the recording sees process starts: this one names the directory
      new ProcessBuilder("true", dir.toString).start().waitFor()
    } finally rec.stop()
    val dump = dir.resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
    assert(commands.filter(_.contains(dir.toString)) == Seq(s"true $dir"),
      commands.mkString("\n"))
    assert(Files.exists(dir.resolve(".fidx/cap.pcap.fidx")))
    Seq("patch", "nodefrag").foreach { o =>
      assert(spark.read.parquet(s"$dir/$o").count() == 20000L, o)
    }
  }

  test("the Hadoop arm (testfs:) writes the local arm's rows and chunk metadata; no .crc locally") {
    val dir = Files.createTempDirectory("outarms")
    val cap = dir.resolve("cap.pcap").toString
    graft.spark.PcapGen.write(cap, 30000)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(testfsConf()))
    val schema = PacketSchema.schema
    val s = scan(cap, 3)
    PcapColumnarWrite.writeBatches(s.batches(schema, None), schema,
      s"$dir/local", "zstd", conf)
    PcapColumnarWrite.writeBatches(s.batches(schema, None), schema,
      s"testfs://$dir/hadoop", "zstd", conf)
    def names(o: String) = Files.list(dir.resolve(o)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val parts = names("local").filter(_.endsWith(".parquet"))
    assert(parts.size == 3 && names("local") == ("_SUCCESS" +: parts) &&
      names("hadoop") == names("local"), s"${names("local")} vs ${names("hadoop")}")
    assert(!tree(dir.resolve("local")).exists(_.toString.endsWith(".crc")))
    val hconf = spark.sessionState.newHadoopConf()
    /** Per row group: rows, then per column chunk what the footer says
      * about it (encodings as a set: their list order is not fixed). */
    def footer(f: NioPath): Seq[(Long, Seq[Seq[Any]])] = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toString), hconf))
      try r.getFooter.getBlocks.asScala.toSeq.map { b =>
        (b.getRowCount, b.getColumns.asScala.toSeq.map { c =>
          Seq(c.getPath.toDotString, c.getPrimitiveType, c.getCodec,
            c.getEncodings.asScala.toSet, c.getStatistics, c.getValueCount,
            c.getStartingPos, c.getTotalSize, c.getTotalUncompressedSize)
        })
      } finally r.close()
    }
    parts.foreach { p =>
      val (l, h) = (dir.resolve("local").resolve(p), dir.resolve("hadoop").resolve(p))
      assert(footer(l) == footer(h), p)
      assert(spark.read.parquet(l.toString).collect().toSeq ==
        spark.read.parquet(h.toString).collect().toSeq, p)
    }
  }

  test("a failing write task leaves no temp file and no final file, in both arms") {
    val dir = Files.createTempDirectory("outfail")
    val cap = dir.resolve("cap.pcap").toString
    graft.spark.PcapGen.write(cap, 20000)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(testfsConf()))
    val schema = PacketSchema.schema
    for ((arm, out) <- Seq("local" -> s"$dir/local", "hadoop" -> s"testfs://$dir/hadoop")) {
      val local = dir.resolve(arm)
      val localDir = local.toString
      // one task: the job fails only after that task's cleanup ran
      val failing: RDD[ColumnarBatch] = scan(cap, 1).batches(schema, None)
        .mapPartitions(it => OutputFilesSpec.failAfterFirst(it, localDir))
      OutputFilesSpec.sawTemp.set(false)
      val e = intercept[org.apache.spark.SparkException] {
        PcapColumnarWrite.writeBatches(failing, schema, out, "zstd", conf)
      }
      assert(e.getMessage.contains("injected task failure"), arm)
      assert(OutputFilesSpec.sawTemp.get, s"$arm: no temp file while writing")
      assert(Files.list(local).count() == 0L,
        s"$arm: ${Files.list(local).iterator().asScala.mkString(", ")}")
    }
  }
}
