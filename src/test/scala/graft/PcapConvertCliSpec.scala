package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.spark.PcapConvert

/** The convert CLI's argument surface: what `PcapConvert.parse` accepts,
  * refuses, and what the defaults write.
  */
class PcapConvertCliSpec extends SparkFunSuite {

  private val io = Array("-f", "in.pcap", "-o", "out.parquet")

  private def refused(argv: String*): String =
    intercept[IllegalArgumentException](PcapConvert.parse(argv.toArray)).getMessage

  test("parse: defaults, long and short flags") {
    val a = PcapConvert.parse(io)
    assert(a == PcapConvert.Args(file = "in.pcap", out = "out.parquet"))
    assert(a.compression == "zstd" && a.singleFile && !a.nodefrag && a.jobs == 0)
    val b = PcapConvert.parse(Array("--file", "x.pcapng", "--out", "y", "--nodefrag",
      "-j", "12", "--multi-file", "--manifest", "--compression", "snappy",
      "--reference-compat", "--verbose"))
    assert(b == PcapConvert.Args(file = "x.pcapng", out = "y", nodefrag = true,
      jobs = 12, verbose = true, singleFile = false, referenceCompat = true,
      manifest = true, compression = "snappy"))
  }

  test("parse: removed A/B flags are unknown args") {
    Seq("--cache", "--no-cache", "--row-path", "--row-write").foreach { f =>
      assert(refused(io :+ f: _*) == s"unknown arg: $f")
    }
  }

  test("parse: -j rejects negatives instead of falling back to defaultParallelism") {
    assert(refused(io ++ Seq("-j", "-1"): _*).contains("-j must be >= 0"))
    assert(PcapConvert.parse(io ++ Array("-j", "0")).jobs == 0)
  }

  test("parse: missing -f/-o and unbundled codecs fail before any work") {
    assert(refused("-f", "in.pcap").contains("usage"))
    assert(refused(io ++ Seq("-c", "brotli"): _*).contains("unknown or unbundled"))
  }

  test("convert writes zstd by default and snappy with -c snappy (parquet footer)") {
    val dir = Files.createTempDirectory("convcodec")
    val cap = dir.resolve("cap.pcap").toString
    graft.spark.PcapGen.write(cap, 2000)
    val hconf = spark.sessionState.newHadoopConf()
    def codecs(out: String): Set[String] = {
      val parts = Files.list(java.nio.file.Paths.get(out)).toArray
        .map(_.toString).filter(_.endsWith(".parquet"))
      assert(parts.nonEmpty, s"no parquet part files under $out")
      parts.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), hconf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
        finally r.close()
      }.toSet
    }
    Seq(Seq.empty[String] -> "ZSTD", Seq("-c", "snappy") -> "SNAPPY").foreach {
      case (extra, codec) =>
        val out = s"$dir/out-$codec.parquet"
        PcapConvert.run(spark, PcapConvert.parse(Array("-f", cap, "-o", out) ++ extra))
        assert(codecs(out) == Set(codec), extra)
    }
  }

  test("-o naming an input or a directory holding one is refused before anything is deleted") {
    val dir = Files.createTempDirectory("convoverlap")
    val caps = Files.createDirectories(dir.resolve("caps"))
    val cap = caps.resolve("part-00.pcap")
    graft.spark.PcapGen.write(cap.toString, 2000)
    val bytes = Files.readAllBytes(cap)
    for (in <- Seq(cap.toString, s"$caps/*.pcap");
         out <- Seq(caps.toString, s"$caps/", dir.toString, cap.toString)) {
      val msg = intercept[IllegalArgumentException](PcapConvert.run(spark,
        PcapConvert.parse(Array("-f", in, "-o", out, "-v")))).getMessage
      assert(msg.contains(s"-o file:${new Path(out).toUri.getPath} ") &&
        msg.contains(s"input file:$cap"), s"$in -> $out: $msg")
      assert(Files.readAllBytes(cap).sameElements(bytes), s"$in -> $out")
    }
    // a sibling of the capture's directory is not an overlap
    PcapConvert.run(spark, PcapConvert.parse(Array("-f", cap.toString, "-o", s"$dir/out")))
    assert(spark.read.parquet(s"$dir/out").count() == 2000L)
  }
}
