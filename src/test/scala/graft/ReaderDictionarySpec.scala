package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.core.{DictVector, PacketSchema, RawFrame}
import graft.dissect.PacketDissector
import graft.sources.{PcapColumnarReader, PcapDirectScan}
import graft.spark.{Defrag, PcapConvert, PcapSource}
import PcapFixtures._

/** The pcap reader hands its string columns on as dictionary ids
  * ([[DictVector]]). Every way of reading them must see the strings
  * `PacketDissector.dissect` gives, and the reader's dictionaries must
  * stay bounded without changing the convert's output.
  */
class ReaderDictionarySpec extends SparkFunSuite {

  private val stringCols = Seq("ip_src", "ip_dst", "tcp_flags", "col_source",
    "col_destination", "col_protocol", "dns_qry_name", "dhip_device", "pcap_file")

  /** IPv4 and IPv6 addresses that repeat, DNS names that repeat and some
    * that do not, DHIP, TCP with every flag byte, and UDP first
    * fragments; 9,000 frames, so a read spans several batches.
    */
  private def mixedCapture: Seq[(Long, Array[Byte])] = {
    val rnd = new scala.util.Random(7)
    def v4(i: Int) = s"10.${i / 256 % 256}.${i % 256}.${1 + i % 200}"
    def v6(i: Int) = Array(0x2001, 0xdb8, 0, i % 7, 0, 0, 0, 1 + i % 50)
    (0 until 9000).map { i =>
      val src = v4(rnd.nextInt(300))
      val dst = v4(rnd.nextInt(40))
      val pkt = i % 6 match {
        case 0 => ethernet(0x0800, ipv4(src, dst, 17, udp(4000 + i % 100, 53,
          dnsQuery(if (i % 12 == 0) s"u$i.unique.example" else s"q${rnd.nextInt(200)}.example.com", 1))))
        case 1 => ethernet(0x86dd, ipv6(v6(rnd.nextInt(60)), v6(rnd.nextInt(60)), 17,
          udp(5353, 53, dnsQuery(s"v6q${rnd.nextInt(30)}.example.org", 28))))
        case 2 => ethernet(0x0800, ipv4(src, dst, 17,
          udp(37810, 5050, dhipDiscover(s"IPC-${rnd.nextInt(5)}"))))
        case 3 => ethernet(0x0800, ipv4(src, dst, 6, tcp(443, 1000 + i % 5000, i % 256)))
        case 4 => ethernet(0x0800, ipv4(src, dst, 17,
          udp(53, 40000 + i % 1000, dnsQuery(s"frag${rnd.nextInt(50)}.example.net", 1)),
          id = i % 65536, mf = true))
        case _ => ethernet(0x86dd, ipv6(v6(rnd.nextInt(60)), v6(i), 6, tcp(80, 2000, 0x18)))
      }
      (1000000L + i, pkt)
    }
  }

  private def write(name: String, frames: Seq[(Long, Array[Byte])]): Path = {
    val dir = Files.createTempDirectory("readerdict")
    val p = dir.resolve(name)
    Files.write(p, legacyPcap(frames.map { case (ts, b) => (ts, -1, b) }))
    p
  }

  /** frame_time (µs) → the string columns, as the dissector gives them. */
  private def dissected(frames: Seq[(Long, Array[Byte])], file: String): Map[Long, Seq[String]] =
    frames.map { case (ts, b) =>
      val r = PacketDissector.dissect(RawFrame(ts, b.length.toLong, b, 1))
      ts -> Seq(r.ipSrc, r.ipDst, r.tcpFlags, r.ipSrc, r.ipDst, r.colProtocol,
        r.dnsQryName, r.dhipDevice, Some(file)).map(_.orNull)
    }.toMap

  private def strings(df: DataFrame): Map[Long, Seq[String]] =
    df.selectExpr(("unix_micros(frame_time)" +: stringCols): _*).collect()
      .map(r => r.getLong(0) -> (1 to stringCols.size).map(r.getString)).toMap

  test("string columns: batch, sharded, bytes mode, streaming and the stats pass ≡ dissect") {
    val frames = mixedCapture
    val p = write("mixed.pcap", frames)
    val want = dissected(frames, "mixed.pcap")
    def load(opts: (String, String)*) =
      opts.foldLeft(spark.read.format("pcap"))((r, kv) => r.option(kv._1, kv._2)).load(p.toString)
    assert(strings(load()) == want)
    assert(strings(load("decodePartitions" -> "3")) == want)
    assert(strings(load("bytes" -> "true")) == want)

    val name = "reader_dict_stream"
    val q = spark.readStream.format("pcap").load(p.getParent.toString)
      .selectExpr(("frame_time" +: stringCols): _*)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      assert(strings(spark.table(name)) == want)
    } finally q.stop()

    // the convert's fused stats pass reads the ff-gated scan's rows
    val hconf = spark.sessionState.newHadoopConf()
    val ff = new PcapDirectScan(spark, hconf, Seq(p.toString), false, 2)
      .firstFragmentRows(PcapSource.statsMetrics(spark))
      .map { r =>
        val s = (i: Int) => Option(r.getUTF8String(i)).map(_.toString).orNull
        (r.getLong(3), Seq(s(0), s(1), s(8), s(9)))
      }.collect().toMap
    val wantFF = want.collect { case (t, v) if (t - 1000000L) % 6 == 4 =>
      t -> Seq(v(0), v(1), v(6), v(5)) }
    assert(ff.size == 1500)
    assert(ff == wantFF)
  }

  test("memory guard: distinct long qnames swap the reader dictionary mid-partition; the convert ≡ Defrag.defrag") {
    // 24,000 DNS queries with distinct ~110-byte names (about 2.7 MB of
    // names, past the 1 MiB dictionary bound), and every tenth frame the
    // first of a 3-fragment datagram, so the convert patches
    val rnd = new scala.util.Random(11)
    val frames = (0 until 30000).map { i =>
      val name = s"${"a" * 50}.$i.${rnd.alphanumeric.take(40).mkString}.flood.example"
      val pkt = i % 10 match {
        case 0 => ethernet(0x0800, ipv4("198.51.100.7", "203.0.113.9", 17,
          udp(53, 40000, dnsQuery(name, 1)), id = i % 65536, mf = true))
        case 1 => ethernet(0x0800, ipv4("198.51.100.7", "203.0.113.9", 17,
          Array.fill[Byte](24)(0x61), id = (i - 1) % 65536, mf = true, fragOffset = 6))
        case 2 => ethernet(0x0800, ipv4("198.51.100.7", "203.0.113.9", 17,
          Array.fill[Byte](24)(0x62), id = (i - 2) % 65536, fragOffset = 12))
        case _ => ethernet(0x0800, ipv4(s"192.0.2.${i % 250}", "203.0.113.9", 17,
          udp(1024 + i % 60000, 53, dnsQuery(name, 1))))
      }
      (1000000L + i, pkt)
    }
    val p = write("flood.pcap", frames)

    // one reader over the whole file: the qname column's dictionary is
    // replaced at some batch, and no dictionary grows far past the bound
    val reader = new PcapColumnarReader(p.toString, spark.sessionState.newHadoopConf(),
      PacketSchema.schema, refCompat = false)
    val dns = PacketSchema.schema.fieldIndex("dns_qry_name")
    val dicts = scala.collection.mutable.ArrayBuffer.empty[graft.core.StringDict]
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    try while (reader.next()) {
      val b: ColumnarBatch = reader.get()
      val v = b.column(dns).asInstanceOf[DictVector]
      if (!dicts.lastOption.exists(_ eq v.dict)) dicts += v.dict
      (0 until b.numRows()).foreach(r => names += Option(v.getUTF8String(r)).map(_.toString).orNull)
    } finally reader.close()
    assert(dicts.size >= 2, "the qname dictionary was never replaced")
    val bound = 1L << 20
    dicts.foreach(d => assert(d.bytes <= bound + 4096L * 200, s"${d.bytes} bytes"))
    assert(names == frames.map { case (ts, b) =>
      PacketDissector.dissect(RawFrame(ts, b.length.toLong, b, 1)).dnsQryName.orNull })

    // the convert, one write task fed by two readers (-j 2, single file)
    val out = Files.createTempDirectory("readerdict-conv").toString + "/out.parquet"
    PcapConvert.run(spark, PcapConvert.Args(file = p.toString, out = out, jobs = 2))
    val got = spark.read.parquet(out)
    val want = Defrag.defrag(spark.read.format("pcap").load(p.toString))
    val cols = want.columns.sorted.map(c => s"`$c`")
    assert(got.count() == 30000)
    assert(got.selectExpr(cols: _*).exceptAll(want.selectExpr(cols: _*)).isEmpty)
    assert(want.selectExpr(cols: _*).exceptAll(got.selectExpr(cols: _*)).isEmpty)
    assert(got.where("ip_frag_offset > 0 and dns_qry_name is not null").count() == 6000)
  }
}
