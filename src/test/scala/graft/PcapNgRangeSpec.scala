package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import PcapFixtures._

/** pcapng frame-index range shards (round 15, verdict #4): stride shard
  * 0 of a sharded pcapng scan records offsets + SECTION-STATE snapshots
  * ([[graft.pcapio.PcapFramer.NgState]]) in the sidecar; the planner
  * then cuts contiguous block-aligned byte ranges that resume
  * mid-section with the snapshot. These specs mirror the legacy ones
  * (build → range-plan → multiset equality → stale/disable fallbacks)
  * and pin the STATEFUL parts ranges must not break: per-interface
  * tsresol/linktype, a mid-section IDB, a mid-file SHB reset, and
  * ReferenceCompat's last-IDB-wins global tsresol across a range
  * boundary.
  */
class PcapNgRangeSpec extends SparkFunSuite {

  private def hconf = spark.sessionState.newHadoopConf()

  /** n small UDP EPBs on interface `ifId`, µs-unique timestamps. */
  private def epbs(ifId: Int, n: Int, tsBase: Long, idBase: Int)
      : Seq[Either[(Int, Int), (Int, Long, Int, Array[Byte])]] =
    (0 until n).map { i =>
      val pkt = ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(4000, 53, Array[Byte](1, 2, 3)), id = (idBase + i) & 0xffff))
      Right((ifId, tsBase + i, pkt.length, pkt))
    }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.select(df.columns.sorted.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("\u0000"))

  test("pcapng: sharded scan builds a stateful sidecar; ranges ≡ plain read") {
    // two interfaces with DIFFERENT tsresol (µs and ms): a range that
    // resumed without the per-interface state would mis-scale half the
    // timestamps. 3 × 8192 < frames < 4 × 8192 → 4 offsets → cuttable.
    val d = Files.createTempDirectory("ngfidx")
    val f = d.resolve("two-if.pcapng")
    val items =
      Seq(Left((1, 6)), Left((1, 3))) ++
        (0 until 26000).map { i =>
          val ifId = i % 2
          val pkt = ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
            udp(4000, 53, Array[Byte](1)), id = i & 0xffff))
          Right((ifId, 1000000L + i.toLong, pkt.length, pkt))
        }
    Files.write(f, pcapngInterleaved(items))
    val plain = canon(spark.read.format("pcap").load(f.toString))
    // 1st sharded read: stride (no sidecar yet), builds it
    assert(canon(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString)) == plain)
    val idx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(idx.isDefined && idx.get.isNg && idx.get.frameCount == 26000L)
    // the planner now cuts ranges, each carrying its section state
    val parts = new graft.sources.PcapScan(Seq(f.toString),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 3).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.PcapInputPartition])
    assert(parts.length == 3 && parts.forall(_.rangeStart >= 0))
    assert(parts.forall(_.ngState != null))
    // both interfaces' IDBs precede every recorded offset → snapshots
    // carry both (µs and ms resolution)
    assert(parts.forall(_.ngState.ifTsresols.toSeq == Seq(6, 3)))
    // 2nd sharded read (range mode): identical multiset, real parallelism
    val ranged = spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString)
    val perPart = ranged.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 3 && perPart.forall(_ > 0), perPart.mkString(","))
    assert(perPart.sum == 26000)
    assert(canon(ranged) == plain)
    // ms-resolution frames really scaled differently from µs ones
    // (ts*1000 for tsresol 3): both populations must exist
    val times = spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString).select("frame_time").distinct().count()
    assert(times == 26000L)
    // frameIndex=false forces stride even with a sidecar present
    val strideParts = new graft.sources.PcapScan(Seq(f.toString),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 3, frameIndex = false).planInputPartitions()
    assert(strideParts.forall(
      _.asInstanceOf[graft.sources.PcapInputPartition].rangeStart < 0))
    // stale (file grew): rejected, stride still correct, then rebuilt
    Files.write(f, pcapngInterleaved(items ++ epbs(0, 100, 2000000L, 30000)))
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf).isEmpty,
      "stale ng sidecar must not validate")
    assert(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString).count() == 26100L)
    val rebuilt = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(rebuilt.isDefined && rebuilt.get.frameCount == 26100L)
  }

  test("pcapng ranges: SimplePacket blocks resume with the snapshot's first interface") {
    // SPB frames take ifLinktypes.head (pcapng: SPBs implicitly ride
    // interface 0) — a range resuming mid-section must see the same
    // head the whole-file parse saw. Mix EPBs (to exceed one stride)
    // with interleaved SPBs; multiset equality pins it.
    val d = Files.createTempDirectory("ngfidx_spb")
    val f = d.resolve("spb.pcapng")
    val pkt = ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
      udp(4000, 53, Array[Byte](1, 2, 3))))
    // fixture lacks an SPB builder: splice raw SPB blocks (type 3) into
    // the interleaved stream via a local encoder
    def spb(data: Array[Byte]): Array[Byte] = {
      val pad = (4 - data.length % 4) % 4
      val total = 16 + data.length + pad
      val bb = java.nio.ByteBuffer.allocate(total)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(3).putInt(total).putInt(data.length).put(data)
      bb.position(total - 4); bb.putInt(total)
      bb.array()
    }
    val base = pcapngInterleaved(
      Seq(Left((1, 6))) ++
        (0 until 20000).map(i => Right((0, 1000000L + i, pkt.length, pkt))))
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    (0 until 4000).foreach(_ => out.write(spb(pkt)))
    Files.write(f, out.toByteArray)
    val plain = canon(spark.read.format("pcap").load(f.toString))
    assert(canon(spark.read.format("pcap").option("decodePartitions", 2)
      .load(f.toString)) == plain) // builds the sidecar
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf).exists(_.isNg))
    assert(canon(spark.read.format("pcap").option("decodePartitions", 2)
      .load(f.toString)) == plain) // range pass
    assert(spark.read.format("pcap").option("decodePartitions", 2)
      .load(f.toString).count() == 24000L)
  }

  test("pcapng ranges: mid-section IDB and mid-file SHB reset resume exactly") {
    // section 1: one interface, then a SECOND IDB appears mid-section
    // (after ~9k frames) and later frames ride it; section 2 (a new SHB
    // — full interface-registry reset) re-declares one interface with a
    // different tsresol. Offsets recorded after the mid-section IDB
    // must snapshot the grown registry; offsets in section 2 the reset
    // one. ~27k frames → 4 offsets.
    val d = Files.createTempDirectory("ngfidx2")
    val f = d.resolve("stateful.pcapng")
    val sec1 = pcapngInterleaved(
      Seq(Left((1, 6))) ++ epbs(0, 9000, 1000000L, 0) ++
        Seq(Left((1, 3))) ++
        (0 until 9000).flatMap(i => epbs(i % 2, 1, 1200000L + i, 9000 + i)))
    val sec2 = pcapngInterleaved(
      Seq(Left((1, 4))) ++ epbs(0, 9000, 1500000L, 18000))
    Files.write(f, sec1 ++ sec2)
    val plain = canon(spark.read.format("pcap").load(f.toString))
    assert(canon(spark.read.format("pcap").option("decodePartitions", 4)
      .load(f.toString)) == plain) // builds the sidecar
    val idx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(idx.isDefined && idx.get.isNg && idx.get.frameCount == 27000L)
    // distinct snapshots were actually recorded (registry grew, then reset)
    assert(idx.get.states.length >= 2)
    val ranged = spark.read.format("pcap").option("decodePartitions", 4)
      .load(f.toString)
    assert(canon(ranged) == plain)
    val perPart = ranged.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 4 && perPart.forall(_ > 0), perPart.mkString(","))
  }

  test("pcapng ranges: ReferenceCompat last-IDB-wins tsresol across a range boundary") {
    // the reference scales EVERY EPB by the LAST IDB's tsresol
    // (src/main.rs:182,189) regardless of the packet's interface. A
    // range starting after that IDB must resume with lastTsresol from
    // the snapshot — a fresh framer would default to 6 and mis-scale
    // every frame in later ranges.
    val d = Files.createTempDirectory("ngfidx3")
    val f = d.resolve("refcompat.pcapng")
    val items =
      Seq(Left((1, 6))) ++ epbs(0, 100, 1000000L, 0) ++
        Seq(Left((1, 3))) ++ // last IDB: ms — wins globally in RefCompat
        epbs(0, 26000, 2000000L, 100)
    Files.write(f, pcapngInterleaved(items))
    def refRead(parts: Int) = spark.read.format("pcap")
      .option("mode", "reference-compat")
      .option("decodePartitions", parts).load(f.toString)
    val plain = canon(spark.read.format("pcap")
      .option("mode", "reference-compat").load(f.toString))
    assert(canon(refRead(3)) == plain) // stride pass, builds sidecar
    val idx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(idx.isDefined && idx.get.isNg)
    // every offset past the second IDB snapshots lastTsresol = 3
    assert(idx.get.stateAt(idx.get.offsets.length - 1).lastTsresol == 3)
    val parts = new graft.sources.PcapScan(Seq(f.toString),
      graft.core.PacketSchema.schema, refCompat = true,
      decodePartitions = 3).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.PcapInputPartition])
    assert(parts.forall(_.rangeStart >= 0))
    assert(canon(refRead(3)) == plain) // range pass
    // and the Sane read of the same file also matches its own plain read
    // (per-interface scaling, unaffected by the last-IDB quirk)
    val sanePlain = canon(spark.read.format("pcap").load(f.toString))
    assert(canon(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString)) == sanePlain)
  }

  test("pcapng streaming replay across a sidecar appearing mid-stream reads the same rows") {
    // mirror of the legacy round-14 replay spec: the committed offset
    // fixes the FILE set; a sidecar built after a batch's original
    // (stride) attempt makes its replay plan RANGES — identical row
    // multiset, or an uncommitted-batch replay would not be exactly-once.
    val root = Files.createTempDirectory("ngfidx_stream")
    val f = root.resolve("c1.pcapng").toString
    Files.write(java.nio.file.Paths.get(f), pcapngInterleaved(
      Seq(Left((1, 6)), Left((1, 3))) ++
        (0 until 26000).flatMap(i => epbs(i % 2, 1, 1000000L + i, i))))
    val listed = graft.sources.PcapFileEnum.list(Seq(root.toString), hconf)
    assert(listed.size == 1)
    val stream = new graft.sources.PcapMicroBatchStream(Seq(root.toString),
      graft.core.PacketSchema.schema, refCompat = false,
      checkpointLocation = root.resolve("ckpt").toString,
      decodePartitions = 4)
    val start = graft.sources.PcapOffset(root.toString, 0, "")
    val end = graft.sources.PcapOffset(root.toString, 1, listed.head)
    def readAll(parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Seq[Long] = {
      val factory = stream.createReaderFactory()
      parts.flatMap { p =>
        val r = factory.createColumnarReader(p)
        val b = Seq.newBuilder[Long]
        while (r.next()) r.get().rowIterator().forEachRemaining(row => b += row.getLong(0))
        r.close()
        b.result()
      }.toSeq.sorted
    }
    val parts1 = stream.planInputPartitions(start, end)
    assert(parts1.forall(_.asInstanceOf[graft.sources.PcapInputPartition]
      .rangeStart < 0), "expected stride partitions before any sidecar")
    val rows1 = readAll(parts1)
    assert(rows1.size == 26000)
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f), hconf).exists(_.isNg),
      "streaming stride shard 0 should have built the ng sidecar")
    val parts2 = stream.planInputPartitions(start, end)
    assert(parts2.forall { p =>
      val pp = p.asInstanceOf[graft.sources.PcapInputPartition]
      pp.rangeStart >= 0 && pp.ngState != null
    }, "expected stateful range partitions once the sidecar exists")
    assert(readAll(parts2) == rows1, "replay multiset diverged across layouts")
  }

  test("pcapng sidecar round-trips states through the file format (CRC-guarded)") {
    import graft.pcapio.{FrameIndex, PcapFramer}
    val d = Files.createTempDirectory("ngfidx4")
    val dummy = d.resolve("x.pcapng")
    Files.write(dummy, Array.fill[Byte](1000)(7)) // length only
    val p = new org.apache.hadoop.fs.Path(dummy.toString)
    val idx = FrameIndex.Index(1000L, 20000L, 8192, Array(28L, 400L, 900L),
      container = 1,
      states = Array(
        PcapFramer.NgState(false, Array(1), Array(6), 6),
        PcapFramer.NgState(false, Array(1, 1), Array(6, 3), 3)),
      stateIdx = Array(0, 0, 1))
    FrameIndex.write(p, idx, hconf)
    val back = FrameIndex.read(p, hconf)
    assert(back.isDefined && back.get.isNg)
    assert(back.get.offsets.toSeq == Seq(28L, 400L, 900L))
    assert(back.get.stateIdx.toSeq == Seq(0, 0, 1))
    assert(back.get.stateAt(2).ifTsresols.toSeq == Seq(6, 3))
    assert(back.get.stateAt(2).lastTsresol == 3)
    assert(back.get.stateAt(0).ifLinktypes.toSeq == Seq(1))
    // CRC: flip one byte inside the encoded states region → rejected
    val sp = FrameIndex.sidecarPath(p)
    val fs = sp.getFileSystem(hconf)
    val raw = {
      val st = fs.getFileStatus(sp)
      val buf = new Array[Byte](st.getLen.toInt)
      val s = fs.open(sp); try s.readFully(0L, buf) finally s.close()
      buf
    }
    raw(raw.length - 12) = (raw(raw.length - 12) ^ 0x40).toByte
    val out = fs.create(sp, true); out.write(raw); out.close()
    assert(FrameIndex.read(p, hconf).isEmpty, "tampered ng sidecar validated")
  }

  test("pcapng writer emits the stateful sidecar at commit — born range-shardable") {
    // round 16 (verdict #2): written pcapng must NOT pay one full stride
    // scan to bootstrap the sidecar — the writer knows every EPB offset
    // and its own section state. Mixed linktypes with the second one
    // appearing AFTER the second stride boundary, so the recorded
    // snapshots genuinely differ across offsets (1 interface → 2).
    val d = Files.createTempDirectory("ngwfidx")
    val nEth = 12000 // past the 2nd stride boundary (8192), before the 3rd
    val nRaw = 9000 // appended after the eth run → IDB 101 lands mid-file
    val ethFrames = (0 until nEth).map { i =>
      val pkt = ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(4000, 53, Array[Byte](1)), id = i & 0xffff))
      (0, 1000000L + i.toLong, pkt.length, pkt)
    }
    val rawFrames = (0 until nRaw).map { i =>
      val pkt = ipv4("10.0.0.3", "10.0.0.4", 17,
        udp(5000, 53, Array[Byte](2)), id = i & 0xffff)
      (1, 2000000L + i.toLong, pkt.length, pkt)
    }
    Files.write(d.resolve("src.pcapng"),
      pcapng(Seq((1, 6), (101, 6)), ethFrames ++ rawFrames))
    val src = spark.read.format("pcap").option("bytes", "true").load(d.toString)
    val outDir = Files.createTempDirectory("ngwfidx-out").toString
    src.orderBy("frame_time").coalesce(1)
      .write.format("pcap").option("format", "pcapng").mode("overwrite").save(outDir)
    val part = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".pcapng")) match { case Array(f) => f }
    // the sidecar is there BEFORE any read, valid (incl. the fileLen
    // staleness check against the just-renamed part file) and stateful
    val p = new org.apache.hadoop.fs.Path(part.toString)
    val idx = graft.pcapio.FrameIndex.read(p, hconf)
    assert(idx.isDefined && idx.get.isNg, "writer did not emit a valid ng sidecar")
    assert(idx.get.frameCount == (nEth + nRaw).toLong)
    assert(idx.get.fileLen == part.length())
    // snapshots evolve: offsets 0/8192 predate the raw-IP IDB, 16384 is
    // past it (the writer adds IDBs lazily at first sight of a linktype)
    assert(idx.get.stateAt(0).ifLinktypes.toSeq == Seq(1))
    assert(idx.get.stateAt(2).ifLinktypes.toSeq == Seq(1, 101))
    assert(idx.get.states.forall(_.ifTsresols.forall(_ == 6)))
    // the planner cuts ranges on the very first sharded read
    val parts = new graft.sources.PcapScan(Seq(part.toString),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 3).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.PcapInputPartition])
    assert(parts.length == 3 && parts.forall(_.rangeStart >= 0),
      "writer-emitted sidecar did not yield range shards")
    assert(parts.forall(_.ngState != null))
    // ranged read ≡ plain read, real parallelism, and zero rebuild
    val ranged = spark.read.format("pcap").option("decodePartitions", 3)
      .load(part.toString)
    val perPart = ranged.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 3 && perPart.forall(_ > 0), perPart.mkString(","))
    assert(canon(ranged) == canon(spark.read.format("pcap").load(part.toString)))
    val after = graft.pcapio.FrameIndex.read(p, hconf)
    assert(after.get.offsets.toSeq == idx.get.offsets.toSeq,
      "sharded read should reuse the writer's sidecar, not rebuild")
  }
}
