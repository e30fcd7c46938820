package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import PcapFixtures._

/** pcapng frame-index range shards (round 15, verdict #4): the planner
  * of a sharded pcapng scan records offsets + SECTION-STATE snapshots
  * ([[graft.pcapio.PcapFramer.NgState]]) in the file's index, then cuts
  * contiguous block-aligned byte ranges that resume mid-section with
  * the snapshot. These specs mirror the legacy ones (cold plan →
  * multiset equality → sidecar reuse → stale rebuild) and pin the
  * STATEFUL parts ranges must not break: per-interface
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

  /** The scan's planned partitions for `f`: all stateful byte ranges. */
  private def ngRanges(f: String, n: Int,
      refCompat: Boolean = false): Seq[graft.sources.PcapInputPartition] = {
    val parts = new graft.sources.PcapScan(Seq(f), graft.core.PacketSchema.schema,
      refCompat, decodePartitions = n).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.PcapInputPartition]).toSeq
    assert(parts.forall(p => p.rangeStart >= 0 && p.ngState != null),
      s"$f: not all stateful ranges: $parts")
    parts
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.select(df.columns.sorted.map(col): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("\u0000"))

  test("pcapng: sharded scan builds a stateful sidecar; ranges ≡ plain read") {
    // two interfaces with DIFFERENT tsresol (µs and ms): a range that
    // resumed without the per-interface state would mis-scale half the
    // timestamps.
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
    // the first sharded plan frames the file, cuts ranges, each carrying
    // its section state, and writes the stateful sidecar
    val parts = ngRanges(f.toString, 3)
    assert(parts.length == 3)
    val idx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(idx.isDefined && idx.get.isNg && idx.get.frameCount == 26000L)
    // both interfaces' IDBs precede every recorded offset → snapshots
    // carry both (µs and ms resolution)
    assert(parts.forall(_.ngState.ifTsresols.toSeq == Seq(6, 3)))
    // sharded read: identical multiset, real parallelism
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
    // stale (file grew): rejected, the next plan rebuilds it
    Files.write(f, pcapngInterleaved(items ++ epbs(0, 100, 2000000L, 30000)))
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf).isEmpty,
      "stale ng sidecar must not validate")
    assert(ngRanges(f.toString, 3).length == 3)
    assert(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString).count() == 26100L)
    val rebuilt = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(rebuilt.isDefined && rebuilt.get.frameCount == 26100L)
  }

  test("pcapng ranges: SimplePacket blocks resume with the snapshot's first interface") {
    // SPB frames take ifLinktypes.head (pcapng: SPBs implicitly ride
    // interface 0) — a range resuming mid-section must see the same
    // head the whole-file parse saw. EPBs, then SPBs; multiset equality
    // pins it.
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
    // the second range resumes mid-section and holds every SPB
    assert(ngRanges(f.toString, 2).length == 2)
    assert(canon(spark.read.format("pcap").option("decodePartitions", 2)
      .load(f.toString)) == plain)
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf).exists(_.isNg))
    assert(spark.read.format("pcap").option("decodePartitions", 2)
      .load(f.toString).count() == 24000L)
  }

  test("pcapng ranges: mid-section IDB and mid-file SHB reset resume exactly") {
    // section 1: one interface, then a SECOND IDB appears mid-section
    // (after ~9k frames) and later frames ride it; section 2 (a new SHB
    // — full interface-registry reset) re-declares one interface with a
    // different tsresol. Offsets recorded after the mid-section IDB
    // must snapshot the grown registry; offsets in section 2 the reset
    // one.
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
    assert(ngRanges(f.toString, 4).length == 4)
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
    // the ReferenceCompat planner's walk: every range past the second
    // IDB resumes with lastTsresol = 3
    val parts = ngRanges(f.toString, 3, refCompat = true)
    assert(parts.length == 3 && parts.tail.forall(_.ngState.lastTsresol == 3))
    val idx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f.toString), hconf)
    assert(idx.isDefined && idx.get.isNg)
    assert(idx.get.stateAt(idx.get.offsets.length - 1).lastTsresol == 3)
    assert(canon(refRead(3)) == plain)
    // and the Sane read of the same file also matches its own plain read
    // (per-interface scaling, unaffected by the last-IDB quirk)
    val sanePlain = canon(spark.read.format("pcap").load(f.toString))
    assert(canon(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f.toString)) == sanePlain)
  }

  test("pcapng streaming replay across a sidecar appearing mid-stream reads the same rows") {
    // mirror of the legacy replay spec: the committed offset fixes the
    // FILE set. The original attempt plans stateful ranges with its
    // sidecar write blocked; the replay, restarted at another
    // decodePartitions, writes the sidecar and cuts differently —
    // identical row multiset, or an uncommitted-batch replay would not
    // be exactly-once.
    val root = Files.createTempDirectory("ngfidx_stream")
    val f = root.resolve("c1.pcapng").toString
    Files.write(java.nio.file.Paths.get(f), pcapngInterleaved(
      Seq(Left((1, 6)), Left((1, 3))) ++
        (0 until 26000).flatMap(i => epbs(i % 2, 1, 1000000L + i, i))))
    val listed = graft.sources.PcapFileEnum.list(Seq(root.toString), hconf)
    assert(listed.size == 1)
    val start = graft.sources.PcapOffset(root.toString, 0, "")
    val end = graft.sources.PcapOffset(root.toString, 1, listed.head)
    /** One attempt of the batch (start, end] at `shards`: its planned
      * partitions and the frame_time multiset they read. */
    def attempt(shards: Int)
        : (Seq[graft.sources.PcapInputPartition], Seq[Long]) = {
      val stream = new graft.sources.PcapMicroBatchStream(Seq(root.toString),
        graft.core.PacketSchema.schema, refCompat = false,
        checkpointLocation = root.resolve("ckpt").toString,
        decodePartitions = shards)
      val parts = stream.planInputPartitions(start, end)
      val factory = stream.createReaderFactory()
      val rows = parts.flatMap { p =>
        val r = factory.createColumnarReader(p)
        val b = Seq.newBuilder[Long]
        while (r.next()) r.get().rowIterator().forEachRemaining(row => b += row.getLong(0))
        r.close()
        b.result()
      }.toSeq.sorted
      (parts.map(_.asInstanceOf[graft.sources.PcapInputPartition]).toSeq, rows)
    }
    val blocker = root.resolve(".fidx")
    Files.write(blocker, Array[Byte](1)) // the sidecar write cannot land
    val (parts1, rows1) = attempt(4)
    assert(parts1.length == 4 &&
      parts1.forall(p => p.rangeStart >= 0 && p.ngState != null), parts1.toString)
    assert(rows1.size == 26000)
    Files.delete(blocker)
    val (parts2, rows2) = attempt(3)
    assert(parts2.length == 3 &&
      parts2.forall(p => p.rangeStart >= 0 && p.ngState != null), parts2.toString)
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f), hconf).exists(_.isNg),
      "the replay's planner should have written the ng sidecar")
    assert(rows2 == rows1, "replay multiset diverged across cuts")
  }

  test("pcapng sidecar round-trips states through the file format (CRC-guarded)") {
    import graft.pcapio.{FrameIndex, PcapFramer}
    val d = Files.createTempDirectory("ngfidx4")
    val dummy = d.resolve("x.pcapng")
    Files.write(dummy, Array.fill[Byte](1000)(7)) // length only
    val p = new org.apache.hadoop.fs.Path(dummy.toString)
    val mtime = p.getFileSystem(hconf).getFileStatus(p).getModificationTime
    val idx = FrameIndex.Index(1000L, mtime, 20000L, 8192, Array(28L, 400L, 900L),
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
    // round 16 (verdict #2): written pcapng must NOT make the planner
    // frame it to build the sidecar — the writer knows every EPB offset
    // and its own section state. Mixed linktypes with the second one
    // appearing mid-file, so the recorded snapshots genuinely differ
    // across offsets (1 interface → 2).
    val d = Files.createTempDirectory("ngwfidx")
    val nEth = 12000
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
    assert(idx.get.fileLen == part.length() && idx.get.mtime == part.lastModified())
    // snapshots evolve: offsets of eth frames predate the raw-IP IDB,
    // later ones are past it (the writer adds IDBs lazily at first sight
    // of a linktype)
    idx.get.offsets.indices.foreach { i =>
      assert(idx.get.stateAt(i).ifLinktypes.toSeq ==
        (if (i.toLong * idx.get.stride < nEth) Seq(1) else Seq(1, 101)), s"offset $i")
    }
    assert(idx.get.states.forall(_.ifTsresols.forall(_ == 6)))
    // the planner cuts ranges from the writer's sidecar
    assert(ngRanges(part.toString, 3).length == 3)
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
