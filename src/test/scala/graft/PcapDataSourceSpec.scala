package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.spark.PcapSource
import PcapFixtures._

/** DSv2 `format("pcap")` source: equivalence with the binaryFiles path,
  * per-file partitioning, column pruning, options.
  */
class PcapDataSourceSpec extends SparkFunSuite {

  private lazy val dir = {
    val d = Files.createTempDirectory("dsv2")
    val mk = (name: String, id: Int) => {
      val frames = Seq(
        (1000L + id, ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
          udp(5353, 53, dnsQuery(s"f$id.example.com", 1)), id = id))),
        (2000L + id, ethernet(0x0800, ipv4("10.0.0.3", "10.0.0.4", 6,
          tcp(443, 1000 + id, 0x12)))))
      Files.write(d.resolve(name), legacyPcap(frames.map { case (ts, b) => (ts, -1, b) }))
    }
    mk("a.pcap", 1); mk("b.pcap", 2); mk("c.pcap", 3)
    d.toString
  }

  test("format(pcap): schema and content match the binaryFiles source") {
    val dsv2 = spark.read.format("pcap").load(dir)
    assert(dsv2.schema == graft.core.PacketSchema.schema)
    val a = dsv2.orderBy("frame_time", "pcap_file").collect().toSeq
    val b = PcapSource.read(spark, dir + "/*.pcap")
      .orderBy("frame_time", "pcap_file").collect().toSeq
    assert(a == b)
    assert(a.size == 6)
  }

  test("one partition per file") {
    val dsv2 = spark.read.format("pcap").load(dir)
    assert(dsv2.rdd.getNumPartitions == 3)
  }

  test("decodePartitions shards one big file's dissection, same row multiset") {
    // the single-huge-file knob (round-7 verdict #7): a lone capture
    // cannot be byte-split (no sync markers), so each of the N shard
    // partitions re-frames the stream and dissects only its stride —
    // the DSv2 twin of PcapSource.read's decodePartitions repartition
    val d = Files.createTempDirectory("dsv2_big")
    val frames = (0 until 999).map { i =>
      (10000L + i,
        if (i % 3 == 0) ethernet(0x0800, ipv4("10.1.0.1", "10.1.0.2", 17,
          udp(1000 + i % 100, 53, dnsQuery(s"h$i.example.com", 1)), id = i % 65536))
        else ethernet(0x0800, ipv4("10.1.0.3", "10.1.0.4", 6,
          tcp(443, 1 + i % 60000, 0x18))))
    }
    Files.write(d.resolve("big.pcap"),
      legacyPcap(frames.map { case (ts, b) => (ts, -1, b) }))
    val plain = spark.read.format("pcap").load(d.toString)
    val sharded = spark.read.format("pcap")
      .option("decodePartitions", 8).load(d.toString)
    assert(plain.rdd.getNumPartitions == 1)
    assert(sharded.rdd.getNumPartitions == 8)
    // every shard carries ~1/8 of the rows (no shard starved or doubled)
    val perPart = sharded.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 8 && perPart.forall(n => n >= 100 && n <= 150),
      perPart.mkString(","))
    // identical multiset, column pruning + pushdown still compose
    val a = plain.orderBy("frame_time").collect().toSeq
    val b = sharded.orderBy("frame_time").collect().toSeq
    assert(a == b)
    assert(sharded.filter(col("dns_qry_name").isNotNull).count() == 333L)
    intercept[Exception] {
      spark.read.format("pcap").option("decodePartitions", 0).load(d.toString)
        .count()
    }
  }

  test("columnar scan ≡ PcapSource.read: plain, pruned, filtered, sharded") {
    // the DSv2 scan reads columnar batches everywhere (ColumnarToRow
    // above the scan, bytes mode included); its rows must equal the
    // independent binaryFiles + DissectAcc.toInternalRow path
    def ref(path: String) = PcapSource.read(spark, path)
    def sorted(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val colDf = spark.read.format("pcap").load(dir)
    assert(colDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      colDf.queryExecution.executedPlan.toString)
    val a = sorted(colDf)
    assert(a == sorted(ref(dir)) && a.size == 6)
    // sharded + pruned projection
    val narrow = Seq("col_protocol", "udp_dstport", "pcap_file")
    val colNarrow = spark.read.format("pcap").option("decodePartitions", 2)
      .load(dir).select(narrow.map(col): _*)
    assert(sorted(colNarrow) == sorted(ref(dir).select(narrow.map(col): _*)))
    // a pushed filter stays columnar
    val filtered = spark.read.format("pcap").load(dir)
      .filter(col("udp_dstport") === 53)
    assert(filtered.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      filtered.queryExecution.executedPlan.toString)
    assert(filtered.count() === 3L)
    assert(sorted(filtered) == sorted(ref(dir).filter(col("udp_dstport") === 53)))
    // a permuted projection with repeated-source columns (col_source
    // and ip_src fill from the same accumulator field) over generated
    // ddos and tcp corpora, sharded and not
    val gen = Files.createTempDirectory("dsv2_gen")
    graft.spark.PcapGen.write(gen.resolve("ddos.pcap").toString, 3000, mix = "ddos")
    graft.spark.PcapGen.write(gen.resolve("tcp.pcap").toString, 3000, mix = "tcp")
    val permuted = Seq("pcap_file", "col_source", "ip_src", "frame_time", "tcp_flags")
    val refGen = sorted(ref(gen.toString).select(permuted.map(col): _*))
    assert(refGen.size == 6000 && refGen.exists(_.contains("...A")))
    Seq(1, 3).foreach { parts =>
      val colGen = spark.read.format("pcap").option("decodePartitions", parts)
        .load(gen.toString).select(permuted.map(col): _*)
      assert(colGen.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(sorted(colGen) == refGen, s"decodePartitions $parts")
    }
  }

  test("bytes mode: frame_bytes and linktype ≡ the framer's raw frames") {
    // legacy pcap and a mixed-linktype pcapng, unsharded, stride-sharded
    // (no sidecar yet) and range-sharded (the stride read's sidecar)
    val d = Files.createTempDirectory("dsv2_bytes")
    val legacy = d.resolve("big.pcap")
    graft.spark.PcapGen.write(legacy.toString, 30000, 1700000000000000L)
    val ng = d.resolve("mixed.pcapng")
    Files.write(ng, pcapngInterleaved(Seq(Left((1, 6)), Left((101, 6))) ++
      (0 until 30000).map { i =>
        val ip = ipv4("10.0.0.1", "10.0.0.2", 17,
          udp(4000, 53, Array.fill[Byte](i % 7)(i.toByte)), id = i & 0xffff)
        val pkt = if (i % 2 == 0) ethernet(0x0800, ip) else ip
        Right((i % 2, 1000000L + i, pkt.length, pkt))
      }))
    def framed(f: java.nio.file.Path): Seq[String] = {
      val in = Files.newInputStream(f)
      try graft.pcapio.PcapFramer.frames(in, graft.pcapio.PcapFramer.Sane)
        .map(r => s"${r.timeMicros}|${r.linktype}|${r.data.toSeq.mkString(",")}")
        .toVector.sorted
      finally in.close()
    }
    def scanned(f: java.nio.file.Path, parts: Int): Seq[String] = {
      val df = spark.read.format("pcap").option("bytes", "true")
        .option("decodePartitions", parts).load(f.toString)
        .select(unix_micros(col("frame_time")), col("linktype"), col("frame_bytes"))
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        df.queryExecution.executedPlan.toString)
      df.collect().map(r => s"${r.getLong(0)}|${r.getInt(1)}|" +
        r.getAs[Array[Byte]](2).toSeq.mkString(",")).toSeq.sorted
    }
    // a boolean compare: 30000 frames would swamp a diffed failure
    def same(got: Seq[String], want: Seq[String], what: String): Unit = {
      val ok = got == want
      assert(ok, s"$what: ${got.size} rows, first mismatch " +
        got.zip(want).find(p => p._1 != p._2))
    }
    for (f <- Seq(legacy, ng)) {
      val want = framed(f)
      assert(want.size == 30000)
      same(scanned(f, 1), want, s"$f unsharded")
      same(scanned(f, 3), want, s"$f stride")
      val parts = new graft.sources.PcapScan(Seq(f.toString),
        graft.core.PacketSchema.bytesSchema, refCompat = false,
        decodePartitions = 3).planInputPartitions()
      assert(parts.length == 3 && parts.forall(
        _.asInstanceOf[graft.sources.PcapInputPartition].rangeStart >= 0),
        s"$f: the stride read should have written a sidecar that cuts 3 ranges")
      same(scanned(f, 3), want, s"$f ranges")
    }
    assert(framed(ng).map(_.split('|')(1)).toSet == Set("1", "101"))
    // 60 KB frames: a bytes-mode batch closes at its byte budget, long
    // before 4096 rows; a pruned scan of the same file does not
    val jumbo = d.resolve("jumbo.pcap")
    Files.write(jumbo, legacyPcap((0 until 300).map(i =>
      (i.toLong, -1, ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(1, 2, Array.fill[Byte](60000)(i.toByte))))))))
    def batchRows(required: org.apache.spark.sql.types.StructType): Seq[Int] = {
      val r = new graft.sources.PcapColumnarReader(jumbo.toString,
        spark.sessionState.newHadoopConf(), required, false)
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => r.get().numRows()).toVector
      finally r.close()
    }
    val bytesBatches = batchRows(graft.core.PacketSchema.bytesSchema)
    assert(bytesBatches.sum == 300 && bytesBatches.size == 3 &&
      bytesBatches.forall(_ <= 140), bytesBatches.toString)
    assert(batchRows(graft.core.PacketSchema.schema) == Seq(300))
  }

  test("glob loads expand; hidden and tmp files are never read as data") {
    // pre-fix: getFileStatus ran BEFORE globStatus, so any glob path
    // threw FileNotFoundException (the glob branch was dead code)
    val viaGlob = spark.read.format("pcap").load(s"$dir/*.pcap")
    assert(viaGlob.count() == 6)
    // in-flight staging tmp files and marker siblings are not data: a
    // half-written .tmp read as pcap fails the whole job
    val d2 = Files.createTempDirectory("dsv2_hidden")
    Files.copy(java.nio.file.Paths.get(dir, "a.pcap"), d2.resolve("a.pcap"))
    Files.write(d2.resolve(".part-0-1.pcap.tmp"), Array[Byte](1, 2, 3))
    Files.write(d2.resolve("_marker"), Array[Byte](0))
    assert(spark.read.format("pcap").load(d2.toString).count() == 2)
  }

  test("pcap_file filter does not clobber a data value equal to the old sentinel") {
    // pre-fix the reader substituted EVERY compared value matching the
    // internal __PCAP_FILE__ sentinel with the file basename — a packet
    // whose dns_qry_name was literally that string was skipped at the
    // reader and Spark's residual re-evaluation never saw it
    val d = Files.createTempDirectory("dsv2_sentinel")
    val frames = Seq(
      (1L, ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(5353, 53, dnsQuery("__PCAP_FILE__", 1))))))
    Files.write(d.resolve("s.pcap"), legacyPcap(frames.map { case (ts, b) => (ts, -1, b) }))
    val hits = spark.read.format("pcap").load(d.toString)
      .filter(col("dns_qry_name") === "__PCAP_FILE__")
    assert(hits.count() == 1, "sentinel-valued data row lost at the reader")
    // and the real pcap_file pushdown still matches per file
    assert(spark.read.format("pcap").load(d.toString)
      .filter(col("pcap_file") === "s.pcap").count() == 1)
    assert(spark.read.format("pcap").load(d.toString)
      .filter(col("pcap_file") === "other.pcap").count() == 0)
  }

  test("column pruning reaches the reader (narrow scan)") {
    val narrow = spark.read.format("pcap").load(dir)
      .select("dns_qry_name", "pcap_file")
      .filter(col("dns_qry_name").isNotNull)
    val plan = narrow.queryExecution.executedPlan.toString()
    assert(plan.contains("cols=dns_qry_name,pcap_file") ||
      !plan.contains("frame_time"), plan)
    val rows = narrow.collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("f1.example.com", "f2.example.com", "f3.example.com"))
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("a.pcap", "b.pcap", "c.pcap"))
  }

  test("single-file load and SQL-over-source work") {
    val one = spark.read.format("pcap").load(s"$dir/a.pcap")
    assert(one.count() == 2)
    one.createOrReplaceTempView("pcap_a")
    graft.functions.GraftFunctions.register(spark)
    val flags = spark.sql(
      "SELECT tcp_flags_str(ascii(' ')) FROM pcap_a LIMIT 1") // just exercise SQL path
    assert(flags.count() == 1)
    val syn = spark.sql(
      "SELECT tcp_flags FROM pcap_a WHERE col_protocol = 'TCP'").collect()
    assert(syn.head.getString(0) == "...A..S.")
  }

  test("filter pushdown: reader-side skip agrees with Spark-side filtering") {
    val base = spark.read.format("pcap").load(dir)
    // the fragment-gate shape from SURVEY §7 plus protocol/port slices
    val cases = Seq(
      col("col_protocol") === "DNS",
      col("ip_frag_offset") === 0 && col("ip_mf") === false,
      col("udp_dstport") === 53 || col("tcp_srcport") === 443,
      col("dns_qry_name").isNotNull,
      col("ip_src").isin("10.0.0.1", "10.0.0.3"),
      col("ip_id") > 1)
    cases.foreach { c =>
      val pushed = base.filter(c)
      val plan = pushed.queryExecution.executedPlan.toString()
      val viaSource = pushed.count()
      // reference: same predicate over the unfiltered collected rows
      val viaSpark = base.collect().length - base.filter(!c).collect().length
      assert(viaSource == viaSpark, s"cond=$c\n$plan")
    }
    // pushed filters visible in the scan description
    val p = base.filter(col("col_protocol") === "DNS")
      .queryExecution.executedPlan.toString()
    assert(p.contains("pushed=") && p.contains("col_protocol"), p)
  }

  // a corpus exercising every dissection stage: DNS, NTP, TCP, ICMP
  // inner recovery, v4 fragments (first + continuation), v6 ext chain
  private lazy val stagedDir = {
    val d = Files.createTempDirectory("dsv2_staged")
    val g6 = Array(0x2001, 0xdb8, 0, 0, 0, 0, 0, 1)
    val d6 = Array(0xfe80, 0, 0, 0, 0, 0, 0, 2)
    val frames = Seq(
      ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(5353, 53, dnsQuery("staged.example.com", 1)), id = 11)),
      ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(9999, 123, ntpPrivate(42)), id = 12)),
      ethernet(0x0800, ipv4("10.0.0.3", "10.0.0.4", 6, tcp(443, 17000, 0x18))),
      ethernet(0x0800, ipv4("10.0.0.9", "10.0.0.1", 1,
        icmpDestUnreachable(ipv4("10.0.0.2", "10.0.0.1", 17, udp(53, 33333, Array.empty))))),
      // UDP first fragment + continuation (the defrag shape)
      ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
        udp(53, 40001, dnsQuery("frag.example.org", 1)), id = 77, mf = true)),
      ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
        Array.fill[Byte](24)(0x61), id = 77, mf = false, fragOffset = 6)),
      // v6 hop-by-hop then UDP/DNS
      ethernet(0x86dd, ipv6(g6, d6, 0,
        Array[Byte](17, 0, 0, 0, 0, 0, 0, 0) ++
          udp(53, 41000, dnsQuery("v6.example.net", 1)))))
    Files.write(d.resolve("staged.pcap"),
      legacyPcap(frames.zipWithIndex.map { case (b, i) => (1000L * (i + 1), -1, b) }))
    d.toString
  }

  test("staged dissection: pruned and filtered scans match the full scan (round 13)") {
    // required-schema-aware dissection stops at L3/Transport when the
    // pruned schema + pushed filters allow; every projected/filtered
    // result must equal the same operation over the full scan
    def fullRows = spark.read.format("pcap").load(stagedDir)
    def scan = spark.read.format("pcap").load(stagedDir)
    // L3-only projection (defrag stats shape — no transport/L7 work)
    val l3Cols = Seq("frame_time", "ip_src", "ip_dst", "ip_proto",
      "ip_frag_offset", "ip_id", "ip_mf")
    assert(scan.select(l3Cols.map(col): _*).collect().toSeq.sortBy(_.toString) ==
      fullRows.select(l3Cols.map(col): _*).collect().toSeq.sortBy(_.toString))
    // L3 filter veto + full projection (resume path)
    assert(scan.filter(col("ip_proto") === 17).collect().toSeq.sortBy(_.toString) ==
      fullRows.collect().toSeq.filter(_.getAs[Short]("ip_proto") == 17)
        .sortBy(_.toString))
    // transport filter + L7 projection (the DNS-slice shape)
    val dns = scan.filter(col("udp_dstport") === 53)
      .select("dns_qry_name", "col_protocol").collect().toSeq.sortBy(_.toString)
    val dnsRef = fullRows.collect().toSeq
      .filter(r => !r.isNullAt(r.fieldIndex("udp_dstport")) &&
        r.getAs[Int]("udp_dstport") == 53)
      .map(r => org.apache.spark.sql.Row(
        r.getAs[String]("dns_qry_name"), r.getAs[String]("col_protocol")))
      .sortBy(_.toString)
    assert(dns == dnsRef)
    // mixed L3 + transport filter: L3 conjunct vetoes at L3, the
    // transport conjunct evaluates post-resume
    assert(scan.filter(col("ip_proto") === 17 && col("udp_srcport") === 53)
      .count() == 2) // ff fragment + v6 DNS
  }

  test("dissectGate=first-fragment: ff rows full, others L3-exact with NULL transport/L7") {
    def gated = spark.read.format("pcap")
      .option("_internal.dissectGate", "first-fragment").load(stagedDir)
    val full = spark.read.format("pcap").load(stagedDir).collect()
      .map(r => r.getAs[Long]("frame_time") -> r).toMap
    val rows = gated.collect()
    assert(rows.length == full.size) // the gate never drops rows
    rows.foreach { r =>
      val f = full(r.getAs[Long]("frame_time"))
      val isFf = r.getAs[Short]("ip_proto") == 17 &&
        r.getAs[Boolean]("ip_mf") && r.getAs[Int]("ip_frag_offset") == 0
      if (isFf) assert(r == f, s"ff row diverged: $r vs $f")
      else {
        // L3 columns exact; transport/L7 columns NULL (or the
        // non-null-vector defaults) regardless of what full has
        for (c <- Seq("frame_time", "frame_len", "eth_type", "ip_src",
          "ip_dst", "ip_proto", "ip_ttl", "ip_frag_offset", "ip_id", "ip_mf"))
          assert(r.getAs[Any](c) == f.getAs[Any](c), s"L3 col $c diverged")
        for (c <- Seq("udp_srcport", "udp_dstport", "udp_length",
          "dns_qry_name", "dns_qry_type", "tcp_srcport", "icmp_type"))
          assert(r.isNullAt(r.fieldIndex(c)), s"gated row leaked $c: $r")
        assert(Set("IPv4", "IPv6").contains(r.getAs[String]("col_protocol")))
      }
    }
    // the intended consumer shape: the ff aggregate over the gated
    // scan equals the one over the full scan
    import graft.spark.Defrag
    assert(Defrag.firstFragments(gated).collect().toSeq.sortBy(_.toString) ==
      Defrag.firstFragments(spark.read.format("pcap").load(stagedDir))
        .collect().toSeq.sortBy(_.toString))
  }

  test("frame-index sidecar: range shards ≡ stride shards ≡ plain (round 14)") {
    // a stride-sharded read of a legacy pcap re-frames the file N times;
    // shard 0 opportunistically writes a .fidx sidecar, and the NEXT
    // sharded scan is planned as contiguous frame-aligned byte ranges —
    // same row multiset, 1/N the framing
    val d = Files.createTempDirectory("fidx")
    val f = d.resolve("big.pcap").toString
    graft.spark.PcapGen.write(f, 100000, 1700000000000000L)
    val plain = spark.read.format("pcap").load(f)
      .orderBy("frame_time", "ip_id", "ip_frag_offset").collect().toSeq
    // 1st sharded read: stride mode (no sidecar yet), builds it
    val sharded1 = spark.read.format("pcap").option("decodePartitions", 8)
      .load(f).orderBy("frame_time", "ip_id", "ip_frag_offset").collect().toSeq
    assert(sharded1 == plain)
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(f)
    val idx = graft.pcapio.FrameIndex.read(p, hconf)
    assert(idx.isDefined, "stride shard 0 should have written the sidecar")
    assert(idx.get.frameCount == 100000L)
    // the planner now assigns ranges (assert on the partitions directly)
    val parts = new graft.sources.PcapScan(Seq(f),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 8).planInputPartitions()
    assert(parts.length == 8)
    assert(parts.forall(_.asInstanceOf[graft.sources.PcapInputPartition]
      .rangeStart >= 0), "expected range-mode partitions with a sidecar")
    // 2nd sharded read (range mode): identical multiset, real parallelism
    val sharded2df = spark.read.format("pcap").option("decodePartitions", 8).load(f)
    val perPart = sharded2df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 8 && perPart.forall(_ > 0), perPart.mkString(","))
    assert(perPart.sum == 100000)
    assert(sharded2df.orderBy("frame_time", "ip_id", "ip_frag_offset")
      .collect().toSeq == plain)
    // frameIndex=false forces the stride path even with a sidecar present
    val strideParts = new graft.sources.PcapScan(Seq(f),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 8, frameIndex = false).planInputPartitions()
    assert(strideParts.forall(_.asInstanceOf[graft.sources.PcapInputPartition]
      .rangeStart < 0))
    assert(spark.read.format("pcap").option("decodePartitions", 8)
      .option("frameIndex", "false").load(f)
      .orderBy("frame_time", "ip_id", "ip_frag_offset").collect().toSeq == plain)
    // STALE sidecar (file grew): ignored, stride still correct, and the
    // next sharded read REPLACES it
    val grown = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))
    graft.spark.PcapGen.write(f, 120000, 1700000000000000L)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(f)) != grown.length)
    assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty, "stale index must not validate")
    val afterGrow = spark.read.format("pcap").option("decodePartitions", 8)
      .load(f)
    assert(afterGrow.count() == 120000L)
    val rebuilt = graft.pcapio.FrameIndex.read(p, hconf)
    assert(rebuilt.isDefined && rebuilt.get.frameCount == 120000L,
      "stale sidecar should be rebuilt in place")
    // pruned + filtered range scans agree with the plain path (the ddos
    // mix is reflection-shaped: DNS rides udp_srcport 53)
    val dnsRange = spark.read.format("pcap").option("decodePartitions", 8)
      .load(f).filter(col("udp_srcport") === 53).select("dns_qry_name")
      .collect().map(String.valueOf(_)).sorted.toSeq
    val dnsPlain = spark.read.format("pcap").load(f)
      .filter(col("udp_srcport") === 53).select("dns_qry_name")
      .collect().map(String.valueOf(_)).sorted.toSeq
    assert(dnsRange == dnsPlain && dnsPlain.nonEmpty)
  }

  test("frame-index: tiny files and pcapng fall back to stride; read-only dirs just skip") {
    // tiny legacy file: too few frames for 8 real ranges → builder may
    // write a sidecar but the planner falls back to stride
    val d = Files.createTempDirectory("fidx2")
    val tiny = d.resolve("tiny.pcap").toString
    graft.spark.PcapGen.write(tiny, 500, 1700000000000000L)
    val plainTiny = spark.read.format("pcap").load(tiny)
      .orderBy("frame_time", "ip_id").collect().toSeq
    (1 to 2).foreach { _ =>
      assert(spark.read.format("pcap").option("decodePartitions", 8).load(tiny)
        .orderBy("frame_time", "ip_id").collect().toSeq == plainTiny)
    }
    val partsTiny = new graft.sources.PcapScan(Seq(tiny),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 8).planInputPartitions()
    assert(partsTiny.forall(_.asInstanceOf[graft.sources.PcapInputPartition]
      .rangeStart < 0), "500 frames cannot cut 8 ranges")
    // tiny pcapng (round 15: ng builds sidecars too — with section-state
    // snapshots): the sidecar exists but can never cut >1 range, so the
    // planner still strides
    val ng = d.resolve("ng.pcapng")
    val ngPkt = ethernet(0x0800,
      ipv4("10.0.0.1", "10.0.0.2", 17, udp(1, 2, Array[Byte](0))))
    Files.write(ng, pcapng(Seq((1, 6)),
      Seq((0, 1000L, ngPkt.length, ngPkt))))
    (1 to 2).foreach { _ =>
      assert(spark.read.format("pcap").option("decodePartitions", 2)
        .load(ng.toString).count() == 1L)
    }
    val ngIdx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(ng.toString),
      spark.sessionState.newHadoopConf())
    assert(ngIdx.isDefined && ngIdx.get.isNg && ngIdx.get.frameCount == 1L)
    val ngParts = new graft.sources.PcapScan(Seq(ng.toString),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 2).planInputPartitions()
    assert(ngParts.forall(_.asInstanceOf[graft.sources.PcapInputPartition]
      .rangeStart < 0), "1 frame cannot cut 2 ranges")
    // unwritable destination: the sidecar write must silently skip and
    // the read succeed (tests run as root, which ignores permission
    // bits — block the write by occupying .fidx with a plain FILE, so
    // mkdirs fails for any uid)
    val ro = Files.createTempDirectory("fidx_ro")
    val rof = ro.resolve("ro.pcap").toString
    graft.spark.PcapGen.write(rof, 20000, 1700000000000000L)
    Files.write(ro.resolve(".fidx"), Array[Byte](1))
    assert(spark.read.format("pcap").option("decodePartitions", 4)
      .load(rof).count() == 20000L)
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(rof),
      spark.sessionState.newHadoopConf()).isEmpty)
  }

  test("corrupted/truncated sidecars are rejected and the stride path rebuilds them") {
    // a torn or garbage .fidx must never reach the planner as ranges —
    // FrameIndex.read validates magic/version/monotonicity/bounds and
    // any read error resolves to None (stride fallback), after which
    // shard 0 REPLACES the bad sidecar
    val d = Files.createTempDirectory("fidx_corrupt")
    val f = d.resolve("c.pcap").toString
    graft.spark.PcapGen.write(f, 30000, 1700000000000000L)
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(f)
    val plain = spark.read.format("pcap").load(f)
      .orderBy("frame_time", "ip_id").collect().toSeq
    def sidecar = d.resolve(".fidx").resolve("c.pcap.fidx")
    for (garbage <- Seq(
        Array[Byte](1, 2, 3), // truncated mid-header
        Array.fill[Byte](64)(0x5a), // wrong magic
        // right magic+version, monotonicity violated in the offsets
        java.nio.ByteBuffer.allocate(48)
          .putInt(0x46494458).putInt(1).putLong(9999999L).putLong(30000L)
          .putInt(8192).putInt(2).putLong(24L).putLong(10L).array())) {
      java.nio.file.Files.createDirectories(sidecar.getParent)
      Files.write(sidecar, garbage)
      assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty,
        s"garbage sidecar of ${garbage.length} bytes validated")
      // the scan still reads correctly (stride) and rebuilds the sidecar
      assert(spark.read.format("pcap").option("decodePartitions", 3)
        .load(f).orderBy("frame_time", "ip_id").collect().toSeq == plain)
      val rebuilt = graft.pcapio.FrameIndex.read(p, hconf)
      assert(rebuilt.isDefined && rebuilt.get.frameCount == 30000L,
        "bad sidecar should be replaced by the next stride read")
      java.nio.file.Files.delete(sidecar)
    }
    // round-15 ADVICE: a corrupted offset that stays MONOTONE and
    // IN-RANGE passed v1's structural checks — a range seeking to a
    // non-frame boundary makes the Sane framer stop quietly (silent
    // frame loss). v2's CRC catches it: bit-flip one offset of a valid
    // sidecar (keeping monotonicity) and the read must reject.
    assert(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f).count() == 30000L) // (re)build a valid v2 sidecar
    val valid = Files.readAllBytes(sidecar)
    val tampered = valid.clone()
    // layout: int magic, int version, long fileLen, long frameCount,
    // int stride, int n, then n longs — nudge offsets[1]'s low byte
    val off1Low = 4 + 4 + 8 + 8 + 4 + 4 + 8 + 7
    tampered(off1Low) = (tampered(off1Low) + 4).toByte
    Files.write(sidecar, tampered)
    assert(tampered.toSeq != valid.toSeq &&
      graft.pcapio.FrameIndex.read(p, hconf).isEmpty,
      "monotone in-range corruption must fail the CRC")
    // and the legacy v1 format (no CRC) is rejected by the version check
    val v1 = valid.clone()
    v1(7) = 1 // version int's low byte
    Files.write(sidecar, java.util.Arrays.copyOf(v1, v1.length - 8))
    assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty,
      "v1 sidecars must not validate")
  }

  test("pcap write emits an exact frame-index sidecar; the output range-shards on first read") {
    // the writer knows every record offset, so its sidecar is exact and
    // free — a written landing is range-shardable without ever paying a
    // stride pass
    val srcDir = Files.createTempDirectory("fidx_w_src")
    val src = srcDir.resolve("src.pcap").toString
    graft.spark.PcapGen.write(src, 20000, 1700000000000000L)
    val outDir = Files.createTempDirectory("fidx_w_out").toString + "/out"
    spark.read.format("pcap").option("bytes", "true").load(src)
      .coalesce(1)
      .write.format("pcap").mode("append").save(outDir)
    val hconf = spark.sessionState.newHadoopConf()
    val part = graft.sources.PcapFileEnum.list(Seq(outDir), hconf)
    assert(part.size == 1)
    val idx = graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(part.head), hconf)
    assert(idx.isDefined, "writer should emit the sidecar")
    assert(idx.get.frameCount == 20000L)
    // 20000 frames / 8192 stride = 3 offsets → 2 ranges max
    val parts = new graft.sources.PcapScan(Seq(part.head),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 2).planInputPartitions()
    assert(parts.length == 2 && parts.forall(
      _.asInstanceOf[graft.sources.PcapInputPartition].rangeStart >= 0))
    // range-sharded read of the written file ≡ plain read of the source
    val a = spark.read.format("pcap").option("decodePartitions", 2)
      .load(part.head).orderBy("frame_time", "ip_id")
      .drop("pcap_file").collect().toSeq
    val b = spark.read.format("pcap").load(src)
      .orderBy("frame_time", "ip_id").drop("pcap_file").collect().toSeq
    assert(a == b)
    // tiny outputs skip the sidecar (it could never cut >1 range)
    val tinyOut = Files.createTempDirectory("fidx_w_tiny").toString + "/out"
    spark.read.format("pcap").option("bytes", "true").load(src)
      .limit(100).coalesce(1).write.format("pcap").mode("append").save(tinyOut)
    val tinyPart = graft.sources.PcapFileEnum.list(Seq(tinyOut), hconf)
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(tinyPart.head), hconf).isEmpty)
  }

  test("public dissectGate option refuses with a contract pointer (round-14 hardening)") {
    // the gate's NULL-for-ungated-rows semantics are a consumer contract
    // only the defrag stats pass satisfies; the shape cannot be checked
    // from inside the scan (the stats pass plans its observe barrier
    // below the filter), so the public name refuses and the internal
    // name carries the contract
    val e = intercept[Exception] {
      spark.read.format("pcap").option("dissectGate", "first-fragment")
        .load(dir).count()
    }
    assert(e.getMessage.contains("_internal.dissectGate"), e.getMessage)
    // the internal name still validates its value
    val e2 = intercept[Exception] {
      spark.read.format("pcap").option("_internal.dissectGate", "everything")
        .load(dir).count()
    }
    assert(e2.getMessage.contains("first-fragment"), e2.getMessage)
  }

  test("resume catch reset re-evaluates the pushed L3 filter (no leaked rows)") {
    // round-14 ADVICE: staged scans decide `emit` from the L3 filters
    // BEFORE dissectResume runs; if resume's never-panic catch resets
    // the accumulator to base fields, the decision must be re-made on
    // the reset row (direct full dissection resets before any filter
    // evaluates). Drive the reader directly — above the scan Spark
    // re-applies every residual filter, which would mask a leak.
    import org.apache.spark.sql.sources.EqualTo
    val conf = spark.sessionState.newHadoopConf()
    val filt: Array[org.apache.spark.sql.sources.Filter] =
      Array(EqualTo("ip_proto", 17.toShort))
    val file = dir + "/a.pcap" // one UDP/DNS frame (reaches L7), one TCP
    graft.dissect.PacketDissector.l7FaultHook =
      () => throw new IllegalStateException("injected L7 fault")
    try {
      // the staged plan engages (full schema + an L3-only filter); the
      // DNS row resets to base fields (ip_proto 0) → must be dropped
      // like the direct path would; the TCP row fails the filter at L3
      val cr = new graft.sources.PcapColumnarReader(file, conf,
        graft.core.PacketSchema.schema, false, filt)
      var n = 0
      while (cr.next()) n += cr.get().numRows()
      cr.close()
      assert(n == 0, s"columnar reader leaked $n reset rows")
    } finally graft.dissect.PacketDissector.l7FaultHook = null
  }

  test("reference-compat mode option is honored") {
    // pcapng with an origlen quirk: EPB frame_len = caplen in compat mode
    val pkt = ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 6, tcp(1, 2, 0)))
    val d2 = Files.createTempDirectory("dsv2ng")
    Files.write(d2.resolve("x.pcapng"), pcapng(Seq((1, 6)), Seq((0, 5L, 9999, pkt))))
    def fl(mode: String) = spark.read.format("pcap").option("mode", mode)
      .load(d2.toString).select("frame_len").head().getLong(0)
    // both modes overwrite frame_len with IP total_len for IPv4; use eth_type
    // presence as a sanity check and compare raw counts instead
    assert(spark.read.format("pcap").load(d2.toString).count() == 1)
    assert(fl("reference-compat") == fl("sane")) // IPv4 total_len wins either way
  }

  test("bytes=true adds raw frame columns; pcap round-trip preserves packets") {
    val withBytes = spark.read.format("pcap").option("bytes", "true").load(dir)
    assert(withBytes.schema == graft.core.PacketSchema.bytesSchema)
    // filter to DNS only and write BACK to pcap
    val outDir = Files.createTempDirectory("pcap-roundtrip").toString
    withBytes.filter(col("col_protocol") === "DNS")
      .write.format("pcap").mode("overwrite").save(outDir)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".pcap"))
    assert(files.nonEmpty)
    // re-read the written capture: dissected rows must equal the filtered
    // originals (minus pcap_file, which now names the part files)
    val back = spark.read.format("pcap").load(outDir)
      .drop("pcap_file").orderBy("frame_time").collect().toSeq
    val expected = spark.read.format("pcap").load(dir)
      .filter(col("col_protocol") === "DNS")
      .drop("pcap_file").orderBy("frame_time").collect().toSeq
    assert(back == expected)
    assert(back.size == 3)
  }

  test("pcapng write: mixed linktypes round-trip through per-interface IDBs") {
    // a capture that legacy pcap cannot represent: Ethernet (linktype 1)
    // and raw-IP (linktype 101) frames in one file
    val ethFrame = ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
      udp(1111, 53, dnsQuery("mixed.example", 1))))
    val rawFrame = ipv4("10.0.0.3", "10.0.0.4", 17,
      udp(2222, 53, dnsQuery("raw.example", 1)))
    val d = Files.createTempDirectory("pcapng-mixed")
    Files.write(d.resolve("mix.pcapng"), pcapng(
      Seq((1, 6), (101, 6)),
      Seq((0, 1000000L, ethFrame.length, ethFrame),
        (1, 2000000L, rawFrame.length, rawFrame))))
    val src = spark.read.format("pcap").option("bytes", "true").load(d.toString)
    assert(src.select("linktype").orderBy("frame_time").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 101))
    val outDir = Files.createTempDirectory("pcapng-out").toString
    src.write.format("pcap").option("format", "pcapng").mode("overwrite").save(outDir)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".pcapng"))
    assert(files.nonEmpty)
    // re-read: dissection AND per-row linktypes must survive the round trip
    val back = spark.read.format("pcap").option("bytes", "true").load(outDir)
      .drop("pcap_file").orderBy("frame_time").collect().toSeq
    val expected = src.drop("pcap_file").orderBy("frame_time").collect().toSeq
    assert(back == expected)
    assert(back.map(_.getAs[String]("dns_qry_name")).toSet ==
      Set("mixed.example", "raw.example"))
  }

  test("pcap write without frame_bytes fails fast with a helpful error") {
    val noBytes = spark.read.format("pcap").load(dir)
    val outDir = Files.createTempDirectory("pcap-nobytes").toString
    val e = intercept[Exception] {
      noBytes.write.format("pcap").mode("overwrite").save(outDir)
    }
    assert(e.getMessage.contains("frame_bytes"))
  }
}
