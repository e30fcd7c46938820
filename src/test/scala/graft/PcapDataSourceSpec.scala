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

  /** The scan's planned partitions for `f`, asserting every one is a
    * byte range. */
  private def rangeParts(f: String, n: Int,
      refCompat: Boolean = false): Seq[graft.sources.PcapInputPartition] = {
    val parts = new graft.sources.PcapScan(Seq(f), graft.core.PacketSchema.schema,
      refCompat, decodePartitions = n).planInputPartitions()
      .map(_.asInstanceOf[graft.sources.PcapInputPartition]).toSeq
    assert(parts.forall(_.rangeStart >= 0), s"$f: not all ranges: $parts")
    parts
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
    // the single-huge-file knob (round-7 verdict #7): a lone capture is
    // cut into N frame-aligned byte ranges from its frame index — the
    // DSv2 twin of PcapSource.read's decodePartitions repartition
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
    // legacy pcap and a mixed-linktype pcapng, unsharded, then range-
    // sharded twice: the first sharded read cuts from the planner's own
    // walk (no sidecar yet), the second from the sidecar it wrote
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
    val hconf = spark.sessionState.newHadoopConf()
    for (f <- Seq(legacy, ng)) {
      val want = framed(f)
      assert(want.size == 30000)
      same(scanned(f, 1), want, s"$f unsharded")
      val p = new org.apache.hadoop.fs.Path(f.toString)
      assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty)
      assert(rangeParts(f.toString, 3).length == 3, s"$f: cold plan")
      same(scanned(f, 3), want, s"$f ranges, planner walk")
      assert(graft.pcapio.FrameIndex.read(p, hconf).isDefined,
        s"$f: the planner should have written the sidecar")
      same(scanned(f, 3), want, s"$f ranges, sidecar")
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

  test("frame-index: the first sharded read plans ranges and writes the sidecar; stale ones are rebuilt") {
    // a sidecar-less legacy pcap is framed once by the planner, which
    // cuts contiguous frame-aligned byte ranges from that index and
    // writes it as a .fidx sidecar for the next read — same row multiset
    // as the plain read, 1/N of the framing per task
    val d = Files.createTempDirectory("fidx")
    val f = d.resolve("big.pcap").toString
    graft.spark.PcapGen.write(f, 100000, 1700000000000000L)
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(f)
    val plain = spark.read.format("pcap").load(f)
      .orderBy("frame_time", "ip_id", "ip_frag_offset").collect().toSeq
    assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty)
    // the FIRST sharded plan already cuts 8 ranges
    assert(rangeParts(f, 8).length == 8)
    val idx = graft.pcapio.FrameIndex.read(p, hconf)
    assert(idx.isDefined, "the planner should have written the sidecar")
    assert(idx.get.frameCount == 100000L)
    val sharded = spark.read.format("pcap").option("decodePartitions", 8).load(f)
    val perPart = sharded.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length == 8 && perPart.forall(_ > 0), perPart.mkString(","))
    assert(perPart.sum == 100000)
    assert(sharded.orderBy("frame_time", "ip_id", "ip_frag_offset")
      .collect().toSeq == plain)
    // STALE sidecar (file grew): ignored, the planner walks the new file,
    // cuts it correctly and REPLACES the sidecar
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

  test("frame-index: a same-length in-place rewrite invalidates the sidecar") {
    // the sidecar once checked only the file's length: merging one
    // record into the next in place keeps the length but moves a frame
    // boundary, and a range cut at the stale offset re-read the
    // swallowed record as a frame of its own (same count, wrong rows)
    val d = Files.createTempDirectory("fidx_rewrite")
    val f = d.resolve("tcp.pcap")
    graft.spark.PcapGen.write(f.toString, 40000, mix = "tcp")
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(f.toString)
    def stats(parts: Int) = spark.read.format("pcap")
      .option("decodePartitions", parts).load(f.toString)
      .agg(count(lit(1)), sum("frame_len")).head()
    assert(stats(3) == stats(1)) // writes the sidecar
    assert(graft.pcapio.FrameIndex.read(p, hconf).isDefined)
    val len = Files.size(f)
    Thread.sleep(1100) // past a whole-second mtime granularity
    // merge record 16383 into 16384: its caplen and origlen grow by
    // record 16384's header + data
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try {
      def le32(at: Long): Int = {
        val b = new Array[Byte](4)
        raf.seek(at); raf.readFully(b)
        java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      }
      var at = 24L
      (0 until 16383).foreach(_ => at += 16 + le32(at + 8))
      val merged = le32(at + 8) + 16 + le32(at + 16 + le32(at + 8) + 8)
      val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(merged).putInt(merged).array()
      raf.seek(at + 8); raf.write(b)
    } finally raf.close()
    assert(Files.size(f) == len)
    val whole = stats(1)
    assert(whole.getLong(0) == 39999L)
    assert(stats(3) == whole, "a range cut from the stale sidecar")
    assert(graft.pcapio.FrameIndex.read(p, hconf).exists(_.frameCount == 39999L),
      "the planner should have rebuilt the sidecar")
  }

  test("frame-index: files with fewer frames than shards cut one range per frame; read-only dirs get ranges and no sidecar") {
    val d = Files.createTempDirectory("fidx2")
    val hconf = spark.sessionState.newHadoopConf()
    def sidecar(f: String) =
      graft.pcapio.FrameIndex.read(new org.apache.hadoop.fs.Path(f), hconf)
    // 5 frames at 8 shards: 5 one-frame ranges, in both framer modes
    val tiny = d.resolve("tiny.pcap").toString
    graft.spark.PcapGen.write(tiny, 5, 1700000000000000L)
    for (mode <- Seq("sane", "reference-compat")) {
      def read(parts: Int) = spark.read.format("pcap").option("mode", mode)
        .option("decodePartitions", parts).load(tiny)
        .orderBy("frame_time", "ip_id").collect().toSeq
      assert(rangeParts(tiny, 8, refCompat = mode != "sane").length == 5)
      assert(read(8) == read(1), mode)
    }
    // pcapng: 3 frames at 8 shards cut 3 stateful ranges; a 1-frame file
    // cannot be cut and stays one whole-file partition, with no sidecar
    val ngPkt = ethernet(0x0800,
      ipv4("10.0.0.1", "10.0.0.2", 17, udp(1, 2, Array[Byte](0))))
    val ng3 = d.resolve("ng3.pcapng").toString
    Files.write(java.nio.file.Paths.get(ng3), pcapng(Seq((1, 6)),
      (0 until 3).map(i => (0, 1000L + i, ngPkt.length, ngPkt))))
    val ng3Parts = rangeParts(ng3, 8)
    assert(ng3Parts.length == 3 && ng3Parts.forall(_.ngState != null))
    assert(spark.read.format("pcap").option("decodePartitions", 8).load(ng3)
      .collect().toSeq.sortBy(_.toString) ==
      spark.read.format("pcap").load(ng3).collect().toSeq.sortBy(_.toString))
    val ng1 = d.resolve("ng1.pcapng").toString
    Files.write(java.nio.file.Paths.get(ng1), pcapng(Seq((1, 6)),
      Seq((0, 1000L, ngPkt.length, ngPkt))))
    val ng1Parts = new graft.sources.PcapScan(Seq(ng1),
      graft.core.PacketSchema.schema, refCompat = false,
      decodePartitions = 2).planInputPartitions()
    assert(ng1Parts.length == 1 && ng1Parts.forall(
      _.asInstanceOf[graft.sources.PcapInputPartition].rangeStart < 0))
    assert(spark.read.format("pcap").option("decodePartitions", 2)
      .load(ng1).count() == 1L)
    assert(sidecar(ng1).isEmpty, "a 1-frame index is not worth a sidecar")
    // unwritable destination: the sidecar write silently skips, the
    // planner still cuts ranges from its in-memory index (tests run as
    // root, which ignores permission bits — block the write by
    // occupying .fidx with a plain FILE, so mkdirs fails for any uid)
    val ro = Files.createTempDirectory("fidx_ro")
    val rof = ro.resolve("ro.pcap").toString
    graft.spark.PcapGen.write(rof, 20000, 1700000000000000L)
    Files.write(ro.resolve(".fidx"), Array[Byte](1))
    assert(rangeParts(rof, 4).length == 4)
    val roRead = spark.read.format("pcap").option("decodePartitions", 4).load(rof)
    assert(roRead.rdd.getNumPartitions == 4)
    assert(roRead.orderBy("frame_time", "ip_id").collect().toSeq ==
      spark.read.format("pcap").load(rof).orderBy("frame_time", "ip_id").collect().toSeq)
    assert(sidecar(rof).isEmpty)
  }

  test("corrupted/truncated sidecars are rejected and the planner rebuilds them") {
    // a torn or garbage .fidx must never reach the planner as ranges —
    // FrameIndex.read validates magic/version/monotonicity/bounds and
    // any read error resolves to None, after which the planner frames
    // the file again and REPLACES the bad sidecar
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
        // right magic, an old version, monotonicity violated in the offsets
        java.nio.ByteBuffer.allocate(48)
          .putInt(0x46494458).putInt(1).putLong(9999999L).putLong(30000L)
          .putInt(8192).putInt(2).putLong(24L).putLong(10L).array())) {
      java.nio.file.Files.createDirectories(sidecar.getParent)
      Files.write(sidecar, garbage)
      assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty,
        s"garbage sidecar of ${garbage.length} bytes validated")
      // the scan still plans ranges, reads correctly and rebuilds the sidecar
      assert(rangeParts(f, 3).length == 3)
      assert(spark.read.format("pcap").option("decodePartitions", 3)
        .load(f).orderBy("frame_time", "ip_id").collect().toSeq == plain)
      val rebuilt = graft.pcapio.FrameIndex.read(p, hconf)
      assert(rebuilt.isDefined && rebuilt.get.frameCount == 30000L,
        "bad sidecar should be replaced by the next sharded read")
      java.nio.file.Files.delete(sidecar)
    }
    // round-15 ADVICE: a corrupted offset that stays MONOTONE and
    // IN-RANGE passed v1's structural checks — a range seeking to a
    // non-frame boundary makes the Sane framer stop quietly (silent
    // frame loss). The CRC catches it: bump one offset of a valid
    // sidecar by 4 bytes (keeping monotonicity) and the read must reject.
    assert(spark.read.format("pcap").option("decodePartitions", 3)
      .load(f).count() == 30000L) // (re)build a valid sidecar
    val valid = Files.readAllBytes(sidecar)
    val tampered = valid.clone()
    // layout: int magic, int version, byte container, long fileLen,
    // long mtime, long frameCount, int stride, int n, then n longs —
    // nudge offsets[1]'s low byte
    val off1Low = 4 + 4 + 1 + 8 + 8 + 8 + 4 + 4 + 8 + 7
    val offs = java.nio.ByteBuffer.wrap(valid, off1Low - 15, 24)
    val (o0, o1, o2) = (offs.getLong, offs.getLong, offs.getLong)
    assert(o0 < o1 && o1 + 4 < o2 && (o1 & 0xff) < 0xfc, s"$o0 $o1 $o2")
    tampered(off1Low) = (tampered(off1Low) + 4).toByte
    Files.write(sidecar, tampered)
    assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty,
      "monotone in-range corruption must fail the CRC")
    // and an older format version is rejected by the version check
    val v3 = valid.clone()
    v3(7) = 3 // version int's low byte
    Files.write(sidecar, v3)
    assert(graft.pcapio.FrameIndex.read(p, hconf).isEmpty,
      "v3 sidecars must not validate")
  }

  test("pcap write emits an exact frame-index sidecar; the output range-shards on first read") {
    // the writer knows every record offset, so its sidecar is exact and
    // free — a written landing is range-shardable without the planner
    // framing it first
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
    assert(rangeParts(part.head, 2).length == 2)
    // range-sharded read of the written file ≡ plain read of the source
    val a = spark.read.format("pcap").option("decodePartitions", 2)
      .load(part.head).orderBy("frame_time", "ip_id")
      .drop("pcap_file").collect().toSeq
    val b = spark.read.format("pcap").load(src)
      .orderBy("frame_time", "ip_id").drop("pcap_file").collect().toSeq
    assert(a == b)
    // a 1-frame output skips the sidecar (it could never cut >1 range)
    val tinyOut = Files.createTempDirectory("fidx_w_tiny").toString + "/out"
    spark.read.format("pcap").option("bytes", "true").load(src)
      .limit(1).coalesce(1).write.format("pcap").mode("append").save(tinyOut)
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
