package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.spark.{Defrag, PcapConvert, PcapSource}
import PcapFixtures._

/** End-to-end: pcap file → PcapSource → packet table → Defrag → parquet.
  * This is the minimum end-to-end slice of SURVEY §7.
  */
class PcapPipelineSpec extends SparkFunSuite {

  /** Rows as sorted strings over name-sorted columns: equality that
    * ignores row order and column order. */
  private def canon(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    d.selectExpr(d.columns.sorted.map(c => s"`$c`"): _*)
      .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))

  private def writeTemp(name: String, bytes: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("graft-pcap")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p
  }

  /** A capture with 2 fragmented UDP datagrams (3 fragments each) + noise. */
  private def fragmentedCapture: Array[Byte] = {
    def firstFrag(id: Int, qname: String) = ethernet(0x0800,
      ipv4("198.51.100.1", "203.0.113.9", 17,
        udp(53, 40000 + id, dnsQuery(qname, 1)), id = id, mf = true))
    def midFrag(id: Int, off: Int, mf: Boolean) = ethernet(0x0800,
      ipv4("198.51.100.1", "203.0.113.9", 17, Array.fill[Byte](24)(0x61),
        id = id, mf = mf, fragOffset = off))
    val tcpPkt = ethernet(0x0800,
      ipv4("192.0.2.5", "203.0.113.9", 6, tcp(443, 5555, 0x12)))
    val frames = Seq(
      (1000L, firstFrag(1, "a.example.com")),
      (2000L, midFrag(1, 6, mf = true)),
      (3000L, midFrag(1, 12, mf = false)),
      (4000L, firstFrag(2, "b.example.org")),
      (5000L, midFrag(2, 6, mf = true)),
      (6000L, midFrag(2, 12, mf = false)),
      (7000L, tcpPkt))
    legacyPcap(frames.map { case (ts, p) => (ts, -1, p) })
  }

  test("pcap → DataFrame: schema, pcap_file column, row count") {
    val p = writeTemp("cap1.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString)
    assert(df.schema == graft.core.PacketSchema.schema)
    assert(df.count() == 7)
    assert(df.select("pcap_file").distinct().head().getString(0) == "cap1.pcap")
    val dns = df.filter(col("col_protocol") === "DNS").collect()
    assert(dns.length == 2)
    assert(dns.map(_.getAs[String]("dns_qry_name")).toSet ==
      Set("a.example.com", "b.example.org"))
  }

  test("fragmentedPct matches the reference's % formula (main.rs:274)") {
    val p = writeTemp("cap2.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString).cache()
    // 6 of 7 packets fragmented → round(85.7) = 86
    assert(Defrag.fragmentedPct(df) == 86.0)
    df.unpersist()
  }

  test("defrag back-fills L7 columns onto sibling fragments") {
    val p = writeTemp("cap3.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString).cache()
    val out = Defrag(df).cache()
    assert(out.count() == 7)
    // all fragments of datagram id=1 now carry the first fragment's DNS name
    val d1 = out.filter(col("ip_id") === 1).collect()
    assert(d1.length == 3)
    assert(d1.forall(_.getAs[String]("dns_qry_name") == "a.example.com"))
    // col_protocol coalesces, so the non-null "IPv4" on non-first fragments
    // survives — exactly the reference's behavior (main.rs:296)
    assert(d1.map(_.getAs[String]("col_protocol")).sorted.toSeq ==
      Seq("DNS", "IPv4", "IPv4"))
    assert(d1.forall(r => r.getAs[Int]("udp_srcport") == 53))
    // the TCP packet is untouched (left join + coalesce)
    val t = out.filter(col("ip_proto") === 6).head()
    assert(t.getAs[String]("col_protocol") == "TCP")
    assert(t.getAs[String]("tcp_flags") == "...A..S.")
    // patched columns moved to the end (reference EXCLUDE+re-append order)
    assert(out.columns.takeRight(6).toSeq == Defrag.Patched)
    df.unpersist(); out.unpersist()
  }

  test("adaptive guard broadcasts on key-collided captures (distinct keys, not ff rows)") {
    // round 12: ff after the aggregate is one row per DISTINCT datagram
    // key, so the broadcast ceiling compares against that — a capture
    // whose ip_id space wraps (the same key recurring many times) must
    // take the broadcast join even when the first-fragment ROW count
    // exceeds the ceiling. 120 first fragments over 6 distinct keys:
    // ceiling 20 sits between them.
    val frames = (0 until 120).flatMap { i =>
      val id = i % 6 // 6 distinct datagram keys, 20 ff rows each
      Seq(
        (i * 2000L, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
          udp(53, 41000, dnsQuery(s"k$id.example.org", 1)), id = id, mf = true))),
        (i * 2000L + 1, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
          Array.fill[Byte](16)(0x42), id = id, fragOffset = 5))))
    }
    val p = writeTemp("cap_guard.pcap", legacyPcap(frames))
    val df = PcapSource.read(spark, p.toString).cache()
    val st = Defrag.fragStats(df)
    assert(st.firstFragments == 120L)
    // HLL at 6 values is exact
    assert(st.distinctKeysEst == 6L, s"est=${st.distinctKeysEst}")
    sys.props("graft.defrag.maxBroadcastFF") = "20"
    try {
      val (_, choice) = Defrag.applyWithChoice(df)
      assert(choice == Defrag.BroadcastJoin, s"got $choice")
      // and a genuinely wide key space above the ceiling still shuffles:
      // estimate*1.25 > 20 even with HLL slack at 120 distinct keys
      val framesWide = (0 until 120).flatMap { i =>
        Seq(
          (i * 2000L, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
            udp(53, 41000, dnsQuery(s"w$i.example.org", 1)), id = i, mf = true))),
          (i * 2000L + 1, -1, ethernet(0x0800, ipv4("198.51.100.7", "192.0.2.9", 17,
            Array.fill[Byte](16)(0x42), id = i, fragOffset = 5))))
      }
      val pw = writeTemp("cap_guard_wide.pcap", legacyPcap(framesWide))
      val dfw = PcapSource.read(spark, pw.toString).cache()
      val (_, choiceW) = Defrag.applyWithChoice(dfw)
      assert(choiceW == Defrag.ShuffleBypass, s"got $choiceW")
      dfw.unpersist()
    } finally sys.props.remove("graft.defrag.maxBroadcastFF")
    df.unpersist()
  }

  test("fused stats on the gated scan ≡ fragStats + patch map of the ungated scan") {
    import graft.sources.DefragPatch
    // the fused job counts (total, fragmented) in the READERS and pushes
    // the ff filter into the first-fragment-gated scan — it must
    // reproduce the ungated scan's stats exactly and build the identical
    // patch map (the gate changes which rows pay transport/L7 dissection,
    // never a result)
    val p = writeTemp("cap_fused.pcap", fragmentedCapture)
    def gatedStats(path: String): (PcapSource.Metrics, org.apache.spark.sql.DataFrame) = {
      val sm = PcapSource.statsMetrics(spark)
      val key = java.util.UUID.randomUUID().toString
      PcapSource.registerMetrics(key, sm)
      (sm, spark.read.format("pcap")
        .option("_internal.dissectGate", "first-fragment")
        .option("metricsKey", key).load(path))
    }
    val (sm, gated) = gatedStats(p.toString)
    // the ff filter really lands in the scan (the whole point: non-ff
    // rows veto at L3 before any vector fills) — visible in the scan's
    // pushed-filter description
    val planStr = Defrag.firstFragments(gated)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("pushed=") && planStr.contains("ip_frag_offset"),
      s"ff filter not pushed into the fused stats scan:\n$planStr")
    // one map-only job: no exchange, so no shuffle bytes either way
    val (fused, work) = graft.tools.TaskRecords.measureWork(spark)(
      Defrag.statsAndBuild(gated, sm, 4000000L))
    assert(work.jobs == 1L && work.shuffleWriteB == 0L && work.shuffleReadB == 0L,
      s"stats pass ran as $work")
    val plain = spark.read.format("pcap").load(p.toString)
    val st = Defrag.fragStats(plain)
    assert(fused.total == st.total && fused.pct == st.pct,
      s"fused (${fused.total}, ${fused.pct}) != ungated (${st.total}, ${st.pct})")
    val ungatedMap = DefragPatch.build(Defrag.firstFragments(plain))
    assert(fused.ffKeys == ungatedMap.ids.length)
    def entries(m: DefragPatch.PatchMap): Set[(String, String, Int, Int, Int, Int, Int, String, Int)] =
      m.ids.indices.map { i =>
        (m.strings(m.srcIdx(i)), m.strings(m.dstIdx(i)), m.ids(i),
          m.udpSrcport(i), m.udpDstport(i), m.ntpPrivReqcode(i),
          m.dnsQryType(i),
          if (m.dnsNameIdx(i) < 0) null else m.strings(m.dnsNameIdx(i)),
          m.protoIdx(i))
      }.toSet
    assert(entries(fused.map.get) == entries(ungatedMap),
      "fused patch map diverged from the ungated scan's")

    // the DISCRIMINATING corpus (reader counting): 500 TCP rows + one
    // 2-fragment datagram. The pushed ff filter vetoes the 500 TCP rows
    // at the scan — the reader counters must still have counted them
    // (pct 0, not 100)
    val frames = (1 to 500).map { i =>
      (i * 1000L, -1, ethernet(0x0800,
        ipv4("9.9.9.9", "8.8.8.8", 6, tcp(80, 2000 + i, 0x10))))
    } ++ Seq(
      (400000L, -1, ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17,
        udp(53, 41000, dnsQuery("x.example.org", 1)), id = 9, mf = true))),
      (400001L, -1, ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17,
        Array.fill[Byte](16)(0x42), id = 9, fragOffset = 5))))
    val p2 = writeTemp("cap_fused2.pcap", legacyPcap(frames))
    val (sm2, gated2) = gatedStats(p2.toString)
    val fused2 = Defrag.statsAndBuild(gated2, sm2, 4000000L)
    assert(fused2.total == 502L,
      s"reader total ${fused2.total} — vetoed rows went uncounted")
    assert(fused2.pct == 0.0, s"pct ${fused2.pct} — the skip decision flipped")
    val st2 = Defrag.fragStats(spark.read.format("pcap").load(p2.toString))
    assert(fused2.total == st2.total && fused2.pct == st2.pct)
    assert(fused2.ffKeys == 1L && fused2.map.get.ids.length == 1)

    // past the ceiling the build refuses; the key count is then a lower
    // bound above it, and the reader counts stay exact
    val (sm3, gated3) = gatedStats(p.toString)
    val over = Defrag.statsAndBuild(gated3, sm3, maxKeys = 1L)
    assert(over.map.isEmpty && over.ffKeys > 1L)
    assert(over.pct == fused.pct)
  }

  test("fused stats overflow: a task's own keys or only the merged keys past the cap refuse the map") {
    // two files, one task each, three distinct datagram keys per file:
    // a cap of 2 overflows inside each task, a cap of 4 only in the
    // driver merge (3 + 3); neither may change the reader counts
    val dir = Files.createTempDirectory("fusedover")
    Seq("a" -> 1, "b" -> 4).foreach { case (name, id0) =>
      val frames = (id0 until id0 + 3).flatMap { id =>
        Seq(
          (id * 1000L, -1, ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
            udp(53, 40000, dnsQuery(s"k$id.example.org", 1)), id = id, mf = true))),
          (id * 1000L + 1, -1, ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
            Array.fill[Byte](16)(0x42), id = id, fragOffset = 5))))
      }
      Files.write(dir.resolve(s"$name.pcap"), legacyPcap(frames))
    }
    def fusedAt(maxKeys: Long): Defrag.FusedStats = {
      val sm = PcapSource.statsMetrics(spark)
      val key = java.util.UUID.randomUUID().toString
      PcapSource.registerMetrics(key, sm)
      try Defrag.statsAndBuild(spark.read.format("pcap")
        .option("_internal.dissectGate", "first-fragment")
        .option("metricsKey", key).load(dir.toString), sm, maxKeys)
      finally PcapSource.unregisterMetrics(key)
    }
    val fits = fusedAt(6L)
    assert(fits.map.map(_.ids.length).contains(6) && fits.ffKeys == 6L)
    assert(fits.total == 12L && fits.pct == 100.0)
    Seq(2L, 4L).foreach { cap =>
      val over = fusedAt(cap)
      assert(over.map.isEmpty && over.ffKeys > cap, s"cap $cap: $over")
      assert(over.total == fits.total && over.pct == fits.pct, s"cap $cap: $over")
    }
  }

  test("columnar broadcast-patch convert ≡ join defrag, defragged column order (round 13)") {
    // the CLI's default convert shape now enriches IN THE READER from
    // the broadcast ff map (no join node) — its output must be
    // row-identical to the join path's, with the reference's
    // patched-at-end column order restored by the writer permutation
    val p = writeTemp("cap_patch.pcap", fragmentedCapture)
    val outDir = java.nio.file.Files.createTempDirectory("patchconv")
    PcapConvert.run(spark, PcapConvert.Args(
      file = p.toString, out = outDir.toString + "/out.parquet",
      singleFile = false))
    val got = spark.read.parquet(outDir.toString + "/out.parquet")
    assert(got.columns.toSeq ==
      Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq))
    val want = Defrag.defrag(PcapSource.read(spark, p.toString))
    assert(canon(got) == canon(want))
    // singleFile default shape too (coalesced RDD, same permutation)
    PcapConvert.run(spark, PcapConvert.Args(
      file = p.toString, out = outDir.toString + "/one.parquet"))
    val one = spark.read.parquet(outDir.toString + "/one.parquet")
    assert(one.columns.toSeq == got.columns.toSeq)
    assert(canon(one) == canon(want))
  }

  test("shuffle-fallback convert ≡ join defrag; its ff spill never lands inside -o") {
    // more distinct keys than the broadcast ceiling (forced to 0 here):
    // the patch-map build refuses, the ff aggregate spills and the shuffle-bypass
    // join feeds the writer. The writer clears the output directory
    // before it runs the join that reads the spill, so a trailing-slash
    // -o must still put the spill beside the output, not inside it.
    val p = writeTemp("cap_shuffle.pcap", fragmentedCapture)
    val want = canon(Defrag.defrag(PcapSource.read(spark, p.toString)))
    sys.props("graft.defrag.maxBroadcastFF") = "0"
    try Seq("out.parquet", "out.parquet/").foreach { o =>
      val dir = Files.createTempDirectory("shuffleconv")
      PcapConvert.run(spark, PcapConvert.Args(
        file = p.toString, out = s"$dir/$o", singleFile = false))
      val got = spark.read.parquet(s"$dir/$o")
      assert(got.columns.toSeq ==
        Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq), o)
      assert(canon(got) == want, o)
      val spills = Files.walk(dir).toArray.map(_.toString).filter(_.contains(".ffspill"))
      assert(spills.isEmpty, s"-o $o left ${spills.mkString(", ")}")
    } finally sys.props.remove("graft.defrag.maxBroadcastFF")
  }

  test("shuffle-fallback convert from off-heap rebatched vectors ≡ the on-heap run") {
    // the join's rows reach the writer through RowToColumnarExec, which
    // allocates OffHeapColumnVectors under this conf: the page encoder
    // must read their strings in place just as it reads on-heap ones
    val p = writeTemp("cap_offheap.pcap", fragmentedCapture)
    val dir = Files.createTempDirectory("shuffleoffheap")
    def convert(o: String): Seq[Seq[String]] = {
      PcapConvert.run(spark, PcapConvert.Args(
        file = p.toString, out = s"$dir/$o", singleFile = false))
      val got = spark.read.parquet(s"$dir/$o")
      assert(got.columns.toSeq ==
        Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq), o)
      canon(got)
    }
    val key = "spark.sql.columnVector.offheap.enabled"
    sys.props("graft.defrag.maxBroadcastFF") = "0"
    try {
      val onHeap = convert("on.parquet")
      val before = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      val offHeap =
        try convert("off.parquet")
        finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      assert(onHeap.size == 7 && offHeap == onHeap)
    } finally sys.props.remove("graft.defrag.maxBroadcastFF")
  }

  test("speculative single-pass convert: unfragmented corpus, and the mispredict fallback (round 13)") {
    val dir = java.nio.file.Files.createTempDirectory("specconv")
    // 1) unfragmented corpus → the sample speculates, stats ride the
    // write, output equals the nodefrag shape (natural column order)
    val tcp = dir.resolve("tcponly.pcap")
    graft.spark.PcapGen.write(tcp.toString, 5000, mix = "tcp")
    PcapConvert.run(spark, PcapConvert.Args(
      file = tcp.toString, out = dir.toString + "/spec.parquet",
      singleFile = false))
    val spec = spark.read.parquet(dir.toString + "/spec.parquet")
    assert(spec.columns.toSeq ==
      graft.core.PacketSchema.schema.fieldNames.toSeq)
    assert(spec.count() == 5000)
    assert(spec.filter(col("ip_frag_offset") > 0).count() == 0)
    // 2) mispredict: a >200k-packet unfragmented PREFIX (the whole
    // sample window) followed by a heavily fragmented tail in the SAME
    // file — the speculation must discard its output and the fallback
    // must produce the exact join-defrag result
    val head = dir.resolve("head.pcap")
    val tail = dir.resolve("tail.pcap")
    graft.spark.PcapGen.write(head.toString, 210000, mix = "tcp")
    graft.spark.PcapGen.write(tail.toString, 90000, mix = "ddos")
    val mixed = dir.resolve("mixed.pcap")
    val headBytes = java.nio.file.Files.readAllBytes(head)
    val tailBytes = java.nio.file.Files.readAllBytes(tail)
    // legacy-pcap concatenation: drop the second file's 24-byte header
    java.nio.file.Files.write(mixed,
      headBytes ++ tailBytes.drop(24))
    java.nio.file.Files.delete(head); java.nio.file.Files.delete(tail)
    assert(PcapConvert.sampleFragPct(spark, mixed.toString,
      graft.pcapio.PcapFramer.Sane) < 0.2) // the prefix really misleads
    PcapConvert.run(spark, PcapConvert.Args(
      file = mixed.toString, out = dir.toString + "/mixed.parquet",
      singleFile = false))
    val got = spark.read.parquet(dir.toString + "/mixed.parquet")
    // fallback produced the DEFRAGGED output: patched-at-end order and
    // back-filled continuation fragments
    assert(got.columns.toSeq ==
      Defrag.defraggedOrder(graft.core.PacketSchema.schema.fieldNames.toSeq))
    val want = Defrag.defrag(
      spark.read.format("pcap").load(mixed.toString))
    assert(got.count() == 300000)
    assert(got.filter(col("ip_frag_offset") > 0 &&
      col("udp_srcport").isNotNull).count() ==
      want.filter(col("ip_frag_offset") > 0 &&
        col("udp_srcport").isNotNull).count())
    // spot equality on the fragmented slice (full 300k-row canon is
    // needless here; the patch≡join equality is pinned exhaustively by
    // the dedicated test above)
    def canonFrag(d: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      d.filter(col("ip_frag_offset") > 0)
        .selectExpr(d.columns.sorted.map(c => s"`$c`"): _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    assert(canonFrag(got) == canonFrag(want))
  }

  test("the speculation sample stops once its answer is certain: 399 fragments in the 200k-frame prefix speculate, 400 do not") {
    val dir = Files.createTempDirectory("samplebound")
    val plain = ethernet(0x0800, ipv4("192.0.2.1", "192.0.2.2", 6, tcp(443, 5555, 0x10)))
    val frag = ethernet(0x0800, ipv4("192.0.2.1", "192.0.2.2", 17,
      Array.fill[Byte](16)(1), id = 9, mf = true, fragOffset = 4))
    // a 200,000-frame prefix (the sample) fragmented at `fragAt`, then
    // 100 more fragments the sample must not see
    def capture(name: String, fragAt: Set[Int]): String = {
      val p = dir.resolve(name)
      Files.write(p, legacyPcap((0 until 200100).map(i =>
        (1000L + i, -1, if (i >= 200000 || fragAt(i)) frag else plain))))
      p.toString
    }
    val spread = (0 until 399).map(_ * 500).toSet
    val under = capture("under.pcap", spread)
    // the 400th fragment is the prefix's last frame
    val at = capture("at.pcap", spread + 199999)
    val early = capture("early.pcap", (0 until 400).toSet)
    def sample(f: String) = PcapConvert.sampleFragPct(spark, f, graft.pcapio.PcapFramer.Sane)
    assert(sample(under) == 100.0 * 399 / 200000)
    assert(sample(at) == 0.2)
    // 400 fragments in the first 400 frames: the walk stops there
    assert(sample(early) == 100.0)
    def jobs(f: String) = traced(PcapConvert.Args(file = f,
      out = dir.resolve(s"${new java.io.File(f).getName}.parquet").toString,
      singleFile = false)).jobs
    assert(jobs(under) == Seq("convert: speculative write"))
    assert(jobs(at) == Seq("convert: stats", "convert: write"))
  }

  /** Run one convert under a listener and a no-op optimizer rule:
    * the job descriptions in start order, SQL executions started,
    * Catalyst optimizer runs, and per `pcap_packets` accumulator id
    * the sum of its task-side updates and its last driver-side value
    * (which includes a mispredict's driver-side rollback).
    */
  private def traced(a: PcapConvert.Args): PcapPipelineSpec.Traced = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val jobs = new ConcurrentLinkedQueue[(String, Int)]()
    val sql = new AtomicInteger
    // per progress accumulator (packets, errors): (task-side sum, last value)
    val counters = Map("pcap_packets" -> scala.collection.mutable.Map.empty[Long, (Long, Long)],
      "pcap_dissect_errors" -> scala.collection.mutable.Map.empty[Long, (Long, Long)])
    val lsn = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.add(String.valueOf(Option(js.properties)
          .map(_.getProperty("spark.job.description")).orNull) ->
          js.stageInfos.map(_.numTasks).sum); ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) te.taskInfo.accumulables.foreach { acc =>
          acc.name.flatMap(counters.get).foreach(byId => acc.update.foreach { u =>
            byId.synchronized {
              val sum = byId.get(acc.id).fold(0L)(_._1) + u.toString.toLong
              byId(acc.id) = (sum, acc.value.fold(-1L)(_.toString.toLong))
            }
          })
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sql.incrementAndGet(); ()
        case _ => ()
      }
    }
    val optimized = new AtomicInteger
    val rule = new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = { optimized.incrementAndGet(); plan }
    }
    val exp = spark.experimental
    exp.extraOptimizations = exp.extraOptimizations :+ rule
    spark.sparkContext.addSparkListener(lsn)
    try graft.tools.TaskRecords.measureWith(spark)(_ => ())(PcapConvert.run(spark, a))
    finally {
      spark.sparkContext.removeSparkListener(lsn)
      exp.extraOptimizations = exp.extraOptimizations.filterNot(_ eq rule)
    }
    val js = jobs.toArray(Array.empty[(String, Int)]).toSeq
    PcapPipelineSpec.Traced(js.map(_._1), js.map(_._2), sql.get, optimized.get,
      counters("pcap_packets").toMap, counters("pcap_dissect_errors").toMap)
  }

  test("every convert branch end to end: output ≡ reference, jobs per branch, no planning off the shuffle fallback") {
    val dir = Files.createTempDirectory("branches")
    val natural = graft.core.PacketSchema.schema.fieldNames.toSeq
    val defragged = Defrag.defraggedOrder(natural)
    def plainScan(f: String) = spark.read.format("pcap").load(f)
    // sample ≥ 0.2% but exact < 1%: 997 TCP rows + one 3-fragment
    // datagram (0.3%) — not speculated, stats rounds to 0%, plain write
    val skipCap = dir.resolve("skip.pcap")
    Files.write(skipCap, legacyPcap((1 to 997).map { i =>
      (i * 1000L, -1, ethernet(0x0800, ipv4("192.0.2.5", "203.0.113.9", 6,
        tcp(443, 1000 + i, 0x10))))
    } ++ Seq(
      (998000L, -1, ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
        udp(53, 40000, dnsQuery("s.example.com", 1)), id = 7, mf = true))),
      (999000L, -1, ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
        Array.fill[Byte](24)(0x61), id = 7, mf = true, fragOffset = 6))),
      (1000000L, -1, ethernet(0x0800, ipv4("198.51.100.1", "203.0.113.9", 17,
        Array.fill[Byte](24)(0x61), id = 7, fragOffset = 12))))))
    assert(PcapConvert.sampleFragPct(spark, skipCap.toString,
      graft.pcapio.PcapFramer.Sane) >= 0.2)
    val tcpCap = dir.resolve("tcp.pcap")
    graft.spark.PcapGen.write(tcpCap.toString, 5000, mix = "tcp")
    val fragCap = writeTemp("cap_branches.pcap", fragmentedCapture).toString
    // the sample reads only the first file (unfragmented TCP), the exact
    // count over both files is 6/57: speculated, then mispredicted
    val mixedDir = Files.createDirectories(dir.resolve("mixed"))
    Files.write(mixedDir.resolve("a.pcap"), legacyPcap((1 to 50).map { i =>
      (i * 1000L, -1, ethernet(0x0800, ipv4("192.0.2.5", "203.0.113.9", 6,
        tcp(443, 1000 + i, 0x10))))
    }))
    Files.write(mixedDir.resolve("b.pcap"), fragmentedCapture)
    /** `reads`: how many write passes count each packet in the tasks
      * (a mispredict's first pass is rolled back on the driver). */
    final case class Branch(name: String, file: String, nodefrag: Boolean,
        jobs: Seq[String], order: Seq[String], want: () => org.apache.spark.sql.DataFrame,
        reads: Int = 1)
    val branches = Seq(
      Branch("speculated", tcpCap.toString, nodefrag = false,
        Seq("convert: speculative write"), natural, () => plainScan(tcpCap.toString)),
      Branch("-n", fragCap, nodefrag = true, Seq("convert: write"), natural,
        () => plainScan(fragCap)),
      Branch("skip", skipCap.toString, nodefrag = false,
        Seq("convert: stats", "convert: write"), natural,
        () => Defrag(plainScan(skipCap.toString))),
      Branch("patch", fragCap, nodefrag = false,
        Seq("convert: stats", "convert: write"), defragged,
        () => Defrag.defrag(plainScan(fragCap))),
      Branch("mispredict", mixedDir.toString, nodefrag = false,
        Seq("convert: speculative write", "convert: stats", "convert: write"), defragged,
        () => Defrag.defrag(plainScan(mixedDir.toString)), reads = 2))
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      branches.foreach { b =>
        val out = s"$dir/${b.name}.parquet"
        val t = traced(PcapConvert.Args(file = b.file, out = out,
          nodefrag = b.nodefrag, singleFile = false))
        assert(sc.getLocalProperty("spark.job.description") == "caller", b.name)
        assert(t.jobs == b.jobs, s"${b.name}: $t")
        // every job ran more than one range task per input file
        val nFiles = graft.sources.PcapFileEnum
          .list(Seq(b.file), spark.sessionState.newHadoopConf()).size
        assert(t.jobTasks.forall(_ > nFiles), s"${b.name}: $nFiles files, $t")
        assert(t.sqlExecutions == 0 && t.optimizerRuns == 0,
          s"${b.name} planned through Catalyst: $t")
        val got = spark.read.parquet(out)
        val want = b.want()
        assert(got.columns.toSeq == b.order, b.name)
        assert(canon(got) == canon(want), b.name)
        // one progress counter, ending at one count per packet
        val n = want.count()
        assert(t.packetCounters.size == 1 &&
          t.packetCounters.values.head == (b.reads * n, n), s"${b.name}: $t")
      }
      // the shuffle fallback: the one branch that plans. Its bypass split
      // reads the capture twice; the progress counters must still count
      // each packet and each dissect error once, so it also runs on the
      // fragmented capture plus one malformed (10-byte) frame
      val badCap = writeTemp("cap_branches_bad.pcap", fragmentedCapture ++
        legacyPcap(Seq((8000L, -1, Array.fill[Byte](10)(0x42)))).drop(24))
      assert(spark.read.format("pcap").load(badCap.toString).count() == 8)
      sys.props("graft.defrag.maxBroadcastFF") = "0"
      try for ((cap, errors) <- Seq(fragCap -> 0L, badCap.toString -> 1L)) {
        val out = s"$dir/shuffle-$errors.parquet"
        val t = traced(PcapConvert.Args(file = cap, out = out, singleFile = false))
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        assert(t.jobs.head == "convert: stats" &&
          t.jobs.contains("convert: ff spill") && t.jobs.last == "convert: shuffle write" &&
          t.jobs.forall(Set("convert: stats", "convert: ff spill", "convert: shuffle write")),
          t.toString)
        assert(t.sqlExecutions > 0, t.toString)
        val got = spark.read.parquet(out)
        val want = Defrag.defrag(plainScan(cap))
        assert(got.columns.toSeq == defragged)
        assert(canon(got) == canon(want))
        val n = want.count()
        assert(t.packetCounters.size == 1 &&
          t.packetCounters.values.head == (n, n), s"shuffle: $t")
        assert(t.errorCounters.size == 1 &&
          t.errorCounters.values.head == (errors, errors), s"shuffle: $t")
      } finally sys.props.remove("graft.defrag.maxBroadcastFF")
    } finally sc.setJobDescription(null)
  }

  test("IPv6 fragment chains defrag end-to-end (Sane walk feeds the v4 pipeline)") {
    // round 12: the Sane-mode v6 fragment gate populates ip_frag_offset/
    // ip_mf/ip_id (low 16 bits of the v6 identification), so v6 chains
    // flow through the SAME defrag join as v4 — pin a 3-fragment v6
    // datagram getting its DNS columns back-filled.
    val src = Array(0x2001, 0xdb8, 0, 0, 0, 0, 0, 0x11)
    val dst = Array(0x2001, 0xdb8, 0, 0, 0, 0, 0, 0x22)
    def fragHdr(next: Int, off8: Int, mf: Boolean, id: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
      b.put(next.toByte).put(0.toByte)
        .putShort((((off8 << 3) | (if (mf) 1 else 0)) & 0xffff).toShort)
        .putInt(id.toInt)
      b.array()
    }
    val id = 0xBEEF1234L
    val frames = Seq(
      (1L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 0, mf = true, id) ++
          udp(53, 41000, dnsQuery("frag6.example.org", 1))))),
      (2L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 9, mf = true, id) ++ Array.fill[Byte](16)(0x42)))),
      (3L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 18, mf = false, id) ++ Array.fill[Byte](16)(0x42)))),
      // unrelated v6 UDP row, different id — must stay untouched
      (4L, -1, ethernet(0x86dd, ipv6(src, dst, 44,
        fragHdr(17, 5, mf = false, id + 1) ++ Array.fill[Byte](8)(0x55)))))
    val p = writeTemp("cap_v6frag.pcap", legacyPcap(frames))
    val df = PcapSource.read(spark, p.toString).cache()
    // all 4 rows match the frag predicate (the lone off>0 sibling too)
    assert(Defrag.fragmentedPct(df) == 100.0)
    val out = Defrag.defrag(df).cache()
    val chain = out.filter(col("ip_id") === 0x1234) // low 16 bits of id
    assert(chain.count() == 3)
    assert(chain.collect().forall(
      _.getAs[String]("dns_qry_name") == "frag6.example.org"))
    assert(chain.collect().forall(_.getAs[Int]("udp_srcport") == 53))
    assert(chain.collect().forall(_.getAs[String]("ip_src") == "2001:db8::11"))
    // the colliding-free sibling datagram keeps NULL L7 (no ff for it)
    val other = out.filter(col("ip_id") === 0x1235).head()
    assert(other.isNullAt(other.fieldIndex("dns_qry_name")))
    df.unpersist(); out.unpersist()
  }

  test("defrag skipped below 1% threshold (main.rs:277)") {
    val frames = (1 to 200).map { i =>
      (i * 1000L, -1, ethernet(0x0800,
        ipv4("1.1.1.1", "2.2.2.2", 6, tcp(80, 1000 + i, 0x10))))
    }
    val p = writeTemp("cap4.pcap", legacyPcap(frames))
    val df = PcapSource.read(spark, p.toString).cache()
    val out = Defrag(df)
    // unchanged frame: original column order preserved
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(Defrag.fragmentedPct(df) == 0.0)
    df.unpersist()
  }

  test("full CLI pipeline writes parquet with defrag applied (verbose)") {
    val p = writeTemp("cap5.pcap", fragmentedCapture)
    val outDir = Files.createTempDirectory("graft-out").resolve("out.parquet")
    PcapConvert.run(spark,
      PcapConvert.Args(file = p.toString, out = outDir.toString, verbose = true))
    val back = spark.read.parquet(outDir.toString)
    assert(back.count() == 7)
    assert(back.filter(col("dns_qry_name") === "a.example.com").count() == 3)
  }

  test("decodePartitions repartitions raw frames before dissection") {
    val p = writeTemp("cap6.pcap", fragmentedCapture)
    val df = PcapSource.read(spark, p.toString, decodePartitions = 3)
    assert(df.count() == 7)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("pcapng capture goes through the same pipeline") {
    val pkt = ethernet(0x0800,
      ipv4("10.1.1.1", "10.2.2.2", 17, udp(123, 123, ntpPrivate(42))))
    val bytes = pcapng(Seq((1, 6)), Seq((0, 99L, pkt.length, pkt)))
    val p = writeTemp("cap7.pcapng", bytes)
    val df = PcapSource.read(spark, p.toString)
    val r = df.head()
    assert(r.getAs[java.sql.Timestamp]("frame_time").getTime == 0L ||
      r.getAs[java.sql.Timestamp]("frame_time").toInstant.toEpochMilli == 0L)
    assert(r.getAs[Short]("ntp_priv_reqcode") == 42)
  }
}

object PcapPipelineSpec {
  /** What one convert did, read from the listener bus. */
  final case class Traced(jobs: Seq[String], jobTasks: Seq[Int], sqlExecutions: Int,
      optimizerRuns: Int, packetCounters: Map[Long, (Long, Long)],
      errorCounters: Map[Long, (Long, Long)])
}
