package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import PcapFixtures._

/** Streaming pcap ingestion: a landing directory consumed as a
  * micro-batch stream; late-arriving files picked up in later batches.
  */
class PcapStreamingSpec extends SparkFunSuite {

  private def capture(id: Int): Array[Byte] = {
    val frames = Seq(
      (1000L * id, ethernet(0x0800, ipv4("10.0.0.1", "10.0.0.2", 17,
        udp(5353, 53, dnsQuery(s"s$id.example.com", 1))))),
      (1000L * id + 1, ethernet(0x0800, ipv4("10.0.0.3", "10.0.0.4", 6,
        tcp(443, 1000 + id, 0x12)))))
    legacyPcap(frames.map { case (ts, b) => (ts, -1, b) })
  }

  test("readStream over a pcap landing dir: drains existing, picks up new files") {
    val dir = Files.createTempDirectory("pcapstream")
    Files.write(dir.resolve("c1.pcap"), capture(1))
    Files.write(dir.resolve("c2.pcap"), capture(2))
    val name = "pcap_stream_sink"
    val q = spark.readStream.format("pcap").load(dir.toString)
      .groupBy("col_protocol").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      val r1 = spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r1 == Map("DNS" -> 2L, "TCP" -> 2L))
      // a new file lands → next batch extends the aggregate
      Files.write(dir.resolve("c3.pcap"), capture(3))
      q.processAllAvailable()
      val r2 = spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r2 == Map("DNS" -> 3L, "TCP" -> 3L))
    } finally q.stop()
  }

  test("streaming decodePartitions: range shards read exactly-once within each batch") {
    // round 12: the rounds-9..11 refusal is lifted — a range shard
    // splits one admitted file's framing and dissection within its
    // planned batch; offsets/watermarks/admission stay per-file. Pinned:
    // sharded row multiset == unsharded, incl. across a new-file batch
    // boundary, with each 2-frame file cut into 2 one-frame ranges.
    val dir = Files.createTempDirectory("pcapstream_shard")
    Files.write(dir.resolve("c1.pcap"), capture(1))
    Files.write(dir.resolve("c2.pcap"), capture(2))
    val name = "pcap_stream_shard_sink"
    val q = spark.readStream.format("pcap")
      .option("decodePartitions", 3) // deliberately > frames per file
      .load(dir.toString)
      .groupBy("col_protocol").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      val r1 = spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r1 == Map("DNS" -> 2L, "TCP" -> 2L), r1.toString)
      Files.write(dir.resolve("c3.pcap"), capture(3))
      q.processAllAvailable()
      val r2 = spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r2 == Map("DNS" -> 3L, "TCP" -> 3L), r2.toString)
    } finally q.stop()
    val listed = graft.sources.PcapFileEnum.list(Seq(dir.toString),
      spark.sessionState.newHadoopConf())
    val parts = new graft.sources.PcapMicroBatchStream(Seq(dir.toString),
      graft.core.PacketSchema.schema, refCompat = false,
      checkpointLocation = dir.resolve("ckpt").toString, decodePartitions = 3)
      .planInputPartitions(graft.sources.PcapOffset(dir.toString, 0, ""),
        graft.sources.PcapOffset(dir.toString, 3, listed.last))
      .map(_.asInstanceOf[graft.sources.PcapInputPartition])
    assert(parts.length == 6 && parts.forall(_.rangeStart >= 0), parts.toSeq)
  }

  test("frame-index ranges in streaming: a sidecar appearing between plan and replay reads the same rows (round 14)") {
    // the committed offset fixes the FILE set; the shard decomposition
    // is an execution detail below the commit granularity. The original
    // attempt plans ranges with its sidecar write blocked; the replay,
    // restarted at another decodePartitions, writes the sidecar and cuts
    // differently — the row multiset must be identical, or an
    // uncommitted-batch replay would not be exactly-once.
    val root = Files.createTempDirectory("pcapfidx_stream")
    val f = root.resolve("c1.pcap").toString
    graft.spark.PcapGen.write(f, 50000, 1700000000000000L)
    val hconf = spark.sessionState.newHadoopConf()
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
    assert(parts1.length == 4 && parts1.forall(_.rangeStart >= 0), parts1.toString)
    assert(rows1.size == 50000)
    Files.delete(blocker)
    val (parts2, rows2) = attempt(3)
    assert(parts2.length == 3 && parts2.forall(_.rangeStart >= 0), parts2.toString)
    assert(graft.pcapio.FrameIndex.read(
      new org.apache.hadoop.fs.Path(f), hconf).isDefined,
      "the replay's planner should have written the sidecar")
    assert(rows2 == rows1, "replay multiset diverged across cuts")
  }

  test("AvailableNow honors admission control and survives an uncommitted-batch restart") {
    // VERDICT r6 #5: without SupportsTriggerAvailableNow the source fell
    // back to a SINGLE batch of everything under Trigger.AvailableNow —
    // admission control ignored, and an uncommitted-batch restart
    // replayed the whole landing as one giant batch. With it: one batch
    // per file under maxFilesPerTrigger=1, and a crash that loses the
    // LAST commit (offsets written, commit missing) replays exactly that
    // batch — the file sink's metadata log keeps the output exactly-once.
    val dir = Files.createTempDirectory("pcapavailnow")
    (1 to 3).foreach(i => Files.write(dir.resolve(s"c$i.pcap"), capture(i)))
    val out = Files.createTempDirectory("pcapavailnow_out").toString
    val ckpt = Files.createTempDirectory("pcapavailnow_ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("pcap")
        .option("maxFilesPerTrigger", 1).load(dir.toString)
        .select("frame_time", "col_protocol", "pcap_file")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    run()
    def batchIds(sub: String): Seq[Int] =
      Option(new java.io.File(ckpt, sub).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).sorted.toSeq
    // admission control under AvailableNow: 3 files -> 3 committed batches
    assert(batchIds("offsets") == Seq(0, 1, 2),
      s"expected one batch per file, got offsets ${batchIds("offsets")}")
    assert(batchIds("commits") == Seq(0, 1, 2))
    assert(spark.read.parquet(out).count() == 6)
    // crash window: offsets/2 durable, commits/2 lost; a 4th file lands
    // (the local ChecksumFs keeps a .crc sidecar per log file — a real
    // crash loses both, and a stale crc would fail the replay's rename)
    assert(new java.io.File(s"$ckpt/commits/2").delete())
    new java.io.File(s"$ckpt/commits/.2.crc").delete()
    Files.write(dir.resolve("c4.pcap"), capture(4))
    run()
    // the uncommitted batch replayed, the new file got its own batch
    assert(batchIds("commits") == Seq(0, 1, 2, 3),
      s"restart did not finish the uncommitted batch: ${batchIds("commits")}")
    // exactly-once through the sink metadata log: 4 files x 2 packets,
    // no duplicated replay rows
    val rows = spark.read.parquet(out)
    assert(rows.count() == 8, s"replay duplicated rows: ${rows.count()}")
    assert(rows.select("pcap_file").distinct().count() == 4)
  }

  test("out-of-order file arrival refuses loudly instead of silently skipping or double-reading") {
    // the offset is a (count, lastName) watermark over SORTED names:
    // pre-fix it was a POSITION in a re-evaluated listing, so a file
    // sorting before the watermark shifted the slice — one file read
    // twice, the newcomer never. Now the below-watermark census detects
    // the contract violation and the stream fails with a clear message.
    val dir = Files.createTempDirectory("pcapooo")
    Files.write(dir.resolve("c5.pcap"), capture(5))
    val name = "pcap_ooo_sink"
    val q = spark.readStream.format("pcap").load(dir.toString)
      .groupBy("col_protocol").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).collect().map(_.getLong(1)).sum == 2L)
      // a file sorting BEFORE the processed watermark arrives
      Files.write(dir.resolve("c0.pcap"), capture(0))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination(10000); ()
      }
      assert(err.getMessage.contains("out of lexicographic order") ||
        Option(err.getCause).exists(_.getMessage.contains("out of lexicographic order")),
        err.getMessage)
    } finally q.stop()
  }

  test("multi-root streaming: per-root watermarks, mixed-order arrivals across roots") {
    // round 9: one (count, lastName) watermark PER ROOT in a composite
    // offset — a union of capture directories streams natively. The
    // killer case the old single-namespace watermark refused at
    // construction: a new file in root `a` whose full path sorts BELOW
    // root `b`'s files (global interleave) is perfectly fine, because
    // each root's landing contract is checked in its own namespace.
    val a = Files.createTempDirectory("pcapmr_a")
    val b = Files.createTempDirectory("pcapmr_b")
    Files.write(a.resolve("c1.pcap"), capture(1))
    Files.write(b.resolve("c1.pcap"), capture(2))
    Files.write(b.resolve("c2.pcap"), capture(3))
    val pathsJson = s"""["${a.toString}","${b.toString}"]"""
    val name = "pcap_mr_sink"
    val q = spark.readStream.format("pcap").option("paths", pathsJson)
      .load()
      .groupBy("col_protocol").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(name).trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      val r1 = spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r1 == Map("DNS" -> 3L, "TCP" -> 3L), r1.toString)
      // new files land in BOTH roots; a's new file sorts globally below
      // everything in b — per-root watermarks don't care
      Files.write(a.resolve("c2.pcap"), capture(4))
      Files.write(b.resolve("c3.pcap"), capture(5))
      q.processAllAvailable()
      val r2 = spark.table(name).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(r2 == Map("DNS" -> 5L, "TCP" -> 5L), r2.toString)
      // the landing contract still refuses WITHIN a root: a file sorting
      // below root b's processed watermark would never be read
      Files.write(b.resolve("c0.pcap"), capture(6))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable(); q.awaitTermination(10000); ()
      }
      def msg(t: Throwable): String =
        Option(t).map(x => x.getMessage + msg(x.getCause)).getOrElse("")
      assert(msg(err).contains("out of lexicographic order"), msg(err))
    } finally q.stop()
  }

  test("multi-root streaming replays exactly-once across restarts; added roots start fresh") {
    val a = Files.createTempDirectory("pcapmrr_a")
    val b = Files.createTempDirectory("pcapmrr_b")
    (1 to 2).foreach(i => Files.write(a.resolve(s"c$i.pcap"), capture(i)))
    Files.write(b.resolve("c1.pcap"), capture(3))
    val out = Files.createTempDirectory("pcapmrr_out").toString
    val ckpt = Files.createTempDirectory("pcapmrr_ckpt").toString
    def run(pathsJson: String): Unit = {
      val q = spark.readStream.format("pcap").option("paths", pathsJson)
        .option("maxFilesPerTrigger", 1).load()
        .select("frame_time", "col_protocol", "pcap_file")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    val two = s"""["${a.toString}","${b.toString}"]"""
    run(two)
    // 3 files under maxFilesPerTrigger=1 → one batch per file, across roots
    assert(spark.read.parquet(out).count() == 6)
    // restart with the same roots: nothing replays
    run(two)
    assert(spark.read.parquet(out).count() == 6)
    // a THIRD root added across a restart starts fresh at (0, ""); the
    // old roots' watermarks replay exactly-once from the checkpoint
    val c = Files.createTempDirectory("pcapmrr_c")
    Files.write(c.resolve("c1.pcap"), capture(4))
    Files.write(a.resolve("c3.pcap"), capture(5))
    run(s"""["${a.toString}","${b.toString}","${c.toString}"]""")
    val rows = spark.read.parquet(out)
    assert(rows.count() == 10, s"got ${rows.count()}")
    // pcap_file is the BASENAME: c1.pcap exists in all three roots
    assert(rows.select("pcap_file").distinct().count() == 3)
    // DROPPING a tracked root refuses loudly (its watermark would be
    // silently forgotten)
    val err = intercept[Exception] {
      run(s"""["${a.toString}","${b.toString}"]""")
    }
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + msg(x.getCause)).getOrElse("")
    assert(msg(err).contains("checkpoint tracks roots"), msg(err))
  }

  test("root retirement: acknowledged drop freezes the watermark; re-activation resumes exactly-once") {
    // round-9 closing-outlook #4: dropping a tracked root still refuses
    // by default, but listing it in retiredRoots is an explicit
    // acknowledgment — the root is no longer read while its watermark
    // rides FROZEN through every offset, so putting it back in paths
    // later resumes exactly-once from where it stopped.
    val a = Files.createTempDirectory("pcapret_a")
    val b = Files.createTempDirectory("pcapret_b")
    (1 to 2).foreach(i => Files.write(a.resolve(s"c$i.pcap"), capture(i)))
    (1 to 2).foreach(i => Files.write(b.resolve(s"c$i.pcap"), capture(10 + i)))
    val out = Files.createTempDirectory("pcapret_out").toString
    val ckpt = Files.createTempDirectory("pcapret_ckpt").toString
    def run(pathsJson: String, retiredJson: Option[String]): Unit = {
      val r0 = spark.readStream.format("pcap").option("paths", pathsJson)
      val r1 = retiredJson.fold(r0)(j => r0.option("retiredRoots", j))
      val q = r1.load().select("frame_time", "col_protocol", "pcap_file")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    val both = s"""["${a.toString}","${b.toString}"]"""
    val onlyA = s"""["${a.toString}"]"""
    run(both, None)
    assert(spark.read.parquet(out).count() == 8) // 4 files x 2 packets
    // un-acknowledged drop still refuses
    val err = intercept[Exception] { run(onlyA, None) }
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + msg(x.getCause)).getOrElse("")
    assert(msg(err).contains("checkpoint tracks roots"), msg(err))
    // acknowledged retirement: b's new files are NOT read, a's are
    Files.write(a.resolve("c3.pcap"), capture(3))
    Files.write(b.resolve("c3.pcap"), capture(13))
    run(onlyA, Some(s"""["${b.toString}"]"""))
    assert(spark.read.parquet(out).count() == 10, "retired root was read")
    // re-activation: resumes from b's FROZEN watermark — only its new
    // file lands, the two already-processed captures never replay
    run(both, None)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 12, s"got ${rows.count()}")
    assert(rows.select("frame_time").distinct().count() == 12,
      "a retired-then-reactivated root replayed processed files")
    // the decommission case the verb exists for: a retired root's
    // directory can be deleted outright — nothing lists or reads it
    Files.write(a.resolve("c4.pcap"), capture(4))
    graft.TempCleanup.rmrf(b.toFile)
    run(onlyA, Some(s"""["${b.toString}"]"""))
    assert(spark.read.parquet(out).count() == 14, "decommissioned-dir run")
    // a LEGACY single-root offset carries no root identity: resolving it
    // against a retiredRoots configuration must refuse (attributing the
    // mark to the new active root would silently skip its files AND
    // lose the retired root's watermark)
    val exLegacy = intercept[IllegalArgumentException] {
      graft.sources.PcapOffset.fromJson("2\tc2.pcap",
        Seq(a.toString), Seq(b.toString))
    }
    assert(exLegacy.getMessage.contains("root identity"), exLegacy.getMessage)
    // without retirement the legacy form still parses (existing
    // single-root checkpoints replay unchanged)
    assert(graft.sources.PcapOffset.fromJson("2\tc2.pcap", Seq(a.toString))
      .roots(a.toString).fileCount == 2)
    // round 10 (ADVICE r9): a FRESH single-root offset serializes
    // root-keyed, so a stream started with one root CAN gain a second
    // across a restart — the old tab form wedged exactly this upgrade
    val single = graft.sources.PcapOffset(a.toString, 2, "c2.pcap")
    assert(single.json().trim.startsWith("{"),
      s"single-root offsets must carry root identity: ${single.json()}")
    val grown = graft.sources.PcapOffset.fromJson(single.json(),
      Seq(a.toString, b.toString))
    assert(grown.roots(a.toString) == graft.sources.PcapRootMark(2, "c2.pcap"))
    assert(!grown.roots.contains(b.toString),
      "the added root is absent from the offset and starts fresh in resolve")
    // and the keyed single-root form resolves against retiredRoots too
    // (the legacy refusal above was about missing root identity, which
    // the keyed form has)
    assert(graft.sources.PcapOffset.fromJson(single.json(),
      Seq(a.toString), Seq(b.toString)).roots(a.toString).fileCount == 2)
  }

  test("multi-root budget fair-shares: a busy root cannot starve the other") {
    // Review round 9: spending maxFilesPerTrigger strictly in `paths`
    // order starves later roots for as long as an earlier root lands
    // >= budget files per trigger. The fair split (+ rotating
    // remainder) must drain the quiet root while the busy one stays
    // saturated — driven at the latestOffset level to simulate
    // sustained arrivals between triggers.
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    spark.sparkContext // the stream's constructor needs an active session
    val a = Files.createTempDirectory("pcapfair_a")
    val b = Files.createTempDirectory("pcapfair_b")
    var aSeq = 0
    def landA(k: Int): Unit = (0 until k).foreach { _ =>
      Files.write(a.resolve(f"a$aSeq%04d.pcap"), capture(aSeq)); aSeq += 1
    }
    landA(8)
    (0 until 3).foreach(i => Files.write(b.resolve(s"b$i.pcap"), capture(100 + i)))
    val ckpt = Files.createTempDirectory("pcapfair_ckpt").toString
    val stream = new graft.sources.PcapMicroBatchStream(
      Seq(a.toString, b.toString), graft.core.PacketSchema.schema,
      refCompat = false, checkpointLocation = ckpt)
    var off = stream.initialOffset().asInstanceOf[graft.sources.PcapOffset]
    def counts(o: graft.sources.PcapOffset): (Int, Int) =
      (o.roots(a.toString).fileCount, o.roots(b.toString).fileCount)
    var trigger = 0
    while (counts(off)._2 < 3 && trigger < 6) {
      off = stream.latestOffset(off, ReadLimit.maxFiles(2))
        .asInstanceOf[graft.sources.PcapOffset]
      landA(2) // root a stays busy: 2 new files per trigger, budget 2
      trigger += 1
    }
    val (aN, bN) = counts(off)
    assert(bN == 3, s"quiet root b starved: only $bN/3 files after $trigger triggers")
    assert(aN > 0, "busy root a must still progress under the fair split")
    // and the scarce-budget case (budget < pending roots) rotates: two
    // busy roots under budget 1 must BOTH progress across triggers
    var off1 = off
    val before = counts(off1)
    (0 until 4).foreach { _ =>
      landA(1)
      Files.write(b.resolve(s"b9_${counts(off1)._2}.pcap"),
        capture(200 + counts(off1)._2))
      off1 = stream.latestOffset(off1, ReadLimit.maxFiles(1))
        .asInstanceOf[graft.sources.PcapOffset]
    }
    val after = counts(off1)
    assert(after._1 > before._1 && after._2 > before._2,
      s"budget-1 rotation left a root starved: $before -> $after")
  }

  test("retention deletion below the watermark warns and continues; strictLanding refuses") {
    // ADVICE r8: deleting an already-processed capture (standard landing
    // retention) must not crash-loop the stream — only an out-of-order
    // arrival (data-loss risk) refuses. strictLanding=true restores the
    // exact census for landings that pin immutability.
    def drive(strict: Boolean, tag: String): Unit = {
      val dir = Files.createTempDirectory(s"pcapret_$tag")
      Files.write(dir.resolve("c1.pcap"), capture(1))
      Files.write(dir.resolve("c2.pcap"), capture(2))
      val name = s"pcap_ret_${tag}_sink"
      val q = spark.readStream.format("pcap")
        .option("strictLanding", strict.toString).load(dir.toString)
        .groupBy("col_protocol").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .trigger(Trigger.ProcessingTime(100)).start()
      try {
        q.processAllAvailable()
        assert(spark.table(name).collect().map(_.getLong(1)).sum == 4L)
        // retention: the oldest processed capture is cleaned up, then a
        // new file lands
        assert(new java.io.File(dir.toFile, "c1.pcap").delete())
        Files.write(dir.resolve("c3.pcap"), capture(3))
        if (strict) {
          val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
            q.processAllAvailable(); q.awaitTermination(10000); ()
          }
          def msg(t: Throwable): String =
            Option(t).map(x => x.getMessage + msg(x.getCause)).getOrElse("")
          assert(msg(err).contains("strictLanding"), msg(err))
        } else {
          q.processAllAvailable()
          assert(spark.table(name).collect().map(_.getLong(1)).sum == 6L,
            "lenient stream must keep processing past a retention deletion")
        }
      } finally q.stop()
    }
    drive(strict = false, "lenient")
    drive(strict = true, "strict")
  }

  test("bytes=true streaming read carries raw frames (schema and reader agree)") {
    // pre-fix toMicroBatchStream dropped the bytes option: the table
    // schema said bytesSchema but every task built its projection
    // against the 31-column schema and died on the frame_bytes ordinal
    val dir = Files.createTempDirectory("pcapbytesstream")
    Files.write(dir.resolve("c1.pcap"), capture(1))
    val name = "pcap_bytes_sink"
    val q = spark.readStream.format("pcap").option("bytes", "true")
      .load(dir.toString)
      .select("col_protocol", "frame_bytes", "linktype")
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val rows = spark.table(name).collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getAs[Array[Byte]]("frame_bytes").length > 14 &&
      r.getInt(2) == 1))
  }

  test("micro-batches read columnar batches: ColumnarToRow in lastExecution") {
    // streaming runs the batch scan's one reader: plain and bytes mode
    // both plan ColumnarToRow above the pcap micro-batch scan
    val dir = Files.createTempDirectory("pcapstreamplan")
    Files.write(dir.resolve("c1.pcap"), capture(1))
    for (bytes <- Seq(false, true)) {
      val name = s"pcap_plan_sink_$bytes"
      val q = spark.readStream.format("pcap").option("bytes", bytes)
        .load(dir.toString)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
      val plan = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow") && plan.contains("PcapScan"),
        s"bytes=$bytes\n$plan")
      assert(spark.table(name).count() == 2)
    }
  }

  test("streaming defrag: a continuation fragment in a LATER batch is patched from state") {
    lateBatchDefrag("pcap_stream_defrag_sink")
  }

  test("streaming defrag late-batch patch holds under the RocksDB state store") {
    graft.streaming.StateStores.withRocksDb(spark) {
      lateBatchDefrag("pcap_stream_defrag_rocks_sink")
    }
  }

  private def lateBatchDefrag(name: String): Unit = {
    val dir = Files.createTempDirectory("pcapstreamdefrag")
    // batch 1: the first fragment only (full DNS header)
    Files.write(dir.resolve("c1.pcap"), legacyPcap(Seq(
      (1000L, -1, ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17,
        udp(53, 9999, dnsQuery("late.example.net", 1)), id = 77, mf = true))))))
    val q = graft.streaming.StreamingDefrag.defragStateful(
        graft.streaming.StreamingDefrag.project(
          spark.readStream.format("pcap").load(dir.toString)))
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
      // batch 2: the continuation fragment lands later — no transport
      // header of its own; it must be back-filled from the carried state
      Files.write(dir.resolve("c2.pcap"), legacyPcap(Seq(
        (2000L, -1, ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17,
          Array.fill[Byte](8)(0), id = 77, mf = false, fragOffset = 4))))))
      q.processAllAvailable()
      val rows = spark.table(name).orderBy("tsu").collect()
      assert(rows.length == 2)
      val late = rows(1)
      assert(late.getAs[String]("dns_qry_name") == "late.example.net", late)
      assert(late.getAs[Int]("udp_srcport") == 53, late)
      // coalesce keeps the fragment's own non-null "IPv4" — the
      // reference's exact back-fill semantics (see PcapPipelineSpec)
      assert(late.getAs[String]("col_protocol") == "IPv4", late)
    } finally q.stop()
  }

  test("streaming defrag equals the coalesce model on randomized two-batch interleavings") {
    import graft.streaming.StreamingDefrag.{FragRow, defragStateful}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(42)
    // 50 datagrams: an ff (full fields) + 1-3 continuations (null fields);
    // ff always in batch 1, continuations split across both batches
    val rows = (0 until 50).flatMap { d =>
      val key = (s"10.0.$d.1", s"10.0.$d.2", 17.toShort, d)
      val ff = FragRow(key._1, key._2, key._3, key._4, 1000L * d, ip_mf = true, 0,
        Some(53), Some(40000 + d), None, Some(1), Some(s"d$d.example"), Some("DNS"))
      val conts = (1 to 1 + rnd.nextInt(3)).map { c =>
        (FragRow(key._1, key._2, key._3, key._4, 1000L * d + c,
          ip_mf = c == 1, c * 9, None, None, None, None, None, Some("IPv4")),
          rnd.nextBoolean()) // which batch the continuation lands in
      }
      ((ff, false)) +: conts
    }
    val mem = MemoryStream[FragRow]
    val name = "defrag_model_sink"
    val q = defragStateful(mem.toDF())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      mem.addData(rows.collect { case (r, false) => r })
      q.processAllAvailable()
      mem.addData(rows.collect { case (r, true) => r })
      q.processAllAvailable()
      val got = spark.table(name).collect()
        .map(r => (r.getAs[Long]("tsu"),
          r.getAs[String]("dns_qry_name"), r.getAs[String]("col_protocol"))).toSet
      // local model: every row of a key coalesces from its (unique) ff
      val expect = rows.map(_._1).map { r =>
        (r.tsu,
          r.dns_qry_name.getOrElse(s"d${r.ip_id}.example"),
          r.col_protocol.getOrElse("DNS"))
      }.toSet
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming pcap conversion lands into the manifest lakehouse with zone maps") {
    // the reference's whole pipeline ending in the engine's own table
    // format: pcap micro-batch source → dissect → ManifestLand commits
    // with per-file frame-time zone maps — so a time-sliced re-read of
    // the capture archive opens only the overlapping files, straight
    // from the manifest (the at-scale story for a 100 TB capture lake:
    // captures are time-partitioned by nature, zone maps make that
    // structure queryable without listing)
    val dir = Files.createTempDirectory("pcapmland")
    for (f <- 0 until 4)
      graft.spark.PcapGen.write(s"$dir/cap$f.pcap", 3000,
        1700000000000000L + f * 10000000L)
    val out = Files.createTempDirectory("pcapmland_out").toString + "/landing"
    val ckpt = Files.createTempDirectory("pcapmland_ckpt").toString
    val stream = spark.readStream.format("pcap")
      .option("maxFilesPerTrigger", "1").load(dir.toString)
      .select(col("col_protocol"), col("frame_len"),
        unix_micros(col("frame_time")).as("tsu"))
    graft.streaming.ManifestLand.appendCompacting(stream, out, ckpt,
      maxFiles = 64, targetFiles = 4, statsCols = Seq("tsu"), rangeParts = 2)
    val batch = graft.spark.PcapSource.read(spark, s"$dir/*.pcap")
      .select(col("col_protocol"), col("frame_len"),
        unix_micros(col("frame_time")).as("tsu"))
    def roll(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("col_protocol")
        .agg(count(lit(1)).as("n"), sum("frame_len").as("bytes"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(roll(graft.streaming.ManifestLand.read(spark, out)) == roll(batch))
    // a one-capture time slice prunes the rest of the archive from the
    // manifest alone, and the pruned+residual read answers exactly
    val (lo, hi) = (1700000000000000L + 10000000L, 1700000000000000L + 10001000L)
    val live = graft.streaming.ManifestLand.liveFiles(out)
    val pruned = graft.streaming.ManifestLand.prunedLiveFiles(out, lo, hi)
    assert(pruned.size < live.size,
      s"zone maps failed to skip capture files: ${pruned.size} of ${live.size}")
    assert(roll(graft.streaming.ManifestLand.readPruned(spark, out, lo, hi)
        .filter(col("tsu").between(lo, hi))) ==
      roll(batch.filter(col("tsu").between(lo, hi))))
  }
}
