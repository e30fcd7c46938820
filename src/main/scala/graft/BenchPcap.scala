package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.spark.{PcapGen, PcapSource}

/** Reproducible pcap conversion throughput benchmark against the
  * reference's headline metric (~494k pkt/s for conversion, BASELINE.md):
  * generates a deterministic 1M-packet DDoS-mix capture split over 8
  * files, then times parse, defrag, and the full convert pipeline.
  * Prints one JSON line.
  */
object BenchPcap {
  def main(args: Array[String]): Unit = {
    // default to the steady-state corpus: at 1M packets Spark's ~3 s of
    // fixed startup dominates and the number misreads as ~4x slower than
    // the engine's actual throughput (round-1 lesson: 185k pkt/s at 1M vs
    // 706k at 10M on the same build)
    val n = sys.env.getOrElse("SPARK_GRAFT_PCAP_PACKETS", "10000000").toInt
    // corpus + output live on tmpfs when available: round-4 lesson — the
    // host's page cache can be effectively disabled (2 GiB cache on a
    // 125 GiB box), at which point a /tmp corpus benchmarks the virtio
    // disk (~376 MB/s), not the engine (same build measured 181k vs 790k
    // pkt/s across two such windows). The reference's number is a
    // warm-cache CPU figure; tmpfs measures the same thing.
    val defaultDir =
      if (Files.isDirectory(Paths.get("/dev/shm"))) "/dev/shm/graft-pcap-bench"
      else "/tmp/graft-pcap-bench"
    val dir = sys.env.getOrElse("SPARK_GRAFT_PCAP_DIR", defaultDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    Files.createDirectories(Paths.get(dir))
    val files = 8
    // a MANIFEST of the generation params detects a stale fixture: reusing
    // a corpus generated for a different SPARK_GRAFT_PCAP_PACKETS would
    // silently benchmark the wrong size (round-1 verdict #8)
    val manifest = Paths.get(dir, "MANIFEST")
    val want = s"n=$n files=$files"
    val stale = !Files.exists(manifest) ||
      new String(Files.readAllBytes(manifest), "UTF-8") != want
    (0 until files).foreach { f =>
      val p = s"$dir/cap$f.pcap"
      if (stale || !Files.exists(Paths.get(p)) || args.contains("--regen"))
        PcapGen.write(p, n / files, 1700000000000000L + f * 1000000L)
    }
    Files.write(manifest, want.getBytes("UTF-8"))
    // shuffle/spill dirs ride the same tmpfs decision as the corpus
    // (round-4 lesson, extended round 9): at 100M packets the defrag
    // join shuffles GBs, and /tmp on the virtio disk throttled convert
    // to ~1.1M pkt/s with heavy variance where tmpfs local dirs restore
    // ~1.7M — the bench must measure the engine, not the disk
    val localDir = s"$dir/spark-local"
    Files.createDirectories(Paths.get(localDir))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    PcapSource.read(spark, s"$dir/cap0.pcap").count() // warmup: parse path
    // warmup: the FULL convert path, discarded (BenchCodec lesson,
    // round 9): the first defrag-join run in a JVM pays JIT/alloc
    // ramp-up — observed 7.4 s vs 4.1 s for IDENTICAL code later in
    // the same session — and the headline arm runs first, so without
    // this the metric systematically understates the engine.
    // Round 10: the warmup must exercise the SHUFFLE defrag branch too —
    // a single cap file stays under the broadcast ceiling, so at 100M
    // the first timed arm absorbed the shuffle branch's JIT ramp (944k
    // vs 2.29M pkt/s, identical code). Forcing the ceiling to 0 for the
    // warmup JITs both branches; the prop is cleared before any timing.
    sys.props("graft.defrag.maxBroadcastFF") = "0"
    try graft.spark.PcapConvert.run(spark, graft.spark.PcapConvert.Args(
      file = s"$dir/cap0.pcap", out = s"$dir/warmup.parquet",
      singleFile = false))
    finally sys.props.remove("graft.defrag.maxBroadcastFF")
    graft.spark.PcapConvert.run(spark, graft.spark.PcapConvert.Args(
      file = s"$dir/cap0.pcap", out = s"$dir/warmup.parquet",
      singleFile = false))
    // the warmup output is RAM-backed (tmpfs) — drop it immediately, a
    // 100M-packet run would otherwise pin an n/8-packet parquet forever
    graft.TempCleanup.rmrf(new java.io.File(s"$dir/warmup.parquet"))
    val (tParse, total) = time(PcapSource.read(spark, s"$dir/*.pcap").count())
    // Round 14: the two STREAMING rows run FIRST (one discarded warmup,
    // then best-of-2), ahead of the batch converts — those keep their
    // own discarded warmups, so the order costs them nothing. CAVEAT (measured, round 14): the order swap did NOT
    // close the gap to the dedicated instrument — the full streaming
    // pipeline (pcap scan + state store + zstd sink) swings 26–137 s
    // for IDENTICAL code across sessions on this box, so the
    // stream-defrag row here is an end-to-end smoke/throughput sample,
    // not a steady-state mark.
    // streaming landing→convert (round-11 verdict #5): drain the same
    // 8-file corpus through the multi-root streaming pcap source under
    // Trigger.AvailableNow into the streaming parquet sink — the
    // round-over-round perf signal for the streaming read path
    // (composite offsets, admission control; round 12: sharded
    // per-file dissection, same knob as the batch scan — one task per
    // file left 24 of 32 cores idle here).
    val streamShards = math.max(1, math.min(1024,
      math.ceil(cpus.toDouble / files).toInt))
    def streamOnce(): Double = {
      val sOut = s"$dir/stream-out.parquet"
      val sCkpt = s"$dir/stream-ckpt"
      graft.TempCleanup.rmrf(new java.io.File(sOut))
      graft.TempCleanup.rmrf(new java.io.File(sCkpt))
      time {
        val q = spark.readStream.format("pcap")
          .option("decodePartitions", streamShards)
          .load(s"$dir/cap*.pcap")
          .writeStream.format("parquet")
          .option("path", sOut)
          .option("checkpointLocation", sCkpt)
          .option("compression", "zstd")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }._1
    }
    streamOnce() // discarded: first streaming query pays JIT ramp
    val tStream = (1 to 2).map(_ => streamOnce()).min
    val streamRate = (total / tStream).toLong
    // the streamed output is RAM-backed (tmpfs) — drop it like the
    // warmup's (a 100M-packet run would otherwise pin GBs forever)
    graft.TempCleanup.rmrf(new java.io.File(s"$dir/stream-out.parquet"))
    graft.TempCleanup.rmrf(new java.io.File(s"$dir/stream-ckpt"))
    // streaming DEFRAG-convert parity row (round-13 verdict #3): landing
    // → stateful back-fill (s07's flatMapGroupsWithState operator) →
    // parquet sink under AvailableNow. Emits the 11-column patched
    // projection (the defrag state machine's schema), so the number is
    // the stateful-defrag path's throughput, tracked next to batch
    // convert and the plain stream convert above.
    def streamDefragOnce(): Double = {
      val sOut = s"$dir/sdefrag-out.parquet"
      val sCkpt = s"$dir/sdefrag-ckpt"
      graft.TempCleanup.rmrf(new java.io.File(sOut))
      graft.TempCleanup.rmrf(new java.io.File(sCkpt))
      time {
        // maxFilesPerTrigger bounds PER-BATCH state (round 16, verdict
        // #6): the unthrottled AvailableNow drain put the whole corpus
        // through ONE batch — ~1.1M boxed state entries resident at 100M
        // packets, which OOM'd the default 32g heap once in round 15.
        // Four 2-file batches let the watermark raised by batch N evict
        // state in batch N+1 (eviction never applies within the raising
        // batch), so peak state is a fraction of the corpus and the row
        // completes at the default heap. Admission control is the
        // production knob for exactly this, not a bench contortion.
        val src = spark.readStream.format("pcap")
          .option("decodePartitions", streamShards)
          .option("maxFilesPerTrigger", 2)
          .load(s"$dir/cap*.pcap")
        val q = graft.streaming.StreamingDefrag.defragStateful(
            graft.streaming.StreamingDefrag.project(src))
          .writeStream.outputMode("append").format("parquet")
          .option("path", sOut)
          .option("checkpointLocation", sCkpt)
          .option("compression", "zstd")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }._1
    }
    val tStreamDefrag = (1 to 2).map(_ => streamDefragOnce()).min
    val streamDefragRate = (total / tStreamDefrag).toLong
    graft.TempCleanup.rmrf(new java.io.File(s"$dir/sdefrag-out.parquet"))
    graft.TempCleanup.rmrf(new java.io.File(s"$dir/sdefrag-ckpt"))
    // the production convert; best-of-2 — this machine's run-to-run
    // variance is ±2×
    def timeConvert(glob: String, out: String): Double = (1 to 2).map { _ =>
      time(graft.spark.PcapConvert.run(spark, graft.spark.PcapConvert.Args(
        file = glob, out = out, singleFile = false)))._1
    }.min
    val tFull = timeConvert(s"$dir/*.pcap", s"$dir/out.parquet")
    val parseRate = (total / tParse).toLong
    val fullRate = (total / tFull).toLong
    // TCP-dominant corpus (round-7 outlook: the DDoS mix is DNS/NTP
    // heavy): ~80% TCP across the full flag cycle, <1% fragmented so the
    // adaptive defrag takes its skip branch — this number isolates
    // L2-L4 decode + tcp_flags throughput on a quarter-size corpus
    val tcpDir = s"$dir/tcp"
    Files.createDirectories(Paths.get(tcpDir))
    val nTcp = n / 4
    val tcpManifest = Paths.get(tcpDir, "MANIFEST")
    val wantTcp = s"n=$nTcp files=$files mix=tcp"
    val staleTcp = !Files.exists(tcpManifest) ||
      new String(Files.readAllBytes(tcpManifest), "UTF-8") != wantTcp
    (0 until files).foreach { f =>
      val p = s"$tcpDir/cap$f.pcap"
      if (staleTcp || !Files.exists(Paths.get(p)) || args.contains("--regen"))
        PcapGen.write(p, nTcp / files, 1700000000000000L + f * 1000000L,
          mix = "tcp")
    }
    Files.write(tcpManifest, wantTcp.getBytes("UTF-8"))
    val tTcpFull = timeConvert(s"$tcpDir/cap*.pcap", s"$tcpDir/out.parquet")
    val tcpRate = (nTcp / tTcpFull).toLong
    import org.apache.spark.sql.functions.col
    // convert-manifest readback A/B (round 15, verdict #6): the
    // reference's consumer runs SQL over the emitted parquet — index
    // $dir/out.parquet (the headline convert's output, still on disk)
    // with ConvertManifest and time the canonical
    // "attack window + one source" slice, full scan vs pruned read.
    // The 0.6 s window early in the capture lands in few part files
    // (the range-sharded write keeps each part time-contiguous).
    val outParquet = s"$dir/out.parquet"
    val (tManifestBuild, _) =
      time(graft.sources.ConvertManifest.build(spark, outParquet))
    val mBase = 1700000000000000L
    val (mLo, mHi) = (mBase + 200000L, mBase + 800000L)
    val mSrc = "198.51.100.7"
    val keptFiles = graft.sources.ConvertManifest.prunedFiles(spark,
      outParquet, Some(mLo), Some(mHi), src = Some(mSrc)).map(_.length).getOrElse(-1)
    def readbackOnce(pruned: Boolean): Double = time {
      val df =
        if (pruned) graft.sources.ConvertManifest.slice(spark, outParquet,
          Some(mLo), Some(mHi), src = Some(mSrc))
        else spark.read.parquet(outParquet).filter(
          org.apache.spark.sql.functions.expr(
            s"unix_micros(CAST(frame_time AS TIMESTAMP)) BETWEEN $mLo AND $mHi") &&
            col("ip_src") === mSrc)
      df.count()
    }._1
    readbackOnce(pruned = true); readbackOnce(pruned = false) // JIT, discarded
    // interleaved best-of-2, like every pcap A/B on this box
    val (rbP, rbF) = (Array.newBuilder[Double], Array.newBuilder[Double])
    (1 to 2).foreach { _ =>
      rbP += readbackOnce(pruned = true); rbF += readbackOnce(pruned = false)
    }
    val tReadbackPruned = rbP.result().min
    val tReadbackFull = rbF.result().min
    System.err.println(
      f"[bench-pcap] $total packets: parse $tParse%.2f s ($parseRate pkt/s), " +
        f"full convert $tFull%.2f s ($fullRate pkt/s); " +
        f"tcp-mix $nTcp packets: $tTcpFull%.2f s ($tcpRate pkt/s); " +
        f"stream convert $tStream%.2f s ($streamRate pkt/s); " +
        f"stream defrag $tStreamDefrag%.2f s ($streamDefragRate pkt/s); " +
        f"manifest readback pruned $tReadbackPruned%.3f s " +
        f"vs full $tReadbackFull%.3f s ($keptFiles files kept, " +
        f"build $tManifestBuild%.2f s)")
    println(s"""{"metric":"pcap_convert_pkt_per_s","value":$fullRate,"unit":"pkt/s","parse_pkt_per_s":$parseRate,"packets":$total,"tcp_mix_pkt_per_s":$tcpRate,"tcp_mix_packets":$nTcp,"stream_convert_pkt_per_s":$streamRate,"stream_defrag_pkt_per_s":$streamDefragRate,"readback_pruned_s":$tReadbackPruned,"readback_full_s":$tReadbackFull,"readback_files_kept":$keptFiles,"manifest_build_s":$tManifestBuild}""")
    spark.stop()
  }
}
