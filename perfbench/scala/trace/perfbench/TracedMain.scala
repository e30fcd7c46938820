package perfbench

import java.io.{BufferedInputStream, FileInputStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dissect.{DissectAcc, DissectLevel, PacketDissector}
import graft.pcapio.PcapFramer
import graft.sources.{ConvertManifest, DefragPatch}
import graft.spark.{Defrag, PcapColumnarWrite, PcapConvert, PcapSource}

/** Traced benchmark run: after the same set-up and warm-up as [[Main]],
  * each iteration times one untraced op, then calls each layer's public
  * functions from here inside spans, and derives the per-layer metrics
  * (medians over iterations) from those spans. Every per-layer metric is
  * reported on every workload; a layer the workload does not reach reads
  * 0. The spans go to `spans.jsonl` in `--work` at the end.
  */
object TracedMain {
  val Layers: Seq[String] = Seq(
    "pcapio.frame_s", "pcapio.frames", "pcapio.mb",
    "dissect.full_s", "dissect.l3_s", "dissect.errors",
    "scan.full_s", "scan.pruned_s", "scan.tasks", "scan.gc_s",
    "convert.sample_s",
    "defrag.stats_s", "defrag.frag_pct", "defrag.ff_keys", "defrag.shuffle_mb",
    "patch.entries", "patch.probe_s",
    "write.encode_s", "write.mb", "write.files",
    "manifest.build_s", "manifest.slice_s", "manifest.files_kept_ratio",
    "slice.rows_ratio",
    "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb", "spark.tasks",
    "trace.coverage", "trace.overhead", "trace.drain_s") ++
    (Workloads.PacketSql.map(_._1) ++ Seq("manifest_slice", "pcap_slice")).map(q => s"pq.${q}_s")

  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv)
    val spark = Common.session(o)
    val errors = new DissectErrors
    spark.sparkContext.addSparkListener(errors)
    try {
      val loadStart = Common.loadavg()
      val calStart = Common.calibrate(o.cores)
      val tally = new Tally
      val tr = new Tracer(s"${o.workload}-${o.seed}-${java.util.UUID.randomUUID()}")
      val perIter: Seq[Map[String, Double]] = o.workload match {
        case "convert_ddos" => convert(spark, o, tr, tally)
        case "packet_query" => packetQuery(spark, o, tr, errors, tally)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tr.write(s"${o.work}/spans.jsonl")
      val r = new Main.Result
      Layers.foreach { k =>
        r.metrics(k) = Common.median(perIter.map(_.getOrElse(k, 0.0)))
      }
      r.info("iterations") = perIter.size.toString
      r.info("spans") = Json.str(s"${o.work}/spans.jsonl")
      val box = Json.obj(Seq(
        "calibration_start_s" -> Json.num(calStart),
        "calibration_end_s" -> Json.num(Common.calibrate(o.cores)),
        "loadavg_start" -> loadStart, "loadavg_end" -> Common.loadavg()))
      Main.writeResult(o, tally, r, box)
    } finally spark.stop()
  }

  /** Set-up, warm-up, then iterations until `--seconds` have passed. */
  private def iterate(o: Opts)(iteration: => Map[String, Double]): Seq[Map[String, Double]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) out += iteration
    out.toSeq
  }

  /** Drain a scan's column batches without converting them to rows, as the
    * vector writer reads them; returns the rows scanned.
    */
  private def drainColumnar(df: DataFrame): Long = {
    val plan = df.queryExecution.executedPlan
    val scan = plan.collectFirst { case p if p.supportsColumnar => p }.getOrElse(
      throw new IllegalStateException(s"no columnar scan in\n$plan"))
    scan.executeColumnar().map(_.numRows().toLong).fold(0L)(_ + _)
  }

  /** Sum of `f` over every frame of every corpus file, read single-threaded. */
  private def overFrames(c: CorpusGen.Corpus)(f: graft.core.RawFrame => Long): Long =
    c.paths.map { p =>
      val in = new BufferedInputStream(new FileInputStream(p), 1 << 20)
      try {
        val it = PcapFramer.frames(in, PcapFramer.Sane)
        var s = 0L
        while (it.hasNext) s += f(it.next())
        s
      } finally in.close()
    }.sum

  def convert(spark: SparkSession, o: Opts, tr: Tracer,
      tally: Tally): Seq[Map[String, Double]] = {
    val c = Workloads.corpus(o)
    val out = s"${o.work}/out/convert"
    val tracedOut = s"${o.work}/out/traced"
    val want = Workloads.referenceDigest(spark, c)
    val args = Workloads.convertArgs(c, out)
    Workloads.warmUp(spark, o, c, args)
    val nFiles = c.files.size
    val shards = math.max(1, math.min(1024,
      math.ceil(spark.sparkContext.defaultParallelism.toDouble / nFiles).toInt))
    // the scan exactly as the convert builds it
    def scan(extra: (String, String)*): DataFrame =
      extra.foldLeft(spark.read.format("pcap").option("mode", "sane")
        .option("decodePartitions", shards.toLong)) { case (b, (k, v)) => b.option(k, v) }
        .load(c.glob)
    val acc = new DissectAcc
    val res = iterate(o) {
      val m = mutable.LinkedHashMap.empty[String, Double]
      tally.attempted += 1
      val wall = Common.seconds(PcapConvert.run(spark, args))._2
      tr.counted(spark, "iteration") {
        val frames = tr.span("pcapio.frame")(overFrames(c)(_ => 1L))
        val frameS = tr.last("pcapio.frame").get.seconds
        m ++= Seq("pcapio.frame_s" -> frameS, "pcapio.frames" -> frames.toDouble,
          "pcapio.mb" -> c.bytes / 1e6)
        val errs = tr.span("dissect.full")(overFrames(c) { f =>
          PacketDissector.dissectInto(acc, f, walkV6 = true, level = DissectLevel.Full)
          acc.errors.toLong
        })
        tr.span("dissect.l3")(overFrames(c) { f =>
          PacketDissector.dissectInto(acc, f, walkV6 = true, level = DissectLevel.L3)
          0L
        })
        m ++= Seq("dissect.full_s" -> (tr.last("dissect.full").get.seconds - frameS),
          "dissect.l3_s" -> (tr.last("dissect.l3").get.seconds - frameS),
          "dissect.errors" -> errs.toDouble)
        val scanned = tr.counted(spark, "scan.full")(drainColumnar(scan()))
        if (scanned != c.packets) tally.fail(s"columnar scan returned $scanned rows")
        tr.span("scan.pruned")(scan().count())
        val full = tr.last("scan.full").get
        m ++= Seq("scan.full_s" -> full.seconds,
          "scan.pruned_s" -> tr.last("scan.pruned").get.seconds,
          "scan.tasks" -> full.counts("tasks"), "scan.gc_s" -> full.counts("gc_s"))

        // the convert's path on this corpus, phase by phase: the sample rules
        // out the single pass, and the fused stats pass picks the
        // broadcast patch
        val mk = PcapSource.metrics(spark)
        val mKey = java.util.UUID.randomUUID().toString
        PcapSource.registerMetrics(mKey, mk)
        val map = try tr.span("convert.traced") {
          val pct = tr.span("convert.sample")(
            PcapConvert.sampleFragPct(spark, c.glob, PcapFramer.Sane))
          require(pct >= 0.2, s"sampled $pct% fragmented: the convert would speculate, " +
            "and the traced convert covers the fused-stats broadcast-patch path only")
          val sm = PcapSource.statsMetrics(spark)
          val sKey = java.util.UUID.randomUUID().toString
          PcapSource.registerMetrics(sKey, sm)
          val fused =
            try tr.counted(spark, "defrag.stats")(Defrag.statsAndBuild(
              scan("_internal.dissectGate" -> "first-fragment", "metricsKey" -> sKey),
              sm, Defrag.MaxBroadcastFirstFragments))
            finally PcapSource.unregisterMetrics(sKey)
          val st = tr.last("defrag.stats").get
          m ++= Seq("defrag.stats_s" -> st.seconds, "defrag.frag_pct" -> fused.pct,
            "defrag.ff_keys" -> fused.ffKeys.toDouble,
            "defrag.shuffle_mb" -> st.counts("shuffle_write_mb"))
          require(fused.pct >= 1.0 && fused.map.isDefined,
            s"${fused.pct}% fragmented, ${fused.ffKeys} first-fragment keys: the traced " +
              "convert covers the fused-stats broadcast-patch path only")
          withPatch(spark, fused.map.get) { pk =>
            val patched = scan("metricsKey" -> mKey, "defragPatchKey" -> pk)
            tr.span("write.patched")(PcapColumnarWrite.write(
              patched, tracedOut, "zstd", rebatch = true,
              outputOrder = Some(Defrag.defraggedOrder(patched.columns.toSeq))))
          }
          fused.map.get
        } finally PcapSource.unregisterMetrics(mKey)

        // the patch probe: the patched scan alone, drained like scan.full
        val probe = withPatch(spark, map) { pk =>
          tr.span("patch.probe")(drainColumnar(scan("defragPatchKey" -> pk)))
          tr.last("patch.probe").get.seconds
        }
        val write = tr.last("write.patched").get
        val (bytes, files) = Common.parquetBytes(tracedOut)
        m ++= Seq("convert.sample_s" -> tr.last("convert.sample").get.seconds,
          "patch.entries" -> map.ids.length.toDouble, "patch.probe_s" -> (probe - full.seconds),
          "write.encode_s" -> (write.seconds - probe),
          "write.mb" -> bytes / 1e6, "write.files" -> files.toDouble)

        val conv = tr.last("convert.traced").get
        val phases = Seq("convert.sample", "defrag.stats", "write.patched")
          .map(n => tr.childSeconds(conv, n)).sum
        m ++= Seq("trace.coverage" -> phases / wall,
          "trace.overhead" -> (conv.seconds - tr.childSeconds(conv, "trace.drain")) / wall)

        // the traced replica must write what the convert writes
        val bad = tr.span("trace.check")(Workloads.checkOutput(spark, tracedOut, c, want)).toSeq ++
          (if (mk.errors.value != c.expectedErrors)
            Seq(s"traced convert counted ${mk.errors.value} dissect errors, corpus has ${c.expectedErrors}")
          else Nil) ++
          (if (errs != c.expectedErrors)
            Seq(s"single-thread dissect counted $errs errors, corpus has ${c.expectedErrors}")
          else Nil)
        if (bad.nonEmpty) tally.fail(bad.mkString("; "))
      }
      sparkCounts(tr, m)
      m.toMap
    }
    Workloads.checkOutput(spark, out, c, want).foreach(tally.fail)
    res
  }

  private def withPatch[T](spark: SparkSession, map: DefragPatch.PatchMap)(body: String => T): T = {
    val bc = spark.sparkContext.broadcast(map)
    val pk = java.util.UUID.randomUUID().toString
    DefragPatch.register(pk, bc)
    try body(pk) finally { DefragPatch.unregister(pk); bc.destroy() }
  }

  private def sparkCounts(tr: Tracer, m: mutable.Map[String, Double]): Unit = {
    val it = tr.last("iteration").get
    m ++= Seq("spark.gc_s" -> it.counts("gc_s"),
      "spark.shuffle_write_mb" -> it.counts("shuffle_write_mb"),
      "spark.spill_mb" -> it.counts("spill_mb"), "spark.tasks" -> it.counts("tasks"),
      "trace.drain_s" -> tr.named("trace.drain").filter(d => d.start >= it.start && d.end <= it.end)
        .map(_.seconds).sum)
  }

  def packetQuery(spark: SparkSession, o: Opts, tr: Tracer, errors: DissectErrors,
      tally: Tally): Seq[Map[String, Double]] = {
    val c = Workloads.corpus(o)
    val dataset = Workloads.setupPacketDataset(spark, o, c, errors)
    val p = Workloads.sliceParams(o, c)
    val queries = Workloads.packetQueries(spark, c, dataset, p)
    (1 to Main.WarmupPasses).foreach(_ => queries.foreach(_._2().collect()))
    val fullSlice = Workloads.fullScanSlice(spark, dataset, p).collect().toSeq
    val totalFiles = Common.parquetBytes(dataset)._2
    iterate(o) {
      val m = mutable.LinkedHashMap.empty[String, Double]
      tally.attempted += 1
      val pass = Common.seconds(queries.foreach(_._2().collect()))._2
      tr.counted(spark, "iteration") {
        tr.span("pq.pass") {
          queries.foreach { case (name, q) =>
            val rows = tr.span(s"pq.$name")(q().collect())
            m(s"pq.${name}_s") = tr.last(s"pq.$name").get.seconds
            if (name == "manifest_slice" && rows.toSeq != fullSlice)
              tally.fail("pruned slice differs from the filtered full scan")
            if (name == "pcap_slice")
              m("slice.rows_ratio") = rows.map(_.getLong(1)).sum.toDouble / c.packets
          }
        }
        val kept = tr.span("manifest.slice")(ConvertManifest.prunedFiles(spark, dataset,
          Some(p.tsLo), Some(p.tsHi), src = Some(p.src)))
        tr.span("manifest.build")(ConvertManifest.build(spark, dataset))
        tr.counted(spark, "scan.full")(drainColumnar(spark.read.format("pcap").load(c.glob)))
        tr.span("scan.pruned")(spark.read.format("pcap").load(c.glob).count())
        val fs = tr.last("scan.full").get
        val pq = tr.last("pq.pass").get
        m ++= Seq("manifest.slice_s" -> tr.last("manifest.slice").get.seconds,
          "manifest.files_kept_ratio" -> kept.map(_.size).getOrElse(totalFiles).toDouble / totalFiles,
          "manifest.build_s" -> tr.last("manifest.build").get.seconds,
          "scan.full_s" -> fs.seconds, "scan.pruned_s" -> tr.last("scan.pruned").get.seconds,
          "scan.tasks" -> fs.counts("tasks"), "scan.gc_s" -> fs.counts("gc_s"),
          "trace.coverage" -> queries.map(q => tr.childSeconds(pq, s"pq.${q._1}")).sum / pass,
          "trace.overhead" -> (pq.seconds - tr.childSeconds(pq, "trace.drain")) / pass)
      }
      sparkCounts(tr, m)
      m.toMap
    }
  }
}
