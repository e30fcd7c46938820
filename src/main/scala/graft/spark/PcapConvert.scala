package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.LongAccumulator

import graft.core.PacketSchema
import graft.pcapio.PcapFramer
import graft.sources.{PcapDirectScan, PcapFileEnum}

/** CLI parity with the reference converter
  * (`pcap-converter -f in.pcap -o out.parquet [-n] [-j N] [-v]`,
  * reference src/main.rs:22-43): pcap/pcapng → dissect → optional defrag →
  * Parquet (zstd by default — measured wall-time parity at half the
  * bytes; `-c snappy` restores the reference's output codec).
  */
object PcapConvert {

  final case class Args(
      file: String = "",
      out: String = "",
      nodefrag: Boolean = false,
      jobs: Int = 0, // total scan parallelism; 0 = defaultParallelism
      verbose: Boolean = false,
      debug: Boolean = false,
      singleFile: Boolean = true,
      referenceCompat: Boolean = false,
      /** `-m`: after the write, index the output with a
        * [[graft.sources.ConvertManifest]] — per-part-file frame_time
        * zone maps + ip_src/ip_dst blooms, so the canonical "slice one
        * attack window / one source" downstream queries prune part
        * files ([[graft.sources.ConvertManifest.slice]]). Opt-in: two
        * extra aggregate jobs over the output (round 15, verdict #6). */
      manifest: Boolean = false,
      /** Parquet codec for the output. Default zstd: measured on the 10M
        * packet corpus (graft.tools.BenchCodec, interleaved rounds — a
        * sequential sweep hands the wall-time 'win' to whichever codec
        * runs last) all four codecs CONVERT at the same wall time
        * (4.3–4.5 s, within noise; the codec CPU amortizes across the
        * cores) while zstd writes 39 MB vs snappy's 83 MB — half the
        * write I/O and half of every downstream scan, the axis that
        * matters at 100 TB, for free. `-c snappy` restores byte-level
        * reference-output parity (statswriter.rs:36-40). */
      compression: String = "zstd")

  def parse(argv: Array[String]): Args = {
    @annotation.tailrec
    def loop(rest: List[String], a: Args): Args = rest match {
      case "-f" :: v :: t            => loop(t, a.copy(file = v))
      case "--file" :: v :: t        => loop(t, a.copy(file = v))
      case "-o" :: v :: t            => loop(t, a.copy(out = v))
      case "--out" :: v :: t         => loop(t, a.copy(out = v))
      case ("-n" | "--nodefrag") :: t => loop(t, a.copy(nodefrag = true))
      case "-j" :: v :: t            => loop(t, a.copy(jobs = v.toInt))
      case ("-v" | "--verbose") :: t => loop(t, a.copy(verbose = true))
      case ("-d" | "--debug") :: t   => loop(t, a.copy(debug = true))
      case "--multi-file" :: t       => loop(t, a.copy(singleFile = false))
      case ("-m" | "--manifest") :: t => loop(t, a.copy(manifest = true))
      case ("-c" | "--compression") :: v :: t =>
        loop(t, a.copy(compression = v))
      case "--reference-compat" :: t => loop(t, a.copy(referenceCompat = true))
      case Nil                       => a
      case x :: _ => throw new IllegalArgumentException(s"unknown arg: $x")
    }
    val a = loop(argv.toList, Args())
    require(a.file.nonEmpty && a.out.nonEmpty, "usage: -f <in.pcap> -o <out.parquet>")
    require(a.jobs >= 0, s"-j must be >= 0 (0 = defaultParallelism), got ${a.jobs}")
    // fail a typo'd codec in milliseconds, not after hours of parse +
    // defrag compute on a big capture (Spark's ParquetOptions would
    // otherwise throw only when the write finally starts). Only codecs
    // the BUNDLED runtime can actually write (ADVICE r9): parquet also
    // names lzo/brotli, but stock Spark carries no native lib / codec
    // jar for them, so those would pass the guard in milliseconds and
    // still die when the write starts — after exactly the compute the
    // guard exists to protect.
    val codecs = Set("none", "uncompressed", "snappy", "gzip", "lz4",
      "lz4_raw", "zstd")
    require(codecs.contains(a.compression.toLowerCase(java.util.Locale.ROOT)),
      s"unknown or unbundled --compression '${a.compression}' " +
        s"(one of: ${codecs.toSeq.sorted.mkString(", ")})")
    a
  }

  /** Driver-side fragmentation probe (round 13, the speculative
    * single-pass convert): frame + L3-dissect up to `maxFrames` of the
    * FIRST capture file and return the fragmented percentage of the
    * sample. ~60 ms at the 200k default — cheap enough to run before
    * every convert. A prefix sample can of course misread a capture
    * whose fragments come later; the speculation it feeds is validated
    * against EXACT whole-corpus counts after the write, so a misread
    * only costs a wasted pass, never a wrong result.
    */
  def sampleFragPct(spark: SparkSession, fileOrGlob: String,
      mode: PcapFramer.Mode, maxFrames: Int = SampleFrames): Double = {
    val hconf = spark.sessionState.newHadoopConf()
    samplePct(PcapFileEnum.list(Seq(fileOrGlob), hconf).headOption, hconf,
      mode, maxFrames)
  }

  private val SampleFrames = 200000

  /** [[sampleFragPct]] over an already-listed first file. */
  private def samplePct(file: Option[String], hconf: Configuration,
      mode: PcapFramer.Mode, maxFrames: Int = SampleFrames): Double = file match {
    case None => 0.0
    case Some(f) =>
      val path = new Path(f)
      val in = path.getFileSystem(hconf).open(path)
      try {
        val frames = PcapFramer.frames(in, mode)
        val acc = new graft.dissect.DissectAcc
        var total = 0L
        var frag = 0L
        while (frames.hasNext && total < maxFrames) {
          graft.dissect.PacketDissector.dissectInto(acc, frames.next(),
            walkV6 = mode != PcapFramer.ReferenceCompat,
            level = graft.dissect.DissectLevel.L3)
          val o = acc.ipFragOffset
          if (o > 0 || (o == 0 && acc.ipMf)) frag += 1L
          total += 1L
        }
        if (total == 0) 0.0 else 100.0 * frag / total
      } finally in.close()
  }

  /** Run `body` with the job description `name` (what listeners and the
    * UI attribute its jobs to), then restore the caller's description.
    */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(name)
    try body finally sc.setLocalProperty(key, prev)
  }

  /** The convert (reference src/main.rs:268-301), one topology:
    *   1. a driver-side prefix sample ([[sampleFragPct]]) reads (nearly)
    *      unfragmented → SPECULATIVE single pass: the exact
    *      (total, fragmented) counts ride the output write as
    *      accumulators; a mispredict (≥ 1% exact) drops the output,
    *      rolls the progress counters back and takes step 2;
    *   2. the FUSED stats pass ([[Defrag.statsAndBuild]]): one
    *      map-only job over the first-fragment-gated reader counts
    *      (total, fragmented) in the readers, reduces each task's first
    *      fragments to a per-key argmin, and merges those on the driver
    *      into the broadcast patch map;
    *   3. below 1% fragmented the plain scan is written as is (defrag
    *      skip, main.rs:277); otherwise the COLUMNAR BROADCAST PATCH —
    *      readers back-fill each row from the broadcast map before the
    *      vectors fill, and the writer restores the patched-at-end
    *      column order ([[graft.sources.DefragPatch]]);
    *   4. fallback only when the map overflows
    *      [[Defrag.MaxBroadcastFirstFragments]] distinct keys: the ff
    *      aggregate spills beside the output and the shuffle-bypass join
    *      ([[Defrag.defragWith]]) feeds the same vector writer.
    *
    * Plan-free: the speculated, skip, patch and `-n` branches run their
    * jobs straight on the pcap scan's partitions and readers
    * ([[graft.sources.PcapDirectScan]]: the input listed once, its
    * partitions cut once, one Hadoop-conf broadcast) and hand the
    * batches to [[PcapColumnarWrite.writeBatches]] — no DataFrame is
    * analysed, optimised or planned between jobs. Only the shuffle
    * fallback's ff aggregate and join, and the `-m` manifest, go through
    * Catalyst. Every pass re-reads the capture (measured faster than
    * caching the parsed table once parsing got cheap, round 8, and the
    * only strategy a 100 TB capture can take). Each phase's jobs carry a
    * `convert: …` job description.
    */
  def run(spark: SparkSession, a: Args): Unit = {
    if (a.debug) spark.sparkContext.setLogLevel("DEBUG")
    val mode: PcapFramer.Mode =
      if (a.referenceCompat) PcapFramer.ReferenceCompat else PcapFramer.Sane
    val hconf = spark.sessionState.newHadoopConf()
    val m = PcapSource.metrics(spark)
    // The DSv2 columnar scan (round 9): accumulator fields go straight
    // into OnHeapColumnVectors, and when there are fewer files than
    // cores each file is stride-sharded so dissection AND the parquet
    // encode parallelize to the full machine. `-j N` sets the total.
    val files = PcapFileEnum.list(Seq(a.file), hconf)
    val want = if (a.jobs > 0) a.jobs else spark.sparkContext.defaultParallelism
    val shards = math.max(1, math.min(1024,
      math.ceil(want.toDouble / math.max(1, files.size)).toInt))
    val scan = new PcapDirectScan(spark, hconf, files, a.referenceCompat, shards)
    val schema = PacketSchema.schema
    def write(batches: RDD[ColumnarBatch], order: Option[Seq[String]] = None,
        fragCounters: Option[(LongAccumulator, LongAccumulator)] = None): Unit =
      PcapColumnarWrite.writeBatches(batches, schema, a.out, a.compression,
        scan.conf, singleFile = a.singleFile, outputOrder = order,
        fragCounters = fragCounters)
    def plain: RDD[ColumnarBatch] = scan.batches(schema, Some(m))
    // live progress (reference parity, src/statswriter.rs:64-68): the
    // accumulators tick as tasks finish, so a long 100 TB conversion shows
    // a running count instead of one number at the end
    val progress =
      if (!a.verbose) None
      else Some {
        val th = new Thread(() => {
          try {
            while (!Thread.currentThread().isInterrupted) {
              Thread.sleep(2000)
              System.err.println(
                s"Packets: ${m.packets.value} Errors: ${m.errors.value}")
            }
          } catch { case _: InterruptedException => () }
        }, "pcap-progress")
        th.setDaemon(true)
        th.start()
        th
      }
    try {
      // 1. speculation: the 0.2% sample threshold is 5× under the
      // decision threshold, so only genuinely skewed captures
      // (unfragmented head, fragmented tail) ever mispredict
      val speculated = !a.nodefrag &&
        samplePct(files.headOption, hconf, mode) < 0.2 && {
          val accTotal = spark.sparkContext.longAccumulator("spec_total")
          val accFrag = spark.sparkContext.longAccumulator("spec_frag")
          val errsBefore = m.errors.value
          phase(spark, "convert: speculative write")(
            write(plain, fragCounters = Some((accTotal, accFrag))))
          val total = accTotal.value
          val pctExact =
            if (total == 0) 0.0 else math.round(100.0 * accFrag.value / total).toDouble
          pctExact < 1.0 || {
            // mispredicted: one number per convert (reference parity), so
            // the rewrite below must count alone
            val p = new Path(a.out)
            p.getFileSystem(hconf).delete(p, true)
            m.packets.add(-total)
            m.errors.add(errsBefore - m.errors.value)
            false
          }
        }
      if (a.nodefrag) phase(spark, "convert: write")(write(plain))
      else if (!speculated) {
        // 2. the fused stats pass (separate accumulators: the progress
        // counters must count each packet once)
        val sm = PcapSource.statsMetrics(spark)
        val fused = phase(spark, "convert: stats")(Defrag.statsAndBuild(
          scan.firstFragmentRows(sm), sm, Defrag.MaxBroadcastFirstFragments))
        if (fused.pct < 1.0) // 3. defrag skip (main.rs:277)
          phase(spark, "convert: write")(write(plain))
        else fused.map match {
          case Some(map) => // 3. the columnar broadcast patch
            val bc = spark.sparkContext.broadcast(map)
            try phase(spark, "convert: write")(write(
              scan.batches(schema, Some(m), patch = Some(bc)),
              order = Some(Defrag.defraggedOrder(schema.fieldNames.toSeq))))
            finally bc.destroy()
          case None => shuffleFallback(spark, a, m, shards, hconf)
        }
      }
    } finally progress.foreach(_.interrupt())
    if (a.manifest) {
      val n = graft.sources.ConvertManifest.build(spark, a.out)
      if (a.verbose) System.err.println(s"Manifest: $n files indexed")
    }
    if (a.verbose)
      System.err.println(
        s"Packets: ${m.packets.value} Errors: ${m.errors.value}")
  }

  /** Step 4: too many distinct keys to collect. Spill the ff side (one
    * more gated pass) and shuffle-join against it — the one branch that
    * plans through Catalyst. The spill is a SIBLING of the output: the
    * writer deletes the output directory before it runs the join that
    * reads the spill.
    */
  private def shuffleFallback(spark: SparkSession, a: Args, m: PcapSource.Metrics,
      shards: Int, hconf: Configuration): Unit = {
    def scan(options: (String, String)*): DataFrame =
      options.foldLeft(spark.read.format("pcap")
        .option("mode", if (a.referenceCompat) "reference-compat" else "sane")
        .option("decodePartitions", shards)) { case (r, (k, v)) => r.option(k, v) }
        .load(a.file)
    val metricsKey = java.util.UUID.randomUUID().toString
    PcapSource.registerMetrics(metricsKey, m)
    val spill = new Path(a.out).suffix(".ffspill")
    val fs = spill.getFileSystem(hconf)
    try {
      phase(spark, "convert: ff spill")(
        Defrag.firstFragments(scan("_internal.dissectGate" -> "first-fragment"))
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(spill.toString))
      phase(spark, "convert: shuffle write")(PcapColumnarWrite.write(
        Defrag.defragWith(scan("metricsKey" -> metricsKey),
          spark.read.parquet(spill.toString), broadcastFF = false),
        a.out, a.compression, singleFile = a.singleFile, rebatch = true))
      ()
    } finally {
      PcapSource.unregisterMetrics(metricsKey)
      try { fs.delete(spill, true); () } catch { case _: java.io.IOException => () }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val builder = SparkSession.builder()
      .appName("pcap-convert")
      .config("spark.sql.session.timeZone", "UTC")
    // default to local mode when not launched via spark-submit
    if (!sys.props.contains("spark.master") && !sys.env.contains("MASTER"))
      builder.master("local[*]").config("spark.sql.shuffle.partitions", "32")
    val spark = builder.getOrCreate()
    try run(spark, a)
    finally spark.stop()
  }
}
