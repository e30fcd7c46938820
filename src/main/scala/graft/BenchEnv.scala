package graft

/** Shared environment knobs for the perf instruments (Bench, TimeQuery,
  * ScaleRehearsal). BenchPcap/BenchCodec place their local dirs inside
  * the synthesized corpus dir instead — that dir already carries its own
  * tmpfs decision.
  */
object BenchEnv {

  /** Shuffle/spill dir on tmpfs when available (round-9 lesson: /tmp
    * rides the virtio disk and adds disk bandwidth + multi-second
    * variance spikes to every shuffle an instrument times).
    */
  def localDir(): String = {
    val d =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        "/dev/shm/graft-bench-local"
      else "/tmp/graft-bench-local"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    d
  }

  /** BenchPcap's corpus dir (tmpfs when available) — the default input
    * of every pcap A/B instrument. */
  def pcapCorpusDir(): String =
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm/graft-pcap-bench"
    else "/tmp/graft-pcap-bench"

  /** The ONE shard-count formula the convert CLI plans (review finding:
    * four hand-copies had already started drifting — an instrument whose
    * arm reads at a different parallelism than the CLI measures the
    * scan, not the change under test). */
  def pcapShards(spark: org.apache.spark.sql.SparkSession, glob: String): Int = {
    val nFiles = math.max(1, graft.sources.PcapFileEnum
      .list(Seq(glob), spark.sessionState.newHadoopConf()).size)
    math.max(1, math.min(1024, math.ceil(
      spark.sparkContext.defaultParallelism.toDouble / nFiles).toInt))
  }

  /** Range-sharded pcap read, exactly as the CLI plans it. */
  def pcapRead(spark: org.apache.spark.sql.SparkSession,
      glob: String): org.apache.spark.sql.DataFrame =
    spark.read.format("pcap")
      .option("decodePartitions", pcapShards(spark, glob)).load(glob)

  /** The shared interleaved-A/B session: local[32], tmpfs local dir, 32
    * shuffle partitions, AQE on, UI off — identical across instruments
    * so cross-tool numbers compare. */
  def abSession(): org.apache.spark.sql.SparkSession = {
    val s = org.apache.spark.sql.SparkSession.builder().master("local[32]")
      .config("spark.local.dir", localDir())
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (best, median) of an interleaved arm's samples. */
  def bestMedian(xs: Array[Double]): (Double, Double) = {
    val s = xs.sorted
    (s.head, s(s.length / 2))
  }
}
