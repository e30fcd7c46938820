package graft.tools

/** Decomposition of the fused stats job against the gated-scan floor.
  * Three measured shapes over the SAME gated, filter-pushed scan, each
  * with task-summed work counters (tasks / records / shuffle bytes):
  *
  *   - `floor`: the gated scan alone (ff filter pushed, L3 veto) to a
  *     noop sink — the semantic floor of any stats pass;
  *   - `agg`:   floor + the declarative ff argmin aggregate
  *     (`Defrag.firstFragments`: sort + exchange + final agg) to a noop
  *     sink. Not the shipped path any more: it is the reference the
  *     stats job is checked against, and the shuffle fallback's spill;
  *   - `fused`: the shipped statsAndBuild — one map-only job (per-task
  *     argmin fragments + the driver merge into the patch map).
  *
  * floor→fused is what the stats pass costs over reading its rows;
  * agg→fused is what dropping the exchange saved. `fused` must show
  * zero shuffle bytes.
  *
  * Usage: `runMain graft.tools.DiagStatsResidue [fileGlob] [rounds]`.
  */
object DiagStatsResidue {
  def main(args: Array[String]): Unit = {
    val dir = graft.BenchEnv.pcapCorpusDir()
    val glob = args.headOption.getOrElse(s"$dir/*.pcap")
    val rounds = if (args.length > 1) args(1).toInt else 3
    val spark = graft.BenchEnv.abSession()
    val shards = graft.BenchEnv.pcapShards(spark, glob)
    def scan(metricsKey: String = null) = {
      var r = spark.read.format("pcap").option("decodePartitions", shards)
        .option("_internal.dissectGate", "first-fragment")
      if (metricsKey != null) r = r.option("metricsKey", metricsKey)
      r.load(glob)
    }
    import graft.spark.Defrag
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val (_, w) = TaskRecords.measureWork(spark)(body)
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[stats-residue] $label%-6s $t%6.2f s  tasks ${w.tasks}%4d  " +
        f"recs ${w.records}%11d  shufW ${w.shuffleWriteB / 1048576.0}%8.2f MB  " +
        f"shufR ${w.shuffleReadB / 1048576.0}%8.2f MB")
    }
    // the ff-filtered frame WITHOUT the aggregate (plans the same
    // pushed scan the aggregate's child has)
    def ffFiltered = {
      import org.apache.spark.sql.functions._
      scan().filter(col("ip_proto") === 17 && col("ip_mf") &&
        col("ip_frag_offset") === 0)
    }
    def runFused(): Unit = {
      val key = java.util.UUID.randomUUID().toString
      val sm = graft.spark.PcapSource.statsMetrics(spark)
      graft.spark.PcapSource.registerMetrics(key, sm)
      try {
        val fused = Defrag.statsAndBuild(scan(key), sm, Long.MaxValue)
        require(fused.ffKeys > 0, "empty")
      } finally graft.spark.PcapSource.unregisterMetrics(key)
    }
    // warmup, one per shape
    ffFiltered.write.mode("overwrite").format("noop").save()
    Defrag.firstFragments(scan()).write.mode("overwrite").format("noop").save()
    runFused()
    (1 to rounds).foreach { r =>
      System.err.println(s"[stats-residue] round $r")
      time("floor") { ffFiltered.write.mode("overwrite").format("noop").save() }
      time("agg") { Defrag.firstFragments(scan())
        .write.mode("overwrite").format("noop").save() }
      time("fused") { runFused() }
    }
    spark.stop()
  }
}
