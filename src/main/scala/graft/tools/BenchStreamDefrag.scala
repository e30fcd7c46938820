package graft.tools

/** Interleaved A/B over the streaming defrag state function — landing →
  * stateful back-fill → parquet sink under AvailableNow, both arms the
  * same stride-sharded read. Rounds MUST interleave (this box drifts
  * ±2× sequentially).
  *
  * Default arms (round 14): the opt-in SENTINEL-coded state row
  * (`sentinel = true`) vs the Option-boxed sortless default — the
  * shipped path.
  * `--sorted` restores the round-13 A/B: boxed sortless vs boxed
  * group-sort.
  * `--bypass` flips to bypass-split vs plain (both on the shipped
  * path): the split skips the state shuffle for non-UDP rows at the
  * price of a second source scan per micro-batch — corpus-dependent,
  * measure on the traffic shape you mean to deploy on.
  *
  * `--batch` (round 14) isolates the STATE OP: the projection is
  * materialized to tmpfs parquet once (untimed), then the arms run the
  * same transform in batch mode into a noop sink — no pcap parse, no
  * state-store checkpointing, no zstd sink. The full streaming pipeline
  * arms swing 26–137 s for identical code across sessions on this box
  * (state-store + sink wall noise), far past an encoder-level effect;
  * the batch arms are the resolvable instrument for the sentinel-vs-
  * boxed question, and the streaming arms remain the end-to-end
  * smoke/throughput row.
  *
  * `--rocksdb` (round 15, verdict #5): both arms the sentinel +
  * sortless transform; arm A swaps the state store for the RocksDB
  * provider with changelog checkpointing — the intended production
  * store for exactly this groupByKey-heavy shape — vs the default
  * HDFS-backed provider. Needs zero query changes; the provider conf is
  * read per query start (fresh checkpoints per arm).
  *
  * Usage: `runMain graft.tools.BenchStreamDefrag [fileGlob] [rounds]
  * [--sorted|--bypass|--batch|--rocksdb]`.
  */
object BenchStreamDefrag {
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val dir = graft.BenchEnv.pcapCorpusDir()
    val pos = args.filterNot(_.startsWith("--"))
    val bypassAb = args.contains("--bypass")
    val sortedAb = args.contains("--sorted")
    val rocksAb = args.contains("--rocksdb")
    val glob = pos.headOption.getOrElse(s"$dir/cap*.pcap")
    val rounds = if (pos.length > 1) pos(1).toInt else 3
    val spark = graft.BenchEnv.abSession()
    val shards = graft.BenchEnv.pcapShards(spark, glob)
    // `a` = the candidate arm, `b` = the reference arm (naming below
    // keeps the legacy JSON keys: sortless = candidate, sorted = ref)
    def run(armA: Boolean): Double = {
      val out = s"$dir/sdefrag-ab-out.parquet"
      val ckpt = s"$dir/sdefrag-ab-ckpt"
      graft.TempCleanup.rmrf(new java.io.File(out))
      graft.TempCleanup.rmrf(new java.io.File(ckpt))
      if (rocksAb) {
        // provider is read at query start; fresh checkpoint per arm so
        // no StateSchemaNotCompatible/store-format carryover
        if (armA) {
          spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            RocksDbProvider)
          spark.conf.set("spark.sql.streaming.stateStore.rocksdb." +
            "changelogCheckpointing.enabled", "true")
        } else {
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
          spark.conf.unset("spark.sql.streaming.stateStore.rocksdb." +
            "changelogCheckpointing.enabled")
        }
      }
      val t0 = System.nanoTime()
      val src = spark.readStream.format("pcap")
        .option("decodePartitions", shards).load(glob)
      val projected = graft.streaming.StreamingDefrag.project(src)
      val D = graft.streaming.StreamingDefrag
      val transformed =
        if (bypassAb)
          if (armA) D.defragStatefulSplit(projected)
          else D.defragStateful(projected)
        else if (sortedAb) // round-13 A/B: boxed sortless vs boxed sorted
          D.defragStateful(projected, sortless = armA, sentinel = false)
        else if (rocksAb) // round-15 A/B: state store, sentinel transform
          D.defragStateful(projected, sortless = true, sentinel = true)
        else // round-14 A/B: sentinel vs boxed sortless
          D.defragStateful(projected, sortless = true, sentinel = armA)
      val q = transformed
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .option("compression", "zstd")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val t = (System.nanoTime() - t0) / 1e9
      graft.TempCleanup.rmrf(new java.io.File(out))
      graft.TempCleanup.rmrf(new java.io.File(ckpt))
      t
    }
    val names =
      if (bypassAb) ("split", "plain")
      else if (sortedAb) ("sortless", "sorted")
      else if (rocksAb) ("rocksdb", "hdfs")
      else ("sentinel", "boxed")
    if (args.contains("--batch")) { batchAb(spark, glob, shards, rounds); return }
    run(armA = true); run(armA = false) // JIT warmup, discarded
    val (sl, so) = (Array.newBuilder[Double], Array.newBuilder[Double])
    (1 to rounds).foreach { r =>
      val a = run(armA = true)
      val b = run(armA = false)
      sl += a; so += b
      System.err.println(
        f"[stream-defrag] round $r: ${names._1} $a%.2f s, ${names._2} $b%.2f s")
    }
    val (ab, am) = graft.BenchEnv.bestMedian(sl.result())
    val (bb, bm) = graft.BenchEnv.bestMedian(so.result())
    System.err.println(f"[stream-defrag] ${names._1} best $ab%.2f s median $am%.2f s; " +
      f"${names._2} best $bb%.2f s median $bm%.2f s")
    println(f"""{"metric":"stream_defrag_ab","a":"${names._1}","b":"${names._2}","a_best_s":$ab%.3f,"a_median_s":$am%.3f,"b_best_s":$bb%.3f,"b_median_s":$bm%.3f,"glob":"$glob"}""")
    spark.stop()
  }

  /** `--batch`: sentinel vs boxed over a pre-materialized projection in
    * batch mode — the state op alone, noop sink. See the class doc.
    */
  private def batchAb(spark: org.apache.spark.sql.SparkSession,
      glob: String, shards: Int, rounds: Int): Unit = {
    val D = graft.streaming.StreamingDefrag
    // rebuilt per run (untimed) and registered for exit cleanup: a
    // fixed reused path silently measured a STALE corpus when the glob
    // or SPARK_GRAFT_PCAP_PACKETS changed, and pinned GBs of tmpfs
    // forever (round-14 review finding)
    val proj = s"${graft.BenchEnv.pcapCorpusDir()}/sdefrag-batch-proj.parquet"
    graft.TempCleanup.registerDir(proj)
    D.project(spark.read.format("pcap").option("decodePartitions", shards)
      .load(glob)).write.mode("overwrite").parquet(proj)
    val projected = spark.read.parquet(proj)
    def arm(sentinel: Boolean): Double = {
      val t0 = System.nanoTime()
      D.defragStateful(projected, sortless = true, sentinel = sentinel)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    arm(true); arm(false) // JIT warmup, discarded
    val (sa, sb) = (Array.newBuilder[Double], Array.newBuilder[Double])
    (1 to rounds).foreach { r =>
      val a = arm(true); val b = arm(false)
      sa += a; sb += b
      System.err.println(
        f"[stream-defrag --batch] round $r: sentinel $a%.2f s, boxed $b%.2f s")
    }
    val (ab, am) = graft.BenchEnv.bestMedian(sa.result())
    val (bb, bm) = graft.BenchEnv.bestMedian(sb.result())
    System.err.println(f"[stream-defrag --batch] sentinel best $ab%.2f s " +
      f"median $am%.2f s; boxed best $bb%.2f s median $bm%.2f s")
    println(f"""{"metric":"stream_defrag_batch_ab","sentinel_best_s":$ab%.3f,"sentinel_median_s":$am%.3f,"boxed_best_s":$bb%.3f,"boxed_median_s":$bm%.3f,"glob":"$glob"}""")
    spark.stop()
  }
}
