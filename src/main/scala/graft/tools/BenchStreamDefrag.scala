package graft.tools

/** Interleaved A/B over the streaming defrag — landing → stateful
  * back-fill ([[graft.streaming.StreamingDefrag.defragStateful]]) →
  * parquet sink under AvailableNow, both arms the same range-sharded
  * read. Rounds MUST interleave (this box drifts ±2× sequentially).
  *
  * `--bypass` runs bypass-split vs plain: the split skips the state
  * shuffle for non-UDP rows at the price of a second source scan per
  * micro-batch — corpus-dependent, measure on the traffic shape you
  * mean to deploy on.
  *
  * `--rocksdb` (round 15, verdict #5): both arms the plain transform;
  * arm A swaps the state store for the RocksDB provider with changelog
  * checkpointing — the intended production store for exactly this
  * groupByKey-heavy shape — vs the default HDFS-backed provider. Needs
  * zero query changes; the provider conf is read per query start
  * (fresh checkpoints per arm).
  *
  * Usage: `runMain graft.tools.BenchStreamDefrag [fileGlob] [rounds]
  * --bypass|--rocksdb`.
  */
object BenchStreamDefrag {
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val dir = graft.BenchEnv.pcapCorpusDir()
    val pos = args.filterNot(_.startsWith("--"))
    val bypassAb = args.contains("--bypass")
    val rocksAb = args.contains("--rocksdb")
    require(bypassAb != rocksAb,
      "usage: BenchStreamDefrag [fileGlob] [rounds] --bypass|--rocksdb")
    val glob = pos.headOption.getOrElse(s"$dir/cap*.pcap")
    val rounds = if (pos.length > 1) pos(1).toInt else 3
    val spark = graft.BenchEnv.abSession()
    val shards = graft.BenchEnv.pcapShards(spark, glob)
    // `a` = the candidate arm, `b` = the reference arm
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
        if (bypassAb && armA) D.defragStatefulSplit(projected)
        else D.defragStateful(projected)
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
    val names = if (bypassAb) ("split", "plain") else ("rocksdb", "hdfs")
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
}
