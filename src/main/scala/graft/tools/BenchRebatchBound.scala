package graft.tools

/** Round-13 verdict #4: bound what a columnar broadcast-patch operator
  * could recover on the defrag-convert write. Interleaved arms over the
  * SAME range-sharded scan and vector-direct write:
  *
  *   - `join`: broadcast defrag join from a PRE-BUILT ff spill (built
  *     once, outside timing) — row-shaped plan, so the write re-batches
  *     through RowToColumnarExec;
  *   - `nojoin`: the identical scan written directly — pure columnar,
  *     no join, no rebatch.
  *
  * The gap (join − nojoin) upper-bounds join + ColumnarToRow + rebatch
  * together — everything a vector-direct patch operator could possibly
  * remove (it would still pay the hash lookups). Decision rule from the
  * verdict: build the operator only if the gap is ≥15% of the join arm.
  *
  * Usage: `runMain graft.tools.BenchRebatchBound [fileGlob] [rounds]`
  * (round 16 used it to retire the round-14 probe memo: memo ≡ no-memo
  * within noise once the open-addressing probe landed, so the memo was
  * deleted).
  */
object BenchRebatchBound {
  def main(args: Array[String]): Unit = {
    val dir = graft.BenchEnv.pcapCorpusDir()
    val glob = args.headOption.getOrElse(s"$dir/*.pcap")
    val rounds = if (args.length > 1) args(1).toInt else 3
    val spark = graft.BenchEnv.abSession()
    val out = s"$dir/rebatch-ab.parquet"
    val spill = s"$dir/rebatch-ab.ffspill"
    def read() = graft.BenchEnv.pcapRead(spark, glob)
    // ff spill built ONCE, untimed — both timed arms then cost exactly
    // one dissect pass plus their write, so the gap isolates the join +
    // rebatch machinery rather than the stats pass
    graft.spark.Defrag.firstFragments(read())
      .write.mode("overwrite").option("compression", "zstd").parquet(spill)
    // arm 0 = join (row-shaped broadcast join + rebatch), 1 = nojoin
    // (scan → vector write, the ceiling), 2 = patch (reader-side
    // broadcast patch + writer column permutation — the shipped path),
    // 3 = patchEmpty (round 17: the identical patch machinery with an
    // EMPTY map — probes all miss, nothing is enriched, output ≈ the
    // nojoin arm's. patchEmpty−nojoin isolates the probe+permutation
    // machinery; patch−patchEmpty is the semantic cost of actually
    // WRITING ~90M patched L7 values into parquet, which no patch
    // implementation can remove)
    def arm(kind: Int): Double = {
      val t0 = System.nanoTime()
      val pcap = read()
      kind match {
        case 0 =>
          val df = graft.spark.Defrag.defragWith(pcap,
            spark.read.parquet(spill), broadcastFF = true)
          require(graft.spark.PcapColumnarWrite.write(df, out, "zstd",
            singleFile = false, rebatch = true), "vector write refused")
        case 1 =>
          require(graft.spark.PcapColumnarWrite.write(pcap, out, "zstd",
            singleFile = false, rebatch = true), "vector write refused")
        case _ =>
          val tb = System.nanoTime()
          val ffSrc = spark.read.parquet(spill)
          val map = graft.sources.DefragPatch.build(
            if (kind == 3) ffSrc.limit(0) else ffSrc)
          val bc = spark.sparkContext.broadcast(map)
          System.err.println(
            f"[rebatch-bound]   patch map build+broadcast ${(System.nanoTime() - tb) / 1e9}%.2f s")
          val pk = java.util.UUID.randomUUID().toString
          graft.sources.DefragPatch.register(pk, bc)
          try {
            val shards = graft.BenchEnv.pcapShards(spark, glob)
            val patched = spark.read.format("pcap")
              .option("decodePartitions", shards)
              .option("defragPatchKey", pk).load(glob)
            require(graft.spark.PcapColumnarWrite.write(patched, out, "zstd",
              singleFile = false, rebatch = true,
              outputOrder = Some(graft.spark.Defrag
                .defraggedOrder(patched.columns.toSeq))),
              "vector write refused")
          } finally {
            graft.sources.DefragPatch.unregister(pk); bc.destroy()
          }
      }
      (System.nanoTime() - t0) / 1e9
    }
    arm(0); arm(1); arm(2); arm(3) // JIT warmup, discarded
    val builders = Array.fill(4)(Array.newBuilder[Double])
    (1 to rounds).foreach { r =>
      val ts = (0 to 3).map { k => val t = arm(k); builders(k) += t; t }
      System.err.println(f"[rebatch-bound] round $r: join ${ts(0)}%.2f s, " +
        f"nojoin ${ts(1)}%.2f s, patch ${ts(2)}%.2f s, patchEmpty ${ts(3)}%.2f s")
    }
    val Seq((jb, jm), (nb, nm), (pb, pm), (eb, em)) =
      builders.toSeq.map(b => graft.BenchEnv.bestMedian(b.result()))
    val gapPct = 100.0 * (jm - nm) / jm
    val patchGapPct = 100.0 * (jm - pm) / jm
    System.err.println(f"[rebatch-bound] join best $jb%.2f s median $jm%.2f s; " +
      f"nojoin best $nb%.2f s median $nm%.2f s; patch best $pb%.2f s " +
      f"median $pm%.2f s; " +
      f"patchEmpty best $eb%.2f s median $em%.2f s; " +
      f"join→nojoin gap $gapPct%.1f%%, join→patch $patchGapPct%.1f%%")
    println(f"""{"metric":"rebatch_bound_ab","join_best_s":$jb%.3f,"join_median_s":$jm%.3f,"nojoin_best_s":$nb%.3f,"nojoin_median_s":$nm%.3f,"patch_best_s":$pb%.3f,"patch_median_s":$pm%.3f,"patch_empty_best_s":$eb%.3f,"patch_empty_median_s":$em%.3f,"median_gap_pct":$gapPct%.1f,"patch_gap_pct":$patchGapPct%.1f,"glob":"$glob"}""")
    graft.TempCleanup.rmrf(new java.io.File(out))
    graft.TempCleanup.rmrf(new java.io.File(spill))
    spark.stop()
  }
}
