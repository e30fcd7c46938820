package graft.tools

/** Interleaved A/B of the round-13 AdaptiveScrub frequent-set SPILL
  * (count job also materializes the df≥minDf hash set; chosen branch
  * reads it back — 2 shingle passes) vs the round-12 lazy gate (count
  * pass + the branch re-aggregating every shingle — 3 passes), on the
  * 10× rehearsal documents corpus. Rounds MUST interleave (BenchCodec
  * lesson; this box drifts ±2× sequentially).
  *
  * Usage: `runMain graft.tools.BenchScrubSpill [srcDir] [outDir] [rounds]`.
  */
object BenchScrubSpill {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val rounds = if (args.length > 2) args(2).toInt else 3
    val spark = graft.BenchEnv.abSession()
    ScaleRehearsal.synthesize(spark, src, out, 10)
    def docs = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id", "text")
    def run(spill: Boolean): Double = {
      val scratch = java.nio.file.Files.createTempDirectory("scrub_ab")
      val t0 = System.nanoTime()
      val (df, choice) =
        if (spill) graft.operators.AdaptiveScrub
          .applySpilled(docs, scratch.toString + "/freq")
        else graft.operators.AdaptiveScrub(docs)
      require(choice == graft.operators.AdaptiveScrub.BroadcastSet,
        s"planned $choice — the rehearsal corpus should take the exact arm")
      df.write.mode("overwrite").format("noop").save()
      val s = (System.nanoTime() - t0) / 1e9
      graft.TempCleanup.rmrf(scratch.toFile)
      s
    }
    run(spill = true); run(spill = false) // JIT warmup, discarded
    val (sp, lz) = (Array.newBuilder[Double], Array.newBuilder[Double])
    (1 to rounds).foreach { r =>
      val a = run(spill = true)
      val b = run(spill = false)
      sp += a; lz += b
      System.err.println(f"[scrub-spill] round $r: spill $a%.2f s, lazy $b%.2f s")
    }
    val (sb, sm) = graft.BenchEnv.bestMedian(sp.result())
    val (lb, lm) = graft.BenchEnv.bestMedian(lz.result())
    System.err.println(f"[scrub-spill] spill best $sb%.2f s median $sm%.2f s; " +
      f"lazy best $lb%.2f s median $lm%.2f s")
    println(f"""{"metric":"scrub_spill_ab","spill_best_s":$sb%.3f,"spill_median_s":$sm%.3f,"lazy_best_s":$lb%.3f,"lazy_median_s":$lm%.3f}""")
    spark.stop()
  }
}
