package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.spark.PcapConvert

/** Untraced benchmark run: one closed-loop client on `local[cores]` runs the
  * workload's timed op back to back for `--seconds`, after set-up and
  * discarded warm-ups, and writes `result.json` into `--work`:
  * end-to-end metrics, attempted/failed ops, box load, and (packet_query)
  * the first pass's query results for the DuckDB comparison.
  */
object Main {
  /** Discarded converts before timing starts. After the first (cold) one
    * the op time keeps falling for many more; cheap single-file converts
    * reach the same plateau in a fraction of the time.
    */
  val Warmups = 3
  val SmallWarmups = 10
  /** Discarded query passes after the set-up convert. */
  val WarmupPasses = 2

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
  }

  def main(argv: Array[String]): Unit = {
    val o = Opts.parse(argv)
    System.err.println(s"[perfbench] JVM up: ${System.currentTimeMillis() - o.launchedMs} ms")
    val spark = Common.step("session")(Common.session(o))
    try measure(spark, o) finally spark.stop()
  }

  /** One untraced run of `o.workload` on a live session: writes result.json. */
  def measure(spark: SparkSession, o: Opts): Unit = {
    val errors = new DissectErrors
    spark.sparkContext.addSparkListener(errors)
    try {
      val loadStart = Common.loadavg()
      val calStart = Common.step("calibration")(Common.calibrate(o.cores))
      val tally = new Tally
      val r = new Result
      o.workload match {
        case "convert_ddos" => convert(spark, o, errors, tally, r)
        case "packet_query" => packetQuery(spark, o, errors, tally, r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.metrics("peak_rss_mb") = Common.peakRssMb()
      val box = Json.obj(Seq(
        "calibration_start_s" -> Json.num(calStart),
        "calibration_end_s" -> Json.num(Common.calibrate(o.cores)),
        "loadavg_start" -> loadStart, "loadavg_end" -> Common.loadavg()))
      writeResult(o, tally, r, box)
    } finally spark.sparkContext.removeSparkListener(errors)
  }

  def writeResult(o: Opts, tally: Tally, r: Result, box: String): Unit =
    Common.writeFile(s"${o.work}/result.json", Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "reasons" -> tally.reasons.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(r.metrics.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(r.info),
      "box" -> box)))

  def setupSeconds(o: Opts): Double =
    (System.currentTimeMillis() - o.launchedMs) / 1000.0

  def convert(spark: SparkSession, o: Opts, errors: DissectErrors,
      tally: Tally, r: Result): Unit = {
    val c = Common.step("corpus")(Workloads.corpus(o))
    val out = s"${o.work}/out/convert"
    val args = Workloads.convertArgs(c, out)
    // drained, so the warm-ups' error counters are all in before the mark
    Workloads.drained(spark)(Workloads.warmUp(spark, o, c, args))
    r.metrics("setup_s") = setupSeconds(o)
    val walls = mutable.ArrayBuffer.empty[Double]
    val ok = mutable.ArrayBuffer.empty[Boolean]
    val mark = errors.mark()
    val t0 = System.nanoTime()
    Workloads.drained(spark) {
      while (ok.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
        ok += (try {
          walls += Common.seconds(PcapConvert.run(spark, args))._2
          val rows = spark.read.parquet(out).count()
          rows == c.packets || { tally.fail(s"convert wrote $rows rows, generated ${c.packets}"); false }
        } catch { case e: Exception => tally.fail(s"convert: $e"); false })
      }
    }
    tally.attempted = ok.size
    val errs = errors.since(mark)
    // every convert writes the same directory: the last output is digested,
    // and a wrong digest fails every convert of the run. The reference is
    // computed after the timed loop, so its cold start stays out of set-up.
    val want = Common.step("reference digest")(Workloads.referenceDigest(spark, c))
    Common.step("check")(Workloads.checkOutput(spark, out, c, want)).foreach { why =>
      tally.fail(why); ok.indices.foreach(ok(_) = false)
    }
    if (errs.size != ok.size) {
      tally.fail(s"saw dissect-error counters for ${errs.size} of ${ok.size} converts")
      ok.indices.foreach(ok(_) = false)
    } else errs.zipWithIndex.filter(_._1 != c.expectedErrors).foreach { case (e, i) =>
      tally.fail(s"convert reported $e dissect errors, corpus has ${c.expectedErrors}")
      ok(i) = false
    }
    tally.failed = ok.count(!_)
    val p50 = Common.median(walls.toSeq)
    r.metrics("op_p50_ms") = p50 * 1000
    r.metrics("pass_s") = p50
    r.metrics("output_bytes_per_pkt") = Common.parquetBytes(out)._1.toDouble / c.packets
    r.info("convert_pkt_per_s") = Json.num(c.packets / p50)
    r.info("convert_walls_s") = walls.map(Json.num).mkString("[", ",", "]")
  }

  def packetQuery(spark: SparkSession, o: Opts, errors: DissectErrors,
      tally: Tally, r: Result): Unit = {
    val c = Common.step("corpus")(Workloads.corpus(o))
    val dataset = Common.step("dataset")(Workloads.setupPacketDataset(spark, o, c, errors))
    val p = Workloads.sliceParams(o, c)
    val queries = Workloads.packetQueries(spark, c, dataset, p)
    val fullSlice = Workloads.fullScanSlice(spark, dataset, p).collect().toSeq
    if (o.warmUp) (1 to WarmupPasses).foreach(i => Common.step(s"warm-up $i")(queries.foreach(_._2().collect())))
    r.metrics("setup_s") = setupSeconds(o)
    val first = mutable.LinkedHashMap.empty[String, Seq[Row]]
    val ok = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
    val lat = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val p0 = System.nanoTime()
      queries.foreach { case (name, q) =>
        tally.attempted += 1
        try {
          val (rows, dt) = Common.seconds(q().collect().toSeq)
          lat += dt
          val want = first.getOrElseUpdate(name, rows)
          if (rows != want) tally.fail(s"$name: result differs from the first pass")
          else if (name == "manifest_slice" && rows != fullSlice)
            tally.fail(s"$name: pruned slice $rows differs from the filtered full scan $fullSlice")
          else ok(name) += 1
        } catch { case e: Exception => tally.fail(s"$name: $e") }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    r.metrics("op_p50_ms") = Common.median(lat.toSeq) * 1000
    r.metrics("pass_s") = Common.median(passes.toSeq)
    r.metrics("output_bytes_per_pkt") = Common.parquetBytes(dataset)._1.toDouble / c.packets
    r.info("pass_walls_s") = passes.map(Json.num).mkString("[", ",", "]")
    // the DuckDB comparison runs on these after the JVM exits
    r.info("oracle") = Json.obj(Seq(
      "dataset" -> Json.str(dataset),
      "pcap_glob" -> Json.str(c.glob),
      "ts_lo" -> p.tsLo.toString, "ts_hi" -> p.tsHi.toString,
      "src" -> Json.str(p.src),
      "queries" -> Json.obj(first.map { case (n, rows) =>
        n -> Json.obj(Seq("ok" -> ok(n).toString,
          "rows" -> Workloads.rowsJson(rows.toArray)))
      })))
  }
}
