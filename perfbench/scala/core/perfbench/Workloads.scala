package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.{Defrag, PcapConvert}
import graft.tools.TaskRecords

/** Dissect errors per convert, read from the task-end updates of the
  * `pcap_dissect_errors` accumulator that every `PcapConvert.run` creates
  * afresh. Accumulator ids grow with creation order, so the sorted ids
  * line up with the converts that ran.
  */
final class DissectErrors extends SparkListener {
  private val byAcc = mutable.TreeMap.empty[Long, Long]
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    if (te.taskInfo != null) te.taskInfo.accumulables.foreach { a =>
      if (a.name.contains("pcap_dissect_errors")) a.update.foreach { u =>
        byAcc.synchronized {
          byAcc(a.id) = byAcc.getOrElse(a.id, 0L) + u.toString.toLong
        }
      }
    }
  /** Error totals of the accumulators first seen after `mark` was taken. */
  def since(mark: Long): Seq[Long] = byAcc.synchronized {
    byAcc.iterator.filter(_._1 > mark).map(_._2).toSeq
  }
  def mark(): Long = byAcc.synchronized(byAcc.keys.lastOption.getOrElse(-1L))
}

object Workloads {
  type Digest = (Long, java.math.BigDecimal)

  def corpus(o: Opts): CorpusGen.Corpus = {
    val dir = s"${o.work}/corpus"
    val spec = CorpusGen.Spec(o.packets, Common.FileCount, o.seed)
    CorpusGen.generate(dir, spec)
    CorpusGen.verify(dir, spec)
  }

  /** A default multi-file convert through the CLI's own argument parser. */
  def convertArgs(c: CorpusGen.Corpus, out: String,
      manifest: Boolean = false): PcapConvert.Args =
    PcapConvert.parse(Array("-f", c.glob, "-o", out, "--multi-file") ++
      (if (manifest) Array("-m") else Array.empty[String]))

  /** The expected output digest, through a code path independent of the
    * convert: the declarative `Defrag.defrag` join over the same capture.
    */
  def referenceDigest(spark: SparkSession, c: CorpusGen.Corpus): Digest =
    Common.digest(Defrag.defrag(spark.read.format("pcap").load(c.glob)))

  /** Why a convert output is wrong, if it is. */
  def checkOutput(spark: SparkSession, out: String, c: CorpusGen.Corpus,
      want: Digest): Option[String] = {
    val got = Common.digest(spark.read.parquet(out))
    if (got._1 != c.packets) Some(s"${got._1} rows, generated ${c.packets}")
    else if (got != want) Some(s"digest $got differs from the reference $want")
    else None
  }

  /** The discarded converts of set-up: [[Main.Warmups]] of the timed op,
    * then [[Main.SmallWarmups]] of the same convert over the first file.
    */
  def warmUp(spark: SparkSession, o: Opts, c: CorpusGen.Corpus,
      args: PcapConvert.Args): Unit = if (o.warmUp) {
    (1 to Main.Warmups).foreach(i => Common.step(s"warm-up $i")(PcapConvert.run(spark, args)))
    val small = args.copy(file = c.paths.head)
    Common.step("small warm-ups")((1 to Main.SmallWarmups).foreach(_ => PcapConvert.run(spark, small)))
  }

  /** Drain the listener bus after `body` (the TaskRecords convergence
    * wait), so every task-end event of `body` has been delivered.
    */
  def drained[T](spark: SparkSession)(body: => T): T =
    TaskRecords.measureWith(spark)(_ => ())(body)

  // ---- packet_query -------------------------------------------------------

  /** Parameters of the slice queries, derived from the seed. */
  final case class SliceParams(tsLo: Long, tsHi: Long, src: String)

  def sliceParams(o: Opts, c: CorpusGen.Corpus): SliceParams = {
    val f = c.files(Math.floorMod(o.seed, c.files.size.toLong).toInt)
    val span = f.tsMaxMicros - f.tsMinMicros
    SliceParams(f.tsMinMicros + span / 4, f.tsMinMicros + 3 * span / 4,
      c.sources(Math.floorMod(o.seed * 7, c.sources.size.toLong).toInt))
  }

  val PacketSql: Seq[(String, String)] = Seq(
    "proto_mix" ->
      """SELECT col_protocol, count(*) AS n, sum(frame_len) AS bytes FROM packets
        |GROUP BY col_protocol ORDER BY col_protocol NULLS FIRST""".stripMargin,
    "top_src_53" ->
      """SELECT ip_src, count(*) AS n, sum(frame_len) AS bytes FROM packets
        |WHERE udp_srcport = 53 GROUP BY ip_src ORDER BY n DESC, ip_src LIMIT 10""".stripMargin,
    "top_dns" ->
      """SELECT dns_qry_name, count(*) AS n FROM packets WHERE dns_qry_name IS NOT NULL
        |GROUP BY dns_qry_name ORDER BY n DESC, dns_qry_name LIMIT 10""".stripMargin,
    "per_second" ->
      """SELECT CAST(floor(unix_micros(frame_time) / 1000000) AS BIGINT) AS sec,
        |count(*) AS n, sum(frame_len) AS bytes FROM packets GROUP BY 1 ORDER BY 1""".stripMargin,
    "frag_share" ->
      """SELECT ip_proto, count(*) AS n, sum(CASE WHEN (ip_frag_offset = 0 AND ip_mf)
        |OR ip_frag_offset > 0 THEN 1 ELSE 0 END) AS frag FROM packets
        |GROUP BY ip_proto ORDER BY ip_proto""".stripMargin,
    // graft_topk: the bounded top-k aggregate from graft.functions
    "topk_ports" ->
      """SELECT ip_proto, e.ord AS n, e.id AS port FROM (
        |  SELECT ip_proto, explode(graft_topk(n, port, 3)) AS e FROM (
        |    SELECT ip_proto, CAST(coalesce(udp_dstport, tcp_dstport) AS BIGINT) AS port, count(*) AS n
        |    FROM packets WHERE coalesce(udp_dstport, tcp_dstport) IS NOT NULL
        |    GROUP BY 1, 2) GROUP BY ip_proto)
        |ORDER BY ip_proto, n DESC, port""".stripMargin)

  private val sliceAgg = Seq(count(lit(1)).as("n"), sum(col("frame_len")).as("bytes"),
    min(unix_micros(col("frame_time"))).as("ts_min"),
    max(unix_micros(col("frame_time"))).as("ts_max"))

  def manifestSlice(spark: SparkSession, dataset: String, p: SliceParams): DataFrame =
    graft.sources.ConvertManifest.slice(spark, dataset, Some(p.tsLo), Some(p.tsHi),
      src = Some(p.src)).agg(sliceAgg.head, sliceAgg.tail: _*)

  /** The same slice as a filtered full scan: the pruned read must equal it. */
  def fullScanSlice(spark: SparkSession, dataset: String, p: SliceParams): DataFrame = {
    val ts = unix_micros(col("frame_time"))
    spark.read.parquet(dataset)
      .filter(ts >= p.tsLo && ts <= p.tsHi && col("ip_src") === p.src)
      .agg(sliceAgg.head, sliceAgg.tail: _*)
  }

  /** Pcap-direct slice of the TCP backscatter: the port/protocol filter
    * pushes into the DSv2 scan. TCP columns are never defrag-patched, so the
    * converted Parquet must give the same answer.
    */
  def pcapSlice(spark: SparkSession, c: CorpusGen.Corpus): DataFrame =
    spark.read.format("pcap").load(c.glob)
      .filter(col("tcp_srcport") === 443 && col("ip_proto") === 6)
      .groupBy("ip_src").agg(count(lit(1)).as("n"), sum(col("frame_len")).as("bytes"))
      .orderBy("ip_src")

  /** Every timed query of one pass, by name. */
  def packetQueries(spark: SparkSession, c: CorpusGen.Corpus, dataset: String,
      p: SliceParams): Seq[(String, () => DataFrame)] =
    PacketSql.map { case (n, q) => n -> (() => spark.sql(q)) } ++ Seq(
      "manifest_slice" -> (() => manifestSlice(spark, dataset, p)),
      "pcap_slice" -> (() => pcapSlice(spark, c)))

  /** Convert the corpus with `-m` (the set-up of packet_query) and expose
    * the output as the `packets` view.
    */
  def setupPacketDataset(spark: SparkSession, o: Opts, c: CorpusGen.Corpus,
      errors: DissectErrors): String = {
    val dataset = s"${o.work}/out/packets"
    val mark = errors.mark()
    drained(spark)(PcapConvert.run(spark, convertArgs(c, dataset, manifest = true)))
    val errs = errors.since(mark)
    require(errs == Seq(c.expectedErrors),
      s"set-up convert reported dissect errors $errs, corpus has ${c.expectedErrors}")
    spark.read.parquet(dataset).createOrReplaceTempView("packets")
    graft.functions.GraftFunctions.register(spark)
    dataset
  }

  def rowsJson(rows: Array[Row]): String =
    rows.map(r => r.toSeq.map {
      case null => "null"
      case s: String => Json.str(s)
      case v => v.toString
    }.mkString("[", ",", "]")).mkString("[", ",", "]")
}
