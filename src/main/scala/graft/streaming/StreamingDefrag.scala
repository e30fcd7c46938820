package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming defrag: continuous capture conversion with the reference's
  * fragment back-fill (SURVEY §2.4) as CUSTOM STREAMING STATE — something
  * the reference's one-shot converter structurally cannot do. Packets
  * stream from a landing directory through the DSv2 pcap source; state is
  * keyed on the datagram 4-tuple (src, dst, proto, id) and holds the
  * first fragment's six patch fields, so non-first fragments landing in
  * LATER micro-batches still back-fill correctly.
  *
  * Semantics vs batch `Defrag.defrag`: identical whenever a datagram's
  * first fragment arrives no later than the batch of its continuation
  * fragments (fragments of one datagram are adjacent in a capture file —
  * the landing-zone norm). A continuation arriving in an EARLIER batch
  * than its first fragment emits unpatched — the same information a
  * file-at-a-time converter would have had.
  *
  * Scale: state is one small record per in-flight fragmented datagram;
  * on a real deployment a `GroupStateTimeout` eviction bounds it (not set
  * here — `AvailableNow` drains finite captures).
  */
object StreamingDefrag {
  final case class FragKey(ip_src: String, ip_dst: String, ip_proto: Short, ip_id: Int)
  final case class FragRow(
      ip_src: String, ip_dst: String, ip_proto: Short, ip_id: Int,
      tsu: Long, ip_mf: Boolean, ip_frag_offset: Int,
      udp_srcport: Option[Int], udp_dstport: Option[Int],
      ntp_priv_reqcode: Option[Short], dns_qry_type: Option[Int],
      dns_qry_name: Option[String], col_protocol: Option[String])
  final case class Patch(
      udp_srcport: Option[Int], udp_dstport: Option[Int],
      ntp_priv_reqcode: Option[Short], dns_qry_type: Option[Int],
      dns_qry_name: Option[String], col_protocol: Option[String])
  final case class PatchedRow(
      ip_src: String, ip_dst: String, ip_proto: Short, ip_id: Int, tsu: Long,
      udp_srcport: Option[Int], udp_dstport: Option[Int],
      ntp_priv_reqcode: Option[Short], dns_qry_type: Option[Int],
      dns_qry_name: Option[String], col_protocol: Option[String])

  private def toPatch(r: FragRow) = Patch(r.udp_srcport, r.udp_dstport,
    r.ntp_priv_reqcode, r.dns_qry_type, r.dns_qry_name, r.col_protocol)

  /** The 13 columns the defrag state machine consumes, from any packet
    * table (streaming or batch). */
  def project(df: DataFrame): DataFrame =
    df.select(col("ip_src"), col("ip_dst"), col("ip_proto"), col("ip_id"),
      unix_micros(col("frame_time")).as("tsu"), col("ip_mf"), col("ip_frag_offset"),
      col("udp_srcport"), col("udp_dstport"), col("ntp_priv_reqcode"),
      col("dns_qry_type"), col("dns_qry_name"), col("col_protocol"))

  /** [[defragStateful]] with a BYPASS SPLIT (round-13 experiment, the
    * batch ShuffleBypass's streaming twin): rows that provably cannot
    * change under the back-fill skip the state shuffle entirely and
    * union with the stateful branch's output. The proof is tighter
    * than batch's: a row is patchable only if its (proto=17) key can
    * match a first fragment, and EVERY proto-17 row is joinable anyway
    * (dns_* and ntp_* are mutually exclusive by the L7 dispatcher, so
    * no UDP row has all six patched columns non-null) — hence the
    * bypass is exactly the non-UDP slice. On TCP-heavy real traffic
    * that removes 80–90% of the shuffle; the trade is that a streaming
    * self-union plans TWO scans of the source per micro-batch, so the
    * win is corpus-dependent — MEASURE with `tools.BenchStreamDefrag
    * --bypass` before turning it on for a deployment. Default stays
    * the single-scan plan.
    */
  def defragStatefulSplit(projected: DataFrame): DataFrame = {
    val joinable = col("ip_proto") === 17 &&
      col("ip_src").isNotNull && col("ip_dst").isNotNull
    val stateful = defragStateful(projected.filter(joinable))
    val bypass = projected.filter(!joinable).select(
      col("ip_src"), col("ip_dst"), col("ip_proto"), col("ip_id"), col("tsu"),
      col("udp_srcport"), col("udp_dstport"), col("ntp_priv_reqcode"),
      col("dns_qry_type"), col("dns_qry_name"), col("col_protocol"))
    stateful.unionByName(bypass)
  }

  /** The stateful back-fill transform over a (streaming) projected packet
    * frame — exposed so tests can drive multi-batch triggers around it.
    *
    * The first-fragment pick is a single-pass MIN under the full sort
    * key ([[ffOrdering]]), not a group-wide sort: emitted row ORDER is
    * no contract (the parquet sink's order is partition-arbitrary, and
    * the s07 oracle compares sorted). Carried state outranks this
    * batch, then the least first-fragment row by (tsu, patched… NULLS
    * FIRST) — StreamingDefragPickProps pins the pick against a sortBy
    * reference and the transform against the batch declarative defrag.
    * State rows are the Option-boxed [[Patch]]: a deployed stream's
    * checkpointed state schema.
    */
  def defragStateful(projected: DataFrame): DataFrame = {
    import projected.sparkSession.implicits._
    val fn: (FragKey, Iterator[FragRow], GroupState[Patch]) => Iterator[PatchedRow] =
      (_, rows, state) => {
        // carried state (an earlier batch) outranks anything in this
        // batch — the append-mode contract: rows already emitted with
        // that patch cannot be retracted, so a duplicate first fragment
        // with an earlier tsu arriving in a LATER batch is ignored (the
        // class doc's arrival-order caveat; s07's one-file fixture is
        // single-batch, so its oracle's global pick agrees)
        val carried = state.getOption
        val buf = new scala.collection.mutable.ArrayBuffer[FragRow]()
        var best: FragRow = null
        rows.foreach { r =>
          buf += r
          if (r.ip_proto == 17 && r.ip_mf && r.ip_frag_offset == 0 &&
              (best == null || ffOrdering.compare(r, best) < 0))
            best = r
        }
        val ff = carried.orElse(Option(best).map(toPatch))
        // write state only when it changes — an unconditional update
        // re-serializes the identical patch every batch that touches the
        // key (pure changelog write amplification under RocksDB)
        if (carried.isEmpty) ff.foreach(state.update)
        val p = ff.getOrElse(Patch(None, None, None, None, None, None))
        buf.iterator.map { r =>
          PatchedRow(r.ip_src, r.ip_dst, r.ip_proto, r.ip_id, r.tsu,
            r.udp_srcport.orElse(p.udp_srcport), r.udp_dstport.orElse(p.udp_dstport),
            r.ntp_priv_reqcode.orElse(p.ntp_priv_reqcode),
            r.dns_qry_type.orElse(p.dns_qry_type),
            r.dns_qry_name.orElse(p.dns_qry_name),
            r.col_protocol.orElse(p.col_protocol))
        }
      }
    projected.as[FragRow]
      .groupByKey(r => FragKey(r.ip_src, r.ip_dst, r.ip_proto, r.ip_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** The full first-fragment sort key as an allocation-free comparator:
    * (tsu, udp_srcport, udp_dstport, ntp_priv_reqcode, dns_qry_type,
    * dns_qry_name, col_protocol), each Option ASC NULLS FIRST — a sortBy
    * over that tuple's ordering, and Defrag.firstFragments' min(struct)
    * order.
    */
  private[graft] val ffOrdering: Ordering[FragRow] = new Ordering[FragRow] {
    @inline private def cmpOpt[T](a: Option[T], b: Option[T])(
        implicit o: Ordering[T]): Int = (a, b) match {
      case (None, None) => 0
      case (None, _) => -1
      case (_, None) => 1
      case (Some(x), Some(y)) => o.compare(x, y)
    }
    def compare(a: FragRow, b: FragRow): Int = {
      var c = java.lang.Long.compare(a.tsu, b.tsu)
      if (c != 0) return c
      c = cmpOpt(a.udp_srcport, b.udp_srcport); if (c != 0) return c
      c = cmpOpt(a.udp_dstport, b.udp_dstport); if (c != 0) return c
      c = cmpOpt(a.ntp_priv_reqcode, b.ntp_priv_reqcode); if (c != 0) return c
      c = cmpOpt(a.dns_qry_type, b.dns_qry_type); if (c != 0) return c
      c = cmpOpt(a.dns_qry_name, b.dns_qry_name); if (c != 0) return c
      cmpOpt(a.col_protocol, b.col_protocol)
    }
  }

  /** capturePath may be a landing-zone directory or a single capture file
    * (s07 streams the exact fixture file so its input set provably equals
    * the aux export's). */
  def defragStream(spark: SparkSession, capturePath: String): DataFrame = {
    // parquet sink, not memory: a memory sink collects the full result on
    // the driver and any downstream write re-ships it INSIDE the task
    // binaries (LocalTableScan — the "task of very large size" warning at
    // 20k rows); the file sink is also the production deployment shape
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_defrag").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_defrag_ckpt").toString
    val q = defragStateful(project(spark.readStream.format("pcap").load(capturePath)))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.read.parquet(outDir)
  }

  /** Deterministic 20k-packet capture fixture for the s07 query (the
    * driver's tables are parquet-only; defrag needs pcap input).
    *
    * The streamed input and the aux export read the SAME single file —
    * never a directory — so the stream's input set provably equals the
    * oracle's. The path is content-versioned (the generator params are in
    * the name), so a fixture from a different generator version can never
    * be picked up, and the file is written via temp + atomic rename so a
    * concurrent JVM racing the generation sees either nothing or the
    * complete capture (the JVM-local synchronized alone can't guarantee
    * that). */
  def fixture(): String = synchronized {
    val dir = java.nio.file.Paths.get(
      "/tmp/graft_s07_capture_n20000_ts1700000000000000")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("cap.pcap")
    if (!java.nio.file.Files.exists(f)) {
      val tmp = dir.resolve(
        s"cap.pcap.tmp.${java.util.UUID.randomUUID.toString}")
      graft.spark.PcapGen.write(tmp.toString, 20000, 1700000000000000L)
      try
        java.nio.file.Files.move(tmp, f,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another process won the race with identical bytes
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    f.toString
  }

  val queries: Seq[graft.queries.Q] = Seq(
    graft.queries.Q("s07_streaming_defrag",
      (s, _) => defragStream(s, fixture()),
      // the oracle replays the SAME back-fill over the aux-exported
      // nodefrag packet table (DuckDB can't read pcap; the dissection is
      // deterministic, so the aux export IS the capture)
      Some("""WITH p AS (SELECT * FROM '{OUT}/_aux/s07_streaming_defrag/aux_nodefrag/*.parquet'),
             |ff AS (SELECT * FROM (
             |  SELECT ip_src, ip_dst, ip_proto, ip_id,
             |         udp_srcport, udp_dstport, ntp_priv_reqcode,
             |         dns_qry_type, dns_qry_name, col_protocol,
             |         ROW_NUMBER() OVER (PARTITION BY ip_src, ip_dst, ip_proto, ip_id
             |                            ORDER BY tsu,
             |                              udp_srcport NULLS FIRST, udp_dstport NULLS FIRST,
             |                              ntp_priv_reqcode NULLS FIRST, dns_qry_type NULLS FIRST,
             |                              dns_qry_name NULLS FIRST, col_protocol NULLS FIRST) AS rn
             |  FROM p WHERE ip_proto = 17 AND ip_mf AND ip_frag_offset = 0)
             |  WHERE rn = 1)
             |SELECT p.ip_src, p.ip_dst, p.ip_proto, p.ip_id, p.tsu,
             |  COALESCE(p.udp_srcport, ff.udp_srcport) AS udp_srcport,
             |  COALESCE(p.udp_dstport, ff.udp_dstport) AS udp_dstport,
             |  COALESCE(p.ntp_priv_reqcode, ff.ntp_priv_reqcode) AS ntp_priv_reqcode,
             |  COALESCE(p.dns_qry_type, ff.dns_qry_type) AS dns_qry_type,
             |  COALESCE(p.dns_qry_name, ff.dns_qry_name) AS dns_qry_name,
             |  COALESCE(p.col_protocol, ff.col_protocol) AS col_protocol
             |FROM p LEFT JOIN ff USING (ip_src, ip_dst, ip_proto, ip_id)""".stripMargin),
      aux = Seq(
        "aux_nodefrag" -> ((s: SparkSession, _: String) =>
          project(graft.spark.PcapSource.read(s, fixture())))))
  )
}
