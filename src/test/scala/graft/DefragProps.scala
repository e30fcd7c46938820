package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.spark.{Defrag, PcapSource}
import PcapFixtures._

/** SURVEY §5.2 property commitments for the defrag pipeline, over randomly
  * generated fragment chains. Few cases (Spark job per case), wide shapes.
  */
object DefragProps extends Properties("defrag") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkTestBase.spark

  private val genChain = for {
    id <- Gen.chooseNum(1, 60000)
    srcLast <- Gen.chooseNum(1, 250)
    nTails <- Gen.chooseNum(1, 4)
    qname <- Gen.chooseNum(0, 9).map(i => s"gen$i.example.org")
  } yield (id, s"198.51.100.$srcLast", nTails, qname)

  private def capture(chains: List[(Int, String, Int, String)]): Array[Byte] = {
    var ts = 0L
    val frames = chains.flatMap { case (id, src, nTails, qname) =>
      val first = ethernet(0x0800, ipv4(src, "192.0.2.9", 17,
        udp(53, 41000, dnsQuery(qname, 1)), id = id, mf = true))
      val tails = (1 to nTails).map { k =>
        ethernet(0x0800, ipv4(src, "192.0.2.9", 17, Array.fill[Byte](16)(0x42),
          id = id, mf = k < nTails, fragOffset = k * 5))
      }
      (first +: tails).map { p => ts += 1; (ts, -1, p) }
    }
    legacyPcap(frames)
  }

  property("every first fragment's L7 fields propagate to ALL sibling fragments") =
    Prop.forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genChain))) { chains0 =>
      // de-dup datagram keys so "the" first fragment is unambiguous
      val chains = chains0.distinctBy(c => (c._1, c._2))
      val dir = java.nio.file.Files.createTempDirectory("defragprop")
      val f = dir.resolve("p.pcap")
      java.nio.file.Files.write(f, capture(chains))
      val pcap = PcapSource.read(spark, f.toString).cache()
      val out = Defrag.defrag(pcap).collect()
      pcap.unpersist()
      val byKey = out.groupBy(r => (r.getAs[Int]("ip_id"), r.getAs[String]("ip_src")))
      chains.forall { case (id, src, nTails, qname) =>
        val rows = byKey((id, src))
        rows.length == nTails + 1 &&
          rows.forall(_.getAs[String]("dns_qry_name") == qname) &&
          rows.forall(_.getAs[Int]("udp_srcport") == 53)
      }
    }

  property("non-first fragments have no transport columns BEFORE defrag") =
    Prop.forAll(Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, genChain))) { chains0 =>
      val chains = chains0.distinctBy(c => (c._1, c._2))
      val dir = java.nio.file.Files.createTempDirectory("defragprop2")
      val f = dir.resolve("p.pcap")
      java.nio.file.Files.write(f, capture(chains))
      val pcap = PcapSource.read(spark, f.toString)
      val tails = pcap.filter(org.apache.spark.sql.functions.col("ip_frag_offset") > 0).collect()
      tails.nonEmpty && tails.forall { r =>
        r.isNullAt(r.fieldIndex("udp_srcport")) &&
          r.isNullAt(r.fieldIndex("dns_qry_name")) &&
          r.getAs[String]("col_protocol") == "IPv4"
      }
    }

  property("shuffle branch (bypass-split union) equals the broadcast branch exactly") =
    Prop.forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genChain))) { chains0 =>
      // round 10: the non-broadcast branch shuffles only the joinable
      // slice and unions the bypass back — must be row-identical to the
      // broadcast join on adversarial inputs: a NULL-key row (ARP), an
      // ip_id-COLLIDING unfragmented UDP row with NULL L7 (the reference
      // patches it — it must flow through the join, not the bypass), a
      // duplicate first fragment (tie broken by the patched columns),
      // and a TCP row (bypass by proto)
      val chains = chains0.distinctBy(c => (c._1, c._2))
      val (id0, src0, _, _) = chains.head
      val extras = Seq(
        ethernet(0x0806, Array.fill[Byte](28)(0x01)), // ARP: NULL keys
        // unfragmented raw-UDP packet colliding with chain 0's datagram
        // key: dns/ntp cols NULL, so the reference's LEFT JOIN patches it
        ethernet(0x0800, ipv4(src0, "192.0.2.9", 17,
          udp(40000, 41000, Array.fill[Byte](8)(0x55)), id = id0)),
        // duplicate first fragment for chain 0, later ts, different qname
        ethernet(0x0800, ipv4(src0, "192.0.2.9", 17,
          udp(53, 41000, dnsQuery("zzz.example.org", 1)), id = id0, mf = true)),
        ethernet(0x0800, ipv4("203.0.113.5", "192.0.2.9", 6, tcp(443, 9999, 0x02))))
      val dir = java.nio.file.Files.createTempDirectory("defragprop4")
      val f = dir.resolve("p.pcap")
      var ts = 1000000L
      val tail = extras.flatMap { p =>
        val rec = java.nio.ByteBuffer.allocate(16 + p.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        ts += 1
        rec.putInt(ts.toInt).putInt(0).putInt(p.length).putInt(p.length).put(p)
        rec.array().toSeq
      }.toArray
      java.nio.file.Files.write(f, capture(chains) ++ tail)
      val pcap = PcapSource.read(spark, f.toString).cache()
      def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
        val cols = df.columns.sorted.toSeq
        df.select(cols.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("\u0000"))
      }
      val bc = canon(Defrag.defrag(pcap, broadcastFF = true))
      val sh = canon(Defrag.defrag(pcap, broadcastFF = false))
      pcap.unpersist()
      Prop(bc == sh) :| s"branch divergence: ${bc.diff(sh).take(2)} vs ${sh.diff(bc).take(2)}"
    }

  property("defrag preserves row count and never modifies non-fragmented rows") =
    Prop.forAll(Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, genChain))) { chains0 =>
      val chains = chains0.distinctBy(c => (c._1, c._2))
      val extra = ethernet(0x0800, ipv4("203.0.113.5", "192.0.2.9", 6, tcp(443, 9999, 0x02)))
      val dir = java.nio.file.Files.createTempDirectory("defragprop3")
      val f = dir.resolve("p.pcap")
      val base = capture(chains)
      // append a lone TCP SYN record
      val rec = java.nio.ByteBuffer.allocate(16 + extra.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      rec.putInt(99).putInt(0).putInt(extra.length).putInt(extra.length).put(extra)
      java.nio.file.Files.write(f, base ++ rec.array())
      val pcap = PcapSource.read(spark, f.toString).cache()
      val out = Defrag.defrag(pcap)
      val n = pcap.count()
      val syn = out.filter(org.apache.spark.sql.functions.col("ip_proto") === 6).collect()
      val ok = out.count() == n &&
        syn.length == 1 && syn.head.getAs[String]("tcp_flags") == "......S." &&
        syn.head.isNullAt(syn.head.fieldIndex("udp_srcport"))
      pcap.unpersist()
      ok
    }

  property("open-addressing patch probe ≡ naive map lookup over fuzzed tables") = {
    // round 15: the two-level HashMap index became one open-addressing
    // table keyed by mixed string hashCodes + ip_id. The probe must be
    // exactly a map lookup — including id collisions (same id, several
    // address pairs), shared addresses across entries, absent keys, and
    // equal-but-not-identical query strings.
    import graft.sources.DefragPatch
    val addrs = Array("10.0.0.1", "10.0.0.2", "10.9.9.9", "172.16.0.1",
      "2001:db8::1", "198.51.100.77")
    val genEntry = for {
      id <- Gen.chooseNum(0, 3) // narrow id space → collisions guaranteed
      s <- Gen.chooseNum(0, addrs.length - 1)
      d <- Gen.chooseNum(0, addrs.length - 1)
    } yield (id, s, d)
    val genQuery = for {
      id <- Gen.chooseNum(0, 5)
      s <- Gen.chooseNum(0, addrs.length - 1)
      d <- Gen.chooseNum(0, addrs.length - 1)
      fresh <- Gen.oneOf(true, false)
    } yield (id, s, d, fresh)
    Prop.forAll(Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, genEntry)),
        Gen.listOfN(40, genQuery)) { (es, qs) =>
      // duplicates left IN deliberately (round 16): build() feeds unique
      // post-aggregate keys, but the table must stay last-wins (the old
      // HashMap index's semantics) if that invariant ever slips — the
      // naive .toMap below is last-wins by construction
      val n = es.length
      val m = new DefragPatch.PatchMap(
        es.map(_._1).toArray, es.map(_._2).toArray, es.map(_._3).toArray,
        addrs,
        Array.fill(n)(-1), Array.fill(n)(-1), Array.fill(n)(-1),
        Array.fill(n)(-1), Array.fill(n)(-1), Array.fill(n)(-1))
      val naive = es.zipWithIndex.map { case ((id, s, d), i) =>
        (id, addrs(s), addrs(d)) -> i
      }.toMap
      val ok = qs.forall { case (id, s, d, fresh) =>
        val src = if (fresh) new String(addrs(s)) else addrs(s)
        m.probe(src, addrs(d), id) == naive.getOrElse((id, addrs(s), addrs(d)), -1)
      }
      Prop(ok) :| s"probe diverged from naive lookup (entries=$n)"
    }
  }

  property("distributed patch-map build ≡ input rows, any partitioning") = {
    // round 15: build() fans the dictionary-encoding out to executors
    // and merges compact fragments on the driver (one dict remap per
    // fragment). The merged table must carry EXACTLY the input rows —
    // the very merge this round shipped with an offset bug that zeroed
    // every fragment row but the last until this pin caught... the spec
    // run did. Fuzz rows + partition count; compare entry multisets.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.DefragPatch
    val schema = StructType(Seq(
      StructField("ip_src", StringType), StructField("ip_dst", StringType),
      StructField("ip_id", IntegerType), StructField("udp_srcport", IntegerType),
      StructField("udp_dstport", IntegerType),
      StructField("ntp_priv_reqcode", ShortType),
      StructField("dns_qry_type", IntegerType),
      StructField("dns_qry_name", StringType),
      StructField("col_protocol", StringType)))
    val genRow = for {
      id <- Gen.chooseNum(0, 65535)
      s <- Gen.chooseNum(1, 9)
      d <- Gen.chooseNum(1, 9)
      sp <- Gen.oneOf[Any](null, Int.box(53), Int.box(123))
      qn <- Gen.oneOf[Any](null, "q.example.org", "r.example.net")
      proto <- Gen.oneOf[Any](null, "DNS", "NTP")
    } yield Row(s"10.0.0.$s", s"10.1.0.$d", id, sp, sp, null, null, qn, proto)
    Prop.forAll(Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, genRow)),
        Gen.chooseNum(1, 5)) { (rows0, parts) =>
      val rows = rows0.distinctBy(r => (r.getString(0), r.getString(1), r.getInt(2)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts), schema)
      val m = DefragPatch.build(df)
      def str(i: Int): String = if (i < 0) null else m.strings(i)
      val got = (0 until m.ids.length).map(i =>
        (str(m.srcIdx(i)), str(m.dstIdx(i)), m.ids(i), m.udpSrcport(i),
          m.udpDstport(i), m.dnsNameIdx(i) match { case -1 => null; case x => m.strings(x) },
          m.protoIdx(i) match { case -1 => null
            case x => graft.dissect.DissectAcc.ProtoStr(x) })).sortBy(_.toString)
      val want = rows.map(r =>
        (r.getString(0), r.getString(1), r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4),
          r.getString(7), r.getString(8))).sortBy(_.toString)
      Prop(got == want) :| s"merged entries diverged: got ${got.take(3)} want ${want.take(3)}"
    }
  }

  /** A patch map's entries with every index decoded, sorted. */
  private def entries(m: graft.sources.DefragPatch.PatchMap): Seq[String] = {
    def str(i: Int): String = if (i < 0) null else m.strings(i)
    m.ids.indices.map { i =>
      Seq(str(m.srcIdx(i)), str(m.dstIdx(i)), m.ids(i), m.udpSrcport(i),
        m.udpDstport(i), m.ntpPrivReqcode(i), m.dnsQryType(i),
        str(m.dnsNameIdx(i)), m.protoIdx(i)).mkString("|")
    }.sorted
  }

  /** Defrag.statsAndBuild's map over `df`; the counters are unread here. */
  private def fusedMap(df: org.apache.spark.sql.DataFrame) =
    Defrag.statsAndBuild(df, PcapSource.statsMetrics(spark), Long.MaxValue)

  // a narrow key and second space: keys collide across files and
  // frame_time ties, so the patched columns break ties, NULLs included
  // (raw UDP: no DNS/NTP; a sub-8-byte payload: no UDP header at all)
  private val genPayload: Gen[Array[Byte]] = Gen.oneOf(
    for {
      q <- Gen.oneOf("a.example.org", "b.example.org")
      t <- Gen.oneOf(1, 28)
      dp <- Gen.oneOf(1000, 2000)
    } yield udp(53, dp, dnsQuery(q, t)),
    for {
      rc <- Gen.oneOf(7, 42)
      dp <- Gen.oneOf(1000, 2000)
    } yield udp(123, dp, Array[Byte](0x10, 0, 0, rc.toByte)),
    Gen.oneOf(1000, 2000).map(dp => udp(40000, dp, Array.fill[Byte](8)(0x55))),
    Gen.const(Array.fill[Byte](4)(0x66)))
  private val ffSources = Seq("198.51.100.1", "198.51.100.2")
  private val genFf = for {
    src <- Gen.oneOf(ffSources)
    id <- Gen.chooseNum(1, 3)
    sec <- Gen.chooseNum(1, 3)
    p <- genPayload
  } yield (sec * 1000000L, -1,
    ethernet(0x0800, ipv4(src, "192.0.2.9", 17, p, id = id, mf = true)))
  private val noise = Seq(
    (5000000L, -1, ethernet(0x0800, ipv4("198.51.100.1", "192.0.2.9", 17,
      Array.fill[Byte](16)(0x42), id = 1, fragOffset = 5))),
    (5000001L, -1, ethernet(0x0800,
      ipv4("203.0.113.5", "192.0.2.9", 6, tcp(443, 9999, 0x02)))))
  /** 1–3 files of 1–12 key-colliding first fragments each. */
  private val genFiles = Gen.chooseNum(1, 3).flatMap(n =>
    Gen.listOfN(n, Gen.chooseNum(1, 12).flatMap(k => Gen.listOfN(k, genFf))))

  property("fused stats map ≡ build(firstFragments) across files, tasks and ties") = {
    // the map-only argmin must pick firstFragments' row for every key
    // when a key's candidates sit in several files and, at
    // decodePartitions 3, in several stride tasks of one file
    import graft.sources.DefragPatch
    // no shrinking: each try is three Spark jobs, and shrinking a failing
    // file list took minutes before the report
    Prop.forAllNoShrink(genFiles) { files =>
      val dir = java.nio.file.Files.createTempDirectory("defragprop5")
      files.zipWithIndex.foreach { case (ffs, i) =>
        java.nio.file.Files.write(dir.resolve(s"f$i.pcap"), legacyPcap(ffs ++ noise))
      }
      val want = entries(DefragPatch.build(
        Defrag.firstFragments(spark.read.format("pcap").load(dir.toString))))
      val got = Seq(1, 3).map { parts =>
        entries(fusedMap(spark.read.format("pcap")
          .option("decodePartitions", parts)
          .option("_internal.dissectGate", "first-fragment")
          .load(dir.toString)).map.get)
      }
      Prop(got.forall(_ == want)) :| s"fused maps $got, want $want"
    }
  }

  property("plan-free stats pass ≡ the DataFrame statsAndBuild: counts, keys, entries") = {
    // the convert's stats job reads the gated reader's rows with no
    // residual filter above it, so the reader's first-fragment predicate
    // must be exact. Decoys share every first fragment's key and come
    // EARLIER, so any one leaking into the argmin wins its key: a TCP row
    // with MF set at offset 0, a UDP continuation fragment, and an
    // unfragmented UDP DNS row.
    val decoys = for {
      src <- ffSources
      id <- 1 to 3
      p <- Seq(
        ipv4(src, "192.0.2.9", 6, tcp(53, 1000, 0x02), id = id, mf = true),
        ipv4(src, "192.0.2.9", 17, Array.fill[Byte](16)(0x42), id = id, mf = true,
          fragOffset = 5),
        ipv4(src, "192.0.2.9", 17, udp(53, 1000, dnsQuery("decoy.example.org", 1)),
          id = id))
    } yield (id.toLong, -1, ethernet(0x0800, p))
    Prop.forAllNoShrink(genFiles) { files =>
      val dir = java.nio.file.Files.createTempDirectory("defragprop6")
      files.zipWithIndex.foreach { case (ffs, i) =>
        java.nio.file.Files.write(dir.resolve(s"f$i.pcap"),
          legacyPcap((if (i == 0) decoys else Nil) ++ ffs ++ noise))
      }
      val hconf = spark.sessionState.newHadoopConf()
      val paths = graft.sources.PcapFileEnum.list(Seq(dir.toString), hconf)
      def summary(f: Defrag.FusedStats) = (f.total, f.pct, f.ffKeys, entries(f.map.get))
      val results = Seq(1, 3).map { parts =>
        val sm = PcapSource.statsMetrics(spark)
        val direct = Defrag.statsAndBuild(
          new graft.sources.PcapDirectScan(spark, hconf, paths, refCompat = false, parts)
            .firstFragmentRows(sm), sm, Long.MaxValue)
        val sm2 = PcapSource.statsMetrics(spark)
        val key = java.util.UUID.randomUUID().toString
        PcapSource.registerMetrics(key, sm2)
        val viaFrame =
          try Defrag.statsAndBuild(spark.read.format("pcap")
            .option("decodePartitions", parts)
            .option("_internal.dissectGate", "first-fragment")
            .option("metricsKey", key).load(dir.toString), sm2, Long.MaxValue)
          finally PcapSource.unregisterMetrics(key)
        (summary(direct), summary(viaFrame))
      }
      Prop(results.forall { case (d, f) => d == f }) :| s"direct ≠ DataFrame: $results" &&
        Prop(results.head._1._1 == files.map(_.size + noise.size).sum + decoys.size) :|
          s"total ${results.head._1._1}"
    }
  }

  property("fused stats map orders strings as Spark does: UTF-8 bytes, col_protocol by name") = {
    // the reader escapes non-ASCII DNS bytes, so rows are fed directly.
    // UTF-16 order puts U+1F600 (a surrogate pair) before U+FFFD and
    // U+E000; UTF-8 byte order — Spark's — puts it after both. Protocol
    // names compare as strings (DNS < UDP), not as DissectAcc.ProtoStr
    // indices (UDP 2 < DNS 5). Two fixed keys pin both choices in every
    // case; the fuzzed rows add ties, NULLs and non-first fragments.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.DefragPatch
    val schema = StructType(Seq(
      StructField("frame_time", TimestampType), StructField("ip_src", StringType),
      StructField("ip_dst", StringType), StructField("ip_proto", ShortType),
      StructField("ip_id", IntegerType), StructField("ip_mf", BooleanType),
      StructField("ip_frag_offset", IntegerType),
      StructField("udp_srcport", IntegerType), StructField("udp_dstport", IntegerType),
      StructField("ntp_priv_reqcode", ShortType), StructField("dns_qry_type", IntegerType),
      StructField("dns_qry_name", StringType), StructField("col_protocol", StringType)))
    val names = Seq(null, "a.example", "\u00e9.example", "\uFFFD.example",
      "\uE000.example", "\uD83D\uDE00.example", "\uD83D\uDE00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:01")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 00:00:02")
    def row(t: Any, id: Int, first: Boolean, sp: Any, ntp: Any, qt: Any,
        name: String, proto: String) =
      Row(t, "10.0.0.1", "10.0.0.2", 17.toShort, id, first, if (first) 0 else 5,
        sp, sp, ntp, qt, name, proto)
    val fixed = Seq(
      row(t1, 100, true, 53, null, 1, "\uD83D\uDE00.example", "DNS"),
      row(t1, 100, true, 53, null, 1, "\uFFFD.example", "DNS"),
      row(t1, 101, true, null, null, null, null, "UDP"),
      row(t1, 101, true, null, null, null, null, "DNS"))
    val genRow = for {
      t <- Gen.oneOf[Any](null, t1, t2)
      id <- Gen.chooseNum(0, 2)
      first <- Gen.frequency(4 -> true, 1 -> false)
      sp <- Gen.oneOf[Any](null, Int.box(53))
      ntp <- Gen.oneOf[Any](null, Short.box(7))
      qt <- Gen.oneOf[Any](null, Int.box(1))
      name <- Gen.oneOf(names)
      proto <- Gen.oneOf(null, "UDP", "DNS", "NTP", "IPv4", "DHDiscover")
    } yield row(t, id, first, sp, ntp, qt, name, proto)
    Prop.forAllNoShrink(Gen.chooseNum(1, 60).flatMap(n => Gen.listOfN(n, genRow))) { rows0 =>
      val rows = rows0 ++ fixed
      val results = Seq(1, 3).map { parts =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, parts), schema)
        (entries(fusedMap(df).map.get),
          entries(DefragPatch.build(Defrag.firstFragments(df))))
      }
      val pinned = results.head._2.filter(e => e.contains("|100|") || e.contains("|101|"))
      Prop(results.forall { case (got, want) => got == want }) :|
        s"fused ≠ min(struct): $results" &&
        Prop(pinned == Seq(
          "10.0.0.1|10.0.0.2|100|53|53|-1|1|\uFFFD.example|5",
          "10.0.0.1|10.0.0.2|101|-1|-1|-1|-1|null|5")) :| s"reference picked $pinned"
    }
  }

  property("MinStructAgg ≡ declarative min(struct) over fuzzed groups") = {
    // round 16: firstFragments' argmin moved from the declarative
    // min(struct) (which plans as SortAggregate — structs aren't
    // UnsafeRow-mutable) to the typed-imperative MinStructAgg
    // (ObjectHashAggregate, no sorts). Same total order by contract;
    // fuzz groups with null fields, exact-tie rows, and multiple
    // partitions (exercises update, partial merge, and the
    // serialize/deserialize hop across the exchange).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, min, struct}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("ft", LongType),
      StructField("s1", StringType),
      StructField("s2", StringType),
      StructField("n", IntegerType)))
    val genRow = for {
      k <- Gen.chooseNum(0, 6)
      ft <- Gen.oneOf[Any](null, Long.box(1L), Long.box(2L), Long.box(3L))
      s1 <- Gen.oneOf[Any](null, "", "a", "aa", "b")
      s2 <- Gen.oneOf[Any](null, "x", "y")
      n <- Gen.oneOf[Any](null, Int.box(0), Int.box(7))
    } yield Row(k, ft, s1, s2, n)
    Prop.forAll(Gen.chooseNum(1, 60).flatMap(m => Gen.listOfN(m, genRow)),
        Gen.chooseNum(1, 5)) { (rows, parts) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts), schema)
      def run(agg: org.apache.spark.sql.Column) = df.groupBy("k")
        .agg(agg.as("m"))
        .select(col("k"), col("m.ft"), col("m.s1"), col("m.s2"), col("m.n"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val s = struct(col("ft"), col("s1"), col("s2"), col("n"))
      val got = run(graft.functions.MinStructAgg.min_struct(s))
      val want = run(min(s))
      Prop(got == want) :| s"argmin diverged: got ${got.take(3)} want ${want.take(3)}"
    }
  }

  property("MinStructAgg sort-based fallback path ≡ min(struct)") = {
    // round-16 ADVICE: the property above can never reach
    // ObjectHashAggregate's sort-based fallback (its 60-row inputs stay
    // far under any threshold), so the fallback's buffer
    // serialize/spill/merge shipped untested. Pin the threshold at 1 for
    // this arm — EVERY group past the first falls back, exercising the
    // sort-based merge of typed buffers on both exchange sides.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, min, struct}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", IntegerType),
      StructField("ft", LongType),
      StructField("s1", StringType),
      StructField("n", IntegerType)))
    val genRow = for {
      k <- Gen.chooseNum(0, 9)
      ft <- Gen.oneOf[Any](null, Long.box(1L), Long.box(2L))
      s1 <- Gen.oneOf[Any](null, "", "a", "b")
      n <- Gen.oneOf[Any](null, Int.box(0), Int.box(7))
    } yield Row(k, ft, s1, n)
    val key = graft.functions.MinStructAgg.FallbackKey
    val saved = spark.conf.getOption(key)
    Prop.forAll(Gen.chooseNum(8, 60).flatMap(m => Gen.listOfN(m, genRow)),
        Gen.chooseNum(1, 5)) { (rows, parts) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts), schema)
      def run(agg: org.apache.spark.sql.Column) = df.groupBy("k")
        .agg(agg.as("m"))
        .select(col("k"), col("m.ft"), col("m.s1"), col("m.n"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val s = struct(col("ft"), col("s1"), col("n"))
      try {
        spark.conf.set(key, "1")
        val got = run(graft.functions.MinStructAgg.min_struct(s))
        spark.conf.unset(key)
        val want = run(min(s))
        Prop(got == want) :| s"fallback argmin diverged: got ${got.take(3)} want ${want.take(3)}"
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

}
