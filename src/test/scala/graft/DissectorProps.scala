package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.core.RawFrame
import graft.dissect.PacketDissector
import graft.pcapio.PcapFramer
import PcapFixtures._

/** Property-based invariants over the parser stack (SURVEY §5.2). */
object DissectorProps extends Properties("dissector") {

  property("tcpFlagsString: char i mirrors bit 7-i; dots elsewhere") =
    forAll(Gen.chooseNum(0, 255)) { b =>
      val s = PacketDissector.tcpFlagsString(b)
      s.length == 8 && (0 until 8).forall { i =>
        val bitSet = (b & (1 << (7 - i))) != 0
        if (bitSet) s.charAt(i) == "CEUAPRSF".charAt(i) else s.charAt(i) == '.'
      }
    }

  private val genGroups = Gen.containerOfN[Array, Int](8, Gen.chooseNum(0, 0xffff))

  property("ipv6Text: reparses to the same 8 groups (RFC 5952 round-trip)") =
    forAll(genGroups) { g =>
      val s = PacketDissector.ipv6Text(g)
      val expanded: Array[Int] =
        if (s == "::") Array.fill(8)(0)
        else {
          val parts = s.split("::", -1)
          def side(p: String): Array[Int] =
            if (p.isEmpty) Array.empty
            else p.split(':').flatMap { seg =>
              if (seg.contains('.')) {
                // dotted IPv4 tail (compatible/mapped forms) = 2 groups
                val b = seg.split('.').map(_.toInt)
                Array((b(0) << 8) | b(1), (b(2) << 8) | b(3))
              } else Array(Integer.parseInt(seg, 16))
            }
          if (parts.length == 2) {
            val l = side(parts(0)); val r = side(parts(1))
            l ++ Array.fill(8 - l.length - r.length)(0) ++ r
          } else side(parts(0))
        }
      expanded.sameElements(g)
    }

  property("ipv6Text: never contains ':::' or a leading/trailing lone ':'") =
    forAll(genGroups) { g =>
      val s = PacketDissector.ipv6Text(g)
      !s.contains(":::") &&
        (!s.startsWith(":") || s.startsWith("::")) &&
        (!s.endsWith(":") || s.endsWith("::"))
    }

  private val genPort = Gen.chooseNum(1, 65535)
  private val genByte = Gen.chooseNum(0, 255)

  property("UDP dissection recovers ports/length for arbitrary payloads") = forAll(
    genPort, genPort, Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte))
  ) { (sp, dp, payload) =>
    // avoid the L7 magic ports whose parsers may consume the payload
    val (s2, d2) = (if (Set(53, 123, 37810)(sp)) sp + 1 else sp,
      if (Set(53, 123, 37810)(dp)) dp + 1 else dp)
    val pkt = ethernet(0x0800, ipv4("9.8.7.6", "1.2.3.4", 17, udp(s2, d2, payload)))
    val r = PacketDissector.dissect(RawFrame(0L, pkt.length.toLong, pkt, 1))
    r.udpSrcport.contains(s2) && r.udpDstport.contains(d2) &&
      r.udpLength.contains(8 + payload.length) && r.colProtocol.contains("UDP")
  }

  property("IPv4 header fields survive dissection for arbitrary ttl/id/proto") = forAll(
    genByte, Gen.chooseNum(0, 0xffff), Gen.oneOf(Seq(2, 47, 50, 89, 132))
  ) { (ttl, id, proto) =>
    val pkt = ethernet(0x0800,
      ipv4("10.1.2.3", "10.3.2.1", proto, Array.fill[Byte](4)(0), ttl = ttl, id = id))
    val r = PacketDissector.dissect(RawFrame(0L, pkt.length.toLong, pkt, 1))
    r.ipTtl.contains(ttl.toShort) && r.ipId == id && r.ipProto == proto.toShort &&
      r.colProtocol.contains("IPv4")
  }

  private val genLabel = Gen.chooseNum(1, 12).flatMap(n =>
    Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  property("DNS qname: labels come back dotted with a trailing dot") = forAll(
    Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genLabel))
  ) { labels =>
    val name = labels.mkString(".")
    val pkt = ethernet(0x0800,
      ipv4("1.1.1.1", "2.2.2.2", 17, udp(1234, 53, dnsQuery(name, 1))))
    val r = PacketDissector.dissect(RawFrame(0L, pkt.length.toLong, pkt, 1))
    r.dnsQryName.contains(name)
  }

  /** One DNS message (from its header on) whose first question name
    * mixes the shapes `Dns.parseName` distinguishes: printable labels
    * with `.`/`\` and non-printable bytes (`\DDD`), the root name,
    * 127-130 labels around the 128 limit, compression pointers (back
    * into the name, into the header, forward to a second name, or into
    * a loop), reserved label types, and truncation anywhere.
    */
  private def dnsMessage(rnd: scala.util.Random): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(Array[Byte](0x12, 0x34, 0x01, 0x00, 0, Seq(0, 1, 1, 1, 2)(rnd.nextInt(5)).toByte,
      0, 0, 0, 0, 0, 0))
    def label(): Unit = {
      val n = if (rnd.nextInt(10) == 0) 1 + rnd.nextInt(63) else 1 + rnd.nextInt(4)
      b.write(n)
      (0 until n).foreach { _ =>
        b.write(rnd.nextInt(20) match {
          case 0 => '.'
          case 1 => '\\'
          case 2 => rnd.nextInt(0x21) // controls and space
          case 3 => 0x7f + rnd.nextInt(0x81)
          case _ => 'a' + rnd.nextInt(3)
        })
      }
    }
    def pointer(to: Int): Unit = { b.write(0xc0 | (to >> 8)); b.write(to & 0xff) }
    val nameAt = 12
    rnd.nextInt(10) match {
      case 0 => b.write(0) // the root name
      case 1 => (0 until 127 + rnd.nextInt(4)).foreach { _ => b.write(1); b.write('x') }; b.write(0)
      case 2 => // pointer: into the header, back to the name (a loop) or forward
        (0 until rnd.nextInt(3)).foreach(_ => label())
        val forward = b.size + 6
        pointer(Seq(rnd.nextInt(12), nameAt, forward)(rnd.nextInt(3)))
      case 3 => label(); b.write(0x40 | rnd.nextInt(0x40)) // reserved label type
      case _ => (0 until 1 + rnd.nextInt(3)).foreach(_ => label()); b.write(0)
    }
    b.write(Array[Byte](0, (1 + rnd.nextInt(3)).toByte, 0, 1))
    label(); label(); b.write(0) // a pointer target
    val m = b.toByteArray
    if (rnd.nextInt(4) == 0) m.take(rnd.nextInt(m.length + 1)) else m
  }

  property("wire-interned qname ≡ Dns.parseName, past the intern's size") = forAll(
    Gen.choose(0L, Long.MaxValue)
  ) { seed =>
    // the intern is direct-mapped: three times its slots in distinct
    // messages, drawn with repeats, make hits, collisions and evictions;
    // the expected row is the parse without any intern
    val rnd = new scala.util.Random(seed)
    val pool = Array.fill(3 * graft.dissect.DissectAcc.QnameSlots)(dnsMessage(rnd))
    val a = new graft.dissect.DissectAcc
    (0 until 4 * pool.length).forall { i =>
      // small reader dictionaries, so they are replaced every few messages
      if (i % 64 == 0) a.boundDictionaries(256L)
      val m = pool(rnd.nextInt(pool.length))
      a.reset()
      graft.dissect.Dns.dissectInto(m, 0, m.length, a)
      val want: (String, Int, Int) =
        if (m.length < 12) (null, -1, 1)
        else if (((m(4) & 0xff) << 8 | (m(5) & 0xff)) < 1) (null, -1, 0)
        else graft.dissect.Dns.parseName(m, 0, m.length, 12) match {
          case None => (null, -1, 1)
          case Some((_, after)) if m.length - after < 4 => (null, -1, 1)
          case Some((name, after)) => (name, (m(after) & 0xff) << 8 | (m(after + 1) & 0xff), 0)
        }
      val ok = (a.dnsQryName, a.dnsQryType, a.errors) == want &&
        (want._1 == null || java.util.Arrays.equals(
          a.nameDict.decodeToBinary(a.dnsQryNameId), want._1.getBytes("UTF-8")))
      if (!ok) println(s"qname intern: ${m.map(x => f"$x%02x").mkString} gave " +
        s"${(a.dnsQryName, a.dnsQryType, a.errors)}, want $want")
      ok
    }
  }

  property("framer round-trip: every written frame comes back with its timestamp") = forAll(
    Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.chooseNum(0L, 4000000000000000L), Gen.chooseNum(0, 64))))
  ) { specs =>
    val frames = specs.map { case (ts, padLen) =>
      (ts, -1, ethernet(0x0800,
        ipv4("1.1.1.1", "2.2.2.2", 17, udp(1, 2, Array.fill[Byte](padLen)(0x7f)))))
    }
    val got = PcapFramer.frames(legacyPcap(frames)).toList
    got.length == specs.length &&
      got.map(_.timeMicros) == specs.map(_._1) &&
      got.zip(frames).forall { case (g, (_, _, b)) => g.data.sameElements(b) }
  }

  property("dissector never throws on arbitrary bytes") = forAll(
    Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte)),
    Gen.oneOf(1, 12, 101, 113, 9999)
  ) { (junk, linktype) =>
    val r = PacketDissector.dissect(RawFrame(1L, junk.length.toLong, junk, linktype))
    r.frameTime == 1L // reached the end without throwing
  }

  property("fast path ≡ compat path: dissectToInternal equals dissect().toInternalRow") = forAll(
    Gen.oneOf(
      // well-formed packets across the protocol families + junk bytes
      Gen.zip(genPort, genPort, Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte)))
        .map { case (sp, dp, pay) =>
          ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17, udp(sp, dp, pay))) },
      Gen.zip(genLabel, genPort).map { case (l, p) =>
        ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17, udp(p, 53, dnsQuery(l, 1)))) },
      Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte))),
    Gen.oneOf(1, 12, 101, 9999)
  ) { (pkt, linktype) =>
    val frame = RawFrame(7L, pkt.length.toLong, pkt, linktype)
    val file = org.apache.spark.unsafe.types.UTF8String.fromString("f.pcap")
    val fast = PacketDissector.dissectToInternal(new graft.dissect.DissectAcc, frame, file)
    val compat = PacketDissector.dissect(frame).toInternalRow(file)
    (0 until 31).forall { i =>
      (fast.isNullAt(i) && compat.isNullAt(i)) ||
        (!fast.isNullAt(i) && !compat.isNullAt(i) &&
          fast.get(i, graft.core.PacketSchema.schema(i).dataType) ==
            compat.get(i, graft.core.PacketSchema.schema(i).dataType))
    }
  }

  property("accGetter \u2261 getter\u2218toPacketRow on every supported column") = forAll(
    // round-9 review: the reader's filter path evaluates on the
    // UNBOXED accumulator (PcapFilters.accGetter); this pins its value
    // parity with the reference PacketRow getters (PcapFilters.getter)
    // per column across protocol families, fragments, NTP, and junk bytes
    Gen.oneOf(
      Gen.zip(genPort, genPort, Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte)))
        .map { case (sp, dp, pay) =>
          ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17, udp(sp, dp, pay))) },
      Gen.zip(genLabel, genPort).map { case (l, p) =>
        ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17, udp(p, 53, dnsQuery(l, 1)))) },
      Gen.zip(genPort, Gen.chooseNum(0, 255)).map { case (p, fl) =>
        ethernet(0x0800, ipv4("3.3.3.3", "4.4.4.4", 6, tcp(443, p, fl))) },
      Gen.zip(genPort, Gen.chooseNum(1, 8191)).map { case (p, off) =>
        ethernet(0x0800, ipv4("5.5.5.5", "6.6.6.6", 17,
          udp(p, p, Array[Byte](1, 2, 3)), id = 7, mf = true, fragOffset = off)) },
      Gen.chooseNum(0, 255).map(rc => ethernet(0x0800,
        ipv4("7.7.7.7", "8.8.8.8", 17, udp(123, 123, ntpPrivate(rc))))),
      Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte))),
    Gen.oneOf(1, 12, 101, 9999)
  ) { (pkt, linktype) =>
    val acc = new graft.dissect.DissectAcc
    PacketDissector.dissectInto(acc, RawFrame(7L, pkt.length.toLong, pkt, linktype))
    val row = acc.toPacketRow
    val cols = Seq("frame_time", "frame_len", "eth_type", "ip_src", "ip_dst",
      "col_source", "col_destination", "ip_proto", "ip_ttl", "ip_frag_offset",
      "ip_id", "ip_mf", "icmp_type", "udp_length", "udp_srcport",
      "udp_dstport", "tcp_flags", "tcp_srcport", "tcp_dstport",
      "col_protocol", "dns_qry_name", "dns_qry_type", "ntp_priv_reqcode",
      "dhip_device", "pcap_file")
    cols.forall { c =>
      val viaAcc = graft.sources.PcapFilters.accGetter(c, "f.pcap").map(_(acc))
      val viaRow = graft.sources.PcapFilters.getter(c, "f.pcap").map(_(row))
      viaAcc == viaRow
    }
  }

  // every protocol family the dissector distinguishes, incl. v6
  // extension chains and fragments, plus junk — the staged-dissection
  // equivalence domain
  private val genStagedPkt: Gen[Array[Byte]] = {
    val g6 = Array(0x2001, 0xdb8, 0, 0, 0, 0, 0, 1)
    val d6 = Array(0xfe80, 0, 0, 0, 0, 0, 0, 2)
    Gen.oneOf(
      Gen.zip(genPort, genPort, Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte)))
        .map { case (sp, dp, pay) =>
          ethernet(0x0800, ipv4("9.9.9.9", "8.8.8.8", 17, udp(sp, dp, pay))) },
      Gen.zip(genLabel, genPort).map { case (l, p) =>
        ethernet(0x0800, ipv4("1.1.1.1", "2.2.2.2", 17, udp(p, 53, dnsQuery(l, 1)))) },
      Gen.zip(genPort, Gen.chooseNum(0, 255)).map { case (p, fl) =>
        ethernet(0x0800, ipv4("3.3.3.3", "4.4.4.4", 6, tcp(443, p, fl))) },
      Gen.zip(genPort, Gen.chooseNum(0, 8191)).map { case (p, off) =>
        ethernet(0x0800, ipv4("5.5.5.5", "6.6.6.6", 17,
          udp(p, p, Array[Byte](1, 2, 3)), id = 7, mf = true, fragOffset = off)) },
      Gen.chooseNum(0, 255).map(rc => ethernet(0x0800,
        ipv4("7.7.7.7", "8.8.8.8", 17, udp(123, 123, ntpPrivate(rc))))),
      genPort.map(p => ethernet(0x0800, ipv4("10.0.0.9", "10.0.0.1", 1,
        icmpDestUnreachable(ipv4("10.0.0.2", "10.0.0.1", 17, udp(53, p, Array.empty)))))),
      // v6 with 0-2 hop-by-hop extension headers before UDP
      Gen.zip(Gen.chooseNum(0, 2), genPort).map { case (nExt, p) =>
        val chain = (1 to nExt).map(i =>
          Array[Byte]((if (i == nExt) 17 else 0).toByte, 0, 0, 0, 0, 0, 0, 0))
          .foldLeft(Array.empty[Byte])(_ ++ _)
        val nh = if (nExt == 0) 17 else 0
        ethernet(0x86dd, ipv6(g6, d6, nh, chain ++ udp(p, p, Array[Byte](1)))) },
      Gen.containerOf[Array, Byte](Gen.chooseNum(-128, 127).map(_.toByte)))
  }

  property("staged dissection ≡ direct full, any base level, both modes") = forAll(
    // round 13: required-schema-aware dissection stops at L3/Transport
    // and resumes later; the resumed row (values AND error count) must
    // be bit-identical to a one-shot full dissection — the readers'
    // correctness hangs on this
    genStagedPkt, Gen.oneOf(1, 12, 101, 9999),
    Gen.oneOf(graft.dissect.DissectLevel.L3, graft.dissect.DissectLevel.Transport),
    Gen.oneOf(true, false)
  ) { (pkt, linktype, base, walk) =>
    val frame = RawFrame(7L, pkt.length.toLong, pkt, linktype)
    val direct = new graft.dissect.DissectAcc
    PacketDissector.dissectInto(direct, frame, walkV6 = walk)
    val staged = new graft.dissect.DissectAcc
    PacketDissector.dissectInto(staged, frame, walkV6 = walk, level = base)
    PacketDissector.dissectResume(staged, pkt, graft.dissect.DissectLevel.Full)
    staged.toPacketRow == direct.toPacketRow && staged.errors == direct.errors
  }

  property("staged ≡ direct under a THROWING L7 stage (never-panic catch)") = forAll(
    // round-14 ADVICE: if dissectResume's catch resets the accumulator,
    // the staged row must still end up identical to a direct full
    // dissection (whose own catch resets to base fields BEFORE any
    // filter sees the row) — and resume must REPORT the reset so the
    // readers re-make their L3 emit decision. The parser is
    // bounds-checked, so the only way to exercise the catch is the
    // test-only l7FaultHook.
    genStagedPkt, Gen.oneOf(1, 12, 101, 9999),
    Gen.oneOf(graft.dissect.DissectLevel.L3, graft.dissect.DissectLevel.Transport),
    Gen.oneOf(true, false)
  ) { (pkt, linktype, base, walk) =>
    val frame = RawFrame(7L, pkt.length.toLong, pkt, linktype)
    PacketDissector.l7FaultHook =
      () => throw new IllegalStateException("injected L7 fault")
    try {
      val direct = new graft.dissect.DissectAcc
      PacketDissector.dissectInto(direct, frame, walkV6 = walk)
      val staged = new graft.dissect.DissectAcc
      PacketDissector.dissectInto(staged, frame, walkV6 = walk, level = base)
      val reset = PacketDissector.dissectResume(staged, pkt,
        graft.dissect.DissectLevel.Full)
      // rows that reach L7 reset to base-fields-only in BOTH paths and
      // resume reports the reset; rows that never reach L7 are untouched
      staged.toPacketRow == direct.toPacketRow &&
        staged.errors == direct.errors &&
        (!reset || (staged.errors == 1 && staged.toPacketRow.ipSrc.isEmpty))
    } finally PacketDissector.l7FaultHook = null
  }

  property("resume REPORTS the catch reset on a clean DNS packet") = forAll(
    genLabel, Gen.oneOf(graft.dissect.DissectLevel.L3,
      graft.dissect.DissectLevel.Transport)
  ) { (label, base) =>
    val pkt = ethernet(0x0800,
      ipv4("1.1.1.1", "2.2.2.2", 17, udp(4242, 53, dnsQuery(label, 1))))
    val frame = RawFrame(7L, pkt.length.toLong, pkt, 1)
    PacketDissector.l7FaultHook =
      () => throw new IllegalStateException("injected L7 fault")
    try {
      val staged = new graft.dissect.DissectAcc
      PacketDissector.dissectInto(staged, frame, walkV6 = true, level = base)
      PacketDissector.dissectResume(staged, pkt, graft.dissect.DissectLevel.Full) &&
        staged.errors == 1 && staged.toPacketRow.ipSrc.isEmpty
    } finally PacketDissector.l7FaultHook = null
  }

  property("L3-level dissection leaves every L3 column identical to full") = forAll(
    // the ff gate emits un-resumed rows: their L3 columns must match
    // what a full dissection would have produced (transport/L7 never
    // writes an L3 field)
    genStagedPkt, Gen.oneOf(1, 12, 101, 9999), Gen.oneOf(true, false)
  ) { (pkt, linktype, walk) =>
    val frame = RawFrame(7L, pkt.length.toLong, pkt, linktype)
    val full = new graft.dissect.DissectAcc
    PacketDissector.dissectInto(full, frame, walkV6 = walk)
    val l3 = new graft.dissect.DissectAcc
    PacketDissector.dissectInto(l3, frame, walkV6 = walk,
      level = graft.dissect.DissectLevel.L3)
    val a = l3.toPacketRow; val b = full.toPacketRow
    a.frameTime == b.frameTime && a.frameLen == b.frameLen &&
      a.ethType == b.ethType && a.ipSrc == b.ipSrc && a.ipDst == b.ipDst &&
      a.ipProto == b.ipProto && a.ipTtl == b.ipTtl &&
      a.ipFragOffset == b.ipFragOffset && a.ipId == b.ipId && a.ipMf == b.ipMf
  }

  property("fragment gate: offset>0 rows never carry transport columns") = forAll(
    Gen.chooseNum(1, 0x1fff), Gen.oneOf(6, 17, 1)
  ) { (off, proto) =>
    val pkt = ethernet(0x0800,
      ipv4("5.5.5.5", "6.6.6.6", proto, Array.fill[Byte](24)(1), mf = true, fragOffset = off))
    val r = PacketDissector.dissect(RawFrame(0L, pkt.length.toLong, pkt, 1))
    r.udpSrcport.isEmpty && r.tcpSrcport.isEmpty && r.icmpType.isEmpty &&
      r.ipFragOffset == off
  }
}
