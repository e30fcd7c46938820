package graft

import org.scalacheck.{Gen, Prop, Properties}

import graft.pcapio.{FrameIndex, PcapFramer}

/** Pure pins for the frame-index range math (round 14): the planner
  * trusts [[FrameIndex.ranges]] to PARTITION the file's frame bytes —
  * any gap double-reads nothing but DROPS frames, any overlap
  * double-reads them. The reader-level multiset specs catch this too,
  * but only at the file sizes they generate; the property covers the
  * space.
  */
object FrameIndexProps extends Properties("frame-index") {

  private val genIndex: Gen[FrameIndex.Index] = for {
    stride <- Gen.oneOf(1, 2, 8, 8192)
    nOffs <- Gen.chooseNum(1, 200)
    gaps <- Gen.listOfN(nOffs - 1, Gen.chooseNum(1L, 1000L))
    tailFrames <- Gen.chooseNum(0, stride - 1)
    tailBytes <- Gen.chooseNum(0L, 1000L)
  } yield {
    // offsets strictly increasing from the 24-byte header
    val offs = gaps.scanLeft(graft.pcapio.PcapFramer.LegacyHeaderLen.toLong)(_ + _).toArray
    FrameIndex.Index(
      fileLen = offs.last + 1 + tailBytes,
      mtime = 0L,
      frameCount = (nOffs - 1).toLong * stride + 1 + tailFrames,
      stride = stride,
      offsets = offs)
  }

  property("ranges partition [first offset, fileLen) exactly, or refuse") =
    Prop.forAll(genIndex, Gen.chooseNum(1, 64)) { (idx, n) =>
      FrameIndex.ranges(idx, n) match {
        case None =>
          // refusal is only for n too coarse to cut (or n == 1)
          Prop(n <= 1 || idx.offsets.length < n) :| "refused a cuttable index"
        case Some(rs) =>
          val contiguous = rs.sliding(2).forall {
            case Array((_, e1), (s2, _)) => e1 == s2
            case _ => true
          }
          val bounds = rs.head._1 == idx.offsets.head && rs.last._2 == idx.fileLen
          // STRICT: a zero-byte range is an idle shard (round-15 ADVICE —
          // round(target/stride) could duplicate adjacent bounds when n
          // approached offsets.length)
          val monotone = rs.forall { case (s, e) => s < e }
          val aligned = rs.forall { case (s, _) =>
            s == idx.fileLen || idx.offsets.contains(s) }
          Prop(rs.length == n && contiguous && bounds && monotone && aligned) :|
            s"bad ranges for n=$n offsets=${idx.offsets.length}: ${rs.take(4).mkString(",")}"
      }
    }

  property("builder keeps every stride-th frame: ≥ min(frames, 4096) offsets, states in step") =
    Prop.forAll(Gen.chooseNum(0, 100000), Gen.listOf(Gen.chooseNum(0, 100000)),
      Gen.oneOf(false, true)) { (frames, changes, ng) =>
      // frame i starts at 24 + 10·i; its pcapng section state is the
      // number of state changes at or before it, as a linktype
      val changeAt = changes.toSet
      val b = new FrameIndex.Builder(ng)
      var state = 0
      (0 until frames).foreach { i =>
        if (changeAt(i)) state += 1
        val s = state
        b.record(24L + 10L * i, graft.pcapio.PcapFramer.NgState(false, Array(s), Array(6), 6))
      }
      val idx = b.result(24L + 10L * frames, 0L)
      val n = idx.offsets.length
      def stateOf(frame: Long) = changes.distinct.count(_ <= frame)
      val offsetsOk = idx.offsets.indices.forall(k =>
        idx.offsets(k) == 24L + 10L * k * idx.stride)
      val statesOk = !ng || (idx.states.length <= n && idx.offsets.indices.forall(k =>
        idx.stateAt(k).ifLinktypes.toSeq == Seq(stateOf(k.toLong * idx.stride))))
      Prop(idx.frameCount == frames && idx.isNg == ng && offsetsOk && statesOk &&
        n == (frames + idx.stride - 1) / idx.stride &&
        n <= 8192 && n >= math.min(frames, 4096)) :|
        s"frames=$frames stride=${idx.stride} offsets=$n ng=$ng states=${Option(idx.states).map(_.length)}"
    }

  /** A legacy capture in either byte order whose records end cleanly, in
    * a truncated record header, inside a record's payload, or at a record
    * whose caplen the framer refuses (more records follow it).
    */
  private val genLegacy: Gen[Array[Byte]] = for {
    bigEndian <- Gen.oneOf(true, false)
    magic <- Gen.oneOf(0xa1b2c3d4, 0xa1b23c4d)
    n <- Gen.frequency(9 -> Gen.chooseNum(0, 300), 1 -> Gen.chooseNum(8000, 20000))
    caplens <- Gen.listOfN(n, Gen.chooseNum(0, 100))
    tail <- Gen.oneOf("none", "header", "payload", "bogus")
    cut <- Gen.chooseNum(1, 15)
    bogus <- Gen.oneOf(0x10000000L, 0x7fffffffL, 0x80000000L, 0xffffffffL)
  } yield {
    val bb = java.nio.ByteBuffer.allocate(64 + caplens.map(16 + _).sum + 3 * (16 + 100))
      .order(if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(magic).putShort(2.toShort).putShort(4.toShort).putInt(0).putInt(0)
      .putInt(65535).putInt(1)
    def rec(caplen: Long, payload: Int): Unit = {
      bb.putInt(1700000000).putInt(7).putInt(caplen.toInt).putInt(caplen.toInt)
      bb.put(Array.fill[Byte](payload)(0x5a))
    }
    caplens.foreach(c => rec(c, c))
    tail match {
      case "header" => bb.put(Array.fill[Byte](cut)(0x11))
      case "payload" => rec(40 + cut, 40)
      case "bogus" => rec(bogus, 0); rec(20, 20); rec(0, 0)
      case _ => ()
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** `bytes` handed out at most `chunk` bytes per read. */
  private def trickle(bytes: Array[Byte], chunk: Int): java.io.InputStream =
    new java.io.ByteArrayInputStream(bytes) {
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        super.read(b, off, math.min(len, chunk))
    }

  property("legacy walk reads record headers only and ends where the framer ends") =
    Prop.forAll(genLegacy, Gen.oneOf(1, 7, 13, 1 << 20)) { (bytes, chunk) =>
      val frames = PcapFramer.frames(bytes)
      val framed = new FrameIndex.Builder(ng = false)
      while (frames.hasNext) {
        frames.next()
        framed.record(frames.lastFrameStart, null)
      }
      val want = framed.result(bytes.length.toLong, 0L)
      val got = FrameIndex.walk(trickle(bytes, chunk), PcapFramer.Sane)
        .result(bytes.length.toLong, 0L)
      Prop(!got.isNg && got.frameCount == want.frameCount && got.stride == want.stride &&
        got.offsets.sameElements(want.offsets)) :|
        s"frames ${got.frameCount} vs ${want.frameCount}, offsets " +
          s"${got.offsets.take(4).mkString(",")}… vs ${want.offsets.take(4).mkString(",")}…"
    }
}
