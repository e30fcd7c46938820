package perfbench

import java.io.{BufferedOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom
import java.util.zip.CRC32

/** Seeded capture corpus for the benchmark: `files` legacy pcap files of a
  * DDoS mix whose proportions and packet count are fixed, while the seed
  * moves the ip_id base, the source spread, the source draw and the
  * per-file timestamp bases. The mix: 30% of packets in 3-fragment UDP
  * DNS-amplification datagrams whose ip_id cycles through a 4096-value
  * window, so (src, dst, proto, id) keys collide across datagrams; 40% DNS
  * queries, 20% TCP SYN-ACK backscatter, 10% NTP private-mode probes.
  *
  * Every file also holds [[MalformedPerFile]] DNS packets with a truncated
  * header; each is exactly one dissect error, so a convert must report
  * `expectedErrors` errors, no more.
  *
  * A generation manifest ([[ManifestName]]) records the spec and every
  * file's size and CRC-32; [[verify]] rejects a corpus whose manifest does
  * not match the requested spec or whose files do not match the manifest.
  */
object CorpusGen {
  val Version = 1
  val ManifestName = "corpus-manifest.json"
  val MalformedPerFile = 16
  /** Inter-packet gap inside a file: 1M packets span 20 s of capture time. */
  val GapMicros = 20L

  final case class Spec(packets: Int, files: Int, seed: Long) {
    def json: String =
      s"""{"version":$Version,"packets":$packets,"files":$files,"seed":$seed}"""
  }

  final case class FileInfo(name: String, bytes: Long, crc: Long,
      packets: Int, tsMinMicros: Long, tsMaxMicros: Long)

  final case class Corpus(dir: String, spec: Spec, files: Seq[FileInfo],
      expectedErrors: Long, fragmented: Long, sources: Seq[String]) {
    def packets: Long = files.map(_.packets.toLong).sum
    def bytes: Long = files.map(_.bytes).sum
    def paths: Seq[String] = files.map(f => s"$dir/${f.name}")
    def glob: String = s"$dir/*.pcap"
  }

  /** Seed-derived parameters, shared by every file of one corpus. */
  private final case class Params(idBase: Int, spread: Int, srcOffset: Int,
      tsBases: Array[Long])

  private def params(spec: Spec): Params = {
    val r = new SplittableRandom(spec.seed * 0x9E3779B97F4A7C15L + 17L)
    val idBase = r.nextInt(65536)
    // at most 250 distinct sources for every seed: past 256 the parquet
    // dictionary indices of ip_src widen to 9 bits, and output bytes would
    // jump with the seed rather than with the program
    val spread = 160 + r.nextInt(91)
    val srcOffset = r.nextInt(1024)
    // files are an hour apart, each shifted by up to 10 minutes
    val t0 = 1700000000000000L + r.nextLong(86400L) * 1000000L
    val tsBases = Array.tabulate(spec.files)(f =>
      t0 + f * 3600L * 1000000L + r.nextLong(600L * 1000000L))
    Params(idBase, spread, srcOffset, tsBases)
  }

  def sourceAddr(k: Int): String = s"198.51.${100 + k / 250}.${k % 250 + 1}"

  private def srcBytes(k: Int): Array[Byte] =
    Array[Byte](198.toByte, 51, (100 + k / 250).toByte, (k % 250 + 1).toByte)

  private val dstBytes = Array[Byte](192.toByte, 0, 2, 1)

  private def ipv4(src: Array[Byte], proto: Int, payload: Array[Byte],
      id: Int, mf: Boolean, off: Int): Array[Byte] = {
    val tl = 20 + payload.length
    val b = ByteBuffer.allocate(14 + tl).order(ByteOrder.BIG_ENDIAN)
    b.put(Array.fill[Byte](6)(0x02)).put(Array.fill[Byte](6)(0x04))
      .putShort(0x0800.toShort)
    b.put(0x45.toByte).put(0.toByte).putShort(tl.toShort)
    b.putShort(id.toShort)
    b.putShort(((if (mf) 0x2000 else 0) | (off & 0x1fff)).toShort)
    b.put(64.toByte).put(proto.toByte).putShort(0)
    b.put(src).put(dstBytes).put(payload)
    b.array()
  }

  private def udp(sp: Int, dp: Int, payload: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
    b.putShort(sp.toShort).putShort(dp.toShort)
      .putShort((8 + payload.length).toShort).putShort(0).put(payload)
    b.array()
  }

  private def dnsQuery(name: String): Array[Byte] = {
    val labels = name.split('.')
    val b = ByteBuffer.allocate(16 + labels.map(_.length + 1).sum + 1)
      .order(ByteOrder.BIG_ENDIAN)
    b.putShort(0x1234.toShort).putShort(0x0100.toShort)
      .putShort(1).putShort(0).putShort(0).putShort(0)
    labels.foreach { l =>
      b.put(l.length.toByte).put(l.getBytes(StandardCharsets.US_ASCII))
    }
    b.put(0.toByte).putShort(1).putShort(1)
    b.array()
  }

  private def synAck(dp: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(20).order(ByteOrder.BIG_ENDIAN)
    b.putShort(443.toShort).putShort(dp.toShort).putInt(1).putInt(0)
    b.put((5 << 4).toByte).put(0x12.toByte).putShort(8192.toShort)
      .putShort(0).putShort(0)
    b.array()
  }

  private val ntpPriv = udp(123, 123, Array[Byte](((2 << 3) | 7).toByte, 0, 0, 42, 0, 0, 0, 0))
  private val fragTail = Array.fill[Byte](64)(0x41)
  private val truncatedDns = Array[Byte](0x12, 0x34, 0x01)

  /** Write one file; returns (packets, fragmented packets). */
  private def writeFile(path: File, spec: Spec, p: Params, f: Int,
      packets: Int): (Int, Long) = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    val rnd = new SplittableRandom(spec.seed * 31L + f)
    val hdr = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(0xa1b2c3d4).putShort(2).putShort(4).putInt(0).putInt(0)
      .putInt(65535).putInt(1)
    out.write(hdr.array())
    var ts = p.tsBases(f)
    val rh = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    var n = 0
    var frag = 0L
    def rec(pkt: Array[Byte]): Unit = {
      rh.clear()
      rh.putInt((ts / 1000000L).toInt).putInt((ts % 1000000L).toInt)
        .putInt(pkt.length).putInt(pkt.length)
      out.write(rh.array()); out.write(pkt)
      ts += GapMicros
      n += 1
    }
    def src(): Array[Byte] = srcBytes((p.srcOffset + rnd.nextInt(p.spread)) % 1024)
    var dgram = 0
    def fragmented(): Unit = {
      val s = src()
      val id = (p.idBase + (f * 613 + dgram) % 4096) & 0xffff
      dgram += 1
      rec(ipv4(s, 17, udp(53, 40000 + rnd.nextInt(10000),
        dnsQuery(s"amp${rnd.nextInt(16)}.example.net")), id, mf = true, 0))
      rec(ipv4(s, 17, fragTail, id, mf = true, 9))
      rec(ipv4(s, 17, fragTail, id, mf = false, 18))
      frag += 3
    }
    // malformed packets sit at fixed strides, never inside a datagram
    val badEvery = packets / MalformedPerFile
    var bad = 0
    while (n < packets) {
      if (bad < MalformedPerFile && n >= bad * badEvery + badEvery / 2) {
        rec(ipv4(src(), 17, udp(53, 40000, truncatedDns), 0, mf = false, 0))
        bad += 1
      } else (n % 10) match {
        case r if r < 3 && packets - n >= 3 => fragmented()
        case r if r < 7 =>
          rec(ipv4(src(), 17, udp(53, 40000 + rnd.nextInt(10000),
            dnsQuery(s"q${rnd.nextInt(16)}.example.com")), 0, mf = false, 0))
        case r if r < 9 =>
          rec(ipv4(src(), 6, synAck(50000 + rnd.nextInt(10000)), 0, mf = false, 0))
        case _ => rec(ipv4(src(), 17, ntpPriv, 0, mf = false, 0))
      }
    }
    out.close()
    (n, frag)
  }

  private def crc(f: File): Long = {
    val c = new CRC32
    val in = new FileInputStream(f)
    try {
      val buf = new Array[Byte](1 << 20)
      var r = in.read(buf)
      while (r >= 0) { c.update(buf, 0, r); r = in.read(buf) }
    } finally in.close()
    c.getValue
  }

  /** Generate the corpus into `dir` (emptied first) and write its manifest. */
  def generate(dir: String, spec: Spec): Unit = {
    val d = new File(dir)
    Option(d.listFiles()).foreach(_.foreach(_.delete()))
    d.mkdirs()
    val p = params(spec)
    val per = spec.packets / spec.files
    val infos = (0 until spec.files).map { f =>
      val name = f"part-$f%02d.pcap"
      val file = new File(d, name)
      val (n, frag) = writeFile(file, spec, p, f, per)
      (FileInfo(name, file.length(), crc(file), n, p.tsBases(f),
        p.tsBases(f) + (n - 1) * GapMicros), frag)
    }
    val filesJson = infos.map { case (fi, frag) =>
      s"""{"name":"${fi.name}","bytes":${fi.bytes},"crc":${fi.crc},"packets":${fi.packets},""" +
        s""""fragmented":$frag,"ts_min":${fi.tsMinMicros},"ts_max":${fi.tsMaxMicros}}"""
    }.mkString(",")
    val sources = (0 until p.spread).map(k => (p.srcOffset + k) % 1024)
    val json = s"""{"spec":${spec.json},"expected_errors":${MalformedPerFile * spec.files},""" +
      s""""params":{"id_base":${p.idBase},"spread":${p.spread},"src_offset":${p.srcOffset}},""" +
      s""""sources":[${sources.mkString(",")}],"files":[$filesJson]}"""
    val tmp = new File(d, ManifestName + ".tmp")
    Files.write(tmp.toPath, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(d, ManifestName).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Load the corpus at `dir`, rejecting it unless its manifest was written
    * for exactly `spec` and every capture file matches its recorded size
    * and CRC-32, with no capture file the manifest does not list.
    */
  def verify(dir: String, spec: Spec): Corpus = {
    val mf = new File(dir, ManifestName)
    require(mf.isFile, s"corpus at $dir has no $ManifestName")
    val m = Json.mapper.readTree(mf)
    val want = Json.mapper.readTree(spec.json)
    require(m.get("spec") == want,
      s"stale corpus at $dir: manifest spec ${m.get("spec")}, wanted $want")
    val entries = Json.elements(m.get("files"))
    val files = entries.map { e =>
      FileInfo(e.get("name").asText, e.get("bytes").asLong, e.get("crc").asLong,
        e.get("packets").asInt, e.get("ts_min").asLong, e.get("ts_max").asLong)
    }
    val onDisk = new File(dir).listFiles().filter(_.getName.endsWith(".pcap"))
      .map(_.getName).toSet
    require(onDisk == files.map(_.name).toSet,
      s"corpus at $dir: files on disk ${onDisk.toSeq.sorted} differ from the manifest")
    files.foreach { fi =>
      val f = new File(dir, fi.name)
      require(f.length() == fi.bytes && crc(f) == fi.crc,
        s"corpus file ${f.getPath} does not match its manifest entry")
    }
    Corpus(dir, spec, files, m.get("expected_errors").asLong,
      entries.map(_.get("fragmented").asLong).sum,
      Json.elements(m.get("sources")).map(v => sourceAddr(v.asInt)))
  }
}
