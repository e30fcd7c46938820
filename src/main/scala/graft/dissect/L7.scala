package graft.dissect

/** DNS question extraction (reference: src/packetstats.rs:268-291 via the
  * `domain` crate): first question only, qname in dotted form WITHOUT a
  * trailing dot (the domain crate 0.10.3 `Display` for names omits the
  * root dot), root name rendered `"<Root>"`, qtype as int. Compression
  * pointers are followed defensively (bounded jumps). Malformed / too-short
  * messages count one error and set nothing.
  *
  * A qname without compression pointers is looked up by its wire bytes
  * in the accumulator's intern first ([[DissectAcc.qnameHit]]): without
  * pointers the parse is a pure function of those bytes, so a hit reuses
  * the String parsed before and [[parseName]] does not run.
  */
object Dns {
  def dissectInto(b: Array[Byte], start: Int, end: Int, a: DissectAcc): Unit = {
    if (end - start < 12) { a.errors += 1; return }
    val qdcount = ((b(start + 4) & 0xff) << 8) | (b(start + 5) & 0xff)
    if (qdcount < 1) return // no question: nothing set, no error
    val nameStart = start + 12
    val wireEnd = plainNameEnd(b, nameStart, end)
    val after =
      if (wireEnd >= 0) {
        if (end - wireEnd < 4) { a.errors += 1; return }
        if (!a.qnameHit(b, nameStart, wireEnd)) parseName(b, start, end, nameStart) match {
          case Some((name, _)) => a.qnameMiss(b, nameStart, wireEnd, name)
          case None => a.errors += 1; return // unreachable: plainNameEnd accepted it
        }
        wireEnd
      } else parseName(b, start, end, nameStart) match {
        case None => a.errors += 1; return
        case Some((name, after)) =>
          if (end - after < 4) { a.errors += 1; return }
          a.dnsQryName = name
          after
      }
    a.dnsQryType = ((b(after) & 0xff) << 8) | (b(after + 1) & 0xff)
  }

  /** The end (just past the root label) of the name at `from` when it
    * has no compression pointer and [[parseName]] accepts it: every
    * label inside `end`, no reserved label type, at most 128 labels.
    * Otherwise -1.
    */
  private def plainNameEnd(b: Array[Byte], from: Int, end: Int): Int = {
    var pos = from
    var labels = 0
    while (pos < end) {
      val len = b(pos) & 0xff
      if (len == 0) return pos + 1
      if ((len & 0xc0) != 0 || pos + 1 + len > end) return -1
      labels += 1
      if (labels > 128) return -1
      pos += 1 + len
    }
    -1
  }

  /** Returns (display name, offset just past the name at its original
    * position). `msgStart` is the DNS header offset (pointer targets are
    * relative to it).
    */
  private[graft] def parseName(
      b: Array[Byte], msgStart: Int, end: Int, nameStart: Int)
      : Option[(String, Int)] = {
    val sb = new StringBuilder
    var pos = nameStart
    var after = -1 // original-position end, set at first pointer
    var jumps = 0
    var labels = 0
    while (true) {
      if (pos < msgStart || pos >= end) return None
      val len = b(pos) & 0xff
      if (len == 0) {
        val endPos = if (after >= 0) after else pos + 1
        val name = if (labels == 0) "<Root>" else sb.toString
        return Some((name, endPos))
      } else if ((len & 0xc0) == 0xc0) {
        if (pos + 1 >= end) return None
        jumps += 1
        if (jumps > 64) return None // pointer loop guard
        if (after < 0) after = pos + 2
        pos = msgStart + (((len & 0x3f) << 8) | (b(pos + 1) & 0xff))
      } else if ((len & 0xc0) != 0) {
        return None // reserved label types
      } else {
        if (pos + 1 + len > end) return None
        if (labels > 0) sb.append('.')
        var i = 0
        while (i < len) {
          val c = b(pos + 1 + i) & 0xff
          // printable ASCII passthrough; others escaped \DDD like the
          // domain crate's presentation format
          if (c == '.' || c == '\\') sb.append('\\').append(c.toChar)
          else if (c >= 0x21 && c <= 0x7e) sb.append(c.toChar)
          else sb.append(f"\\$c%03d")
          i += 1
        }
        labels += 1
        if (labels > 128) return None
        pos += 1 + len
      }
    }
    None
  }
}

/** NTP dissection (reference: src/packetstats.rs:292-315): a full NTP parse
  * whose result is discarded, then the observable fallback — version bits
  * (`(b0>>3)&7`) == 2 means NTP private mode (monlist & co), whose request
  * code is byte 3. We implement the observable contract: version 2 →
  * reqcode, well-formed v3/v4 (≥ 48 bytes) → label only, anything else →
  * error count.
  */
object Ntp {
  def dissectInto(b: Array[Byte], start: Int, end: Int, a: DissectAcc): Unit = {
    val n = end - start
    if (n < 1) { a.errors += 1; return }
    val ver = ((b(start) & 0xff) >> 3) & 0x7
    if (ver == 2) {
      if (n >= 4) a.ntpPrivReqcode = b(start + 3) & 0xff
      else a.errors += 1
    } else if ((ver == 3 || ver == 4) && n >= 48) {
      () // full parse succeeds; its result is discarded (packetstats.rs:297)
    } else {
      a.errors += 1
    }
  }
}

/** DHIP device discovery (reference: src/packetstats.rs:316-338): sanitize
  * payload (bytes <32 or >127 → space), expect `"    DHIP"` prefix, JSON at
  * offset 32, extract `params.deviceInfo.DeviceType` keeping the JSON
  * quotes (serde `Value::to_string` quirk). The reference panics on
  * malformed JSON / short payload (packetstats.rs:334-335); we count an
  * error instead — a 100 TB job must survive one bad packet.
  */
object Dhip {
  def dissectInto(b: Array[Byte], start: Int, end: Int, a: DissectAcc): Unit = {
    val n = end - start
    if (n <= 0) return
    val sb = new StringBuilder(n)
    var i = start
    while (i < end) {
      val c = b(i) & 0xff
      sb.append(if (c < 32 || c > 127) ' ' else c.toChar)
      i += 1
    }
    val s = sb.toString
    if (!s.startsWith("    DHIP")) return
    if (s.length < 32) { a.errors += 1; return }
    val json = s.substring(32)
    try {
      val node = Dhip.mapper.readTree(json)
      val dev = node.path("params").path("deviceInfo").path("DeviceType")
      // serde_json renders a missing key / null as the string "null"
      a.dhipDevice = if (dev.isMissingNode) "null" else dev.toString
    } catch {
      case _: Exception => a.errors += 1
    }
  }

  // jackson ships on the Spark classpath; lazy so the pure-JVM tests that
  // never hit DHIP don't need it
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
