package graft.sources

import org.apache.spark.sql.sources._

import graft.core.PacketRow
import graft.dissect.DissectAcc

/** Reader-side filter evaluation for the pcap DSv2 source: pushed filters
  * run against the dissected packet *before* materialization, skipping
  * the vector-building cost for dropped packets (e.g. the fragment-gate
  * `ip_frag_offset = 0` or a `col_protocol = 'DNS'` slice of a
  * capture). [[compileAcc]] compiles the filter tree over the unboxed
  * [[graft.dissect.DissectAcc]] the reader fills (no per-packet boxing
  * just to test a predicate). [[getter]] is the same value domain over
  * the Option-boxed [[PacketRow]]: the reference the accumulator
  * getters are property-checked against (DissectorProps).
  * Supported: =, <, <=, >, >=, IN, IsNull / IsNotNull, And/Or/Not over
  * the scalar packet columns.
  */
object PcapFilters {

  /** Columns we can evaluate pre-materialization, as Option[Any] getters
    * in the value domain Spark compares with (Int/Long/Short/Boolean/
    * String). `pcapFile` parameterizes the constant-per-file column
    * DIRECTLY — substituting a sentinel into every getter's VALUE would
    * also rewrite a data value that happens to equal the sentinel (and a
    * reader-skipped row is gone for good; Spark's residual re-evaluation
    * never sees it).
    */
  private[graft] def getter(attr: String,
      pcapFile: String = ""): Option[PacketRow => Option[Any]] = attr match {
    case "frame_time" => None // timestamp comparison left to Spark
    case "frame_len" => Some(r => r.frameLen)
    case "eth_type" => Some(r => r.ethType)
    case "ip_src" | "col_source" => Some(r => r.ipSrc)
    case "ip_dst" | "col_destination" => Some(r => r.ipDst)
    case "ip_proto" => Some(r => Some(r.ipProto))
    case "ip_ttl" => Some(r => r.ipTtl)
    case "ip_frag_offset" => Some(r => Some(r.ipFragOffset))
    case "ip_id" => Some(r => Some(r.ipId))
    case "ip_mf" => Some(r => Some(r.ipMf))
    case "icmp_type" => Some(r => r.icmpType)
    case "udp_length" => Some(r => r.udpLength)
    case "udp_srcport" => Some(r => r.udpSrcport)
    case "udp_dstport" => Some(r => r.udpDstport)
    case "tcp_flags" => Some(r => r.tcpFlags)
    case "tcp_srcport" => Some(r => r.tcpSrcport)
    case "tcp_dstport" => Some(r => r.tcpDstport)
    case "col_protocol" => Some(r => r.colProtocol)
    case "dns_qry_name" => Some(r => r.dnsQryName)
    case "dns_qry_type" => Some(r => r.dnsQryType)
    case "ntp_priv_reqcode" => Some(r => r.ntpPrivReqcode)
    case "dhip_device" => Some(r => r.dhipDevice)
    case "pcap_file" => Some(_ => Some(pcapFile))
    case _ => None
  }

  /** The same value-domain getters over the UNBOXED dissection
    * accumulator — the reader's filter path evaluates here directly,
    * skipping the per-packet Option-boxed PacketRow that `toPacketRow`
    * materializes. MUST stay value-identical to `getter` composed
    * with `DissectAcc.toPacketRow` — pinned per column on fuzzed frames
    * by DissectorProps.
    */
  private[graft] def accGetter(attr: String,
      pcapFile: String = ""): Option[DissectAcc => Option[Any]] = {
    import graft.dissect.DissectAcc.{FlagStr, ProtoStr}
    attr match {
      case "frame_time" => None // timestamp comparison left to Spark
      case "frame_len" => Some(a => Some(a.frameLen))
      case "eth_type" => Some(a => if (a.ethType < 0) None else Some(a.ethType))
      case "ip_src" | "col_source" => Some(a => Option(a.ipSrcStr))
      case "ip_dst" | "col_destination" => Some(a => Option(a.ipDstStr))
      case "ip_proto" => Some(a => Some(a.ipProto))
      case "ip_ttl" => Some(a => if (a.ipTtl < 0) None else Some(a.ipTtl.toShort))
      case "ip_frag_offset" => Some(a => Some(a.ipFragOffset))
      case "ip_id" => Some(a => Some(a.ipId))
      case "ip_mf" => Some(a => Some(a.ipMf))
      case "icmp_type" =>
        Some(a => if (a.icmpType < 0) None else Some(a.icmpType.toShort))
      case "udp_length" =>
        Some(a => if (a.udpLength < 0) None else Some(a.udpLength))
      case "udp_srcport" =>
        Some(a => if (a.udpSrcport < 0) None else Some(a.udpSrcport))
      case "udp_dstport" =>
        Some(a => if (a.udpDstport < 0) None else Some(a.udpDstport))
      case "tcp_flags" =>
        Some(a => if (a.tcpFlagsBits < 0) None else Some(FlagStr(a.tcpFlagsBits)))
      case "tcp_srcport" =>
        Some(a => if (a.tcpSrcport < 0) None else Some(a.tcpSrcport))
      case "tcp_dstport" =>
        Some(a => if (a.tcpDstport < 0) None else Some(a.tcpDstport))
      case "col_protocol" =>
        Some(a => if (a.protoIdx < 0) None else Some(ProtoStr(a.protoIdx)))
      case "dns_qry_name" => Some(a => Option(a.dnsQryName))
      case "dns_qry_type" =>
        Some(a => if (a.dnsQryType < 0) None else Some(a.dnsQryType))
      case "ntp_priv_reqcode" =>
        Some(a => if (a.ntpPrivReqcode < 0) None else Some(a.ntpPrivReqcode.toShort))
      case "dhip_device" => Some(a => Option(a.dhipDevice))
      case "pcap_file" => Some(_ => Some(pcapFile))
      case _ => None
    }
  }

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => accGetter(a).isDefined
    case GreaterThan(a, _) => accGetter(a).isDefined
    case GreaterThanOrEqual(a, _) => accGetter(a).isDefined
    case LessThan(a, _) => accGetter(a).isDefined
    case LessThanOrEqual(a, _) => accGetter(a).isDefined
    case In(a, _) => accGetter(a).isDefined
    case IsNull(a) => accGetter(a).isDefined
    case IsNotNull(a) => accGetter(a).isDefined
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Number, y: Number) =>
      Some(java.lang.Double.compare(x.doubleValue(), y.doubleValue()))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case _ => None
  }

  /** Compile to a predicate over the dissection accumulator. Unknown
    * shapes default to `true` (Spark re-applies all filters anyway — the
    * pushdown is an optimization, never a correctness dependency; the
    * convert's [[PcapDirectScan]] pushes only exact ones).
    */
  def compileAcc(filters: Array[Filter], pcapFile: String): DissectAcc => Boolean = {
    def getterOf(attr: String) = accGetter(attr, pcapFile)
    def one(f: Filter): DissectAcc => Boolean = f match {
      case EqualTo(a, v) => evalCmp(a, v, _ == 0)
      case GreaterThan(a, v) => evalCmp(a, v, _ > 0)
      case GreaterThanOrEqual(a, v) => evalCmp(a, v, _ >= 0)
      case LessThan(a, v) => evalCmp(a, v, _ < 0)
      case LessThanOrEqual(a, v) => evalCmp(a, v, _ <= 0)
      case In(a, vs) =>
        getterOf(a) match {
          case Some(g) => r => g(r).exists(x => vs.exists(v => cmp(x, v).contains(0)))
          case None => _ => true
        }
      case IsNull(a) =>
        getterOf(a) match {
          case Some(g) => r => g(r).isEmpty
          case None => _ => true
        }
      case IsNotNull(a) =>
        getterOf(a) match {
          case Some(g) => r => g(r).isDefined
          case None => _ => true
        }
      case And(l, r) => val (fl, fr) = (one(l), one(r)); row => fl(row) && fr(row)
      case Or(l, r) => val (fl, fr) = (one(l), one(r)); row => fl(row) || fr(row)
      case Not(c) => val fc = one(c); row => !fc(row)
      case _ => _ => true
    }
    def evalCmp(attr: String, v: Any, ok: Int => Boolean): DissectAcc => Boolean =
      getterOf(attr) match {
        case Some(g) => r => g(r).flatMap(x => cmp(x, v)).exists(ok)
        case None => _ => true
      }
    val compiled = filters.map(one)
    row => {
      var ok = true
      var i = 0
      while (ok && i < compiled.length) {
        ok = compiled(i)(row)
        i += 1
      }
      ok
    }
  }
}
