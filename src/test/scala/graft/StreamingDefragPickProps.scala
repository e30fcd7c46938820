package graft

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.streaming.StreamingDefrag
import graft.streaming.StreamingDefrag.FragRow

/** The streaming defrag's single-pass first-fragment pick equals a
  * sortBy reference, and the whole stateful transform (plain and
  * bypass-split) emits the ROW MULTISET of the batch declarative defrag
  * over the same rows (order was never a contract: the parquet sink's
  * order is partition-arbitrary and the s07 oracle compares sorted).
  */
object StreamingDefragPickProps extends Properties("streaming-defrag-pick") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val genOptInt = Gen.option(Gen.chooseNum(0, 65535))
  private val genOptShort = Gen.option(Gen.chooseNum(0, 255).map(_.toShort))
  private val genOptStr =
    Gen.option(Gen.oneOf("a.example", "b.example", "DNS", "UDP", "NTP"))

  private val genRow: Gen[FragRow] = for {
    tsu <- Gen.chooseNum(0L, 5L) // tight range forces tsu ties
    mf <- Gen.oneOf(true, false)
    off <- Gen.oneOf(0, 0, 0, 6, 12) // bias toward first fragments
    proto <- Gen.frequency(4 -> Gen.const(17.toShort), // mostly UDP…
      1 -> Gen.oneOf(6.toShort, 1.toShort)) // …some TCP/ICMP (bypass slice)
    us <- genOptInt; ud <- genOptInt; ntp <- genOptShort
    dt <- genOptInt; dn <- genOptStr; cp <- genOptStr
  } yield FragRow("1.1.1.1", "2.2.2.2", proto, 7, tsu, mf, off, us, ud, ntp, dt, dn, cp)

  private val genGroup = Gen.chooseNum(1, 12).flatMap(Gen.listOfN(_, genRow))

  property("single-pass min pick ≡ sortBy-find pick, all tie shapes") =
    Prop.forAll(genGroup) { rows =>
      def isFf(r: FragRow) = r.ip_proto == 17 && r.ip_mf && r.ip_frag_offset == 0
      val viaSort = rows.sortBy(r => (r.tsu, r.udp_srcport, r.udp_dstport,
        r.ntp_priv_reqcode, r.dns_qry_type, r.dns_qry_name, r.col_protocol))
        .find(isFf)
      val ffs = rows.filter(isFf)
      val viaMin =
        if (ffs.isEmpty) None else Some(ffs.min(StreamingDefrag.ffOrdering))
      Prop(viaSort == viaMin) :| s"sort=$viaSort min=$viaMin"
    }

  property("stateful ≡ batch defrag: same row multiset") =
    Prop.forAll(Gen.chooseNum(1, 4).flatMap(n =>
        Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 2), genGroup)))) { keyed =>
      val spark = SparkTestBase.spark
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      // distinct ip_id per generated group index so groups don't merge
      val rows = keyed.zipWithIndex.flatMap { case ((idv, rs), i) =>
        rs.map(_.copy(ip_id = idv * 100 + i))
      }
      val df = rows.toDF()
      def canon(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      val stateful = StreamingDefrag.defragStateful(df)
      // the batch reference: Defrag.firstFragments' min(struct) pick,
      // then the left join + coalesce, with tsu in frame_time's place
      val batch = graft.spark.Defrag.defrag(df.withColumnRenamed("tsu", "frame_time"))
        .withColumnRenamed("frame_time", "tsu")
        .select(stateful.columns.toSeq.map(col): _*)
      val want = canon(batch)
      // the bypass split routes non-UDP rows around the state shuffle —
      // same multiset again (the split proof: no UDP row ever bypasses)
      val got = canon(stateful)
      val split = canon(StreamingDefrag.defragStatefulSplit(df))
      Prop(got == want && split == want) :|
        s"stateful=$got split=$split batch=$want"
    }
}
