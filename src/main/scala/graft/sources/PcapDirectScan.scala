package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceRDD
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

import graft.spark.PcapSource

/** The convert's plan-free pcap scan: its jobs run straight on the DSv2
  * scan's own input partitions and readers, with no Catalyst analysis,
  * optimisation or physical planning in between. Built once per
  * convert, it takes the listed input files and the session's Hadoop
  * configuration, cuts the files' partitions once with
  * [[PcapShardPlan]] (the layout [[PcapScan.planInputPartitions]] plans;
  * every pass of the convert reads the same byte ranges) and broadcasts
  * one Hadoop configuration that every reader factory and the convert's
  * writer share. Each [[batches]] call is one `DataSourceRDD` over a
  * [[PcapReaderFactory]]: the same readers, metrics accumulators, ff
  * gate and patch broadcast as a `spark.read.format("pcap")` scan with
  * the same options, minus the pushed-filter residual (callers push
  * only filters the reader evaluates exactly).
  */
private[graft] final class PcapDirectScan(spark: SparkSession, hconf: Configuration,
    files: Seq[String], refCompat: Boolean, decodePartitions: Int) {
  private val sc = spark.sparkContext
  /** `hconf`, broadcast once for the whole convert. */
  val conf: Broadcast[SerializableConfiguration] =
    sc.broadcast(new SerializableConfiguration(hconf))
  private lazy val parts: Array[InputPartition] =
    PcapShardPlan.cut(files, decodePartitions, refCompat, hconf)

  /** One scan job's batches over `required` (any order of packet-schema
    * columns). `filters` must be exact on the reader's emitted rows: no
    * residual filter runs above them.
    */
  def batches(required: StructType, metrics: Option[PcapSource.Metrics],
      filters: Array[Filter] = Array.empty, ffGate: Boolean = false,
      patch: Option[Broadcast[DefragPatch.PatchMap]] = None): RDD[ColumnarBatch] = {
    val factory = PcapReaderFactory(conf, required, refCompat, filters,
      metrics, ffGate, patch)
    // a columnar DataSourceRDD yields its batches typed as rows, as
    // BatchScanExec's columnar execution reads them
    new DataSourceRDD(sc, parts.toSeq.map(Seq(_)), factory,
      columnarReads = true, Map.empty).asInstanceOf[RDD[ColumnarBatch]]
  }

  /** The fused stats pass's input: the first-fragment-gated scan,
    * counting (total, fragmented) into `sm` for every frame, emitting
    * only UDP first fragments, projected to
    * [[DefragPatch.ArgminSchema]].
    */
  def firstFragmentRows(sm: PcapSource.Metrics): RDD[InternalRow] =
    batches(DefragPatch.ArgminSchema, Some(sm), PcapDirectScan.FirstFragment,
      ffGate = true).mapPartitions(_.flatMap(_.rowIterator().asScala))
}

private[graft] object PcapDirectScan {
  /** `Defrag.firstFragmentCond` (`ip_proto = 17 AND ip_mf AND
    * ip_frag_offset = 0`) as reader filters. All three columns are L3
    * and never NULL, so the reader's L3 veto evaluates it exactly: the
    * same rows the conjunction keeps above a DataFrame scan.
    */
  val FirstFragment: Array[Filter] = Array(EqualTo("ip_proto", 17.toShort),
    EqualTo("ip_mf", true), EqualTo("ip_frag_offset", 0))
}
