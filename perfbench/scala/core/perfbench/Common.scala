package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

object Json {
  val mapper = new ObjectMapper()
  def elements(n: JsonNode): Seq[JsonNode] = {
    val b = Seq.newBuilder[JsonNode]
    n.elements().forEachRemaining(e => b += e)
    b.result()
  }
  def str(s: String): String = mapper.writeValueAsString(s)
  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** Command line shared by both entry points. `launchedMs` is the wall-clock
  * time at which the JVM was spawned; set-up time is measured from it.
  * `packets` and `warmUp` are fixed for measured runs; only [[Train]],
  * which needs the classes loaded rather than timings, changes them.
  */
final case class Opts(workload: String, seed: Long, seconds: Double,
    work: String, cores: Int, launchedMs: Long, packets: Int = Common.Packets,
    warmUp: Boolean = true)

object Opts {
  def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--work"), need("--cores").toInt, need("--launched-ms").toLong)
  }
}

/** Failures of one run: every failed op is counted against the attempted
  * ops, with its reason kept for the artifact.
  */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val reasons = mutable.ArrayBuffer.empty[String]
  def fail(why: String): Unit = {
    failed += 1
    if (reasons.size < 20) reasons += why
  }
}

object Common {
  /** The workloads' fixed sizes: the seed never changes them. */
  val Packets = 500000
  val FileCount = 8

  def session(o: Opts): SparkSession = {
    // only master, shuffle partitions and local dir are set: nothing
    // session-wide is tuned for the benchmark
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", (2 * o.cores).toString)
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .getOrCreate()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run a set-up step and log its wall time to stderr. */
  def step[T](name: String)(body: => T): T = {
    val (r, dt) = seconds(body)
    System.err.println(f"[perfbench] $name%s: $dt%.3f s")
    r
  }

  /** Order-independent digest of a frame's rows: (row count, sum of a
    * 64-bit hash over the columns in name order plus a null mask). Equal
    * digests mean equal multisets of rows up to hash collisions,
    * whatever the column order or partitioning.
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.toSeq
    val nulls = concat_ws("", cols.map(c => when(col(c).isNull, "1").otherwise("0")): _*)
    val h = xxhash64((cols.map(col) :+ nulls): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Committed parquet bytes and part-file count under a convert output. */
  def parquetBytes(dir: String): (Long, Int) = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.map(_.length()).sum, files.length)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadavg(): String = try {
    val p = new String(Files.readAllBytes(new File("/proc/loadavg").toPath),
      StandardCharsets.US_ASCII).trim.split("\\s+")
    s"[${p(0)},${p(1)},${p(2)}]"
  } catch { case _: Exception => "[]" }

  /** Fixed-work CPU row: `threads` threads each run the same integer
    * loop (no IO, no allocation); the median of three timed rounds after
    * one discarded warm-up. Compared across runs it shows whether the box
    * was loaded; it is reported, never gated.
    */
  def calibrate(threads: Int): Double = {
    def round(): Unit = {
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => {
          var x = 1L
          var i = 0
          while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
          if (x == 42L) System.err.println(x)
        })
        t.start(); t
      }
      ts.foreach(_.join())
    }
    round()
    median((1 to 3).map(_ => seconds(round())._2))
  }

  def writeFile(path: String, s: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
    ()
  }
}
