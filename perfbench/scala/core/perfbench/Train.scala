package perfbench

/** The class-loading run behind the build's class-data-sharing archive:
  * every untraced workload once, on a tiny corpus, in one JVM, so the
  * archive holds the classes a measured run loads. Its results are unused.
  *
  * Usage: perfbench.Train <work dir> <cores>
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val base = Opts("", 1L, 0.0, argv(0), argv(1).toInt, System.currentTimeMillis(),
      packets = 16000, warmUp = false)
    val spark = Common.session(base)
    try Seq("convert_ddos", "packet_query").foreach { w =>
      Main.measure(spark, base.copy(workload = w, work = s"${argv(0)}/$w"))
    } finally spark.stop()
  }
}
