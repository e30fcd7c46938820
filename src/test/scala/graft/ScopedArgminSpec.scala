package graft

/** Round-17 scoping of the ObjectHashAggregate fallback threshold
  * (r16 verdict #3): the raised threshold must ride a session CLONE
  * attached to argmin-bearing frames, never the caller's session.
  */
class ScopedArgminSpec extends SparkFunSuite {
  import graft.functions.MinStructAgg

  test("scoped() re-roots into a clone carrying the raised threshold; parent keeps default") {
    val df = spark.range(10).selectExpr("id % 3 AS k", "id AS v")
    val s = MinStructAgg.scoped(df)
    assert(s.sparkSession ne spark)
    assert(s.sparkSession.conf.get(MinStructAgg.FallbackKey) ===
      MinStructAgg.FallbackThreshold.toString)
    // the parent session's conf is untouched (Spark default is 128)
    assert(spark.conf.get(MinStructAgg.FallbackKey) === "128")
    // same SparkContext (caches/accumulators/broadcasts shared)
    assert(s.sparkSession.sparkContext eq spark.sparkContext)
    // rows unchanged by the re-root
    assert(s.collect().map(_.toSeq).toSet === df.collect().map(_.toSeq).toSet)
  }

  test("scoped() is idempotent and caches one clone per parent") {
    val a = MinStructAgg.scoped(spark.range(5).toDF())
    val b = MinStructAgg.scoped(spark.range(7).toDF())
    assert(a.sparkSession eq b.sparkSession)
    // re-scoping a frame already in the clone is a no-op
    val again = MinStructAgg.scoped(a)
    assert(again eq a)
  }

  test("KMeansIvf results execute under the clone, caller session untouched") {
    val emb = spark.range(0, 40).selectExpr("id AS vec_id",
      "array(CAST(id % 7 AS DOUBLE), CAST(id % 5 AS DOUBLE), 1.0D) AS embedding")
    val (centroids, assigned) = graft.operators.KMeansIvf.fit(emb, 4, 2)
    assert(assigned.sparkSession.conf.get(MinStructAgg.FallbackKey) ===
      MinStructAgg.FallbackThreshold.toString)
    assert(spark.conf.get(MinStructAgg.FallbackKey) === "128")
    // every point assigned exactly once, to a live cell
    val cells = centroids.select("cell").collect().map(_.getInt(0)).toSet
    val rows = assigned.select("vec_id", "cell").collect()
    assert(rows.length === 40)
    assert(rows.map(_.getInt(1)).forall(cells.contains))
  }
}
