package graft

/** Smoke: every registered query runs at sf0.001 with a non-degenerate
  * schema, and the oracle registry stays consistent with the query registry.
  */
class QueriesSmokeSpec extends SparkSpec {

  test("oracle keys are a subset of query keys; no empty SQL") {
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"orphan oracles: ${ok -- qk}")
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("q17, q70 and q107 leave no persisted block behind") {
    // compared by id: an earlier suite's unreferenced block may be
    // dropped by the ContextCleaner mid-test
    Seq("q17_minhash_lsh_dedup", "q70_pagerank", "q107_store_bq_serve").foreach { q =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(SparkEntry.queries(q)(spark, sf0001).collect().nonEmpty, q)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$q left persisted RDDs $left")
    }
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
