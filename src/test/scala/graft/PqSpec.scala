package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Pq

class PqSpec extends SparkSpec {
  import spark.implicits._

  // 8 rows of dim-4 vectors; ids 0..3 double as the deterministic codewords
  private def corpus() = Seq(
    (0L, Array(0.0, 0.0, 0.0, 0.0)),
    (1L, Array(1.0, 1.0, 0.0, 0.0)),
    (2L, Array(0.0, 0.0, 1.0, 1.0)),
    (3L, Array(1.0, 1.0, 1.0, 1.0)),
    (4L, Array(0.9, 1.1, 0.1, -0.1)),   // near codeword combo (1, 0)
    (5L, Array(0.1, -0.1, 0.9, 1.1)),   // near (0, 1)
    (6L, Array(1.1, 0.9, 1.1, 0.9)),    // near (1, 1)
    (7L, Array(0.02, 0.01, 0.0, 0.03))  // near (0, 0)
  ).toDF("vec_id", "embedding")

  private def cb = Pq.deterministicCodebooks(corpus(), "vec_id", "embedding",
    numSub = 2, numWords = 4)

  test("encode picks the argmin codeword per subspace, ties to the lowest code") {
    val codes = Pq.encode(corpus(), "vec_id", "embedding", cb)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    // codeword subvectors: sub0 -> {0:(0,0), 1:(1,1), 2:(0,0), 3:(1,1)},
    // sub1 -> {0:(0,0), 1:(0,0), 2:(1,1), 3:(1,1)}; duplicate codewords
    // (0≡2 in sub0, 0≡1 in sub1) must tie to the LOWEST code
    assert(codes(0)._2 === Seq(0, 0))
    assert(codes(3)._2 === Seq(1, 2))
    assert(codes(4)._2 === Seq(1, 0))
    assert(codes(5)._2 === Seq(0, 2))
    assert(codes(6)._2 === Seq(1, 2))
    assert(codes(7)._2 === Seq(0, 0))
  }

  test("ADC score equals exact distance when vectors sit exactly on codewords") {
    val exactRows = corpus().where($"vec_id" <= 3)
    val q = Array(0.25, 0.5, 0.75, 1.0)
    val adc = Pq.adcScores(Pq.encode(exactRows, "vec_id", "embedding", cb),
        "vec_id", cb, q)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val exact = exactRows
      .select($"vec_id", VectorFunctions.l2Sq($"embedding", typedLit(q)).as("s"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    adc.zip(exact).foreach { case ((_, a), (_, e)) => assert(a === e) }
  }

  test("ADC top-k with exact re-rank recovers the true nearest neighbors") {
    val q = Array(1.0, 1.0, 1.0, 1.0)
    val got = Pq.adcTopK(corpus(), "vec_id", "embedding", cb, q, k = 3,
        rerankFrom = Some(6))
      .collect().map(_.getLong(0)).toSeq
    val truth = corpus()
      .select($"vec_id", VectorFunctions.l2Sq($"embedding", typedLit(q)).as("s"))
      .orderBy($"s".asc, $"vec_id".asc).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(got === truth)
  }

  test("IVF-PQ with all cells probed and full re-rank equals the exact top-k") {
    val q = Array(1.0, 1.0, 0.5, 0.5)
    val centroids = Seq((0L, Array(0.0, 0.0, 0.0, 0.0)), (1L, Array(1.0, 1.0, 1.0, 1.0)))
      .toDF("cid", "ce")
    val got = Pq.ivfAdcTopK(corpus(), "vec_id", "embedding", centroids, cb, q,
        k = 3, nprobe = 2, rerankFrom = Some(8))
      .collect().map(_.getLong(0)).toSeq
    val truth = corpus()
      .select($"vec_id", VectorFunctions.l2Sq($"embedding", typedLit(q)).as("s"))
      .orderBy($"s".asc, $"vec_id".asc).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(got === truth)
  }

  test("trained codebooks roundtrip through save/load and score identically") {
    val trained = Pq.trainCodebooks(corpus(), "embedding", numSub = 2,
      numWords = 2, seed = 7L)
    val dir = Files.createTempDirectory("graft-pq-").toString
    Pq.saveCodebooks(spark, trained, dir)
    val loaded = Pq.loadCodebooks(spark, dir)
    assert(loaded.numSub === trained.numSub)
    assert(loaded.numWords === trained.numWords)
    assert(loaded.dim === trained.dim)
    val q = Array(0.5, 0.5, 0.5, 0.5)
    val a = Pq.adcScores(Pq.encode(corpus(), "vec_id", "embedding", trained),
      "vec_id", trained, q).orderBy("vec_id").collect().map(_.getDouble(1)).toSeq
    val b = Pq.adcScores(Pq.encode(corpus(), "vec_id", "embedding", loaded),
      "vec_id", loaded, q).orderBy("vec_id").collect().map(_.getDouble(1)).toSeq
    assert(a === b)
  }

  test("adcScore and held top keys are bit-identical to adcScores and its root top-n") {
    val rnd = new scala.util.Random(23)
    // 60 keys on 15 distinct vectors: ADC ties, decided by the key
    val rows = (0 until 60).map { i =>
      val r = new scala.util.Random(i % 15)
      (f"key$i%03d", Array.fill(8)(r.nextGaussian()))
    }
    val df = rows.toDF("key", "vector")
    val cb = Pq.trainCodebooks(df, "vector", numSub = 4, numWords = 4, seed = 5L)
    val encoded = Pq.encode(df, "key", "vector", cb).repartition(3)
    val q = Array.fill(8)(rnd.nextGaussian())
    val sqlScores = Pq.adcScores(encoded, "key", cb, q)
      .as[(String, Double)].collect().toMap
    val table = Pq.adcTable(cb, q)
    encoded.as[(String, Array[Int])].collect().foreach { case (k, codes) =>
      assert(Pq.adcScore(table, codes) === sqlScores(k), k)
    }
    val held = Pq.loadHeldCodes(encoded, "key")
    Seq(1, 9, 60).foreach { n =>
      val sql = Pq.adcScores(encoded, "key", cb, q)
        .orderBy(col("score"), col("key")).limit(n)
        .collect().map(_.getString(0)).toSeq
      assert(Pq.heldAdcTopKeys(held, cb, q, n).toSeq === sql, s"n=$n")
    }
  }

  test("deterministicCodebooks rejects duplicate / non-contiguous id sets") {
    // duplicate id below numWords: row count matches but the mapping would
    // silently misalign — must throw
    val dup = Seq(
      (0L, Array(0.0, 0.0, 0.0, 0.0)),
      (1L, Array(1.0, 1.0, 0.0, 0.0)),
      (1L, Array(2.0, 2.0, 0.0, 0.0)),
      (3L, Array(1.0, 1.0, 1.0, 1.0))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Pq.deterministicCodebooks(dup, "vec_id", "embedding", numSub = 2, numWords = 4)
    }
    assert(e1.getMessage.contains("expected exactly ids"))
    // a missing id (0,1,3 of 0..3) must throw too
    val gap = Seq(
      (0L, Array(0.0, 0.0, 0.0, 0.0)),
      (1L, Array(1.0, 1.0, 0.0, 0.0)),
      (3L, Array(1.0, 1.0, 1.0, 1.0))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Pq.deterministicCodebooks(gap, "vec_id", "embedding", numSub = 2, numWords = 4)
    }
  }

  test("loadCodebooks rejects a partially-written artifact with a diagnostic") {
    val dir = Files.createTempDirectory("graft-pq-corrupt-").toString
    Pq.saveCodebooks(spark, cb, dir)
    // rewrite the artifact missing one (m,c) slot — a torn write
    val torn = spark.read.parquet(dir)
      .where(!($"m" === 0 && $"c" === 2)).cache()
    val dir2 = Files.createTempDirectory("graft-pq-torn-").toString
    torn.write.mode("overwrite").parquet(dir2)
    val e = intercept[IllegalArgumentException](Pq.loadCodebooks(spark, dir2))
    assert(e.getMessage.contains("corrupt artifact"))
    torn.unpersist()
  }

  test("loadCodebooks rejects torn writes that drop a whole trailing slice") {
    val dir = Files.createTempDirectory("graft-pq-meta-").toString
    Pq.saveCodebooks(spark, cb, dir)
    // dropping ALL of the last m-slice (or the whole c=max column) still
    // leaves a dense smaller grid — inferred-from-maxima validation would
    // load it silently; the declared shape must reject it
    for (pred <- Seq($"m" =!= 1, $"c" =!= 3)) {
      val torn = spark.read.parquet(dir).where(pred).cache()
      val dir2 = Files.createTempDirectory("graft-pq-slice-").toString
      torn.write.mode("overwrite").parquet(dir2)
      val e = intercept[IllegalArgumentException](Pq.loadCodebooks(spark, dir2))
      assert(e.getMessage.contains("corrupt artifact"), e.getMessage)
      torn.unpersist()
    }
  }

  test("float corpus encodes identically to its double cast (testdata shape)") {
    val f = corpus().select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // float->double cast is exact for these values; encode must agree
    val cf = Pq.encode(f, "vec_id", "embedding", cb)
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    val cd = Pq.encode(corpus(), "vec_id", "embedding", cb)
      .orderBy("vec_id").collect().map(_.getSeq[Int](1))
    assert(cf.toSeq === cd.toSeq)
  }

  test("adcTopK and ivfAdcTopK honor filter and threshold (SearchRequest surface)") {
    val q = Array(0.25, 0.5, 0.75, 1.0)
    val got = Pq.adcTopK(corpus(), "vec_id", "embedding", cb, q, k = 8,
      rerankFrom = Some(8), filter = Some($"vec_id" % 2 === 0),
      threshold = Some(2.0)).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(0) % 2 === 0L, "filter must hold on every result")
      assert(r.getDouble(1) <= 2.0, "threshold must bound every score")
    }
    val cent = corpus().where($"vec_id" <= 1)
      .select($"vec_id".as("cid"), $"embedding".as("ce"))
    val ivf = Pq.ivfAdcTopK(corpus(), "vec_id", "embedding", cent, cb, q,
      k = 8, nprobe = 2, rerankFrom = Some(8),
      filter = Some($"vec_id" % 2 === 0), threshold = Some(2.0)).collect()
    ivf.foreach { r =>
      assert(r.getLong(0) % 2 === 0L)
      assert(r.getDouble(1) <= 2.0)
    }
    // unfiltered call unchanged (regression guard on the new defaults)
    val plain = Pq.adcTopK(corpus(), "vec_id", "embedding", cb, q, k = 3)
    assert(plain.count() === 3)
  }

  test("adcKnnJoin scores bit-match per-query adcTopK for every query") {
    val encoded = Pq.encode(corpus(), "vec_id", "embedding", cb)
    val queries = corpus().where($"vec_id".isin(0L, 4L, 6L))
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val joined = Pq.adcKnnJoin(encoded, queries, "vec_id", "qid", "qvec", cb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- Seq(0L, 4L, 6L)) {
      val qv = corpus().where($"vec_id" === qid)
        .select($"embedding").head().getSeq[Double](0).toArray
      val single = Pq.adcTopK(corpus(), "vec_id", "embedding", cb, qv, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(joined(qid) === single, s"qid=$qid")
    }
  }

  test("adcKnnJoin pair scan touches codes + broadcast table, no vector column") {
    val encoded = Pq.encode(corpus(), "vec_id", "embedding", cb)
    val queries = corpus().limit(1).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val plan = Pq.adcKnnJoin(encoded, queries, "vec_id", "qid", "qvec", cb, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(3000)) // query side broadcasts
  }
}
