package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Pq, SampledKMeans, SimilaritySearch}

class SampledKMeansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val probe = Probe.Listener.attach(spark)

  private def vecs(rows: Seq[Array[Double]]): DataFrame =
    rows.map(_.toSeq).toDF("v")

  private def same(a: Array[Array[Double]], b: Array[Array[Double]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) }

  test("training is bit-identical on repartition(1) and repartition(7) input") {
    val one = emb.repartition(1)
    val seven = emb.repartition(7)
    // a cap below the corpus size: the sample itself must not depend on
    // the partitioning
    assert(same(SampledKMeans.sample(one, "embedding", 100, 42L),
      SampledKMeans.sample(seven, "embedding", 100, 42L)))
    assert(same(SampledKMeans.fit(one, "embedding", 4, 42L),
      SampledKMeans.fit(seven, "embedding", 4, 42L)))
    val pq1 = Pq.trainCodebooks(one, "embedding", numSub = 4, numWords = 8)
    val pq7 = Pq.trainCodebooks(seven, "embedding", numSub = 4, numWords = 8)
    assert(pq1.words.indices.forall(m => same(pq1.words(m), pq7.words(m))))
    val c1 = SimilaritySearch.trainCentroids(one, "embedding", k = 4)
      .orderBy("cid").collect().map(_.getSeq[Double](1))
    val c7 = SimilaritySearch.trainCentroids(seven, "embedding", k = 4)
      .orderBy("cid").collect().map(_.getSeq[Double](1))
    assert(c1.toSeq === c7.toSeq)
  }

  test("the sample never holds more than its cap, in one Spark job") {
    val n = emb.count().toInt
    val capped = probe.measure(SampledKMeans.sample(emb, "embedding", 37, 7L))
    assert(capped.value.length === 37)
    assert(capped.totals.jobs === 1L, capped.totals)
    assert(SampledKMeans.sample(emb, "embedding", n + 100, 7L).length === n)
    // one cell caps its sample at 256 of the corpus's 500 points
    val oneCell = probe.measure(SampledKMeans.fit(emb, "embedding", 1, 7L))
    assert(oneCell.totals.jobs === 1L, oneCell.totals)
  }

  test("fewer distinct points than words or cells keeps the M x K shape") {
    val three = vecs(Seq.fill(5)(Seq(
      Array(0.0, 0.0, 1.0, 1.0), Array(2.0, 2.0, 3.0, 3.0),
      Array(4.0, 4.0, 5.0, 5.0))).flatten)
    val cb = Pq.trainCodebooks(three, "v", numSub = 2, numWords = 8, seed = 3L)
    assert(cb.words.length === 2)
    cb.words.foreach { ws =>
      assert(ws.length === 8)
      ws.foreach(w => assert(w.length === 2))
      assert(ws.map(_.toSeq).distinct.length === 3)
    }
    // every row encodes to the codeword equal to its own slice
    Pq.encode(three, "v", "v", cb).collect().foreach { r =>
      val v = r.getSeq[Double](0).toArray
      r.getSeq[Int](1).zipWithIndex.foreach { case (c, m) =>
        assert(cb.words(m)(c).sameElements(v.slice(2 * m, 2 * m + 2)))
      }
    }
    val cents = SimilaritySearch.trainCentroids(three, "v", k = 5, seed = 3L)
    assert(cents.count() === 5L)
  }

  test("empty corpus and null/NaN/infinite/wrong-length vectors fail loudly") {
    val good = Array(1.0, 2.0)
    val cases = Seq(
      "empty corpus" -> vecs(Nil),
      "null vector" -> Seq(Some(good.toSeq), None).toDF("v"),
      "NaN element" -> vecs(Seq(good, Array(1.0, Double.NaN))),
      "infinite element" -> vecs(Seq(good, Array(Double.NegativeInfinity, 0.0))),
      "null element" -> Seq(Seq(Some(1.0), Some(2.0)), Seq(Some(1.0), None)).toDF("v"),
      "wrong length" -> vecs(Seq(good, Array(1.0, 2.0, 3.0))))
    cases.foreach { case (what, df) =>
      intercept[IllegalArgumentException](
        SimilaritySearch.trainCentroids(df, "v", k = 2))
      intercept[IllegalArgumentException](
        Pq.trainCodebooks(df, "v", numSub = 1, numWords = 2))
      info(s"$what: rejected")
    }
  }

  test("a bad row outside the sample still fails the sample") {
    import org.apache.spark.sql.functions.{col, min, size}
    val clean = emb.select(col("embedding").cast("array<double>").as("v"))
    val dim = clean.select(size(col("v"))).head().getInt(0)
    val lowest = clean.select(min(SampledKMeans.sampleKey(col("v"), 42L))).head().getLong(0)
    val cases = Seq(
      "NaN element" -> Array.fill(dim)(0.5).updated(0, Double.NaN),
      "wrong length" -> Array.fill(dim + 1)(0.5))
    cases.foreach { case (what, row) =>
      val bad = vecs(Seq(row))
      // cap 1 samples the lowest key alone, and the clean corpus holds it
      val badKey = bad.select(SampledKMeans.sampleKey(col("v"), 42L)).head().getLong(0)
      assert(badKey > lowest, what)
      intercept[IllegalArgumentException](
        SampledKMeans.sample(clean.unionByName(bad), "v", 1, 42L))
      info(s"$what outside a 1-row sample: rejected")
    }
  }

  test("driver probe order equals probeCells, ties included") {
    // five cells at distance 1 from the query, one duplicated: a total
    // tie broken by cid alone
    val ring = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0),
      Array(0.0, -1.0), Array(1.0, 0.0), Array(3.0, 3.0))
    val trained = SampledKMeans.fit(emb, "embedding", 8, 42L)
    val rnd = new scala.util.Random(5)
    val queries = Seq(ring -> Array(0.0, 0.0), ring -> Array(1.0, 0.0)) ++
      Seq.fill(4)(trained -> Array.fill(64)(rnd.nextGaussian() * 0.1)) ++
      trained.take(2).map(c => trained -> c)
    queries.foreach { case (cents, q) =>
      val frame = SimilaritySearch.centroidFrame(spark, cents)
      (1 to cents.length).foreach { nprobe =>
        val viaSpark = SimilaritySearch.probeCells(frame, q, nprobe)
          .collect().map(_.getLong(0)).toSeq
        assert(SimilaritySearch.probeOrder(cents, q, nprobe).toSeq === viaSpark)
      }
    }
    assert(SimilaritySearch.probeOrder(ring, Array(0.0, 0.0), 6).toSeq ===
      Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }
}
