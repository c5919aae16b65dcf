package graft

import org.apache.spark.sql.functions._

import graft.operators.{KeyedRows, Nsw, SimilaritySearch}

/** Partition-local NSW graph index: exactness invariant, approximate-mode
  * recall, batch scatter-gather shape, determinism.
  */
class NswSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .repartition(4, col("vec_id"))

  private def exact(qid: Long, k: Int): Seq[(Long, Double)] =
    graft.operators.Knn.search(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), "vec_id", "embedding",
      graft.queries.CoreQueries.queryVec(spark, sf0001), k)
      .as[(Long, Double)].collect().toSeq

  test("exhaustive ef (the exactness invariant) equals exact KNN") {
    val got = Nsw.nswTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
      m = 4, efConstruction = 16, efSearch = 1 << 22)
      .as[(Long, Double)].collect().toSeq
    assert(got === exact(0L, 5))
  }

  test("approximate beam finds the query's own row and ranks ascending") {
    val got = Nsw.nswTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
      m = 8, efConstruction = 32, efSearch = 64)
      .as[(Long, Double)].collect().toSeq
    // the query row is in some partition; its beam starts somewhere but
    // score 0 is the global minimum — it must surface if visited; assert
    // the weaker always-true contracts: k rows, ascending, non-negative
    assert(got.length === 5)
    assert(got.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
    assert(got.forall(_._2 >= 0.0))
  }

  test("approximate recall@5 is high on the fixture corpus") {
    val truth = exact(0L, 5).map(_._1).toSet
    val got = Nsw.nswTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
      m = 8, efConstruction = 64, efSearch = 64)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("batch form answers every query; per-query k rows, merged globally") {
    val qs = Seq(0L, 7L, 23L).map { qid =>
      val v = spark.read.parquet(s"$sf0001/embeddings.parquet")
        .where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      (qid, v)
    }
    val got = Nsw.nswTopKBatch(emb, "vec_id", "embedding", qs, k = 3,
      m = 4, efConstruction = 16, efSearch = 1 << 22)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1).distinct.sorted === Seq(0L, 7L, 23L))
    qs.foreach { case (qid, _) =>
      val rows = got.filter(_._1 == qid).sortBy(r => (r._3, r._2))
      assert(rows.length === 3)
      // exhaustive ef ⇒ the query's own row leads with score 0
      assert(rows.head._2 === qid && rows.head._3 === 0.0)
    }
  }

  test("deterministic: same data, same partitioning -> identical results") {
    def run() = Nsw.nswTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
      m = 8, efConstruction = 32, efSearch = 48)
      .as[(Long, Double)].collect().toSeq
    assert(run() === run())
  }

  test("empty partitions are tolerated (more partitions than rows)") {
    val tiny = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(col("vec_id") < 3).repartition(8, col("vec_id"))
    val got = Nsw.nswTopK(tiny, "vec_id", "embedding", queryId = 0L, k = 3,
      m = 2, efConstruction = 8, efSearch = 1 << 22)
      .as[(Long, Double)].collect().toSeq
    assert(got.length === 3 && got.head._1 === 0L && got.head._2 === 0.0)
  }

  test("approximate-mode scores are TRUE distances, never graph artifacts") {
    // whatever the beam returns, the reported score must equal the real
    // squared L2 between the query row and the returned row — recompute
    // each with the codegen distance and compare bit-for-bit
    val got = Nsw.nswTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
      m = 8, efConstruction = 32, efSearch = 24)
      .as[(Long, Double)].collect().toSeq
    val emb0 = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = graft.queries.CoreQueries.queryVec(spark, sf0001)
    val byId = emb0
      .select(col("vec_id"),
        graft.functions.VectorFunctions.l2Sq(col("embedding"), typedLit(q)).as("d"))
      .where(col("vec_id").isin(got.map(_._1): _*))
      .as[(Long, Double)].collect().toMap
    got.foreach { case (id, score) =>
      assert(byId(id) === score, s"id $id: reported $score != true ${byId(id)}")
    }
  }

  /** The fixture as the keyed artifact's input: zero-padded string keys
    * (string order = id order), empty metadata, the id as version.
    */
  private def keyed(df: org.apache.spark.sql.DataFrame) = df.select(
    format_string("%06d", col("vec_id")).as("key"), col("embedding"),
    typedLit(Map.empty[String, String]).as("metadata"), col("vec_id").as("ts"))

  /** Serve `qs` from a keyed artifact through the load-once pair: the
    * whole beam per graph, cut to each query's top k in Spark's (score,
    * key) order — (query_id, id, score) sorted.
    */
  private def servedKeyed(dir: String, qs: Seq[(Long, Array[Double])], k: Int,
      efSearch: Int): Seq[(Long, Long, Double)] =
    Nsw.searchLoaded(Nsw.loadIndexKeyed(spark, dir, "key"), qs, k, efSearch)
      .groupBy(_._1).toSeq.flatMap { case (qid, beam) =>
        beam.map(c => (c._4, c._2)).sorted(KeyedRows.ScoreKeyOrder).take(k)
          .map { case (score, key) => (qid, key.toLong, score) }
      }.sorted

  test("persisted index serves identically to the live build (approx + exact)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nswidx-").toString
    val emb0 = spark.read.parquet(s"$sf0001/embeddings.parquet")
    Nsw.buildIndexKeyed(keyed(emb0), "key", "embedding", dir,
      m = 8, efConstruction = 32, numPartitions = 4)
    val qs = Seq(0L, 7L, 23L).map { qid =>
      val v = emb0.where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray
      (qid, v)
    }
    // the live form over the SAME (pinned) placement/params builds the
    // SAME graphs, so approximate-mode results must coincide exactly
    def live(ef: Int) = Nsw.nswTopKBatchKeyed(
        keyed(emb0), "key", "embedding",
        qs, k = 5, m = 8, efConstruction = 32, efSearch = ef,
        numPartitions = Some(4))
      .as[(Long, String, Double)].collect().toSeq
      .map(r => (r._1, r._2.toLong, r._3)).sorted
    def served(ef: Int) = servedKeyed(dir, qs, k = 5, efSearch = ef)
    assert(served(48) === live(48))          // approximate beam
    assert(served(1 << 20) === live(1 << 20)) // exhaustive (exact)
    // and the exact mode really is exact
    assert(served(1 << 20).filter(_._1 == 0L).map(r => (r._2, r._3)) ===
      exact(0L, 5).sorted)
  }

  test("append property: build(A ∪ B) == build(A) + append(B) at full beam") {
    val emb0 = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val a = emb0.where(col("vec_id") % 3 =!= 0)
    val b = emb0.where(col("vec_id") % 3 === 0)
    val dirAll = java.nio.file.Files.createTempDirectory("graft-nsw-all-").toString
    val dirInc = java.nio.file.Files.createTempDirectory("graft-nsw-inc-").toString
    Nsw.buildIndexKeyed(keyed(emb0), "key", "embedding", dirAll,
      m = 6, efConstruction = 24, numPartitions = 4)
    Nsw.buildIndexKeyed(keyed(a), "key", "embedding", dirInc,
      m = 6, efConstruction = 24, numPartitions = 4)
    Nsw.appendToIndexKeyed(keyed(b), "key", "embedding", dirInc)
    val qs = Seq(0L, 7L, 23L).map { qid =>
      (qid, emb0.where(col("vec_id") === qid)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray)
    }
    // graph SHAPES differ (insertion order differs) but a full-width beam
    // is exhaustive per partition, so the searches must agree exactly
    def served(dir: String) = servedKeyed(dir, qs, k = 5, efSearch = 1 << 20)
    assert(served(dirInc) === served(dirAll))
    // appended rows landed on the partition the from-scratch build chose:
    // same rows per pid in both artifacts
    val perPid = (dir: String) => spark.read.parquet(dir)
      .select(col("pid").cast("int"), col("key"))
      .as[(Int, String)].collect().toSet
    assert(perPid(dirInc) === perPid(dirAll))
  }

  test("exactness invariant agrees with the IVF full-probe invariant") {
    // two independent 'degenerate exact' paths must coincide
    val emb0 = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val viaIvf = SimilaritySearch.ivfTopK(emb0, "vec_id", "embedding",
      col("vec_id") < 8, queryId = 0L, k = 5, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val viaNsw = Nsw.nswTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5,
      m = 4, efConstruction = 16, efSearch = 1 << 22)
      .as[(Long, Double)].collect().toSeq
    assert(viaNsw === viaIvf)
  }

  test("seeding experiment: both entry policies are exact at full-width " +
      "beam, and the hierarchy reports its own evals") {
    val rows = (0L until 50L).map(i =>
      (i, Array(i.toDouble, (i * 7 % 50).toDouble))).toArray
    val queries = Seq(Array(3.0, 21.0), Array(40.0, 40.0))
    val res = Nsw.seedingExperiment(rows, queries, k = 3, m = 4,
      efConstruction = 8, efSearch = Seq(50), efUpper = Seq(4))
    // ef >= n: the exactness shortcut holds for flat AND hierarchical
    // entry (exactness must never depend on where the beam starts)
    res.foreach { case (mode, _, recall, evals) =>
      assert(recall === 1.0, s"$mode not exact at full-width beam")
      assert(evals > 0, s"$mode reported no distance evals")
    }
  }
}
