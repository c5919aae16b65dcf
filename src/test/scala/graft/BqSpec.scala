package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.l2SqFold
import graft.operators.Bq

class BqSpec extends SparkSpec {
  import spark.implicits._

  test("packBits sets exactly the positive dimensions' bits, LSB-first") {
    val vec = Array.fill(32)(0f)
    vec(0) = 1f; vec(3) = 0.5f; vec(31) = 2f; vec(5) = -7f
    val got = Seq(Tuple1(vec)).toDF("v")
      .select(Bq.packBits(col("v"), 32)).head().getSeq[Long](0)
    assert(got === Seq((1L << 0) | (1L << 3) | (1L << 31)))
  }

  test("zero and negative values never set a bit; 64 dims -> 2 words") {
    val vec = Array.fill(64)(-1f)
    vec(33) = 4f
    val got = Seq(Tuple1(vec)).toDF("v")
      .select(Bq.packBits(col("v"), 64)).head().getSeq[Long](0)
    assert(got === Seq(0L, 1L << 1))
  }

  test("hamming equals the dimension-wise sign-mismatch count on random vectors") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(20)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val q = rows.head
    val direct = rows.map(v =>
      v.zip(q).count { case (a, b) => (a > 0) != (b > 0) }.toLong)
    val got = rows.map(Tuple1(_)).toDF("v")
      .select(Bq.hamming(Bq.packBits(col("v"), 64),
        Bq.packBits(typedLit(q.toSeq), 64)))
      .as[Long].collect().toSeq
    assert(got === direct)
  }

  test("packQuery and hammingOf are bit-identical to packBits and hamming") {
    // 70 dims: a partial tail word; zeros and negatives set no bit
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(20)(Array.fill(70)((rnd.nextInt(5) - 2).toDouble))
    val q = rows.head
    val sql = rows.map(Tuple1(_)).toDF("v")
      .select(Bq.packBits(col("v"), 70).as("bits"),
        Bq.hamming(Bq.packBits(col("v"), 70), typedLit(Bq.packQuery(q))).as("ham"))
      .collect().map(r => (r.getSeq[Long](0), r.getLong(1))).toSeq
    assert(sql.map(_._1) === rows.map(v => Bq.packQuery(v).toSeq))
    assert(sql.map(_._2) === rows.map(v => Bq.hammingOf(Bq.packQuery(v), Bq.packQuery(q))))
  }

  test("held top keys equal the SQL root top-n, ties and the filter included") {
    val rnd = new scala.util.Random(17)
    // 40 keys on 10 distinct vectors: Hamming ties everywhere, so the key
    // order decides every cut
    val packed = (0 until 40).map { i =>
      val v = { val r = new scala.util.Random(i % 10); Array.fill(64)(r.nextGaussian()) }
      (f"key$i%03d", v, Map("p" -> (i % 3).toString), i.toLong)
    }.toDF("key", "vector", "metadata", "ts")
      .select(col("key"), Bq.packBits(col("vector"), 64).as("bits"),
        col("metadata"), col("ts"))
      .repartition(3)
    val held = Bq.loadHeld(packed)
    val q = Array.fill(64)(rnd.nextGaussian())
    Seq(Map.empty[String, String], Map("p" -> "1")).foreach { filter =>
      Seq(1, 7, 40).foreach { n =>
        val sql = graft.operators.Knn.metadataFilter(packed, "metadata", filter)
          .select(col("key"), Bq.hamming(col("bits"), typedLit(Bq.packQuery(q))).as("ham"))
          .orderBy(col("ham"), col("key")).limit(n)
          .collect().map(_.getString(0)).toSeq
        assert(Bq.heldTopKeys(held, Bq.packQuery(q), n, filter).toSeq === sql,
          s"n=$n filter=$filter")
      }
    }
  }

  test("full-overfetch bqTopK degrades to exact KNN (the oracle invariant)") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    val bq = Bq.bqTopK(emb, "vec_id", "embedding", dim = 64, queryId = 0L,
        k = 5, rerankFrom = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qe"))
    val exact = emb.crossJoin(broadcast(q))
      .select(col("vec_id"),
        l2SqFold(col("embedding").cast("array<double>"), col("qe")).as("s"))
      .orderBy(col("s").asc, col("vec_id").asc).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bq === exact)
  }

  test("bqTopK honors filter and threshold like the other tiers") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val got = Bq.bqTopK(emb, "vec_id", "embedding", dim = 64, queryId = 0L,
      k = 10, rerankFrom = 500, filter = Some(col("label") === 3),
      threshold = Some(15.0))
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(1) <= 15.0))
    val allowed = emb.where(col("label") === 3)
      .select("vec_id").as[Long].collect().toSet
    assert(rows.forall(r => allowed(r.getLong(0))))
  }
}
