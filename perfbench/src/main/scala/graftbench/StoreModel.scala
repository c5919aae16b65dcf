package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator: clustered, L2-normalized vectors with an
  * 8-valued `cat` metadata field, and Zipf-skewed key choice.
  */
final class Corpus(seed: Long, val dim: Int, clusters: Int) {
  val rnd = new java.util.Random(seed)
  private val centers = Array.fill(clusters)(Corpus.normalize(Array.fill(dim)(rnd.nextGaussian())))

  def vector(): Array[Double] = {
    val c = centers(rnd.nextInt(clusters))
    Corpus.normalize(c.map(x => x + 0.6 * rnd.nextGaussian() / math.sqrt(dim)))
  }
  def cat(): String = s"c${rnd.nextInt(8)}"
}

object Corpus {
  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** Squared L2 in index order, in Double: the store's score. */
  def l2Sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}

/** Zipf(s) over ranks 0..n-1; the caller maps a rank to a key. */
final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
  private val cdf = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

final case class Rec(vector: Array[Double], cat: String, ts: Long)

/** What the store should hold: the live version of every key. Every write
  * the benchmark sends carries a timestamp larger than all earlier ones,
  * so the newest write is also the last-writer-wins winner.
  */
final class StoreModel {
  val live = mutable.HashMap[String, Rec]()
  private var clock = 1700000000000L

  def tick(): Long = { clock += 1; clock }

  def put(key: String, rec: Rec): Unit = live(key) = rec
  def delete(key: String): Unit = live -= key

  /** Brute-force top-k by (score, key), the store's total order. */
  def topK(q: Array[Double], k: Int, cat: Option[String]): Seq[(String, Double)] =
    live.iterator.filter { case (_, r) => cat.forall(_ == r.cat) }
      .map { case (key, r) => (key, Corpus.l2Sq(r.vector, q)) }
      .toSeq.sortBy { case (key, s) => (s, key) }.take(k)

  /** Live user bytes: key, vector as 4-byte floats, metadata strings. */
  def userBytes: Long = live.iterator.map { case (k, r) =>
    k.getBytes("UTF-8").length + 4L * r.vector.length + "cat".length + r.cat.length
  }.sum
}

object StoreRows {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("vector", ArrayType(DoubleType)),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("ts", LongType)))

  def frame(spark: SparkSession, rows: Seq[(String, Rec)]): DataFrame = {
    val rs = rows.map { case (k, r) => Row(k, r.vector.toSeq, Map("cat" -> r.cat), r.ts) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs,
      math.max(1, math.min(spark.sparkContext.defaultParallelism, rs.length / 256 + 1))), schema)
  }
}
