package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.md5Low60

/** The one k-means trainer behind IVF centroids
  * ([[SimilaritySearch.trainCentroids]]) and PQ codebooks
  * ([[Pq.trainCodebooks]]). Training runs on the driver over one bounded
  * sample, the FAISS discipline: at most [[PointsPerCentroid]] points per
  * centroid are enough to place the centroids, and the corpus itself is
  * only ever assigned or encoded (a row-local pass) against the result.
  *
  * Deterministic by construction (FIXTURES §3): the sample is the `cap`
  * smallest rows by an md5-derived hash of the vector, tie-broken by the
  * vector itself, so it does not depend on partitioning; seeding is
  * k-means++ from a fixed `java.util.Random(seed)` over that sample's
  * order; distances are left-folded Doubles and every argmin breaks ties
  * to the lowest centroid id.
  */
object SampledKMeans {

  /** Training points per centroid (FAISS's default cap). */
  val PointsPerCentroid = 256

  /** Lloyd iterations at most. */
  val MaxIter = 20

  /** Train `k` centroids over a bounded sample of `vecCol`: one Spark job. */
  def fit(df: DataFrame, vecCol: String, k: Int, seed: Long): Array[Array[Double]] =
    train(sample(df, vecCol, PointsPerCentroid * k, seed), k, seed)

  /** At most `cap` vectors of `vecCol`, in ONE Spark job: a top-`cap` by
    * (hash, vector), which Spark runs as per-partition bounded heaps
    * merged on the driver. The same job observes the whole corpus, so an
    * empty corpus, a null vector, a null/NaN/infinite element or vectors
    * of different lengths fail here, loudly, even when the offending row
    * is not sampled.
    */
  def sample(df: DataFrame, vecCol: String, cap: Int, seed: Long): Array[Array[Double]] = {
    require(cap > 0, s"SampledKMeans.sample: cap must be positive, got $cap")
    val v = col("__v")
    val bad = v.isNull ||
      exists(v, x => x.isNull || isnan(x) || abs(x) === lit(Double.PositiveInfinity))
    val obs = Observation()
    val rows = df.select(col(vecCol).cast("array<double>").as("__v"))
      .observe(obs, count(lit(1)).as("n"), count(when(bad, lit(1))).as("bad"),
        min(size(v)).as("lo"), max(size(v)).as("hi"))
      .select(v, sampleKey(v, seed).as("__h"))
      .orderBy(col("__h"), v)
      .limit(cap)
      .collect()
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    require(n > 0, s"SampledKMeans: empty corpus in column $vecCol")
    val nBad = m("bad").asInstanceOf[Long]
    require(nBad == 0,
      s"SampledKMeans: $nBad of $n vectors in $vecCol are null or hold null/NaN/infinite elements")
    val (lo, hi) = (m("lo").asInstanceOf[Int], m("hi").asInstanceOf[Int])
    require(lo == hi && lo > 0,
      s"SampledKMeans: vectors in $vecCol must share one positive length, got $lo..$hi")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** The hash [[sample]] orders by (ascending, then the vector): md5Low60
    * of `"<seed>:"` and the array<double> vector as a string.
    */
  def sampleKey(v: Column, seed: Long): Column =
    md5Low60(concat(lit(s"$seed:"), v.cast("array<double>").cast("string")))

  /** k-means++ seeding, then Lloyd iterations until no point changes cell
    * (at most [[MaxIter]]). Always returns exactly `k` centroids: when the
    * points hold fewer than `k` distinct values the surplus seeds repeat
    * the previous one, and a repeated centroid never wins an argmin
    * (ties go to the lowest id), so it only keeps the shape. An emptied
    * cell keeps its previous centroid.
    */
  def train(points: Array[Array[Double]], k: Int, seed: Long): Array[Array[Double]] = {
    require(points.nonEmpty, "SampledKMeans.train: no points")
    require(k > 0, s"SampledKMeans.train: k must be positive, got $k")
    val n = points.length
    val dim = points.head.length
    val rnd = new java.util.Random(seed)
    val centers = new Array[Array[Double]](k)
    centers(0) = points(rnd.nextInt(n))
    val d2 = points.map(l2Sq(_, centers(0)))
    var c = 1
    while (c < k) {
      val total = d2.foldLeft(0.0)(_ + _)
      centers(c) =
        if (total > 0) points(pickWeighted(d2, rnd.nextDouble() * total))
        else centers(c - 1)
      var i = 0
      while (i < n) { d2(i) = math.min(d2(i), l2Sq(points(i), centers(c))); i += 1 }
      c += 1
    }
    val cell = Array.fill(n)(-1)
    var iter = 0
    var moved = true
    while (moved && iter < MaxIter) {
      moved = false
      var i = 0
      while (i < n) {
        val a = nearest(centers, points(i))
        if (a != cell(i)) { cell(i) = a; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        i = 0
        while (i < n) {
          val s = sums(cell(i)); val p = points(i)
          var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
          counts(cell(i)) += 1
          i += 1
        }
        var j = 0
        while (j < k) {
          if (counts(j) > 0) centers(j) = sums(j).map(_ / counts(j))
          j += 1
        }
      }
      iter += 1
    }
    centers
  }

  /** The first positive-weight index whose running weight passes `r`
    * (the last positive one if rounding leaves `r` unreached).
    */
  private def pickWeighted(w: Array[Double], r: Double): Int = {
    var acc = 0.0
    var i = 0
    while (i < w.length) {
      if (w(i) > 0) { acc += w(i); if (acc > r) return i }
      i += 1
    }
    w.lastIndexWhere(_ > 0)
  }

  /** Index of the nearest centroid; ties go to the lowest index. */
  private def nearest(centers: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = l2Sq(v, centers(0))
    var j = 1
    while (j < centers.length) {
      val d = l2Sq(v, centers(j))
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Squared L2, left-folded in index order — bit-identical to the
    * engine's codegen `l2Sq` on the same array<double> operands.
    */
  def l2Sq(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length, s"l2Sq: lengths ${a.length} != ${b.length}")
    var acc = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }
}
