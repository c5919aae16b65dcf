package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.unsafe.types.UTF8String

/** The record columns of one partition of a serving block held in executor
  * memory, row-aligned with whatever that block scores: each row's key,
  * version (`ts`) and indexed metadata. [[Nsw.KeyedGraph]] and
  * [[Bq.HeldRows]] each carry one.
  */
final class KeyedRows(val keys: Array[String], val ts: Array[Long],
    val metadata: Array[Map[String, String]]) {

  /** The rows whose indexed metadata holds every (key, value) pair of the
    * equality `filter`, [[Knn.metadataFilter]]'s semantics (a row with no
    * metadata, or without the key, never matches); null for an empty
    * filter, meaning every row.
    */
  def allowed(filter: Map[String, String]): java.util.BitSet =
    if (filter.isEmpty) null
    else {
      val bs = new java.util.BitSet(keys.length)
      var i = 0
      while (i < keys.length) {
        val md = metadata(i)
        if (md != null && filter.forall { case (fk, fv) => md.get(fk).contains(fv) })
          bs.set(i)
        i += 1
      }
      bs
    }
}

object KeyedRows {

  /** (score, key) in the order a Spark sort on those columns gives:
    * doubles with NaN last, then keys by their UTF-8 bytes.
    */
  val ScoreKeyOrder: Ordering[(Double, String)] = Ordering.Tuple2(
    Ordering.Double.TotalOrdering,
    Ordering.fromLessThan[String]((a, b) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0))

  /** One partition's share of a root top-`n`: the `n` best of `keys` by
    * (`score(i)`, key) in [[ScoreKeyOrder]], rows outside `allowed`
    * skipped (null allows every row). A bounded heap, so a partition
    * costs O(rows · log n) and returns at most `n` pairs.
    */
  def topN(keys: Array[String], n: Int, allowed: java.util.BitSet)(
      score: Int => Double): Iterator[(Double, String)] = {
    val heap = new java.util.PriorityQueue[(Double, String)](n + 1, ScoreKeyOrder.reverse)
    var i = 0
    while (i < keys.length) {
      if (allowed == null || allowed.get(i)) {
        val c = (score(i), keys(i))
        if (heap.size < n) heap.add(c)
        else if (ScoreKeyOrder.lt(c, heap.peek())) { heap.poll(); heap.add(c) }
      }
      i += 1
    }
    Iterator.continually(heap.poll()).take(heap.size)
  }

  /** A root top-`n` over held blocks in ONE Spark job with no exchange and
    * no SQL: each task keeps its block's best `n` ([[topN]] inside
    * `perBlock`), and the driver merges them in [[ScoreKeyOrder]]. The
    * collect is bounded by partitions × `n` (score, key) pairs. Keys must
    * be unique across the blocks for the cut to equal a Spark sort's.
    */
  def topKeys[B](blocks: RDD[B], n: Int)(
      perBlock: B => Iterator[(Double, String)]): Array[String] =
    blocks.flatMap(perBlock).collect().sorted(ScoreKeyOrder).take(n).map(_._2)
}
