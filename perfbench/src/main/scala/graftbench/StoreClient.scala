package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Knn.SearchRequest
import graft.store.VectorStore

/** The closed-loop client: every call into the store's public API goes
  * through here, is timed from outside, is one attempt, and is one span
  * when tracing. A call that throws counts as failed.
  */
final class StoreClient(spark: SparkSession, val store: VectorStore, trace: Trace,
    val samples: Samples, val outcomes: Outcomes) {

  def timed[T](name: String)(body: => T): Option[T] = {
    outcomes.attempt()
    val t0 = System.nanoTime()
    try {
      val (r, traced) = trace.call("store", name)(body)
      samples.add(name, (System.nanoTime() - t0) / 1e6, traced)
      Some(r)
    } catch {
      case NonFatal(e) =>
        samples.add(name, (System.nanoTime() - t0) / 1e6, traced = false)
        outcomes.check(ok = false, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  private def keyed(df: DataFrame): Seq[(String, Double)] =
    df.select("key", "score").collect().toSeq.map(r => (r.getString(0), r.getDouble(1)))

  def get(key: String): Option[Seq[(String, Array[Double])]] = timed("get") {
    store.get(key).select("key", "vector").collect().toSeq
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
  }

  def search(req: SearchRequest): Option[Seq[(String, Double)]] =
    timed("search")(keyed(store.search(req)))

  /** ANN search through one persisted tier. */
  def ann(tier: String, req: SearchRequest): Option[Seq[(String, Double)]] = tier match {
    case "nsw" => timed("searchNsw")(keyed(store.searchNsw(req)))
    case "ivf" => timed("searchIvf")(keyed(store.searchIvf(req)))
    case "pq"  => timed("searchPq")(keyed(store.searchPq(req)))
    case "bq"  => timed("searchBq")(keyed(store.searchBq(req)))
  }

  def put(rows: Seq[(String, Rec)]): Option[(Long, Long)] =
    timed("put")(store.put(StoreRows.frame(spark, rows)))

  def delete(keys: Seq[String], ts: Long): Option[Unit] =
    timed("delete")(store.delete(keys, ts))
}

object StoreChecks {
  val Tiers = Seq("nsw", "ivf", "pq", "bq")

  /** Exact search must equal the brute-force top-k in (score, key) order. */
  def exact(got: Seq[(String, Double)], truth: Seq[(String, Double)]): Boolean =
    got.map(_._1) == truth.map(_._1) &&
      got.zip(truth).forall { case ((_, a), (_, b)) => math.abs(a - b) <= 1e-9 * math.max(1.0, b) }

  /** An ANN answer may miss keys, but every key it serves must be live and
    * scored against its live vector (a stale version scores differently).
    */
  def annLive(got: Seq[(String, Double)], model: StoreModel, q: Array[Double]): Boolean =
    got.forall { case (k, s) =>
      model.live.get(k).exists(r => math.abs(Corpus.l2Sq(r.vector, q) - s) <= 1e-9 * math.max(1.0, s))
    }

  def recall(got: Seq[(String, Double)], truth: Seq[(String, Double)]): Double =
    if (truth.isEmpty) 1.0 else got.map(_._1).toSet.intersect(truth.map(_._1).toSet).size.toDouble / truth.size

  /** `get` returns the model's vector, and nothing for a deleted key. */
  def get(got: Seq[(String, Array[Double])], key: String, model: StoreModel): Boolean =
    model.live.get(key) match {
      case Some(r) => got.length == 1 && got.head._1 == key && got.head._2.sameElements(r.vector)
      case None => got.isEmpty
    }
}
