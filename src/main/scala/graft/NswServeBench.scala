package graft

import org.apache.spark.sql.functions._

import graft.operators.Knn
import graft.store.VectorStore

/** Measurement main for the NSW index SERVING ECONOMICS — the reason the
  * persisted artifact exists (reference lifecycle: build at checkpoint,
  * `_rebuild_hnsw_index` `src/datanode/handler.py:91-120`; serve every
  * query from the built index, `:86`,`:364`). Loads the embeddings
  * fixture into a store, compacts, then measures:
  *
  *   - build-once cost (`buildNswIndex`)
  *   - steady-state per-batch serve time (`searchNsw` off the artifact)
  *   - rebuild-per-call per-batch time (`searchNswLive`)
  *
  * and prints the break-even query count. Numbers land in ANN_QUALITY.md.
  *
  *   sbt "runMain graft.NswServeBench [sfDir] [nQueries] [replicate]"
  *
  * `replicate` > 1 unions jittered copies of the fixture (shifted ids,
  * deterministic per-copy offset) to show the economics at larger
  * per-partition n: construction cost grows ~n·log n while the served
  * beam stays ~flat, so the artifact's edge WIDENS with corpus size.
  */
object NswServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(20)
    val replicate = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")

    val dir = java.nio.file.Files.createTempDirectory("graft-nsw-bench-").toString
    val base = graft.core.Tables.embeddings(spark, sfDir)
    val nBase = base.count()
    val emb = (0 until replicate).map { c =>
      base.select((col("vec_id") + lit(c * nBase)).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(c * 1e-3f)).as("embedding"),
        col("label"))
    }.reduce(_ union _)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val store = new VectorStore(spark, dir, dim = dim)
    store.put(emb.select(
      col("vec_id").cast("string").as("key"),
      col("embedding").as("vector"),
      map(lit("label"), col("label").cast("string")).as("metadata"),
      lit(1L).as("ts")))
    store.compact() // serving steady state: no WAL batch past the snapshot,
                    // so `compacted` is one snapshot scan with no shuffle

    val queries: Array[Array[Double]] = emb.where(col("vec_id") < nQueries)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val tBuild = timed { store.buildNswIndex(m = 8, efConstruction = 64) }

    // one warmup each (JIT + file listing), then the measured passes
    store.searchNsw(Knn.SearchRequest(queries.head), efSearch = 64).collect()
    store.searchNswLive(Knn.SearchRequest(queries.head), efSearch = 64).collect()

    val serve = queries.map(q => timed {
      store.searchNsw(Knn.SearchRequest(q), efSearch = 64).collect()
    })
    val live = queries.map(q => timed {
      store.searchNswLive(Knn.SearchRequest(q), efSearch = 64).collect()
    })

    def mean(xs: Array[Double]) = xs.sum / xs.length
    val breakEven = math.ceil(tBuild / (mean(live) - mean(serve))).toInt
    println(f"[nsw-serve] corpus=${emb.count()} dim=$dim queries=$nQueries")
    println(f"[nsw-serve] build_once=$tBuild%.2f s")
    println(f"[nsw-serve] artifact_serve mean=${mean(serve)}%.3f s/query")
    println(f"[nsw-serve] live_rebuild  mean=${mean(live)}%.3f s/query")
    println(f"[nsw-serve] break_even=$breakEven queries")
    store.close()
    spark.stop()
  }
}
