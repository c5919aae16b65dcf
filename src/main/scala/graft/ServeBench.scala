package graft

import org.apache.spark.sql.functions._

/** Measurement main for BATCH-SERVING THROUGHPUT economics — the other
  * half of the ANN_QUALITY.md story: recall tables say how good each
  * tier's answers are; this says how many queries/second each tier
  * serves as the batch grows, and where build amortization crosses over.
  *
  *   sbt "runMain graft.ServeBench [sfDir] [k]"
  *
  * Four serving paths over the embeddings fixture (pre-built artifacts,
  * steady-state timings — build/pack/encode/train costs are measured
  * separately and reported for the amortization math):
  *
  *   - exact grouped KNN ([[graft.operators.TopK.knnJoin]], the q31
  *     shape): one corpus scan per batch, map-side per-query heaps —
  *     the per-batch cost is ~flat in batch size, so qps scales ~linearly
  *     with the batch. The floor every ANN tier must beat.
  *   - BQ Hamming + re-rank ([[graft.operators.Bq.bqKnnJoin]]) over a
  *     pre-packed corpus (pack = write-side).
  *   - PQ ADC ([[graft.operators.Pq.adcKnnJoin]]) over a pre-encoded
  *     corpus (train+encode = write-side).
  *   - NSW artifact serve ([[graft.operators.Nsw.searchLoaded]]) over
  *     graphs loaded once from a pre-built artifact and held in executor
  *     memory ([[graft.operators.Nsw.loadIndexKeyed]]; build measured →
  *     crossover).
  *
  * Per (path, batch size B): min-of-2 wall seconds and qps = B/sec.
  * Numbers land in ANN_QUALITY.md ("Serving throughput").
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    // replicate > 1 unions jittered shifted-id copies (the NswServeBench
    // trick) to show where the BQ/PQ byte cuts invert the economics:
    // the exact scan grows with corpus bytes while the code/packed scans
    // grow 8-32x slower
    val replicate = args.lift(2).map(_.toInt).getOrElse(1)
    val batches = Seq(1, 8, 64, 256)
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base0 = graft.core.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val nBase = base0.count()
    val emb = (0 until replicate).map { c =>
      base0.select((col("vec_id") + lit(c * nBase)).as("vec_id"),
        transform(col("embedding"), x => x + lit(c * 1e-3f)).as("embedding"))
    }.reduce(_ union _).persist()
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    println(s"[servebench] corpus n=$n dim=$dim k=$k sf=$sfDir")

    // query batches: deterministic jittered corpus vectors (never exact
    // rows, so top-1 isn't a trivial self-hit)
    def queryBatch(b: Int): Seq[(Long, Array[Double])] =
      emb.where(col("vec_id") % (n / b.toLong).max(1L) === 0L)
        .limit(b).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Float](1).toArray.map(x => x.toDouble + 1e-3)))
    val queryDfs = batches.map(b => b -> queryBatch(b).toSeq).toMap

    def time2(f: => Unit): Double = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    def report(path: String, b: Int, sec: Double): Unit =
      println(f"[servebench] $path%-12s B=$b%-4d ${sec}%7.3f s  ${b / sec}%8.1f qps")

    // ---- write-side costs (amortization inputs) ----
    def packCorpus() = emb.select(col("vec_id"),
      graft.operators.Bq.packBits(col("embedding"), dim).as("bits"))
    val packT = time2 {
      packCorpus().write.format("noop").mode("overwrite").save()
    }
    println(f"[servebench] write-side: bq pack $packT%.2f s")
    val packed = packCorpus().persist()
    packed.count()

    val trainT = time2 {
      graft.operators.Pq.trainCodebooks(emb, "embedding", 8, 16, 42L)
    }
    val cb = graft.operators.Pq.trainCodebooks(emb, "embedding", 8, 16, 42L)
    val encodeT = time2 {
      graft.operators.Pq.encode(emb, "vec_id", "embedding", cb)
        .write.format("noop").mode("overwrite").save()
    }
    println(f"[servebench] write-side: pq train $trainT%.2f s encode $encodeT%.2f s")
    val encoded = graft.operators.Pq.encode(emb, "vec_id", "embedding", cb)
      .persist()
    encoded.count()

    val nswDir = java.nio.file.Files.createTempDirectory("graft-servebench-").toString
    val buildT = time2 {
      graft.operators.Nsw.buildIndexKeyed(
        emb.select(col("vec_id").cast("string").as("key"),
          col("embedding").cast("array<double>").as("vector"),
          map(lit("t"), lit("1")).as("metadata"), lit(1L).as("ts")),
        "key", "vector", nswDir, m = 8, efConstruction = 64,
        numPartitions = 8)
    }
    println(f"[servebench] write-side: nsw build $buildT%.2f s")
    val graphs = graft.operators.Nsw.loadIndexKeyed(spark, nswDir, "key").persist()

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Double)]
    batches.foreach { b =>
      val qs = queryDfs(b)
      val qDf = qs.map { case (id, v) => (id, v) }.toDF("qid", "qv")

      val exactT = time2(noop(graft.operators.TopK.knnJoin(
        emb, qDf, "vec_id", "embedding", "qid", "qv", k)))
      report("exact-knn", b, exactT); rows += (("exact-knn", b, exactT))

      val bqT = time2(noop(graft.operators.Bq.bqKnnJoin(
        packed, emb, qDf, "vec_id", "embedding", "qid", "qv", dim, k,
        rerankFrom = 50)))
      report("bq-rerank", b, bqT); rows += (("bq-rerank", b, bqT))

      val adcT = time2(noop(graft.operators.Pq.adcKnnJoin(
        encoded, qDf, "vec_id", "qid", "qv", cb, k)))
      report("pq-adc", b, adcT); rows += (("pq-adc", b, adcT))

      val nswT = time2(graft.operators.Nsw.searchLoaded(graphs, qs, k,
        efSearch = 64))
      report("nsw-artifact", b, nswT); rows += (("nsw-artifact", b, nswT))
    }

    // amortization: queries until (build + serve) beats the exact scan
    val perQ = batches.map { b =>
      val e = rows.find(r => r._1 == "exact-knn" && r._2 == b).get._3 / b
      val s = rows.find(r => r._1 == "nsw-artifact" && r._2 == b).get._3 / b
      (b, e, s)
    }
    val (bBest, ePer, sPer) = perQ.maxBy(_._1)
    if (ePer > sPer) {
      val crossover = math.ceil(buildT / (ePer - sPer)).toLong
      println(f"[servebench] nsw build amortizes after ~$crossover queries " +
        f"(at B=$bBest: exact ${ePer}%.4f s/q vs artifact ${sPer}%.4f s/q, " +
        f"build $buildT%.2f s)")
    } else {
      println(f"[servebench] at B=$bBest the exact scan (${ePer}%.4f s/q) " +
        f"already beats the nsw artifact serve (${sPer}%.4f s/q) — " +
        "build never amortizes at this corpus size")
    }
    emb.unpersist(); packed.unpersist(); encoded.unpersist(); graphs.unpersist()
    spark.stop()
  }
}
