package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Knn, Pq, SimilaritySearch}
import graft.queries.CoreQueries

/** ANN quality report (BASELINE.md: recall is REPORTED, not hash-matched —
  * approximate indexes are model-dependent by nature, like the reference's
  * HNSW). Measures recall@k of each approximate tier against the exact
  * path over a set of query rows, and writes the measured tables into
  * ANN_QUALITY.md between its two marker lines ([[splice]]).
  *
  * Usage: runMain graft.AnnQuality [sfDir] [k] [nQueries]
  */
object AnnQuality {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val k     = args.lift(1).map(_.toInt).getOrElse(5)
    val nq    = args.lift(2).map(_.toInt).getOrElse(20)
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queryIds = emb.select("vec_id").orderBy("vec_id").limit(nq)
      .collect().map(_.getLong(0))

    def recallOf(tier: String, approx: Long => Array[Long]): (String, Double) = {
      val recalls = queryIds.map { qid =>
        val qv = emb.where(col("vec_id") === qid).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble).toArray
        val exact = Knn.search(emb, "vec_id", "embedding", qv, k)
          .collect().map(_.getLong(0)).toSet
        val got = approx(qid).toSet
        (exact intersect got).size.toDouble / exact.size
      }
      tier -> recalls.sum / recalls.length
    }

    // trained index artifact: KMeans centroids, persisted+reloaded the way
    // a store snapshot would carry them (exercises the save/load path)
    val centDir = Files.createTempDirectory("graft-ivf-").toString
    SimilaritySearch.saveCentroids(
      SimilaritySearch.trainCentroids(emb, "embedding", k = 8), centDir)
    val trained = SimilaritySearch.loadCentroids(spark, centDir)
    val trained4 = SimilaritySearch.trainCentroids(emb, "embedding", k = 4)

    // the share of `corpus` a trained-cell probe reads, measured: the mean
    // over `queries` of the rows in their `nprobe` nearest cells. One
    // nprobe reads very different amounts on balanced and unbalanced
    // cells, so a trained row's recall is only comparable next to it.
    def vecs(df: org.apache.spark.sql.DataFrame): Seq[Array[Double]] =
      df.select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray).toSeq
    def reads(corpus: org.apache.spark.sql.DataFrame,
        cents: org.apache.spark.sql.DataFrame, queries: Seq[Array[Double]],
        nprobe: Int): String = {
      val held = cents.orderBy("cid").collect().map(_.getSeq[Double](1).toArray)
      val sizes = SimilaritySearch.ivfAssign(corpus, "vec_id", "embedding", cents)
        .groupBy("cid").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = sizes.values.sum.toDouble
      val share = queries.map(q => SimilaritySearch.probeOrder(held, q, nprobe)
        .map(sizes.getOrElse(_, 0L)).sum / n).sum / queries.length
      f"${share * 100}%.1f%% reads"
    }
    val queryVecs = vecs(emb.where(col("vec_id").isin(queryIds: _*)))

    val results = Seq(
      recallOf("ivf (8 naive centroids, nprobe=1)", qid =>
        SimilaritySearch.ivfTopK(emb, "vec_id", "embedding",
          col("vec_id") < 8, qid, k).collect().map(_.getLong(0))),
      recallOf("ivf (8 naive centroids, nprobe=2)", qid =>
        SimilaritySearch.ivfTopK(emb, "vec_id", "embedding",
          col("vec_id") < 8, qid, k, nprobe = 2).collect().map(_.getLong(0))),
      recallOf("ivf (8 naive centroids, nprobe=4)", qid =>
        SimilaritySearch.ivfTopK(emb, "vec_id", "embedding",
          col("vec_id") < 8, qid, k, nprobe = 4).collect().map(_.getLong(0))),
      recallOf(s"ivf (8 KMEANS centroids, nprobe=1, ${reads(emb, trained, queryVecs, 1)})", qid =>
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding", trained,
          qid, k).collect().map(_.getLong(0))),
      recallOf(s"ivf (8 KMEANS centroids, nprobe=2, ${reads(emb, trained, queryVecs, 2)})", qid =>
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding", trained,
          qid, k, nprobe = 2).collect().map(_.getLong(0))),
      recallOf(s"ivf (8 KMEANS centroids, nprobe=4, ${reads(emb, trained, queryVecs, 4)})", qid =>
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding", trained,
          qid, k, nprobe = 4).collect().map(_.getLong(0))),
      recallOf(s"ivf (4 KMEANS centroids, nprobe=2, ${reads(emb, trained4, queryVecs, 2)})", qid =>
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding", trained4,
          qid, k, nprobe = 2).collect().map(_.getLong(0))),
      recallOf(s"ivf (4 KMEANS centroids, nprobe=3, ${reads(emb, trained4, queryVecs, 3)})", qid =>
        SimilaritySearch.ivfSearch(emb, "vec_id", "embedding", trained4,
          qid, k, nprobe = 3).collect().map(_.getLong(0))),
      recallOf("rp-lsh (6 planes, 1 probe)", qid =>
        SimilaritySearch.rpLshTopK(emb, "vec_id", "embedding",
          col("vec_id").between(1, 6), qid, k).collect().map(_.getLong(0))),
      recallOf("rp-lsh multi-probe (6 planes, <=1 flip: 7 buckets, ~11% reads)", qid =>
        SimilaritySearch.rpLshTopKMultiProbe(emb, "vec_id", "embedding",
          col("vec_id").between(1, 6), numPlanes = 6, qid, k, flips = 1)
          .collect().map(_.getLong(0))),
      recallOf("rp-lsh multi-probe (6 planes, <=2 flips: 22 buckets, ~34% reads)", qid =>
        SimilaritySearch.rpLshTopKMultiProbe(emb, "vec_id", "embedding",
          col("vec_id").between(1, 6), numPlanes = 6, qid, k, flips = 2)
          .collect().map(_.getLong(0))),
      recallOf(s"mllib brp-lsh (3 tables, ${2 * k} over-fetch)", qid =>
        SimilaritySearch.mllibLshTopK(emb, "vec_id", "embedding",
          qid, k).collect().map(_.getLong(0)))) ++ {
      // NSW graph tier (the reference's hnswlib analog): ONE per-partition
      // graph build amortized across the whole query batch — the serving
      // shape; the beam width (efSearch) is the recall dial
      def qv(qid: Long): Array[Double] =
        emb.where(col("vec_id") === qid).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble).toArray
      val embP = emb.repartition(8, col("vec_id"))
      val batch = queryIds.toSeq.map(q => (q, qv(q)))
      def nswBatch(ef: Int): Map[Long, Array[Long]] =
        graft.operators.Nsw.nswTopKBatch(embP, "vec_id", "embedding", batch,
          k, m = 8, efConstruction = 64, efSearch = ef)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, a) => q -> a.map(_._2) }
      val nsw16 = nswBatch(16); val nsw64 = nswBatch(64)
      Seq(
        recallOf("nsw graph (per-partition, m=8, efSearch=16)", qid => nsw16(qid)),
        recallOf("nsw graph (per-partition, m=8, efSearch=64)", qid => nsw64(qid)))
    } ++ {
      // SQ8 tier: one trained range artifact reused across queries
      val sqRanges = graft.operators.Sq.collectRanges(
        graft.operators.Sq.trainMinMax(emb, "embedding"))
      Seq(recallOf("sq8 (byte codes, asymmetric full scan, 1/4 reads)", qid =>
        graft.operators.Sq.sq8TopK(emb, "vec_id", "embedding", qid, k,
          ranges = Some(sqRanges)).collect().map(_.getLong(0))))
    } ++ {
      // BQ tier: sign-bit Hamming candidates + exact re-rank; the
      // overfetch budget is the recall dial (1/32 the scan bytes)
      Seq(
        recallOf(s"bq (sign bits, hamming top-${2 * k}, exact re-rank)", qid =>
          graft.operators.Bq.bqTopK(emb, "vec_id", "embedding", dim = 64,
            qid, k, rerankFrom = 2 * k).collect().map(_.getLong(0))),
        recallOf(s"bq (sign bits, hamming top-${10 * k}, exact re-rank, ~10% reads)", qid =>
          graft.operators.Bq.bqTopK(emb, "vec_id", "embedding", dim = 64,
            qid, k, rerankFrom = 10 * k).collect().map(_.getLong(0))))
    } ++ {
      // PQ tiers: trained codebooks (8 subspaces × 16 words → 8 codes/row,
      // a 32x footprint cut on this 64-float fixture); pure ADC vs
      // ADC + exact re-rank of the top-4k candidates
      def qv(qid: Long): Array[Double] =
        emb.where(col("vec_id") === qid).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble).toArray
      val pqCb = Pq.trainCodebooks(emb, "embedding", numSub = 8, numWords = 16)
      Seq(
        recallOf("pq-adc (8x16 KMEANS codebooks, no re-rank)", qid =>
          Pq.adcTopK(emb, "vec_id", "embedding", pqCb, qv(qid), k)
            .collect().map(_.getLong(0))),
        recallOf(s"pq-adc + exact re-rank of top-${4 * k}", qid =>
          Pq.adcTopK(emb, "vec_id", "embedding", pqCb, qv(qid), k,
            rerankFrom = Some(4 * k)).collect().map(_.getLong(0))),
        recallOf(s"pq-adc + exact re-rank of top-${10 * k} (~10% reads)", qid =>
          Pq.adcTopK(emb, "vec_id", "embedding", pqCb, qv(qid), k,
            rerankFrom = Some(10 * k)).collect().map(_.getLong(0))),
        recallOf(s"ivf-pq (8 KMEANS cells nprobe=4, ${reads(emb, trained, queryVecs, 4)}, 8x16 pq, re-rank top-${10 * k})", qid =>
          Pq.ivfAdcTopK(emb, "vec_id", "embedding", trained, pqCb, qv(qid), k,
            nprobe = 4, rerankFrom = Some(10 * k)).collect().map(_.getLong(0))))
    }

    // near-dup top-1 recall: LSH-candidate path vs the quadratic oracle,
    // over EVERY row (this is a dedup sweep, not a per-query search)
    val exactNn = Dedup.nearestNeighborPerRow(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def neardupRecall(numFlips: Int): (String, Double) = {
      val got = Dedup.nearestNeighborPerRowLsh(emb, "vec_id", "embedding",
          col("vec_id").between(1, 6), numPlanes = 6, numFlips = numFlips)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hit = exactNn.count { case (id, nn) => got.get(id).contains(nn) }
      s"neardup-lsh (6 planes, <=$numFlips flips) top-1 vs quadratic" ->
        hit.toDouble / exactNn.size
    }

    def neardupIvfRecall(nprobe: Int): (String, Double) = {
      val got = Dedup.nearestNeighborPerRowIvf(emb, "vec_id", "embedding",
          trained, nprobe = nprobe)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hit = exactNn.count { case (id, nn) => got.get(id).contains(nn) }
      s"neardup-ivf (8 KMEANS cells, nprobe=$nprobe, ${reads(emb, trained, vecs(emb), nprobe)}) top-1 vs quadratic" ->
        hit.toDouble / exactNn.size
    }

    // the actual dedup workload: PLANTED near-dups (50 copies, one element
    // perturbed 1%) must be found at a tiny read fraction — this is where
    // candidate-gen shines; the all-rows top-1 above is the adversarial
    // case (this fixture's NNs are near-random directions, cos ~0.37)
    val planted = emb.where(col("vec_id") < 50)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x.cast("double") * 1.01).otherwise(x.cast("double")))
          .as("embedding"))
    val withPlanted = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(planted)
    val plantedCent = SimilaritySearch.trainCentroids(withPlanted, "embedding", k = 8)
    val plantedGot = Dedup.nearestNeighborPerRowIvf(withPlanted, "vec_id", "embedding",
        plantedCent, nprobe = 1)
      .where(col("vec_id") >= 10000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plantedHit = (0L until 50L).count(i => plantedGot.get(i + 10000).contains(i))
    val plantedRow =
      s"neardup-ivf PLANTED dups (nprobe=1, ${reads(withPlanted, plantedCent,
        vecs(planted), 1)}) found" -> plantedHit / 50.0

    val neardupResults = Seq(neardupRecall(1), neardupRecall(2),
      neardupIvfRecall(4), neardupIvfRecall(6), plantedRow)

    val md = new StringBuilder
    md.append(s"Measured by `graft.AnnQuality` over the first $nq query rows of\n")
    md.append(s"`$sfDir/embeddings.parquet`, k=$k. The exact scan→score→top-k path\n")
    md.append("is the oracle-checked ground truth; these tiers trade recall for\n")
    md.append("reads (SCALE.md). The reference's own candidate multiplier (fetch\n")
    md.append("2k, `src/datanode/handler.py:364`) is what the MLlib tier applies.\n\n")
    md.append(s"| tier | mean recall@$k |\n|---|---|\n")
    results.foreach { case (t, r) => md.append(f"| $t | $r%.3f |\n") }
    md.append("\nEmbedding near-dup (every row's single nearest neighbor — the\n")
    md.append("q20 semantics) via multi-probe LSH candidates + exact re-rank,\n")
    md.append("measured against the quadratic all-pairs ground truth:\n\n")
    md.append("| path | top-1 recall |\n|---|---|\n")
    neardupResults.foreach { case (t, r) => md.append(f"| $t | $r%.3f |\n") }
    val out = Paths.get("ANN_QUALITY.md")
    Files.writeString(out, splice(Files.readString(out), md.toString))
    println(md.toString)
    println(s"written: $out (between its markers)")
    spark.stop()
  }

  /** The markers around the part of ANN_QUALITY.md this main writes:
    * the measured tables. Everything outside them (the notes, and the
    * sections measured by other mains) is kept as it is.
    */
  val BeginMarker =
    "<!-- AnnQuality:begin (written by graft.AnnQuality; edit outside these markers) -->"
  val EndMarker = "<!-- AnnQuality:end -->"

  /** `doc` with the text between its begin and end marker lines replaced
    * by `generated`. Fails when a marker is missing, repeated or out of
    * order, rather than write a file that lost hand-kept sections.
    */
  def splice(doc: String, generated: String): String = {
    def at(marker: String): Int = {
      val i = doc.indexOf(marker)
      require(i >= 0, s"ANN_QUALITY.md has no '$marker' line: put the begin and " +
        "end markers back around the generated tables")
      require(doc.indexOf(marker, i + 1) < 0, s"ANN_QUALITY.md has '$marker' twice")
      i
    }
    val (b, e) = (at(BeginMarker), at(EndMarker))
    require(b < e, "ANN_QUALITY.md has its end marker before its begin marker")
    doc.substring(0, b + BeginMarker.length) + "\n" + generated + doc.substring(e)
  }
}
