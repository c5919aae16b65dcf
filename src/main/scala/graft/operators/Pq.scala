package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VectorFunctions._

/** Product quantization (PQ) — the memory-compression tier of similarity
  * search at 100 TB. The reference holds full float vectors in its HNSW
  * index (`src/datanode/handler.py:46,86`), which caps corpus size at
  * node RAM; PQ splits each D-dim vector into M subvectors, k-means each
  * subspace into K codewords, and stores each row as M small codes — for
  * D=512 floats → M=8 codes that's a 256× footprint cut, the difference
  * between "embeddings spill to disk" and "the whole corpus is a RAM-
  * resident scan" on a 1000-executor cluster.
  *
  * Query-time scoring is the classic asymmetric-distance (ADC) lookup:
  * the query precomputes an M×K table of subspace distances (driver-side,
  * tiny), and each row's approximate distance is M table lookups + adds —
  * no float vector is ever read. Everything here composes existing
  * codegen pieces ([[graft.functions.expressions.VectorDistance]] for the
  * subspace distances, native `element_at`/`slice` for the lookups), so
  * the scan stays inside WholeStageCodegen; no UDFs.
  *
  * Encode/score are deterministic given the codebooks (argmin tie breaks
  * to the lowest code via first-match `array_position`), so the
  * deterministic-codebook variant is oracle-checkable; trained codebooks
  * are deterministic given the data and seed but depend on the trainer,
  * so their outputs are recall-reported (same contract as
  * [[SimilaritySearch.trainCentroids]]).
  */
object Pq {

  /** The PQ index artifact: `words(m)(c)` = codeword `c` of subspace `m`,
    * each of length `dim / m`. Tiny (M×K×(D/M) doubles) — persisted like
    * a snapshot, broadcast into expressions at query time.
    */
  case class Codebooks(numSub: Int, numWords: Int, dim: Int,
      words: Array[Array[Array[Double]]]) {
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    def subDim: Int = dim / numSub
  }

  /** Deterministic codebooks for oracle-checked queries: subspace m's
    * codewords are the m-th subvectors of the first `numWords` rows by
    * `idCol` (ids 0..numWords-1). The `collect` reads numWords rows — an
    * index-build artifact, not a corpus scan (same rationale as the
    * reference seeding its index from the first inserts).
    */
  def deterministicCodebooks(df: DataFrame, idCol: String, vecCol: String,
      numSub: Int, numWords: Int): Codebooks = {
    val idRows = df.where(col(idCol) < numWords)
      .orderBy(col(idCol).asc)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // a bare row-count check would accept duplicate ids below numWords and
    // silently misalign the code->codeword mapping; demand the exact id set
    require(idRows.map(_._1).toSeq == (0L until numWords).toSeq,
      s"deterministicCodebooks: expected exactly ids 0..${numWords - 1}, " +
        s"got ${idRows.map(_._1).mkString("[", ",", "]")}")
    val rows = idRows.map(_._2)
    val dim = rows.head.length
    val sub = dim / numSub
    val words = Array.tabulate(numSub, numWords) { (m, c) =>
      rows(c).slice(m * sub, (m + 1) * sub)
    }
    Codebooks(numSub, numWords, dim, words)
  }

  /** K-means-trained codebooks: ONE bounded sample of the corpus (at most
    * [[SampledKMeans.PointsPerCentroid]] × `numWords` vectors, one Spark
    * job), then a driver-side [[SampledKMeans.train]] per subspace over
    * that sample's m-th slices, seeded `seed + m`. Always M×K: a subspace
    * with fewer distinct slices than words repeats a codeword, which
    * encode never picks (argmin ties go to the lowest code).
    */
  def trainCodebooks(df: DataFrame, vecCol: String, numSub: Int,
      numWords: Int, seed: Long = 42L): Codebooks = {
    val points = SampledKMeans.sample(df, vecCol,
      SampledKMeans.PointsPerCentroid * numWords, seed)
    val dim = points.head.length
    require(dim % numSub == 0, s"dim $dim not divisible into $numSub subspaces")
    val sub = dim / numSub
    val words = Array.tabulate(numSub) { m =>
      SampledKMeans.train(points.map(_.slice(m * sub, (m + 1) * sub)),
        numWords, seed + m)
    }
    Codebooks(numSub, numWords, dim, words)
  }

  /** Persist / reload codebooks (parquet rows (m, c, word) — the same
    * artifact lifecycle as [[SimilaritySearch.saveCentroids]]). Every row
    * also carries the DECLARED shape (num_sub, num_words, dim): a torn
    * write that drops a whole trailing m-slice or c-column would still be
    * a dense grid under inferred-from-maxima validation, so the load
    * checks against the declaration instead of inferring it.
    */
  def saveCodebooks(spark: SparkSession, cb: Codebooks, path: String): Unit = {
    import spark.implicits._
    val rows = for {
      m <- 0 until cb.numSub
      c <- 0 until cb.numWords
    } yield (m, c, cb.words(m)(c).toSeq, cb.numSub, cb.numWords, cb.dim)
    rows.toDF("m", "c", "word", "num_sub", "num_words", "dim")
      .write.mode("overwrite").parquet(path)
  }

  /** The [[saveCodebooks]] row shape, declared so a load infers nothing. */
  val CodebookSchema: StructType = StructType(
    Seq("m", "c").map(StructField(_, IntegerType)) ++
      Seq(StructField("word", ArrayType(DoubleType))) ++
      Seq("num_sub", "num_words", "dim").map(StructField(_, IntegerType)))

  /** One Spark job: the at most numSub × numWords rows are collected and
    * sorted on the driver (a distributed `orderBy` would add a sampling
    * job for its range partitioner).
    */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.schema(CodebookSchema).parquet(path)
      .select("m", "c", "word", "num_sub", "num_words", "dim")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray,
        r.getInt(3), r.getInt(4), r.getInt(5)))
      .sortBy(r => (r._1, r._2))
    require(rows.nonEmpty, s"loadCodebooks: no rows at $path")
    // the declared shape must be unanimous (mixed declarations = rows from
    // two different artifacts landed in one directory)
    val shapes = rows.map(r => (r._4, r._5, r._6)).distinct
    require(shapes.length == 1,
      s"loadCodebooks: conflicting declared shapes ${shapes.mkString(", ")} at $path")
    val (numSub, numWords, dim) = shapes.head
    // validate the grid against the DECLARATION: a torn write that drops a
    // trailing slice now fails here instead of loading a smaller codebook
    require(rows.length == numSub * numWords,
      s"loadCodebooks: corrupt artifact at $path — ${rows.length} rows, " +
        s"declared $numSub x $numWords")
    require(dim % numSub == 0,
      s"loadCodebooks: declared dim $dim not divisible by num_sub $numSub at $path")
    val words = Array.tabulate(numSub, numWords) { (m, c) =>
      val r = rows(m * numWords + c)
      require(r._1 == m && r._2 == c,
        s"loadCodebooks: slot ($m,$c) holds row (${r._1},${r._2}) — corrupt artifact at $path")
      require(r._3.length == dim / numSub,
        s"loadCodebooks: word ($m,$c) has length ${r._3.length}, declared subDim ${dim / numSub} at $path")
      r._3
    }
    Codebooks(numSub, numWords, dim, words)
  }

  /** Encode rows to PQ codes: `codes(m)` = argmin over codewords of the
    * subspace squared-L2 (ties → lowest code, via first-match
    * `array_position`). M×K codegen distance loops per row, all inside
    * one projection — this is the write-side cost, paid once per row like
    * IVF assignment. Output: (idCol, codes ARRAY<INT>).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      cb: Codebooks): DataFrame = {
    val codes = (0 until cb.numSub).map { m =>
      val sl = slice(col(vecCol), m * cb.subDim + 1, cb.subDim)
      val dists = array((0 until cb.numWords).map(c =>
        l2Sq(sl, typedLit(cb.words(m)(c)))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    df.select(col(idCol), array(codes: _*).as("codes"))
  }

  /** The query's M×K ADC table: `table(m)(c)` = l2sq(query subvector m,
    * codeword (m,c)) — computed driver-side in plain Scala (M×K×subDim
    * flops on one machine), folded in index order like every distance in
    * the engine.
    */
  def adcTable(cb: Codebooks, query: Array[Double]): Array[Array[Double]] = {
    require(query.length == cb.dim, s"query dim ${query.length} != codebook dim ${cb.dim}")
    Array.tabulate(cb.numSub, cb.numWords) { (m, c) =>
      SampledKMeans.l2Sq(query.slice(m * cb.subDim, (m + 1) * cb.subDim), cb.words(m)(c))
    }
  }

  /** ADC scores over an encoded table: per row, M literal-array lookups
    * summed left-to-right (m = 0..M-1 — deterministic float order). The
    * scan never touches a vector column. Output: (idCol, score).
    */
  def adcScores(encoded: DataFrame, idCol: String, cb: Codebooks,
      query: Array[Double]): DataFrame = {
    val table = adcTable(cb, query)
    val score = (0 until cb.numSub)
      .map(m => element_at(typedLit(table(m)), element_at(col("codes"), m + 1) + 1))
      .reduceLeft(_ + _)
    encoded.select(col(idCol), score.as("score"))
  }

  /** One row's ADC score in plain Scala, the twin of [[adcScores]]: M
    * lookups into the [[adcTable]] summed left-to-right over
    * m = 0..M-1 — the same additions in the same order, so the doubles are
    * equal (pinned in PqSpec).
    */
  def adcScore(table: Array[Array[Double]], codes: Array[Int]): Double = {
    var s = table(0)(codes(0))
    var m = 1
    while (m < table.length) { s += table(m)(codes(m)); m += 1 }
    s
  }

  /** One partition of an encoded table held in executor memory: keys and
    * their codes, row-aligned — the element [[loadHeldCodes]] yields.
    */
  final class HeldCodes private[Pq] (val keys: Array[String],
      val codes: Array[Array[Int]])

  /** An encoded table (`idCol` STRING, `codes`) as one [[HeldCodes]] per
    * partition of its scan, with no exchange. The RDD comes back
    * unpersisted: the caller persists it and owns the block (`VectorStore`
    * keeps one per handle), and the scan is only its lineage.
    */
  def loadHeldCodes(encoded: DataFrame, idCol: String): RDD[HeldCodes] = {
    val spark = encoded.sparkSession
    import spark.implicits._
    encoded.select(col(idCol), col("codes")).as[(String, Array[Int])].rdd
      .mapPartitions { it =>
        val rows = it.toArray
        Iterator(new HeldCodes(rows.map(_._1), rows.map(_._2)))
      }
  }

  /** The keys of the `n` best rows by (ADC score, key) over held codes —
    * the root top-n of [[adcScores]] as one plain RDD job: each task ranks
    * its block with [[adcScore]] and keeps its best `n`, the driver merges
    * ([[KeyedRows.topKeys]]; the collect is bounded by partitions × `n`).
    * Keys must be unique, as in a fresh build.
    */
  def heldAdcTopKeys(held: RDD[HeldCodes], cb: Codebooks, query: Array[Double],
      n: Int): Array[String] = {
    val table = adcTable(cb, query)
    KeyedRows.topKeys(held, n) { b =>
      KeyedRows.topN(b.keys, n, null)(i => adcScore(table, b.codes(i)))
    }
  }

  /** PQ top-k by ADC distance (ascending, tie-break id). `rerankFrom`:
    * over-fetch that many ADC candidates, then EXACT squared-L2 re-rank
    * against the full vectors of just those rows — the standard two-stage
    * PQ search (ADC scan over codes → exact refine over R rows), the
    * candidate-multiplier discipline of the reference's 2k over-fetch
    * (`src/datanode/handler.py:364`). `filter`/`threshold` complete the
    * reference's SearchRequest surface (`src/vector_db.thrift:23-28`) on
    * the PQ tier, matching the exact/IVF/LSH tiers: the filter prunes
    * the candidate corpus PRE-encode (codes of excluded rows are never
    * computed), the threshold bounds the FINAL score (exact when a
    * re-rank runs, ADC otherwise — thresholding the approximation it
    * returns, like the other approximate tiers).
    */
  def adcTopK(df: DataFrame, idCol: String, vecCol: String, cb: Codebooks,
      query: Array[Double], k: Int, rerankFrom: Option[Int] = None,
      filter: Option[Column] = None, threshold: Option[Double] = None): DataFrame = {
    val corpus = filter.map(df.where).getOrElse(df)
    val adc = adcScores(encode(corpus, idCol, vecCol, cb), idCol, cb, query)
    val scored = rerankFrom match {
      case Some(r) =>
        require(r >= k, s"rerankFrom $r must be >= k $k")
        val cand = adc.orderBy(col("score").asc, col(idCol).asc).limit(r)
          .select(col(idCol))
        corpus.join(cand, idCol)
          .select(col(idCol), l2Sq(col(vecCol), typedLit(query)).as("score"))
      case None => adc
    }
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }

  /** Batch ADC KNN join: top-k by ADC distance for EVERY query row, over
    * a PRE-ENCODED corpus — the multi-query serving composition. The
    * query's M×K ADC table is computed IN the plan on the broadcast query
    * side (M×K codegen subspace distances per query row — the per-query
    * analog of [[adcTable]], folded in the same index order so scores are
    * bit-identical to [[adcScores]]); each (corpus row, query) pair then
    * costs M array lookups, never a vector op. Map-side top-k heaps
    * ([[TopK.SmallestK]]) reduce the shuffle to k rows per task per
    * query. Output: (qid, id, score) ascending (score, id) within qid.
    */
  def adcKnnJoin(encoded: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, queryVec: String,
      cb: Codebooks, k: Int): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val qtab = array((0 until cb.numSub).map { m =>
      val sl = slice(col(queryVec), m * cb.subDim + 1, cb.subDim)
      array((0 until cb.numWords).map(c => l2Sq(sl, typedLit(cb.words(m)(c)))): _*)
    }: _*)
    val q = queries.select(col(queryId).as("qid"), qtab.as("qtab"))
    val score = (0 until cb.numSub)
      .map(m => element_at(element_at(col("qtab"), m + 1),
        element_at(col("codes"), m + 1) + 1))
      .reduceLeft(_ + _)
    encoded.crossJoin(broadcast(q))
      .select(col("qid").as("key"), col(corpusId).as("id"), score.as("score"))
      .as[TopK.Scored]
      .groupByKey(_.key)
      .agg(new TopK.SmallestK(k).toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), explode(col("topk")).as("n"))
      .select(col("qid"), col("n.id").as("id"), col("n.score").as("score"))
  }

  /** IVF-PQ (the FAISS serving composition): restrict the ADC scan to the
    * query's `nprobe` nearest IVF cells, then exact re-rank. At 100 TB the
    * corpus is stored partitioned by `cid` with codes precomputed at
    * write time, so a query is partition pruning (read |corpus|·nprobe/K)
    * × a code-only ADC scan (M lookups/row) × an exact re-rank over
    * `rerankFrom` rows — the only full vectors read. `centroids` as in
    * [[SimilaritySearch.ivfAssign]] (tiny, broadcast).
    */
  def ivfAdcTopK(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cb: Codebooks, query: Array[Double], k: Int,
      nprobe: Int = 1, rerankFrom: Option[Int] = None,
      filter: Option[Column] = None, threshold: Option[Double] = None): DataFrame = {
    // filter pre-assignment (SearchRequest surface): excluded rows never
    // cost a centroid assignment or a code
    val corpus = filter.map(df.where).getOrElse(df)
    val assigned = SimilaritySearch.ivfAssign(corpus, idCol, vecCol, centroids)
    val probeCids = SimilaritySearch.probeCells(centroids, query, nprobe)
    val cell = assigned.join(broadcast(probeCids), col("cid") === col("qcid"))
      .select(col(idCol), col("emb"))
    adcTopK(cell, idCol, "emb", cb, query, k, rerankFrom, threshold = threshold)
  }
}
