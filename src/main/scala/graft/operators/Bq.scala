package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.l2SqFold

/** Binary quantization — the 32×-compression ANN tier below [[Sq]] (SQ8)
  * and [[Pq]]: each dimension collapses to its SIGN BIT, vectors become
  * dim/64 machine words, and candidate generation is Hamming distance =
  * XOR + popcount — one fused instruction per word on any modern CPU,
  * and exactly the two-operator codegen expression Spark emits for
  * `bit_count(a ^ b)`. The modern serving stack (binary-quantized
  * retrieval + float re-rank) uses this as the first-pass filter because
  * for normalized embeddings sign agreement tracks cosine similarity
  * (Charikar 2002 hyperplane-LSH with axis-aligned planes).
  *
  * Search = Hamming top-`rerankFrom` over the packed corpus (reads
  * 1/32 the bytes of the float scan), then exact squared-L2 re-rank of
  * the survivors — the [[graft.store.VectorStore.searchPq]] overfetch
  * discipline. Both stages are exact integer / left-fold-double
  * arithmetic, so the tier is fully oracle-checkable: Hamming counts are
  * pack-invariant (the oracle counts sign mismatches dimension-wise,
  * never packing), and the re-rank is the engine's standard bit-exact
  * L2.
  *
  * The reference serves only full-precision vectors (its HNSW keeps
  * floats, `src/datanode/handler.py:86`); this tier is part of the
  * engine's scale extension alongside PQ/SQ8.
  */
object Bq {

  /** Sign bits packed into ceil(dim/32) long-held 32-bit words (bit i of
    * word w set iff vec[w·32+i] > 0; the tail word's high bits stay 0).
    * 32-bit words keep every intermediate positive — no sign-bit
    * overflow under ANSI arithmetic — while XOR/popcount semantics are
    * identical to a 64-bit pack. Built MSB-first by acc·2+bit folds:
    * pure codegen'd array lambdas, no UDF; the element access sits in a
    * lazily-evaluated CASE branch so out-of-range tail positions are
    * never read.
    */
  def packBits(vec: Column, dim: Int): Column = {
    require(dim >= 1, s"packBits: dim $dim must be >= 1")
    transform(sequence(lit(0), lit((dim + 31) / 32 - 1)), w =>
      aggregate(sequence(lit(31), lit(0), lit(-1)), lit(0L), (acc, i) => {
        val idx = w * 32 + i + 1
        acc * 2 + when(idx <= lit(dim),
          when(element_at(vec, idx.cast("int")) > lit(0.0), lit(1L))
            .otherwise(lit(0L)))
          .otherwise(lit(0L))
      }))
  }

  /** Hamming distance between two packed arrays: Σ popcount(a XOR b). */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Driver-side pack of one vector: bit i of word w set iff
    * v(w·32+i) > 0 — the exact [[packBits]] layout (pinned in BqSpec).
    */
  def packQuery(v: Array[Double]): Array[Long] =
    v.grouped(32).map(_.zipWithIndex.foldLeft(0L) { case (acc, (x, i)) =>
      if (x > 0) acc | (1L << i) else acc
    }).toArray

  /** [[hamming]] in plain Scala: Σ popcount(a XOR b) over the words of two
    * packs of one dimension (pinned equal to the SQL form in BqSpec).
    */
  def hammingOf(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var w = 0
    while (w < a.length) { acc += java.lang.Long.bitCount(a(w) ^ b(w)); w += 1 }
    acc
  }

  /** One partition of a packed index held in executor memory: the
    * records ([[KeyedRows]]) and their sign bits, row-aligned — the
    * element [[loadHeld]] yields.
    */
  final class HeldRows private[Bq] (val rows: KeyedRows,
      val bits: Array[Array[Long]])

  /** A packed index (key STRING, bits, metadata, ts) as one [[HeldRows]]
    * per partition of its scan, with no exchange. The RDD comes back
    * unpersisted: the caller persists it and owns the block (`VectorStore`
    * keeps one per handle), and the scan is only its lineage.
    */
  def loadHeld(packed: DataFrame): RDD[HeldRows] = {
    val spark = packed.sparkSession
    import spark.implicits._
    packed.select(col("key"), col("bits"), col("metadata"), col("ts"))
      .as[(String, Array[Long], Map[String, String], Long)].rdd
      .mapPartitions { it =>
        val rows = it.toArray
        Iterator(new HeldRows(
          new KeyedRows(rows.map(_._1), rows.map(_._4), rows.map(_._3)),
          rows.map(_._2)))
      }
  }

  /** The keys of the `n` best rows by (Hamming distance to `qbits`, key)
    * over held packs, the metadata equality `filter` applied to the
    * INDEXED metadata inside each task — one plain RDD job: each task
    * keeps its best `n`, the driver merges ([[KeyedRows.topKeys]]; the
    * collect is bounded by partitions × `n`). Keys must be unique, as in
    * a fresh build.
    */
  def heldTopKeys(held: RDD[HeldRows], qbits: Array[Long], n: Int,
      filter: Map[String, String]): Array[String] =
    KeyedRows.topKeys(held, n) { b =>
      KeyedRows.topN(b.rows.keys, n, b.rows.allowed(filter))(i =>
        hammingOf(b.bits(i), qbits).toDouble)
    }

  /** Batch KNN join over a PRE-PACKED corpus: top-k for EVERY query row,
    * Hamming first pass (packed corpus scan — 1/32 the bytes — with
    * broadcast query bits, map-side `TopK.SmallestK` heaps keeping
    * `rerankFrom` per query), exact squared-L2 re-rank of the survivors
    * against the full-vector corpus, final per-query top-k heaps. The
    * multi-query form [[bqTopK]] is the single-query slice of; packing
    * is the write-side cost ([[packBits]] at index build), so serving
    * never touches vectors until the re-rank join. Output: (qid, id,
    * score) ascending (score, id) within each qid.
    */
  def bqKnnJoin(packedCorpus: DataFrame, fullCorpus: DataFrame,
      queries: DataFrame, corpusId: String, corpusVec: String,
      queryId: String, queryVec: String, dim: Int, k: Int,
      rerankFrom: Int = 50): DataFrame = {
    val spark = packedCorpus.sparkSession
    import spark.implicits._
    val qs = queries.select(col(queryId).cast("long").as("qid"),
      packBits(col(queryVec), dim).as("qbits"),
      col(queryVec).cast("array<double>").as("qv"))
    val hscored = packedCorpus
      .select(col(corpusId).cast("long").as("id"), col("bits"))
      .crossJoin(broadcast(qs.select("qid", "qbits")))
      .select(col("qid").as("key"), col("id"),
        hamming(col("bits"), col("qbits")).cast("double").as("score"))
      .as[TopK.Scored]
    val cand = hscored.groupByKey(_.key)
      .agg(new TopK.SmallestK(rerankFrom.max(k)).toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), explode(col("topk")).as("n"))
      .select(col("qid"), col("n.id").as("id"))
    val rescored = cand
      .join(fullCorpus.select(col(corpusId).cast("long").as("id"),
        col(corpusVec).as("cv")), "id")
      .join(broadcast(qs.select("qid", "qv")), "qid")
      .select(col("qid").as("key"), col("id"),
        l2SqFold(col("cv").cast("array<double>"), col("qv")).as("score"))
      .as[TopK.Scored]
    rescored.groupByKey(_.key)
      .agg(new TopK.SmallestK(k).toColumn.name("topk"))
      .toDF("qid", "topk")
      .select(col("qid"), explode(col("topk")).as("n"))
      .select(col("qid"), col("n.id").as("id"), col("n.score").as("score"))
  }

  /** Binary-quantized top-k with exact re-rank: Hamming top-`rerankFrom`
    * candidates (ties → id) from the packed corpus, exact squared-L2 on
    * the survivors, top-k. `filter`/`threshold` give the tier the same
    * SearchRequest surface as the others (filter pre-rank, threshold on
    * the exact re-rank score).
    *
    * ORACLE/SELF-CONTAINED form only: this packs the corpus INSIDE the
    * query, paying the pack cost per call. The serving economics of BQ
    * live in the write-side packed artifact — use
    * [[graft.store.VectorStore.buildBqIndex]] /
    * [[graft.store.VectorStore.searchBq]] for repeated queries, where
    * packing happens once at index build and the scan reads 1/32 the
    * bytes with no per-query pack.
    */
  def bqTopK(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      queryId: Long, k: Int, rerankFrom: Int = 50,
      filter: Option[Column] = None,
      threshold: Option[Double] = None): DataFrame = {
    val corpus = filter.map(df.where).getOrElse(df)
    val q = df.where(col(idCol) === queryId)
      .select(packBits(col(vecCol), dim).as("qbits"),
        col(vecCol).cast("array<double>").as("qe"))
    val cand = corpus
      .select(col(idCol), packBits(col(vecCol), dim).as("bits"))
      .crossJoin(broadcast(q.select("qbits")))
      .select(col(idCol), hamming(col("bits"), col("qbits")).as("ham"))
      .orderBy(col("ham").asc, col(idCol).asc)
      .limit(rerankFrom.max(k))
      .select(col(idCol))
    val scored = corpus.join(cand, idCol)
      .crossJoin(broadcast(q.select("qe")))
      .select(col(idCol),
        l2SqFold(col(vecCol).cast("array<double>"), col("qe")).as("score"))
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }
}
