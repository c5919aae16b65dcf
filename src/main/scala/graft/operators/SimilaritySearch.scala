package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers, mirroring how the reference's HNSW index would be
  * re-expressed on Spark:
  *   - brute force (the oracle): score every row, TakeOrderedAndProject —
  *     one scan, no shuffle of vectors, k rows per partition move;
  *   - IVF: assign rows to the nearest of K centroids once (a broadcast
  *     cross join — centroids are tiny), then probe only the query's
  *     cluster(s). At 100 TB the assignment is the write-side cost and the
  *     cluster id becomes a partition column, so a probe is partition
  *     pruning, not a scan;
  *   - random-hyperplane LSH: bucket = sign bits of dot(v, plane_j); probe
  *     the query's bucket then exact re-rank. Bucket id is again a
  *     partition-prunable column at scale.
  */
object SimilaritySearch {

  /** Brute-force cosine top-k (descending similarity, tie-break id asc). */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame =
    df.select(col(idCol), cosine(col(vecCol), typedLit(query)).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)

  /** Train `k` IVF centroids with the driver-side [[SampledKMeans]] (one
    * Spark job collects a bounded, deterministic sample; k-means++ seeding
    * from `seed`, then Lloyd). Output: (cid LONG, ce ARRAY<DOUBLE>) — tiny,
    * the frame form for plan-building callers (q35, [[ivfSearch]],
    * [[Pq.ivfAdcTopK]], the dedup operators), which broadcast it into
    * [[assignCells]]. The store calls [[SampledKMeans.fit]] directly,
    * persists the array next to the snapshot ([[saveCentroids]]) and keeps
    * it on the handle, assigning with [[assignCellsTo]] and ranking probes
    * with [[probeOrder]]: the Spark analog of the reference's
    * self-organizing index build (`src/datanode/handler.py:86-120`), train
    * once on write/compact, reuse across queries.
    */
  def trainCentroids(df: DataFrame, vecCol: String, k: Int,
      seed: Long = 42L): DataFrame =
    centroidFrame(df.sparkSession, SampledKMeans.fit(df, vecCol, k, seed))

  /** Driver-held centroids (index = cid) as a [[CentroidSchema]] frame. */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]]): DataFrame = {
    val rows = centroids.zipWithIndex.map { case (ce, cid) =>
      org.apache.spark.sql.Row(cid.toLong, ce.toSeq)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), CentroidSchema)
  }

  /** Persist / reload trained centroids (the index artifact — same
    * lifecycle as a VectorStore snapshot), read back with the declared
    * [[CentroidSchema]] rather than an inferred one.
    */
  def saveCentroids(centroids: DataFrame, path: String): Unit =
    graft.core.Schemas.conform(centroids, CentroidSchema)
      .write.mode("overwrite").parquet(path)

  def loadCentroids(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.schema(CentroidSchema).parquet(path)

  /** (cid, ce): the [[trainCentroids]] shape. */
  val CentroidSchema: StructType = StructType(Seq(
    StructField("cid", LongType), StructField("ce", ArrayType(DoubleType))))

  /** Rows → nearest-centroid assignment, carrying EVERY input column
    * through plus `cid` — the write-side form: an index build appends the
    * cell id to the full record and writes it partitioned, with no
    * re-join to recover the payload. `centroids` must be small and
    * non-empty; ties break on centroid id.
    *
    * SHUFFLE-FREE on the corpus side: the centroid table is folded into a
    * ONE-ROW array (sorted by cid), broadcast, and the argmin runs as a
    * row-local left fold — no n×K row explosion, no hash exchange, no
    * sort. The reference likewise assigns at write time with zero data
    * movement (`src/datanode/handler.py:263-297`). The only exchange in
    * the plan is the single-row broadcast of the centroid array itself
    * (plan-pinned in PlanShapeSpec: the corpus scan sits under no
    * shuffle).
    */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    // K rows → 1 row holding the (cid asc)-sorted centroid array; struct
    // sort orders by the first field, so array order IS cid order and the
    // strict `<` in the argmin keeps the LOWEST cid on distance ties —
    // bit-identical to the old (distance asc, cid asc) window rank.
    // The argmin itself is the codegen NearestCell expression (the HOF
    // fold it replaces is CodegenFallback and broke the scan's
    // WholeStageCodegen span); [[nearestCellFold]] is its declarative
    // twin, bit-parity-pinned in SimilaritySearchSpec.
    withNearestCell(df.crossJoin(broadcast(centArray(centroids))), vecCol,
      col("__cents")).drop("__cents")
  }

  /** [[assignCells]] against driver-held centroids (index = cid): the
    * centroid array is a literal of the [[centArray]] shape, so the plan
    * has no broadcast and no centroid job at all. Both forms stay because
    * their centroids live in different places: the store holds trained
    * arrays on its handle, while [[ivfTopK]]'s centroids are corpus rows
    * chosen by a predicate inside the plan (q25, oracle-checked), which
    * the frame form assigns without a driver round trip.
    */
  def assignCellsTo(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    withNearestCell(df, vecCol,
      typedLit(centroids.toSeq.zipWithIndex.map { case (ce, cid) => (cid.toLong, ce.toSeq) }))

  /** `cid` = the codegen argmin of `vecCol` over a [[centArray]]-shaped
    * column: the one assignment both forms above share.
    */
  private def withNearestCell(df: DataFrame, vecCol: String, cents: Column): DataFrame =
    df.withColumn("cid", graft.functions.expressions.NearestCell(col(vecCol), cents))

  /** The one-row (cid asc)-sorted centroid-array frame both argmin forms
    * consume; `ce` normalized to array<double> (distance arithmetic is
    * Double either way — same widening the codegen loop applies).
    */
  def centArray(centroids: DataFrame): DataFrame =
    centroids.agg(array_sort(collect_list(
      struct(col("cid"), col("ce").cast("array<double>").as("ce"))))
      .as("__cents"))

  /** Declarative twin of [[graft.functions.expressions.NearestCell]] —
    * the executable spec the codegen argmin is cross-checked against:
    * Double left-fold distances in array (= cid) order, strict `<`,
    * null when no centroid matches the vector's dimension.
    */
  def nearestCellFold(vec: Column, cents: Column): Column =
    aggregate(cents,
      struct(lit(Double.MaxValue).as("d"), lit(null).cast("long").as("cid")),
      (acc, c) => {
        val d = l2Sq(vec, c("ce"))
        when(d < acc("d"), struct(d.as("d"), c("cid").as("cid")))
          .otherwise(acc)
      },
      acc => acc("cid"))

  /** [[assignCells]] projected to the query-side shape (idCol, emb, cid). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignCells(df.select(col(idCol), col(vecCol).as("emb")), idCol, "emb",
      centroids)

  /** IVF search: top-k (squared L2) within the query's `nprobe` nearest
    * clusters. Centroids = rows satisfying `centroidPred` (deterministic
    * "training" — at scale, replace with persisted k-means centroids).
    * `nprobe` is the recall/reads dial — the IVF analog of the
    * reference's candidate over-fetch (`src/datanode/handler.py:360-364`):
    * each extra probe reads one more cluster (1/K of the corpus).
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      centroidPred: Column, queryId: Long, k: Int, nprobe: Int = 1): DataFrame =
    ivfSearch(df, idCol, vecCol,
      df.where(centroidPred).select(col(idCol).as("cid"), col(vecCol).as("ce")),
      queryId, k, nprobe)

  /** IVF search against an explicit (trained, persisted) centroid table,
    * honoring the reference's full `SearchRequest` surface
    * (`src/vector_db.thrift:23-28`): `filter` restricts the CANDIDATE
    * corpus pre-rank (the query row is still resolved from the full
    * table); `threshold` bounds the squared-L2 score post-rank, pre-limit
    * — exactly [[Knn.search]]'s semantics, on the approximate tier.
    */
  def ivfSearch(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, queryId: Long, k: Int, nprobe: Int = 1,
      filter: Option[Column] = None, threshold: Option[Double] = None): DataFrame = {
    val corpus = filter.map(df.where).getOrElse(df)
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
    val qEmb = df.where(col(idCol) === queryId)
      .select(col(vecCol).as("qe"))
    // the query's nprobe nearest centroids (centroids are tiny: broadcast)
    val probeCids = centroids.crossJoin(broadcast(qEmb))
      .select(col("cid"), col("qe"), l2Sq(col("ce"), col("qe")).as("d"))
      .orderBy(col("d").asc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid").as("qcid"), col("qe"))
    val scored = assigned.join(broadcast(probeCids), col("cid") === col("qcid"))
      .select(col(idCol), l2Sq(col("emb"), col("qe")).as("score"))
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }

  /** The `nprobe` cells a literal query vector probes — one (qcid) row per
    * probed cell, tie-break (distance, cid) — over a centroid frame, for
    * [[ivfSearchVec]] and [[Pq.ivfAdcTopK]], whose centroids may be
    * corpus rows chosen inside the plan, under any cids. Its driver twin
    * [[probeOrder]] ranks the store's held centroids without a job; the
    * two must rank cells identically or the tiers drift, and
    * SampledKMeansSpec pins them equal, ties included.
    */
  def probeCells(centroids: DataFrame, query: Array[Double], nprobe: Int): DataFrame =
    centroids
      .select(col("cid"), l2Sq(col("ce"), typedLit(query)).as("d"))
      .orderBy(col("d").asc, col("cid").asc)
      .limit(nprobe)
      .select(col("cid").as("qcid"))

  /** [[probeCells]] on the driver over centroids held as arrays (index =
    * cid): the same (distance, cid) order, with the same left-folded
    * Double distances, and no Spark job — what lets `searchIvf` run as
    * one job. Centroids whose length differs from the query's are
    * rejected rather than ranked.
    */
  def probeOrder(centroids: Array[Array[Double]], query: Array[Double],
      nprobe: Int): Array[Long] =
    centroids.indices
      .map(cid => (SampledKMeans.l2Sq(centroids(cid), query), cid.toLong))
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .take(nprobe).map(_._2).toArray

  /** IVF search by query VECTOR (no query row in the table) — the store-
    * serving form: assignment on the (possibly pre-filtered) corpus, probe
    * cids from the literal query against the broadcast centroids, exact
    * re-rank inside the probed cells.
    */
  def ivfSearchVec(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, query: Array[Double], k: Int, nprobe: Int = 1,
      threshold: Option[Double] = None): DataFrame = {
    val assigned = ivfAssign(df, idCol, vecCol, centroids)
    val probeCids = probeCells(centroids, query, nprobe)
    val scored = assigned.join(broadcast(probeCids), col("cid") === col("qcid"))
      .select(col(idCol), l2Sq(col("emb"), typedLit(query)).as("score"))
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }

  /** Bucket each row by random-hyperplane signs. Planes = rows satisfying
    * `planePred`, whose ids MUST be contiguous 1..P (bit j comes from plane
    * id j+1). Output: (idCol, emb, bucket).
    *
    * ROW-LOCAL: the P planes fold into a one-row broadcast array and the
    * bucket is a per-row OR of sign bits — no n×P cross product, no
    * aggregate keyed on the 512-dim embedding (the old form shuffled the
    * embedding as GROUP-BY KEY bytes). Long bit-OR is order-free, so the
    * pid-ordered fold equals the old unordered sum of distinct bits.
    */
  def rpLshBuckets(df: DataFrame, idCol: String, vecCol: String,
      planePred: Column): DataFrame = {
    val planes = df.where(planePred)
      .agg(array_sort(collect_list(
        struct(col(idCol).cast("long").as("pid"),
          col(vecCol).cast("array<double>").as("pe"))))
        .as("__planes"))
    df.select(col(idCol), col(vecCol).as("emb"))
      .crossJoin(broadcast(planes))
      // an EMPTY plane set would bucket every row to 0 — the whole corpus
      // collapses into one LSH bucket and every search degrades to an
      // exact scan of everything, silently. Fail fast in the row path
      // (the size() probe is over the one-row broadcast array — free).
      .withColumn("bucket",
        when(size(col("__planes")) > 0,
          graft.functions.expressions.RpBucket(col("emb"), col("__planes")))
        .otherwise(raise_error(lit(
          "rpLshBuckets: planePred matched no rows — plane ids must be contiguous 1..P with P >= 1"))))
      .drop("__planes")
  }

  /** Declarative twin of [[graft.functions.expressions.RpBucket]] — the
    * fold spec the codegen bucket loop is cross-checked against (distinct
    * plane bits make the fold's `+` equal the loop's bit-OR).
    */
  def rpBucketFold(vec: Column, planes: Column): Column =
    aggregate(planes, lit(0L),
      (acc, p) => acc + when(dot(vec, p("pe")) > 0,
        call_function("shiftleft", lit(1L), (p("pid") - 1).cast("int")))
        .otherwise(lit(0L)))

  /** RP-LSH search: candidates share the query's bucket; exact squared-L2
    * re-rank of the candidates, top-k. `filter`/`threshold` as in
    * [[ivfSearch]] (SearchRequest surface): filter prunes candidates
    * pre-rank — the query's own bucket still comes from the full table —
    * threshold bounds the score.
    */
  def rpLshTopK(df: DataFrame, idCol: String, vecCol: String,
      planePred: Column, queryId: Long, k: Int,
      filter: Option[Column] = None, threshold: Option[Double] = None): DataFrame = {
    val bucketed = rpLshBuckets(df, idCol, vecCol, planePred)
    val q = bucketed.where(col(idCol) === queryId)
      .select(col("emb").as("qe"), col("bucket").as("qb"))
    val cands = filter.map(bucketed.where).getOrElse(bucketed)
    val scored = cands.join(broadcast(q), col("bucket") === col("qb"))
      .select(col(idCol), l2Sq(col("emb"), col("qe")).as("score"))
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }

  /** Multi-probe RP-LSH: probe the query's bucket PLUS every bucket within
    * Hamming distance `flips` of it — bit-flip probing, the standard LSH
    * recall dial (SCALE.md "multi-probe sign-LSH"). Each extra flip trades
    * one more bucket read (1/2^P of the corpus in expectation) for recall,
    * the same read/recall economics as IVF's `nprobe`. `numPlanes` = P
    * (bucket bits come from plane ids 1..P, as in [[rpLshBuckets]]).
    * XOR masks are distinct, so probe buckets are distinct and a candidate
    * matches at most one probe — no dedup pass needed. At scale the probe
    * list is a tiny broadcast and each probe is partition pruning on the
    * bucket column, exactly like single-probe.
    */
  def rpLshTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
      planePred: Column, numPlanes: Int, queryId: Long, k: Int,
      flips: Int = 1,
      filter: Option[Column] = None, threshold: Option[Double] = None): DataFrame = {
    require(flips >= 0 && flips <= 2, s"rpLshTopKMultiProbe: flips must be 0..2, got $flips")
    val bucketed = rpLshBuckets(df, idCol, vecCol, planePred)
    // every bit-subset of size <= flips, built driver-side: P is small by
    // construction (2^P buckets must stay selective), so the mask list is
    // 1 + P + P(P-1)/2 literals at most
    val masks: Seq[Long] =
      Seq(0L) ++
        (if (flips >= 1) (0 until numPlanes).map(j => 1L << j) else Nil) ++
        (if (flips >= 2)
          for { a <- 0 until numPlanes; b <- (a + 1) until numPlanes }
            yield (1L << a) | (1L << b)
        else Nil)
    val q = bucketed.where(col(idCol) === queryId)
      .select(col("emb").as("qe"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("qb"))
    val cands = filter.map(bucketed.where).getOrElse(bucketed)
    val scored = cands.join(broadcast(q), col("bucket") === col("qb"))
      .select(col(idCol), l2Sq(col("emb"), col("qe")).as("score"))
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }

  /** MLlib `BucketedRandomProjectionLSH` as the approximate index (SURVEY
    * §7 step 8): fit with a fixed seed, over-fetch 2k candidates mirroring
    * the reference's candidate multiplier (`src/datanode/handler.py:364`),
    * then exact squared-L2 re-rank and truncate to k. Quality is measured
    * as recall against the exact path (a reported metric, not an oracle —
    * ANN results are model-dependent by nature, like HNSW's).
    */
  def mllibLshTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int,
      bucketLength: Double = 1.0, numTables: Int = 3,
      filter: Option[Column] = None, threshold: Option[Double] = None): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val data = df.select(col(idCol),
      col(vecCol).as("raw"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new BucketedRandomProjectionLSH()
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(42L)
      .setInputCol("features").setOutputCol("hashes")
      .fit(data)
    val qRows = data.where(col(idCol) === queryId).select("features").take(1)
    require(qRows.nonEmpty, s"mllibLshTopK: no row with $idCol = $queryId")
    val qKey = qRows.head.getAs[org.apache.spark.ml.linalg.Vector](0)
    val qArr = qKey.toArray
    // filter pre-rank (SearchRequest surface): prune the candidate corpus
    // before the index probe; the query key was already resolved above
    val corpus = filter.map(data.where).getOrElse(data)
    val scored = model.approxNearestNeighbors(corpus, qKey, 2 * k)
      .select(col(idCol), l2Sq(col("raw"), typedLit(qArr)).as("score"))
    threshold.map(t => scored.where(col("score") <= lit(t))).getOrElse(scored)
      .orderBy(col("score").asc, col(idCol).asc)
      .limit(k)
  }
}
