package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType,
  MapType, StringType, StructField, StructType}

/** Partition-local navigable-small-world (NSW) graph index — the Spark
  * re-expression of the reference's actual index structure: each datanode
  * keeps an hnswlib graph over its shard (`src/datanode/handler.py:46,86`,
  * `space='l2'`, M=32, ef_construction=128, query ef=64) and the
  * coordinator scatter-gathers per-node top-k (`src/coordinator/
  * handler.py:183-228`). Here a PARTITION plays the datanode: one
  * in-memory graph per partition (built in `mapPartitions` — the textbook
  * per-partition-model use), greedy beam search inside, and the
  * per-partition heaps merge globally, exactly the scatter-gather shape.
  *
  * This is the serving-latency tier the IVF/LSH/PQ family doesn't cover:
  * sub-linear reads WITHOUT a partition-pruning predicate, at the cost of
  * an in-memory graph. The build amortizes across a query BATCH
  * ([[nswTopKBatch]]) — the batch analog of the reference building its
  * index once and serving many searches.
  *
  * Single layer (NSW, Malkov et al. 2014) rather than hierarchical: the
  * hierarchy's job is starting the layer-0 beam NEAR the query instead
  * of at a fixed node, and a deterministic ~sqrt(n) stride-sampled seed
  * scan does that job with ZERO derived state (see [[Index.search]]) —
  * at a 10M-vector shard that is ~3k extra distance evals per search,
  * trivial next to the beam, with no persisted layers to maintain and
  * construction still deterministic and dependency-free.
  *
  * Determinism: insertion order is ascending id within the partition,
  * every candidate ordering tie-breaks (distance, id), and neighbor
  * pruning keeps the closest-by-(distance, id). Given a deterministic
  * partitioning (e.g. `repartition(n, col(id))`), results are a pure
  * function of the data. EXACTNESS INVARIANT: a beam of `efSearch >=
  * partition size` IS an exhaustive scan (the search switches to it
  * explicitly — graph pruning can orphan directed paths, so this is a
  * constructive guarantee, not a traversal hope), and the result then
  * equals exact KNN — the oracle hook for q84, same trick as q35's
  * full-probe invariant.
  */
object Nsw {

  /** In-memory single-layer NSW over one partition's vectors. */
  private final class Index(m: Int, efConstruction: Int) {
    private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    private val nbrs = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]

    // every candidate ordering in the index tie-breaks (distance, idx) —
    // total on Double so NaN can't corrupt heap order
    private implicit val ord: Ordering[(Double, Int)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

    def size: Int = vecs.length

    /** The adjacency list of node `i` — the persistable graph state. */
    def neighborsOf(i: Int): Array[Int] = nbrs(i).toArray

    /** Load a prebuilt graph (vectors + adjacency in insertion order)
      * WITHOUT re-running construction — the serve-from-artifact path.
      */
    def loadGraph(vs: Array[Array[Double]], adj: Array[Array[Int]]): Unit = {
      require(vecs.isEmpty, "loadGraph on a non-empty index")
      require(vs.length == adj.length,
        s"loadGraph: ${vs.length} vectors vs ${adj.length} adjacency rows")
      vs.foreach(vecs += _)
      adj.foreach(a => nbrs += mutable.ArrayBuffer.from(a))
    }

    /** Distance evaluations so far — the ANN cost unit (the beam's work
      * is all here; a Long increment is noise next to the dim-length
      * loop). Read by the seeding experiment to compare entry policies.
      */
    var evals: Long = 0L

    private def d2(a: Array[Double], b: Array[Double]): Double = {
      evals += 1
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }

    /** Beam search over the current graph: up to `ef` nearest (dist, idx)
      * pairs, ascending (dist, id). Visits the whole (connected) graph
      * when ef >= size. A non-null `allowed` set restricts the RESULT to
      * the marked nodes (the filtered-ANN discipline: disallowed nodes
      * are still traversed — they keep the graph connected — but never
      * collected), so a full-width beam stays exhaustive-over-allowed.
      */
    def search(q: Array[Double], ef: Int,
        allowed: java.util.BitSet = null,
        seeds: Array[Int] = null): mutable.ArrayBuffer[(Double, Int)] = {
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      if (vecs.isEmpty) return out
      require(q.length == vecs(0).length,
        s"NSW: query dimension ${q.length} != corpus ${vecs(0).length}")
      if (ef >= vecs.length) {
        // the exactness invariant, BY CONSTRUCTION: a full-width beam is
        // an exhaustive scan (adjacency pruning may orphan directed
        // paths, so exactness must not depend on traversal)
        out ++= vecs.indices
          .filter(i => allowed == null || allowed.get(i))
          .map(i => (d2(q, vecs(i)), i)).sorted
        return out
      }
      val visited = new java.util.BitSet(vecs.length)
      val frontier = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse) // min-heap
      val best = mutable.PriorityQueue.empty[(Double, Int)](ord)             // max-heap
      // Multi-restart entry seeding — the hierarchy's job without the
      // hierarchy: HNSW's upper layers exist to start the layer-0 beam
      // NEAR the query instead of at a fixed node. A deterministic
      // stride sample of ~sqrt(n) nodes enters the beam at EVERY seed
      // (NSW's multi-search restarts, made deterministic): one seed
      // alone can strand the search in a locally sparse DIRECTED region
      // (pruning keeps each adjacency to the m closest, so deep nodes
      // are far less back-linked than the early hub), while spread
      // seeds both cover disconnected regions and put one entry near
      // the query. sqrt(n) distance evals — trivial next to the beam at
      // any n; data-independent stride keeps search a pure function of
      // (graph, query); node 0 is always a seed so tiny graphs behave
      // exactly as before.
      // an explicit seed list (the 2-layer path, [[searchHier]]) replaces
      // the stride sample; node 0 always seeds either way so the early
      // hub's back-links stay reachable on tiny or adversarial graphs
      def enterAt(s: Int): Unit = if (!visited.get(s)) {
        val sd = (d2(q, vecs(s)), s)
        visited.set(s)
        frontier.enqueue(sd)
        if (allowed == null || allowed.get(s)) {
          best.enqueue(sd)
          if (best.size > ef) best.dequeue()
        }
      }
      if (seeds != null) {
        enterAt(0)
        seeds.foreach(s => enterAt(s))
      } else {
        val nSeeds = math.max(1, math.sqrt(vecs.length.toDouble).toInt)
        val stride = math.max(1, vecs.length / nSeeds)
        var s = 0
        while (s < vecs.length) { enterAt(s); s += stride }
      }
      while (frontier.nonEmpty) {
        val (cd, ci) = frontier.dequeue()
        if (best.size >= ef && cd > best.head._1) { frontier.clear() }
        else {
          val ns = nbrs(ci); var j = 0
          while (j < ns.length) {
            val nb = ns(j)
            if (!visited.get(nb)) {
              visited.set(nb)
              val nd = d2(q, vecs(nb))
              if (best.size < ef || nd < best.head._1 ||
                (nd == best.head._1 && nb < best.head._2)) {
                frontier.enqueue((nd, nb))
                if (allowed == null || allowed.get(nb)) {
                  best.enqueue((nd, nb))
                  if (best.size > ef) best.dequeue()
                }
              }
            }
            j += 1
          }
        }
      }
      out ++= best.dequeueAll.reverseIterator // ascending (dist, id)
      out
    }

    // ---- optional 2-layer hierarchy (experimental, measured) ----
    // HNSW's upper layers exist to find a near-query ENTRY cheaply; the
    // flat index gets the same benefit from √n stride seeds at √n
    // distance evals per query. The hierarchy amortizes that: a small
    // NSW over the SAME √n stride sample is built once, and each query
    // beams through it (~ef·m evals, independent of n) to pick entries
    // for the layer-0 beam. Break-even is when √n outgrows the upper
    // beam's constant — the 10M-vector shard regime the docs cite.
    private var upperIds: Array[Int] = null
    private var upperIdx: Index = null

    /** Build the upper layer over the stride sample (call after inserts;
      * rebuild after appends — it is √n small, so rebuild is cheap).
      */
    def buildUpperLayer(): Unit = {
      val n = vecs.length
      if (n == 0) return
      val nSeeds = math.max(1, math.sqrt(n.toDouble).toInt)
      val stride = math.max(1, n / nSeeds)
      upperIds = (0 until n by stride).toArray
      upperIdx = new Index(m, efConstruction)
      upperIds.foreach(i => upperIdx.insert(vecs(i)))
    }

    /** 2-layer search: beam the upper graph for `efUpper` entries, then
      * run the layer-0 beam seeded there (+ node 0). Same output contract
      * as [[search]]; recall/evals trade measured by NswHierBench.
      */
    def searchHier(q: Array[Double], ef: Int, efUpper: Int = 8,
        allowed: java.util.BitSet = null): mutable.ArrayBuffer[(Double, Int)] = {
      require(upperIdx != null, "searchHier before buildUpperLayer")
      val entries = upperIdx.search(q, efUpper).map(t => upperIds(t._2)).toArray
      search(q, ef, allowed, seeds = entries)
    }

    /** Evals including the upper layer's — the comparable cost figure. */
    def totalEvals: Long =
      evals + (if (upperIdx != null) upperIdx.evals else 0L)

    /** Insert, linking to the `m` nearest of an efConstruction-beam search
      * and back, pruning every adjacency list to the closest `m`
      * (hnswlib's simple-prune analog; bidirectional links keep the graph
      * connected — every node reaches node 0 by construction).
      */
    def insert(v: Array[Double]): Unit = {
      val idx = vecs.length
      // fail fast with a real message — a ragged corpus would otherwise
      // surface as an ArrayIndexOutOfBounds deep in the distance loop
      require(idx == 0 || v.length == vecs(0).length,
        s"NSW: dimension mismatch at insert $idx: ${v.length} != ${vecs(0).length}")
      vecs += v; nbrs += mutable.ArrayBuffer.empty[Int]
      if (idx == 0) return
      val found = search(v, math.max(m, efConstruction))
      val links = found.take(m)
      links.foreach { case (_, nb) =>
        nbrs(idx) += nb
        nbrs(nb) += idx
        if (nbrs(nb).length > math.max(m, 2)) {
          val pruned = nbrs(nb)
            .map(x => (d2(vecs(nb), vecs(x)), x)).sorted.take(math.max(m, 2))
          nbrs(nb).clear(); nbrs(nb) ++= pruned.map(_._2)
        }
      }
    }

  }

  /** Build one index over a partition's (already insertion-ordered) rows
    * and answer every query: (query_id, row index into `rows`, score),
    * k per query. Id-agnostic — internal tie-breaks are on the insertion
    * index, which the caller made deterministic by sorting on its key.
    */
  private def searchPartition[T](rows: Array[(T, Array[Double])],
      queries: Seq[(Long, Array[Double])], k: Int, m: Int,
      efConstruction: Int, efSearch: Int): Iterator[(Long, T, Double)] =
    if (rows.isEmpty) Iterator.empty
    else {
      val index = new Index(m, efConstruction)
      rows.foreach { case (_, v) => index.insert(v) }
      queries.iterator.flatMap { case (qid, qv) =>
        index.search(qv, math.max(efSearch, k)).take(k)
          .map { case (dist, idx) => (qid, rows(idx)._1, dist) }
      }
    }

  /** Deterministic datanode assignment: `pmod(hash(id), n)` as an
    * explicit COLUMN — never `TaskContext.getPartitionId()` after a
    * `repartition`: AQE may serve even an explicit repartition through a
    * local shuffle read (task ids then track MAPPERS, not hash buckets),
    * which would silently scramble build/append placement agreement.
    * With the column, build, append, live search and artifact all share
    * one placement function of the data alone.
    */
  private def withPid(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.withColumn("pid", pmod(hash(col(idCol)), lit(n)).cast("int"))

  /** Top-k per query over a query BATCH: one NSW build per partition,
    * every query answered against it, per-partition candidates merged
    * globally per query — the coordinator's scatter-gather. Output:
    * (query_id LONG, id LONG, score DOUBLE), k rows per query, ascending
    * (score, id) within a query. `efSearch >= max partition rows` makes
    * the result EXACT (see class doc). `numPartitions = Some(n)` PINS the
    * datanode assignment to `pmod(hash(id), n)` (the [[buildIndexKeyed]]
    * placement — live and artifact graphs then coincide bit-for-bit);
    * None uses the input's physical partitions as the datanodes.
    */
  def nswTopKBatch(df: DataFrame, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Double])], k: Int, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 64,
      numPartitions: Option[Int] = None): DataFrame = {
    require(k >= 1 && m >= 1 && efConstruction >= 1 && efSearch >= k,
      s"nswTopKBatch: need k>=1, m>=1, efConstruction>=1, efSearch>=k")
    val spark = df.sparkSession
    import spark.implicits._
    val qb = spark.sparkContext.broadcast(queries.sortBy(_._1))
    val base = df.select(col(idCol).cast("long"),
      col(vecCol).cast("array<double>"))
    val perPart = (numPartitions match {
      case Some(n) =>
        withPid(base, idCol, n).repartition(n, col("pid"))
          .as[(Long, Array[Double], Int)]
          .mapPartitions { it =>
            it.toArray.groupBy(_._3).iterator.flatMap { case (_, part) =>
              searchPartition(part.map(r => (r._1, r._2)).sortBy(_._1),
                qb.value, k, m, efConstruction, efSearch)
            }
          }
      case None =>
        base.as[(Long, Array[Double])].mapPartitions { it =>
          // ascending-id insertion: deterministic graph given the partition
          searchPartition(it.toArray.sortBy(_._1), qb.value, k, m,
            efConstruction, efSearch)
        }
    }).toDF("query_id", idCol, "score")
    mergeTopK(perPart, idCol, k)
  }

  /** STRING-keyed batch form — the store-serving shape (`VectorStore`
    * keys are strings, `src/vector_db.thrift:14`); insertion order is
    * ascending key, otherwise identical to [[nswTopKBatch]].
    */
  def nswTopKBatchKeyed(df: DataFrame, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Double])], k: Int, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 64,
      numPartitions: Option[Int] = None): DataFrame = {
    require(k >= 1 && m >= 1 && efConstruction >= 1 && efSearch >= k,
      s"nswTopKBatchKeyed: need k>=1, m>=1, efConstruction>=1, efSearch>=k")
    val spark = df.sparkSession
    import spark.implicits._
    val qb = spark.sparkContext.broadcast(queries.sortBy(_._1))
    val base = df.select(col(idCol).cast("string"),
      col(vecCol).cast("array<double>"))
    val perPart = (numPartitions match {
      case Some(n) =>
        withPid(base, idCol, n).repartition(n, col("pid"))
          .as[(String, Array[Double], Int)]
          .mapPartitions { it =>
            it.toArray.groupBy(_._3).iterator.flatMap { case (_, part) =>
              searchPartition(part.map(r => (r._1, r._2)).sortBy(_._1),
                qb.value, k, m, efConstruction, efSearch)
            }
          }
      case None =>
        base.as[(String, Array[Double])].mapPartitions { it =>
          searchPartition(it.toArray.sortBy(_._1), qb.value, k, m,
            efConstruction, efSearch)
        }
    }).toDF("query_id", idCol, "score")
    mergeTopK(perPart, idCol, k)
  }

  /** Global scatter-gather merge: numPartitions×k candidate rows per
    * query in, k out, (score, id) ascending within a query.
    */
  private def mergeTopK(perPart: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").asc, col(idCol).asc)
    perPart.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Build parameters persisted NEXT TO the graph rows (an
    * underscore-named sidecar, invisible to the parquet reader like
    * `_SUCCESS`): [[appendToIndexKeyed]] must route new rows with the SAME
    * partition count and insert with the SAME (m, efConstruction) the
    * build used, or the artifact silently fragments.
    */
  private case class IndexMeta(numPartitions: Int, m: Int, efConstruction: Int)

  private def metaFile(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_nsw_meta.json")

  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: IndexMeta): Unit = {
    val p = metaFile(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(
      s"""{"numPartitions":${meta.numPartitions},"m":${meta.m},"efConstruction":${meta.efConstruction}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexMeta = {
    val p = metaFile(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"NSW index at $path has no ${p.getName} sidecar " +
      "— was it written by buildIndexKeyed?")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(name: String): Int = {
      val m = s""""$name"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(text)
      require(m.isDefined, s"NSW meta sidecar at $p is missing '$name': $text")
      m.get.group(1).toInt
    }
    IndexMeta(field("numPartitions"), field("m"), field("efConstruction"))
  }

  /** Write `rebuilt` (carrying a `pid` column) into an underscore-named
    * staging dir (invisible to readers of `path`), then swap each touched
    * `pid=N` dir into place. Never reads-while-overwriting the live dir.
    */
  private def swapPartitions(spark: org.apache.spark.sql.SparkSession,
      rebuilt: DataFrame, path: String, touched: Array[Int]): Unit = {
    val staging = s"$path/_append_staging"
    rebuilt.write.partitionBy("pid").mode("overwrite").parquet(staging)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    touched.foreach { p =>
      val src = new org.apache.hadoop.fs.Path(staging, s"pid=$p")
      val dst = new org.apache.hadoop.fs.Path(path, s"pid=$p")
      if (fs.exists(dst)) fs.delete(dst, true)
      require(fs.exists(src), s"appendToIndexKeyed: staging lost pid=$p")
      require(fs.rename(src, dst), s"appendToIndexKeyed: rename failed for pid=$p")
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** Build and PERSIST the per-partition NSW graphs — the write-side
    * index build of the reference's lifecycle (`_rebuild_hnsw_index` at
    * checkpoint time, `datanode/handler.py:91-120`): construction cost is
    * paid here ONCE; [[loadIndexKeyed]] + [[searchLoaded]] then only read.
    * Layout: one row per indexed record — (pid, idx, key, vec, nbrs,
    * metadata, ts) — where `pid` is the build partition (the "datanode"),
    * `idx` the insertion index inside it and `nbrs` the adjacency by idx;
    * the parquet dir is PARTITIONED BY `pid` so [[appendToIndexKeyed]]
    * rewrites only touched graphs. The record's `metadata` and `ts` ride
    * along so [[searchLoaded]] can apply the SearchRequest metadata filter
    * DURING the beam (pre-rank) and the store can enforce LWW/soft-delete
    * on (key, ts) post-merge. Same placement (`repartition(n, col(key))`),
    * same ascending-key insertion order as the live `nswTopKBatchKeyed`
    * path, so a live build over the same corpus yields bit-identical
    * graphs.
    */
  def buildIndexKeyed(df: DataFrame, keyCol: String, vecCol: String,
      path: String, m: Int = 8, efConstruction: Int = 64,
      numPartitions: Int = 8): Unit = {
    require(m >= 1 && efConstruction >= 1 && numPartitions >= 1,
      "buildIndexKeyed: need m>=1, efConstruction>=1, numPartitions>=1")
    val spark = df.sparkSession
    import spark.implicits._
    withPid(df.select(col(keyCol).cast("string"),
        col(vecCol).cast("array<double>"),
        col("metadata").cast("map<string,string>"), col("ts").cast("long")),
        keyCol, numPartitions)
      .repartition(numPartitions, col("pid"))
      .as[(String, Array[Double], Map[String, String], Long, Int)]
      .mapPartitions { it =>
        it.toArray.groupBy(_._5).iterator.flatMap { case (pid, part) =>
          val rows = part.sortBy(_._1)
          val index = new Index(m, efConstruction)
          rows.foreach { case (_, v, _, _, _) => index.insert(v) }
          rows.iterator.zipWithIndex.map { case ((k, v, md, ts, _), i) =>
            (pid, i, k, v, index.neighborsOf(i), md, ts)
          }
        }
      }
      .toDF("pid", "idx", keyCol, "vec", "nbrs", "metadata", "ts")
      .write.partitionBy("pid").mode("overwrite").parquet(path)
    writeMeta(spark, path, IndexMeta(numPartitions, m, efConstruction))
  }

  /** Rows of a [[buildIndexKeyed]] artifact as written (`pid` is the
    * partition column) — the declared read schema, so a serve infers
    * nothing from the files.
    */
  def keyedIndexSchema(keyCol: String): StructType = StructType(Seq(
    StructField("idx", IntegerType), StructField(keyCol, StringType),
    StructField("vec", ArrayType(DoubleType)),
    StructField("nbrs", ArrayType(IntegerType)),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("ts", LongType), StructField("pid", IntegerType)))

  /** One build partition's graph of a [[buildIndexKeyed]] artifact, held
    * in memory with the key, version (`ts`) and indexed metadata of every
    * node ([[KeyedRows]], by node index): the element [[loadIndexKeyed]]
    * yields and [[searchLoaded]] searches.
    */
  final class KeyedGraph private[Nsw] (index: Index, rows: KeyedRows) {

    /** Every query's whole beam over this graph, as (query_id, key, ts,
      * score). The metadata equality `filter` marks the allowed nodes, so
      * it applies INSIDE the beam (see [[Index.search]]).
      */
    private[Nsw] def search(queries: Array[(Long, Array[Double])], ef: Int,
        filter: Map[String, String]): Iterator[(Long, String, Long, Double)] = {
      val allowed = rows.allowed(filter)
      queries.iterator.flatMap { case (qid, qv) =>
        index.search(qv, ef, allowed).iterator
          .map { case (dist, i) => (qid, rows.keys(i), rows.ts(i), dist) }
      }
    }
  }

  /** Load a [[buildIndexKeyed]] artifact as one RDD partition per `pid`
    * directory, whose one element is that partition's [[KeyedGraph]]:
    * each directory is its own scan, coalesced to one task, so the load
    * has no exchange, and vectors and adjacency are taken as stored (no
    * reconstruction). The RDD comes back unpersisted. The caller persists
    * it and owns the block (`VectorStore` keeps one per handle): every
    * [[searchLoaded]] job over a held RDD then searches graphs already in
    * executor memory, and the artifact read is only its lineage.
    */
  def loadIndexKeyed(spark: SparkSession, path: String,
      keyCol: String): RDD[KeyedGraph] = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pids = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith("pid=") => n.stripPrefix("pid=").toInt }
      .sorted
    val perPid = pids.toSeq.map { pid =>
      spark.read.schema(keyedIndexSchema(keyCol)).option("basePath", path)
        .parquet(s"$path/pid=$pid")
        .select(col("idx"), col(keyCol), col("vec"), col("nbrs"),
          col("metadata"), col("ts"))
        .as[(Int, String, Array[Double], Array[Int], Map[String, String], Long)]
        .rdd.coalesce(1)
        .mapPartitions { it =>
          val rows = it.toArray.sortBy(_._1)
          require(rows.zipWithIndex.forall { case (r, i) => r._1 == i },
            s"loadIndexKeyed: corrupt artifact — pid $pid idx not dense from 0")
          val index = new Index(1, 1) // params unused on the load path
          index.loadGraph(rows.map(_._3), rows.map(_._4))
          Iterator(new KeyedGraph(index,
            new KeyedRows(rows.map(_._2), rows.map(_._6), rows.map(_._5))))
        }
    }
    if (perPid.isEmpty) spark.sparkContext.emptyRDD[KeyedGraph]
    else spark.sparkContext.union(perPid)
  }

  /** Beam-search held graphs ([[loadIndexKeyed]]) for a query batch in ONE
    * job with no exchange and no broadcast: the queries and the metadata
    * equality `filter` travel in the task closure, and each task searches
    * the graph its partition holds. The filter is evaluated against the
    * INDEXED metadata inside the beam (disallowed nodes are traversed,
    * never collected), so a full-width beam is exhaustive-over-allowed:
    * exact filtered search, the oracle hook. Returns the WHOLE beam per
    * (graph, query), the store's overfetch budget for dropping stale or
    * deleted versions, as (query_id, key, ts, score). The collect is
    * bounded: at most graphs × queries × max(efSearch, k) rows.
    */
  def searchLoaded(graphs: RDD[KeyedGraph], queries: Seq[(Long, Array[Double])],
      k: Int, efSearch: Int = 64,
      filter: Map[String, String] = Map.empty): Array[(Long, String, Long, Double)] = {
    require(k >= 1 && efSearch >= k, "searchLoaded: need k>=1, efSearch>=k")
    val qs = queries.sortBy(_._1).toArray
    val ef = math.max(efSearch, k)
    graphs.flatMap(_.search(qs, ef, filter)).collect()
  }

  /** Incrementally insert a NEW batch into a persisted [[buildIndexKeyed]]
    * artifact — the `hnsw.add_items` live-insert analog
    * (`src/datanode/handler.py:263-297`), mirroring the IVF append: each
    * new row routes to its build partition (`pmod(hash(key), n)` — exactly
    * the build's `repartition(n, col(key))` assignment), that partition's
    * graph is LOADED (not rebuilt), the batch inserts in ascending-key
    * order, and ONLY the touched partition dirs are rewritten. Graph shape
    * can differ from a from-scratch build (insertion order differs), so
    * approximate-beam results may differ; at full-width beam both are
    * exhaustive and agree exactly (property-pinned in NswSpec). The
    * partition swap is staged then renamed per-dir; a crash mid-swap
    * loses index partitions, never data — rebuild recovers. A re-put key
    * gets a SECOND node — the store's serve path resolves versions by
    * (key, ts) LWW + liveness, exactly the IVF append discipline
    * (`appendToIvfIndex`).
    */
  def appendToIndexKeyed(df: DataFrame, keyCol: String, vecCol: String,
      path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val meta = readMeta(spark, path)
    val fresh = df
      .select(col(keyCol).cast("string"), col(vecCol).cast("array<double>"),
        col("metadata").cast("map<string,string>"), col("ts").cast("long"))
      .withColumn("pid",
        pmod(hash(col(keyCol)), lit(meta.numPartitions)).cast("int"))
    val touched = fresh.select("pid").distinct().collect().map(_.getInt(0))
    if (touched.isEmpty) return
    val existing = spark.read.schema(keyedIndexSchema(keyCol)).parquet(path)
      .where(col("pid").isin(touched.map(Int.box): _*))
      .select(col("pid"), col("idx"), col(keyCol), col("vec"), col("nbrs"),
        col("metadata"), col("ts"))
    val all = existing.unionByName(fresh.select(col("pid"),
      lit(-1).as("idx"), col(keyCol), col(vecCol).as("vec"),
      lit(null).cast("array<int>").as("nbrs"), col("metadata"), col("ts")))
    val rebuilt = all
      .as[(Int, Int, String, Array[Double], Array[Int],
        Map[String, String], Long)]
      .repartition(col("pid"))
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).iterator.flatMap { case (pid, part) =>
          val (old, add) = part.partition(_._2 >= 0)
          val rows = old.sortBy(_._2)
          require(rows.zipWithIndex.forall { case (r, i) => r._2 == i },
            s"appendToIndexKeyed: corrupt artifact — pid $pid idx not dense")
          val index = new Index(meta.m, meta.efConstruction)
          index.loadGraph(rows.map(_._4), rows.map(_._5))
          val adds = add.sortBy(_._3)
          adds.foreach(r => index.insert(r._4))
          val out = rows.map(r => (r._3, r._4, r._6, r._7)) ++
            adds.map(r => (r._3, r._4, r._6, r._7))
          out.iterator.zipWithIndex.map { case ((key, v, md, ts), i) =>
            (pid, i, key, v, index.neighborsOf(i), md, ts)
          }
        }
      }
      .toDF("pid", "idx", keyCol, "vec", "nbrs", "metadata", "ts")
    swapPartitions(spark, rebuilt, path, touched)
  }

  /** Single-query form: resolve the query row by id from the table (the
    * reference's search-by-key), then batch-of-one. Output (id, score).
    */
  def nswTopK(df: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int, m: Int = 8, efConstruction: Int = 64, efSearch: Int = 64): DataFrame = {
    val qRows: Array[Row] = df.where(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>")).take(1)
    require(qRows.nonEmpty, s"nswTopK: no row with $idCol = $queryId")
    val q = qRows.head.getSeq[Double](0).toArray
    nswTopKBatch(df, idCol, vecCol, Seq((queryId, q)), k, m, efConstruction,
      efSearch)
      .select(col(idCol), col("score"))
      .orderBy(col("score").asc, col(idCol).asc)
  }

  /** Entry-seeding experiment (dev, driven by `graft.NswHierBench`):
    * build ONE graph over `rows`, then measure recall@k and per-query
    * distance evaluations for (a) the production flat √n-stride seeding
    * and (b) the 2-layer hierarchy at each `efUpper`. Ground truth is a
    * driver-side exhaustive scan per query (not counted in evals).
    * Returns (mode, efSearch, recall@k mean, evals/query mean).
    */
  def seedingExperiment(rows: Array[(Long, Array[Double])],
      queries: Seq[Array[Double]], k: Int, m: Int, efConstruction: Int,
      efSearch: Seq[Int], efUpper: Seq[Int]): Seq[(String, Int, Double, Double)] = {
    val index = new Index(m, efConstruction)
    rows.foreach { case (_, v) => index.insert(v) }
    index.buildUpperLayer()
    def truth(q: Array[Double]): Set[Int] =
      rows.indices.map { i =>
        val v = rows(i)._2
        var acc = 0.0; var j = 0
        while (j < v.length) { val d = v(j) - q(j); acc += d * d; j += 1 }
        (acc, i)
      }.sorted.take(k).map(_._2).toSet
    val truths = queries.map(truth)
    def measure(mode: String, ef: Int)(
        run: Array[Double] => Seq[(Double, Int)]): (String, Int, Double, Double) = {
      val before = index.totalEvals
      val recalls = queries.zip(truths).map { case (q, t) =>
        val got = run(q).take(k).map(_._2).toSet
        (t intersect got).size.toDouble / k
      }
      (mode, ef, recalls.sum / recalls.length,
        (index.totalEvals - before).toDouble / queries.length)
    }
    efSearch.flatMap { ef =>
      measure(s"flat sqrt(n) seeds", ef)(q => index.search(q, ef).toSeq) +:
        efUpper.map(eu =>
          measure(s"2-layer efUpper=$eu", ef)(q =>
            index.searchHier(q, ef, eu).toSeq))
    }
  }
}
