package graft

import java.nio.file.{Files, Paths}

import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Knn, Nsw, Pq, SimilaritySearch}
import graft.store.VectorStore

class VectorStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-store-").toString

  private def rec(key: String, v: Array[Float], ts: Long, tag: String = "t") =
    (key, v, Map("tag" -> tag), ts)

  private def batch(rows: (String, Array[Float], Map[String, String], Long)*) =
    rows.toDF("key", "vector", "metadata", "ts")

  private def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def pairs(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  private def records(df: DataFrame) = df.orderBy("key").collect().map(r =>
    (r.getString(0), r.getSeq[Double](1), r.getMap[String, String](2), r.getLong(3))).toSeq

  private lazy val probe = Probe.Listener.attach(spark)

  // A handle that served searchNsw, or searchPq/searchBq on a fresh index,
  // holds that tier's rows in a persisted RDD until closed, so every test
  // that serves NSW, or PQ/BQ on a fresh handle, opens its handles through
  // `Using` and leaves no block behind in the shared session.

  /** The executed plans of every SQL execution `run` starts, and its
    * answer: PQ and BQ run their phase 1 inside the search call, so the
    * returned frame's own plan is phase 2 alone.
    */
  private def served(run: => DataFrame): (String, Seq[(String, Double)]) = {
    val m = probe.measure(pairs(run))
    (m.plans.map(_.executedPlan.toString).mkString("\n"), m.value)
  }

  test("put then get round-trips; dim validation rejects bad rows") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    val (ok, rejected) = store.put(batch(
      rec("a", Array(1f, 2f), 10),
      rec("bad", Array(1f), 20))) // wrong dim
    assert(ok === 1 && rejected === 1)
    val got = store.get("a").collect()
    assert(got.length === 1)
    assert(got.head.getAs[Seq[Double]]("vector") === Seq(1.0, 2.0))
    assert(store.get("bad").count() === 0)
  }

  test("last writer wins on key overwrite (R1)") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("k", Array(1f, 1f), 10)))
    store.put(batch(rec("k", Array(9f, 9f), 20)))
    val got = store.scan.collect()
    assert(got.length === 1)
    assert(got.head.getAs[Seq[Double]]("vector") === Seq(9.0, 9.0))
  }

  test("delete tombstones a key; error-free re-put revives it (R2)") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("k", Array(1f, 1f), 10), rec("m", Array(2f, 2f), 10)))
    store.delete(Seq("k"), ts = 20)
    assert(store.scan.select("key").collect().map(_.getString(0)).toSeq === Seq("m"))
    store.put(batch(rec("k", Array(3f, 3f), 30)))
    assert(store.scan.count() === 2)
  }

  test("compaction snapshot + incremental replay == full replay (S6≡S7)") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10), rec("b", Array(2f, 2f), 10)))
    store.delete(Seq("a"), ts = 20)
    store.compact() // snapshot covers everything so far
    store.put(batch(rec("c", Array(3f, 3f), 30), rec("b", Array(4f, 4f), 40)))
    val got = store.scan.orderBy("key").collect()
      .map(r => (r.getString(0), r.getAs[Seq[Double]]("vector")))
    assert(got === Array(("b", Seq(4.0, 4.0)), ("c", Seq(3.0, 3.0))))
    // fresh store object over the same dir recovers identically
    val store2 = new VectorStore(spark, dir, dim = 2)
    assert(store2.scan.orderBy("key").collect()
      .map(r => (r.getString(0), r.getAs[Seq[Double]]("vector"))) === got)
  }

  test("corrupt WAL lines are skipped, valid ops survive (PERMISSIVE)") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10)))
    // a torn/corrupt WAL file inside its own batch partition dir: one
    // valid op line, one garbage line (a separate file — appending to a
    // Spark-written one would only trip the Hadoop CRC checksum, a
    // different failure than corrupt JSON)
    val valid = """{"op_type":"PUT","key":"b","vector":[2.0,2.0],""" +
      s""""metadata":{},"timestamp":15,"node_id":"n1"}"""
    val tornDir = Paths.get(s"$dir/wal/batch_seq=${Long.MaxValue - 1}")
    Files.createDirectories(tornDir)
    Files.write(tornDir.resolve("torn-manual.json"),
      (valid + "\n{this is not json\n").getBytes)
    assert(store.scan.count() === 2) // a + b survive, garbage skipped
  }

  test("compact() is idempotent; snapshot remembers tombstones (no resurrection)") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("k", Array(1f, 1f), 100)))
    store.delete(Seq("k"), ts = 200)
    store.compact()
    store.compact() // second call with no new ops must be a clean no-op
    assert(store.scan.count() === 0)
    // a late backfill PUT with an OLDER event time must stay dead: the
    // snapshot keeps the ts=200 tombstone even though wal_pos passed it
    store.put(batch(rec("k", Array(9f, 9f), 150)))
    assert(store.scan.count() === 0, "older-ts backfill resurrected a deleted key")
    // and a genuinely newer PUT revives it
    store.put(batch(rec("k", Array(5f, 5f), 300)))
    assert(store.scan.collect().map(_.getString(0)).toSeq === Seq("k"))
  }

  test("same-batch equal-ts duplicate keys resolve deterministically") {
    def winner(): Seq[Double] = {
      val store = new VectorStore(spark, tmpDir(), dim = 2)
      store.put(batch(
        rec("k", Array(1f, 0f), 100),
        rec("k", Array(0f, 1f), 100))) // same key, same ts, same batch
      store.scan.select("vector").head().getSeq[Double](0).toList
    }
    assert(winner() === winner()) // content-hash tie-break, not partition luck
  }

  test("incremental replay prunes WAL partitions (S8 file-level pruning)") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10)))
    store.put(batch(rec("b", Array(2f, 2f), 20)))
    store.compact()
    store.put(batch(rec("c", Array(3f, 3f), 30)))
    val delta = store.walOps()
    // only the post-checkpoint batch survives...
    assert(delta.select("key").collect().map(_.getString(0)).toSeq === Seq("c"))
    // ...and it does so via partition pruning, not a row filter
    val plan = delta.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("batch_seq"),
      s"expected batch_seq partition pruning in:\n$plan")
  }

  test("search over the live store honors filter + threshold") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      rec("near", Array(0f, 1f), 10, tag = "keep"),
      rec("far", Array(9f, 9f), 10, tag = "keep"),
      rec("other", Array(0f, 0.5f), 10, tag = "drop")))
    val got = store.search(Knn.SearchRequest(Array(0.0, 0.0), topK = 5,
      filter = Map("tag" -> "keep"), threshold = Some(5.0)))
      .collect().map(_.getString(0))
    assert(got === Array("near"))
  }

  test("appendToIvfIndex: inserts served without rebuild; LWW + soft-delete") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      rec("near", Array(0f, 1f), 10),
      rec("mid", Array(0f, 3f), 10),
      rec("far", Array(9f, 9f), 10),
      rec("stale", Array(0f, 2f), 10),
      rec("gone", Array(0f, 4f), 10)))
    store.buildIvfIndex(k = 2)
    // live inserts after the build: a NEW key + an UPDATE that moves an
    // existing key right next to the query
    store.put(batch(
      rec("fresh", Array(0f, 0.5f), 20),
      rec("stale", Array(0f, 0.25f), 20)))
    store.appendToIvfIndex(batch(
      rec("fresh", Array(0f, 0.5f), 20),
      rec("stale", Array(0f, 0.25f), 20)).select(
        col("key"), col("vector").cast("array<double>").as("vector"),
        col("metadata"), col("ts")))
    // and a delete the index has not seen (soft-delete discipline)
    store.delete(Seq("gone"), ts = 30)
    val got = store.searchIvf(
        Knn.SearchRequest(Array(0.0, 0.0), topK = 4), nprobe = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // fresh served; stale served at its NEW position (0.0625, not the
    // old 4.0); gone absent despite its index row
    assert(got.map(_._1).toSeq === Seq("stale", "fresh", "near", "mid"),
      got.mkString(","))
    assert(math.abs(got.head._2 - 0.0625) < 1e-12)
    assert(!got.map(_._1).contains("gone"))
  }

  test("searchIvf never serves a stale version: re-put into an UNPROBED cell") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      rec("n1", Array(0f, 1f), 10),
      rec("n2", Array(0f, 2f), 10),
      rec("mover", Array(0f, 1.5f), 10),
      rec("f1", Array(9f, 9f), 10),
      rec("f2", Array(9f, 8f), 10)))
    store.buildIvfIndex(k = 2)
    // mover relocates to the FAR cluster; the append indexes the new
    // version into the far cell, leaving the old near-cell row in place
    store.put(batch(rec("mover", Array(9f, 8.5f), 20)))
    store.appendToIvfIndex(batch(rec("mover", Array(9f, 8.5f), 20)).select(
      col("key"), col("vector").cast("array<double>").as("vector"),
      col("metadata"), col("ts")))
    // probe ONLY the near cell: mover's old row is the newest INDEXED row
    // there, but it is not the live version — it must be an honest miss,
    // never a stale (0, 1.5) serve
    val near = store.searchIvf(
        Knn.SearchRequest(Array(0.0, 0.0), topK = 5), nprobe = 1)
      .collect().map(_.getString(0))
    assert(near.toSeq === Seq("n1", "n2"), near.mkString(","))
    // probing both cells serves mover at its NEW position/score
    val both = store.searchIvf(
        Knn.SearchRequest(Array(0.0, 0.0), topK = 5), nprobe = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val mover = both.find(_._1 == "mover")
    assert(mover.isDefined, both.mkString(","))
    assert(math.abs(mover.get._2 - (81.0 + 72.25)) < 1e-9, mover.toString)
  }

  test("IVF write path fails loudly when a vector gets no cell (null cid)") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("a", Array(0f, 1f), 10), rec("b", Array(5f, 5f), 10)))
    store.buildIvfIndex(k = 2)
    // a dim-mismatched record can reach appendToIvfIndex directly (no put
    // validation on this path): it must ERROR at index write, not vanish
    val bad = Seq(("ghost", Array(1.0, 2.0, 3.0),
      Map.empty[String, String], 20L)).toDF("key", "vector", "metadata", "ts")
    val e = intercept[Throwable] { store.appendToIvfIndex(bad) }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(e).contains("got no cell"), messages(e))
  }

  test("searchNswLive honors the full request; exhaustive beam equals exact") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      rec("near", Array(0f, 1f), 10, tag = "keep"),
      rec("mid", Array(0f, 3f), 10, tag = "keep"),
      rec("far", Array(9f, 9f), 10, tag = "keep"),
      rec("dropme", Array(0f, 0.5f), 10, tag = "drop")))
    // beam >= table size -> exact; filter pre-rank, threshold post-rank
    val req = Knn.SearchRequest(Array(0.0, 0.0), topK = 3,
      filter = Map("tag" -> "keep"), threshold = Some(10.0))
    val got = store.searchNswLive(req, efSearch = 1 << 20)
      .collect().map(_.getString(0))
    assert(got === Array("near", "mid"))
    // same rows and scores as the exact tier at the degenerate setting
    val exact = store.search(req).collect().map(r => (r.getString(0), r.getDouble(1)))
    val nsw = store.searchNswLive(req, efSearch = 1 << 20)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(nsw.toSeq === exact.toSeq)
  }

  test("NSW artifact serves bit-identical to the live build (approx + exact)") {
    Using.resource(new VectorStore(spark, tmpDir(), dim = 2)) { store =>
      // 16 keys over 4 partitions: partitions larger than the approx beam
      val rows = (0 until 16).map { i =>
        rec(f"k$i%02d", Array(i.toFloat, (i % 5).toFloat), 10,
          tag = if (i % 2 == 0) "even" else "odd")
      }
      store.put(batch(rows: _*))
      store.buildNswIndex(m = 4, efConstruction = 16, numPartitions = 4)
      def collectPairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      val req = Knn.SearchRequest(Array(3.0, 2.0), topK = 3)
      // same partitioning, same insertion order -> same graphs -> the
      // served beam must equal the live build's beam EXACTLY, approximate
      // (ef = 3 < partition size) and exhaustive alike
      Seq(3, 1 << 20).foreach { ef =>
        assert(collectPairs(store.searchNsw(req, efSearch = ef)) ===
          collectPairs(store.searchNswLive(req, m = 4, efConstruction = 16,
            efSearch = ef, numPartitions = 4)), s"ef=$ef")
      }
      // filtered + threshold at the exactness invariant: beam-internal
      // filtering is exhaustive-over-allowed, so all three tiers agree
      val freq = Knn.SearchRequest(Array(3.0, 2.0), topK = 4,
        filter = Map("tag" -> "odd"), threshold = Some(50.0))
      val served = collectPairs(store.searchNsw(freq, efSearch = 1 << 20))
      assert(served === collectPairs(store.searchNswLive(freq,
        efSearch = 1 << 20)))
      assert(served === collectPairs(store.search(freq)))
    }
  }

  test("scanAsOf: time travel to any append point, across compaction and reopen") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 0f), 10), rec("b", Array(0f, 1f), 10)))
    val s1 = store.currentSeq
    store.put(batch(rec("a", Array(9f, 9f), 20))) // overwrite a
    val s2 = store.currentSeq
    store.delete(Seq("b"), ts = 30)
    val s3 = store.currentSeq
    store.compact()
    store.put(batch(rec("c", Array(5f, 5f), 40)))
    val s4 = store.currentSeq
    def view(s: Long) = store.scanAsOf(s).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).head)).toMap
    assert(view(s1) === Map("a" -> 1.0, "b" -> 0.0))
    assert(view(s2) === Map("a" -> 9.0, "b" -> 0.0))
    assert(view(s3) === Map("a" -> 9.0))
    assert(view(s4) === Map("a" -> 9.0, "c" -> 5.0))
    // the present as-of equals the live scan
    assert(store.scanAsOf(store.currentSeq).collect().map(_.getString(0)).toSet
      === store.scan.collect().map(_.getString(0)).toSet)
    // history is a pure function of the files: a cold reopen agrees,
    // including for seqs OLDER than the snapshot position (WAL replay)
    val re = new VectorStore(spark, dir, dim = 2)
    assert(re.scanAsOf(s2).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).head)).toMap
      === Map("a" -> 9.0, "b" -> 0.0))
  }

  test("diff: added/deleted/updated classification; unchanged keys silent") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      rec("upd", Array(1f, 0f), 10), rec("del", Array(0f, 1f), 10),
      rec("same", Array(2f, 2f), 10)))
    val sA = store.currentSeq
    store.put(batch(rec("upd", Array(9f, 9f), 20), rec("new", Array(3f, 3f), 20)))
    store.delete(Seq("del"), ts = 30)
    val got = store.diff(sA, store.currentSeq).collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    assert(got === Map(
      "new" -> (("added", None, Some(20L))),
      "del" -> (("deleted", Some(10L), None)),
      "upd" -> (("updated", Some(10L), Some(20L)))))
    // 'same' never appears — the diff is a delta, not a join dump
    assert(!got.contains("same"))
    // diff at identical positions is empty
    assert(store.diff(store.currentSeq, store.currentSeq).count() === 0)
    // an OLDER tombstone does not delete a newer put (event-time LWW
    // carries into the diff): put wins, key shows as updated not deleted
    store.put(batch(rec("upd", Array(7f, 7f), 50)))
    store.delete(Seq("upd"), ts = 40) // late tombstone, older event time
    val d2 = store.diff(sA, store.currentSeq).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(d2("upd") === "updated")
  }

  test("NSW fresh-index fast path: shuffle-free plan, parity with the full discipline") {
    Using.Manager { use =>
      val dir = tmpDir()
      val store = use(new VectorStore(spark, dir, dim = 2))
      store.put(batch((0 until 12).map(i =>
        rec(f"k$i%02d", Array(i.toFloat, (i % 3).toFloat), 10)): _*))
      store.buildNswIndex(m = 4, efConstruction = 16, numPartitions = 4)
      val req = Knn.SearchRequest(Array(2.0, 1.0), topK = 3)
      // fresh build: the newest-version window and liveness semi-join are
      // provably no-ops — the plan must not contain either shuffle
      val freshPlan = store.searchNsw(req, efSearch = 1 << 20)
        .queryExecution.executedPlan.toString
      assert(!freshPlan.contains("Window") && !freshPlan.contains("Join"),
        freshPlan)
      val fresh = store.searchNsw(req, efSearch = 1 << 20)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      // cold reopen: same on-disk state, but freshness is driver state →
      // conservative full-discipline path; results must be bit-identical
      val reopened = use(new VectorStore(spark, dir, dim = 2))
      val slowPlan = reopened.searchNsw(req, efSearch = 1 << 20)
        .queryExecution.executedPlan.toString
      assert(slowPlan.contains("Window") && slowPlan.contains("Join"), slowPlan)
      assert(reopened.searchNsw(req, efSearch = 1 << 20)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq === fresh)
      // any store write invalidates the fast path (a re-put key's stale
      // indexed version must fail liveness, which needs the semi-join)
      store.put(batch(rec("k00", Array(9f, 9f), 20)))
      val afterWrite = store.searchNsw(req, efSearch = 1 << 20)
        .queryExecution.executedPlan.toString
      assert(afterWrite.contains("Join"), afterWrite)
    }.get
  }

  test("IVF/BQ/PQ fresh-index fast path: no window or liveness semi-join, " +
      "parity with the full discipline") {
    Using.Manager { use =>
      val dir = tmpDir()
      val store = use(new VectorStore(spark, dir, dim = 2))
      // 12 distinct vectors, and three more keys on k04's vector: they tie
      // k04 on every first-pass and exact score, so the key decides
      store.put(batch(((0 until 12).map(i =>
          rec(f"k$i%02d", Array(i.toFloat, (i % 3).toFloat), 10, tag = s"t${i % 2}")) ++
        Seq("j04", "k04a", "k04b").map(k => rec(k, Array(4f, 1f), 10, tag = "t0"))): _*))
      store.compact() // steady state: the live table is a snapshot scan
      store.buildIvfIndex(k = 2)
      store.buildBqIndex()
      store.buildPqIndex(numSub = 2, numWords = 4)
      // top 5 = k01, k02, k03, then j04 and k04 out of the four-way tie
      val req = Knn.SearchRequest(Array(2.0, 1.0), topK = 5)
      val tagged = req.copy(filter = Map("tag" -> "t0"))
      // every SQL execution of each call: PQ/BQ run phase 1 inside the
      // call. rerankFrom = 15 covers the corpus (exact answers); 5 cuts
      // the first pass inside its ties
      def serve(s: VectorStore): Seq[(String, (String, Seq[(String, Double)]))] = Seq(
        "ivf" -> served(s.searchIvf(req, nprobe = 2)),
        "bq" -> served(s.searchBq(req, rerankFrom = 15)),
        "pq" -> served(s.searchPq(req, rerankFrom = 15)),
        "bq cut" -> served(s.searchBq(req, rerankFrom = 5)),
        "pq cut" -> served(s.searchPq(req, rerankFrom = 5)),
        "bq filtered" -> served(s.searchBq(tagged, rerankFrom = 5)))
      // fresh builds: every key indexed once and live, so neither the
      // newest-version window nor the (key, ts) semi-join is in the plan
      val fresh = serve(store)
      fresh.foreach { case (t, (p, _)) =>
        assert(!p.contains("Window") && !p.contains("LeftSemi"), s"$t: $p")
      }
      val exact = pairs(store.search(req))
      assert(exact.map(_._1) === Seq("k01", "k02", "k03", "j04", "k04"))
      // a filtered PQ request keeps its pre-rank semi-join even when fresh
      val (filteredPlan, filtered) = served(store.searchPq(tagged, rerankFrom = 15))
      assert(filteredPlan.contains("LeftSemi"), filteredPlan)
      assert(filtered === pairs(store.search(tagged)))
      assert(pairs(store.searchBq(tagged, rerankFrom = 15)) === filtered)
      // cold reopen: freshness is driver state, so the full discipline runs
      // and must give the same answers, ties included
      val reopened = serve(use(new VectorStore(spark, dir, dim = 2)))
      fresh.zip(reopened).foreach { case ((t, (_, a)), (_, (p, b))) =>
        assert(p.contains("LeftSemi") && (t.startsWith("pq") || p.contains("Window")),
          s"$t: $p")
        assert(a === b, t)
        // the cut and filtered serves rank 5 candidates or a subset, so
        // only the full-corpus serves must equal the exact answer
        if (!t.contains(" ")) assert(a === exact, t)
      }
      // any store write invalidates every tier's fast path
      store.put(batch(rec("k00", Array(9f, 9f), 20)))
      serve(store).foreach { case (t, (p, _)) =>
        assert(p.contains("LeftSemi"), s"$t: $p")
      }
    }.get
  }

  test("a delete after an IVF or BQ build, with no append, is never served") {
    Using.resource(new VectorStore(spark, tmpDir(), dim = 2)) { store =>
      store.put(batch((0 until 6).map(i =>
        rec(s"k$i", Array(i.toFloat, 1f), 10)): _*))
      store.buildIvfIndex(k = 2)
      store.buildBqIndex()
      val req = Knn.SearchRequest(Array(0.0, 1.0), topK = 6)
      def ivf = pairs(store.searchIvf(req, nprobe = 2))
      def bq = pairs(store.searchBq(req, rerankFrom = 6))
      assert(ivf.map(_._1).contains("k0") && bq.map(_._1).contains("k0"))
      // the delete bumps the store's seq, so both tiers leave the fast
      // path without any index write
      store.delete(Seq("k0"), ts = 20)
      val exact = pairs(store.search(req))
      assert(!exact.map(_._1).contains("k0"))
      assert(ivf === exact)
      assert(bq === exact)
    }
  }

  test("after compact, the live table is the snapshot alone and equals the " +
      "window path, with and without tombstone GC and after a cold reopen") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10), rec("b", Array(2f, 2f), 10),
      rec("c", Array(3f, 3f), 10, tag = "x")))
    store.put(batch(rec("b", Array(4f, 4f), 20)))
    store.delete(Seq("a"), ts = 30)
    store.delete(Seq("c"), ts = 5) // older tombstone: c stays live
    val before = records(store.scan)
    assert(planOf(store.scan).contains("Window"))
    assert(before.map(_._1) === Seq("b", "c"))
    store.compact()
    // scanAsOf always resolves through the window — the reference result
    assert(planOf(store.scanAsOf(store.currentSeq)).contains("Window"))
    assert(!planOf(store.scan).contains("Window"), planOf(store.scan))
    assert(records(store.scan) === before)
    assert(records(store.scanAsOf(store.currentSeq)) === before)
    val re = new VectorStore(spark, dir, dim = 2)
    assert(!planOf(re.scan).contains("Window"))
    assert(records(re.scan) === before)
    assert(records(re.scanAsOf(re.currentSeq)) === before)
    // a GC'd compaction keeps the invariant (one row per key)
    store.delete(Seq("b"), ts = 40)
    store.compact(gcTombstonesBefore = Some(35L))
    assert(!planOf(store.scan).contains("Window"))
    assert(records(store.scan) === records(store.scanAsOf(store.currentSeq)))
    assert(records(store.scan).map(_._1) === Seq("c"))
    val re2 = new VectorStore(spark, dir, dim = 2)
    assert(records(re2.scan) === records(re2.scanAsOf(re2.currentSeq)))
  }

  test("steady-state get and search: one stage each, no window, no exchange") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch((0 until 8).map(i =>
      rec(s"k$i", Array(i.toFloat, 1f), 10, tag = s"t${i % 2}")): _*))
    store.delete(Seq("k1"), ts = 20)
    store.compact()
    val req = Knn.SearchRequest(Array(0.0, 1.0), topK = 3, filter = Map("tag" -> "t1"))
    Seq(store.get("k3"), store.search(req)).foreach { df =>
      val p = planOf(df)
      assert(!p.contains("Window") && !p.contains("Exchange"), p)
    }
    // one stage = one job: no LWW shuffle and no schema-inference job
    val got = probe.measure(store.get("k3").collect())
    assert(got.value.map(_.getString(0)).toSeq === Seq("k3"))
    assert(got.stages.size === 1, got.stages)
    val found = probe.measure(store.search(req).collect())
    assert(found.value.map(_.getString(0)).toSeq === Seq("k3", "k5", "k7"))
    assert(found.stages.size === 1, found.stages)
    assert(found.totals.shuffleWriteBytes === 0L)
    assert(store.get("k1").count() === 0)
  }

  test("a put or delete after compact takes the window path, visible at once") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10), rec("b", Array(2f, 2f), 10)))
    store.compact()
    assert(!planOf(store.get("a")).contains("Window"))
    store.put(batch(rec("a", Array(7f, 7f), 20)))
    assert(planOf(store.get("a")).contains("Window"))
    assert(store.get("a").select("vector").head().getSeq[Double](0) === Seq(7.0, 7.0))
    store.compact()
    assert(!planOf(store.get("a")).contains("Window"))
    assert(store.get("a").select("vector").head().getSeq[Double](0) === Seq(7.0, 7.0))
    store.delete(Seq("b"), ts = 30)
    assert(planOf(store.scan).contains("Window"))
    assert(store.get("b").count() === 0)
    assert(store.scan.select("key").collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("declared artifact read schemas match what every writer puts on disk") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 4)
    store.put(batch((0 until 8).map(i =>
      rec(s"k$i", Array(i.toFloat, 1f, (i % 3).toFloat, -1f), 10)): _*))
    store.compact()
    store.buildNswIndex(m = 4, efConstruction = 16, numPartitions = 2)
    store.buildIvfIndex(k = 2)
    store.buildPqIndex(numSub = 2, numWords = 4)
    store.buildBqIndex()
    // appends take caller frames (float vectors here): the files they add
    // must agree with the build's, or a merged read would fail below
    val more = batch(rec("k9", Array(2f, 2f, 2f, 2f), 20))
    store.put(more)
    store.appendToNswIndex(more)
    store.appendToIvfIndex(more)
    store.appendToBqIndex(more)
    val pos = new String(Files.readAllBytes(Paths.get(s"$dir/wal_pos.txt"))).trim
    def types(s: StructType) = s.fields.map(f => f.name -> f.dataType.catalogString).toMap
    Seq(s"snapshot_$pos" -> VectorStore.SnapshotSchema,
        "nsw_index" -> Nsw.keyedIndexSchema("key"),
        "ivf_centroids" -> SimilaritySearch.CentroidSchema,
        "ivf_data" -> VectorStore.IvfDataSchema,
        "pq_codebooks" -> Pq.CodebookSchema,
        "pq_data" -> VectorStore.PqDataSchema,
        "bq_data" -> VectorStore.BqDataSchema).foreach { case (sub, declared) =>
      val onDisk = spark.read.option("mergeSchema", "true").parquet(s"$dir/$sub").schema
      assert(types(onDisk) === types(declared), sub)
    }
  }

  test("NSW artifact append: LWW + soft-delete discipline, routing stable") {
    val dir = tmpDir()
    Using.resource(new VectorStore(spark, dir, dim = 2)) { store =>
      store.put(batch(
        rec("a", Array(0f, 1f), 10), rec("b", Array(0f, 2f), 10),
        rec("c", Array(5f, 5f), 10), rec("d", Array(7f, 7f), 10)))
      store.buildNswIndex(m = 4, efConstruction = 16, numPartitions = 4)
      // 1) new key via append becomes searchable without a rebuild
      val add = batch(rec("e", Array(0f, 0.5f), 20))
      store.put(add); store.appendToNswIndex(add)
      val req = Knn.SearchRequest(Array(0.0, 0.0), topK = 3)
      val got1 = store.searchNsw(req, efSearch = 1 << 20)
        .collect().map(_.getString(0)).toSeq
      assert(got1 === Seq("e", "a", "b"))
      // 2) re-put + append: BOTH versions are indexed; the newer ts must
      //    win (LWW over index rows), never the stale-but-closer one
      val reput = batch(rec("a", Array(9f, 9f), 30))
      store.put(reput); store.appendToNswIndex(reput)
      val got2 = store.searchNsw(req, efSearch = 1 << 20)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(got2 === Seq(("e", 0.25), ("b", 4.0), ("c", 50.0)))
      // 3) re-put WITHOUT append: the stale indexed version fails (key, ts)
      //    liveness — honest miss, never a stale score
      store.put(batch(rec("b", Array(0f, 0.1f), 40)))
      val got3 = store.searchNsw(req, efSearch = 1 << 20)
        .collect().map(_.getString(0)).toSeq
      assert(!got3.contains("b"), got3.toString)
      // 4) deleted key drops out of the served index
      store.delete(Seq("e"), ts = 50)
      val got4 = store.searchNsw(req, efSearch = 1 << 20)
        .collect().map(_.getString(0)).toSeq
      assert(!got4.contains("e") && !got4.contains("b"), got4.toString)
      // 5) appended rows landed in the SAME partition the build would use
      val placed = spark.read.parquet(s"$dir/nsw_index")
        .select(col("pid").cast("int"),
          pmod(hash(col("key")), lit(4)).cast("int").as("want"))
        .where(col("pid") =!= col("want"))
      assert(placed.isEmpty, "append routed a key off its build partition")
    }
  }

  test("tombstone GC: horizon drops old tombstones; retained ones still block late puts") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("gone", Array(1f, 1f), 10), rec("kept", Array(2f, 2f), 10)))
    store.delete(Seq("gone"), ts = 20)
    store.delete(Seq("kept"), ts = 90)
    // horizon 50: the ts=20 tombstone is GC'd, the ts=90 one survives
    store.compact(gcTombstonesBefore = Some(50L))
    val snap = spark.read.parquet(s"$dir/snapshot_${new String(
      java.nio.file.Files.readAllBytes(Paths.get(s"$dir/wal_pos.txt"))).trim}")
    val tombs = snap.where(col("op_type") === "DELETE")
      .select("key").collect().map(_.getString(0)).toSeq
    assert(tombs === Seq("kept"))
    // the retained tombstone still wins over a late put with older ts
    store.put(batch(rec("kept", Array(3f, 3f), 80)))
    assert(store.scan.count() === 0)
    // watermark trade, locked in: a put OLDER than the GC horizon for a
    // GC'd key resurrects it — the caller's no-older-writes assertion
    store.put(batch(rec("gone", Array(4f, 4f), 15)))
    assert(store.scan.select("key").collect().map(_.getString(0)).toSeq === Seq("gone"))
  }

  test("PQ index artifact: ADC candidates re-ranked exactly, full request honored") {
    Using.resource(new VectorStore(spark, tmpDir(), dim = 4)) { store =>
    store.put(batch(
      ("q", Array(0f, 0f, 0f, 0f), Map("tag" -> "keep"), 10L),
      ("near", Array(0.1f, 0f, 0f, 0f), Map("tag" -> "keep"), 10L),
      ("mid", Array(1f, 1f, 0f, 0f), Map("tag" -> "keep"), 10L),
      ("far", Array(5f, 5f, 5f, 5f), Map("tag" -> "keep"), 10L),
      ("dropme", Array(0.2f, 0f, 0f, 0f), Map("tag" -> "drop"), 10L)))
    store.buildPqIndex(numSub = 2, numWords = 4)
    // rerankFrom >= corpus size -> exact results; filter/threshold honored
    val got = store.searchPq(Knn.SearchRequest(Array(0.0, 0.0, 0.0, 0.0),
        topK = 3, filter = Map("tag" -> "keep"), threshold = Some(10.0)),
      rerankFrom = 10)
      .collect().map(_.getString(0))
    assert(got === Array("q", "near", "mid"))
    // filter must apply PRE-rank: with a candidate budget of 2, the
    // filtered-out 'dropme' (2nd-nearest overall) must not consume a
    // slot — 'near' still surfaces
    val tight = store.searchPq(Knn.SearchRequest(Array(0.0, 0.0, 0.0, 0.0),
        topK = 2, filter = Map("tag" -> "keep")), rerankFrom = 2)
      .collect().map(_.getString(0))
    assert(tight === Array("q", "near"))
    }
  }

  test("PQ search after deletes: stale codes don't consume the candidate budget") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      ("q", Array(0f, 0f), Map.empty[String, String], 10L),
      ("dead1", Array(0.1f, 0f), Map.empty[String, String], 10L),
      ("dead2", Array(0.2f, 0f), Map.empty[String, String], 10L),
      ("live", Array(1f, 0f), Map.empty[String, String], 10L)))
    store.buildPqIndex(numSub = 2, numWords = 4)
    store.delete(Seq("dead1", "dead2"), ts = 20) // index NOT rebuilt
    // budget 2 with no filter: the two nearest stale codes must not eat
    // both slots and shrink the result below topK — live keys surface
    val got = store.searchPq(Knn.SearchRequest(Array(0.0, 0.0), topK = 2),
      rerankFrom = 2).collect().map(_.getString(0))
    assert(got === Array("q", "live"))
  }

  test("WAL GC drops covered partitions only; state and cold reopen unchanged") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10), rec("b", Array(2f, 2f), 10)))
    store.delete(Seq("b"), ts = 20)
    store.compact()
    store.put(batch(rec("c", Array(3f, 3f), 30))) // NOT covered by snapshot
    val before = store.scan.orderBy("key").collect().map(_.getString(0)).toSeq

    def parts() = Files.list(Paths.get(s"$dir/wal")).toArray.map(_.toString)
      .filter(_.split('/').last.startsWith("batch_seq="))
    store.gcWal() // drop everything the snapshot covers
    assert(parts().length === 1,
      s"un-snapshotted partition must survive: ${parts().toSeq}")

    assert(store.scan.orderBy("key").collect().map(_.getString(0)).toSeq === before)
    // cold reopen replays snapshot + surviving WAL to the same state
    val reopened = new VectorStore(spark, dir, dim = 2)
    assert(reopened.scan.orderBy("key").collect().map(_.getString(0)).toSeq === before)
    // an explicit keepAfter beyond the snapshot pos must be clamped:
    // the c partition is newer than the snapshot and must never be GCed
    store.gcWal(keepAfter = Long.MaxValue)
    assert(parts().length === 1)
  }

  test("garbled wal_pos falls back to full replay, losing nothing") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10)))
    store.compact()
    store.put(batch(rec("b", Array(2f, 2f), 20)))
    // simulate a crash that tore the pointer file mid-write
    Files.write(Paths.get(s"$dir/wal_pos.txt"), Array.emptyByteArray)
    val reopened = new VectorStore(spark, dir, dim = 2)
    assert(reopened.scan.select("key").orderBy("key")
      .collect().map(_.getString(0)).toSeq === Seq("a", "b"))
  }

  test("IVF index artifact: built over the live table, served with the full request") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(
      rec("near", Array(0f, 1f), 10, tag = "keep"),
      rec("mid", Array(0f, 3f), 10, tag = "keep"),
      rec("far", Array(9f, 9f), 10, tag = "keep"),
      rec("dropme", Array(0f, 0.5f), 10, tag = "drop")))
    store.buildIvfIndex(k = 2)
    // probing every cell == exact search, so the exact ordering must hold
    val got = store.searchIvf(Knn.SearchRequest(Array(0.0, 0.0), topK = 3,
        filter = Map("tag" -> "keep"), threshold = Some(10.0)), nprobe = 2)
      .collect().map(_.getString(0))
    assert(got === Array("near", "mid"))
    // a single-cell probe must hit the cid-partitioned layout as a
    // PARTITION filter (directory pruning), not a row filter over a scan
    val probe1 = store.searchIvf(Knn.SearchRequest(Array(0.0, 0.0), topK = 3),
      nprobe = 1)
    val plan = probe1.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^]]*cid".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    assert(probe1.collect().nonEmpty)
  }

  test("compactIfNeeded: op-count and tombstone-ratio triggers, no-op otherwise") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 1f), 10), rec("b", Array(2f, 2f), 10)))
    // below both thresholds → no compaction
    assert(!store.compactIfNeeded(minWalOps = 100, tombstoneRatio = 0.9))
    assert(!Files.exists(Paths.get(s"$dir/snapshot_${store.currentSeq}")))
    // op-count trigger
    assert(store.compactIfNeeded(minWalOps = 2, tombstoneRatio = 0.9))
    val posAfter = store.currentSeq
    assert(Files.exists(Paths.get(s"$dir/snapshot_$posAfter")))
    // nothing new → not due again
    assert(!store.compactIfNeeded(minWalOps = 1, tombstoneRatio = 0.9))
    // tombstone-ratio trigger: delete 1 of 2 keys → ratio 1/3 of winners
    store.delete(Seq("a"), ts = 20)
    assert(store.compactIfNeeded(minWalOps = 1000, tombstoneRatio = 0.3))
    // state unchanged by compaction
    assert(store.scan.select("key").collect().map(_.getString(0)).toSeq === Seq("b"))
  }

  test("BQ index artifact: full-overfetch equals exact; request surface honored") {
    Using.resource(new VectorStore(spark, tmpDir(), dim = 2)) { store =>
    store.put(batch(
      rec("near", Array(0.5f, 1f), 10, tag = "keep"),
      rec("mid", Array(0.5f, 3f), 10, tag = "keep"),
      rec("far", Array(9f, 9f), 10, tag = "keep"),
      rec("dropme", Array(0.5f, 0.6f), 10, tag = "drop")))
    store.buildBqIndex()
    // rerankFrom covering the corpus → exact ordering must hold
    val req = Knn.SearchRequest(Array(0.5, 0.0), topK = 3,
      filter = Map("tag" -> "keep"), threshold = Some(20.0))
    val got = store.searchBq(req, rerankFrom = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val exact = store.search(req)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got === exact)
    // far (score 153.25) exceeds the threshold; dropme is filtered out
    assert(got.map(_._1) === Array("near", "mid"))
    // dim-mismatched query fails loudly
    val e = intercept[IllegalArgumentException] {
      store.searchBq(Knn.SearchRequest(Array(1.0), topK = 1))
    }
    assert(e.getMessage.contains("dim"))
    }
  }

  test("BQ append + LWW + soft-delete: stale packed rows never served") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("a", Array(1f, 0f), 10), rec("b", Array(0f, 1f), 10)))
    store.buildBqIndex()
    // re-put a with a new vector, append the batch to the index
    store.put(batch(rec("a", Array(-5f, -5f), 20)))
    store.appendToBqIndex(batch(rec("a", Array(-5f, -5f), 20)))
    // delete b entirely (index still holds its packed row)
    store.delete(Seq("b"), ts = 30)
    val got = store.searchBq(Knn.SearchRequest(Array(0.0, 0.0), topK = 5),
        rerankFrom = 10)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // only live `a`, scored from its NEW vector (50.0), b gone
    assert(got === Array(("a", 50.0)))
  }

  test("artifact manifest: one verifyFresh catches a stale tier; searches " +
      "fail loud before any tier is built; external tiers register") {
    val dir = tmpDir()
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(batch(rec("a", Array(1f, 0f), 10), rec("b", Array(0f, 1f), 10)))
    // serving before any build: ONE uniform check, not a tier-specific
    // file-not-found deep in a reader
    val q = Knn.SearchRequest(Array(0.0, 0.0), topK = 5)
    Seq(() => store.searchBq(q), () => store.searchIvf(q),
        () => store.searchPq(q), () => store.searchNsw(q)).foreach { f =>
      val ex = intercept[IllegalArgumentException](f())
      assert(ex.getMessage.contains("artifact"), ex.getMessage)
    }
    intercept[IllegalArgumentException](store.verifyFresh()) // nothing registered
    // build two tiers: both cover the current seq
    store.buildBqIndex()
    store.buildIvfIndex(k = 2)
    assert(store.artifactManifest.keySet === Set("bq", "ivf"))
    store.verifyFresh() // all registered tiers fresh
    store.verifyFresh(tiers = Seq("bq")) // named-tier form
    // a new write makes BOTH stale — the single check names them
    store.put(batch(rec("c", Array(1f, 1f), 20)))
    val stale = intercept[IllegalArgumentException](store.verifyFresh())
    assert(stale.getMessage.contains("stale") &&
      stale.getMessage.contains("bq") && stale.getMessage.contains("ivf"),
      stale.getMessage)
    // an append WITHOUT a coverage claim serves the new rows but never
    // advances freshness — the store can't verify what the frame covered
    store.appendToBqIndex(batch(rec("c", Array(1f, 1f), 20)))
    val afterAppend = intercept[IllegalArgumentException](
      store.verifyFresh(tiers = Seq("bq")))
    assert(afterAppend.getMessage.contains("stale"), afterAppend.getMessage)
    // WAL-verified catch-up: indexPending reads the uncovered WAL window
    // itself, so its freshness claim is sound by construction (the re-
    // appended duplicate collapses under the serve-time (key, ts) LWW)
    assert(store.indexPending("bq") === 1L)
    store.verifyFresh(tiers = Seq("bq"))
    val got = store.searchBq(Knn.SearchRequest(Array(1.0, 1.0), topK = 1))
      .collect()
    assert(got.head.getString(0) === "c")
    val still = intercept[IllegalArgumentException](
      store.verifyFresh(tiers = Seq("ivf")))
    assert(still.getMessage.contains("ivf"), still.getMessage)
    // an append WITH an explicit claim advances (the put-then-append
    // loop's contract — the caller asserts the batch covers the tip)
    store.put(batch(rec("d", Array(2f, 2f), 30)))
    store.appendToBqIndex(batch(rec("d", Array(2f, 2f), 30)),
      coversSeq = Some(store.currentSeq))
    store.verifyFresh(tiers = Seq("bq"))
    // an artifact built OUTSIDE the store (dsir scores, bpe vocab, ivm
    // view over this corpus) joins the same catalog
    store.registerArtifact("dsir")
    store.verifyFresh(tiers = Seq("dsir"))
    // asking about a never-registered tier fails loud, not silently-fresh
    val missing = intercept[IllegalArgumentException](
      store.verifyFresh(tiers = Seq("bloom")))
    assert(missing.getMessage.contains("bloom"), missing.getMessage)
    // manifest survives a cold reopen (it's a file, not driver state)
    val reopened = new VectorStore(spark, dir, dim = 2)
    assert(reopened.artifactManifest.keySet === Set("bq", "ivf", "dsir"))
  }

  test("append freshness can't be laundered: put A, put B, append B-only " +
      "leaves the manifest honest; indexPending absorbs the real window") {
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    store.put(batch(rec("base", Array(0f, 0f), 10)))
    store.buildBqIndex()
    store.put(batch(rec("a", Array(1f, 0f), 20)))
    val bBatch = batch(rec("b", Array(0f, 1f), 30))
    store.put(bBatch)
    store.appendToBqIndex(bBatch) // indexes b — A was NEVER indexed
    // the old behavior claimed coverage of A here; the manifest must not
    val e = intercept[IllegalArgumentException](
      store.verifyFresh(tiers = Seq("bq")))
    assert(e.getMessage.contains("stale"), e.getMessage)
    // WAL-verified catch-up absorbs the truly-uncovered window: A and B
    // (B's re-append collapses under the serve-time (key, ts) LWW)
    assert(store.indexPending("bq") === 2L)
    store.verifyFresh(tiers = Seq("bq"))
    val keys = store.searchBq(Knn.SearchRequest(Array(0.5, 0.5), topK = 10),
        rerankFrom = 10)
      .collect().map(_.getString(0)).toSet
    assert(keys === Set("base", "a", "b"))
    // a delete-only tail is vacuously absorbed (soft delete needs no
    // index write): indexPending finds 0 puts but still advances
    store.delete(Seq("base"), ts = 40)
    assert(store.indexPending("bq") === 0L)
    store.verifyFresh(tiers = Seq("bq"))
    // tiers without an append path fail loud with the fix in the message
    val noPath = intercept[IllegalArgumentException](
      store.indexPending("pq"))
    assert(noPath.getMessage.contains("buildPqIndex"), noPath.getMessage)
  }

  test("every search tier rejects a query of another length before any job") {
    Using.resource(new VectorStore(spark, tmpDir(), dim = 4)) { store =>
      store.put(batch((0 until 8).map(i =>
        rec(s"k$i", Array(i.toFloat, 1f, 0f, (i % 2).toFloat), 10)): _*))
      store.compact()
      store.buildNswIndex(m = 4, efConstruction = 8, numPartitions = 2)
      store.buildIvfIndex(k = 2)
      store.buildPqIndex(numSub = 2, numWords = 2)
      store.buildBqIndex()
      val short = Knn.SearchRequest(Array(0.0, 1.0), topK = 3)
      val tiers: Seq[(String, Knn.SearchRequest => DataFrame)] = Seq(
        "search" -> (r => store.search(r)),
        "searchNswLive" -> (r => store.searchNswLive(r)),
        "searchNsw" -> (r => store.searchNsw(r)),
        "searchIvf" -> (r => store.searchIvf(r)),
        "searchPq" -> (r => store.searchPq(r)),
        "searchBq" -> (r => store.searchBq(r)))
      tiers.foreach { case (name, run) =>
        val m = probe.measure(scala.util.Try(run(short).collect()))
        val e = m.value.failed.get
        assert(e.isInstanceOf[IllegalArgumentException], s"$name: $e")
        assert(e.getMessage.contains(s"$name: query dim 2 != store dim 4"), e.getMessage)
        assert(m.totals.jobs === 0L, s"$name launched ${m.totals.jobs} job(s)")
        // the right length is served
        assert(run(short.copy(queryVector = Array(0.0, 1.0, 0.0, 0.0))).collect().nonEmpty, name)
      }
    }
  }

  test("steady-state searchIvf is one job and searchPq two; a cold handle " +
      "loads the trained artifact once") {
    Using.Manager { use =>
    val dir = tmpDir()
    val store = use(new VectorStore(spark, dir, dim = 2))
    store.put(batch((0 until 24).map(i =>
      rec(f"k$i%02d", Array((i % 6).toFloat, (i / 6).toFloat), 10)): _*))
    store.compact()
    store.buildIvfIndex(k = 3)
    store.buildPqIndex(numSub = 2, numWords = 4)
    val req = Knn.SearchRequest(Array(2.0, 1.0), topK = 4)
    val ivf = probe.measure(store.searchIvf(req, nprobe = 3).collect())
    assert(ivf.totals.jobs === 1L, ivf.totals)
    val pq = probe.measure(store.searchPq(req, rerankFrom = 24).collect())
    assert(pq.totals.jobs === 2L, pq.totals)
    val exact = pairs(store.search(req))
    assert(ivf.value.map(r => (r.getString(0), r.getDouble(1))).toSeq === exact)
    assert(pq.value.map(r => (r.getString(0), r.getDouble(1))).toSeq === exact)
    // a second handle pays one load job on its first call only
    val cold = use(new VectorStore(spark, dir, dim = 2))
    Seq[VectorStore => DataFrame](_.searchIvf(req, nprobe = 3),
        _.searchPq(req, rerankFrom = 24)).foreach { run =>
      val first = probe.measure(run(cold).collect())
      val second = probe.measure(run(cold).collect())
      assert(first.totals.jobs === second.totals.jobs + 1, (first.totals, second.totals))
      assert(pairs(run(cold)) === exact)
    }
    }.get
  }

  test("a rebuild is served with the new centroids and codebooks, through " +
      "the same handle and through a second one") {
    Using.Manager { use =>
    val dir = tmpDir()
    val a = use(new VectorStore(spark, dir, dim = 2))
    // three far-apart clusters of 6 keys
    val centres = Seq((0f, 0f), (100f, 0f), (0f, 100f))
    a.put(batch((for { (c, ci) <- centres.zipWithIndex; j <- 0 until 6 }
      yield rec(s"c${ci}_$j", Array(c._1 + j % 3, c._2 + j / 3), 10)): _*))
    a.compact()
    val queries = centres.map { case (x, y) =>
      Knn.SearchRequest(Array(x + 1.0, y + 0.5), topK = 3) }
    val exact = queries.map(q => pairs(a.search(q)))
    def ivf(s: VectorStore) = queries.map(q => pairs(s.searchIvf(q, nprobe = 1)))
    val b = use(new VectorStore(spark, dir, dim = 2))
    // three cells: each query's own cluster is its one probed cell
    a.buildIvfIndex(k = 3)
    assert(ivf(a) === exact && ivf(b) === exact)
    // one cell, rebuilt through b: a stale three-centroid probe of cid 1
    // or 2 would read no files at all
    b.buildIvfIndex(k = 1)
    assert(ivf(a) === exact && ivf(b) === exact)
    // three cells again, through a: b's stale single centroid would probe
    // cid 0 alone, one cluster of three
    a.buildIvfIndex(k = 3)
    assert(ivf(b) === exact && ivf(a) === exact)

    // PQ: ADC candidates (rerankFrom = 3) decide what is served, so the
    // answer is a function of the codebooks the search used
    def pq(s: VectorStore) = queries.map(q => pairs(s.searchPq(q, rerankFrom = 3)))
    def pqExpected = {
      val cb = Pq.loadCodebooks(spark, s"$dir/pq_codebooks")
      val codes = spark.read.schema(VectorStore.PqDataSchema).parquet(s"$dir/pq_data")
      queries.map { q =>
        val cand = Pq.adcScores(codes, "key", cb, q.queryVector)
          .orderBy(col("score"), col("key")).limit(3)
          .collect().map(_.getString(0)).toSet
        pairs(a.search(q.copy(topK = 18))).filter(p => cand(p._1)).take(q.topK)
      }
    }
    a.buildPqIndex(numSub = 2, numWords = 4)
    assert(pq(a) === pqExpected && pq(b) === pqExpected)
    // one-subspace codes would not even line up with the stale
    // two-subspace codebooks either handle held
    b.buildPqIndex(numSub = 1, numWords = 2)
    assert(pq(a) === pqExpected && pq(b) === pqExpected)
    a.buildPqIndex(numSub = 2, numWords = 2, seed = 7L)
    assert(pq(b) === pqExpected && pq(a) === pqExpected)
    }.get
  }

  test("steady-state searchNsw is one job with no shuffle; searchPq and " +
      "searchBq are two jobs and neither phase's plan holds an exchange") {
    Using.resource(new VectorStore(spark, tmpDir(), dim = 2)) { store =>
      store.put(batch((0 until 24).map(i =>
        rec(f"k$i%02d", Array((i % 6).toFloat, (i / 6).toFloat), 10)): _*))
      store.compact()
      store.buildNswIndex(m = 4, efConstruction = 8, numPartitions = 3)
      store.buildPqIndex(numSub = 2, numWords = 4)
      store.buildBqIndex()
      val req = Knn.SearchRequest(Array(2.0, 1.0), topK = 4)
      val exact = pairs(store.search(req))
      store.searchNsw(req).collect() // the first call loads the graphs
      val nsw = probe.measure(pairs(store.searchNsw(req, efSearch = 1 << 20)))
      assert(nsw.totals.jobs === 1L, nsw.totals)
      assert(nsw.totals.shuffleReadBytes === 0L && nsw.totals.shuffleWriteBytes === 0L,
        nsw.totals)
      assert(nsw.value === exact)
      Seq[(String, () => DataFrame)](
          "searchPq" -> (() => store.searchPq(req, rerankFrom = 24)),
          "searchBq" -> (() => store.searchBq(req, rerankFrom = 24))).foreach {
        case (name, run) =>
          run().collect() // the first call loads the held block
          val m = probe.measure(pairs(run()))
          assert(m.totals.jobs === 2L, s"$name: ${m.totals}")
          assert(m.totals.shuffleReadBytes === 0L && m.totals.shuffleWriteBytes === 0L,
            s"$name: ${m.totals}")
          // phase 1 ranks the held block in a plain RDD job, so it starts
          // no SQL execution: the one plan is phase 2's re-rank
          assert(m.plans.length === 1, name)
          val rerank = m.plans.head.executedPlan.toString
          assert(!rerank.contains("Exchange"), s"$name: $rerank")
          assert(m.value === exact, name)
      }
    }
  }

  test("the handle owns three persisted blocks, NSW graphs, PQ codes and " +
      "BQ packs: loaded once, a rebuild frees only its own, close frees all") {
    // counted against the blocks alive at the start, by id: earlier
    // suites' unreferenced blocks may be dropped by the ContextCleaner
    // at any GC, so a bare count could fall while this store is correct
    val base = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- base
    val store = new VectorStore(spark, tmpDir(), dim = 2)
    try {
      store.put(batch((0 until 12).map(i =>
        rec(f"k$i%02d", Array(i.toFloat, (i % 3).toFloat), 10)): _*))
      store.buildNswIndex(m = 4, efConstruction = 8, numPartitions = 3)
      store.buildPqIndex(numSub = 2, numWords = 4)
      store.buildBqIndex()
      val req = Knn.SearchRequest(Array(2.0, 1.0), topK = 3)
      val exact = pairs(store.search(req))
      assert(added.isEmpty)
      assert(pairs(store.searchNsw(req, efSearch = 1 << 20)) === exact)
      assert(pairs(store.searchPq(req, rerankFrom = 12)) === exact)
      assert(pairs(store.searchBq(req, rerankFrom = 12)) === exact)
      val first = added
      assert(first.size === 3)
      (1 to 20).foreach { _ =>
        store.searchNsw(req).collect()
        store.searchPq(req).collect()
        store.searchBq(req).collect()
      }
      assert(added === first)
      // a PQ rebuild frees the PQ block alone; the next PQ search loads
      // the new codes into one new block
      store.buildPqIndex(numSub = 2, numWords = 4, seed = 7L)
      val kept = added
      assert(kept.size === 2 && kept.subsetOf(first))
      assert(pairs(store.searchPq(req, rerankFrom = 12)) === exact)
      val second = added
      assert(second.size === 3 && kept.subsetOf(second) && second != first)
      // an NSW rebuild over a changed corpus frees the NSW block alone
      store.put(batch(rec("k00", Array(2f, 1f), 20)))
      store.buildNswIndex(m = 4, efConstruction = 8, numPartitions = 3)
      assert(added.size === 2 && added.subsetOf(second))
      assert(pairs(store.searchNsw(req, efSearch = 1 << 20)) === pairs(store.search(req)))
      assert(added.size === 3)
    } finally store.close()
    assert(added.isEmpty)
  }

  test("a second handle serves an NSW rebuild made through the first") {
    val dir = tmpDir()
    def persisted = spark.sparkContext.getPersistentRDDs
    val base = persisted.keySet
    Using.Manager { use =>
      val a = use(new VectorStore(spark, dir, dim = 2))
      val b = use(new VectorStore(spark, dir, dim = 2))
      a.put(batch((0 until 12).map(i =>
        rec(f"k$i%02d", Array(i.toFloat, (i % 3).toFloat), 10)): _*))
      a.buildNswIndex(m = 4, efConstruction = 8, numPartitions = 3)
      val req = Knn.SearchRequest(Array(2.0, 1.0), topK = 3)
      val before = pairs(a.search(req))
      assert(pairs(b.searchNsw(req, efSearch = 1 << 20)) === before)
      // b's block, referenced here so that only b can free it (the
      // ContextCleaner would also drop an unreferenced RDD after a GC)
      val first = persisted -- base
      assert(first.size === 1)
      // k00 moves onto the query: b's held graphs still index the old
      // version, which the (key, ts) liveness check would drop
      a.put(batch(rec("k00", Array(2f, 1f), 20)))
      a.buildNswIndex(m = 4, efConstruction = 8, numPartitions = 3)
      val after = pairs(a.search(req))
      assert(after.head === (("k00", 0.0)))
      assert(after !== before)
      assert(pairs(b.searchNsw(req, efSearch = 1 << 20)) === after)
      // b replaced its block instead of adding one
      val second = persisted -- base
      assert(second.size === 1 && second.keySet != first.keySet)
    }.get
    assert((persisted -- base).isEmpty)
  }

  test("a second handle serves a BQ rebuild made through the first") {
    val dir = tmpDir()
    def persisted = spark.sparkContext.getPersistentRDDs
    val base = persisted.keySet
    Using.Manager { use =>
      val a = use(new VectorStore(spark, dir, dim = 2))
      val b = use(new VectorStore(spark, dir, dim = 2))
      a.put(batch((0 until 12).map(i =>
        rec(f"k$i%02d", Array(i.toFloat, (i % 3).toFloat), 10)): _*))
      // b builds, so its index is fresh and it ranks a held block
      b.buildBqIndex()
      val req = Knn.SearchRequest(Array(2.0, -1.0), topK = 3)
      val before = pairs(a.search(req))
      assert(pairs(b.searchBq(req, rerankFrom = 12)) === before)
      // b's block, referenced here so that only b can free it
      val first = persisted -- base
      assert(first.size === 1)
      // k00 moves onto the query and its sign bits change (00 -> 01, the
      // query's): with b's old packs its Hamming rank would still lose
      // the one-candidate first pass to k03
      a.put(batch(rec("k00", Array(2f, -1f), 20)))
      a.buildBqIndex()
      val after = pairs(a.search(req))
      assert(after.head === (("k00", 0.0)))
      assert(after !== before)
      assert(pairs(b.searchBq(req.copy(topK = 1), rerankFrom = 1)) === after.take(1))
      assert(pairs(b.searchBq(req, rerankFrom = 12)) === after)
      // b replaced its block instead of adding one
      val second = persisted -- base
      assert(second.size === 1 && second.keySet != first.keySet)
    }.get
    assert((persisted -- base).isEmpty)
  }

  test("a compact through a second handle is read at once by the first's get") {
    val dir = tmpDir()
    val a = new VectorStore(spark, dir, dim = 2)
    a.put(batch(rec("a", Array(1f, 1f), 10), rec("b", Array(2f, 2f), 10)))
    a.compact()
    // while no write follows the snapshot, every read plans over one
    // held relation
    assert(a.scan eq a.scan)
    assert(a.get("a").select("vector").head().getSeq[Double](0) === Seq(1.0, 1.0))
    val b = new VectorStore(spark, dir, dim = 2)
    b.put(batch(rec("a", Array(7f, 7f), 20)))
    b.delete(Seq("b"), ts = 30)
    b.compact()
    // a's next read resolves b's new snapshot: no window, new state
    assert(!planOf(a.get("a")).contains("Window"), planOf(a.get("a")))
    assert(a.get("a").select("vector").head().getSeq[Double](0) === Seq(7.0, 7.0))
    assert(a.get("b").count() === 0)
    assert(a.scan eq a.scan)
    assert(records(a.scan) === records(b.scan))
  }
}
