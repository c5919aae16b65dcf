package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.store.VectorStore
import graft.streaming.WalStream

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeWal(): String = {
    val dir = Files.createTempDirectory("graft-stream-").toString
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(Seq(
      ("a", Array(1f, 1f), Map.empty[String, String], 10L),
      ("b", Array(2f, 2f), Map.empty[String, String], 11L)
    ).toDF("key", "vector", "metadata", "ts"))
    store.put(Seq(
      ("a", Array(9f, 9f), Map.empty[String, String], 20L)
    ).toDF("key", "vector", "metadata", "ts"))
    store.delete(Seq("b"), ts = 30L)
    dir
  }

  test("streaming index maintenance: WAL PUTs land in the live IVF index") {
    val dir = Files.createTempDirectory("graft-idxmaint-").toString
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(Seq(
      ("near", Array(0f, 1f), Map.empty[String, String], 10L),
      ("mid", Array(0f, 3f), Map.empty[String, String], 10L),
      ("far", Array(9f, 9f), Map.empty[String, String], 10L)
    ).toDF("key", "vector", "metadata", "ts"))
    store.buildIvfIndex(k = 2)
    // live inserts AFTER the build — only the WAL sees them
    store.put(Seq(
      ("fresh", Array(0f, 0.5f), Map.empty[String, String], 20L)
    ).toDF("key", "vector", "metadata", "ts"))
    val q = WalStream.indexMaintenance(
        WalStream.source(spark, s"$dir/wal"), store,
        trigger = Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/idx_ckpt")
      .start()
    q.awaitTermination(60000)
    // the streamed PUT is served without any rebuild (replayed history
    // rows are harmless — LWW in the probed cells)
    val got = store.searchIvf(
        graft.operators.Knn.SearchRequest(Array(0.0, 0.0), topK = 3),
        nprobe = 2)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq === Seq("fresh", "near", "mid"), got.mkString(","))
    assert(math.abs(got.head._2 - 0.25) < 1e-12)
  }

  test("streaming index maintenance: WAL PUTs land in the persisted NSW graphs") {
    val dir = Files.createTempDirectory("graft-nswmaint-").toString
    val store = new VectorStore(spark, dir, dim = 2)
    store.put(Seq(
      ("near", Array(0f, 1f), Map.empty[String, String], 10L),
      ("mid", Array(0f, 3f), Map.empty[String, String], 10L),
      ("far", Array(9f, 9f), Map.empty[String, String], 10L)
    ).toDF("key", "vector", "metadata", "ts"))
    store.buildNswIndex(m = 4, efConstruction = 16, numPartitions = 2)
    // live inserts AFTER the build — only the WAL sees them
    store.put(Seq(
      ("fresh", Array(0f, 0.5f), Map.empty[String, String], 20L)
    ).toDF("key", "vector", "metadata", "ts"))
    val q = WalStream.nswIndexMaintenance(
        WalStream.source(spark, s"$dir/wal"), store,
        trigger = Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/nsw_ckpt")
      .start()
    q.awaitTermination(60000)
    // the streamed PUT is served from the artifact without a rebuild;
    // replayed history rows are duplicate nodes the newest-version
    // window collapses (and the append invalidated the fast path, so
    // the full serve discipline is in force)
    // the search loads the graphs into a block the handle owns: close it
    val got = try store.searchNsw(
        graft.operators.Knn.SearchRequest(Array(0.0, 0.0), topK = 3),
        efSearch = 1 << 20)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      finally store.close()
    assert(got.map(_._1).toSeq === Seq("fresh", "near", "mid"), got.mkString(","))
    assert(math.abs(got.head._2 - 0.25) < 1e-12)
  }

  test("streaming LWW over the WAL emits final winners per key") {
    val dir = writeWal()
    val updates = WalStream.lwwUpdates(WalStream.source(spark, s"$dir/wal"))
    val q = updates.writeStream
      .format("memory").queryName("lww_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    q.awaitTermination(60000)
    val state = spark.table("lww_out")
      .orderBy($"key", $"timestamp")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.last }
    // final winner for a is the ts=20 PUT; for b the ts=30 DELETE
    assert(state("a")._2 === "PUT" && state("a")._3 === 20L)
    assert(state("b")._2 === "DELETE" && state("b")._3 === 30L)
  }

  test("watermarked windowed op counts run on the stream") {
    val dir = writeWal()
    val counts = WalStream.windowedOpCounts(
      WalStream.source(spark, s"$dir/wal"),
      windowDur = "1 minute", slideDur = "1 minute", watermark = "1 minute")
    val q = counts.writeStream
      .format("memory").queryName("win_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val byOp = spark.table("win_out")
      .groupBy("op_type").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp("PUT") === 3L && byOp("DELETE") === 1L)
  }

  test("stream-stream interval join audits which PUTs a DELETE tombstones") {
    val dir = writeWal()
    val audit = WalStream.tombstoneAudit(WalStream.source(spark, s"$dir/wal"))
    val q = audit.writeStream
      .format("memory").queryName("audit_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-audit-ckpt-").toString)
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("audit_out")
      .collect().map(r => (r.getString(0),
        r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
    // only b was deleted (ts=30) and only its ts=11 PUT precedes the
    // delete within the horizon; a's PUTs must not surface
    assert(rows.toSeq === Seq(("b", 11L, 30L)))
  }

  test("streaming compaction cadence: sustained puts snapshot every ~minWalOps") {
    val dir = Files.createTempDirectory("graft-compmaint-").toString
    val store = new VectorStore(spark, dir, dim = 1)
    def snapshots(): Int = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.toArray.map(_.toString.split('/').last)
        .count(_.startsWith("snapshot_"))
      finally s.close()
    }
    // 6 batches of 50 puts; the probe counts POST-SNAPSHOT WAL ops, so
    // every second batch crosses minWalOps=100 — the reference's
    // every-2k-puts checkpoint cadence scaled down. Driving each batch
    // through processAllAvailable makes the count at each probe exact.
    // Batch 0 lands before start(): the file source needs the WAL dir
    // to exist, exactly like a real deployment tailing a live store.
    def putBatch(b: Int): Unit =
      store.put((0 until 50).map(i =>
        (s"k${b}_$i", Array(i.toFloat), Map.empty[String, String],
          (b * 50 + i).toLong))
        .toDF("key", "vector", "metadata", "ts"))
    putBatch(0)
    val q = WalStream.compactionMaintenance(
        WalStream.source(spark, s"$dir/wal"), store, minWalOps = 100)
      .option("checkpointLocation", s"$dir/comp_ckpt")
      .start()
    for (b <- 1 until 6) {
      putBatch(b)
      q.processAllAvailable()
    }
    q.stop()
    assert(snapshots() === 3, s"expected 3 snapshots, saw ${snapshots()}")
    // the compacted view is unchanged by WHEN snapshots happened
    assert(store.scan.count() === 300L)
  }
}
