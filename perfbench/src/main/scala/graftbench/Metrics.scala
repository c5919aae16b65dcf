package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload is handed. */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long,
    seconds: Double, work: Path, fixture: Path, cores: Int)

/** A workload's raw figures. `e2e` feeds the untraced run's end-to-end
  * metrics; `layer` feeds the traced run's per-layer metrics.
  */
final class Result {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val notes = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  /** When the timed loop started (epoch ms): the end of set-up. */
  var loopStartMs = 0L
}

object Metrics {
  val StoreCalls = Seq("get", "search", "searchNsw", "searchIvf", "searchPq", "searchBq")

  /** The end-to-end figures over every call of the timed loop. Each call
    * kind's median is taken over that kind's calls alone, so no figure
    * hinges on which kind sits in the middle of the mix.
    */
  def loopFigures(r: Result, samples: Samples, loop: LoopResult): Unit = {
    val med = samples.kinds.map(k => k -> Stats.median(samples.of(k))).toMap
    r.e2e("pass_s") = loop.passKinds.map(med).sum / 1000
    r.e2e("median_call_ms") = math.exp(med.values.map(math.log).sum / med.size)
    // over completed passes only, so every run's figure comes from the same
    // mix of calls
    r.e2e("throughput_per_s") = loop.passSeconds.length * loop.passKinds.length / loop.passSeconds.sum
    r.notes += f"loop: ${samples.size} calls in ${loop.seconds}%.2f s, " +
      f"${loop.passSeconds.length} complete passes"
    samples.kinds.foreach { k =>
      r.notes += f"  $k%-16s n=${samples.of(k).length}%4d p50=${med(k)}%9.2f ms"
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** store.<call>.{p50_ms, jobs, tasks, shuffle_bytes, input_bytes} from
    * the traced loop spans; 0 for a call the workload does not make.
    */
  def storeCalls(r: Result, trace: Trace): Unit = StoreCalls.foreach { c =>
    val ss = trace.loop("store", c)
    r.layer(s"store.$c.p50_ms") = med(ss.map(_.ms))
    r.layer(s"store.$c.jobs") = med(ss.map(_.jobs.toDouble))
    r.layer(s"store.$c.tasks") = med(ss.map(_.tasks.toDouble))
    r.layer(s"store.$c.shuffle_bytes") = med(ss.map(_.shuffleWriteBytes.toDouble))
    r.layer(s"store.$c.input_bytes") = med(ss.map(_.inputBytes.toDouble))
  }

  /** Write-path figures from the set-up spans: `serve` builds its store
    * with one put, one delete batch, a compaction and the index builds.
    */
  def storeWrites(r: Result, trace: Trace): Unit = {
    val setup = trace.spans.filter(s => s.layer == "store" && s.phase == "setup" && s.endNs > 0)
    def of(name: String) = setup.filter(_.name == name)
    r.layer("store.put.s") = of("put").map(_.seconds).sum
    r.layer("store.put.jobs") = of("put").map(_.jobs.toDouble).sum
    r.layer("store.put.bytes_written") = of("put").map(_.outputBytes.toDouble).sum
    r.layer("store.delete.s") = of("delete").map(_.seconds).sum
    r.layer("store.compact.s") = of("compact").map(_.seconds).sum
    r.layer("store.compact.bytes_written") = of("compact").map(_.outputBytes.toDouble).sum
    Seq("Nsw", "Ivf", "Pq", "Bq").foreach { t =>
      r.layer(s"store.build${t}Index.s") = of(s"build${t}Index").map(_.seconds).sum
    }
  }

  /** Bytes of each store sub-directory, walked from outside. */
  def storage(r: Result, dir: Path, userBytes: Long): Unit = {
    val kids = Dirs.children(dir)
    def sum(pred: String => Boolean) =
      kids.filter(p => pred(p.getFileName.toString)).map(Dirs.bytes).sum.toDouble
    val wal = dir.resolve("wal")
    r.layer("store.wal.partitions") =
      Dirs.children(wal).count(_.getFileName.toString.startsWith("batch_seq=")).toDouble
    r.layer("store.wal.bytes") = Dirs.bytes(wal).toDouble
    r.layer("store.snapshot.bytes") = sum(_.startsWith("snapshot_"))
    r.layer("store.index.bytes") = sum(n => Seq("nsw_", "ivf_", "pq_", "bq_").exists(n.startsWith))
    r.layer("store.bytes_per_user_byte") = Dirs.bytes(dir).toDouble / math.max(1L, userBytes)
  }

  /** Self time per layer over the traced spans. */
  def selfTimes(r: Result, trace: Trace): Unit = {
    val self = trace.selfSecondsByLayer
    Seq("core", "store", "queries").foreach { l =>
      r.layer(s"layer.$l.self_s") = self.getOrElse(l, 0.0)
    }
  }

  /** Traced minus untraced latency, as a share of the untraced one: the
    * median over call kinds that ran both ways in the loop.
    */
  def overhead(r: Result, samples: Samples): Unit = {
    val ratios = samples.kinds.flatMap { k =>
      val (on, off) = (samples.of(k, traced = true), samples.of(k, traced = false))
      if (on.isEmpty || off.isEmpty) None else Some(Stats.median(on) / Stats.median(off))
    }
    r.layer("trace.overhead_pct") = if (ratios.isEmpty) 0.0 else 100 * (Stats.median(ratios) - 1)
  }
}

/** The timed loop as run: the call kinds of one pass in order, the wall
  * time of each completed pass, the loop's length and its start (epoch ms).
  */
final case class LoopResult(passKinds: Seq[String], passSeconds: Seq[Double],
    seconds: Double, startMs: Long)

/** The timed closed loop: passes until `seconds` have gone by. A pass is a
  * fixed list of steps, and the loop stops between steps, but never inside
  * the first pass. Every call the loop makes is a sample.
  */
object Loop {
  def run(ctx: Ctx, steps: Seq[() => Unit], samples: Samples): LoopResult = {
    val trace = ctx.trace
    trace.phase = "loop"
    val passes = mutable.ArrayBuffer[Double]()
    val startMs = System.currentTimeMillis()
    val l0 = System.nanoTime()
    val deadline = l0 + (ctx.seconds * 1e9).toLong
    // a traced run makes two passes at least, so that every call is also
    // made untraced (the tracing overhead)
    val minPasses = if (trace.enabled) 2 else 1
    val from = samples.size
    var firstPass = Seq.empty[String]
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline) {
      trace.request = i + 1
      val p0 = System.nanoTime()
      val done = steps.forall { step =>
        (i < minPasses || System.nanoTime() < deadline) && { step(); true }
      }
      if (done) passes += (System.nanoTime() - p0) / 1e9
      if (i == 0) firstPass = samples.kindsOf(from, samples.size)
      i += 1
    }
    val seconds = (System.nanoTime() - l0) / 1e9
    trace.phase = "after"
    trace.request = 0L
    LoopResult(firstPass, passes.toSeq, seconds, startMs)
  }
}
