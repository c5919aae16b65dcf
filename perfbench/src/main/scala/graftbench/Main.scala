package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** One benchmark run in one JVM:
  *
  *   graftbench.Main --workload serve|analytics --seed N --seconds S
  *     --trace 0|1 --cores C --work DIR --fixture DIR
  *
  * Prints human-readable notes on stderr and, last on stdout, one line
  * `GRAFTBENCH {...}` with the raw figures; `perfbench/run.py` turns that
  * line into the benchmark's result.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traceOn = a("trace") == "1"
    val work = Paths.get(a("work"))
    Files.createDirectories(work)

    val spark = GraftSession.local(a("cores").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    // process start to a usable session: JVM start-up, class loading and
    // GraftSession's builder
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val trace = new Trace(spark.sparkContext, traceOn)
    val ctx = Ctx(spark, trace, a("seed").toLong, a("seconds").toDouble, work,
      Paths.get(a("fixture")), a("cores").toInt)

    val (r, bypassed) = workload match {
      case "serve" => (Serve.run(ctx), Seq("queries.", "analytics.", "core.tables_s"))
      case "analytics" => (Analytics.run(ctx), Seq("store."))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    r.layer("core.session_s") = sessionS
    // process start to the first timed call, the same way on every workload
    r.e2e("setup_s") = (r.loopStartMs - jvmStartMs) / 1000.0
    if (traceOn) {
      trace.drain()
      Metrics.selfTimes(r, trace)
      trace.write(work.resolve("spans.jsonl"))
      r.notes += s"spans: ${trace.spans.length} written to ${work.resolve("spans.jsonl")}"
    }
    r.notes.foreach(n => System.err.println(s"[graftbench] $n"))
    println("GRAFTBENCH " + Json.obj(Seq(
      "workload" -> workload, "attempted" -> r.attempted, "failed" -> r.failed,
      "e2e" -> r.e2e.toMap, "layer" -> r.layer.toMap, "bypassed" -> bypassed)))
    spark.stop()
  }
}
