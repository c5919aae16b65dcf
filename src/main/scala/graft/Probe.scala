package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The one query-measurement facility: one listener, one run-once
  * function, four modes over registered queries.
  *
  *   sbt "runMain graft.Probe <mode> <sfDir> [query ...]"
  *
  * No queries = every registered query, in name order. Every mode runs
  * the q02 warm-up first, outside all measured windows, and prints each
  * query's lines as soon as that query finishes.
  *
  *  - `time`: one JSON line per rep (`SPARK_GRAFT_REPS`, default 2):
  *    wall seconds plus executor task-metric sums — task, CPU and GC
  *    time, shuffle fetch wait, input, shuffle read/write and spill
  *    bytes, task count and the longest task.
  *  - `stages`: one run, then the completed stages by task time: tasks,
  *    task seconds, input MiB/records, shuffle read/write MiB, spill.
  *  - `plan`: one run, then the formatted AQE-final plan of that run.
  *  - `mirror`: [[Bench]]'s two interleaved passes (min per query) plus
  *    pass-1 shuffle/input traffic, printed as the one-line
  *    `BENCH_local*.json` document `tools/bench_delta.py` compares.
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  /** Executor task-metric sums over one measured window, and its job count. */
  final case class Totals(taskMs: Long = 0L, cpuNs: Long = 0L, gcMs: Long = 0L,
      fetchWaitMs: Long = 0L, inputBytes: Long = 0L, shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L, spillBytes: Long = 0L, tasks: Long = 0L,
      maxTaskMs: Long = 0L, jobs: Long = 0L)

  final case class StageRow(id: Int, name: String, tasks: Int, taskMs: Long,
      inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  /** What one measured window saw; `plans` are the SQL executions that
    * finished inside it, in order, and `plan` is the last of them. */
  final case class Measured[T](value: T, totals: Totals, stages: Seq[StageRow],
      plans: Seq[QueryExecution]) {
    def plan: Option[QueryExecution] = plans.lastOption
  }

  /** The metrics listener. [[measure]] drains the listener bus before and
    * after its body: every task and stage event of a job is posted before
    * the job returns to the caller, so after the drain the window holds
    * exactly its own events and none can land on the next window. Events
    * outside a window are dropped, so an attached listener holds nothing.
    */
  final class Listener private (sc: SparkContext) extends SparkListener {
    private var open = false
    private var totals = Totals()
    private val stages = mutable.ArrayBuffer[StageRow]()
    private val plans = mutable.ArrayBuffer[QueryExecution]()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (open && m != null) totals = totals.copy(
        taskMs = totals.taskMs + m.executorRunTime,
        cpuNs = totals.cpuNs + m.executorCpuTime,
        gcMs = totals.gcMs + m.jvmGCTime,
        fetchWaitMs = totals.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        inputBytes = totals.inputBytes + m.inputMetrics.bytesRead,
        shuffleReadBytes = totals.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = totals.spillBytes + m.diskBytesSpilled,
        tasks = totals.tasks + 1,
        maxTaskMs = math.max(totals.maxTaskMs, m.executorRunTime))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (open) totals = totals.copy(jobs = totals.jobs + 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (open && m != null) stages += StageRow(i.stageId, i.name.linesIterator.next().take(140),
        i.numTasks, m.executorRunTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        synchronized { if (open) plans ++= Option(ListenerBridge.queryExecution(end)) }
      case _ =>
    }

    def measure[T](body: => T): Measured[T] = {
      ListenerBridge.drain(sc)
      synchronized { totals = Totals(); open = true }
      try {
        val v = body
        ListenerBridge.drain(sc)
        synchronized { Measured(v, totals, stages.toList, plans.toList) }
      } finally synchronized { open = false; stages.clear(); plans.clear() }
    }
  }

  object Listener {
    def attach(spark: SparkSession): Listener = {
      val l = new Listener(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      l
    }
  }

  /** Executes one query through the `noop` sink (the full plan runs; a
    * bare count() would let Catalyst prune the very columns being
    * measured) and returns its wall seconds, or -1 on failure. Clears the
    * Spark cache afterwards so operators that persist intermediates don't
    * carry cache into the next measurement — every sample starts cold.
    */
  def runOnce(spark: SparkSession, name: String, fn: Query, sfDir: String): Double = {
    val t0 = System.nanoTime()
    val failed =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); false }
      catch { case e: Throwable =>
        System.err.println(s"BENCH ERROR $name: ${e.getClass.getName}: ${e.getMessage}")
        true
      }
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    // free the query's shuffle files NOW: ContextCleaner deletes them only
    // after a driver GC, which a big heap may never do on its own — the
    // measured r10/r11 mechanism (SCALE.md "variance diagnosed") where
    // lexical-order shuffle-file accumulation inflates every query that
    // runs after a heavy neighbor by a uniform ~1.2-1.3x. One driver GC
    // per measurement is milliseconds against the suite's minutes and
    // removes the cross-query contamination term from the round-over-round
    // bench diff.
    System.gc()
    if (failed) -1.0 else dt
  }

  /** JIT + parquet footer caches, outside every measured window. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    SparkEntry.queries.get("q02_knn_exact")
      .foreach(runOnce(spark, "q02_knn_exact", _, sfDir))

  private val modes = Seq("time", "stages", "plan", "mirror")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && modes.contains(args(0)),
      s"usage: Probe ${modes.mkString("|")} <sfDir> [query ...]")
    val sfDir = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    val probe = Listener.attach(spark)
    warmUp(spark, sfDir)
    val lines = args(0) match {
      case "time" =>
        time(spark, probe, sfDir, names, sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt)
      case "stages" => stages(spark, probe, sfDir, names)
      case "plan" => plans(spark, probe, sfDir, names)
      case "mirror" => Iterator(mirror(spark, probe, sfDir, names))
    }
    lines.foreach(println)
    spark.stop()
  }

  private def measured(spark: SparkSession, probe: Listener, name: String,
      sfDir: String): Measured[Double] =
    probe.measure(runOnce(spark, name, SparkEntry.queries(name), sfDir))

  def time(spark: SparkSession, probe: Listener, sfDir: String, names: Seq[String],
      reps: Int): Iterator[String] =
    for (name <- names.iterator; rep <- 1 to reps) yield {
      val m = measured(spark, probe, name, sfDir)
      val t = m.totals
      f"""{"query":${jstr(name)},"rep":$rep,"wall_s":${m.value}%.3f,""" +
        f""""task_s":${t.taskMs / 1e3}%.3f,"cpu_s":${t.cpuNs / 1e9}%.3f,""" +
        f""""gc_s":${t.gcMs / 1e3}%.3f,"fetch_wait_s":${t.fetchWaitMs / 1e3}%.3f,""" +
        s""""input_bytes":${t.inputBytes},"shuffle_read_bytes":${t.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${t.shuffleWriteBytes},"spill_bytes":${t.spillBytes},""" +
        f""""tasks":${t.tasks},"max_task_s":${t.maxTaskMs / 1e3}%.3f}"""
    }

  def stages(spark: SparkSession, probe: Listener, sfDir: String,
      names: Seq[String]): Iterator[String] = names.iterator.flatMap { name =>
    val m = measured(spark, probe, name, sfDir)
    def mib(b: Long) = b / 1048576.0
    Seq(f"\n===== $name  wall=${m.value}%.2f s  stages=${m.stages.size} =====",
      f"${"stage"}%6s ${"tasks"}%5s ${"taskTime_s"}%10s ${"in_MiB"}%8s " +
        f"${"in_recs"}%9s ${"shR_MiB"}%8s ${"shW_MiB"}%8s ${"spill"}%6s  name") ++
      m.stages.sortBy(-_.taskMs).take(24).map { r =>
        f"${r.id}%6d ${r.tasks}%5d ${r.taskMs / 1000.0}%10.2f " +
          f"${mib(r.inputBytes)}%8.1f ${r.inputRecords}%9d ${mib(r.shuffleReadBytes)}%8.1f " +
          f"${mib(r.shuffleWriteBytes)}%8.1f ${mib(r.spillBytes)}%6.1f  ${r.name}"
      }
  }

  def plans(spark: SparkSession, probe: Listener, sfDir: String,
      names: Seq[String]): Iterator[String] = names.iterator.map { name =>
    val m = measured(spark, probe, name, sfDir)
    s"===== plan: $name =====\n" + m.plan.fold("(no SQL execution finished)")(
      _.explainString(FormattedMode))
  }

  /** [[Bench]]'s methodology over `names`: pass 1 runs them all, then
    * pass 2 runs them all again (so the two samples of a query sit a full
    * suite apart), min per query. Pass 1 also records shuffle and input
    * traffic — plan properties, measured once. `ambient_load` is wall
    * over twice the sum of minima: ~1.0 = clean session, ≫1 = contended.
    */
  def mirror(spark: SparkSession, probe: Listener, sfDir: String,
      names: Seq[String]): String = {
    val wall0 = System.nanoTime()
    val pass1 = names.map { name =>
      val m = measured(spark, probe, name, sfDir)
      println(f"[probe] p1 $name%-30s ${m.value}%7.2f s  " +
        f"write=${m.totals.shuffleWriteBytes / 1024}%8d KiB")
      m
    }
    val pass2 = names.map(n => runOnce(spark, n, SparkEntry.queries(n), sfDir))
    val wall = (System.nanoTime() - wall0) / 1e9
    val rows = names.lazyZip(pass1).lazyZip(pass2).map { (name, m, t2) =>
      (name, if (m.value < 0 || t2 < 0) -1.0 else math.min(m.value, t2), m.totals)
    }
    val total = rows.map(_._2).filter(_ >= 0).sum
    val ambient = if (total > 0) wall / (2 * total) else -1.0
    val qs = rows.map { case (n, t, m) =>
      f"""${jstr(n)}:{"sec":$t%.3f,"shuffle_write_kib":${m.shuffleWriteBytes / 1024},""" +
        f""""shuffle_read_kib":${m.shuffleReadBytes / 1024},"input_mib":${m.inputBytes / 1048576}}"""
    }.mkString(",")
    val errors = rows.collect { case (n, t, _) if t < 0 => jstr(n) }.mkString("[", ",", "]")
    f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      f""""n_queries":${rows.length},"ambient_load":$ambient%.3f,""" +
      s""""sf":${jstr(sfDir)},"errors":$errors,"queries":{$qs}}"""
  }

  /** JSON string literal: quotes, backslashes and control characters
    * escaped, so an interpolated path cannot break a committed artifact. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
