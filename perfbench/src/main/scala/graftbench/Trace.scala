package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer, as the benchmark saw it from outside, plus the
  * Spark work the call caused. Spark counters are filled by [[SpanListener]]
  * from the job group the span set while it was open.
  */
final class Span(val id: Long, val parent: Long, val layer: String,
    val name: String, val request: Long, val phase: String, val startNs: Long) {
  var endNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var blockBytes = 0L
  def seconds: Double = (endNs - startNs) / 1e9
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans kept in memory, written out when the run ends. With tracing off,
  * [[Trace.call]] only runs its body, so timed runs pay nothing.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val all = ArrayBuffer[Span]()
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private var open = List.empty[Span]
  private var nextId = 1L
  /** Recorded on each span: `setup`, `warmup`, `loop` or `after`. */
  var phase: String = "setup"
  /** The pass number in the timed loop, 0 outside it: the request id of
    * the spans one pass of client calls caused.
    */
  var request: Long = 0L

  if (enabled) sc.addSparkListener(new SpanListener(byGroup))

  /** In the timed loop of a traced run every other pass is traced, starting
    * with the first, so every call of a pass is traced alike; the untraced
    * passes give the tracing overhead. Outside the loop every call is traced.
    */
  private def picks: Boolean = enabled && (phase != "loop" || request % 2 == 1)

  /** Runs `body`, as a span if tracing picks this call; returns whether it did. */
  def call[T](layer: String, name: String)(body: => T): (T, Boolean) =
    if (!picks) (body, false)
    else {
      val parent = open.headOption
      val s = new Span(nextId, parent.map(_.id).getOrElse(0L), layer, name, request,
        phase, System.nanoTime())
      nextId += 1
      all += s
      val group = s"graftbench-${s.id}"
      byGroup.put(group, s)
      sc.setJobGroup(group, s"$layer.$name", interruptOnCancel = false)
      open = s :: open
      val result = try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"graftbench-${p.id}", s"${p.layer}.${p.name}",
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
      (result, true)
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftbenchBus.drain(sc)

  def spans: Seq[Span] = all.toSeq

  /** Finished spans of one call in the timed loop. */
  def loop(layer: String, name: String): Seq[Span] =
    all.filter(s => s.layer == layer && s.name == name && s.phase == "loop" && s.endNs > 0).toSeq

  /** Duration minus the part of it that child spans cover, summed per layer. */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum }
  }

  /** One JSON object per span, one per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "request" -> s.request, "phase" -> s.phase, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> s.jobs, "stages" -> s.stages,
        "tasks" -> s.tasks, "task_ms" -> s.taskMs, "input_bytes" -> s.inputBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "output_bytes" -> s.outputBytes,
        "block_bytes" -> s.blockBytes))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Attributes jobs, stages and task metrics to the span whose job group
  * submitted them, and cached-block bytes to the span whose stage built
  * the cached RDD.
  */
final class SpanListener(byGroup: ConcurrentHashMap[String, Span]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val rddSpan = new ConcurrentHashMap[Int, Span]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => s.synchronized { s.jobs += 1 })

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach { s =>
      s.synchronized { s.stages += 1 }
      stageSpan.put(e.stageInfo.stageId, s)
      e.stageInfo.rddInfos.foreach(r => rddSpan.putIfAbsent(r.id, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.storageLevel.isValid) info.blockId.asRDDId.foreach { b =>
      val s = rddSpan.get(b.rddId)
      if (s != null) s.synchronized { s.blockBytes += info.memSize + info.diskSize }
    }
  }
}
