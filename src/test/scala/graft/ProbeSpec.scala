package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col

/** The measurement facility: exact per-window attribution (no sleeps, no
  * polling) and the committed mirror's schema.
  */
class ProbeSpec extends SparkSpec {

  private lazy val probe = Probe.Listener.attach(spark)

  test("a shuffle is attributed to its own window, never to the next one") {
    // a listener that holds every task event on the shared bus queue, as a
    // busy driver would: the shuffle's events reach the probe only after
    // its job has returned, so only the drain keeps them in their window
    val slowBus = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slowBus)
    try {
      val shuffled = probe.measure(
        spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count().collect())
      val mapOnly = probe.measure(
        spark.range(0, 20000, 1, 4).select(col("id") * 2).collect())
      assert(shuffled.value.length == 7)
      assert(shuffled.totals.shuffleWriteBytes > 0)
      assert(shuffled.stages.map(_.shuffleWriteBytes).sum == shuffled.totals.shuffleWriteBytes)
      assert(shuffled.stages.map(_.tasks).sum == shuffled.totals.tasks)
      assert(mapOnly.totals.tasks == 4)
      assert(mapOnly.totals.shuffleWriteBytes == 0L)
      assert(mapOnly.totals.shuffleReadBytes == 0L)
    } finally spark.sparkContext.removeSparkListener(slowBus)
  }

  test("plan mode prints the AQE-final plan of the noop run") {
    val Seq(plan) = Probe.plans(spark, probe, sf0001, Seq("q15_exact_dedup")).toSeq
    assert(plan.startsWith("===== plan: q15_exact_dedup ====="))
    assert(plan.contains("isFinalPlan=true"), plan.take(2000))
  }

  test("mirror carries exactly the keys tools/bench_delta.py reads") {
    val names = Seq("q01_point_lookup", "q15_exact_dedup")
    val doc = new ObjectMapper().readTree(Probe.mirror(spark, probe, sf0001, names))
    assert(Seq("value", "ambient_load", "errors", "queries").forall(doc.has))
    assert(doc.get("errors").size == 0)
    val queries = doc.get("queries")
    assert(queries.fieldNames.asScala.toSeq == names)
    names.foreach { n =>
      val q = queries.get(n)
      assert(q.fieldNames.asScala.toSet ==
        Set("sec", "shuffle_write_kib", "shuffle_read_kib", "input_mib"), n)
      assert(q.get("sec").asDouble > 0, n)
    }
    assert(queries.get("q15_exact_dedup").get("shuffle_write_kib").asLong > 0)
  }
}
