package graft

/** Driver-run benchmark: every registered query against
  * SPARK_GRAFT_SF_DIR, one JSON line out. Results go through the `noop`
  * sink so the full plan executes (a bare count() would let Catalyst prune
  * the very columns being benchmarked); see [[Probe.runOnce]].
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    Probe.warmUp(spark, sfDir)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    val wall0 = System.nanoTime()
    // Two passes, min per query — but INTERLEAVED: pass 1 runs the whole
    // suite, then pass 2 runs the whole suite again. Back-to-back samples
    // of the same query (the r6 shape) share any sustained ambient-load
    // window (neighbor process, GC buildup), so the min filtered nothing
    // and five fake 3-10x regressions cost a full clean re-run to debunk.
    // With the passes ~half a suite apart, a load window would have to
    // span the entire run to inflate both samples of one query.
    val pass1 = ordered.map { case (name, fn) => Probe.runOnce(spark, name, fn, sfDir) }
    val pass2 = ordered.map { case (name, fn) => Probe.runOnce(spark, name, fn, sfDir) }
    val wall = (System.nanoTime() - wall0) / 1e9
    val results = ordered.zip(pass1.zip(pass2)).map { case ((name, _), (a, b)) =>
      // a failed query must be distinguishable from a fast success
      (name, if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // ambient_load: measured wall across both passes vs 2x the sum of
    // per-query minima. ~1.0 = clean session; >>1 = the session was
    // contended and even the minima may be inflated — treat regressions
    // in this run as suspect and re-time in a clean JVM before acting.
    val ambient = if (total > 0) wall / (2 * total) else -1.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"ambient_load":${f"$ambient%.3f"},"sf":"$sfDir"}""")
    spark.stop()
  }
}
