package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketch

/** Measurement main for the DISTINCT-SKETCH tier (`Sketch.hllRegisters` /
  * `linearCountBuckets`): manufactures a high-cardinality per-group
  * distinct problem (the fixture vocabulary is deliberately tiny, so the
  * effect the sketches exist for — reduce-side state growing with the
  * VALUE UNIVERSE — must be manufactured to be measured honestly) and
  * compares, for exact `groupBy(count_distinct)`, linear counting, and
  * HLL:
  *
  *   - wall time (min of 2, one JIT/GC-noisy pass can't masquerade)
  *   - total shuffle WRITE bytes ([[Probe.Listener]] task metrics) — the
  *     number that becomes the 100 TB bottleneck: exact distinct
  *     shuffles one record per distinct (group, value) pair per mapper,
  *     the sketches shuffle at most (groups × buckets) rows per mapper
  *     NO MATTER the cardinality.
  *
  * Numbers land in SCALE.md.
  *
  *   sbt "runMain graft.SketchBench [rows] [distinct] [groups]"
  */
object SketchBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val distinct = args.lift(1).map(_.toLong).getOrElse(5000000L)
    val groups = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")

    val probe = Probe.Listener.attach(spark)

    // realistic value width: "token-<n>" strings, id-derived (no RNG)
    val df = spark.range(rows).select(
      pmod(col("id"), lit(groups.toLong)).cast("string").as("g"),
      concat(lit("token-"), pmod(col("id") * 2654435761L, // Knuth 32-bit,
        lit(distinct))).as("v"))          // id*mult < 2^63 at any sane rows

    def measure(label: String)(f: => Long): Unit = {
      val runs = (1 to 2).map { _ =>
        probe.measure { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      }
      val t = runs.map(_.value).min
      val shuffleBytes = runs.last.totals.shuffleWriteBytes
      println(f"[sketch] $label%-34s $t%6.2f s  shuffle ${shuffleBytes / 1024.0 / 1024.0}%10.2f MiB")
    }

    println(s"[sketch] rows=$rows distinct~$distinct groups=$groups")
    measure("exact groupBy(count_distinct)") {
      df.groupBy("g").agg(count_distinct(col("v"))).collect().length.toLong
    }
    measure("linearCount (buckets=4096)") {
      Sketch.linearCountBuckets(df, "g", "v", buckets = 4096).collect().length.toLong
    }
    measure("hllRegisters (p=12, m=4096)") {
      Sketch.hllRegisters(df, "g", "v", p = 12).collect().length.toLong
    }
    spark.stop()
  }
}
