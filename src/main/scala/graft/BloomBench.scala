package graft

import org.apache.spark.sql.functions._

import graft.operators.Bloom

/** Measurement main for the BLOOM SEMI-JOIN (`Bloom.filteredJoin`):
  * replicates the lineitem fixture and joins it to a SELECTIVE dimension
  * subset (high-price orders) with broadcast disabled — the 100 TB
  * regime where the dimension is past broadcast range and a plain
  * sort-merge join shuffles EVERY fact row to find the few that match.
  * Reports wall time (min of 2) and shuffle-write bytes with and without
  * the bloom pre-filter. Results land in SCALE.md.
  *
  *   sbt "runMain graft.BloomBench [sfDir] [replicate] [bits] [k]"
  */
object BloomBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicate = args.lift(1).map(_.toInt).getOrElse(8)
    val bits = args.lift(2).map(_.toInt).getOrElse(1 << 16)
    val k = args.lift(3).map(_.toInt).getOrElse(5)
    val spark = graft.core.GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)

    val probe = Probe.Listener.attach(spark)

    val base = graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("key"), col("l_quantity"),
        col("l_extendedprice"))
    val big = (0 until replicate).map(_ => base).reduce(_ union _).cache()
    val nBig = big.count()
    val dim = graft.core.Tables.orders(spark, sfDir)
      .where(col("o_totalprice") > 470000.0)
      .select(col("o_orderkey").as("key"), col("o_orderdate")).cache()
    val nDim = dim.count()

    def measure(label: String)(f: => Long): Unit = {
      val runs = (1 to 2).map { _ =>
        probe.measure { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      }
      val t = runs.map(_.value).min
      val shuffleBytes = runs.last.totals.shuffleWriteBytes
      println(f"[bloom] $label%-30s $t%6.2f s  shuffle ${shuffleBytes / 1024.0 / 1024.0}%10.2f MiB")
    }

    println(s"[bloom] big=$nBig rows, dim=$nDim keys, bits=$bits k=$k")
    measure("plain sort-merge join") {
      big.join(dim, Seq("key")).count()
    }
    measure("bloom-filtered join") {
      Bloom.filteredJoin(big, dim, "key", bits, k).count()
    }
    // split costs: build once, then filter-only and filtered-join legs
    val bloom = Bloom.buildBitmap(dim, "key", bits, k)
    measure("bitmap build alone") {
      Bloom.buildBitmap(dim, "key", bits, k).length.toLong
    }
    measure("probe filter alone") {
      big.where(Bloom.mightContain(bloom, col("key"), k)).count()
    }
    measure("join w/ prebuilt bloom") {
      big.where(Bloom.mightContain(bloom, col("key"), k))
        .join(dim, Seq("key")).count()
    }
    measure("reference: one md5 filter") {
      big.where(substring(md5(concat(lit("x:"),
        col("key").cast("string"))), 1, 2) === "zz").count()
    }
    spark.stop()
  }
}
