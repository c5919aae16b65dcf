package graft.core

import org.apache.spark.sql.SparkSession

/** The one place engine sessions are configured. Every main and test uses
  * this builder so the load-bearing confs can't drift between entry
  * points (the nanosAsLong one already bit a drifted session once):
  *
  *  - `nanosAsLong`: events.parquet is TIMESTAMP(NANOS); without this the
  *    read throws; with it, `ts` is int64 nanos (oracle-parity-friendly)
  *  - extensions: SQL users get vec_l2sq / minhash_sig / etc.
  *  - UTC + shuffle partitions sized to the worker count, AQE on
  */
object GraftSession {
  // per-process warehouse: the in-memory catalog dies with the JVM, so a
  // shared location would leave LOCATION_ALREADY_EXISTS landmines for the
  // next run's saveAsTable
  private lazy val warehouseDir =
    java.nio.file.Files.createTempDirectory("graft-warehouse-").toString

  /** Initial-shuffle multiplier (AQE coalesces back down), env
    * `SPARK_GRAFT_INITIAL_SHUFFLE`. Shuffle-partition count must scale
    * with DATA, not cluster shape: the round-9 100× spot-check crashed a
    * SHUFFLE_HASH build ("Can't acquire 64 MiB for hash relation") at
    * worker-count partitions and completed at 16× (SCALE.md round 9).
    * The DEFAULT stays 1 because the sf-scale fixtures this process
    * benches are exactly the small-input case, and the measured A/B
    * (q98, 5 reps per factor) showed finer initial splits cost CPU-heavy
    * small-shuffle stages 1.5–3×: steady-state ~8 s at 1×, ~23 s at 4×,
    * ~12 s at 16×. Scale runs (the 100× fixture locally; any real
    * cluster, where shuffle.partitions is sized to data as a matter of
    * course) set the factor — one env var, no code change.
    */
  private def initialShuffleFactor: Int =
    sys.env.getOrElse("SPARK_GRAFT_INITIAL_SHUFFLE", "1").toInt

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Transcode ingest (S11): Spark 4 gates decode()/encode() to a short
      // charset whitelist by default; the engine supports every JVM
      // charset (GBK is the reference's own transcode case)
      .config("spark.sql.legacy.javaCharsets", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * initialShuffleFactor).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouseDir)

  /** local[n] with shuffle partitions = n — the engine's standard shape. */
  def local(cores: Int): SparkSession =
    builder(s"local[$cores]", cores).getOrCreate()

  /** Worker count from the harness env (driver target: local[32]). */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    local(cpus)
  }
}
