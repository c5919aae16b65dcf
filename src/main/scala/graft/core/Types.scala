package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Core row types and constants of the engine.
  *
  * Mirrors the reference's data model (`src/vector_db.thrift:13-18`,
  * `Config/storage_config.py:2-4`): a keyed vector table
  * `key -> (vector, metadata, timestamp)` plus an append-only op log.
  */
object Constants {
  /** Reference vector dimension (CLIP ViT-B/32), `Config/storage_config.py:2`. */
  val Dim = 512
  /** Reference shard count, `Config/storage_config.py:3`. */
  val Shards = 4
  /** Reference default top-k, `src/vector_db.thrift:25`. */
  val DefaultTopK = 5
}

/** The engine's core row — reference `VectorData` (`src/vector_db.thrift:13-18`)
  * plus the LevelDB value shape (`src/datanode/handler.py:288-297`).
  */
case class VectorRecord(
    key: String,
    vector: Array[Float],
    metadata: Map[String, String],
    ts: Long)

/** One write-ahead-log operation — reference WAL line shape
  * (`src/utils/wal_manager.py:90-98`). DELETE rows carry null
  * vector/metadata.
  */
case class WalOp(
    op_type: String, // "PUT" | "DELETE"
    key: String,
    vector: Array[Double],
    metadata: Map[String, String],
    timestamp: Long,
    node_id: String)

object Schemas {
  /** Spark read schema of a WAL JSON-lines file. */
  val wal: StructType = StructType(Seq(
    StructField("op_type", StringType),
    StructField("key", StringType),
    StructField("vector", ArrayType(DoubleType)),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("timestamp", LongType),
    StructField("node_id", StringType)))

  /** Canonical stored-table schema of the keyed vector store. */
  val vectorRecord: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType)),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("ts", LongType)))

  /** `df` reduced to `schema`'s columns, in its order, each cast to its
    * declared type — what an artifact writer emits so that the reader's
    * declared schema matches the files.
    */
  def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
}
