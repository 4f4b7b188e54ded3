package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.StreamRunner

/** The reference's framework surface re-expressed Spark-first
  * (/root/reference/README.md:2 — "Stream processing framework with
  * ECS"): pipelines are declared as source → stages → sink graphs where
  * a *topic* is a named stream endpoint and a *stage* is a pure
  * DataFrame transform (the ECS "system"). The ECS schedule's
  * data-dependency ordering is exactly what Catalyst derives from the
  * composed logical plan, so declaration is all that's left of the
  * framework — execution belongs to Spark.
  *
  * One declaration, two executions (Structured Streaming's unified
  * model): `runBatch` executes the stage graph over the topic's batch
  * image; `start` runs it as an incremental streaming query with
  * checkpointed exactly-once state. PipelineSpec asserts both paths
  * produce identical results and that a restart from the same
  * checkpoint is a no-op.
  */
sealed trait Topic {
  /** Unbounded read (streaming). */
  def readStream(spark: SparkSession): DataFrame
  /** Complete-data read (batch image of the topic). */
  def readBatch(spark: SparkSession): DataFrame
}

/** Directory-of-files topic: each new file is an appended micro-batch
  * (ingestion parallelism = file count at scale). */
final case class FileTopic(path: String, schema: Option[StructType] = None)
    extends Topic {
  private def resolvedSchema(spark: SparkSession): StructType =
    schema.getOrElse(Tables.read(spark, path).schema)
  override def readStream(spark: SparkSession): DataFrame =
    spark.readStream.schema(resolvedSchema(spark)).parquet(path)
  override def readBatch(spark: SparkSession): DataFrame =
    Tables.read(spark, path)
}

/** Pipeline builder. Stages compose left to right; the declaration is
  * lazy — nothing executes until runBatch/start. */
final class Pipeline private (
    val name: String,
    source: Topic,
    stages: Vector[DataFrame => DataFrame]) {

  /** Append a system (pure transform) to the graph. */
  def stage(f: DataFrame => DataFrame): Pipeline =
    new Pipeline(name, source, stages :+ f)

  private def apply(df: DataFrame): DataFrame =
    stages.foldLeft(df)((acc, f) => f(acc))

  /** Execute the graph over the topic's complete batch image. */
  def runBatch(spark: SparkSession): DataFrame =
    apply(source.readBatch(spark))

  /** Run incrementally: write to a parquet sink topic with checkpointed
    * exactly-once commits, started by the stream runner (AvailableNow:
    * it processes the backlog and terminates). */
  def start(spark: SparkSession, sinkPath: String, checkpoint: String): StreamingQuery =
    StreamRunner.start(apply(source.readStream(spark))
      .writeStream.format("parquet").option("path", sinkPath), checkpoint)
}

object Pipeline {
  def from(name: String, source: Topic): Pipeline =
    new Pipeline(name, source, Vector.empty)
}
