package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.{FileTopic, Pipeline}

/** The declared-pipeline surface (graft.pipeline) exercised end-to-end
  * through the correctness gate: a multi-stage pipeline — filter system,
  * enrichment system, projection system — declared once, executed as a
  * real checkpointed streaming query into a parquet sink topic, result
  * read back and hash-checked against the oracle running the equivalent
  * SQL over the batch image. The batch≡streaming identity itself is
  * asserted in PipelineSpec. */
object PipelineOps extends OpModule {

  /** Run `p` to completion into a fresh parquet sink topic, then read
    * the topic back. */
  private def runToTopic(s: SparkSession, p: Pipeline, tag: String): DataFrame = {
    val out = StreamRunner.fresh(tag)
    StreamRunner.await(p.start(s, out, StreamRunner.fresh(s"$tag-ckpt")))
    Tables.read(s, out)
  }

  /** Stage the fixture (single file or part-file directory — ScaleProbe
    * clone tiers are directory-shaped) into a directory topic (file
    * sources watch directories), once per (JVM, sfDir). Shared
    * part-aware copy: StageUtil (ADVICE r10 — a bare Files.copy on a
    * directory-shaped dataset stages a silently EMPTY topic). */
  private def topicDir(d: String, table: String): String =
    StageUtil.staged(s"${table}_topic", d) { t =>
      StageUtil.stageTopic(java.nio.file.Paths.get(s"$d/$table.parquet"),
        java.nio.file.Paths.get(t), table)
    }

  /** The declared pipeline: three systems over the events topic. */
  private[graft] def revenuePipeline(d: String): Pipeline =
    Pipeline.from("purchase-revenue", FileTopic(topicDir(d, "events")))
      // system 1: decode topic payload (raw event time → µs TimestampType)
      .stage(graft.Tables.normalizeTs)
      // system 2: keep revenue-bearing events
      .stage(_.where(col("event_type") === "purchase" && col("value") > 10))
      // system 3: enrich with a value band + project the output record
      .stage(_.select(col("event_id"), col("user_id"),
        col("value"),
        when(col("value") >= 75, "high")
          .when(col("value") >= 40, "mid")
          .otherwise("low").as("band")))

  def pipelineE2e(s: SparkSession, d: String): DataFrame =
    runToTopic(s, revenuePipeline(d), "out")

  /** The CURATION pipeline as a declared streaming job — the C4-style
    * ingest path run incrementally instead of as a batch sweep: token
    * gate → exact content dedup (`dropDuplicates` on the sha-256 of the
    * text — stateful, append-compatible; which physical copy survives
    * is racy, so the projected record carries ONLY content-derived
    * fields, making the result set deterministic regardless) →
    * content-record projection into the parquet sink topic.
    *
    * At-scale: the dedup state is one hash per distinct document —
    * unbounded over an infinite stream, which is why the production
    * twin is dropDuplicatesWithinWatermark (stream_dedup_within_wm)
    * once documents carry event time; the gate and projection are
    * stateless per-row systems. */
  private[graft] def curationPipeline(d: String): Pipeline =
    Pipeline.from("doc-curation", FileTopic(topicDir(d, "documents")))
      // system 1: token-count quality gate (the llm_quality_filter bound)
      .stage(_.withColumn("n_tokens", size(split(col("text"), " ")))
        .where(col("n_tokens") >= 10 && col("n_tokens") <= 5000))
      // system 2: content-hash the text, drop verbatim duplicates
      .stage(_.withColumn("content_hash",
          sha2(col("text").cast("binary"), 256))
        .dropDuplicates("content_hash"))
      // system 3: content-only training record (deterministic under
      // whichever duplicate copy won)
      // (lang is NOT projected: at sf0.1 seven duplicate texts carry
      // conflicting lang values, so any doc-attribute column would make
      // the surviving row racy — content-derived fields only)
      .stage(_.select(col("content_hash"), col("n_tokens")))

  def pipelineCuration(s: SparkSession, d: String): DataFrame =
    runToTopic(s, curationPipeline(d), "cur")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_e2e" -> pipelineE2e _,
    "pipeline_curation" -> pipelineCuration _
  )

  def oracle: Map[String, String] = Map(
    "pipeline_e2e" ->
      """WITH ev AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |         user_id, event_type, value
        |  FROM events)
        |SELECT event_id, user_id, value,
        |  CASE WHEN value >= 75 THEN 'high'
        |       WHEN value >= 40 THEN 'mid'
        |       ELSE 'low' END AS band
        |FROM ev
        |WHERE event_type = 'purchase' AND value > 10""".stripMargin,
    // content-derived fields only, so DISTINCT replays the stream's
    // racy-survivor dedup deterministically
    "pipeline_curation" ->
      """SELECT DISTINCT sha256(text) AS content_hash,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |FROM documents
        |WHERE len(string_split(text, ' ')) BETWEEN 10 AND 5000""".stripMargin
  )
}
