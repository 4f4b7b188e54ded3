package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (TESTDATA.md: TPC-H-ish star schema + `events`
  * stream table + `documents`/`embeddings` LLM tables).
  *
  * At-scale note: every loader is a plain columnar Parquet scan — Spark's
  * vectorized reader + Catalyst column pruning / predicate pushdown apply
  * automatically, so downstream operators should express projections and
  * filters declaratively (never cache-then-filter) to keep the pushdown
  * reaching the scan at 100 TB.
  */
object Tables {
  /** Cast any TIMESTAMP_NTZ column to TimestampType. The regenerated
    * driver fixtures store naive timestamp[us] (no UTC flag); sessions set
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false` so the scan emits
    * TimestampType NATIVELY (no cast above the scan — a cast would block
    * parquet predicate pushdown on every date filter), making this fold a
    * no-op. It stays as a dispatch fallback for sessions without the conf:
    * all sessions run `spark.sql.session.timeZone=UTC`, so the cast is the
    * identity on the underlying µs value, and the DuckDB oracle reads the
    * same naive values as-is either way. */
  private def instantTyped(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      else d
    }

  /** Session confs that change the type a parquet column infers to. */
  private val schemaConfs = Seq(
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** What a set of paths holds, from a driver listing that runs no job:
    * each leaf file's path, length and mtime, plus the session's
    * `schemaConfs`. Spark names part files by a fresh UUID and a
    * rewrite in place changes length or mtime, so changed data gets a
    * new key. None when nothing lists (a missing path, an empty dir). */
  private def contentKey(s: SparkSession,
                         paths: Seq[String]): Option[Seq[Any]] = {
    // Spark's own listing rule: `_`/`.` names hold no data
    def hidden(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq.filterNot(hidden).flatMap(leaves(fs, _))
      else Seq(st)
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(leaves(fs, _))
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    Option.when(files.nonEmpty)(
      schemaConfs.map(s.conf.getOption) ++ files.distinct.sorted)
  }

  /** Metadata of immutable files, cached under `contentKey`: it holds
    * what files are, never what a pass derived from them, so it is not
    * a `Memo` and no pass resets it (README "Reads"). */
  private[graft] final class FileCache[V] {
    private val map = new ConcurrentHashMap[Seq[Any], V]()
    def apply(s: SparkSession, paths: Seq[String])(compute: => V): V =
      contentKey(s, paths) match {
        case None => compute
        case Some(k) => Option(map.get(k)).getOrElse {
          val v = compute
          map.putIfAbsent(k, v)
          v
        }
      }
  }

  private val schemas = new FileCache[StructType]

  /** THE parquet read: the schema Spark would infer, inferred once per
    * content key, then pinned with `.schema`, so reading data already
    * read launches no inference job. Reads whose options change or
    * supply the schema bypass it and say why at the site. */
  def read(s: SparkSession, paths: String*): DataFrame =
    s.read.schema(schemas(s, paths)(s.read.parquet(paths: _*).schema))
      .parquet(paths: _*)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    instantTyped(read(spark, s"$sfDir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** Normalize `events.ts` to a µs TimestampType column regardless of
    * fixture generation. Early driver fixtures stored TIMESTAMP(NANOS),
    * which Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL])
    * unless `spark.sql.legacy.parquet.nanosAsLong=true` (Verify / Bench /
    * SparkSpec all set it) — the column then arrives as a raw ns LONG and
    * is truncated here. Current fixtures store timestamp[us] without the
    * UTC flag, which Spark reads as TIMESTAMP_NTZ; all sessions run with
    * `spark.sql.session.timeZone=UTC`, so the NTZ→TZ cast is the identity
    * on the underlying µs value. Either way the oracle side sees the same
    * instants: DuckDB's `make_timestamp(epoch_ns(ts) // 1000)` reads the
    * naive timestamp as-is. Dispatch on the OBSERVED dtype (not a conf)
    * so the loader keeps working across fixture regenerations. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
