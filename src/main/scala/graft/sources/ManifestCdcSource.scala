package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** STREAMING MANIFEST/CDC SOURCE (`graft-manifest-cdc`) — the consumer
  * half of the versioned-manifest story (VERDICT r13 task 3): a
  * DataSource V2 MicroBatchStream that TAILS a versioned table's
  * manifest chain (graft.operators.Scans.timeTravel* layout: immutable
  * data files + per-version `m<k>` manifest sidecars) using the
  * MANIFEST VERSION AS THE OFFSET — the seam an incremental MV,
  * replication, or downstream index subscribes to (Iceberg's
  * incremental Spark read / Delta's CDF reader have exactly this
  * shape: snapshot id = offset, added/removed files = the batch).
  *
  * Per micro-batch (paced: ONE version step per batch, derived from
  * the COMMITTED start offset, so a restart replans identically):
  * the step v-1 → v resolves to the files the two manifests DISAGREE
  * on — m_{v-1}∖m_v emits each row with sign -1, m_v∖m_{v-1} with
  * sign +1 — the copy-on-write changelog lower bound (delete+insert
  * pairs at file granularity; rows untouched by the commit cancel
  * under any signed aggregate, and a downstream key join recovers the
  * exact changed-row set). Unchanged files are NEVER read: the diff
  * is O(changed files) like scan_time_travel's CDC, but incremental
  * and exactly-once across restarts (the offset lives in the
  * checkpoint).
  *
  * Scale shape: manifests are driver metadata (the |files|-bounded
  * sidecar every lakehouse planner reads — parsed here with a plain
  * parquet file reader, no Spark job); data files are read on
  * EXECUTORS, one InputPartition per (version, file, sign) — the unit
  * a 1000-executor cluster schedules. Rows: (version, sign,
  * o_orderkey, o_totalprice). */
class ManifestCdcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-manifest-cdc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("lineage", false)) ManifestCdcSource.lineageSchema
    else ManifestCdcSource.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ManifestCdcTable(new CaseInsensitiveStringMap(properties))
}

object ManifestCdcSource {
  val schema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("sign", IntegerType, nullable = false),
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false)))

  /** Lineage mode (`lineage=true`, VERDICT r15 task 6): the chain's
    * data files carry an immutable `row_id` (Scans.lineageStreamDir);
    * surfacing it lets a downstream consumer pair ± rows into
    * I/U/D with pre/post images — including across KEY migrations,
    * where a key join sees only the delete+insert illusion. */
  val lineageSchema: StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("sign", IntegerType, nullable = false),
    StructField("row_id", LongType, nullable = false),
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false)))

  /** Published manifest versions under `dir`: m<k> dirs whose write
    * committed (_SUCCESS), ascending. */
  def versions(dir: String): Seq[Int] = {
    val root = new java.io.File(dir)
    val kids = Option(root.listFiles()).getOrElse(Array.empty)
    kids.iterator
      .filter(f => f.isDirectory && f.getName.matches("m\\d+") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(_.getName.drop(1).toInt).toSeq.sorted
  }

  /** The file paths a manifest lists — read with the plain parquet
    * Group reader (a manifest is a small sidecar; no Spark job, the
    * lakehouse-planner driver read). A MISSING or uncommitted manifest
    * is an ERROR, not an empty set (ADVICE r14): diffing against a
    * silently-empty predecessor would fabricate the whole snapshot as
    * +1 inserts — a truncated chain (e.g. vacuum expired the version)
    * must fail loudly, the Iceberg/Delta expired-snapshot contract. */
  def manifestPaths(dir: String, v: Int): Seq[String] = {
    val mdir = new java.io.File(s"$dir/m$v")
    if (!new java.io.File(mdir, "_SUCCESS").exists())
      throw new IllegalStateException(
        s"manifest m$v missing or uncommitted under $dir — the version " +
          "chain is truncated (expired/vacuumed?); refusing to fabricate " +
          "a changelog from an empty predecessor")
    val parts = Option(mdir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".parquet"))
    parts.toSeq.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(f.getAbsolutePath))
        .withConf(new org.apache.hadoop.conf.Configuration())
        .build()
      try {
        Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(_.getString("path", 0)).toList
      } finally reader.close()
    }.sorted
  }
}

private class ManifestCdcTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val dir = options.get("path")
  private val lineage = options.getBoolean("lineage", false)
  require(dir != null && dir.nonEmpty, "graft-manifest-cdc requires `path`")

  override def name(): String = s"graft_manifest_cdc($dir)"
  override def schema(): StructType =
    if (lineage) ManifestCdcSource.lineageSchema else ManifestCdcSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType =
          if (lineage) ManifestCdcSource.lineageSchema
          else ManifestCdcSource.schema
        override def description(): String =
          s"ManifestCdcScan($dir, lineage=$lineage)"
        override def toMicroBatchStream(ckpt: String): MicroBatchStream =
          new ManifestCdcStream(dir, lineage)
      }
    }
}

/** Offset = the highest manifest version whose changes are emitted. */
private case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private class ManifestCdcStream(dir: String, lineage: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private def maxVersion: Long =
    ManifestCdcSource.versions(dir).lastOption.getOrElse(1).toLong
  private var target: Long = maxVersion

  override def prepareForTriggerAvailableNow(): Unit = target = maxVersion

  /** The EARLIEST RETAINED manifest is the base snapshot: the change
    * stream starts after it (a consumer bootstraps the base with a
    * batch snapshot read, then subscribes here — the Delta CDF /
    * Iceberg incremental contract). Anchoring at versions().head
    * rather than a hard-coded 1 (ADVICE r14) means a chain whose early
    * versions were vacuumed starts at the retained floor instead of
    * diffing v_floor against a missing predecessor. */
  override def initialOffset(): Offset = VersionOffset(
    ManifestCdcSource.versions(dir).headOption.getOrElse(
      throw new IllegalStateException(
        s"no committed manifests under $dir — nothing to subscribe to"))
      .toLong)

  // paced admission: one version step per micro-batch, derived from the
  // committed start (restart-safe — a recovered query replans the same
  // step); AvailableNow pins the drain target at start time
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset].v
    VersionOffset(math.max(s, math.min(s + 1, target)))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(start, limit)")

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].v
    val e = end.asInstanceOf[VersionOffset].v
    ((s + 1) to e).flatMap { v =>
      val prev = ManifestCdcSource.manifestPaths(dir, (v - 1).toInt).toSet
      val cur = ManifestCdcSource.manifestPaths(dir, v.toInt).toSet
      (prev -- cur).toSeq.sorted.map(p =>
        CdcFilePartition(v, p, -1, lineage)) ++
        (cur -- prev).toSeq.sorted.map(p =>
          CdcFilePartition(v, p, 1, lineage))
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private case class CdcFilePartition(version: Long, path: String, sign: Int,
                                    lineage: Boolean = false)
    extends InputPartition

private class CdcReaderFactory extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcFilePartition]
    new PartitionReader[InternalRow] {
      private val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(graft.operators.Scans.localPath(p.path)))
        .withConf(new org.apache.hadoop.conf.Configuration())
        .build()
      private var cur: org.apache.parquet.example.data.Group = _
      override def next(): Boolean = { cur = reader.read(); cur != null }
      override def get(): InternalRow =
        if (p.lineage)
          new GenericInternalRow(Array[Any](
            p.version, p.sign,
            cur.getLong("row_id", 0),
            cur.getLong("o_orderkey", 0),
            cur.getDouble("o_totalprice", 0)))
        else
          new GenericInternalRow(Array[Any](
            p.version, p.sign,
            cur.getLong("o_orderkey", 0),
            cur.getDouble("o_totalprice", 0)))
      override def close(): Unit = reader.close()
    }
  }
}
