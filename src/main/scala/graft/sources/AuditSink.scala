package graft.sources

import java.io.{BufferedWriter, File, FileWriter}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Write-side DataSource V2 connector (§2.11): the two-phase commit
  * protocol a real warehouse sink implements, made visible. Each task's
  * DataWriter streams its partition to an uncommitted part file and
  * returns a WriterCommitMessage (partition, file, row count); the
  * DRIVER's BatchWrite.commit publishes the `_MANIFEST` listing exactly
  * the committed files — the atomic visibility point. Readers that
  * resolve files through the manifest (as `sink_custom` does) never
  * observe uncommitted or aborted parts: task retries leave stray files,
  * the manifest ignores them — the exactly-once recipe every table
  * format builds on (same idea as sink_foreach_batch's batchId-keyed
  * dirs, one layer lower in the stack). Local-FS paths here; on a
  * cluster the same code points at shared storage.
  *
  * Save-mode semantics run THROUGH the manifest, the way table formats
  * do it: append merges the new commit messages into the existing
  * manifest (prior committed files stay visible), while
  * `mode("overwrite")` arrives as SupportsTruncate.truncate() and
  * publishes a manifest of only the new files — the old parts become
  * unreferenced garbage an async vacuum would reclaim, and visibility
  * flips atomically with the manifest replace.
  *
  * Expected row schema: (bigint, string, bigint) — written as 3-column
  * CSV lines with RFC-4180 quoting for string cells containing the
  * delimiter/quote/newline, so arbitrary string payloads round-trip
  * through Spark's csv reader (read with `escape="` — and `multiLine`
  * if values may embed newlines — since Spark's default escape is the
  * backslash, not the doubled quote). Manifest lines are
  * `part,rows,file` with the path LAST and parsed with a bounded split,
  * so paths containing commas cannot shear the record.
  */
class AuditSink extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-audit"

  // write-only: the table takes whatever schema the DataFrame brings
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AuditTable(schema, opts.get("path"),
      Option(opts.get("ordered_by")), opts.getInt("write_parts", 0))
  }
}

private[graft] object AuditManifest {
  /** One committed file per line: `part,rows,file` (path last — parse
    * with split(",", 3) so commas in the path survive). */
  def encode(m: AuditCommit): String = s"${m.part},${m.rows},${m.file}"

  def files(manifest: File): Seq[String] =
    if (!manifest.exists()) Seq.empty
    else {
      val src = scala.io.Source.fromFile(manifest)
      try src.getLines().filter(_.nonEmpty).map(_.split(",", 3)(2)).toList
      finally src.close()
    }

  def lines(manifest: File): Seq[String] =
    if (!manifest.exists()) Seq.empty
    else {
      val src = scala.io.Source.fromFile(manifest)
      try src.getLines().filter(_.nonEmpty).toList
      finally src.close()
    }
}

/** `ordered_by=<col>` requests a CLUSTERED + SORTED write through
  * `RequiresDistributionAndOrdering` (VERDICT r16 task 4 — the
  * sink-side half of scan_rowgroup_prune's layout story): the sink
  * declares an OrderedDistribution on the named long column (Spark
  * plans the range exchange — globally non-overlapping partition key
  * ranges, the property a hash clustering cannot give) plus a
  * within-partition sort, optionally pinned to `write_parts`
  * partitions. Each task writer records its file's key min/max into a
  * `_RANGES` sidecar at commit, so a reader can PROVE the clustering
  * landed from manifest metadata alone — exactly how Iceberg's
  * SortOrder tables make zone-map pruning a property of the sink, not
  * a courtesy of whoever wrote the DataFrame. */
private class AuditTable(writeSchema: StructType, path: String,
    orderedBy: Option[String], writeParts: Int)
    extends Table with SupportsWrite {
  override def name(): String = s"graft_audit($path)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = orderedBy match {
        case Some(key) =>
          val idx = info.schema().fieldIndex(key)
          require(info.schema().fields(idx).dataType == LongType,
            s"ordered_by column $key must be bigint")
          new Write with RequiresDistributionAndOrdering {
            private val order = Array[V2SortOrder](Expressions.sort(
              Expressions.column(key), SortDirection.ASCENDING))
            override def requiredDistribution(): Distribution =
              Distributions.ordered(order)
            override def requiredOrdering(): Array[V2SortOrder] = order
            override def requiredNumPartitions(): Int = writeParts
            override def toBatch: BatchWrite =
              new AuditBatchWrite(info.schema(), path, replace, Some(idx))
          }
        case None => new Write {
          override def toBatch: BatchWrite =
            new AuditBatchWrite(info.schema(), path, replace, None)
        }
      }
    }
}

private class AuditBatchWrite(schema: StructType, path: String,
    truncate: Boolean, rangeCol: Option[Int]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AuditWriterFactory(schema.fields.map(_.dataType.typeName), path,
      rangeCol)

  // the atomic visibility point: only files named here are committed.
  // Append merges into the prior manifest; truncate (mode=overwrite)
  // replaces it, atomically via rename — readers see the old or the new
  // file set, never a torn mix.
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    new File(path).mkdirs()
    val committed = messages.toSeq.collect { case m: AuditCommit => m }
    // append keeps the prior lines; the write replaces the file in one
    // rename, so a concurrent reader never finds it missing or torn
    def publish(name: String, fresh: Seq[String]): Unit = {
      val file = new File(path, name)
      val prior = if (truncate) Seq.empty else AuditManifest.lines(file)
      graft.operators.TableLog.atomicWrite(file.toPath,
        (prior ++ fresh).map(_ + "\n").mkString)
    }
    publish("_MANIFEST", committed.map(AuditManifest.encode))
    // clustered writes additionally publish the per-file key ranges —
    // `part,rows,kmin,kmax` — the zone-map metadata readers prune by
    if (rangeCol.isDefined)
      publish("_RANGES", committed.filter(_.rows > 0)
        .map(m => s"${m.part},${m.rows},${m.kMin},${m.kMax}"))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case m: AuditCommit => new File(m.file).delete(); ()
      case _ => ()
    }
}

private class AuditWriterFactory(types: Array[String], path: String,
    rangeCol: Option[Int] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    new File(path).mkdirs()
    val file = new File(path, s"part-$partitionId-$taskId.csv")
    new DataWriter[InternalRow] {
      private val out = new BufferedWriter(new FileWriter(file))
      private var rows = 0L
      private var kMin = Long.MaxValue
      private var kMax = Long.MinValue

      // RFC-4180: quote a cell iff it contains delimiter/quote/newline;
      // embedded quotes double — exactly what Spark's csv reader expects
      private def csvCell(v: String): String =
        if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + v.replace("\"", "\"\"") + "\""
        else v

      override def write(r: InternalRow): Unit = {
        val cells = types.zipWithIndex.map {
          case ("long", i)   => r.getLong(i).toString
          case ("string", i) => csvCell(r.getUTF8String(i).toString)
          case (t, i)        => throw new IllegalArgumentException(
            s"graft-audit supports bigint/string columns, got $t at $i")
        }
        out.write(cells.mkString(",")); out.newLine()
        rangeCol.foreach { i =>
          val k = r.getLong(i)
          if (k < kMin) kMin = k
          if (k > kMax) kMax = k
        }
        rows += 1
      }

      override def commit(): WriterCommitMessage = {
        out.close()
        AuditCommit(partitionId, file.getAbsolutePath, rows, kMin, kMax)
      }

      override def abort(): Unit = { out.close(); file.delete(); () }
      override def close(): Unit = ()
    }
  }
}

private[graft] case class AuditCommit(part: Int, file: String, rows: Long,
    kMin: Long = Long.MaxValue, kMax: Long = Long.MinValue)
    extends WriterCommitMessage
