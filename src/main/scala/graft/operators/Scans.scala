package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}

/** Source / sink operators (SURVEY.md §2.1).
  *
  * At-scale notes: parquet scans go through Spark's vectorized columnar
  * reader; projection and predicates are pushed into the footer/row-group
  * level by Catalyst (`scan_projected` has a plan-shape test asserting the
  * pushed filter). CSV/JSON demonstrate schema-explicit text ingestion —
  * at 100 TB these formats are splittable per-file, so ingestion
  * parallelism = file count; the roundtrip here keeps the data tiny but the
  * code path identical. Sinks write through the Hadoop committer, which is
  * the cluster-safe (task-retry-tolerant) commit protocol.
  */
object Scans extends OpModule {

  /** Serializes scan_malformed's write-then-plant (README "Staging"). */
  private val ioLock = new Object

  /** Full columnar scan. Deliberately sort-free: a scan is a bag, and at
    * 100 TB a trailing range-partitioned total sort would dominate the
    * operator; row-order canonicalization is the verifier's job. */
  def scanParquet(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)

  /** Scan with projection + predicate — both must reach the parquet reader
    * (Catalyst ColumnPruning + PushDownPredicates; asserted in ScansSpec). */
  def scanProjected(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))

  /** CSV roundtrip: write a projection of `part` as CSV, read it back with
    * an explicit schema (no inference job at scale). Doubles excluded —
    * text roundtrip of binary floats is not oracle-exact. */
  def scanCsv(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/part_csv"
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_size", IntegerType)))
    s.read.option("header", "true").schema(schema).csv(path)
  }

  /** ANALYZE-style table statistics — the cost-based-optimizer input
    * every warehouse maintains beside its data (join reorder, broadcast
    * thresholds, and skew heuristics all read these): per column the
    * exact NDV and null count, plus the table row count on every row so
    * each stat is self-describing. One scan, one aggregate — the
    * multi-distinct expands map-side (Spark's grouping-id expansion) so
    * the shuffle carries partial states, not rows. At 100 TB the exact
    * countDistinct becomes the HLL sketch (agg_approx_distinct /
    * agg_sketch_partial next door) with the identical query shape —
    * exact here because the oracle can then replay it exactly. */
  def maintenanceStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("ndv_ok"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nn_ok"),
        countDistinct(col("o_custkey")).as("ndv_ck"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nn_ck"),
        countDistinct(col("o_orderstatus")).as("ndv_st"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("nn_st"),
        countDistinct(col("o_orderpriority")).as("ndv_pr"),
        sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)).as("nn_pr"),
        countDistinct(col("o_totalprice")).as("ndv_tp"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nn_tp"),
        countDistinct(col("o_orderdate")).as("ndv_od"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nn_od"))
      .select(expr(
        """stack(6,
          |  'o_orderkey', ndv_ok, nn_ok,
          |  'o_custkey', ndv_ck, nn_ck,
          |  'o_orderstatus', ndv_st, nn_st,
          |  'o_orderpriority', ndv_pr, nn_pr,
          |  'o_totalprice', ndv_tp, nn_tp,
          |  'o_orderdate', ndv_od, nn_od
          |) AS (col_name, ndv, n_null)""".stripMargin),
        col("n").as("n_rows"))

  /** Binary-file ingestion — the multimodal seam's FRONT door: images /
    * audio / video land as one opaque file each, and `binaryFile` is
    * Spark's distributed reader for exactly that shape (path, length,
    * modification time, content bytes; one row per file, splittable by
    * FILE across executors — at 100 TB the listing parallelizes and
    * each task decodes its own files, which is why this beats a
    * driver-side loop at any scale). The fixture corpus has no media
    * blobs, so a deterministic 50-doc slice of `documents` is staged as
    * individual .txt files (bytes = UTF-8 text; staged once per JVM,
    * README "Staging") and read back through the REAL
    * binaryFile source; the op emits doc_id parsed from the file name,
    * the byte length, and the decoded content. The oracle never sees
    * the staged files: it replays the round trip from `documents`
    * itself (length = octet_length(encode(text))), so the check spans
    * stage → distributed scan → decode end-to-end. llm_media_decode
    * picks up from here (struct envelope, mapPartitions codec). */

  /** Staged 50-doc binary fixture dir — fixture construction ONLY
    * (bounded 50-row collect): production media files already exist on
    * storage; there is no staging step at scale, just the binaryFile
    * scan. Exposed package-private so the dhash front-door spec can
    * scan the same staged blobs. */
  private[graft] def stagedBinDir(s: SparkSession, d: String): String =
    StageUtil.staged("bin_docs", d) { dir =>
      Tables.documents(s, d).where(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.txt"),
            r.getString(1).getBytes("UTF-8"))
        }
    }

  /** Staged SORT-CLUSTERED lineitem slice with deliberately small
    * parquet row groups (64 KB block size → dozens of groups instead of
    * the fixture's one): the data-layout half of predicate pushdown.
    * Sorting on the filter key makes every row group's (min, max)
    * footer range TIGHT, so a pushed range predicate skips whole groups
    * without reading them — at 100 TB, sort-on-write (or Z-order, see
    * maintenance_zorder) is the difference between scanning 1.3 % and
    * 100 % of the table for a keyed slice. Staged once per (JVM, data
    * dir), 4 range partitions sorted within (the production write
    * shape). */
  private[graft] def stagedSortedDir(s: SparkSession, d: String): String =
    StageUtil.staged("sorted_li", d) { dir =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.option("parquet.block.size", "65536")
        .mode("overwrite").parquet(dir)
    }

  /** Keyed slice over the sort-clustered layout: the range predicate
    * reaches the scan (PushedFilters) and min/max footer stats skip
    * non-overlapping row groups — ScansSpec asserts the scan's
    * numOutputRows is a small fraction of the table (row-group
    * granularity, so slightly above the true match count). The oracle
    * replays the same slice on the unsorted fixture: layout changes
    * I/O, never results. */
  def scanRowgroupPrune(s: SparkSession, d: String): DataFrame =
    Tables.read(s, stagedSortedDir(s, d))
      .where(col("l_orderkey").between(100, 300))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("bigint").as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))

  /** Orders staged HASH-SCATTERED on o_orderkey (repartition, not
    * range — so every row group spans nearly the full key domain and
    * min/max footer stats can prune nothing) with a parquet BLOOM
    * FILTER on that same o_orderkey: the layout where sort-clustering
    * (scan_rowgroup_prune's lever) is unavailable and a point lookup
    * would otherwise read everything. Dictionary encoding is disabled
    * for the column: parquet's dictionary-page row-group filter would
    * prune the same lookups at fixture scale and mask whether the bloom
    * path works — at 100 TB a row group's key set exceeds any
    * dictionary page, so bloom is the only file-level secondary index
    * available.
    * `spec` stages the no-bloom control beside it (same layout, blooms
    * off) so the pruning delta is attributable to the bloom alone. */
  private[graft] def stagedBloomDir(s: SparkSession, d: String,
                                    bloom: Boolean = true): String =
    StageUtil.staged(if (bloom) "bloom_ord_b1" else "bloom_ord_b0", d) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(16, col("o_orderkey"))
        .write
        .option("parquet.bloom.filter.enabled#o_orderkey", bloom.toString)
        .option("parquet.bloom.filter.expected.ndv#o_orderkey", "65536")
        .option("parquet.enable.dictionary#o_orderkey", "false")
        .option("parquet.block.size", "65536")
        .mode("overwrite").parquet(dir)
    }

  /** Staged 16-way range-clustered lineitem slice plus a MANIFEST — a
    * sidecar parquet recording per data file its key min/max and row
    * count (one read-back pass grouped on input_file_name). This is the
    * table-format seam (Iceberg/Delta manifests): at 100 TB the
    * bottleneck ABOVE row groups is planning — listing a million files
    * and reading a million footers — and a manifest answers both with
    * one small scan. Keyed by data dir like every staged layout. */
  private[graft] def stagedManifestDir(s: SparkSession, d: String): String =
    StageUtil.staged("manifest_li", d) { dir =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").parquet(s"$dir/data")
      Tables.read(s, s"$dir/data")
        .groupBy(input_file_name().as("path"))
        .agg(min(col("l_orderkey")).as("k_min"),
          max(col("l_orderkey")).as("k_max"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/manifest")
    }

  /** Keyed slice planned FROM THE MANIFEST: the driver reads the
    * |files|-row sidecar (bounded by layout — the planner-metadata
    * precedent), keeps only files whose [min, max] overlaps the
    * predicate range, and hands Spark exactly those paths — excluded
    * files are never listed, footer-read, or scanned. scan_rowgroup_
    * prune skips WITHIN files via footer stats; this skips the FILES
    * themselves via external stats, which is what survives when "the
    * table" is a million objects. The oracle replays the slice on the
    * raw fixture: metadata pruning changes planning I/O, never results
    * (min/max make file exclusion exact — no false negatives). */
  def scanManifestPrune(s: SparkSession, d: String): DataFrame = {
    val dir = stagedManifestDir(s, d)
    val files = Tables.read(s, s"$dir/manifest")
      .where(col("k_max") >= 200 && col("k_min") <= 450)
      .select(col("path")).collect().map(_.getString(0))
    readPaths(s, files.toIndexedSeq)
      .where(col("l_orderkey").between(200, 450))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        sum(col("l_quantity")).cast("bigint").as("sum_qty"))
  }

  /** Point lookups through the bloom sidecar: the IN predicate reaches
    * the scan as pushed Eq filters (≤ the in-filter threshold, so
    * parquet sees an OR of equalities its bloom row-group filter
    * understands) and row groups whose bloom provably excludes every
    * probe key are never read. ScansSpec measures the scan's
    * numOutputRows against the no-bloom control layout. The oracle
    * replays the lookup on the raw fixture: an index prunes I/O, never
    * results — and a bloom's false POSITIVES only admit extra row
    * groups, its no-false-NEGATIVE guarantee is what makes the pruned
    * answer exact. */
  def scanBloomPrune(s: SparkSession, d: String): DataFrame =
    Tables.read(s, stagedBloomDir(s, d))
      .where(col("o_orderkey").isin(7L, 611L, 1021L, 1223L, 1379L))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 4).as("price"))

  def scanBinaryFile(s: SparkSession, d: String): DataFrame = {
    // pathGlobFilter, not a glob-in-path: the sink-metadata probe warns
    // (with a full stack) on a glob path that matches nothing yet
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt")
      .load(stagedBinDir(s, d))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.txt$", 1)
          .cast("long").as("doc_id"),
        col("length"),
        expr("decode(content, 'UTF-8')").as("text"))
  }

  /** Line-oriented text roundtrip — the log-file ingestion shape
    * (`spark.read.text`: one row per line, splittable per file, the
    * rawest distributed source Spark has). Documents serialize as
    * `id<TAB>text` lines through the text WRITER and parse back with one
    * split — fixture texts are space-separated word bags (no tabs or
    * newlines; a production log pipeline escapes or uses JSON-lines,
    * scan_json). The oracle is the source table: the check spans
    * serialize → distributed line scan → parse. */
  def scanText(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/docs_text"
    Tables.documents(s, d)
      .select(concat(col("doc_id"), lit("\t"), col("text")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    s.read.text(path)
      .select(
        substring_index(col("value"), "\t", 1).cast("long").as("doc_id"),
        expr("substring(value, instr(value, '\t') + 1)").as("text"))
  }

  /** JSON-lines roundtrip on `nation` (ints + strings only). */
  def scanJson(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/nation_json"
    Tables.nation(s, d).write.mode(SaveMode.Overwrite).json(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).json(path)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** PERMISSIVE ingestion of a corrupted CSV feed — the robustness
    * posture a production ingest runs under (FAILFAST kills the job on
    * one bad upstream line; DROPMALFORMED silently loses data; the
    * right default is PERMISSIVE + a corrupt-record column, quarantine
    * the bad rows, alert on the count): nation stages as CSV plus one
    * planted part file with three type-failure lines (two unparseable
    * ints, one int overflow), and the read captures each raw bad record in
    * `_bad` while good rows parse normally. The 1-row audit — total /
    * good / corrupt counts, the lexicographically-first raw bad record
    * as the repro pointer, and the good-row key mass proving no good
    * row was dropped or corrupted — is what the ingest gate alerts on.
    * The planted lines are deterministic constants, so the oracle
    * replays the audit from the source table + the plant. */
  def scanMalformed(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/nation_badcsv"
    ioLock.synchronized {
      Tables.nation(s, d)
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      // header=true read skips the FIRST line of every file, so the
      // planted part carries its own header. All three planted lines
      // are TYPE failures in a SELECTED column — measured Spark CSV
      // semantics (spec-pinned): arity drift flags on a full-width
      // parse but ESCAPES a column-pruned scan (univocity's selective
      // mode never sees the missing/extra tokens), and this audit's
      // aggregate prunes; an arity audit must read full width
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "part-planted-bad.csv"),
        ("n_nationkey,n_name,n_regionkey\n"
          + "not_an_int,BROKEN_1,xx\n"
          + "abc,BROKEN_2,def\n"
          + "9999999999999999999999,BROKEN_3,5\n").getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType),
      StructField("_bad", StringType)))
    s.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).csv(path)
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        min(col("_bad")).as("corrupt_example"),
        // good rows only: a malformed row may still carry parsed fields
        sum(when(col("_bad").isNull, col("n_nationkey"))).as("key_mass"))
  }

  /** XML roundtrip on `nation` through Spark 4's BUILT-IN xml source
    * (the spark-xml package merged upstream): write with a row tag,
    * read back with an explicit schema + the same row tag — the
    * B2B/legacy-feed ingestion shape. Ints + strings only (text
    * roundtrip of binary floats is not oracle-exact, the scan_csv
    * rule). Like all text sources the read is splittable per file and
    * schema-explicit, so no inference job runs at scale. */
  def scanXml(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/nation_xml"
    Tables.nation(s, d)
      .write.mode(SaveMode.Overwrite).format("xml")
      .option("rootTag", "nations").option("rowTag", "nation")
      .save(path)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.format("xml").option("rowTag", "nation").schema(schema).load(path)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
  }

  /** Materialize-then-rescan: the write path Verify itself exercises, made
    * an explicit operator (write agg → parquet → read back). */
  def sinkParquet(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/sink_parquet"
    Tables.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    Tables.read(s, path).orderBy(col("o_orderstatus"))
  }

  /** DYNAMIC partition overwrite — the production incremental-writer
    * surface: a nightly job rewrites ONLY the partitions its delta
    * touches, leaving every other partition's files untouched (STATIC
    * mode — Spark's default — would wipe the whole table first; the
    * mode mix-up is a classic data-loss incident). Staged here as two
    * writes: the full `orders` table partitioned by priority, then a
    * delta (orders past the date cutoff, totalprice doubled — a
    * late-arriving correction) written with
    * `partitionOverwriteMode=dynamic` + SaveMode.Overwrite. Correct
    * final state: touched priorities hold ONLY corrected delta rows,
    * untouched priorities keep their originals — exactly what the
    * oracle expresses over `orders` alone, so the check spans write →
    * selective replace → distributed read-back. At 100 TB the delta
    * write costs O(delta) and the read side sees atomic per-partition
    * swaps; the audit aggregate is per-priority (n, exact cents, id
    * checksum). */
  def sinkDynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val cutoff = "1997-01-01"
    val path = StageUtil.staged("sink_dynamic_overwrite", d) { path =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
        .write.partitionBy("o_orderpriority")
        .mode(SaveMode.Overwrite).parquet(path)
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        // the delta touches ONLY the urgent/high partitions — the
        // other three must come through with their original files
        // (under STATIC mode this write would wipe them: the classic
        // data-loss mix-up this op pins)
        Tables.orders(s, d)
          .where(col("o_orderdate") >= lit(cutoff) &&
            col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .select(col("o_orderkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderdate"), col("o_orderpriority"))
          .write.partitionBy("o_orderpriority")
          .mode(SaveMode.Overwrite).parquet(path)
      } finally prev match {
        case Some(v) =>
          s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    Tables.read(s, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** Copy-on-write MERGE INTO (upsert) — the row-level write surface
    * every lakehouse table format (Delta/Iceberg/Hudi) exists to
    * provide, and the one every production pipeline feeding the
    * dedup/curation ops runs nightly: apply a source of
    * matched-UPDATEs, matched-DELETEs, and not-matched-INSERTs to a
    * partitioned target by REWRITING ONLY THE TOUCHED PARTITIONS.
    *
    * The mechanics mirror what a COW engine does under MERGE INTO:
    *  1. plan: the touched-partition set comes from the source's
    *     distinct partition values (driver metadata, bounded by the
    *     partition count — the manifest-read every lakehouse driver
    *     does);
    *  2. rewrite: target rows OF TOUCHED PARTITIONS ONLY (the read is
    *     partition-pruned — untouched partitions are never scanned,
    *     let alone rewritten) left-join the keyed source: 'D' rows
    *     drop, 'U' rows take the source's values, everything else
    *     passes through; 'I' rows append. Cost is O(touched), the COW
    *     economics claim — ScansSpec proves the untouched partition's
    *     files are byte-identical after the merge;
    *  3. commit: new files land in a staging dir (a COW engine writes
    *     new files too — it then flips a manifest pointer; with plain
    *     parquet dirs the atomic-ish equivalent is a dynamic partition
    *     overwrite of exactly the touched partitions). The staging
    *     read-back also sidesteps Spark's (correct) refusal to
    *     overwrite a path its own query reads from.
    *
    * Caveat pinned here deliberately: dynamic overwrite only replaces
    * partitions PRESENT in the written data, so a merge that deletes a
    * partition's every row needs the manifest commit path
    * (scan_time_travel) — this source always leaves survivors.
    *
    * Source derivation is deterministic from `orders` (updates double
    * the price on key%10=3, deletes key%10=7, inserts shift key by 10⁸
    * on key%100=1 — all restricted to the URGENT/HIGH partitions), so
    * the oracle replays the merge relationally: FULL OUTER JOIN target
    * to source + CASE on the action. The readback is the per-partition
    * audit (n, exact cents, key checksum) over the WHOLE table —
    * touched partitions must show the merged state, untouched ones
    * their originals. */
  private[graft] def mergeCowSource(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val upd = base.where(col("o_orderkey") % 10 === 3)
      .select(col("o_orderkey"), lit("U").as("op"),
        (col("o_totalprice") * 2).as("o_totalprice"), col("o_orderpriority"))
    val del = base.where(col("o_orderkey") % 10 === 7)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("double").as("o_totalprice"), col("o_orderpriority"))
    val ins = base.where(col("o_orderkey") % 100 === 1)
      .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
        lit("I").as("op"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderpriority"))
    upd.unionByName(del).unionByName(ins)
  }

  private[graft] def mergeCowStageTarget(s: SparkSession, d: String,
                                         path: String): Unit =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.partitionBy("o_orderpriority")
      .mode(SaveMode.Overwrite).parquet(path)

  private[graft] def mergeCowApply(s: SparkSession, d: String,
                                   path: String): Unit =
    applyChangeBatch(s, mergeCowSource(s, d), path)

  /** One COW merge application of a change batch (o_orderkey, op ∈
    * U/D/I, o_totalprice, o_orderpriority) against a priority-partitioned
    * target — the unit both sink_merge_cow (one batch) and
    * sink_stream_upsert (one call per micro-batch, in source order)
    * share. U rewrites the row's price, D drops it, I appends; only the
    * batch's TOUCHED partitions are read or rewritten. */
  private[graft] def applyChangeBatch(s: SparkSession, src: DataFrame,
                                          path: String): Unit = {
    // the lakehouse driver's manifest read: |partitions|-bounded
    val touched = src.select(col("o_orderpriority")).distinct()
      .collect().map(_.getString(0)).sorted
    if (touched.isEmpty) return
    // partition-pruned target read — the predicate on the partition
    // column eliminates untouched directories at planning time
    val tgtTouched = Tables.read(s, path)
      .where(col("o_orderpriority").isin(touched.toIndexedSeq: _*))
    val keyed = src.where(col("op").isin("U", "D"))
      .select(col("o_orderkey"), col("op"),
        col("o_totalprice").as("new_price"))
    // delta ≪ target is the COW common case — broadcast by intent; a
    // genuinely large delta drops the hint and shuffles both sides on
    // the key like any equi-join
    val merged = tgtTouched
      .join(broadcast(keyed), Seq("o_orderkey"), "left")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op") === "U", col("new_price"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderpriority"))
      .unionByName(src.where(col("op") === "I")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
    // COW writes NEW files (O(touched partitions)); the commit swaps
    // them in via dynamic overwrite — reading the staged files back
    // rather than the live plan keeps the write independent of the
    // target path it replaces
    val stage = s"${path}_stage"
    merged.write.partitionBy("o_orderpriority")
      .mode(SaveMode.Overwrite).parquet(stage)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      Tables.read(s, stage).write.partitionBy("o_orderpriority")
        .mode(SaveMode.Overwrite).parquet(path)
    finally prev match {
      case Some(v) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Ingest-time-clustered events + manifest — the 100 TB time-series
    * layout (facts land ordered by event time; every file covers a
    * narrow ts band). Same sidecar discipline as stagedManifestDir:
    * per-file (ts_min, ts_max, n_rows). */
  private[graft] def stagedTsManifestDir(s: SparkSession, d: String): String =
    StageUtil.staged("manifest_ev", d) { dir =>
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(s"$dir/data")
      Tables.read(s, s"$dir/data")
        .groupBy(input_file_name().as("path"))
        .agg(min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/manifest")
    }

  /** DYNAMIC file pruning — scan_manifest_prune's literal range becomes
    * a RUNTIME-derived predicate, the "incident investigation" shape: a
    * small monitoring query finds the top-2 error hours (2-row driver
    * metadata, deterministic (count desc, hour asc) tie-break), and the
    * detail read then plans FROM THE MANIFEST exactly the files whose
    * [ts_min, ts_max] band overlaps those hours — on the ingest-
    * clustered layout that is 1-2 of 16 files; at 100 TB, a handful of
    * a million. This is the pruning class static planning cannot do
    * (the hot hours are data, not literals) and partition-level DPP
    * only approximates (join_dpp prunes directories; this prunes FILES
    * within the flat layout via external stats). The residual hour
    * filter stays on the scan — min/max overlap is necessary, not
    * sufficient. Layout never changes results: the oracle replays both
    * the monitoring query and the hour slice on the raw fixture.
    * ScansSpec asserts ≤ 4 of the 16 files survive pruning and that
    * the pruned read row-matches the full-scan replay. */
  def scanManifestDpp(s: SparkSession, d: String): DataFrame = {
    val dir = stagedTsManifestDir(s, d)
    val hot = Tables.events(s, d)
      .where(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hr").asc)
      .limit(2)
      .select(col("hr")).collect().map(_.getTimestamp(0))
    def hourEnd(h: java.sql.Timestamp) =
      new java.sql.Timestamp(h.getTime + 3600000L)
    val man = Tables.read(s, s"$dir/manifest")
    val overlap = hot.map(h =>
      col("ts_max") >= lit(h) && col("ts_min") < lit(hourEnd(h)))
      .reduce(_ || _)
    val files = man.where(overlap)
      .select(col("path")).collect().map(_.getString(0))
    val inHot = hot.map(h =>
      col("ts") >= lit(h) && col("ts") < lit(hourEnd(h))).reduce(_ || _)
    readPaths(s, files.toIndexedSeq)
      .where(inHot)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
  }

  /** PARTITION-SPEC EVOLUTION — the lakehouse property that a table's
    * physical partitioning can change mid-life without rewriting
    * history (Iceberg's headline feature; plain Hive layouts force a
    * full rewrite): epoch 1 (orders before 1998) lands partitioned by
    * `o_orderpriority` — the original spec — and epoch 2 (1998+) by
    * order month, the spec the access pattern actually wants. A spec
    * SIDECAR (epoch → path + partition column, the manifest-file role)
    * is what makes the union readable: the reader dispatches each
    * epoch's pruning from ITS OWN spec. */
  private[graft] def stagedEvolvedPartsDir(s: SparkSession, d: String): String =
    StageUtil.staged("evolve_parts", d) { dir =>
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      ord.where(col("o_orderdate") < lit("1998-01-01"))
        .write.partitionBy("o_orderpriority")
        .mode("overwrite").parquet(s"$dir/epoch1")
      ord.where(col("o_orderdate") >= lit("1998-01-01"))
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.partitionBy("o_month")
        .mode("overwrite").parquet(s"$dir/epoch2")
      import s.implicits._
      Seq(("epoch1", "o_orderpriority"), ("epoch2", "o_month"))
        .toDF("epoch", "part_col")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/spec")
    }

  /** Query across the evolved specs: a winter slice (1997-11 .. 1998-02,
    * straddling the spec change) of the URGENT/HIGH priorities. Each
    * epoch prunes ON ITS OWN partition column — epoch 1 eliminates 3/5
    * priority directories at planning time and applies the date range
    * as a data filter; epoch 2 eliminates all but 2 month directories
    * and applies the priority predicate as a data filter. At 100 TB
    * this is why spec evolution matters: the historical epoch keeps its
    * pruning while new data gets the better layout, and NOTHING is
    * rewritten. The spec sidecar drives the dispatch (2-row driver
    * metadata); layout never changes results — the oracle replays the
    * slice on the raw fixture. ScansSpec asserts each epoch's scan
    * carries a partitionFilter on ITS spec's column. */
  def scanPartitionEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = stagedEvolvedPartsDir(s, d)
    val spec = Tables.read(s, s"$dir/spec").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val prios = Seq("1-URGENT", "2-HIGH")
    def epochRead(epoch: String): DataFrame = {
      val df = Tables.read(s, s"$dir/$epoch")
      spec(epoch) match {
        case "o_orderpriority" =>
          df.where(col("o_orderpriority").isin(prios: _*))   // partition
            .where(col("o_orderdate") >= lit("1997-11-01") &&
              col("o_orderdate") < lit("1998-03-01"))        // data filter
        case "o_month" =>
          df.where(col("o_month").isin("1998-01", "1998-02")) // partition
            .where(col("o_orderpriority").isin(prios: _*))    // data filter
      }
    }
    epochRead("epoch1")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .unionByName(epochRead("epoch2")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
  }

  /** The two-batch CDC feed for sink_stream_upsert — deterministic from
    * `orders` like mergeCowSource, with CROSS-BATCH DEPENDENCIES that
    * make apply ORDER observable (the property a streaming upsert must
    * preserve and a batch merge never tests):
    *
    *  - batch 1: U ×2 price on key%10=3, D on key%10=7, I key+10⁸ on
    *    key%100=1 (price+1000);
    *  - batch 2: U ×3 price on key%20=3 — a SUBSET of batch 1's update
    *    keys, so those rows must end at ×3, not ×2 (swapped order would
    *    leave ×2); U price+1007 on the keys batch 1 INSERTED (visible
    *    only if batch 1 committed first); D on key%10=9; I key+2·10⁸ on
    *    key%100=41 (price+2000).
    *
    * All new prices are absolute functions of the ORIGINAL base price,
    * so the final state is closed-form and the DuckDB oracle replays it
    * without sequencing. Restricted to the URGENT/HIGH partitions —
    * the other three prove partition pruning end to end. */
  private[graft] def streamUpsertBatches(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val scope = Tables.orders(s, d)
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    def ev(df: DataFrame, op: String, key: org.apache.spark.sql.Column,
           price: org.apache.spark.sql.Column): DataFrame =
      df.select(key.as("o_orderkey"), lit(op).as("op"),
        price.as("o_totalprice"), col("o_orderpriority"))
    val b1 =
      ev(scope.where(col("o_orderkey") % 10 === 3), "U",
        col("o_orderkey"), col("o_totalprice") * 2)
      .unionByName(ev(scope.where(col("o_orderkey") % 10 === 7), "D",
        col("o_orderkey"), lit(null).cast("double")))
      .unionByName(ev(scope.where(col("o_orderkey") % 100 === 1), "I",
        col("o_orderkey") + 100000000L, col("o_totalprice") + 1000.0))
    val b2 =
      ev(scope.where(col("o_orderkey") % 20 === 3), "U",
        col("o_orderkey"), col("o_totalprice") * 3)
      .unionByName(ev(scope.where(col("o_orderkey") % 100 === 1), "U",
        col("o_orderkey") + 100000000L, col("o_totalprice") + 1007.0))
      .unionByName(ev(scope.where(col("o_orderkey") % 10 === 9), "D",
        col("o_orderkey"), lit(null).cast("double")))
      .unionByName(ev(scope.where(col("o_orderkey") % 100 === 41), "I",
        col("o_orderkey") + 200000000L, col("o_totalprice") + 2000.0))
    (b1, b2)
  }

  def sinkMergeCow(s: SparkSession, d: String): DataFrame = {
    val path = StageUtil.staged("merge_cow", d) { path =>
      mergeCowStageTarget(s, d, path)
      mergeCowApply(s, d, path)
    }
    Tables.read(s, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** MERGE-ON-READ (MOR) — the other half of the lakehouse upsert
    * trade, beside sink_merge_cow's copy-on-write: the SAME merge
    * (same deterministic source, same final state, same oracle), but
    * the write commits O(delta) bytes — an equality-DELETE sidecar
    * (the Iceberg v2 delete-file / Hudi MOR log analogue: deleted and
    * superseded keys) plus an upsert delta file — and the BASE FILES
    * ARE NEVER TOUCHED (ScansSpec proves every base partition
    * byte-identical, not just the untouched ones). The read side pays
    * instead: base ANTI-JOIN deletes, then UNION the delta — exactly
    * the reconstruction a MOR reader runs per query until compaction
    * folds the log back into base files (maintenance_compact is that
    * job's shape). COW optimizes reads and pays partition-rewrite
    * writes; MOR optimizes writes and pays a per-read join — shipping
    * both against one oracle pins that they are COST choices, not
    * semantic ones. The delete sidecar is key-level (equality deletes):
    * position deletes need stable row ordinals, which plain parquet
    * only has per-file — the manifest seam (scan_time_travel) is where
    * those would live. */
  private[graft] def mergeMorStageBase(s: SparkSession, d: String,
                                       path: String): Unit =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.partitionBy("o_orderpriority")
      .mode(SaveMode.Overwrite).parquet(s"$path/base")

  /** The MOR merge COMMIT: only the delete sidecar and the upsert delta
    * are written — O(delta) bytes, zero base-file I/O (the write-side
    * economics the spec measures). */
  private[graft] def mergeMorCommit(s: SparkSession, d: String,
                                    path: String): Unit = {
    val src = mergeCowSource(s, d)
    // the delete sidecar: keys whose BASE row must vanish on read —
    // deleted keys and updated keys (the update's new image lives in
    // the delta file; latest-wins is expressed as delete-old + append)
    src.where(col("op").isin("U", "D"))
      .select(col("o_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/deletes")
    // the upsert delta: update images + inserts — plain appends
    src.where(col("op").isin("U", "I"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/delta")
  }

  /** The MOR read path: base ⟕ anti-join the delete sidecar, union the
    * delta — the per-query reconstruction. */
  private[graft] def mergeMorRead(s: SparkSession, path: String): DataFrame =
    Tables.read(s, s"$path/base")
      .join(broadcast(Tables.read(s, s"$path/deletes")),
        Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .unionByName(Tables.read(s, s"$path/delta")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))

  def sinkMergeMor(s: SparkSession, d: String): DataFrame = {
    val path = StageUtil.staged("merge_mor", d) { path =>
      mergeMorStageBase(s, d, path)
      mergeMorCommit(s, d, path)
    }
    mergeMorRead(s, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** Versioned manifests: SNAPSHOT READS, TIME TRAVEL, and
    * CDC-between-versions — the property set that makes a 100 TB table
    * trustworthy under concurrent writers, extended from
    * scan_manifest_prune's stats sidecar (which stops at pruning).
    *
    * The storage contract is the Iceberg/Delta one: data files are
    * IMMUTABLE; a version is a MANIFEST (a small parquet listing member
    * file paths + per-file key stats); a write commits by publishing a
    * new manifest, never by mutating or deleting data files a live
    * snapshot references.
    *
    *  - v1: orders (key, price) range-clustered into 8 files + manifest
    *    m1 (one read-back stats pass, the stagedManifestDir pattern).
    *  - v2: a copy-on-write UPDATE localized to the key range
    *    [100, 400] — the manifest says which files overlap (driver
    *    metadata, |files|-bounded), ONLY those are read and rewritten
    *    as NEW files; m2 = (m1's non-overlapping entries) ∪ (new file
    *    stats). The replaced v1 files stay on disk: that is snapshot
    *    isolation — a reader holding m1 still resolves v1 exactly
    *    (ScansSpec proves v1's readout is unchanged after the v2
    *    commit; a vacuum would drop them only once v1 expires).
    *  - CDC between versions reads ONLY the differing files (m1∖m2 on
    *    the old side, m2∖m1 on the new side) and joins on the key —
    *    never the two full snapshots; unchanged files cannot contain
    *    changed rows BY CONSTRUCTION, which is what makes
    *    manifest-diff CDC exact.
    *
    * The registered readout is both snapshot summaries (n, exact
    * cents, key checksum — the v1 row read AFTER v2 exists is the
    * time-travel claim) plus the CDC row (changed-row count, cents
    * delta, changed-key checksum). The oracle replays all three from
    * `orders` alone: versioning changes file lifecycle, never results. */
  private[graft] def timeTravelDir(s: SparkSession, d: String): String =
    StageUtil.staged("time_travel", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      timeTravelWriteV2(s, dir)
    }

  /** Per-file (path, k_min, k_max, n_rows) stats — one distributed
    * read-back pass grouped on input_file_name, coalesced to the single
    * small sidecar file a manifest is. */
  private def manifestStats(s: SparkSession, dataGlob: String): DataFrame =
    Tables.read(s, dataGlob)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("o_orderkey")).as("k_min"),
        max(col("o_orderkey")).as("k_max"),
        count(lit(1)).as("n_rows"))

  private[graft] def timeTravelWriteV1(s: SparkSession, d: String,
                                       dir: String): Unit = {
    // once-per-JVM v1 TEMPLATE (r18, guide §6 — the graph/IVF
    // v1-template trick applied to the lakehouse stagings): eight-plus
    // staging sites re-ran this identical orders range-write + stats
    // pass per JVM. The write now runs once; instantiation is a flat
    // file copy of d1 plus a filename-keyed manifest rewrite — the
    // manifest stores absolute input_file_name URIs, so the copied
    // files re-root onto `dir` (file names are preserved by copyDir).
    // The prefix comes from Path.toUri, so it is percent-encoded exactly
    // as input_file_name() encodes it.
    val tpl = StageUtil.staged("ttv1", d) { base =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$base/d1")
      manifestStats(s, s"$base/d1").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$base/m1")
    }
    val d1 = java.nio.file.Paths.get(dir, "d1")
    StageUtil.copyDir(java.nio.file.Paths.get(tpl, "d1"), d1)
    Tables.read(s, s"$tpl/m1")
      .withColumn("path",
        concat(lit(d1.toUri.toString.stripSuffix("/") + "/"),
          element_at(split(col("path"), "/"), -1)))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/m1")
  }

  private[graft] def timeTravelWriteV2(s: SparkSession, dir: String): Unit = {
    val m1 = Tables.read(s, s"$dir/m1")
    val hit = col("k_max") >= 100 && col("k_min") <= 400
    // |files|-bounded driver metadata: the lakehouse planner's read
    val oldPaths = m1.where(hit).select(col("path"))
      .collect().map(_.getString(0))
    // COW: only overlapping files are read; updated content lands as
    // NEW files — d1's replaced files are never touched
    readPaths(s, oldPaths.toIndexedSeq)
      .withColumn("o_totalprice",
        when(col("o_orderkey").between(100, 400), col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/d2")
    m1.where(!hit)
      .unionByName(manifestStats(s, s"$dir/d2"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/m2")
  }

  /** A third commit on the same contract (COW ×3 on keys [500, 700],
    * m3 = m2's untouched entries ∪ new file stats) — gives the
    * streaming manifest-CDC consumer a REAL multi-step chain to tail
    * (two offset-tracked micro-batches, v1→v2 and v2→v3). */
  private[graft] def timeTravelWriteV3(s: SparkSession, dir: String): Unit = {
    val m2 = Tables.read(s, s"$dir/m2")
    val hit = col("k_max") >= 500 && col("k_min") <= 700
    val oldPaths = m2.where(hit).select(col("path"))
      .collect().map(_.getString(0))
    readPaths(s, oldPaths.toIndexedSeq)
      .withColumn("o_totalprice",
        when(col("o_orderkey").between(500, 700), col("o_totalprice") * 3)
          .otherwise(col("o_totalprice")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/d3")
    m2.where(!hit)
      .unionByName(manifestStats(s, s"$dir/d3"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/m3")
  }

  /** Staged v1→v2→v3 manifest chain for the streaming CDC source —
    * its own copy (the source must be free to see a longer history
    * than scan_time_travel's fixture pins). */
  private[graft] def manifestStreamDir(s: SparkSession, d: String): String =
    StageUtil.staged("manifest_stream", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      timeTravelWriteV2(s, dir)
      timeTravelWriteV3(s, dir)
      // the commit log sidecar (version → commit timestamp): what AS
      // OF <timestamp> resolves against. Fixed deterministic stamps —
      // a lakehouse stores the wall-clock of each commit; the fixture
      // pins them so the oracle can replay the resolution
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "commits"),
        Seq("1 2024-01-01T00:00:00Z", "2 2024-02-01T00:00:00Z",
          "3 2024-03-01T00:00:00Z").mkString("\n").getBytes("UTF-8"))
    }

  /** Staged v1→v2→v3→v4 chain whose data files CARRY ROW LINEAGE
    * (VERDICT r15 task 6): `row_id` is assigned at v1 ingest and
    * IMMUTABLE thereafter — the Iceberg row-lineage / Delta
    * row-tracking id that survives rewrites. v2 is an ordinary price
    * update (×2 on keys [100, 400], ids carried); v3 is a KEY
    * MIGRATION — o_orderkey moves (+5·10⁸ on keys [500, 700]) while
    * the row ids stay put — the commit class a key-joining CDC
    * consumer misreads as delete+insert and only a row-id-joining one
    * classifies as UPDATE; v4 is a REAL delete+insert (odd keys in
    * [800, 900] dropped, fresh rows with NEW ids appended) — the
    * commit class that must classify as D and I, never U. The
    * streaming CDC source reads this chain in lineage mode. */
  private[graft] def lineageStreamDir(s: SparkSession, d: String): String =
    StageUtil.staged("lineage_stream", d) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("row_id"), col("o_orderkey"),
          col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d1")
      manifestStats(s, s"$dir/d1").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/m1")
      // v2: COW price update — row ids carried through the rewrite
      val m1 = Tables.read(s, s"$dir/m1")
      val hit2 = col("k_max") >= 100 && col("k_min") <= 400
      val p2 = m1.where(hit2).select(col("path"))
        .collect().map(_.getString(0))
      readPaths(s, p2.toIndexedSeq)
        .withColumn("o_totalprice",
          when(col("o_orderkey").between(100, 400),
            col("o_totalprice") * 2).otherwise(col("o_totalprice")))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d2")
      m1.where(!hit2).unionByName(manifestStats(s, s"$dir/d2"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/m2")
      // v3: KEY MIGRATION — the key changes, the row id does not
      val m2 = Tables.read(s, s"$dir/m2")
      val hit3 = col("k_max") >= 500 && col("k_min") <= 700
      val p3 = m2.where(hit3).select(col("path"))
        .collect().map(_.getString(0))
      readPaths(s, p3.toIndexedSeq)
        .withColumn("o_orderkey",
          when(col("o_orderkey").between(500, 700),
            col("o_orderkey") + 500000000L).otherwise(col("o_orderkey")))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d3")
      m2.where(!hit3).unionByName(manifestStats(s, s"$dir/d3"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/m3")
      // v4: DELETE + INSERT through one COW rewrite (r16) — the
      // files overlapping keys [800, 900] drop their odd keys and
      // gain one NEW row per even key (fresh row ids and keys offset
      // +7·10⁸, price +500) — the commit classes a changelog consumer
      // must see as D and I, never as U
      val m3 = Tables.read(s, s"$dir/m3")
      val hit4 = col("k_max") >= 800 && col("k_min") <= 900
      val p4 = m3.where(hit4).select(col("path"))
        .collect().map(_.getString(0))
      val base4 = readPaths(s, p4.toIndexedSeq)
      base4.where(!(col("o_orderkey").between(800, 900) &&
          col("o_orderkey") % 2 === 1))
        .unionByName(base4
          .where(col("o_orderkey").between(800, 900) &&
            col("o_orderkey") % 2 === 0)
          .select((col("row_id") + 700000000L).as("row_id"),
            (col("o_orderkey") + 700000000L).as("o_orderkey"),
            (col("o_totalprice") + 500.0).as("o_totalprice")))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d4")
      m3.where(!hit4).unionByName(manifestStats(s, s"$dir/d4"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/m4")
    }

  /** TIME TRAVEL `AS OF <timestamp>` — the calendar face of
    * scan_time_travel's version reads (Iceberg/Delta's
    * `TIMESTAMP AS OF`): the commit-log sidecar maps each manifest
    * version to its commit wall-clock; an AS OF probe resolves to the
    * LARGEST version committed at-or-before the probe instant (a probe
    * before the first commit is an error in real engines — not staged
    * here), then reads through that manifest exactly like any snapshot
    * read. Three probes land mid-epoch between the staged commits, so
    * each resolves a DIFFERENT version — the readout is (asof,
    * version, summary) per probe, every number replayed relationally
    * by the oracle. At 100 TB the resolution is a |commits|-row driver
    * lookup; the read cost is the snapshot's, unchanged. */
  def scanTimeTravelAsof(s: SparkSession, d: String): DataFrame = {
    val dir = manifestStreamDir(s, d)
    val commits = wapLogRead(dir, "commits").map { line =>
      val Array(v, ts) = line.split(" ")
      (v.toLong, java.time.Instant.parse(ts))
    }.sortBy(_._1)
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    Seq("2024-01-15T00:00:00Z", "2024-02-15T00:00:00Z",
        "2024-03-15T00:00:00Z").map { probe =>
      val at = java.time.Instant.parse(probe)
      val v = commits.filter(!_._2.isAfter(at)).map(_._1).max
      readPaths(s, snapshotPaths(s, s"$dir/m$v"))
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .select(lit(probe).as("asof"), lit(v).as("version"),
          col("n_rows"), col("cents"), col("key_sum"))
    }.reduce(_ unionByName _)
  }

  private val manifests = new Tables.FileCache[Seq[String]]

  /** All rows a manifest resolves — the snapshot read. Cached under the
    * manifest dir's own content key: a published manifest is never
    * rewritten, and a stranded one the next publish overwrites has new
    * part files, so a key is never served stale. */
  private[graft] def snapshotPaths(s: SparkSession, mDir: String): Seq[String] =
    manifests(s, Seq(mDir)) {
      Tables.read(s, mDir).select(col("path"))
        .collect().map(_.getString(0)).toIndexedSeq.sorted
    }

  /** Read data files a manifest names. Manifest paths are
    * input_file_name() URIs, percent-encoded, and Spark's reader does
    * not decode them (a directory with a space in its name would not
    * resolve), so they are decoded here, at the read. Set comparisons
    * of manifest entries (OCC, vacuum, CDC diffs) keep the encoded
    * strings: decoding one side only would empty every intersection. */
  private[graft] def readPaths(s: SparkSession, paths: Seq[String]): DataFrame =
    Tables.read(s, paths.map(localPath): _*)

  /** A manifest path as a reader opens it: `file:` URIs decoded. */
  private[graft] def localPath(p: String): String =
    if (p.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p)).toString
    else p

  /** Stage one writer's COW rewrite against its base manifest: returns
    * the touched original paths (the writer's replace set). */
  private def occStage(s: SparkSession, dir: String, baseV: Long,
                       lo: Long, hi: Long, mult: Double,
                       dataDir: String): Seq[String] = {
    val m = Tables.read(s, s"$dir/m$baseV")
    val touched = m.where(col("k_max") >= lo && col("k_min") <= hi)
      .select(col("path")).collect().map(_.getString(0)).toSeq.sorted
    readPaths(s, touched)
      .withColumn("o_totalprice",
        when(col("o_orderkey").between(lo, hi), col("o_totalprice") * mult)
          .otherwise(col("o_totalprice")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$dataDir")
    touched
  }

  /** OCC publish of a manifest table: version v is manifest `m{v}`, and
    * the conflict rule compares manifests' file sets. */
  private def occPublish(s: SparkSession, dir: String, baseV: Long,
                         guarded: Seq[String],
                         check: (Long, Set[String]) => Unit = (_, _) => ())
                        (stage: Long => Unit): (Long, String) =
    TableLog.occPublish(dir, baseV, guarded.toSet,
      v => snapshotPaths(s, s"$dir/m$v").toSet, check) { v =>
      stage(v); s"m$v"
    }

  /** The COW writer's publish: `m{v}` = the head's manifest minus the
    * touched files plus the new data files, the head's pending delta
    * log (if any) carried through. With `readRange`, the serializable
    * flavor: a file an intervening commit ADDED whose key stats overlap
    * the declared read range aborts the commit too (write skew). Throws
    * on an unrebasable conflict — the caller must surface it; the head
    * is untouched (abort leaves no trace but orphan data files). */
  private[graft] def cowCommit(s: SparkSession, dir: String, baseV: Long,
                               touched: Seq[String], dataDir: String,
                               readRange: Option[(Long, Long)] = None)
      : (Long, String) = {
    def readCheck(head: Long, added: Set[String]): Unit =
      readRange.foreach { case (lo, hi) =>
        // |files|-row driver predicate over the head manifest's stats
        val overlap = Tables.read(s, s"$dir/m$head")
          .where(col("path").isin(added.toSeq: _*))
          .where(col("k_max") >= lo && col("k_min") <= hi)
          .count()
        if (overlap > 0) throw new IllegalStateException(
          s"serializable conflict: $overlap intervening file(s) " +
            s"overlap the declared read range [$lo, $hi] — " +
            "write skew; re-plan against the current head")
      }
    occPublish(s, dir, baseV, touched, readCheck) { v =>
      Tables.read(s, s"$dir/m${v - 1}").where(!col("path").isin(touched: _*))
        .unionByName(manifestStats(s, s"$dir/$dataDir")).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/m$v")
      val lines = wapLogRead(dir, s"log${v - 1}")
      if (lines.nonEmpty)
        TableLog.atomicWrite(java.nio.file.Paths.get(dir, s"log$v"),
          lines.mkString("\n"))
    }
  }

  /** OPTIMISTIC CONCURRENCY CONTROL — the two-writer commit protocol
    * (VERDICT r15 task 2): every pointer flip in this repo is atomic,
    * but atomicity alone only serializes the FLIP — it cannot stop a
    * writer whose PLAN went stale from publishing a manifest that
    * silently drops an intervening commit (the lost update). This op
    * models the missing half, the Iceberg/Delta commit loop:
    *
    *  - a writer captures the table's base version at PLAN time, reads
    *    that manifest, rewrites only its touched files (the COW
    *    discipline of scan_time_travel), and stages the new data files;
    *  - at PUBLISH, TableLog.occPublish validates against the head
    *    under its lock: disjoint from the files the intervening
    *    commits replaced → REBASE onto the CURRENT head (which still
    *    carries the writer's untouched originals); overlapping → ABORT
    *    with an error — the conflict surfaces, never silent data loss.
    *
    * The staged interleaving is the textbook one: writers A and B BOTH
    * plan against v1 (A rewrites the low key range [100, 400] ×2, B the
    * top-of-table range [max−300, max] ×3 — disjoint files under the
    * range clustering); A publishes first (fast path → v2), B second
    * (head moved, file sets disjoint → rebased onto m2 → v3, BOTH
    * deltas applied exactly once); then writer C plans against the
    * now-stale v1 and rewrites inside A's range — its touched files
    * were replaced by v2, so the protocol refuses and the head stays
    * put (C's staged files become orphans for maintenance_vacuum's
    * collector). The readout serves each writer's post-commit snapshot
    * summary through the retained manifests; the oracle replays all
    * three states from `orders` alone — concurrency changes commit
    * ORDER, never results. At 100 TB: plan-time work is one manifest
    * read, publish-time work is a |files|-bounded set diff under a
    * lock held for two driver metadata operations — no data I/O inside
    * the critical section, which is what lets thousand-writer fleets
    * share one table. */
  private[graft] def occDir(s: SparkSession, d: String): String =
    StageUtil.staged("merge_occ", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      TableLog.publish(dir, "m1")
      val maxKey = Tables.read(s, s"$dir/d1")
        .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      // BOTH writers plan against v1 before either publishes — the
      // interleaving OCC exists for
      val aBase = TableLog.version(dir)
      val aTouched = occStage(s, dir, aBase, 100L, 400L, 2.0, "d2")
      val bBase = TableLog.version(dir)
      val bTouched =
        occStage(s, dir, bBase, maxKey - 300L, maxKey, 3.0, "d3")
      val (av, aOut) = cowCommit(s, dir, aBase, aTouched, "d2")
      val (bv, bOut) = cowCommit(s, dir, bBase, bTouched, "d3")
      // C: stale plan whose touched files v2 replaced — must abort,
      // and the head must not move
      val cTouched = occStage(s, dir, 1L, 150L, 350L, 10.0, "d4")
      val (cv, cOut) =
        try cowCommit(s, dir, 1L, cTouched, "d4")
        catch { case _: IllegalStateException => (TableLog.version(dir), "aborted") }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "outcomes"),
        Seq(s"A $aOut $av", s"B $bOut $bv", s"C $cOut $cv")
          .mkString("\n").getBytes("UTF-8"))
    }

  def sinkMergeOcc(s: SparkSession, d: String): DataFrame = {
    val dir = occDir(s, d)
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    wapLogRead(dir, "outcomes").map { line =>
      val Array(w, o, v) = line.split(" ")
      readPaths(s, snapshotPaths(s, s"$dir/m$v"))
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .select(lit(w).as("writer"), lit(o).as("outcome"),
          lit(v.toLong).as("version"), col("n_rows"), col("cents"),
          col("key_sum"))
    }.reduce(_ unionByName _)
  }

  /** WRITER-vs-COMPACTOR OPTIMISTIC CONCURRENCY (VERDICT r16 task 2):
    * sink_merge_occ proves writer-vs-writer OCC; this op races the
    * MAINTENANCE job against live writers — the RewriteFiles-vs-
    * RowDelta conflict class (Iceberg's names) a real 100 TB table
    * hits daily, because compaction is always running somewhere.
    *
    * Table state at version v = a base-file manifest `m{v}` (the
    * scan_time_travel contract) PLUS a delta log `log{v}` — ordered
    * `seq dir` lines naming post-image parquet dirs (o_orderkey,
    * o_totalprice). A read at v is merge-on-read: base overlaid with
    * the log's latest post-image per key. Three commit kinds:
    *
    *  - ROW DELTA (writer appends a log entry): base untouched, so it
    *    is valid against ANY head — publish rebases by carrying the
    *    current head's base manifest and appending to its log.
    *  - COW REWRITE (writer rewrites base files): sink_merge_occ's
    *    cowCommit, which carries the log through unchanged.
    *  - COMPACTION (the maintenance fold): captures base m{v} + the
    *    log entries at plan time, folds those entries into new base
    *    files, and at publish must detect intervening commits — if
    *    they replaced any base file the compactor also read, ABORT
    *    (the fold is stale); otherwise REBASE: the new manifest is the
    *    head's base minus the compactor's inputs plus the folded
    *    files, and the new log is the HEAD's log minus exactly the
    *    folded seqs — an entry leaves the log precisely once, when its
    *    content enters the base (no duplicated log re-application),
    *    and entries committed while the fold ran stay pending (no lost
    *    update).
    *
    * Both interleavings are staged: (A) writer-first — a row delta
    * lands mid-fold, the compactor rebases and the readout proves the
    * compacted version is LOGICALLY IDENTICAL to the pre-compaction
    * one (v2 ≡ v3 ≡ v4 summaries below); (B) compactor-first — a COW
    * writer planned against the pre-fold base finds every file it
    * touched replaced by the fold, aborts with the head untouched,
    * re-plans against the compacted head, and succeeds. At 100 TB the
    * critical section is the sink_merge_occ one: a |files|-row set
    * diff plus a |log|-line filter under the lock, no data I/O. */
  private def compactOccLogEntries(dir: String, v: Long): Seq[(Long, String)] =
    wapLogRead(dir, s"log$v").map { line =>
      val Array(seq, e) = line.split(" ")
      (seq.toLong, e)
    }

  /** Merge-on-read at version v: base overlaid with the log's latest
    * post-image per key (seq order — last writer wins). */
  private[graft] def compactOccRead(s: SparkSession, dir: String,
                                    v: Long): DataFrame = {
    val base = readPaths(s, snapshotPaths(s, s"$dir/m$v"))
      .select(col("o_orderkey"), col("o_totalprice"))
    val entries = compactOccLogEntries(dir, v)
    if (entries.isEmpty) base
    else {
      val posts = entries.map { case (seq, e) =>
        Tables.read(s, s"$dir/$e")
          .select(col("o_orderkey"), col("o_totalprice"),
            lit(seq).as("seq"))
      }.reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
      val latest = posts.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("o_orderkey"), col("o_totalprice").as("p_post"))
      base.join(latest, Seq("o_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("p_post"), col("o_totalprice")).as("o_totalprice"))
    }
  }

  /** Stage a post-image log entry: keys matching `o_orderkey % 10 ==
    * rem` at snapshot v, price × mult. */
  private def compactOccStageDelta(s: SparkSession, dir: String, v: Long,
                                   rem: Int, mult: Double,
                                   entry: String): Unit = {
    compactOccRead(s, dir, v)
      .where(col("o_orderkey") % 10 === rem)
      .withColumn("o_totalprice", col("o_totalprice") * mult)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$entry")
    ()
  }

  /** The compactor's plan+fold: capture base paths and log seqs at v,
    * materialize the MOR view into fresh range-clustered base files. */
  private def compactOccFold(s: SparkSession, dir: String, v: Long,
                             cbDir: String): (Set[Long], Seq[String]) = {
    val inputs = snapshotPaths(s, s"$dir/m$v")
    val seqs = compactOccLogEntries(dir, v).map(_._1).toSet
    compactOccRead(s, dir, v)
      .repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$cbDir")
    (seqs, inputs)
  }

  private[graft] def compactOccDir(s: SparkSession, d: String): String =
    StageUtil.staged("compact_occ", d) { dir =>
      // the delta log of version v rides beside its manifest: `log{v}`
      def writeLog(v: Long, lines: Seq[String]): Unit =
        if (lines.nonEmpty) TableLog.atomicWrite(
          java.nio.file.Paths.get(dir, s"log$v"), lines.mkString("\n"))
      // COMPACTION publish: REBASE onto the head when no intervening
      // commit replaced a folded base file (new manifest = head's base ∖
      // inputs ∪ folded files; new log = head's log ∖ folded seqs);
      // ABORT otherwise — the fold read files that no longer exist
      def publishFold(baseV: Long, folded: Set[Long], inputs: Seq[String],
                      cbDir: String): (Long, String) =
        occPublish(s, dir, baseV, inputs) { v =>
          Tables.read(s, s"$dir/m${v - 1}")
            .where(!col("path").isin(inputs: _*))
            .unionByName(manifestStats(s, s"$dir/$cbDir")).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/m$v")
          writeLog(v, wapLogRead(dir, s"log${v - 1}")
            .filterNot(l => folded.contains(l.split(" ")(0).toLong)))
        }
      timeTravelWriteV1(s, d, dir)
      TableLog.publish(dir, "m1")
      // v1 ships with one pending log entry so the fold has real work
      compactOccStageDelta(s, dir, 1L, 3, 2.0, "e1")
      writeLog(1L, Seq("1 e1"))
      // ── interleaving A: writer lands mid-fold, compactor rebases ──
      val (foldSeqs, foldIn) = compactOccFold(s, dir, 1L, "cb2")
      compactOccStageDelta(s, dir, 1L, 7, 3.0, "e2")
      // writer first: a ROW DELTA appends a post-image log entry; key-
      // addressed, so it is valid against any base and never conflicts
      val v2 = TableLog.commit(dir) { v =>
        Tables.read(s, s"$dir/m${v - 1}").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/m$v")
        writeLog(v, wapLogRead(dir, s"log${v - 1}") :+ "2 e2")
        s"m$v"
      }
      val (v3, c1Out) = publishFold(1L, foldSeqs, foldIn, "cb2")
      // ── interleaving B: compactor first, stale COW writer aborts ──
      val w2Base = TableLog.version(dir) // = v3
      val w2Touched = {
        val m = Tables.read(s, s"$dir/m$w2Base")
        m.where(col("k_max") >= 100 && col("k_min") <= 400)
          .select(col("path")).collect().map(_.getString(0)).toSeq.sorted
      }
      val (foldSeqs2, foldIn2) = compactOccFold(s, dir, w2Base, "cb4")
      occStage(s, dir, w2Base, 100L, 400L, 2.0, "d5")
      val (v4, c2Out) = publishFold(w2Base, foldSeqs2, foldIn2, "cb4")
      val w2First =
        try { cowCommit(s, dir, w2Base, w2Touched, "d5"); "lost" }
        catch { case _: IllegalStateException => "aborted" }
      // the abort surfaces; the writer re-plans against the fold
      val retryBase = TableLog.version(dir) // = v4
      val retryTouched =
        occStage(s, dir, retryBase, 100L, 400L, 2.0, "d6")
      val (v5, w2Out) = cowCommit(s, dir, retryBase, retryTouched, "d6")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "outcomes"),
        Seq(s"v2_writer_first committed $v2",
          s"v3_compact_rebased $c1Out $v3",
          s"v4_compact_committed $c2Out $v4",
          s"w2_stale $w2First ${TableLog.version(dir) min v4}",
          s"v5_writer_retry $w2Out $v5")
          .mkString("\n").getBytes("UTF-8"))
    }

  /** B's read: rows in [100, 400] above 100 000.00, counted through
    * the manifest-pruned snapshot at `v` — the value its write edits
    * depend on. */
  private def serOccReadCount(s: SparkSession, dir: String,
                              v: Long): Long = {
    val m = Tables.read(s, s"$dir/m$v")
    val paths = m.where(col("k_max") >= 100 && col("k_min") <= 400)
      .select(col("path")).collect().map(_.getString(0)).toSeq
    if (paths.isEmpty) 0L
    else readPaths(s, paths)
      .where(col("o_orderkey").between(100, 400) &&
        expr("CAST(round(o_totalprice * 100) AS BIGINT)") > 10000000L)
      .count()
  }

  /** Stage B's value-dependent rewrite: top-of-table range ×3 plus
    * (cnt mod 97) cents, where cnt came from the declared read. */
  private def serOccStageB(s: SparkSession, dir: String, baseV: Long,
                           lo: Long, hi: Long, cnt: Long,
                           dataDir: String): Seq[String] = {
    val m = Tables.read(s, s"$dir/m$baseV")
    val touched = m.where(col("k_max") >= lo && col("k_min") <= hi)
      .select(col("path")).collect().map(_.getString(0)).toSeq.sorted
    readPaths(s, touched)
      .withColumn("o_totalprice",
        when(col("o_orderkey").between(lo, hi),
          col("o_totalprice") * 3 + lit((cnt % 97) / 100.0))
          .otherwise(col("o_totalprice")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/$dataDir")
    touched
  }

  /** READ-SET VALIDATION — serializable-flavor OCC (VERDICT r16 task
    * 3): cowCommit validates only the WRITE set (snapshot isolation),
    * so WRITE SKEW is representable — two writers each read the
    * other's key range, write disjoint files, and both publish; the
    * final state matches NO serial order because the second writer's
    * values derive from a read the first writer's commit invalidated.
    * This op stages exactly that anomaly twice from one shared v1
    * (same base files, two manifest chains) and publishes under both
    * isolation levels:
    *
    *  - writer A rewrites [100, 400] ×2 (commits first, fast path);
    *  - writer B DECLARES its read predicate — the key range
    *    [100, 400] it scanned to compute `cnt` (how many rows there
    *    exceed 100 000.00) — and writes the DISJOINT top-of-table
    *    range as p×3 + (cnt mod 97) cents: the written value depends
    *    on the read.
    *
    * Snapshot-isolation branch: B's write set is disjoint from A's
    * replaced files, so B rebases and commits — carrying a `cnt`
    * computed against the pre-A snapshot (the anomaly, visible in the
    * data). Serializable branch: at publish B additionally checks the
    * files ADDED by intervening commits against its declared read
    * range via their manifest key stats — A's new files cover
    * [100, 400], the ranges overlap, and B ABORTS even though the
    * write sets are disjoint (the write-skew guard). B then re-plans
    * against A's head, recomputes `cnt` from the post-A snapshot, and
    * commits the serial A→B result. At 100 TB the added cost over
    * snapshot isolation is one |files|-row predicate over the head
    * manifest's (k_min, k_max) — the same stats the scan planner
    * already maintains; declared read predicates are how Serializable
    * Snapshot Isolation ships in real lakehouse engines. */
  private[graft] def serOccDir(s: SparkSession, d: String): String =
    StageUtil.staged("ser_occ", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      val maxKey = Tables.read(s, s"$dir/d1")
        .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val (bLo, bHi) = (maxKey - 300L, maxKey)
      // one base staging, two manifest chains: the anomaly needs the
      // same v1 under both isolation levels
      Seq("si", "ser").foreach { br =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(dir, br))
        Tables.read(s, s"$dir/m1").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$br/m1")
        TableLog.publish(s"$dir/$br", "m1")
      }
      def runBranch(br: String, serializable: Boolean): Seq[String] = {
        val bd = s"$dir/$br"
        def range(lo: Long, hi: Long) = Option.when(serializable)((lo, hi))
        // BOTH writers plan against v1 — B's cnt reads pre-A prices
        val aTouched = occStage(s, bd, 1L, 100L, 400L, 2.0, "d2")
        val cnt1 = serOccReadCount(s, bd, 1L)
        val bTouched = serOccStageB(s, bd, 1L, bLo, bHi, cnt1, "d3")
        val (av, _) = cowCommit(s, bd, 1L, aTouched, "d2", range(bLo, bHi))
        try {
          val (bv, bOut) =
            cowCommit(s, bd, 1L, bTouched, "d3", range(100L, 400L))
          Seq(s"$br A committed $av", s"$br B $bOut $bv")
        } catch {
          case _: IllegalStateException =>
            // serializable abort: re-plan against the head, re-read,
            // restage with the post-A count, publish the serial result
            val head = TableLog.version(bd)
            val cnt2 = serOccReadCount(s, bd, head)
            val retry = serOccStageB(s, bd, head, bLo, bHi, cnt2, "d4")
            val (bv, _) =
              cowCommit(s, bd, head, retry, "d4", range(100L, 400L))
            Seq(s"$br A committed $av", s"$br B aborted_retry $bv")
        }
      }
      val lines = runBranch("si", serializable = false) ++
        runBranch("ser", serializable = true)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "outcomes"),
        lines.mkString("\n").getBytes("UTF-8"))
    }

  def sinkMergeOccSerializable(s: SparkSession, d: String): DataFrame = {
    val dir = serOccDir(s, d)
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    wapLogRead(dir, "outcomes").map { line =>
      val Array(br, w, o, v) = line.split(" ")
      readPaths(s, snapshotPaths(s, s"$dir/$br/m$v"))
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .select(lit(br).as("mode"), lit(w).as("writer"),
          lit(o).as("outcome"), lit(v.toLong).as("version"),
          col("n_rows"), col("cents"), col("key_sum"))
    }.reduce(_ unionByName _)
  }

  def maintenanceCompactOcc(s: SparkSession, d: String): DataFrame = {
    val dir = compactOccDir(s, d)
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    wapLogRead(dir, "outcomes").map { line =>
      val Array(label, o, v) = line.split(" ")
      compactOccRead(s, dir, v.toLong)
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .select(lit(label).as("label"), lit(o).as("outcome"),
          lit(v.toLong).as("version"), col("n_rows"), col("cents"),
          col("key_sum"))
    }.reduce(_ unionByName _)
  }

  /** Snapshot EXPIRY + file GC — the maintenance job that closes the
    * versioned-manifest lifecycle (Iceberg `expireSnapshots` + orphan
    * cleanup / Delta VACUUM): scan_time_travel's isolation guarantee
    * holds BECAUSE replaced files persist, and this op is the only
    * sanctioned way they ever stop persisting — delete exactly the
    * files referenced by EXPIRED manifests and no live one
    * (m1 ∖ m2 here), then drop the expired manifest itself. Order
    * matters and is pinned: retention decided from MANIFEST diffs
    * (never directory listings — a listing race with an in-flight
    * writer is how vacuums eat live data), files first, manifest last
    * (an interrupted vacuum must leave m1 present and some files gone
    * — a retryable state — never a manifest pointing at deleted
    * files... which m1 briefly is mid-vacuum, which is exactly why
    * expiry REMOVES m1: a reader must never plan from an expiring
    * manifest). Runs on its OWN staged copy of the v1→v2 history — a
    * vacuum that shared scan_time_travel's fixture would destroy the
    * very snapshot that op proves stable. Readout: the v2 summary
    * (must be untouched by GC) + the two lifecycle booleans the spec
    * also asserts (expired files gone, every live file intact). */
  def maintenanceVacuum(s: SparkSession, d: String): DataFrame = {
    val dir = StageUtil.staged("vacuum", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      timeTravelWriteV2(s, dir)
      vacuumExpire(s, dir)
    }
    val p2 = snapshotPaths(s, s"$dir/m2")
    val expiredGone = vacuumExpiredPaths(s, dir)
      .forall(p => !new java.io.File(new java.net.URI(p)).exists())
    val liveIntact =
      p2.forall(p => new java.io.File(new java.net.URI(p)).exists())
    readPaths(s, p2)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
      .select(col("n_rows"), col("cents"), col("key_sum"),
        lit(expiredGone).as("expired_gone"), lit(liveIntact).as("live_intact"))
  }

  /** The expired-file set (v1-only paths), recorded as a sidecar AT
    * EXPIRY TIME so post-vacuum readers (the readout above, the spec)
    * can audit what was deleted after m1 itself is gone. */
  private[graft] def vacuumExpiredPaths(s: SparkSession,
                                        dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, "_EXPIRED")
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    }
  }

  private[graft] def vacuumExpire(s: SparkSession, dir: String): Unit = {
    // retry-safe: a prior vacuum already dropped the expired manifest —
    // nothing left to expire
    if (!new java.io.File(s"$dir/m1").exists()) return
    val p1 = snapshotPaths(s, s"$dir/m1")
    val p2 = snapshotPaths(s, s"$dir/m2").toSet
    val expired = p1.filterNot(p2)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_EXPIRED"),
      expired.mkString("\n").getBytes("UTF-8"))
    // files first, manifest last (retryable mid-states only)
    expired.foreach { p =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(new java.net.URI(p))); ()
    }
    wipeDir(s"$dir/m1")
  }

  /** UNPUBLISHED-BRANCH GC — the orphan sweep that completes sink_wap's
    * lifecycle (VERDICT r13 task 4a): a failed audit leaves its branch
    * manifest + branch-only files on disk, invisible but costing
    * storage; maintenance_vacuum only expires PUBLISHED history
    * (manifest m1∖m2 diffs), so the orphaned branch needed its own
    * sanctioned deletion path. Same discipline, branch flavor:
    *  - candidates come from the BRANCH REGISTRY sidecar (the refs
    *    catalog a lakehouse keeps — Iceberg's refs metadata), never a
    *    data-directory listing (a listing race with an in-flight writer
    *    is how vacuums eat live data);
    *  - a branch is orphaned iff registered and NOT in the published
    *    log (HEAD history);
    *  - its deletable set is paths(branch) ∖ ∪paths(published) — files
    *    a published snapshot shares with the branch are LIVE and stay;
    *  - files first, branch manifest last, registry entry last of all
    *    (every interruption point is retryable; no reader can plan
    *    from a half-swept branch because nothing published references
    *    it in the first place).
    * Runs on its OWN staged copy of the WAP story (v1 → published v2 →
    * failed m3). Readout: the HEAD summary (published history must be
    * byte-stable through the sweep) + the lifecycle booleans the spec
    * re-derives from disk. */
  def maintenanceVacuumOrphans(s: SparkSession, d: String): DataFrame = {
    val dir = StageUtil.staged("vacuum_wap", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      TableLog.publish(dir, "m1")
      wapLogAppend(dir, "refs", "m2")
      timeTravelWriteV2(s, dir)
      if (wapAudit(s, dir, "m2")) {
        TableLog.publish(dir, "m2")
      }
      wapLogAppend(dir, "refs", "m3")
      wapWriteBadBranch(s, dir)
      if (wapAudit(s, dir, "m3")) {
        TableLog.publish(dir, "m3")
      }
      wapOrphanSweep(s, dir)
    }
    val head = TableLog.head(dir)
    val orphansGone = wapSweptPaths(dir)
      .forall(p => !new java.io.File(new java.net.URI(p)).exists())
    val live = snapshotPaths(s, s"$dir/$head")
    val liveIntact =
      live.forall(p => new java.io.File(new java.net.URI(p)).exists())
    val branchGone = !new java.io.File(s"$dir/m3").exists()
    readPaths(s, live)
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
      .select(col("n_rows"), col("cents"), col("key_sum"),
        lit(orphansGone).as("orphans_gone"),
        lit(liveIntact).as("live_intact"),
        lit(branchGone).as("branch_manifest_gone"))
  }

  private[graft] def wapLogAppend(dir: String, log: String,
                                  entry: String): Unit = {
    val p = java.nio.file.Paths.get(dir, log)
    java.nio.file.Files.write(p, (entry + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    ()
  }

  private[graft] def wapLogRead(dir: String, log: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir, log)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    }
  }

  /** Deleted-orphan sidecar (recorded at sweep time, like _EXPIRED). */
  private[graft] def wapSweptPaths(dir: String): Seq[String] =
    wapLogRead(dir, "_ORPHANS_SWEPT")

  private[graft] def wapOrphanSweep(s: SparkSession, dir: String): Unit = {
    val published = TableLog.versions(dir).map(_._2).toSet
    val orphanBranches = wapLogRead(dir, "refs").filterNot(published)
      .filter(b => new java.io.File(s"$dir/$b").exists())
    if (orphanBranches.isEmpty) return
    val livePaths = published.toSeq.sorted
      .flatMap(m => snapshotPaths(s, s"$dir/$m")).toSet
    val orphanFiles = orphanBranches
      .flatMap(b => snapshotPaths(s, s"$dir/$b"))
      .filterNot(livePaths).distinct.sorted
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_ORPHANS_SWEPT"),
      orphanFiles.mkString("\n").getBytes("UTF-8"))
    // files first, branch manifest second, registry entry last —
    // retryable at every interruption point
    orphanFiles.foreach { p =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(new java.net.URI(p))); ()
    }
    orphanBranches.foreach(b => wipeDir(s"$dir/$b"))
    val keptRefs = wapLogRead(dir, "refs").filter(published)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "refs"),
      keptRefs.map(_ + "\n").mkString.getBytes("UTF-8"))
    ()
  }

  def scanTimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = timeTravelDir(s, d)
    val p1 = snapshotPaths(s, s"$dir/m1")
    val p2 = snapshotPaths(s, s"$dir/m2")
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    def summary(tag: String, paths: Seq[String]): DataFrame =
      readPaths(s, paths)
        .agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .select(lit(tag).as("snapshot"), col("n_rows"), col("cents"),
          col("key_sum"))
    // manifest-diff CDC: changed rows live ONLY in files the two
    // manifests disagree on — the diff read is O(changed files)
    val oldSide = readPaths(s, (p1.toSet -- p2.toSet).toSeq.sorted)
      .select(col("o_orderkey"), cents.as("c1"))
    val newSide = readPaths(s, (p2.toSet -- p1.toSet).toSeq.sorted)
      .select(col("o_orderkey"), cents.as("c2"))
    val cdc = oldSide.join(newSide, "o_orderkey")
      .where(col("c1") =!= col("c2"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c2") - col("c1")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
      .select(lit("cdc").as("snapshot"), col("n_rows"), col("cents"),
        col("key_sum"))
    summary("v1", p1).unionByName(summary("v2", p2)).unionByName(cdc)
  }

  /** CSV with EMBEDDED NEWLINES in quoted fields — the multiLine read
    * surface and its documented scale trade: `multiLine=true` makes a
    * CSV file NON-SPLITTABLE (a record boundary can no longer be found
    * by seeking to a newline, so one task parses the whole file —
    * ingestion parallelism drops from block-level to file-level), which
    * is why production pipelines either keep records newline-free or
    * land parquet. Staged once per (JVM, data dir): a `part` projection
    * whose addr field embeds a real '\n' (Spark's CSV writer quotes
    * it), read back through the multiLine parser; the oracle replays
    * the concatenation from `part` itself, so the check spans write →
    * quoted-field parse → decode. ScansSpec additionally shows the
    * DEFAULT (splittable) reader misparses this file — the reason the
    * option exists. */
  /** Staged embedded-newline CSV dir (package-private: the spec also
    * reads it through the DEFAULT line-split parser to demonstrate the
    * misparse multiLine exists to fix). */
  private[graft] def stagedMultilineDir(s: SparkSession, d: String): String =
    StageUtil.staged("part_csv_multiline", d) { path =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          concat(col("p_name"), lit("\n"), col("p_brand")).as("addr"),
          col("p_size"))
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    }

  def scanCsvMultiline(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("addr", StringType),
      StructField("p_size", IntegerType)))
    s.read.option("header", "true").option("multiLine", "true")
      .schema(schema).csv(stagedMultilineDir(s, d))
  }

  /** ORC roundtrip on `supplier` — the second first-class columnar
    * format. Unlike the CSV roundtrip, binary floating point survives
    * exactly, so a double column is included deliberately. At scale ORC
    * gets the same vectorized reader + predicate pushdown treatment as
    * parquet. */
  def scanOrc(s: SparkSession, d: String): DataFrame = {
    val path = s"${StageUtil.root}/supplier_orc"
    Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .write.mode(SaveMode.Overwrite).orc(path)
    s.read.orc(path)
  }

  /** Small-file compaction — the 100 TB maintenance operator: streaming
    * ingestion leaves thousands of tiny files per partition; listing and
    * opening them dominates scan time, so a periodic compaction rewrites
    * them at target file size. Staged once per (JVM, sfDir) as 64 tiny
    * files; the operator coalesces (no shuffle — file-granularity bin
    * packing) to 4 and re-reads. The gate checks data preservation
    * (counts/bounds/sums vs the source table); the file-count drop is
    * asserted in ScansSpec. */
  private[graft] def compactDirs(s: SparkSession, d: String): (String, String) =
    (StageUtil.staged("compact_src", d) { src =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"))
        .repartition(64).write.mode(SaveMode.Overwrite).parquet(src)
    }, s"${StageUtil.root}/${StageUtil.key("compact_out", d)}")

  def maintenanceCompact(s: SparkSession, d: String): DataFrame = {
    val (src, out) = compactDirs(s, d)
    Tables.read(s, src).coalesce(4)
      .write.mode(SaveMode.Overwrite).parquet(out)
    Tables.read(s, out).agg(
      count(lit(1)).as("n_rows"),
      min(col("event_id")).as("min_id"),
      max(col("event_id")).as("max_id"),
      round(sum(col("value")), 4).as("sum_value"))
  }

  /** Schema evolution on read: two parquet batches with different
    * schemas (a column added between ingestion generations) unified by
    * mergeSchema — old rows surface the new column as NULL. Staged once
    * per (JVM, sfDir). */
  def scanEvolving(s: SparkSession, d: String): DataFrame = {
    val p = StageUtil.staged("evolving", d) { path =>
      val n = Tables.nation(s, d)
      n.select(lit(1).as("batch"), col("n_nationkey"), col("n_name"))
        .write.mode(SaveMode.Overwrite).parquet(path)
      n.select(lit(2).as("batch"), col("n_nationkey"), col("n_name"),
          col("n_regionkey"))
        .write.mode(SaveMode.Append).parquet(path)
    }
    // not Tables.read: the merged schema is what this read tests
    s.read.option("mergeSchema", "true").parquet(p)
      .select(col("batch"), col("n_nationkey"), col("n_name"),
        col("n_regionkey"))
      .orderBy(col("batch"), col("n_nationkey"))
  }

  /** Hive-style partitioned dataset, staged once per (JVM, sfDir). At
    * 100 TB, partitioning on a low-cardinality pruning column is the
    * first line of defense: a predicate on it never touches excluded
    * directories. */
  private[graft] def partitionedOrders(s: SparkSession, d: String): String =
    StageUtil.staged("orders_part", d) { path =>
      Tables.orders(s, d).write.mode(SaveMode.Overwrite)
        .partitionBy("o_orderpriority").parquet(path)
    }

  /** Hidden `_metadata` file-metadata columns (the lineage surface a
    * lakehouse audit leans on — "which file did this row come from"
    * without a separate manifest): reads the partitioned staging and
    * proves the path→value contract per partition — the
    * `o_orderpriority=…` segment regex-extracted from
    * `_metadata.file_path` must equal the column Spark restored from
    * the directory, for EVERY row (an `every()` fold beside exact row
    * counts). File NAMES are write-parallelism-dependent, so only
    * path-derived, deterministic facts are emitted.
    *
    * At-scale: `_metadata` is populated from the file index the scan
    * already holds — zero extra I/O; the audit is one map-side-combined
    * aggregate per partition value. */
  def scanMetadataCols(s: SparkSession, d: String): DataFrame =
    Tables.read(s, partitionedOrders(s, d))
      .select(col("o_orderpriority"),
        regexp_extract(col("_metadata.file_path"),
          "o_orderpriority=([^/]+)/", 1).as("from_path"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        // partition dirs percent-encode specials ('4-NOT%20SPECIFIED').
        // Decode the %XX escapes the fixture values can produce ONLY —
        // url_decode is FORM-encoding and would also turn '+' into ' ',
        // which Spark's partition-path escaper leaves literal, so a
        // value containing '+' would flip this audit false (ADVICE r10)
        expr("every(replace(from_path, '%20', ' ') = o_orderpriority)")
          .as("path_matches"))

  /** Static partition pruning: the literal predicate on the partition
    * column must eliminate directories at planning time (PartitionFilters
    * in the scan — asserted in ScansSpec), so only ~2/5 of the data is
    * read. */
  def scanPartitioned(s: SparkSession, d: String): DataFrame =
    Tables.read(s, partitionedOrders(s, d))
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 4).as("sum_price"))

  /** Z-order clustering audit: interleave the bits of (customer key,
    * order day) into one Morton value, bucket on its high bits, and emit
    * per-bucket min/max of BOTH dimensions. Tight per-bucket ranges in
    * both dims at once are exactly what multi-column data skipping buys:
    * a point/range predicate on EITHER column eliminates most buckets by
    * their min/max alone — the thing a single-column sort can only give
    * one dimension. The production write is
    * `repartitionByRange($"zval").sortWithinPartitions($"zval")` +
    * parquet (file-level min/max then mirror these bucket stats); range
    * boundaries are sampling-dependent, so the GATE checks the
    * partition-independent bucket math, and ScansSpec asserts the
    * locality claim (avg per-bucket span ≪ global span, both dims). */
  def maintenanceZorder(s: SparkSession, d: String): DataFrame = {
    val interleave =
      """aggregate(sequence(0, 15), 0L, (acc, b) -> acc
        |  + shiftleft((x >> b) & 1, 2 * b)
        |  + shiftleft((y >> b) & 1, 2 * b + 1))""".stripMargin
    Tables.orders(s, d)
      .withColumn("x", col("o_custkey").bitwiseAND(lit(65535L)))
      .withColumn("y",
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long")
          .bitwiseAND(lit(65535L)))
      .withColumn("zval", expr(interleave))
      .withColumn("bucket", shiftright(col("zval"), 10))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
        min(col("y")).as("day_min"), max(col("y")).as("day_max"))
  }

  /** Read through the custom DataSource V2 connector
    * (graft.sources.SeqSource): id-range filters push into the source
    * (the generated span narrows, Spark's own Filter node disappears)
    * and column pruning drops `id` from the produced rows once the
    * pushed filter fully subsumes it — the plan the spec asserts. The
    * aggregate is the consumer proving the rows are real. */
  def scanCustomSource(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-seq")
      .option("rows", "100000").option("parts", "8").load()
      .where(col("id") >= 1000 && col("id") < 50000)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))

  /** DSv2 AGGREGATE PUSHDOWN (VERDICT r14 task 3) — the modern
    * warehouse-connector seam the filter/column pushdowns stop short
    * of: the same generated table queried with aggregates the
    * connector answers from its CLOSED FORM
    * (SupportsPushDownAggregates, COMPLETE pushdown — count/min/max/
    * sum over the filter-narrowed id range, grouped by the generated
    * tag key). The executed plan carries NO Aggregate over the scan:
    * the scan node itself returns the 10 final rows, computed on the
    * driver like a parquet footer count or an Iceberg manifest
    * min/max — CustomSurfaceSpec pins the plan shape, the
    * graceful-fallback path (a `val` aggregate is rejected and Spark
    * keeps its own Aggregate), and pushdown-on/off row equality. At
    * 100 TB this is a JDBC dialect shipping the GROUP BY to the
    * database: the difference between moving a corpus and moving 10
    * rows. */
  def scanAggPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft-seq")
      .option("rows", "100000").option("parts", "8").load()
      .where(col("id") >= 1000 && col("id") < 50000)
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"),
        avg(col("id")).as("avg_id"))

  /** DSv2 REPORTED PARTITIONING + ORDERING (VERDICT r15 task 3): the
    * connector's `layout=tag` face plans one InputPartition per tag
    * value, each carrying its partition key, and the scan reports
    * KeyGroupedPartitioning over `tag` — so this groupBy(tag) plans
    * with NO ShuffleExchange at all (ScansSpec pins zero exchanges with
    * the report on, one with it off, rows identical; and no SortExec
    * for a per-partition id sort — the ordering report). The `val`
    * aggregate is deliberately in the mix: it is exactly the aggregate
    * the closed-form pushdown REJECTS, so this row proves the
    * key-grouped seam carries a REAL Spark aggregate, not a
    * metadata answer. At 100 TB this seam is the storage-partitioned
    * join/agg every Iceberg-bucket or JDBC-shard deployment leans on:
    * the exchange Spark skips here is the corpus-sized shuffle. */
  def scanKeygrouped(s0: SparkSession, d: String): DataFrame = {
    val s = GraftSession.confClone(s0,
      "spark.sql.sources.v2.bucketing.enabled" -> "true")
    s.read.format("graft-seq")
      .option("rows", "100000").option("layout", "tag").load()
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
  }

  /** DSv2 LIMIT + TopN pushdown (VERDICT r15 task 4): the `limit` leg
    * is FULLY pushed (the deterministic span answers it exactly — the
    * plan keeps no global limit over full partitions, one 7-row
    * partition is generated); the `topn` leg pushes the sort boundary
    * (the scan narrows to the top-5 id window) and keeps Spark's
    * re-rank — the partially-pushed half of the contract. ScansSpec
    * pins both plan shapes via the scan description and the absence of
    * a GlobalLimit over the limit leg. */
  def scanLimitPushdown(s: SparkSession, d: String): DataFrame = {
    val t = s.read.format("graft-seq")
      .option("rows", "100000").option("parts", "8").load()
    val lim = t.where(col("id") >= 5).limit(7)
      .select(lit("limit").as("leg"), col("id"), col("val"))
    val top = t.orderBy(col("id").desc).limit(5)
      .select(lit("topn").as("leg"), col("id"), col("val"))
    lim.unionByName(top)
  }

  /** DSv2 REPORTED STATISTICS (SupportsReportStatistics — the last
    * read-side connector seam): the source reports the
    * filter-narrowed span's exact row count and byte size, so the
    * PLANNER picks a static BroadcastHashJoin for this 50-row slice —
    * no AQE rescue needed, no shuffle of the fact side ever planned.
    * Without the report (`report_stats=false`) the unknown source
    * defaults to "huge" and the same query statically plans a
    * sort-merge join (ScansSpec pins both initial plans and row
    * equality). At 100 TB this is the seam that keeps a dimension
    * slice from dragging the fact table through an exchange. */
  def scanStatsReport(s: SparkSession, d: String): DataFrame = {
    val dim = s.read.format("graft-seq")
      .option("rows", "100000").load()
      .where(col("id") < 50).select(col("id"), col("tag"))
    Tables.events(s, d)
      .select((col("user_id") % 50).as("id"), col("value"))
      .join(dim, "id")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
  }

  /** COLUMN STATISTICS driving CBO JOIN REORDER through the connector
    * seam (VERDICT r16 task 7): the query is WRITTEN worst-first —
    * fact ⋈ fact on `id` (a 100k × 100k 1:1 join), THEN the 50-row
    * filter-narrowed dimension — and the cost-based reorderer re-derives
    * dim-first from the CONNECTOR's numbers alone: the pushed `id < 50`
    * narrows the scan, whose reported row count AND per-column NDV
    * (distinctCount(id) = 50, exact from the closed form) feed
    * JoinEstimation's cardinality math — fact ⋈ dim estimates 50 rows
    * vs fact ⋈ fact's 100k, so the DP planner flips the order. With
    * `report_stats=false` the same query keeps its syntactic order
    * (no row counts → reorder ineligible); ScansSpec pins both shapes,
    * row equality, and that the dim relation's catalyst attributeStats
    * really carry the connector NDV. join_cbo_reorder proves this for
    * ANALYZEd catalog tables; this row proves the DSv2 seam a
    * JDBC/Iceberg connector ships catalog stats through — at 100 TB
    * the flipped order is the difference between a corpus-sized
    * intermediate and a 50-row one. */
  private[graft] def scanColstatsJoin(s: SparkSession,
                                      report: Boolean): DataFrame = {
    def t(rows: Long) = s.read.format("graft-seq")
      .option("rows", rows.toString)
      .option("parts", "8").option("report_stats", report.toString).load()
    // facts join on `val` and the dim on `id` DELIBERATELY: with one
    // shared equi-key Catalyst's constraint propagation would push the
    // dim's selectivity into a fact scan and rescue the bad order
    // without any stats — distinct keys force the decision onto the
    // CBO, which has only the connector's numbers to go on
    val a = t(100000).select(col("id"), col("val").as("va"))
    val b = t(100000).select(col("id").as("idb"), col("val").as("vb"))
    val dim = t(50).select(col("id"), col("tag"))
    a.join(b, col("va") === col("vb")).join(dim, "id")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        sum(col("va") + col("vb")).as("sum_vals"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
  }

  def scanColstatsCbo(s0: SparkSession, d: String): DataFrame = {
    val s = GraftSession.confClone(s0, "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true")
    scanColstatsJoin(s, report = true)
  }

  /** DSv2 RUNTIME FILTERING (VERDICT r15 task 4's DPP half): a
    * selective dim join prunes the connector's partitions AT RUNTIME —
    * Spark materializes the broadcast side, feeds the join keys to
    * `SupportsRuntimeFiltering.filter`, and the source re-plans to
    * only the ranges holding probed keys (4 of 32 partitions here —
    * ScansSpec counts them and pins rows identical with DPP off). The
    * same shape join_dpp proves for file sources, pushed through the
    * connector seam — at 100 TB the skipped partitions are the scan. */
  def scanRuntimeFilter(s0: SparkSession, d: String): DataFrame = {
    // conf clone for the same reason as scanKeygrouped: the DPP stats
    // knob must be live when THIS frame plans, and only then
    val s = GraftSession.confClone(s0,
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false")
    val fact = s.read.format("graft-seq")
      .option("rows", "100000").option("parts", "32").load()
    val dim = s.range(0, 8).select((col("id") * 12500L).as("id"),
      (col("id") % 2).as("par"))
      .where(col("par") === 0)
    fact.join(dim, "id")
      .select(col("id"), col("val"), col("tag"))
  }

  /** Write through the custom DSv2 sink (graft.sources.AuditSink) and
    * read back THROUGH ITS COMMIT MANIFEST: the task writers stream part
    * files, the driver's commit publishes the manifest, and the
    * read-back resolves exactly the committed files — stray files from
    * retries or aborts are invisible. The aggregate proves the rows
    * round-tripped exactly (count, distinct keys, integer-cent sum). */
  def sinkCustom(s: SparkSession, d: String): DataFrame = {
    // per-PROCESS scratch dir, cleared up front: repeated invocations
    // (bench min-of-3, specs) reuse one directory instead of
    // accumulating a fresh orders-sized CSV copy per run, while the pid
    // suffix keeps two concurrent JVMs (a Bench pass + a Verify dev
    // loop) from deleting each other's committed parts mid-read-back
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_audit_sink_${java.lang.ProcessHandle.current().pid()}")
    if (out.exists())
      java.nio.file.Files.walk(out.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .write.format("graft-audit").mode("append")
      .option("path", out.toString).save()
    // manifest-resolved read-back (driver reads the tiny manifest, the
    // DATA goes through a distributed csv scan of the committed files)
    val files = graft.sources.AuditManifest.files(
      new java.io.File(out, "_MANIFEST"))
    s.read.schema("o_orderkey long, status string, cents long")
      .option("escape", "\"").csv(files: _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(col("cents")).as("sum_cents"))
  }

  /** CLUSTERED + SORTED write through the DSv2 sink seam
    * (`RequiresDistributionAndOrdering`, VERDICT r16 task 4): the SINK
    * declares an OrderedDistribution + sort on o_orderkey and pins 4
    * write partitions, Spark plans the range exchange + sort on the
    * WRITE side (ScansSpec captures the executed write plan and pins
    * both operators), and the committed `_RANGES` sidecar — each task's
    * key min/max, recorded at commit — proves non-overlapping file key
    * ranges from metadata alone. This is scan_rowgroup_prune's layout
    * made a property of the TABLE: at 100 TB every writer fleet member
    * produces prunable files because the sink demands it, instead of
    * each job remembering to repartitionByRange before save. The
    * readout carries the metadata-derived booleans plus the exact
    * roundtrip aggregate the oracle replays from orders. */
  def sinkClusteredWrite(s: SparkSession, d: String): DataFrame = {
    val out = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      s"graft_clustered_sink_${java.lang.ProcessHandle.current().pid()}")
    if (out.exists())
      java.nio.file.Files.walk(out.toPath)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .write.format("graft-audit").mode("append")
      .option("path", out.toString)
      .option("ordered_by", "o_orderkey")
      .option("write_parts", "4").save()
    // zone-map audit from the commit metadata alone (driver-side, a
    // |files|-line sidecar read): ascending key ranges must not overlap
    val ranges = graft.sources.AuditManifest
      .lines(new java.io.File(out, "_RANGES"))
      .map { l =>
        val Array(_, _, kmin, kmax) = l.split(",")
        (kmin.toLong, kmax.toLong)
      }.sortBy(_._1)
    val nonOverlapping = ranges.sliding(2).forall {
      case Seq((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    }
    val files = graft.sources.AuditManifest.files(
      new java.io.File(out, "_MANIFEST"))
    s.read.schema("o_orderkey long, status string, cents long")
      .option("escape", "\"").csv(files: _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(col("cents")).as("sum_cents"))
      .select(col("n_rows"), col("n_keys"), col("sum_cents"),
        lit(nonOverlapping).as("non_overlapping"),
        lit(ranges.size >= 2).as("multi_file"))
  }

  /** Spark's columnar CACHE surface (r12) — the hot-dim/hot-projection
    * pattern at 100 TB: cache the CURATED projection (3 columns, not
    * the table — a cached projection is what repeated interactive
    * queries should hit, and caching raw wide tables is the classic
    * memory mistake), then serve an aggregate off the in-memory
    * columnar relation. `CACHE TABLE` is EAGER in SQL, so the
    * materialization cost is paid here, visibly, not smeared into the
    * first downstream query; repeated calls re-create the view (which
    * uncaches) and re-cache — idempotent per call. ScansSpec asserts
    * the read plans an InMemoryTableScan with the pruned 3-column
    * schema. The oracle is the plain aggregate — caching must be
    * result-invisible. */
  def scanCached(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .createOrReplaceTempView("graft_cached_li")
    s.sql("CACHE TABLE graft_cached_li")
    // release AT THE DRAIN POINT, not inline: the returned DataFrame
    // executes lazily, so an inline uncache would time the op against a
    // cold source — but leaving the cache standing rides a few-MB (at
    // 100 TB: executor-memory-sized) relation under every SUBSEQUENT
    // query's timing. Harness drains run after the result is consumed.
    MemoUtil.onDrain { () =>
      s.sql("UNCACHE TABLE IF EXISTS graft_cached_li")
      s.catalog.dropTempView("graft_cached_li"); ()
    }
    s.sql(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS qty,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM graft_cached_li GROUP BY l_returnflag""".stripMargin)
  }



  /** Recursive delete of a staging dir if present (every staged op's
    * wipe-before-restage step — one definition, not one per op). */
  private[graft] def wipeDir(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    val d = new java.io.File(path)
    if (d.exists()) rm(d)
  }

  /** MOR LOG COMPACTION — the maintenance job sink_merge_mor defers to
    * ("the read side pays the reconstruction ... until a compaction
    * folds the log back"): materialize the merge into new base files
    * for ONLY the partitions the log touches, commit by pointer flip,
    * then GC the log. After it, reads are plain scans again — the job
    * that keeps a MOR table's read amplification bounded at 100 TB
    * (Hudi compaction / Iceberg rewrite-data-files + remove-deletes).
    *
    * Two details carry the correctness story:
    *  - the delete sidecar here is PARTITION-SCOPED (o_orderkey +
    *    o_orderpriority) — the Iceberg v2 convention — which is what
    *    makes compaction partition-pruned: the touched set is the
    *    log's distinct partitions (driver metadata), untouched base
    *    partitions are never read, let alone rewritten (ScansSpec
    *    proves them byte-identical across the compaction);
    *  - the commit is a POINTER FLIP, not in-place: merged files land
    *    in `base2/` (touched partitions only), then the `_COMPACTED`
    *    marker (listing the touched set) is written, then the log dirs
    *    drop as post-commit GC. Every interrupted state reads
    *    consistently — before the marker the MOR reconstruction still
    *    holds (base + full log intact); after it the reader dispatches
    *    to base(untouched) ∪ base2 and the log is dead weight. An
    *    in-place overwrite would instead expose a window where the
    *    delete log re-applies against already-merged files and
    *    duplicates inserts — the hazard real formats close with
    *    sequence numbers, closed here by the flip.
    *
    * Same deterministic merge as sink_merge_cow/_mor, so the shared
    * FULL OUTER JOIN + CASE oracle replays it: compaction changes file
    * lifecycle and read cost, never results. */
  private[graft] def morCompactStage(s: SparkSession, d: String,
                                     path: String): Unit = {
    mergeMorStageBase(s, d, path)
    val src = mergeCowSource(s, d)
    // partition-scoped equality deletes (key + partition): scope is
    // what lets the compactor prune; the read-side anti-join still
    // keys on o_orderkey alone (keys are globally unique). The
    // partition column is taken from the BASE row of each deleted key,
    // not the source row (ADVICE r13): an update that moves a row
    // across partitions must put the OLD partition in the touched set,
    // or the stale base row would survive compaction and duplicate the
    // key. (mergeCowSource happens not to move priorities today — the
    // base join makes that a non-assumption rather than a latent bug.)
    src.where(col("op").isin("U", "D"))
      .select(col("o_orderkey"))
      .join(Tables.read(s, s"$path/base")
        .select(col("o_orderkey"), col("o_orderpriority")), "o_orderkey")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/deletes")
    src.where(col("op").isin("U", "I"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/delta")
  }

  /** The compactor: merged files for the touched partitions → base2,
    * marker flip, log GC. */
  private[graft] def morCompactRun(s: SparkSession, path: String): Unit = {
    val touched = Tables.read(s, s"$path/deletes")
      .select(col("o_orderpriority"))
      .unionByName(Tables.read(s, s"$path/delta")
        .select(col("o_orderpriority")))
      .distinct().collect().map(_.getString(0)).sorted
    // the reconstruction, restricted to the log's partition scope —
    // identical to the per-query MOR read it retires, run once
    Tables.read(s, s"$path/base")
      .where(col("o_orderpriority").isin(touched.toIndexedSeq: _*))
      .join(broadcast(Tables.read(s, s"$path/deletes")
        .select(col("o_orderkey"))), Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .unionByName(Tables.read(s, s"$path/delta")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
      .write.partitionBy("o_orderpriority")
      .mode(SaveMode.Overwrite).parquet(s"$path/base2")
    // pointer flip = the atomic commit; the marker records the touched
    // set because post-GC readers can no longer derive it from the log
    // (an atomic write — a torn marker would duplicate partitions)
    TableLog.atomicWrite(java.nio.file.Paths.get(path, "_COMPACTED"),
      touched.mkString("\n"))
    // post-commit GC: the log is superseded by the marker
    wipeDir(s"$path/deletes")
    wipeDir(s"$path/delta")
  }

  /** The generation-dispatched read: post-compaction it is two
    * partition-pruned plain scans (zero joins — the compaction's whole
    * point); pre-compaction it is the MOR reconstruction. */
  private[graft] def morCompactRead(s: SparkSession, path: String): DataFrame = {
    val marker = java.nio.file.Paths.get(path, "_COMPACTED")
    if (java.nio.file.Files.exists(marker)) {
      import scala.jdk.CollectionConverters._
      val touched = java.nio.file.Files.readAllLines(marker)
        .asScala.toSeq.filter(_.nonEmpty)
      Tables.read(s, s"$path/base")
        .where(!col("o_orderpriority").isin(touched: _*))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .unionByName(Tables.read(s, s"$path/base2")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority")))
    } else mergeMorRead(s, path)
  }

  def maintenanceMorCompact(s: SparkSession, d: String): DataFrame = {
    val path = StageUtil.staged("mor_compact", d) { path =>
      morCompactStage(s, d, path)
      morCompactRun(s, path)
    }
    morCompactRead(s, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** PARQUET MODULAR ENCRYPTION — the at-rest security seam a 100 TB
    * multi-tenant lake cannot ship without: column-level AES-GCM
    * encryption with FOOTER encryption, keyed through the standard
    * `KmsClient` interface (graft.sources.InMemoryKms — local-wrap
    * mode, so the KMS sees one master-key request per task, never per
    * file). Two keys split the trust domain the way deployments do:
    * the sensitive columns (o_totalprice, o_orderpriority) under a
    * column key — o_orderkey deliberately stays PLAINTEXT (column
    * granularity is the point: non-sensitive columns pay no crypto on
    * scan) — and the footer (with it the schema + stats) under
    * another:
    * a reader holding neither cannot even LIST the columns (the file
    * magic becomes PARE), one holding only the footer key can read the
    * non-sensitive columns while o_totalprice stays opaque per-column.
    * Encryption is a WRITE OPTION, not a format fork: the same
    * vectorized reader, pushdown, and pruning apply on decrypt.
    * ScansSpec proves the ciphertext property (a plaintext priority
    * string greps in the control file, never in the encrypted one),
    * that a keyless read FAILS (no silent downgrade), and the exact
    * roundtrip. The oracle replays the slice from `orders` — crypto
    * changes bytes at rest, never results. */
  private[graft] def encryptedDir(s: SparkSession, d: String): String =
    StageUtil.staged("encrypted", d) { dir =>
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      src.write
        .options(cryptoOpts)
        .option("parquet.encryption.column.keys",
          "kdata:o_totalprice,o_orderpriority")
        .option("parquet.encryption.footer.key", "kfooter")
        .mode(SaveMode.Overwrite).parquet(s"$dir/enc")
      // the unencrypted control the spec greps for plaintext
      src.write.mode(SaveMode.Overwrite).parquet(s"$dir/plain")
    }

  /** The crypto factory + KMS client wiring, scoped PER read/write via
    * datasource options (Spark merges them into that relation's Hadoop
    * conf only) instead of mutating the process-global SparkContext
    * conf (ADVICE r13: the global set routed every subsequent parquet
    * read in the JVM through the crypto-factory code path — inert, but
    * a cross-op coupling — and was never restored). A reader without
    * these options sees plain ciphertext and fails, which is also the
    * no-silent-downgrade property the spec asserts. */
  private[graft] val cryptoOpts: Map[String, String] = Map(
    "parquet.crypto.factory.class" ->
      "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
    "parquet.encryption.kms.client.class" -> "graft.sources.InMemoryKms")

  def scanEncrypted(s: SparkSession, d: String): DataFrame = {
    val dir = encryptedDir(s, d)
    // not Tables.read: the encrypted footer needs the decryption options
    s.read.options(cryptoOpts).parquet(s"$dir/enc")
      .where(col("o_orderkey") < 500)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** Z-ORDER PRUNING — the measured payoff of maintenance_zorder's
    * interleave: a 2-D box predicate (customer range × date range)
    * planned from per-file 2-D zonemaps over two stagings of the same
    * data — Z-ORDERED (files sorted by the bit-interleaved zval) vs
    * LINEAR (files sorted by custkey alone). Linear clustering makes
    * one dimension's zonemaps tight and leaves the other spanning the
    * whole domain; the z-curve bounds BOTH spans per file, so an
    * aligned 64×64 box is a contiguous zval block touching 1-2 of 16
    * files where the linear layout reads every custkey-overlapping
    * file. ScansSpec asserts zorderFiles ≤ linearFiles and both reads
    * row-equal the raw box. At 100 TB this is the difference between
    * a dashboard's (tenant × week) slice reading gigabytes or the
    * table; the file counts stay OUT of the registered readout because
    * range-partitioner sampling makes file boundaries run-varying —
    * layout changes I/O, never results. */
  private[graft] def zorderPruneDir(s: SparkSession, d: String): String =
    StageUtil.staged("zorder_prune", d) { dir =>
      val interleave =
        """aggregate(sequence(0, 15), 0L, (acc, b) -> acc
          |  + shiftleft((x >> b) & 1, 2 * b)
          |  + shiftleft((y >> b) & 1, 2 * b + 1))""".stripMargin
      val base = Tables.orders(s, d)
        .withColumn("x", col("o_custkey").bitwiseAND(lit(65535L)))
        .withColumn("y",
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long")
            .bitwiseAND(lit(65535L)))
        .select(col("o_orderkey"), col("o_totalprice"), col("x"),
          col("y"), expr(interleave).as("zval"))
      def stage(df: DataFrame, sortCol: String, sub: String): Unit = {
        df.repartitionByRange(16, col(sortCol))
          .sortWithinPartitions(col(sortCol))
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$sub/data")
        // the 2-D zonemap: per file, min/max of BOTH dimensions
        Tables.read(s, s"$dir/$sub/data")
          .groupBy(input_file_name().as("path"))
          .agg(min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$sub/manifest")
      }
      stage(base, "zval", "zorder")
      stage(base, "x", "linear")
    }

  /** Varargs parquet read that tolerates an empty planned-file set: a
    * probe whose keys match no postings/zonemaps must return an EMPTY
    * relation with the staging's schema, not throw AnalysisException on
    * the empty varargs read (ADVICE r13). The schema comes from the
    * staging dir read under a false filter — constant-folded to an
    * empty LocalRelation, no data scanned. */
  private def plannedRead(s: SparkSession, schemaDir: String,
                          paths: Seq[String]): DataFrame =
    if (paths.isEmpty) Tables.read(s, schemaDir).where(lit(false))
    else readPaths(s, paths)

  /** The aligned 64×64 box (custkey 64..127 × epoch-days 9216..9279 —
    * spring 1995): one contiguous z-block. */
  private[graft] val zBox = (64L, 127L, 9216L, 9279L)

  /** Manifest-planned box read over one staging: paths whose 2-D
    * zonemap overlaps the box, with the exact box filter residual. */
  private[graft] def zorderBoxRead(s: SparkSession, dir: String,
                                   sub: String): DataFrame = {
    val (x0, x1, y0, y1) = zBox
    val paths = Tables.read(s, s"$dir/$sub/manifest")
      .where(col("x_max") >= x0 && col("x_min") <= x1 &&
        col("y_max") >= y0 && col("y_min") <= y1)
      .select(col("path")).collect().map(_.getString(0)).sorted
    plannedRead(s, s"$dir/$sub/data", paths.toIndexedSeq)
      .where(col("x").between(x0, x1) && col("y").between(y0, y1))
  }

  def scanZorderPrune(s: SparkSession, d: String): DataFrame = {
    val dir = zorderPruneDir(s, d)
    zorderBoxRead(s, dir, "zorder")
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** SECONDARY INDEX — an inverted FILE index for point lookups on a
    * key the layout does NOT cluster (Hudi's record-level index /
    * the external index every serious lakehouse bolts on): orders are
    * staged hash-scattered on o_orderkey (16 files — every file
    * contains every custkey range, so zonemaps are useless and a bloom
    * would need one per column), and one read-back pass builds the
    * posting-list sidecar (o_custkey, file_path). A lookup reads the
    * INDEX first (a small pruned scan), collects the ≤ |keys|·|files|
    * posting paths as driver metadata, and plans the data read over
    * ONLY those files with the key filter as the residual. Completes
    * the point-lookup ladder: zonemaps need clustering
    * (scan_rowgroup_prune), blooms are probabilistic and in-file
    * (scan_bloom_prune), the secondary index is exact and external —
    * it costs a table-sized build pass and index maintenance on write,
    * which is why engines offer all three. At 100 TB the posting read
    * replaces a million-file planning problem with one index-partition
    * scan. ScansSpec asserts the data read plans ≤ the posting count
    * (≪ 16 files) and row equality with the raw lookup. */
  private[graft] def secondaryIndexDir(s: SparkSession, d: String): String =
    StageUtil.staged("sec_index", d) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(16, col("o_orderkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/data")
      // the index build: one distributed read-back pass → posting list
      Tables.read(s, s"$dir/data")
        .groupBy(col("o_custkey"), input_file_name().as("file_path"))
        .agg(count(lit(1)).as("n_rows"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/index")
    }

  private[graft] val secIndexProbeKeys = Seq(7L, 23L, 61L, 102L, 137L)

  def scanSecondaryIndex(s: SparkSession, d: String): DataFrame =
    secIndexLookup(s, secondaryIndexDir(s, d), secIndexProbeKeys)

  /** The index-planned lookup for an arbitrary key set (package-private
    * so the spec can probe ABSENT keys: the planned file set is then
    * empty and the read must return an empty typed result, not throw —
    * ADVICE r13). */
  private[graft] def secIndexLookup(s: SparkSession, dir: String,
                                    keys: Seq[Long]): DataFrame = {
    // index read: small pruned scan → |keys|·|postings| driver metadata
    val paths = Tables.read(s, s"$dir/index")
      .where(col("o_custkey").isin(keys: _*))
      .select(col("file_path")).distinct()
      .collect().map(_.getString(0)).sorted
    plannedRead(s, s"$dir/data", paths.toIndexedSeq)
      .where(col("o_custkey").isin(keys: _*))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** SECONDARY-INDEX REFRESH AFTER A COW COMMIT — the write-side
    * maintenance scan_secondary_index's own doc names as the index's
    * cost (VERDICT r13 task 4b): when a copy-on-write commit rewrites
    * data files, every posting pointing at a replaced file is STALE —
    * lookups through the old sidecar would read files no manifest
    * references (or miss the rewritten rows entirely). The refresh is
    * manifest-diff-scoped like everything in this family:
    *  - the table is range-clustered on o_orderkey (8 files + manifest
    *    m1), the index is postings on o_custkey — the column the
    *    layout does NOT cluster, so postings scatter across all files
    *    (the secondary index's reason to exist);
    *  - a COW commit doubles prices on keys [100, 400]: only the
    *    overlapping files rewrite (m2 = untouched ∪ new stats — the
    *    timeTravel write contract);
    *  - refresh: postings of m1∖m2 files DROP, postings for m2∖m1
    *    files are built by scanning ONLY those files, postings of
    *    shared files carry over UNTOUCHED (the spec proves they are
    *    row-identical between index versions — at 100 TB the refresh
    *    cost is O(rewritten files), never an index rebuild).
    * Readout: the probe-key lookup THROUGH the refreshed index — it
    * must see the post-merge prices; the oracle replays the update
    * relationally from `orders`. */
  private[graft] def indexRefreshDir(s: SparkSession, d: String): String =
    StageUtil.staged("index_refresh", d) { dir =>
      // v1: range-clustered data + manifest + custkey posting index
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d1")
      manifestStats(s, s"$dir/d1").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/m1")
      indexPostings(Tables.read(s, s"$dir/d1"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/index1")
      // publish v1: ONE head payload names the (manifest, postings)
      // PAIR — the atomic cross-artifact commit (VERDICT r14 task 6): a
      // reader resolves snapshot AND index from a single head read, so
      // no interleaving can pair a new manifest with stale postings
      TableLog.publish(dir, "m1 index1")
      // the COW commit (timeTravel write contract: d2 + m2) — staged,
      // NOT yet visible: readers still resolve (m1, index1)
      timeTravelWriteV2(s, dir)
      // the refresh: drop stale postings, build new-file postings,
      // share the rest — O(rewritten files); staged beside the live
      // index, invisible until the flip
      val p1 = snapshotPaths(s, s"$dir/m1").toSet
      val p2 = snapshotPaths(s, s"$dir/m2").toSet
      val stale = (p1 -- p2).toSeq.sorted
      val freshPaths = (p2 -- p1).toSeq.sorted
      Tables.read(s, s"$dir/index1")
        .where(!col("file_path").isin(stale: _*))
        .unionByName(indexPostings(readPaths(s, freshPaths)))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/index2")
      // the commit: flip snapshot and postings TOGETHER
      TableLog.publish(dir, "m2 index2")
    }

  /** The posting-list build: one distributed pass over the given files
    * → (o_custkey, file_path, n_rows). */
  private def indexPostings(data: DataFrame): DataFrame =
    data.groupBy(col("o_custkey"), input_file_name().as("file_path"))
      .agg(count(lit(1)).as("n_rows"))

  def scanIndexRefresh(s: SparkSession, d: String): DataFrame = {
    val dir = indexRefreshDir(s, d)
    // lookup THROUGH the head-resolved index: one head read names the
    // (snapshot, postings) pair, then postings → planned files →
    // key-filtered read (the scanSecondaryIndex shape)
    val Array(_, idx) = TableLog.head(dir).split(' ')
    val paths = Tables.read(s, s"$dir/$idx")
      .where(col("o_custkey").isin(secIndexProbeKeys: _*))
      .select(col("file_path")).distinct()
      .collect().map(_.getString(0)).sorted
    plannedRead(s, s"$dir/d1", paths.toIndexedSeq)
      .where(col("o_custkey").isin(secIndexProbeKeys: _*))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** INCREMENTAL BACKFILL PLANNER — the dbt-incremental / Airflow-
    * sensor shape that keeps a derived table fresh WITHOUT rebuilding
    * it: the monthly rollup target carries a WATERMARK SIDECAR (per
    * month, the source fingerprint — row count — as of its last
    * build); the planner re-fingerprints the source (one map-side
    * aggregate), diffs against the sidecar, and rebuilds ONLY months
    * whose fingerprint moved (dynamic partition overwrite), then
    * advances the sidecar. Staleness is DATA-DRIVEN, not assumed:
    * late-arriving rows reopen an old month (the staged history plants
    * 1996-06 lates), new months appear at the tail (2001-01+ withheld
    * from the first build) — both classes surface from the same diff,
    * and a second planner run is a fixed point (empty stale set, the
    * property that makes cron-driven refresh cheap). At 100 TB the
    * planner cost is two fingerprint aggregates; the rebuild cost is
    * O(stale months), never the table. The backfilled-months audit is
    * recorded at backfill time (the _EXPIRED discipline) because the
    * post-state sidecar can no longer show what was stale. */
  private[graft] def backfillDir(s: SparkSession, d: String): String =
    StageUtil.staged("backfill", d) { dir =>
      backfillBuild(s, backfillT1(s, d), dir, SaveMode.Overwrite)
      // T2: the full source has arrived; the planner must now find
      // exactly {1996-06} ∪ {2001-01..} stale and rebuild only those
      backfillRun(s, d, dir)
    }

  /** T1: the tail months have not arrived; 1996-06 is missing its late
    * rows (o_orderkey % 10 == 0). */
  private[graft] def backfillT1(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .where(col("o_orderdate") < lit("2001-01-01") &&
        !(col("o_month") === "1996-06" && col("o_orderkey") % 10 === 0))

  /** Build (or rebuild) target partitions + their sidecar rows from a
    * source slice. */
  private[graft] def backfillBuild(s: SparkSession,
                            src: DataFrame, dir: String,
                            mode: SaveMode): Unit = {
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      src.groupBy(col("o_month"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .write.partitionBy("o_month").mode(mode).parquet(s"$dir/target")
      src.groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_src"))
        .write.partitionBy("o_month").mode(mode).parquet(s"$dir/watermark")
    } finally prev match {
      case Some(v) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** One planner+backfill cycle: fingerprint diff → stale months →
    * partition-pruned rebuild. Returns the stale set. The diff is a
    * FULL outer comparison: a month the source grew or reopened is
    * stale (fresh ≠ watermark), and a month whose source rows VANISHED
    * entirely (retraction / GDPR delete — the symmetric case) is
    * detected from the watermark side and its target + watermark
    * partitions are dropped outright — dynamic overwrite cannot delete
    * a partition it writes zero rows into (the documented
    * sink_dynamic_overwrite caveat), so vanished months take the
    * file-GC path instead. */
  private[graft] def backfillRun(s: SparkSession, d: String,
                                 dir: String): Seq[String] = {
    val cur = Tables.orders(s, d)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    val fresh = cur.groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_now"))
    val wm = Tables.read(s, s"$dir/watermark")
      .select(col("o_month"), col("n_src"))
    val diff = fresh.join(wm, Seq("o_month"), "full")
      .select(col("o_month"), col("n_now"), col("n_src")).collect()
    val vanished = diff.filter(r => r.isNullAt(1)).map(_.getString(0)).sorted
    val stale = diff
      .filter(r => !r.isNullAt(1) &&
        (r.isNullAt(2) || r.getLong(1) != r.getLong(2)))
      .map(_.getString(0)).sorted
    vanished.foreach { m =>
      wipeDir(s"$dir/target/o_month=$m")
      wipeDir(s"$dir/watermark/o_month=$m")
    }
    if (stale.nonEmpty) {
      backfillBuild(s,
        cur.where(col("o_month").isin(stale.toIndexedSeq: _*)),
        dir, SaveMode.Overwrite)
    }
    if (stale.nonEmpty || vanished.nonEmpty) {
      // the backfill audit, recorded while the stale set is knowable
      TableLog.atomicWrite(java.nio.file.Paths.get(dir, "_BACKFILLED"),
        (stale ++ vanished).mkString("\n"))
    }
    (stale ++ vanished).toIndexedSeq
  }

  def pipelineBackfill(s: SparkSession, d: String): DataFrame = {
    val dir = backfillDir(s, d)
    import scala.jdk.CollectionConverters._
    val auditPath = java.nio.file.Paths.get(dir, "_BACKFILLED")
    // a history where T2 changed nothing writes no audit — the absence
    // IS the (empty) answer, not an error
    val backfilled =
      if (java.nio.file.Files.exists(auditPath))
        java.nio.file.Files.readAllLines(auditPath)
          .asScala.toSeq.filter(_.nonEmpty).toSet
      else Set.empty[String]
    Tables.read(s, s"$dir/target")
      .groupBy(col("o_month"))
      .agg(sum(col("n")).cast("bigint").as("n"),
        sum(col("cents")).cast("bigint").as("cents"))
      .withColumn("was_stale",
        col("o_month").isin(backfilled.toSeq: _*))
  }

  /** ROW LINEAGE — stable row identities that survive rewrites (Delta
    * row tracking / Iceberg row lineage), the property key-based CDC
    * cannot fake: a `row_id` is assigned at FIRST commit and carried
    * through every subsequent file rewrite, so a change to the
    * BUSINESS KEY itself is still one UPDATE. Staged as the worst case
    * for key CDC — a key migration: v2 rewrites the files overlapping
    * business keys [100,400] and shifts those keys by +5·10⁸ (price
    * untouched, row_id carried). Key-based CDC over the same file diff
    * necessarily reads this as |changed| deletes + |changed| inserts
    * (the old keys vanish, unknown keys appear — lineage severed);
    * row-id CDC joins the diff on row_id and sees |changed| UPDATES
    * with prices provably stable. Both verdicts ship in the readout so
    * the gap IS the result. At 100 TB row lineage is what keeps
    * incremental consumers (downstream MVs, replication, audit) intact
    * across schema/key migrations, backfills, and compactions — all of
    * which rewrite files without changing row identity; it also needs
    * no real estate beyond a carried column plus the manifest-diff
    * machinery scan_time_travel already established. ScansSpec pins
    * rowid-sum invariance across the commit, update classification,
    * price stability under row-id CDC, and the delete+insert illusion
    * under key CDC. */
  private[graft] def rowLineageDir(s: SparkSession, d: String): String =
    StageUtil.staged("row_lineage", d) { dir =>
      // v1: row_id assigned at first commit (any unique deterministic
      // value works; after this instant it is IDENTITY, not data —
      // the business key may drift, row_id never does)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") + 1000000000L).as("row_id"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d1")
      manifestStats(s, s"$dir/d1").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/m1")
      // v2: the key migration — a COW rewrite of the overlapping
      // files; row_id rides through untouched
      val m1 = Tables.read(s, s"$dir/m1")
      val hit = col("k_max") >= 100 && col("k_min") <= 400
      val oldPaths = m1.where(hit).select(col("path"))
        .collect().map(_.getString(0))
      readPaths(s, oldPaths.toIndexedSeq)
        .withColumn("o_orderkey",
          when(col("o_orderkey").between(100, 400),
            col("o_orderkey") + 500000000L)
            .otherwise(col("o_orderkey")))
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/d2")
      m1.where(!hit)
        .unionByName(manifestStats(s, s"$dir/d2"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/m2")
    }

  def scanRowLineage(s: SparkSession, d: String): DataFrame = {
    val dir = rowLineageDir(s, d)
    val p1 = snapshotPaths(s, s"$dir/m1")
    val p2 = snapshotPaths(s, s"$dir/m2")
    val cents = expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    val v1 = readPaths(s, p1)
    val v2 = readPaths(s, p2)
    // manifest-diff CDC inputs: only files the versions disagree on
    val oldSide = readPaths(s, (p1.toSet -- p2.toSet).toSeq.sorted)
      .select(col("row_id"), col("o_orderkey").as("k_old"),
        cents.as("c_old"))
    val newSide = readPaths(s, (p2.toSet -- p1.toSet).toSeq.sorted)
      .select(col("row_id"), col("o_orderkey").as("k_new"),
        cents.as("c_new"))
    // row-id CDC: the migration is UPDATES with stable prices
    val rowCdc = oldSide.join(newSide, "row_id")
      .where(col("k_old") =!= col("k_new"))
      .agg(count(lit(1)).as("row_updates"),
        sum(when(col("c_old") === col("c_new"), 1L).otherwise(0L))
          .as("price_stable"))
    // key CDC over the SAME diff: lineage severed — deletes + inserts
    val keyDel = oldSide.join(newSide,
      col("k_old") === col("k_new"), "left_anti")
      .agg(count(lit(1)).as("key_deletes"))
    val keyIns = newSide.join(oldSide,
      col("k_new") === col("k_old"), "left_anti")
      .agg(count(lit(1)).as("key_inserts"))
    v2.agg(count(lit(1)).as("n_rows"), sum(cents).as("cents"),
        sum(col("row_id")).as("rowid_sum_v2"))
      .crossJoin(v1.agg(sum(col("row_id")).as("rowid_sum_v1")))
      .crossJoin(rowCdc).crossJoin(keyDel).crossJoin(keyIns)
      .select(col("n_rows"), col("cents"),
        col("rowid_sum_v1"), col("rowid_sum_v2"),
        col("row_updates"), col("price_stable"),
        col("key_deletes"), col("key_inserts"))
  }

  /** POSITION-DELETE MERGE-ON-READ — the third lakehouse upsert
    * strategy, closing the seam sink_merge_mor pinned ("position
    * deletes need stable row ordinals"): instead of equality deletes
    * (logical keys, applied by a key anti-join), the commit records
    * (file_path, row_position) pairs — Iceberg v2 position delete
    * files / Delta deletion vectors. The stable ordinal Spark exposes
    * is `_metadata.row_index` (the row's position within its parquet
    * file — stable because data files are immutable, the same contract
    * the versioned manifests rely on).
    *
    * The trade vs equality deletes, and why both exist:
    *  - the WRITER pays more: finding positions needs one
    *    partition-pruned scan of the touched files at commit time
    *    (equality deletes write blind);
    *  - the READER pays less: deletes apply by file + ordinal during
    *    the scan — no join on the logical key, no hashing, no
    *    knowledge of the schema's key columns at all (a deletion
    *    vector is a per-file bitmap skip). Here the application is
    *    spelled as an anti-join on (file, pos) so the plan is
    *    inspectable, but the join key is scan metadata, not data —
    *    ScansSpec proves the delete application never reads the key
    *    column from the base files.
    *
    * Same deterministic merge, same FULL OUTER JOIN + CASE oracle:
    * COW, equality-MOR, and position-MOR are three write strategies
    * for one semantics. Spec also proves zero base-file I/O and that
    * every recorded position is a valid ordinal of its file. */
  private[graft] def mergePosCommit(s: SparkSession, d: String,
                                    path: String): Unit = {
    val src = mergeCowSource(s, d)
    val keyed = src.where(col("op").isin("U", "D"))
      .select(col("o_orderkey"), col("o_orderpriority"))
    val touched = keyed.select(col("o_orderpriority")).distinct()
      .collect().map(_.getString(0)).sorted
    // the writer's position-finding pass: partition-pruned scan of the
    // touched files with the metadata ordinal riding along
    Tables.read(s, s"$path/base")
      .where(col("o_orderpriority").isin(touched.toIndexedSeq: _*))
      .select(col("o_orderkey"),
        col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"))
      .join(broadcast(keyed.select(col("o_orderkey"))), Seq("o_orderkey"),
        "left_semi")
      .select(col("file_path"), col("pos"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/pos_deletes")
    src.where(col("op").isin("U", "I"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/delta")
  }

  /** The position-delete read: base rows survive unless their
    * (file, ordinal) is recorded — the logical key never participates
    * in the delete application. */
  private[graft] def mergePosRead(s: SparkSession, path: String): DataFrame = {
    val base = Tables.read(s, s"$path/base")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"),
        col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"))
    base.join(broadcast(Tables.read(s, s"$path/pos_deletes")),
        Seq("file_path", "pos"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .unionByName(Tables.read(s, s"$path/delta")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")))
  }

  def sinkMergePositional(s: SparkSession, d: String): DataFrame = {
    val path = StageUtil.staged("merge_pos", d) { path =>
      mergeMorStageBase(s, d, path)
      mergePosCommit(s, d, path)
    }
    mergePosRead(s, path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  /** WRITE-AUDIT-PUBLISH — the staged-commit pattern (Iceberg WAP /
    * Delta "blind staging + constraint check") that keeps a bad batch
    * from ever becoming readable at 100 TB: a writer lands its files
    * and manifest on a BRANCH (invisible — nothing references it), an
    * AUDIT query runs against the branch snapshot, and only a passing
    * audit flips the table's HEAD pointer to the branch manifest. A
    * failing audit leaves HEAD untouched — the branch's files sit
    * orphaned for the vacuum, and no reader ever saw them.
    *
    * Staged here as the full three-act story on one table:
    *  - v1: 8 range-clustered files + manifest m1, HEAD → m1;
    *  - good branch: the [100,400] ×2 COW update (scan_time_travel's
    *    write) lands as m2; the audit — row-count conservation vs the
    *    CURRENT HEAD snapshot, key uniqueness, no negative prices —
    *    passes; HEAD → m2 (the publish: one tiny pointer write, the
    *    atomic visibility point);
    *  - bad branch: a buggy writer rewrites the [500,900]-overlapping
    *    files but DROPS every key%100==0 row (the silent-data-loss
    *    class audits exist to catch); its manifest m3 is written, the
    *    conservation audit fails, HEAD stays m2.
    *
    * The registered readout reads THROUGH HEAD — it must resolve the
    * good v2 — plus the lifecycle facts (which manifest is published;
    * that the bad branch exists yet is unpublished), all derived from
    * disk, not literals. Oracle: the v2 summary over `orders` + the
    * expected lifecycle constants. ScansSpec additionally proves m1
    * still resolves v1 exactly (branches never mutate a live
    * snapshot) and that the bad branch's data is reachable from m3
    * (orphaned, not lost — vacuum's jurisdiction). */
  private[graft] def wapDir(s: SparkSession, d: String): String =
    StageUtil.staged("wap", d) { dir =>
      timeTravelWriteV1(s, d, dir)
      TableLog.publish(dir, "m1")
      // good branch: write → audit → publish
      timeTravelWriteV2(s, dir)
      if (wapAudit(s, dir, "m2")) TableLog.publish(dir, "m2")
      // bad branch: write → audit → (no publish)
      wapWriteBadBranch(s, dir)
      if (wapAudit(s, dir, "m3")) TableLog.publish(dir, "m3")
    }

  /** The buggy writer: a COW rewrite of the [500,900]-overlapping files
    * that silently drops every key%100==0 row, committed as branch
    * manifest m3. Built from the HEAD snapshot (m2) like a real
    * follow-on batch would be. */
  private[graft] def wapWriteBadBranch(s: SparkSession, dir: String): Unit = {
    val head = Tables.read(s, s"$dir/${TableLog.head(dir)}")
    val hit = col("k_max") >= 500 && col("k_min") <= 900
    val oldPaths = head.where(hit).select(col("path"))
      .collect().map(_.getString(0))
    readPaths(s, oldPaths.toIndexedSeq)
      .where(col("o_orderkey") % 100 =!= 0) // the bug under audit
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/d3")
    head.where(!hit)
      .unionByName(manifestStats(s, s"$dir/d3"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/m3")
  }

  /** The audit gate, run against the BRANCH snapshot before any reader
    * can see it: row-count conservation vs the current HEAD (updates
    * must not create or destroy rows), key uniqueness, no negative
    * prices. One small aggregate over the branch — at 100 TB audits are
    * why WAP costs one extra scan and saves the quarter. */
  private[graft] def wapAudit(s: SparkSession, dir: String,
                              branch: String): Boolean = {
    val headN = Tables.read(s, 
        snapshotPaths(s, s"$dir/${TableLog.head(dir)}"): _*).count()
    val row = readPaths(s, snapshotPaths(s, s"$dir/$branch"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("o_orderkey")).as("nk"),
        min(col("o_totalprice")).as("pmin"))
      .collect().head
    row.getLong(0) == headN && row.getLong(1) == row.getLong(0) &&
      row.getDouble(2) >= 0.0
  }

  def sinkWap(s: SparkSession, d: String): DataFrame = {
    val dir = wapDir(s, d)
    val head = TableLog.head(dir)
    val badUnpublished =
      new java.io.File(s"$dir/m3").exists() && head != "m3"
    readPaths(s, snapshotPaths(s, s"$dir/$head"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
      .select(col("n_rows"), col("cents"), col("key_sum"),
        lit(head).as("published"),
        lit(badUnpublished).as("bad_branch_unpublished"))
  }

  /** COLUMN MAPPING — rename (and drop) columns WITHOUT rewriting a
    * byte of data (Delta column-mapping / Iceberg field-IDs): data
    * files carry stable PHYSICAL names (c_1, c_2, c_3 — stand-ins for
    * field IDs), and a tiny mapping sidecar per schema version binds
    * physical → logical. v1 exposes (o_orderkey, o_totalprice,
    * o_orderpriority); v2 renames o_totalprice → price_usd and DROPS
    * o_orderpriority — both metadata-only commits (ScansSpec proves the
    * data files byte-identical across the v2 commit, and that the v2
    * read's pushed ReadSchema excludes the dropped physical column —
    * the drop costs nothing AND scans less). At 100 TB this is the
    * difference between a rename being a catalog update and being a
    * week-long table rewrite; without stable physical names, parquet
    * name-based resolution silently reads NULLs after a rename — the
    * failure mode field IDs exist to prevent.
    *
    * Readout: both versions' reads side by side — per version, the
    * LOGICAL schema it exposes (the rename made observable to the hash
    * gate) and the same summary (a rename never changes data). Oracle:
    * two literal-schema rows over `orders`. */
  private[graft] def colMapDir(s: SparkSession, d: String): String =
    StageUtil.staged("colmap", d) { dir =>
      colMapWriteData(s, d, dir)
      colMapWriteV1(s, dir)
      colMapWriteV2(s, dir)
    }

  private[graft] def colMapWriteData(s: SparkSession, d: String,
                                     dir: String): Unit =
    Tables.orders(s, d)
      .select(col("o_orderkey").as("c_1"),
        col("o_totalprice").as("c_2"),
        col("o_orderpriority").as("c_3"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/data")

  private[graft] def colMapWriteV1(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    Seq((1, "c_1", "o_orderkey"), (2, "c_2", "o_totalprice"),
      (3, "c_3", "o_orderpriority"))
      .toDF("fid", "phys", "logical")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/map_v1")
  }

  /** The rename + drop commit is THIS WRITE ALONE — a sidecar swap;
    * the data dir is never touched (ScansSpec snapshots it across this
    * call). */
  private[graft] def colMapWriteV2(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    Seq((1, "c_1", "o_orderkey"), (2, "c_2", "price_usd"))
      .toDF("fid", "phys", "logical")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/map_v2")
  }

  /** Read the data through a mapping version: select ONLY the mapped
    * physical columns (the dropped column is pruned at the scan),
    * aliased to that version's logical names. The mapping is ≤3-row
    * driver metadata — the catalog read every table format does. */
  private[graft] def colMapRead(s: SparkSession, dir: String,
                                ver: String): DataFrame = {
    val m = Tables.read(s, s"$dir/map_$ver")
      .orderBy(col("fid")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    Tables.read(s, s"$dir/data")
      .select(m.map { case (p, l) => col(p).as(l) }.toIndexedSeq: _*)
  }

  def scanColumnMapping(s: SparkSession, d: String): DataFrame = {
    val dir = colMapDir(s, d)
    def summarize(ver: String): DataFrame = {
      val df = colMapRead(s, dir, ver)
      val priceCol = df.columns.find(c => c == "o_totalprice" ||
        c == "price_usd").get
      df.agg(count(lit(1)).as("n_rows"),
          sum(expr(s"CAST(round($priceCol * 100) AS BIGINT)")).as("cents"),
          sum(col("o_orderkey")).cast("bigint").as("key_sum"))
        .select(lit(ver).as("version"),
          lit(df.columns.mkString(",")).as("cols"),
          col("n_rows"), col("cents"), col("key_sum"))
    }
    summarize("v1").unionByName(summarize("v2"))
  }

  /** SCHEMA EVOLUTION THROUGH THE WRITE PATH (VERDICT r14 task 5) —
    * the ALTER TABLE ADD COLUMN + backfill shape every long-lived
    * table hits, which scan_evolving (mergeSchema on read) and
    * scan_column_mapping (rename/drop, sidecar-only) both stop short
    * of: a COW merge commit ADDS a column mid-life.
    *  - v1: orders staged as physical (c_1, c_2, c_3), partitioned by
    *    priority, with the field-id mapping sidecar map_v1 binding
    *    them to (o_orderkey, o_totalprice, o_orderpriority);
    *  - the evolving commit: ONLY the 1-URGENT partition's files are
    *    COW-rewritten carrying the NEW physical column c_4
    *    (= o_orderkey % 3) and the sidecar gains the v2 binding
    *    (fid 4 → o_flag). Every other partition's files are BYTE-
    *    UNTOUCHED (ScansSpec hashes them across the commit) — at
    *    100 TB an ADD COLUMN that rewrote the table would be a
    *    non-starter; rewriting only the partitions a merge touches is
    *    the real cost model;
    *  - the read resolves the mapping sidecar (driver metadata),
    *    requests the v2 physical schema, and pre-evolution files
    *    NULL-FILL the missing column at the scan — no mergeSchema
    *    footer sweep, the field-id discipline every table format uses.
    * The oracle replays the null-fill as a literal CASE over `orders`
    * (flagged exactly where the commit rewrote). ScansSpec additionally
    * pins that a query over pre-evolution columns PRUNES c_4 from the
    * read schema. */
  private[graft] def evolveDir(s: SparkSession, d: String): String =
    StageUtil.staged("evolve", d) { dir =>
      evolveStage(s, d, dir)
      evolveCommit(s, d, dir)
    }

  private[graft] def evolveStage(s: SparkSession, d: String,
                                 dir: String): Unit = {
    import s.implicits._
    Tables.orders(s, d)
      .select(col("o_orderkey").as("c_1"), col("o_totalprice").as("c_2"),
        col("o_orderpriority").as("c_3"), col("o_orderpriority").as("pr"))
      .write.partitionBy("pr").mode(SaveMode.Overwrite)
      .parquet(s"$dir/data")
    Seq((1, "c_1", "o_orderkey", "BIGINT"),
      (2, "c_2", "o_totalprice", "DOUBLE"),
      (3, "c_3", "o_orderpriority", "STRING"))
      .toDF("fid", "phys", "logical", "dtype")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/map_v1")
  }

  /** The ADD COLUMN merge commit: dynamic-overwrite ONLY the urgent
    * partition with files that carry the new physical column, then
    * publish the widened mapping. */
  private[graft] def evolveCommit(s: SparkSession, d: String,
                                  dir: String): Unit = {
    import s.implicits._
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("c_1"),
          col("o_totalprice").as("c_2"),
          col("o_orderpriority").as("c_3"),
          (col("o_orderkey") % 3).as("c_4"),
          col("o_orderpriority").as("pr"))
        .write.partitionBy("pr").mode(SaveMode.Overwrite)
        .parquet(s"$dir/data")
    } finally prev match {
      case Some(v) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    Seq((1, "c_1", "o_orderkey", "BIGINT"),
      (2, "c_2", "o_totalprice", "DOUBLE"),
      (3, "c_3", "o_orderpriority", "STRING"),
      (4, "c_4", "o_flag", "BIGINT"))
      .toDF("fid", "phys", "logical", "dtype")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/map_v2")
  }

  /** Read through a mapping version: the sidecar (≤4-row driver
    * metadata) supplies the requested PHYSICAL schema — files missing
    * a physical column null-fill it at the scan — aliased to the
    * version's logical names. */
  private[graft] def evolveRead(s: SparkSession, dir: String,
                                ver: String): DataFrame = {
    val m = Tables.read(s, s"$dir/map_$ver")
      .orderBy(col("fid")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val ddl = (m.map { case (p, _, t) => s"$p $t" } :+ "pr STRING")
      .mkString(", ")
    // not Tables.read: the mapped schema is given, nothing is inferred
    s.read.schema(ddl).parquet(s"$dir/data")
      .select(m.map { case (p, l, _) => col(p).as(l) }.toIndexedSeq: _*)
  }

  def sinkMergeEvolve(s: SparkSession, d: String): DataFrame = {
    val dir = evolveDir(s, d)
    evolveRead(s, dir, "v2")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_flag")).as("n_flagged"),
        sum(col("o_flag")).cast("bigint").as("flag_sum"),
        sum(col("o_orderkey")).cast("bigint").as("key_sum"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_cached" -> scanCached _,
    "sink_merge_evolve" -> sinkMergeEvolve _,
    "scan_custom_source" -> scanCustomSource _,
    "scan_agg_pushdown" -> scanAggPushdown _,
    "scan_keygrouped" -> scanKeygrouped _,
    "scan_limit_pushdown" -> scanLimitPushdown _,
    "scan_runtime_filter" -> scanRuntimeFilter _,
    "scan_stats_report" -> scanStatsReport _,
    "scan_colstats_cbo" -> scanColstatsCbo _,
    "sink_custom" -> sinkCustom _,
    "sink_clustered_write" -> sinkClusteredWrite _,
    "maintenance_zorder" -> maintenanceZorder _,
    "scan_partitioned" -> scanPartitioned _,
    "scan_metadata_cols" -> scanMetadataCols _,
    "scan_parquet" -> scanParquet _,
    "scan_projected" -> scanProjected _,
    "scan_rowgroup_prune" -> scanRowgroupPrune _,
    "scan_bloom_prune" -> scanBloomPrune _,
    "scan_manifest_prune" -> scanManifestPrune _,
    "scan_manifest_dpp" -> scanManifestDpp _,
    "scan_partition_evolution" -> scanPartitionEvolution _,
    "scan_csv" -> scanCsv _,
    "scan_binaryfile" -> scanBinaryFile _,
    "scan_text" -> scanText _,
    "maintenance_stats" -> maintenanceStats _,
    "scan_orc" -> scanOrc _,
    "scan_json" -> scanJson _,
    "scan_xml" -> scanXml _,
    "scan_malformed" -> scanMalformed _,
    "scan_evolving" -> scanEvolving _,
    "maintenance_compact" -> maintenanceCompact _,
    "sink_parquet" -> sinkParquet _,
    "sink_dynamic_overwrite" -> sinkDynamicOverwrite _,
    "sink_merge_cow" -> sinkMergeCow _,
    "sink_merge_mor" -> sinkMergeMor _,
    "sink_merge_occ" -> sinkMergeOcc _,
    "maintenance_compact_occ" -> maintenanceCompactOcc _,
    "sink_merge_occ_serializable" -> sinkMergeOccSerializable _,
    "sink_merge_positional" -> sinkMergePositional _,
    "scan_time_travel" -> scanTimeTravel _,
    "scan_time_travel_asof" -> scanTimeTravelAsof _,
    "maintenance_vacuum" -> maintenanceVacuum _,
    "maintenance_vacuum_orphans" -> maintenanceVacuumOrphans _,
    "maintenance_mor_compact" -> maintenanceMorCompact _,
    "sink_wap" -> sinkWap _,
    "scan_column_mapping" -> scanColumnMapping _,
    "scan_row_lineage" -> scanRowLineage _,
    "scan_secondary_index" -> scanSecondaryIndex _,
    "scan_index_refresh" -> scanIndexRefresh _,
    "scan_zorder_prune" -> scanZorderPrune _,
    "scan_encrypted" -> scanEncrypted _,
    "pipeline_backfill" -> pipelineBackfill _,
    "scan_csv_multiline" -> scanCsvMultiline _
  )

  def oracle: Map[String, String] = Map(
    // layout changes I/O, never results: same slice on the raw fixture
    "scan_rowgroup_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_price
        |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 300""".stripMargin,
    // metadata pruning changes planning I/O, never results
    "scan_manifest_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 200 AND 450""".stripMargin,
    // runtime-derived pruning changes planning I/O, never results: the
    // oracle replays the monitoring query AND the hour slice on the raw
    // fixture (same (count desc, hour asc) tie-break)
    "scan_manifest_dpp" ->
      """WITH hrs AS (
        |  SELECT date_trunc('hour', ts)::TIMESTAMP AS hr, count(*) AS n
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY 1 ORDER BY n DESC, hr ASC LIMIT 2)
        |SELECT date_trunc('hour', e.ts)::TIMESTAMP AS hr, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events e
        |JOIN hrs h ON date_trunc('hour', e.ts)::TIMESTAMP = h.hr
        |GROUP BY 1, 2""".stripMargin,
    // spec evolution changes layout epoch by epoch, never results: the
    // month partitions equal the date range by construction
    "scan_partition_evolution" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-11-01'
        |  AND o_orderdate < TIMESTAMP '1998-03-01'
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1""".stripMargin,
    // an index prunes I/O, never results: same lookup on the raw fixture
    "scan_bloom_prune" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        |FROM orders
        |WHERE o_orderkey IN (7, 611, 1021, 1223, 1379)""".stripMargin,
    // caching must be result-invisible: the oracle is the plain query
    "scan_cached" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(round(sum(l_quantity)) AS BIGINT) AS qty,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "scan_metadata_cols" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  TRUE AS path_matches
        |FROM orders GROUP BY 1""".stripMargin,
    "scan_text" ->
      "SELECT doc_id, text FROM documents",
    "maintenance_stats" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv_ok,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_ok,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_ck,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_ck,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv_st,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_st,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS ndv_pr,
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_pr,
        |    CAST(count(DISTINCT o_totalprice) AS BIGINT) AS ndv_tp,
        |    CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_tp,
        |    CAST(count(DISTINCT o_orderdate) AS BIGINT) AS ndv_od,
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn_od
        |  FROM orders)
        |SELECT 'o_orderkey' AS col_name, ndv_ok AS ndv, nn_ok AS n_null,
        |       n AS n_rows FROM m
        |UNION ALL SELECT 'o_custkey', ndv_ck, nn_ck, n FROM m
        |UNION ALL SELECT 'o_orderstatus', ndv_st, nn_st, n FROM m
        |UNION ALL SELECT 'o_orderpriority', ndv_pr, nn_pr, n FROM m
        |UNION ALL SELECT 'o_totalprice', ndv_tp, nn_tp, n FROM m
        |UNION ALL SELECT 'o_orderdate', ndv_od, nn_od, n FROM m""".stripMargin,
    // replays the stage → binaryFile scan → decode round trip from the
    // source table itself: file length must equal the UTF-8 byte length
    // of the text that was staged (no staged-path coupling, no race)
    "scan_binaryfile" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS length,
        |       text
        |FROM documents WHERE doc_id < 50""".stripMargin,
    "maintenance_zorder" ->
      """WITH z AS (
        |  SELECT o_custkey,
        |    o_custkey & 65535 AS x,
        |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE) & 65535
        |      AS y
        |  FROM orders),
        |m AS (
        |  SELECT o_custkey, x, y,
        |    list_reduce(list_prepend(0::BIGINT,
        |      [(((x >> b) & 1)::BIGINT << (2 * b))
        |       + (((y >> b) & 1)::BIGINT << (2 * b + 1))
        |       for b in range(0, 16)]),
        |      (a, v) -> a + v) AS zval
        |  FROM z)
        |SELECT zval >> 10 AS bucket, count(*) AS n_rows,
        |  min(o_custkey) AS ck_min, max(o_custkey) AS ck_max,
        |  CAST(min(y) AS BIGINT) AS day_min, CAST(max(y) AS BIGINT) AS day_max
        |FROM m GROUP BY bucket""".stripMargin,
    "scan_partitioned" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice), 4) AS sum_price
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderpriority""".stripMargin,
    "scan_parquet" -> "SELECT * FROM orders",
    "sink_clustered_write" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT o_orderkey) AS n_keys,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents,
        |       TRUE AS non_overlapping, TRUE AS multi_file
        |FROM orders""".stripMargin,
    "sink_custom" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT o_orderkey) AS n_keys,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS sum_cents
        |FROM orders""".stripMargin,
    "scan_custom_source" ->
      """SELECT 't' || (i % 10) AS tag, count(*) AS n,
        |       CAST(sum((i * 2654435761) % 1000003) AS BIGINT) AS sum_val
        |FROM range(0, 100000) t(i)
        |WHERE i >= 1000 AND i < 50000
        |GROUP BY 1""".stripMargin,
    "scan_agg_pushdown" ->
      """SELECT 't' || (i % 10) AS tag, count(*) AS n,
        |       min(i) AS min_id, max(i) AS max_id,
        |       CAST(sum(i) AS BIGINT) AS sum_id,
        |       avg(i) AS avg_id
        |FROM range(0, 100000) t(i)
        |WHERE i >= 1000 AND i < 50000
        |GROUP BY 1""".stripMargin,
    "scan_colstats_cbo" ->
      """SELECT 't' || (i % 10) AS tag, count(*) AS n,
        |       CAST(sum(2 * ((i * 2654435761) % 1000003)) AS BIGINT)
        |         AS sum_vals,
        |       min(i) AS min_id, max(i) AS max_id
        |FROM range(0, 50) t(i)
        |GROUP BY 1""".stripMargin,
    "scan_keygrouped" ->
      """SELECT 't' || (i % 10) AS tag, count(*) AS n,
        |       CAST(sum((i * 2654435761) % 1000003) AS BIGINT) AS sum_val,
        |       min(i) AS min_id, max(i) AS max_id
        |FROM range(0, 100000) t(i)
        |GROUP BY 1""".stripMargin,
    "scan_limit_pushdown" ->
      """SELECT 'limit' AS leg, i AS id,
        |       (i * 2654435761) % 1000003 AS val
        |FROM range(5, 12) t(i)
        |UNION ALL
        |SELECT 'topn', i, (i * 2654435761) % 1000003
        |FROM range(99995, 100000) t(i)""".stripMargin,
    "scan_runtime_filter" ->
      """SELECT i * 12500 AS id,
        |       ((i * 12500) * 2654435761) % 1000003 AS val,
        |       't' || ((i * 12500) % 10) AS tag
        |FROM range(0, 8) t(i) WHERE i % 2 = 0""".stripMargin,
    // every user_id % 50 value matches exactly one dim id, so the join
    // is total and the readout is a pure function of events
    "scan_stats_report" ->
      """SELECT 't' || ((user_id % 50) % 10) AS tag,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events GROUP BY 1""".stripMargin,
    // the ADD COLUMN commit replayed relationally: flagged exactly
    // where the COW rewrite landed (the 1-URGENT partition), NULL
    // elsewhere — the null-fill the mapping read performs
    "sink_merge_evolve" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN o_orderpriority = '1-URGENT'
        |             THEN o_orderkey % 3 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |           THEN o_orderkey % 3 END) AS BIGINT) AS flag_sum,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1""".stripMargin,
    "scan_projected" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_quantity < 10""".stripMargin,
    "scan_csv" ->
      "SELECT p_partkey, p_name, p_brand, p_size FROM part",
    "scan_orc" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    "scan_evolving" ->
      """SELECT 1 AS batch, n_nationkey, n_name,
        | CAST(NULL AS INT) AS n_regionkey FROM nation
        |UNION ALL
        |SELECT 2, n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY batch, n_nationkey""".stripMargin,
    "maintenance_compact" ->
      """SELECT count(*) AS n_rows, min(event_id) AS min_id,
        | max(event_id) AS max_id, round(sum(value), 4) AS sum_value
        |FROM events""".stripMargin,
    "scan_json" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "scan_xml" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    // the three planted bad lines are deterministic constants; min of
    // the raw records is the '9999…' overflow line ('9' sorts below
    // 'a' and 'n')
    "scan_malformed" ->
      """SELECT
        |  CAST((SELECT count(*) FROM nation) + 3 AS BIGINT) AS n_total,
        |  CAST((SELECT count(*) FROM nation) AS BIGINT) AS n_good,
        |  CAST(3 AS BIGINT) AS n_corrupt,
        |  '9999999999999999999999,BROKEN_3,5' AS corrupt_example,
        |  CAST((SELECT sum(n_nationkey) FROM nation) AS BIGINT)
        |    AS key_mass""".stripMargin,
    "sink_parquet" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the staged concatenation replayed from part itself — string
    // equality includes the embedded newline
    "scan_csv_multiline" ->
      """SELECT p_partkey, p_name || chr(10) || p_brand AS addr, p_size
        |FROM part""".stripMargin,
    // the expected post-overwrite state, expressed over orders alone:
    // touched priorities hold ONLY the doubled delta rows, untouched
    // priorities keep every original row
    "sink_dynamic_overwrite" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(round((o_totalprice * 2) * 100) AS BIGINT))
        |    AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderdate >= DATE '1997-01-01'
        |GROUP BY 1""".stripMargin,
    // the merge replayed RELATIONALLY: FULL OUTER JOIN target to the
    // deterministic source, CASE on the action — what MERGE INTO means,
    // independent of the write mechanics under test. COW and MOR share
    // it verbatim: they are COST choices (rewrite partitions vs append
    // a delete sidecar + delta), never semantic ones
    "sink_merge_mor" -> mergeOracleSql,
    "sink_merge_cow" -> mergeOracleSql,
    // position deletes are the third write strategy for the same merge
    "sink_merge_positional" -> mergeOracleSql,
    // compaction changes file lifecycle and read cost, never results:
    // the COW/MOR merge oracle verbatim (third write strategy, same
    // semantics)
    "maintenance_mor_compact" -> mergeOracleSql,
    // WAP publishes the audited v2 and never the dropped-rows branch:
    // the readout through HEAD is the v2 summary; the lifecycle facts
    // are the invariants the gate must establish
    "sink_wap" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                           THEN o_totalprice * 2
        |                           ELSE o_totalprice END * 100) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  'm2' AS published, TRUE AS bad_branch_unpublished
        |FROM orders""".stripMargin,
    // crypto changes bytes at rest, never results: same slice raw
    "scan_encrypted" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders WHERE o_orderkey < 500
        |GROUP BY 1""".stripMargin,
    // clustering prunes I/O, never results: same box on the raw fixture
    "scan_zorder_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE (o_custkey & 65535) BETWEEN 64 AND 127
        |  AND (date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
        |       & 65535) BETWEEN 9216 AND 9279""".stripMargin,
    // an index prunes I/O, never results: same lookup on the raw fixture
    "scan_secondary_index" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_custkey IN (7, 23, 61, 102, 137)
        |GROUP BY 1""".stripMargin,
    // after the backfill the target must equal the full rebuild; the
    // stale set is closed-form: the withheld tail months + the
    // late-data month
    "pipeline_backfill" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  (strftime(o_orderdate, '%Y-%m') >= '2001-01'
        |   OR strftime(o_orderdate, '%Y-%m') = '1996-06') AS was_stale
        |FROM orders
        |GROUP BY 1, 4""".stripMargin,
    // row identity is invariant by construction; the two CDC verdicts
    // are closed-form over the changed-key range
    "scan_row_lineage" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c,
        |    o_orderkey + 1000000000 AS rid
        |  FROM orders),
        |ch AS (SELECT count(*) AS nch FROM t WHERE k BETWEEN 100 AND 400)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c) AS BIGINT) AS cents,
        |  CAST(sum(rid) AS BIGINT) AS rowid_sum_v1,
        |  CAST(sum(rid) AS BIGINT) AS rowid_sum_v2,
        |  (SELECT CAST(nch AS BIGINT) FROM ch) AS row_updates,
        |  (SELECT CAST(nch AS BIGINT) FROM ch) AS price_stable,
        |  (SELECT CAST(nch AS BIGINT) FROM ch) AS key_deletes,
        |  (SELECT CAST(nch AS BIGINT) FROM ch) AS key_inserts
        |FROM t""".stripMargin,
    // a mapping commit is metadata-only: both versions summarize the
    // same bytes; only the exposed logical schema differs
    "scan_column_mapping" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM orders)
        |SELECT 'v1' AS version,
        |  'o_orderkey,o_totalprice,o_orderpriority' AS cols,
        |  n_rows, cents, key_sum FROM s
        |UNION ALL
        |SELECT 'v2', 'o_orderkey,price_usd', n_rows, cents, key_sum
        |FROM s""".stripMargin,
    // GC changes file lifecycle, never live results: the v2 summary is
    // the deterministic update over orders; the lifecycle booleans are
    // the invariants the vacuum must establish
    // AS OF resolution replayed: each probe's resolved version is a
    // constant of the pinned commit log; the summaries are the CASE
    // replays of the cumulative COW updates at that version
    "scan_time_travel_asof" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c1,
        |    CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                    THEN o_totalprice * 2
        |                    ELSE o_totalprice END * 100) AS BIGINT) AS c2,
        |    CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                    THEN o_totalprice * 2
        |                    WHEN o_orderkey BETWEEN 500 AND 700
        |                    THEN o_totalprice * 3
        |                    ELSE o_totalprice END * 100) AS BIGINT) AS c3
        |  FROM orders)
        |SELECT '2024-01-15T00:00:00Z' AS asof, CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(c1) AS BIGINT)
        |    AS cents, CAST(sum(k) AS BIGINT) AS key_sum
        |FROM t
        |UNION ALL
        |SELECT '2024-02-15T00:00:00Z', CAST(2 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(c2) AS BIGINT),
        |  CAST(sum(k) AS BIGINT)
        |FROM t
        |UNION ALL
        |SELECT '2024-03-15T00:00:00Z', CAST(3 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(c3) AS BIGINT),
        |  CAST(sum(k) AS BIGINT)
        |FROM t""".stripMargin,
    // the orphan sweep must leave published history byte-stable: the
    // readout is the v2 snapshot through HEAD + disk-derived lifecycle
    // booleans (all true after a completed sweep)
    "maintenance_vacuum_orphans" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                           THEN o_totalprice * 2
        |                           ELSE o_totalprice END * 100) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  TRUE AS orphans_gone, TRUE AS live_intact,
        |  TRUE AS branch_manifest_gone
        |FROM orders""".stripMargin,
    // the refreshed index must serve the POST-merge table: probe-key
    // lookups replay the COW update relationally
    "scan_index_refresh" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                           THEN o_totalprice * 2
        |                           ELSE o_totalprice END * 100) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders
        |WHERE o_custkey IN (7, 23, 61, 102, 137)
        |GROUP BY o_custkey""".stripMargin,
    "maintenance_vacuum" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                           THEN o_totalprice * 2
        |                           ELSE o_totalprice END * 100) AS BIGINT))
        |    AS BIGINT) AS cents,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  TRUE AS expired_gone, TRUE AS live_intact
        |FROM orders""".stripMargin,
    // versioning changes file lifecycle, never results: v1 is the raw
    // table, v2 the deterministic update, cdc their keyed difference
    "scan_time_travel" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c1,
        |    CAST(round(CASE WHEN o_orderkey BETWEEN 100 AND 400
        |                    THEN o_totalprice * 2
        |                    ELSE o_totalprice END * 100) AS BIGINT) AS c2
        |  FROM orders)
        |SELECT 'v1' AS snapshot, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(c1) AS BIGINT) AS cents, CAST(sum(k) AS BIGINT) AS key_sum
        |FROM t
        |UNION ALL
        |SELECT 'v2', CAST(count(*) AS BIGINT), CAST(sum(c2) AS BIGINT),
        |  CAST(sum(k) AS BIGINT)
        |FROM t
        |UNION ALL
        |SELECT 'cdc', CAST(count(*) AS BIGINT),
        |  CAST(sum(c2 - c1) AS BIGINT), CAST(sum(k) AS BIGINT)
        |FROM t WHERE c1 <> c2""".stripMargin,
    // concurrency changes commit ORDER, never results: A's snapshot is
    // the low-range update, B's rebased snapshot both updates, C's
    // abort leaves B's state — all three replayed from orders alone
    "sink_merge_occ" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |v2 AS (
        |  SELECT k, CASE WHEN k BETWEEN 100 AND 400 THEN p * 2 ELSE p END
        |    AS p
        |  FROM t),
        |v3 AS (
        |  SELECT k,
        |    CASE WHEN k BETWEEN mk - 300 AND mk THEN p * 3 ELSE p END AS p
        |  FROM v2, mx),
        |s2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM v2),
        |s3 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM v3)
        |SELECT 'A' AS writer, 'committed' AS outcome,
        |  CAST(2 AS BIGINT) AS version, n_rows, cents, key_sum FROM s2
        |UNION ALL
        |SELECT 'B', 'rebased', CAST(3 AS BIGINT), n_rows, cents, key_sum
        |FROM s3
        |UNION ALL
        |SELECT 'C', 'aborted', CAST(3 AS BIGINT), n_rows, cents, key_sum
        |FROM s3""".stripMargin,
    // compaction changes LAYOUT, never content: v2 (pre-fold MOR), v3
    // (rebased fold + carried delta) and v4 (second fold) summarize
    // identically; v5 applies the retried COW writer's range update on
    // top — all replayed from orders alone
    "maintenance_compact_occ" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |c12 AS (
        |  SELECT k, CASE WHEN k % 10 = 3 THEN p * 2
        |                 WHEN k % 10 = 7 THEN p * 3 ELSE p END AS p
        |  FROM t),
        |v5 AS (
        |  SELECT k, CASE WHEN k BETWEEN 100 AND 400 THEN p * 2 ELSE p END
        |    AS p
        |  FROM c12),
        |s12 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM c12),
        |s5 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM v5)
        |SELECT 'v2_writer_first' AS label, 'committed' AS outcome,
        |  CAST(2 AS BIGINT) AS version, n_rows, cents, key_sum FROM s12
        |UNION ALL
        |SELECT 'v3_compact_rebased', 'rebased', CAST(3 AS BIGINT),
        |  n_rows, cents, key_sum FROM s12
        |UNION ALL
        |SELECT 'v4_compact_committed', 'committed', CAST(4 AS BIGINT),
        |  n_rows, cents, key_sum FROM s12
        |UNION ALL
        |SELECT 'w2_stale', 'aborted', CAST(4 AS BIGINT),
        |  n_rows, cents, key_sum FROM s12
        |UNION ALL
        |SELECT 'v5_writer_retry', 'committed', CAST(5 AS BIGINT),
        |  n_rows, cents, key_sum FROM s5""".stripMargin,
    // write skew replayed from orders: under SI writer B's addend uses
    // the PRE-A count (c1); under serializable B aborts, re-reads, and
    // lands the serial A→B result with the post-A count (c2)
    "sink_merge_occ_serializable" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |mx AS (SELECT max(o_orderkey) AS mk FROM orders),
        |c1 AS (
        |  SELECT count(*) AS c FROM t
        |  WHERE k BETWEEN 100 AND 400
        |    AND CAST(round(p * 100) AS BIGINT) > 10000000),
        |v2 AS (
        |  SELECT k, CASE WHEN k BETWEEN 100 AND 400 THEN p * 2 ELSE p END
        |    AS p
        |  FROM t),
        |c2 AS (
        |  SELECT count(*) AS c FROM v2
        |  WHERE k BETWEEN 100 AND 400
        |    AND CAST(round(p * 100) AS BIGINT) > 10000000),
        |v3si AS (
        |  SELECT k, CASE WHEN k BETWEEN mk - 300 AND mk
        |    THEN p * 3 + (c1.c % 97) / 100.0 ELSE p END AS p
        |  FROM v2, mx, c1),
        |v3ser AS (
        |  SELECT k, CASE WHEN k BETWEEN mk - 300 AND mk
        |    THEN p * 3 + (c2.c % 97) / 100.0 ELSE p END AS p
        |  FROM v2, mx, c2),
        |s2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM v2),
        |s3si AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM v3si),
        |s3ser AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(sum(k) AS BIGINT) AS key_sum
        |  FROM v3ser)
        |SELECT 'si' AS mode, 'A' AS writer, 'committed' AS outcome,
        |  CAST(2 AS BIGINT) AS version, n_rows, cents, key_sum FROM s2
        |UNION ALL
        |SELECT 'si', 'B', 'rebased', CAST(3 AS BIGINT),
        |  n_rows, cents, key_sum FROM s3si
        |UNION ALL
        |SELECT 'ser', 'A', 'committed', CAST(2 AS BIGINT),
        |  n_rows, cents, key_sum FROM s2
        |UNION ALL
        |SELECT 'ser', 'B', 'aborted_retry', CAST(3 AS BIGINT),
        |  n_rows, cents, key_sum FROM s3ser""".stripMargin
  )

  private val mergeOracleSql: String =
    """WITH tgt AS (
      |  SELECT o_orderkey AS k, o_totalprice AS price,
      |         o_orderpriority AS pri
      |  FROM orders),
      |src AS (
      |  SELECT k, 'U' AS op, price * 2 AS sprice, pri FROM tgt
      |  WHERE k % 10 = 3 AND pri IN ('1-URGENT', '2-HIGH')
      |  UNION ALL
      |  SELECT k, 'D', NULL, pri FROM tgt
      |  WHERE k % 10 = 7 AND pri IN ('1-URGENT', '2-HIGH')
      |  UNION ALL
      |  SELECT k + 100000000, 'I', price + 1000.0, pri FROM tgt
      |  WHERE k % 100 = 1 AND pri IN ('1-URGENT', '2-HIGH')),
      |merged AS (
      |  SELECT coalesce(t.k, s.k) AS k,
      |    CASE WHEN s.op IN ('U', 'I') THEN s.sprice
      |         ELSE t.price END AS price,
      |    coalesce(t.pri, s.pri) AS pri
      |  FROM tgt t FULL OUTER JOIN src s ON t.k = s.k
      |  WHERE s.op IS NULL OR s.op <> 'D')
      |SELECT pri AS o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents,
      |  CAST(sum(k) AS BIGINT) AS key_sum
      |FROM merged GROUP BY pri""".stripMargin
}
