package graft.sources

import graft.operators.MorPlanner
import graft.operators.MorPlanner.EqualityDeleteGroup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end merge-on-read compaction over real parquet files — the Spark
  * re-expression of the reference's compaction driver + executor
  * (`core/src/compaction/mod.rs:37-72`,
  * `core/src/executor/datafusion/mod.rs:101-190`).
  *
  * Scan with deletes applied → layout → partitioned write → per-file
  * stats from the written footers → commit manifest.
  *
  * Scale design (100 TB):
  *   - Positions come from the parquet `_metadata.row_index` column — a
  *     zero-shuffle per-file row index fabricated at scan time, exactly like
  *     the reference's running `index_start += batch.num_rows()`
  *     (`iceberg_file_task_scan.rs:283-314`). The window-based fixture path
  *     (`MorFixtures`) exists only for oracle reproducibility.
  *   - Per-file sequence numbers attach via a broadcast join against the
  *     (tiny) task list — no shuffle of the data side.
  *   - Delete files are deduped by path before reading (J4,
  *     `compaction/mod.rs:131-153`), so a delete file referenced by many
  *     data tasks is read and applied once.
  *   - Equality-delete files are read with only their equality columns
  *     projected (P4, `parser/proto.rs:137-142`).
  *   - A catalog compaction reads its input through the snapshot's planned,
  *     delete-masked scan ([[PlannedInput]]) and, with at least
  *     `targetPartitions` input files and no sort or fanout, writes whole
  *     files bin-packed by bytes into `targetPartitions` tasks (S4,
  *     `iceberg_file_task_scan.rs:114-170`) with no exchange. Otherwise
  *     the write repartitions to `targetPartitions` round-robin, as the
  *     reference does when the natural partitioning differs (X1,
  *     `datafusion_processor.rs:121-131`), and fans out by materialized
  *     partition-transform columns (S7, `datafusion/mod.rs:176-188`).
  *   - Per-file counts, bounds and null counts (S6,
  *     `parser/proto.rs:404-434`) come from the written footers on the
  *     driver; only requested stats columns a footer cannot bound are
  *     audited by one distributed pass over the written files.
  */
object CompactionRunner {

  /** Serializes compactions that override the session-global shuffle conf. */
  private val shuffleOverrideLock = new Object

  /** One data-file scan task: path + the file's sequence number + format
    * (FileScanTask, `core/src/parser/proto.rs:113-131`; format enum
    * `core/proto/iceberg.proto:11-15` — parquet / orc / avro. Parquet and
    * ORC go through the Spark DataSource; avro goes through [[AvroScan]],
    * a distributed reader on the avro runtime jars — the spark-avro
    * connector is absent from this environment's classpath).
    */
  final case class DataFileTask(path: String, seqNum: Long, format: String = "parquet")

  /** A position-delete file: parquet rows (`file_path`, `pos`) or a
    * deletion-vector sidecar. `format` carries the snapshot entry's
    * recorded value ("parquet" / "dv") so readers dispatch without a
    * per-file magic sniff; "" (externally-sourced tasks) sniffs.
    * `sizeBytes` is the snapshot entry's recorded file size (-1 unknown):
    * broadcast/decode gates consult it FIRST so their decisions agree
    * with the keyed-layout admission (which reads the same entry sizes) —
    * a transient stat failure must never flip a previously-admitted plan
    * shape at runtime.
    */
  final case class PosDeleteTask(
      path: String, format: String = "", sizeBytes: Long = -1L)

  /** One parquet footer's manifest metadata ([[parquetFooterMetrics]]):
    * rows and bytes are -1 when unknown; absent columns have no bound or
    * count.
    */
  final case class FooterMetrics(
      rows: Long,
      bytes: Long,
      colMins: Map[String, String],
      colMaxs: Map[String, String],
      nullCounts: Map[String, Long])

  object FooterMetrics {
    val Unreadable: FooterMetrics = FooterMetrics(-1L, -1L, Map.empty, Map.empty, Map.empty)
  }

  /** An equality-delete file: path, its sequence number, and the equality
    * columns — preferably as field IDs (`equalityIds`, the reference's
    * `equality_ids`, resolved against each file's id metadata so renames
    * between delete and data files are harmless), with `equalityCols`
    * names as the fallback for files without id metadata.
    */
  final case class EqDeleteTask(
      path: String,
      seqNum: Long,
      equalityCols: Seq[String],
      equalityIds: Seq[Int] = Nil,
      sizeBytes: Long = -1L)

  final case class CompactionConfig(
      targetPartitions: Int = 4,
      partitionTransforms: Seq[(String, Column)] = Nil,
      statsCols: Seq[String] = Nil,
      // range-cluster output on these columns: repartitionByRange + sort
      // within files, so per-file min/max stats become near-disjoint and
      // stats-based pruning (see [[pruneByStats]]) skips most files
      clusterBy: Seq[String] = Nil,
      // Z-ORDER cluster output on 2–4 columns: rows sort along the Morton
      // curve of their range-normalized ordinals, so per-file min/max
      // bounds are tight in EVERY clustered dimension — box predicates
      // prune files that no single-column sort order could skip (Iceberg's
      // `rewrite_data_files` zorder strategy). Mutually exclusive with
      // clusterBy; takes one extra column-pruned pass over the inputs for
      // the normalization ranges (parquet footers make this metadata-only
      // on a production table)
      zOrderBy: Seq[String] = Nil,
      // the reference's `batch_parallelism` (`core/src/config/mod.rs:23`):
      // execution parallelism of the rewrite. Spark analog is the job's
      // shuffle-partition count, applied for the duration of the compact
      // and restored after
      batchParallelism: Option[Int] = None,
      // the reference's `data_file_prefix` (`config/mod.rs:25`): output
      // data files are named `<prefix>-...` instead of Spark's `part-...`
      dataFilePrefix: Option[String] = None,
      // incremental mode: delete files are APPLIED to the rewritten delta
      // but NOT retired — they may still suppress rows in data files
      // outside the delta, so the commit must keep them pending
      retireDeleteFiles: Boolean = true)

  /** A rewrite's input already planned elsewhere — a snapshot's scan
    * state, deletes applied. `files` lists each scan group's whole input
    * files (key, bytes); `read(None)` reads them as planned, and
    * `read(Some(tasks))` reads one partition per task, a task being a scan
    * group's index and the keys of the whole files it reads in order.
    */
  final case class PlannedInput(
      files: Seq[Seq[graft.plans.TaskGrouper.ScanTask]],
      read: Option[Seq[(Int, Seq[String])]] => DataFrame)

  final case class DataFileStats(
      path: String,
      sizeBytes: Long,
      recordCount: Long,
      colMins: Map[String, String],
      colMaxs: Map[String, String],
      nullCounts: Map[String, Long])

  /** Commit payload — what the reference sends back as `DataFile`s + what the
    * transaction removes (`Transaction::rewrite_files`,
    * `compaction/mod.rs:66-72`). The counters mirror `RewriteFilesStat`
    * (`executor/mod.rs:81-87`, filled at `datafusion/mod.rs:137-142`):
    * rewritten files/bytes are the consumed inputs, added is the output.
    */
  final case class CommitManifest(
      addedFiles: Seq[DataFileStats],
      removedDataFiles: Seq[String],
      removedDeleteFiles: Seq[String],
      outputRecordCount: Long,
      rewrittenFilesCount: Long = 0L,
      rewrittenBytes: Long = 0L,
      addedFilesCount: Long = 0L,
      failedFilesCount: Long = 0L)

  /** The parquet files directly inside a local directory, sorted — the
    * task-list discovery idiom every caller was hand-rolling. Returns
    * empty for a missing directory rather than NPE-ing on `listFiles`.
    */
  def listParquet(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).fold(Seq.empty[String])(
      _.filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq)

  /** J4: dedup tasks by path, first occurrence wins (HashMap-insert
    * semantics of `compaction/mod.rs:131-153`).
    */
  def dedupByPath[T](tasks: Seq[T])(path: T => String): Seq[T] = {
    val seen = scala.collection.mutable.HashSet[String]()
    tasks.filter(t => seen.add(path(t)))
  }

  /** Canonical LITERAL form of a task path (`file:///abs/path`, scheme
    * added to bare local paths, file-scheme slash count normalized — no
    * percent work in either direction; see [[canonDecoded]] for the
    * domain contract).
    */
  def canonPath(p: String): String =
    if (p.contains("://") || p.startsWith("file:"))
      // already a URI (s3://, hdfs://, file:///…): pass through, only
      // normalizing the file-scheme slash count to _metadata's rendering
      p.replaceFirst("^file:/+", "file:///")
    else
      // bare local path: prefix the scheme WITHOUT percent-encoding
      // (java.io.File.toURI encodes spaces etc.; _metadata.file_path's
      // Hadoop Path rendering does not)
      "file://" + new java.io.File(p).getAbsolutePath

  /** THE path-domain contract. Two renderings exist for one file:
    *
    *   - LITERAL: what catalog entries, manifests, and delete-file
    *     `file_path` rows store (`.../seg=NOT SPECIFIED/part-0.parquet`)
    *     — Iceberg locations are plain strings, never re-encoded.
    *   - ENCODED: what `_metadata.file_path` / `inputFiles` render —
    *     Hadoop's URI encoding (`NOT%20SPECIFIED`; a literal `%` becomes
    *     `%25`, so one decode is always exact).
    *
    * Everything joins in the LITERAL domain: the scan side decodes its
    * known-encoded rendering ONCE ([[canonColScan]] column-side,
    * [[canonDecoded]] driver-side); entry paths and delete rows pass
    * through [[canonPath]] untouched. Decoding a literal path would
    * corrupt names that genuinely contain `%XX`, so only the scan side
    * ever decodes.
    */
  def canonDecoded(p: String): String = {
    val c = canonPath(p)
    // '+' is protected first: URLDecoder would turn a literal '+' into a
    // space (query-string semantics paths don't share)
    try java.net.URLDecoder.decode(c.replace("+", "%2B"), "UTF-8")
    catch { case _: IllegalArgumentException => c }
  }

  /** Column-side [[canonDecoded]] for `_metadata.file_path`: normalize the
    * file-scheme slash count, then percent-decode (malformed sequences
    * fall back to the normalized form, mirroring the driver-side catch).
    */
  private def canonColScan(c: Column): Column = {
    val norm = regexp_replace(c, "^file:/+", "file:///")
    // decode only when '%' is present — it is the identity otherwise, and
    // this column is fabricated PER ROW on the MoR read path
    when(norm.contains("%"),
      coalesce(try_url_decode(regexp_replace(norm, "\\+", "%2B")), norm))
      .otherwise(norm)
  }

  /** Column-side scheme normalization for DELETE-file `file_path` rows —
    * the LITERAL domain (see [[canonDecoded]]): no percent-decoding, but
    * bare absolute paths (a foreign writer's rows) gain the scheme.
    *
    * Why no decode is safe for PRE-round-17 catalogs too: before the
    * domain contract, a scan of any %-encodable path failed LOUDLY at
    * the seq-number lookup, so no writer in this library could ever have
    * recorded an encoded delete row — the write path was unreachable for
    * exactly the paths a decode would matter for. Decoding here would
    * instead corrupt literal paths that genuinely contain `%XX`.
    */
  private def canonColDelete(c: Column): Column =
    when(c.rlike("^/"), concat(lit("file://"), c))
      .otherwise(regexp_replace(c, "^file:/+", "file:///"))

  /** Literal-domain KEYS for looking a scanned path up by task path: the
    * path as recorded, plus its Hadoop-NORMALIZED form (`"./"` segments,
    * slash counts) — `_metadata.file_path` renders normalized, so a
    * cosmetically-unnormalized task path still binds its entry.
    * Normalization round-trips through the encoded rendering (probed:
    * Hadoop treats input as literal and escapes `%` to `%25` on toUri,
    * so encode-then-decode is exact for every literal path).
    */
  def canonKeys(p: String): Seq[String] = {
    val c = canonPath(p)
    val norm =
      try canonDecoded(canonPath(
        new org.apache.hadoop.fs.Path(c).toUri.toString))
      catch { case _: IllegalArgumentException => c }
    Seq(c, norm).distinct
  }

  /** THE canonical literal-normalized key ([[canonKeys]]' normalized
    * form) — what single-key maps (the vectorized mask's) key on; the
    * scan side's [[canonDecoded]] rendering equals it by construction.
    */
  def canonKey(p: String): String = canonKeys(p).last

  /** S1+S3: scan data files and fabricate the three hidden columns. For
    * parquet the positions come from `_metadata.row_index` — zero shuffle.
    * Avro files go through [[AvroScan]], which fabricates path + position
    * inline during its single forward pass — also zero shuffle. ORC has no
    * row-index metadata column in Spark, so it falls back to a per-file
    * window (one shuffle keyed by file — the documented fallback,
    * acceptable because ORC inputs are the rare migration case). Seq
    * numbers arrive by broadcast in all paths.
    */
  def scanWithHiddenCols(spark: SparkSession, tasks: Seq[DataFileTask]): DataFrame =
    scanWithHiddenCols(spark, tasks, None)

  /** As [[scanWithHiddenCols]], but with an optional CANONICAL schema the
    * files are resolved against BY FIELD ID (§1.3 — the reference projects
    * by `project_field_ids`, `parser/proto.rs:125,137-142`): parquet tasks
    * are grouped by their physical footer schema (one driver-side footer
    * read per file — the same per-file metadata cardinality as the task
    * list itself — and ONE distributed scan per distinct historical schema,
    * not per file), then each group's columns map to canonical names via
    * their ids. A rename between file versions is invisible (ids match), a
    * canonical field missing from an old file reads as typed nulls
    * (add-column), and file columns whose ids left the canonical schema are
    * pruned (drop-column). Files carrying no ids at all (e.g. plain upsert
    * appends) resolve by name.
    */
  def scanWithHiddenCols(
      spark: SparkSession,
      tasks: Seq[DataFileTask],
      canonicalSchema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    scanWithHiddenColsGroups(spark, tasks, canonicalSchema)
      .reduce(_.unionByName(_))

  /** [[scanWithHiddenCols]] WITHOUT the final union: one frame per
    * physical-schema/format group, each already seq-joined and projected
    * to the canonical shape (so the frames union cleanly — and, more
    * importantly, each plans NARROW on its own file tasks). The DSv2
    * serving path consumes the groups individually: an inline `UnionRDD`
    * is never safe to iterate from foreign tasks, so group-wise serving
    * is what lets a multi-generation table stream file-task partitions
    * without a shuffle barrier.
    */
  def scanWithHiddenColsGroups(
      spark: SparkSession,
      tasks: Seq[DataFileTask],
      canonicalSchema: Option[org.apache.spark.sql.types.StructType]): Seq[DataFrame] = {
    val dedup = dedupByPath(tasks)(_.path)
    require(dedup.nonEmpty, "no data files to compact")
    val seqRows = dedup.flatMap(t => canonKeys(t.path).map((_, t.seqNum)))
    import spark.implicits._
    val seqDf = seqRows.toDF(MorPlanner.FilePathCol, MorPlanner.SeqNumCol)
    val byFormat = dedup.groupBy(_.format.toLowerCase).toSeq.sortBy(_._1)
    val scans = byFormat.flatMap {
      case ("parquet", ts) if canonicalSchema.isDefined =>
        val byPath = ts.map(t => t.path -> t).toMap
        schemaGroups(spark, ts.map(_.path)).map { case (fileSchema, groupPaths) =>
          // one driver-side schema resolution per DISTINCT physical
          // schema (bounded by the table's evolution history), not per
          // file — footer digests and Spark schemas are cached by path
          evolvedParquetScan(spark, groupPaths.map(byPath), fileSchema,
            canonicalSchema.get)
        }
      case ("avro", ts) =>
        Seq(AvroScan.readWithHiddenCols(spark, ts.map(_.path)))
      case (fmt, ts) => Seq {
      val inferred =
        if (fmt == "parquet") inferredParquet(spark, ts.map(_.path))
        else spark.read.format(fmt).load(ts.map(_.path): _*)
      // Schema-less parquet reads resolve by footer inference, which picks
      // ONE file's schema — if that footer carries field ids the read
      // demands ids from EVERY file, so a table mixing id-stamped
      // generations (compaction outputs) with id-less ones (plain appends
      // against a schema-less catalog) fails to scan. Only when the file
      // set is actually MIXED, strip the ids and resolve the whole read by
      // name (the documented fallback without a canonical schema); uniform
      // id-stamped sets keep their ids so eq-deletes still resolve by id.
      // The mixed check reads one footer per DISTINCT physical schema
      // (same cardinality the canonical-schema path already pays).
      val reader =
        if (fmt == "parquet" &&
            inferred.schema.fields.exists(FieldIds.idOf(_).isDefined) &&
            anyIdlessFooter(spark, ts.map(_.path)))
          spark.read.schema(FieldIds.stripIds(inferred.schema))
            .parquet(ts.map(_.path): _*)
        else inferred
      // Planning-time guard: every resolved input file must have a task
      // entry under the SAME canonical path, or the broadcast seq join
      // would silently mismatch. inputFiles is driver-side metadata (no
      // data read) and uses the same Hadoop Path rendering as _metadata.
      val taskPaths = ts.flatMap(t => canonKeys(t.path)).toSet
      val unmatched = reader.inputFiles.map(canonDecoded).filterNot(taskPaths)
      require(unmatched.isEmpty,
        s"scanned files have no seq-number task entry (path mismatch?): " +
          unmatched.take(5).mkString(", "))
      val base = reader
        .withColumn(MorPlanner.FilePathCol, canonColScan(col("_metadata.file_path")))
      val withPos =
        if (fmt == "parquet")
          base.withColumn(MorPlanner.PosCol, col("_metadata.row_index"))
        else {
          // Order by (split offset, partition-local id): a file larger than
          // maxPartitionBytes spans several splits and FilePartition packing
          // does NOT visit them in offset order, so mid alone would permute
          // positions; within one split the reader preserves file order.
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(MorPlanner.FilePathCol))
            .orderBy(col("_metadata.file_block_start"), monotonically_increasing_id())
          base.withColumn(MorPlanner.PosCol, row_number().over(w).cast("long") - 1)
        }
      withPos
    }
    }
    // per-group seq join (the broadcast side is the same driver-local seq
    // list either way, so joining before or after the union is identical).
    // A scanned file whose canonical path fails to match its task entry must
    // fail LOUDLY — an inner join here would silently drop the file's rows
    // while the manifest still removed it (data loss at commit).
    scans.map(_.join(broadcast(seqDf), Seq(MorPlanner.FilePathCol), "left_outer")
      .withColumn(MorPlanner.SeqNumCol,
        when(col(MorPlanner.SeqNumCol).isNull,
          raise_error(concat(lit("no seq-number task entry for scanned file "),
            col(MorPlanner.FilePathCol))))
          .otherwise(col(MorPlanner.SeqNumCol))))
  }

  /** Z-order the MoR-merged output: range-normalize the 2–4 cluster
    * columns to 16-bit ordinals against min/max taken from the RAW input
    * scan (bounds over the pre-delete superset are still valid bounds —
    * deletes only shrink ranges — and the column-pruned stats pass reads
    * just the cluster columns), Morton-interleave them
    * ([[graft.functions.ZOrder]]), then range-partition + sort on the
    * z-value so each output file covers a compact hypercube-ish region of
    * the clustered space. The helper column never reaches the writer.
    */
  private def zOrderCluster(
      merged: DataFrame,
      statsSource: DataFrame,
      cols: Seq[String],
      nParts: Int): DataFrame = {
    require(cols.length >= 2 && cols.length <= graft.functions.ZOrder.MaxDims,
      s"zOrderBy interleaves 2 to ${graft.functions.ZOrder.MaxDims} columns, " +
        s"got ${cols.length}")
    cols.foreach { c =>
      require(statsSource.schema(c).dataType.isInstanceOf[
          org.apache.spark.sql.types.NumericType],
        s"zOrderBy column $c must be numeric, is " +
          statsSource.schema(c).dataType.catalogString)
    }
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = statsSource.agg(aggs.head, aggs.tail: _*).head()
    if (r.isNullAt(0)) return merged // no rows to cluster
    def ord(c: String, mn: Double, mx: Double): Column =
      if (mx > mn)
        floor((col(c).cast("double") - lit(mn)) * lit(65535.0) / lit(mx - mn))
          .cast("long")
      else lit(0L)
    val ords = cols.zipWithIndex.map { case (c, j) =>
      // a column that is entirely NULL has null bounds (only the FIRST
      // column's null-min implies an empty input): it cannot discriminate,
      // so it contributes a constant ordinal instead of an NPE
      if (r.isNullAt(2 * j) || r.isNullAt(2 * j + 1)) lit(0L)
      else ord(c, r.getDouble(2 * j), r.getDouble(2 * j + 1))
    }
    val zCol = "_graft_zvalue"
    require(!merged.columns.contains(zCol), s"column $zCol already exists")
    merged
      .withColumn(zCol, graft.functions.ZOrder.interleaveC(ords: _*))
      .repartitionByRange(nParts, col(zCol))
      .sortWithinPartitions(col(zCol))
      .drop(zCol)
  }

  /** Group files by their physical parquet schema (SHA-256 of the footer
    * schema) in ONE distributed metadata job, with the GROUPING done on
    * executors too: footers are read in parallel, (digest, path) pairs
    * shuffle once keyed by digest, and the driver collects one row per
    * DISTINCT schema — member-path lists whose total size is the task list
    * planning already holds. The previous per-file path→digest collect was
    * a ~100 MB driver map at 10^6 input files even though the group count
    * is bounded by the table's evolution history. Output order and member
    * order are deterministic (sorted by path) so plans stay stable.
    */
  /** Does any of these parquet files lack top-level field ids in its
    * footer? Small sets (the common catalog-table cardinality) check
    * driver-side — a footer open is single-digit milliseconds, cheaper
    * than any Spark job; large sets reuse the distributed footer pass
    * ([[schemaGroups]], one representative read per distinct schema).
    */
  private def anyIdlessFooter(spark: SparkSession, paths: Seq[String]): Boolean =
    if (paths.length <= 64) {
      val conf = spark.sessionState.newHadoopConf()
      paths.exists { p =>
        val reader = openParquet(p, conf)
        try !reader.getFooter.getFileMetaData.getSchema.getFields.asScala
          .exists(_.getId != null)
        finally reader.close()
      }
    } else schemaGroups(spark, paths).exists { case (fileSchema, _) =>
      !fileSchema.fields.exists(FieldIds.idOf(_).isDefined)
    }

  /** Driver-side footer caches, keyed by file path. Data files are
    * IMMUTABLE once committed (UUID-named, never rewritten in place), so a
    * path's physical schema never changes — caching turns repeated scan
    * planning (the DSv2 batch re-plans partitions per runtime-filter
    * probe, and every statement of a DML gate re-reads the same files)
    * into pure driver lookups: zero planning jobs after first contact.
    * Bounded LRU so a long-lived driver streaming new files forever
    * cannot grow them without limit.
    */
  private val pathSchemaDigest: java.util.Map[String, String] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, String](1024, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, String]): Boolean = size() > 65536
      })
  /** JVM-global by design, keyed ONLY by the physical parquet schema
    * digest — which assumes every SparkSession in this JVM resolves
    * parquet schemas under the same inference conf (the flags that change
    * inference output: `spark.sql.legacy.parquet.nanosAsLong`, field-id
    * read flags). Every entrypoint in this library sets identical values
    * (session builders, Bench, Verify, tests), so the assumption holds;
    * a second session with a DIFFERENT inference conf would need this
    * cache keyed by (conf values, digest) — documented rather than built,
    * per the r20 advice, because no such entrypoint exists.
    */
  private val digestSparkSchema
      : java.util.Map[String, org.apache.spark.sql.types.StructType] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, org.apache.spark.sql.types.StructType](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, org.apache.spark.sql.types.StructType])
            : Boolean = size() > 4096
      })

  /** A copy of the JVM's default Hadoop configuration, for metadata
    * readers that have no session at hand. Every `new Configuration()`
    * re-parses the XML default resources on its first lookup; a copy of
    * one parsed instance does not.
    */
  def defaultHadoopConf(): org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration(parsedDefaultConf)

  private lazy val parsedDefaultConf: org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.size() // parse the default resources once, here
    c
  }

  /** Open a parquet file's footer with read options built from `conf`.
    * The one-argument `ParquetFileReader.open(in)` builds its options
    * from a fresh `Configuration` (an XML re-parse per footer).
    */
  private[graft] def openParquet(
      p: String,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** The manifest metadata Iceberg stamps at commit time, read from one
    * parquet footer + status: row count, size, and per-column bounds and
    * null counts under [[graft.sources.dsv2.WriterStats]]' conservative
    * rules — bounds only for signed integral columns and for ASCII strings
    * of at most 64 chars (a footer cannot prove a floating column free of
    * NaN; dates and timestamps have no consumer), and only when every row
    * group records them; null counts only where every row group records
    * one. String bounds are trusted only from the Java parquet writer,
    * which never truncates them. [[FooterMetrics.Unreadable]] when the
    * footer cannot be read: an unknown count must stay unknown, never a
    * guess.
    */
  def parquetFooterMetrics(
      p: String,
      conf: org.apache.hadoop.conf.Configuration): FooterMetrics =
    try {
      import org.apache.parquet.schema.LogicalTypeAnnotation._
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val path = new org.apache.hadoop.fs.Path(p)
      val size = path.getFileSystem(conf).getFileStatus(path).getLen
      val reader = openParquet(p, conf)
      val footer = try reader.getFooter finally reader.close()
      val blocks = footer.getBlocks.asScala.toSeq
      val meta = footer.getFileMetaData
      val javaWriter = Option(meta.getCreatedBy)
        .exists(w => w.startsWith("parquet-mr") || w.startsWith("parquet-java"))
      val mins = Map.newBuilder[String, String]
      val maxs = Map.newBuilder[String, String]
      val nulls = Map.newBuilder[String, Long]
      // column chunks follow the schema's leaf order; a top-level flat
      // column is a leaf with a one-segment path and no repetition
      meta.getSchema.getColumns.asScala.zipWithIndex.foreach { case (c, i) =>
        if (c.getPath.length == 1 && c.getMaxRepetitionLevel == 0) {
          val name = c.getPath.head
          val t = c.getPrimitiveType
          val stats = blocks.map(b => b.getRowCount -> b.getColumns.get(i).getStatistics)
          if (stats.forall { case (_, s) => s != null && s.isNumNullsSet })
            nulls += name -> stats.map(_._2.getNumNulls).sum
          val signedInt = t.getLogicalTypeAnnotation match {
            case null => true
            case a: IntLogicalTypeAnnotation => a.isSigned
            case _ => false
          }
          val render: Option[Any => Option[String]] = t.getPrimitiveTypeName match {
            case INT32 | INT64 if signedInt => Some(v => Some(v.toString))
            case BINARY if javaWriter &&
                t.getLogicalTypeAnnotation.isInstanceOf[StringLogicalTypeAnnotation] =>
              Some { v =>
                val b = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                if (b.length <= 64 && b.forall(_ >= 0))
                  Some(new String(b, java.nio.charset.StandardCharsets.US_ASCII))
                else None
              }
            case _ => None
          }
          // every row group must bound its values: min/max recorded, or
          // provably all null (a recorded null count equal to its rows —
          // a writer may drop oversized min/max and keep the count)
          val bounded = stats.forall { case (rows, s) =>
            s != null && (s.hasNonNullValue || (s.isNumNullsSet && s.getNumNulls == rows))
          }
          val valued = stats.map(_._2).filter(s => s != null && s.hasNonNullValue)
          if (bounded && valued.nonEmpty) render.foreach { r =>
            val ord = Ordering.comparatorToOrdering(
              t.comparator().asInstanceOf[java.util.Comparator[Any]])
            for {
              lo <- r(valued.map(_.genericGetMin: Any).min(ord))
              hi <- r(valued.map(_.genericGetMax: Any).max(ord))
            } { mins += name -> lo; maxs += name -> hi }
          }
        }
      }
      FooterMetrics(blocks.map(_.getRowCount).sum, size,
        mins.result(), maxs.result(), nulls.result())
    } catch { case _: Throwable => FooterMetrics.Unreadable }

  /** Bounded daemon pool for driver-side parquet reads (commit-path
    * footers, delete-file decodes): at 100 TB a bulk append commits
    * thousands of files, and a SERIAL per-file loop on object storage pays
    * thousands of sequential remote roundtrips (~50–100 ms each → minutes
    * of driver wall). The pool overlaps them; bounded so a huge commit
    * cannot spawn unbounded threads. Floored at 4 so the parallelism
    * contract ([[FooterPoolSpec]]) holds on small-CPU boxes too.
    */
  private val footerPoolSize: Int =
    math.min(16, math.max(4, Runtime.getRuntime.availableProcessors()))
  private lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(footerPoolSize,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-footer-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** Test seam: invoked inside each pooled footer task with the path being
    * read. [[FooterPoolSpec]] installs a barrier here to prove the reads
    * genuinely overlap (a serial loop would deadlock the barrier, not pass).
    */
  @volatile private[sources] var footerReadProbe: String => Unit = _ => ()

  /** `read` applied to every path, fanned out on the bounded driver pool —
    * result order matches `paths`, and still ZERO Spark jobs. Short lists
    * skip the pool (the handoff costs more than one local footer read).
    * `read` must not throw: an exception surfaces from here, as the
    * serial loop's would.
    */
  private[graft] def onFooterPool[T](paths: Seq[String])(read: String => T): Seq[T] =
    if (paths.lengthCompare(2) <= 0) paths.map(read)
    else {
      val tasks: java.util.List[java.util.concurrent.Callable[T]] =
        paths.map { p =>
          new java.util.concurrent.Callable[T] {
            override def call(): T = {
              footerReadProbe(p)
              read(p)
            }
          }: java.util.concurrent.Callable[T]
        }.asJava
      footerPool.invokeAll(tasks).asScala.map(_.get()).toSeq
    }

  /** [[parquetFooterMetrics]] over many files on the bounded driver pool
    * ([[onFooterPool]]), so the one-job-per-commit posture
    * ([[graft.sources]] CommitFooterCountSpec) is unchanged; only the
    * serial-roundtrip wall goes away.
    */
  def parquetFooterMetricsBulk(
      paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[FooterMetrics] =
    onFooterPool(paths)(parquetFooterMetrics(_, conf))

  private def footerDigest(p: String, conf: org.apache.hadoop.conf.Configuration): String = {
    val reader = openParquet(p, conf)
    val schemaStr =
      try reader.getFooter.getFileMetaData.getSchema.toString
      finally reader.close()
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(schemaStr.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    digest.map("%02x".format(_)).mkString
  }

  /** Partition `paths` by physical parquet schema; each group returns with
    * its Spark-converted file schema. Footer digests come from the
    * driver cache; misses are read driver-side when few (milliseconds
    * each, NO job) and by one distributed metadata job when a big table
    * is planned cold. One schema-inference read per DISTINCT physical
    * schema ever seen (bounded by evolution history), also cached.
    */
  private[graft] def schemaGroups(
      spark: SparkSession, paths: Seq[String])
      : Seq[(org.apache.spark.sql.types.StructType, Seq[String])] = {
    // Group from a call-local map seeded from the cache: a scan that plans
    // more paths than the LRU cap must not have its own early entries
    // evicted before the groupBy (files would silently merge under a null
    // digest and be read with the wrong pinned schema). The LRU is only a
    // best-effort cross-call cache.
    val local = new java.util.HashMap[String, String](paths.length * 2)
    paths.foreach { p =>
      val cached = pathSchemaDigest.get(p)
      if (cached != null) local.put(p, cached)
    }
    val missing = paths.filterNot(local.containsKey)
    if (missing.nonEmpty) {
      if (missing.length <= 64) {
        val conf = spark.sessionState.newHadoopConf()
        missing.foreach { p =>
          val d = footerDigest(p, conf)
          local.put(p, d); pathSchemaDigest.put(p, d)
        }
      } else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        val slices = math.max(1, math.min(missing.length,
          spark.sparkContext.defaultParallelism * 4))
        spark.sparkContext.parallelize(missing, slices)
          .map(p => p -> footerDigest(p, conf.value))
          .collect() // one (path, digest) pair per file — metadata-sized
          .foreach { case (p, d) => local.put(p, d); pathSchemaDigest.put(p, d) }
      }
    }
    paths.groupBy(local.get).toSeq
      .map { case (digest, ps) =>
        val sorted = ps.sorted
        val schema = digestSparkSchema.computeIfAbsent(digest,
          _ => spark.read.parquet(sorted.head).schema)
        (schema, sorted.toSeq)
      }
      .sortBy(_._2.head)
  }

  /** Inference-equivalent parquet reader served from the driver-side
    * footer caches instead of a per-plan schema-inference job. With ONE
    * distinct physical schema across `paths` — the overwhelmingly common
    * case; delete files and schema-less tables' generations are
    * single-schema by construction — the read pins that schema, which IS
    * Spark's single-footer inference output for these files (cached in
    * [[digestSparkSchema]] by [[schemaGroups]]), so resolution semantics
    * (field-id metadata included) are byte-identical. A genuinely mixed
    * set, or any footer the digest pass cannot read, falls back to the
    * real inference read unchanged. Every DML statement re-plans its scan
    * several times (analysis, rewrite planning, execution); without this
    * each re-plan paid a fresh footer-reading Spark job.
    */
  private[graft] def inferredParquet(
      spark: SparkSession, paths: Seq[String]): DataFrame = {
    val groups =
      try schemaGroups(spark, paths)
      catch { case scala.util.control.NonFatal(_) => Nil }
    if (groups.lengthCompare(1) == 0) {
      // The RESOLVED frame is cached per (session, path set): Dataset
      // creation analyzes eagerly, so the cached plan is a concrete
      // LogicalRelation — re-planning the same file set (a DML statement
      // builds its scan several times; every statement of a gate reads
      // the same delete files) reuses it instead of re-running
      // ResolveDataSource's listing + relation build (~25 ms per read,
      // measured 2.4 s over one DML gate workload). Sound for the same
      // reason the schema cache is: committed files are immutable and
      // path sets name them exactly. Keyed WEAKLY by session (a stopped
      // session's frames must never serve a new one); mixed-schema sets
      // take the uncached inference read below.
      val key = paths.sorted.mkString("\n")
      val hit = relationCache.synchronized {
        Option(relationCache.get(key)).flatMap { case (sref, dref) =>
          // the frame must belong to THIS session (a stopped session's
          // relations must never serve a new one); both refs are weak so
          // a dead session or collected frame is just a miss
          (Option(sref.get), Option(dref.get)) match {
            case (Some(s), Some(df)) if s eq spark => Some(df)
            case _ => relationCache.remove(key); None
          }
        }
      }
      hit.getOrElse {
        val df = org.apache.spark.sql.graftbridge.DatasetBridge.parquetFiles(
          spark, groups.head._1, paths)
        relationCache.synchronized {
          relationCache.put(key,
            (new java.lang.ref.WeakReference(spark),
              new java.lang.ref.WeakReference(df)))
        }
        df
      }
    }
    else spark.read.parquet(paths: _*)
  }

  /** Resolved-relation reuse for [[inferredParquet]]: bounded LRU of
    * WEAK references (both the owning session and the frame), so cached
    * relations never outlive their session and never pin memory — a
    * collected entry is simply a rebuild.
    */
  private val relationCache =
    new java.util.LinkedHashMap[String,
        (java.lang.ref.WeakReference[SparkSession],
          java.lang.ref.WeakReference[DataFrame])](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String,
            (java.lang.ref.WeakReference[SparkSession],
              java.lang.ref.WeakReference[DataFrame])]): Boolean =
        size() > 2048
    }

  /** One distributed scan of a group of parquet files sharing a physical
    * schema, projected onto the canonical schema by FIELD ID, with the
    * hidden columns fabricated exactly like the plain parquet branch
    * (zero-shuffle `_metadata.row_index` positions).
    */
  private def evolvedParquetScan(
      spark: SparkSession,
      group: Seq[DataFileTask],
      fileSchema: org.apache.spark.sql.types.StructType,
      canonical: org.apache.spark.sql.types.StructType): DataFrame = {
    val (reader, resolved) =
      evolvedParquetReader(spark, group, fileSchema, canonical)
    reader.select(resolved.toSeq :+ col("_metadata"): _*)
      .withColumn(MorPlanner.FilePathCol, canonColScan(col("_metadata.file_path")))
      .withColumn(MorPlanner.PosCol, col("_metadata.row_index"))
      .drop("_metadata")
  }

  /** The shared core of the evolved parquet scans: the schema-pinned
    * reader plus the field-id-resolved canonical projection.
    */
  private def evolvedParquetReader(
      spark: SparkSession,
      group: Seq[DataFileTask],
      fileSchema: org.apache.spark.sql.types.StructType,
      canonical: org.apache.spark.sql.types.StructType): (DataFrame, Array[Column]) = {
    // explicit schema (the group's OWN, cache-served) — skips per-plan
    // schema inference; ids in it resolve by name against these same
    // files, so the read is identical to the inferred one. The relation
    // is built over the tasks' own paths — no listing job
    val reader = org.apache.spark.sql.graftbridge.DatasetBridge.parquetFiles(
      spark, fileSchema, group.map(_.path))
    val taskPaths = group.flatMap(t => canonKeys(t.path)).toSet
    val unmatched = reader.inputFiles.map(canonDecoded).filterNot(taskPaths)
    require(unmatched.isEmpty,
      s"scanned files have no seq-number task entry (path mismatch?): " +
        unmatched.take(5).mkString(", "))
    // id-less files (plain appends that never went through a field-id write)
    // resolve by name; id-carrying files resolve strictly by id, so a
    // canonical field whose id is absent is a genuine add-column → nulls
    val fileHasIds = fileSchema.fields.exists(f => FieldIds.idOf(f).isDefined)
    val resolved = canonical.fields.map { cf =>
      val source: Option[org.apache.spark.sql.types.StructField] = FieldIds.idOf(cf) match {
        case Some(id) if fileHasIds =>
          fileSchema.fields.find(f => FieldIds.idOf(f).contains(id))
        case _ => fileSchema.fields.find(_.name == cf.name)
      }
      source match {
        case Some(ff) =>
          adaptToCanonical(col(ff.name), ff.dataType, cf.dataType)
            .as(cf.name, cf.metadata)
        case None => lit(null).cast(cf.dataType).as(cf.name, cf.metadata)
      }
    }
    (reader, resolved)
  }

  /** [[scanWithHiddenColsGroups]] for the DELETE-FREE read: the same
    * per-schema-group field-id evolution, but NO hidden-column
    * fabrication and NO seq broadcast — nothing downstream consumes them
    * when the snapshot carries no deletes, and without them each group
    * plans as a BARE vectorized file scan (a join-free plan the DSv2
    * doorway serves batch-for-batch through its columnar handoff, and a
    * cheaper row path everywhere else).
    */
  def scanPlainGroups(
      spark: SparkSession,
      tasks: Seq[DataFileTask],
      canonicalSchema: Option[org.apache.spark.sql.types.StructType]): Seq[DataFrame] = {
    val dedup = dedupByPath(tasks)(_.path)
    require(dedup.nonEmpty, "no data files to scan")
    val byFormat = dedup.groupBy(_.format.toLowerCase).toSeq.sortBy(_._1)
    byFormat.flatMap {
      case ("parquet", ts) if canonicalSchema.isDefined =>
        val byPath = ts.map(t => t.path -> t).toMap
        schemaGroups(spark, ts.map(_.path)).map { case (fileSchema, groupPaths) =>
          val (reader, resolved) = evolvedParquetReader(
            spark, groupPaths.map(byPath), fileSchema, canonicalSchema.get)
          reader.select(resolved.toSeq: _*)
        }
      case (fmt, ts) => Seq {
        // same mixed-id fallback as the hidden-col generic branch
        val inferred =
          if (fmt == "parquet") inferredParquet(spark, ts.map(_.path))
          else spark.read.format(fmt).load(ts.map(_.path): _*)
        if (fmt == "parquet" &&
            inferred.schema.fields.exists(FieldIds.idOf(_).isDefined) &&
            anyIdlessFooter(spark, ts.map(_.path)))
          spark.read.schema(FieldIds.stripIds(inferred.schema))
            .parquet(ts.map(_.path): _*)
        else inferred
      }
    }
  }

  /** A plain `cast` binds struct subfields by POSITION and demands equal
    * arity, so it cannot express NESTED schema evolution (a struct
    * subfield added, dropped, or renamed since the file was written).
    * When the file and canonical shapes differ structurally, rebuild the
    * value instead: subfields pair by nested field id where both sides
    * carry ids, by name otherwise — the same discipline the top-level
    * resolution uses — with unpaired canonical subfields read as typed
    * nulls and file-only subfields pruned. Arrays/maps recurse into their
    * elements/values. Pure column expressions throughout (stays inside
    * whole-stage codegen; `transform` for arrays).
    */
  private[sources] def adaptToCanonical(
      c: Column,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    if (structurallyCastable(from, to)) c.cast(to)
    else (from, to) match {
      case (f: org.apache.spark.sql.types.StructType,
          t: org.apache.spark.sql.types.StructType) =>
        val fById = f.fields.flatMap(x => FieldIds.idOf(x).map(_ -> x)).toMap
        val fHasIds = fById.nonEmpty
        val subs = t.fields.map { tf =>
          val src = FieldIds.idOf(tf) match {
            case Some(id) if fHasIds => fById.get(id)
            case _ => f.fields.find(_.name == tf.name)
          }
          src match {
            case Some(sf) =>
              adaptToCanonical(c.getField(sf.name), sf.dataType, tf.dataType)
                .as(tf.name)
            case None => lit(null).cast(tf.dataType).as(tf.name)
          }
        }
        // struct(...) of a NULL struct row would fabricate a non-null
        // struct of nulls; guard so null values stay null
        when(c.isNull, lit(null).cast(to)).otherwise(struct(subs.toSeq: _*))
      case (f: ArrayType, t: ArrayType) =>
        transform(c, x => adaptToCanonical(x, f.elementType, t.elementType))
      case (f: MapType, t: MapType) =>
        when(c.isNull, lit(null).cast(to)).otherwise(
          map_from_arrays(
            map_keys(c).cast(org.apache.spark.sql.types.ArrayType(t.keyType)),
            transform(map_values(c),
              v => adaptToCanonical(v, f.valueType, t.valueType))))
      case _ => c.cast(to)
    }
  }

  /** True when `cast(from -> to)` already binds every nested subfield to
    * the right slot: equal struct arity and names at every depth (types
    * may still differ — cast handles legal promotions).
    */
  private def structurallyCastable(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    (from, to) match {
      case (f: StructType, t: StructType) =>
        f.fields.length == t.fields.length &&
          f.fields.zip(t.fields).forall { case (ff, tf) =>
            ff.name == tf.name && structurallyCastable(ff.dataType, tf.dataType)
          }
      case (f: ArrayType, t: ArrayType) =>
        structurallyCastable(f.elementType, t.elementType)
      case (f: MapType, t: MapType) =>
        structurallyCastable(f.keyType, t.keyType) &&
          structurallyCastable(f.valueType, t.valueType)
      case _ => true
    }
  }

  /** Read position-delete files (columns file_path, pos → hidden names). */
  /** Cap under which a delete set is EXPLICITLY broadcast into its anti
    * join. The reference materializes delete sets per task for the same
    * reason (`datafusion_processor.rs` builds them into the stream); here
    * the driver KNOWS the delete files' sizes, so the decision must not
    * depend on the session's `autoBroadcastJoinThreshold` — SPJ setups set
    * that to -1 to stop the engine broadcasting a TABLE side, and without
    * the hint the delete anti join degrades to a sort-merge whose shuffle
    * both costs at scale and breaks the narrow-chain serving shape (keyed
    * one-plan regroup, columnar handoff).
    */
  private val DeleteBroadcastCap = 64L << 20

  /** Summed size of `files` (path, recordedBytes) — the snapshot entry's
    * recorded size when known, one stat only for unknowns (-1), and -1 for
    * the whole sum when any file stays unknown or the sum overflows
    * (unknown must never qualify for a broadcast hint). Recorded sizes
    * FIRST keeps this gate's verdict identical to the keyed-layout
    * admission's (which reads the same entry sizes): a transient stat
    * failure on a file the manifest already sized cannot flip a
    * previously-admitted broadcast plan into a shuffle at runtime.
    */
  private def statSum(spark: SparkSession, files: Seq[(String, Long)]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    var sum = 0L
    files.foreach { case (p, recorded) =>
      val len =
        if (recorded >= 0L) recorded
        else
          try {
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(conf).getFileStatus(hp).getLen
          } catch { case _: Throwable => return -1L }
      sum =
        try Math.addExact(sum, len)
        catch { case _: ArithmeticException => return -1L }
    }
    sum
  }

  /** Broadcast-hint `df` only when the files' recorded/stat'd byte sum is
    * provably under [[DeleteBroadcastCap]] — the size gate every delete-set
    * join rides (package-visible for the changelog's delta marker joins).
    */
  private[sources] def hintSmall(
      spark: SparkSession, df: DataFrame, files: Seq[(String, Long)]): DataFrame = {
    val s = statSum(spark, files)
    if (s >= 0L && s <= DeleteBroadcastCap) broadcast(df) else df
  }

  /** The [[hintSmall]] gate as a predicate: true iff the files' byte sum
    * is PROVABLY under [[DeleteBroadcastCap]] — callers that want to
    * collect a delete set driver-side (memory-equivalent to the broadcast
    * the join would build anyway) consult the same gate so the two
    * decisions can never diverge.
    */
  private[sources] def provablySmall(
      spark: SparkSession, files: Seq[(String, Long)]): Boolean = {
    val s = statSum(spark, files)
    s >= 0L && s <= DeleteBroadcastCap
  }

  def readPositionDeletes(spark: SparkSession, tasks: Seq[PosDeleteTask]): Option[DataFrame] =
    if (tasks.isEmpty) None
    else {
      val dedup = dedupByPath(tasks)(_.path)
      // deletion-vector sidecars decode driver-side — they are compressed
      // bitmaps, small by construction — and always broadcast; parquet
      // row files read distributed as before. The recorded entry format
      // dispatches; only format-less (external) tasks pay a magic sniff.
      val conf = spark.sessionState.newHadoopConf()
      val (dvPaths, pqPaths) = dedup.partition(t =>
        t.format == "dv" ||
          (t.format != "parquet" && DeletionVectors.isDv(t.path, conf)))
      def paths(ts: Seq[PosDeleteTask]) = ts.map(_.path)
      def sized(ts: Seq[PosDeleteTask]) = ts.map(t => (t.path, t.sizeBytes))
      val pq =
        if (pqPaths.isEmpty) None
        else Some(hintSmall(spark, inferredParquet(spark, paths(pqPaths))
          .select(canonColDelete(col("file_path")).as(MorPlanner.FilePathCol),
            col("pos").as(MorPlanner.PosCol)), sized(pqPaths)))
      val dv =
        if (dvPaths.isEmpty) None
        else {
          import spark.implicits._
          // small sidecars (the common case) decode driver-side and
          // broadcast; past the size gate — possible now that the DV
          // writer is distributed and uncapped — they decode on the
          // executors instead, one task per sidecar, and join like any
          // other delete frame (no driver materialization). The gate
          // reads the entry-recorded sizes (same data the keyed-layout
          // admission checked — a stat hiccup cannot flip an admitted
          // broadcast decode into the shuffled one); -1 = genuinely
          // unknown or unstattable → distributed, never a sentinel sum
          // (summed sentinels overflowed Long past ~1024 failures and
          // sailed NEGATIVE under the cap)
          val totalBytes = statSum(spark, sized(dvPaths))
          if (totalBytes >= 0L && totalBytes <= (32L << 20)) {
            val rows = paths(dvPaths).flatMap(p =>
              DeletionVectors.read(p, conf).iterator.flatMap {
                case (f, ps) => ps.iterator.map(pos => (canonKey(f), pos))
              })
            Some(broadcast(rows.toDF(MorPlanner.FilePathCol, MorPlanner.PosCol)))
          } else {
            val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
            val ps = paths(dvPaths)
            val rdd = spark.sparkContext
              .parallelize(ps, math.max(1, ps.length))
              .flatMap(p => DeletionVectors.read(p, sconf.value).iterator.flatMap {
                case (f, arr) => arr.iterator.map(pos => (canonKey(f), pos))
              })
            Some(rdd.toDF(MorPlanner.FilePathCol, MorPlanner.PosCol))
          }
        }
      (pq.toSeq ++ dv.toSeq).reduceOption(_ unionByName _)
    }

  /** Read equality-delete files projected to their equality columns (P4),
    * each with its per-file seq num attached by broadcast. Tasks sharing an
    * equalityCols vector in consecutive runs form one group, mirroring the
    * reference's table-per-run chaining (`datafusion_processor.rs:376-400`).
    */
  /** Consecutive-run grouping: tasks sharing an equalityCols vector with
    * their predecessor join its group; any CHANGE of the vector opens a new
    * group, even if the same vector appeared earlier (the reference's
    * `is_none_or(!ids.eq)` logic, `datafusion_processor.rs:376-400` — runs,
    * not a global dedup).
    */
  private[sources] def groupConsecutive(tasks: Seq[EqDeleteTask]): Seq[Seq[EqDeleteTask]] =
    tasks.foldLeft(List.empty[List[EqDeleteTask]]) { (acc, t) =>
      acc match {
        case head :: tail if head.head.equalityCols == t.equalityCols &&
            head.head.equalityIds == t.equalityIds =>
          (head :+ t) :: tail
        case _ => List(t) :: acc
      }
    }.reverse

  /** P4 + §1.3: when a task carries `equalityIds`, each id is resolved to
    * the DELETE file's column via its `parquet.field.id` metadata and
    * re-aliased to the DATA schema's name for that id — so a column renamed
    * between a delete file and a data file still joins correctly. Name
    * fallback applies per-id for files without id metadata.
    */
  def readEqualityDeletes(
      spark: SparkSession,
      tasks: Seq[EqDeleteTask],
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : Seq[EqualityDeleteGroup] = {
    import spark.implicits._
    val groups = groupConsecutive(dedupByPath(tasks)(_.path))
    groups.map { ts =>
      val seqDf = ts.flatMap(t => canonKeys(t.path).map((_, t.seqNum)))
        .toDF("graft_eq_path", MorPlanner.SeqNumCol)
      val raw = inferredParquet(spark, ts.map(_.path))
      val head = ts.head
      // (delete-file column, data-side join name) per equality column —
      // the SAME resolution the vectorized mask applies
      // ([[FieldIds.resolveEqColumns]], one shared implementation so the
      // two serving paths can never drift apart)
      val resolved: Seq[(String, String)] = FieldIds.resolveEqColumns(
        raw.schema, head.equalityCols, head.equalityIds, dataSchema)
        .getOrElse(throw new IllegalArgumentException(
          s"an equality id of ${head.path} resolves to no column " +
            s"(ids ${head.equalityIds.mkString(",")}) and no name fallback"))
      val df = raw
        .select(resolved.map { case (d, n) => col(d).as(n) } :+
          canonColScan(col("_metadata.file_path")).as("graft_eq_path"): _*)
        .join(broadcast(seqDf), "graft_eq_path")
        .drop("graft_eq_path")
      EqualityDeleteGroup(
        hintSmall(spark, df, ts.map(t => (t.path, t.sizeBytes))),
        resolved.map(_._2))
    }
  }

  /** EP1: full compaction — read with deletes applied, lay out, write,
    * account, commit manifest. With `canonicalSchema`, inputs resolve by
    * field id (so a compaction across renamed file generations rewrites
    * under the canonical names and ids). `planned` is the input read
    * through a snapshot's scan state; without it the tasks are scanned and
    * the deletes joined here.
    */
  def compact(
      spark: SparkSession,
      dataTasks: Seq[DataFileTask],
      posDeletes: Seq[PosDeleteTask],
      eqDeletes: Seq[EqDeleteTask],
      outDir: String,
      config: CompactionConfig = CompactionConfig(),
      canonicalSchema: Option[org.apache.spark.sql.types.StructType] = None,
      planned: Option[PlannedInput] = None)
      : CommitManifest = {
    // batch_parallelism overrides a SESSION-global conf; overriding
    // compactions serialize on a JVM lock so two concurrent set/restore
    // pairs cannot interleave and strand a stale value (the reference's
    // server equally runs one rewrite per RPC). Non-overriding work on the
    // same session is still exposed to the override window — full isolation
    // needs a per-job session (spark.newSession), the caller's choice.
    def run() = compactBody(spark, dataTasks, posDeletes, eqDeletes, outDir,
      config, canonicalSchema, planned)
    config.batchParallelism match {
      case None => run()
      case Some(n) =>
        require(n > 0, s"batch_parallelism must be positive, got $n")
        shuffleOverrideLock.synchronized {
          val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
          spark.conf.set("spark.sql.shuffle.partitions", n)
          try run()
          finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        }
    }
  }

  private def compactBody(
      spark: SparkSession,
      dataTasks: Seq[DataFileTask],
      posDeletes: Seq[PosDeleteTask],
      eqDeletes: Seq[EqDeleteTask],
      outDir: String,
      config: CompactionConfig,
      canonicalSchema: Option[org.apache.spark.sql.types.StructType],
      planned: Option[PlannedInput])
      : CommitManifest = {
    require(config.clusterBy.isEmpty || config.zOrderBy.isEmpty,
      "clusterBy and zOrderBy are mutually exclusive sort strategies")
    val n = config.targetPartitions
    // the delete-applied input, and the frame a z-order takes its column
    // ranges from (bounds over the pre-delete scan are valid bounds too)
    lazy val (merged, rangeSource) = planned match {
      case Some(p) =>
        val m = p.read(None)
        (m, m)
      case None =>
        val data = scanWithHiddenCols(spark, dataTasks, canonicalSchema)
        (MorPlanner.merge(data,
          readPositionDeletes(spark, posDeletes),
          readEqualityDeletes(spark, eqDeletes, Some(data.schema))), data)
    }
    // S4: whole input files bin-packed into the output tasks — no
    // exchange, no input file split across two outputs. X1: force the
    // output stream count only when the input's layout differs: with
    // clusterBy a RANGE repartition + in-file sort makes file-level
    // min/max stats selective; with zOrderBy the same along the Morton
    // curve of the columns' range-normalized ordinals.
    val wholeFiles =
      if (config.clusterBy.nonEmpty || config.zOrderBy.nonEmpty ||
          config.partitionTransforms.nonEmpty) None
      else planned.flatMap(p => wholeFileTasks(p.files, n).map(t => p.read(Some(t))))
    val repartitioned = wholeFiles.getOrElse {
      if (config.zOrderBy.nonEmpty && n > 0)
        zOrderCluster(merged, rangeSource, config.zOrderBy, n)
      else if (config.clusterBy.nonEmpty && n > 0)
        merged.repartitionByRange(n, config.clusterBy.map(col): _*)
      else if (n > 0) merged.repartition(n)
      else merged
    }

    // S7: materialize partition-transform columns and fan out.
    val dataOut = s"$outDir/data"
    val withParts0 = config.partitionTransforms.foldLeft(repartitioned) {
      case (df, (name, c)) => df.withColumn(name, c)
    }
    // clusterBy's in-file sort happens AFTER the transform columns exist
    // and leads with them: a dynamic-partition fanout write REQUIRES its
    // rows ordered by the partition columns, and Spark would otherwise
    // insert its own per-task sort by partition value alone — silently
    // destroying the cluster order INSIDE each written file (the r19
    // ordering work caught this as merge-join row loss). Sorting
    // (partition cols, clusterBy) satisfies the writer's requirement, so
    // rows stream into each file in cluster order; unpartitioned rewrites
    // sort by clusterBy exactly as before.
    val withParts =
      if (config.clusterBy.nonEmpty && n > 0)
        withParts0.sortWithinPartitions(
          (config.partitionTransforms.map(p => col(p._1)) ++
            config.clusterBy.map(col)): _*)
      else withParts0
    // §1.3: stamp parquet.field.id metadata so the written files carry the
    // Iceberg-style field ids (persisted to the parquet footer; read back
    // into scan schemas — the handle eq-delete resolution keys on).
    val stamped = FieldIds.withFieldIds(withParts)
    val writer = stamped.write.mode("overwrite")
    (if (config.partitionTransforms.nonEmpty)
       writer.partitionBy(config.partitionTransforms.map(_._1): _*)
     else writer).parquet(dataOut)

    // data_file_prefix: rename Spark's `part-*` outputs to `<prefix>-*`
    // (the reference names its writer outputs `{prefix}-{uuid}.parquet`).
    // Hadoop FS rename, scheme-agnostic; one driver call per OUTPUT file —
    // the same cardinality as the manifest entries built below.
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dataOut)
    val fs = root.getFileSystem(hconf)
    config.dataFilePrefix.foreach { prefix =>
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (name.startsWith("part-")) {
          val target = new org.apache.hadoop.fs.Path(
            st.getPath.getParent, prefix + "-" + name.stripPrefix("part-"))
          require(fs.rename(st.getPath, target),
            s"failed to rename ${st.getPath} to $target")
        }
      }
    }

    // S6: per-file counts, bounds and null counts from the written
    // footers, on the driver. The written files are the data files a
    // parquet read of `dataOut` lists (hidden `_`/`.` names skipped),
    // each recorded under the rendering `_metadata.file_path` gives it
    // (Hadoop's URI with an empty authority dropped: `file:/…`).
    def leaves(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) Nil
        else if (st.isDirectory) leaves(st.getPath)
        else Seq(st.getPath)
      }
    val outputs = leaves(root).sortBy(_.toString)
    val footers = parquetFooterMetricsBulk(outputs.map(_.toString), hconf)
    // a footer bounds a column when it records its null count and either
    // bounds or only nulls; requested columns some footer cannot bound
    // (floating point, dates, long strings), and every column of an
    // unreadable footer, take one distributed audit over the written files
    def bounds(m: FooterMetrics, c: String): Boolean =
      m.nullCounts.get(c).exists(nn =>
        nn == m.rows || (m.colMins.contains(c) && m.colMaxs.contains(c)))
    val statsCols = config.statsCols
    val unreadable = footers.exists(_.rows < 0)
    val auditCols =
      if (unreadable) statsCols
      else statsCols.filterNot(c => footers.forall(bounds(_, c)))
    val audited: Map[String, org.apache.spark.sql.Row] =
      if (!unreadable && auditCols.isEmpty) Map.empty
      else {
        val aggs =
          count(lit(1)).as("record_count") +:
            auditCols.flatMap(c => Seq(
              min(col(c)).cast("string").as(s"min_$c"),
              max(col(c)).cast("string").as(s"max_$c"),
              sum(col(c).isNull.cast("long")).as(s"nulls_$c")))
        spark.read.parquet(dataOut)
          .groupBy(col("_metadata.file_path").as("path"))
          .agg(aggs.head, aggs.tail: _*)
          .collect() // one row per output file — driver-sized, like DataFile metadata
          .map(r => canonDecoded(r.getAs[String]("path")) -> r).toMap
      }
    val added = outputs.zip(footers).flatMap { case (p, m) =>
      val path = {
        val u = p.toUri
        new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null, null).toString
      }
      val audit = audited.get(canonDecoded(path))
      val rows = if (m.rows >= 0) m.rows else audit.fold(0L)(_.getAs[Long]("record_count"))
      def fromAudit[V](v: (org.apache.spark.sql.Row, String) => V): Map[String, V] =
        audit.fold(Map.empty[String, V])(r => auditCols.map(c => c -> v(r, c)).toMap)
      if (rows == 0L) None // an empty write leaves a file with no rows
      else Some(DataFileStats(
        path = path,
        sizeBytes = if (m.bytes >= 0) m.bytes else fs.getFileStatus(p).getLen,
        recordCount = rows,
        colMins = m.colMins ++ fromAudit((r, c) => String.valueOf(r.getAs[Any](s"min_$c"))),
        colMaxs = m.colMaxs ++ fromAudit((r, c) => String.valueOf(r.getAs[Any](s"max_$c"))),
        nullCounts = m.nullCounts ++ fromAudit((r, c) => r.getAs[Long](s"nulls_$c"))))
    }

    // RewriteFilesStat counters: input bytes from each input file's
    // FileSystem status (any scheme; one driver call per input file, on
    // the footer pool — the same driver-sized metadata the reference
    // holds in its DataFile list).
    val inputs = dedupByPath(dataTasks)(_.path)
    val removedData = inputs.map(t => canonPath(t.path))
    val rewrittenBytes = onFooterPool(inputs.map(_.path)) { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).getFileStatus(hp).getLen
      } catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum
    val manifest = CommitManifest(
      addedFiles = added,
      removedDataFiles = removedData,
      removedDeleteFiles =
        if (!config.retireDeleteFiles) Nil
        else dedupByPath(posDeletes)(_.path).map(t => canonPath(t.path)) ++
          dedupByPath(eqDeletes)(_.path).map(t => canonPath(t.path)),
      outputRecordCount = added.map(_.recordCount).sum,
      rewrittenFilesCount = removedData.size.toLong,
      rewrittenBytes = rewrittenBytes,
      addedFilesCount = added.size.toLong,
      failedFilesCount = 0L)
    writeManifest(spark, manifest, s"$outDir/_graft_manifest.json")
    // Spec-shaped Iceberg manifest (Avro container, id-keyed bounds): ADDED
    // entries for the new files, DELETED entries for the compacted inputs —
    // the structures a real catalog commit would write, readable back via
    // IcebergManifest.read for stats pruning. Its schema is the one the
    // footers were written from.
    val formatByPath = inputs.map(t => canonPath(t.path) -> t.format.toLowerCase).toMap
    IcebergManifest.write(s"$outDir/_graft_manifest.avro",
      conf = hconf,
      entries =
      added.map(IcebergManifest.ManifestEntry(IcebergManifest.StatusAdded, _)) ++
        (manifest.removedDataFiles ++ manifest.removedDeleteFiles).map(p =>
          IcebergManifest.ManifestEntry(IcebergManifest.StatusDeleted,
            DataFileStats(p, 0L, 0L, Map.empty, Map.empty, Map.empty),
            // removed DATA files keep their wire format; delete files are parquet
            format = formatByPath.getOrElse(p, "parquet"))),
      schema = stamped.schema)
    manifest
  }

  /** S4: the input's whole files bin-packed into `n` output tasks, or None
    * when they cannot fill `n` tasks (fewer files than `n`, or more scan
    * groups than `n`). Each scan group (a footer schema) gets a share of
    * the tasks proportional to its bytes — at least one, at most its file
    * count — and packs its files into them longest first
    * ([[graft.plans.TaskGrouper]]). Deterministic.
    */
  private def wholeFileTasks(
      groups: Seq[Seq[graft.plans.TaskGrouper.ScanTask]],
      n: Int): Option[Seq[(Int, Seq[String])]] = {
    val live = groups.zipWithIndex.filter(_._1.nonEmpty)
    if (n <= 0 || live.map(_._1.size).sum < n || live.size > n) None
    else {
      val bytes = live.map(_._1.map(_.lengthBytes.max(0L)).sum.toDouble)
      val shares = Array.fill(live.size)(1)
      // highest-averages apportionment: each further task goes to the
      // group with the most bytes per task that still has a file to spare
      (live.size until n).foreach { _ =>
        val open = live.indices.filter(i => shares(i) < live(i)._1.size)
        shares(open.maxBy(i => (bytes(i) / shares(i), -i))) += 1
      }
      Some(live.zip(shares).flatMap { case ((files, gi), k) =>
        val longestFirst = files.sortBy(f => (-f.lengthBytes, f.path))
        graft.plans.TaskGrouper.group(longestFirst, k).map(g => gi -> g.map(_.path))
      })
    }
  }

  /** Stats-based file pruning: keep only files whose [min,max] range for
    * `column` intersects [lo,hi] — the Iceberg-style manifest pruning that
    * lets a 100 TB scan touch only the files a predicate can match. Null
    * bounds (all-null or missing stats) are conservatively kept, as are the
    * wire sentinel bounds `below_min` / `above_max` (the reference's
    * AboveMax/BelowMin literals for values outside the representable range,
    * `core/proto/iceberg.proto:143-182`) and any other unparseable bound —
    * an unknown bound can never justify skipping a file.
    */
  def pruneByStats(
      files: Seq[DataFileStats],
      column: String,
      lo: Double,
      hi: Double): Seq[DataFileStats] =
    files.filter { f =>
      (f.colMins.get(column), f.colMaxs.get(column)) match {
        case (Some(mn), Some(mx)) if mn != "null" && mx != "null" =>
          // sentinels widen the range to ±∞ on their side → always intersect
          try (mx == "above_max" || mx.toDouble >= lo) &&
            (mn == "below_min" || mn.toDouble <= hi)
          catch { case _: NumberFormatException => true }
        case _ => true
      }
    }

  /** Commit step: manifest JSON (stands in for the catalog transaction of
    * `Transaction::rewrite_files` — add new files, remove compacted inputs).
    * Written through the Hadoop FileSystem of the target path's scheme: the
    * data files just landed there distributed, so the commit artifact must
    * not silently require a LOCAL filesystem (java.nio would).
    */
  private def writeManifest(
      spark: SparkSession, m: CommitManifest, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(manifestJson(m).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The manifest's JSON rendering — also the response body of the EP2
    * façade ([[CompactionService]]), mirroring the reference's
    * `RewriteFilesResponse` of `DataFile`s + stats (`parser/proto.rs:391-434`).
    */
  def manifestJson(m: CommitManifest): String = {
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def obj(pairs: Seq[(String, String)]): String =
      pairs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    def strMap(mm: Map[String, String]): String =
      obj(mm.toSeq.sortBy(_._1).map { case (k, v) => k -> q(v) })
    val files = m.addedFiles.map { f =>
      obj(Seq(
        "path" -> q(f.path),
        "size_bytes" -> f.sizeBytes.toString,
        "record_count" -> f.recordCount.toString,
        "col_mins" -> strMap(f.colMins),
        "col_maxs" -> strMap(f.colMaxs),
        "null_counts" -> obj(f.nullCounts.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.toString })))
    }.mkString("[", ", ", "]")
    obj(Seq(
      "added_files" -> files,
      "removed_data_files" -> m.removedDataFiles.map(q).mkString("[", ", ", "]"),
      "removed_delete_files" -> m.removedDeleteFiles.map(q).mkString("[", ", ", "]"),
      "output_record_count" -> m.outputRecordCount.toString,
      "stat" -> obj(Seq(
        "rewritten_files_count" -> m.rewrittenFilesCount.toString,
        "rewritten_bytes" -> m.rewrittenBytes.toString,
        "added_files_count" -> m.addedFilesCount.toString,
        "failed_files_count" -> m.failedFilesCount.toString))))
  }
}
