package graft.sources.dsv2

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{SupportsTruncate => WriteSupportsTruncate}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{FieldIds, GraftCatalog}

import scala.jdk.CollectionConverters._

/** DSv2 `Table` over one [[GraftCatalog]] table.
  *
  * READ: a native `Batch` over the catalog's full MoR read — per-schema-
  * group LAZY plans whose `InputPartition`s are file-task slices (pos/eq
  * delete anti joins, field-id schema resolution, stats pruning all
  * included), served through `BatchScanExec` so runtime filters (DPP)
  * and metadata-answered aggregates apply. Column pruning is pushed into
  * the inner plan (so the parquet scan reads only the projected columns);
  * translated filters are pushed too but ALWAYS reported residual, so
  * Spark re-applies them post-scan — pushdown is a pure IO reduction,
  * never a correctness dependency.
  *
  * WRITE: a native parquet `BatchWrite` ([[GraftBatchWrite]]) — each task
  * writes through Spark's own `OutputWriterFactory`
  * ([[org.apache.spark.sql.graftbridge.ParquetWriteBridge]]), the driver
  * commit lands the files atomically via the catalog's locked commit.
  *
  * DML: [[SupportsRowLevelOperations]] in COPY_ON_WRITE mode — Spark's
  * core `RewriteDeleteFromTable`/`RewriteUpdateTable`/
  * `RewriteMergeIntoTable` rules plan `ReplaceData` over this table with
  * no session extensions; the replacement write commits against the
  * snapshot pinned at operation creation (stale base → conflict, the
  * same optimistic contract every other commit path has).
  */
final class GraftV2Table(
    root: String,
    tableName: String,
    asOf: Option[Long],
    wapBranch: Option[String] = None)
    extends Table
    with SupportsRead
    with SupportsWrite
    with SupportsRowLevelOperations
    with SupportsDelete
    with SupportsMetadataColumns
    with TruncatableTable {

  private def cat = new GraftCatalog(root)
  private def spark = SparkSession.active

  /** The table WRITES land on. Plain loads write `tableName` itself;
    * when the session's `spark.wap.branch` routed this load
    * ([[GraftSparkCatalog.loadTable]]) and the branch fork doesn't exist
    * yet, the first write CREATES it (a metadata-only fork of main's
    * head) and targets it — Iceberg's write-audit-publish contract:
    * reads fall back to main until the branch exists, writes never touch
    * main, `publish_branch` adopts the audited state atomically.
    */
  private def writeTable: String = wapBranch.fold(tableName) { b =>
    val fork = s"$tableName@$b"
    if (!cat.tableExists(fork)) {
      // two wap writes can race the first fork; the loser's create fails
      // under the table lock — if the branch exists by then, proceed
      // (both writes target the same fork, ordinary commit serialization
      // takes over)
      try cat.forkTable(tableName, b)
      catch {
        case e: Exception if cat.tableExists(fork) => ()
      }
    }
    fork
  }

  override def name(): String = tableName

  override lazy val schema: StructType = asOf match {
    case Some(sid) => cat.scanTableAt(spark, tableName, sid).schema
    case None => cat.currentSchema(tableName).getOrElse {
      // Schema-less table: the read schema is the DATA files' footer
      // schema — deletes never change it. Serve it from the footer-digest
      // caches instead of building the full MoR scan plan just to read
      // `.schema`: the doorway resolves the relation fresh for every DML
      // statement, and once delete files exist that throwaway plan build
      // measured ~70 ms per statement (the analyzer's single biggest
      // rule cost, ResolveRelations). One schema group of parquet files
      // pins exactly what single-footer inference returns — the same
      // equivalence inferredParquet rides; anything else (mixed groups,
      // non-parquet formats, unreadable footers, no data files) keeps
      // the exact scan-derived path unchanged.
      val data = cat.loadEntries(tableName).filter(_.kind == "data")
      val cheap: Option[StructType] =
        if (data.isEmpty || data.exists(_.format.toLowerCase != "parquet"))
          None
        else try {
          graft.sources.CompactionRunner
            .schemaGroups(spark, data.map(_.path)) match {
              case Seq((s, _)) => Some(s)
              case _ => None
            }
        } catch { case scala.util.control.NonFatal(_) => None }
      cheap.getOrElse(cat.scanTable(spark, tableName).schema)
    }
  }

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  override def properties(): util.Map[String, String] =
    cat.tableProperties(tableName).asJava

  /** The declared hidden-partition spec, surfaced as Spark transforms so
    * `DESCRIBE TABLE` / `SHOW CREATE TABLE` render the table's layout.
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val Param = """([a-z]+)\[(\d+)\]""".r
    cat.partitionSpec(tableName).map { f =>
      f.transform match {
        case "identity" => Expressions.identity(f.source)
        case "year" => Expressions.years(f.source)
        case "month" => Expressions.months(f.source)
        case "day" => Expressions.days(f.source)
        case "hour" => Expressions.hours(f.source)
        case Param("bucket", n) => Expressions.bucket(n.toInt, f.source)
        case Param("truncate", w) =>
          Expressions.apply("truncate",
            Expressions.literal(w.toInt), Expressions.column(f.source))
        case other =>
          Expressions.apply(other, Expressions.column(f.source))
      }
    }.toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, tableName, asOf, FieldIds.stripIds(schema),
      skipRewrites = options.getBoolean("skipRewrites", false),
      maxFilesPerTrigger =
        Option(options.get("maxFilesPerTrigger")).map(_.trim.toInt),
      maxRowsPerTrigger =
        Option(options.get("maxRowsPerTrigger")).map(_.trim.toLong))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty, s"cannot write to $tableName at a pinned snapshot")
    // the wap.branch target NAME — the fork itself is created LAZILY:
    // plain appends defer it to the batch commit (so EXPLAIN INSERT
    // never mutates the catalog; until then metadata reads consult main,
    // whose state the fork is created as a copy of), while overwrite
    // shapes fork at build (their replace-base snapshot id must be the
    // fork's)
    val target = wapBranch.map(b => s"$tableName@$b").getOrElse(tableName)
    def metaTarget: String =
      if (wapBranch.isDefined && !cat.tableExists(target)) tableName
      else target
    new WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {
      // INSERT INTO appends; INSERT OVERWRITE (OverwriteByExpression with
      // a TRUE condition) replaces the table content in ONE commit —
      // truncate-then-append would leave an observable empty snapshot;
      // a FILTER overwrite (df.writeTo(t).overwrite(cond) / INSERT INTO t
      // REPLACE WHERE cond) suppresses matching rows via pos-deletes and
      // lands the replacement files in the same commit; DYNAMIC partition
      // overwrite (partitionOverwriteMode=dynamic) replaces exactly the
      // partition tuples the written data touches
      private var replaceAll = false
      private var dynamic = false
      private var filterOverwrite: Option[Array[Filter]] = None
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def canOverwrite(filters: Array[Filter]): Boolean =
        filters.forall(f => f.isInstanceOf[sources.AlwaysTrue] ||
          V1FilterColumns.toColumn(f).isDefined)
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) replaceAll = true
        else filterOverwrite = Some(filters)
        this
      }
      // V2-predicate entry points with the STRICT conversion — Spark's
      // default bridging weakens boolean compounds (see canDeleteWhere),
      // and an overwrite condition weakened to one Or-branch would
      // suppress the wrong row set. Refusal here fails the statement
      // loudly instead of corrupting the table.
      override def canOverwrite(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
        org.apache.spark.sql.graftbridge.DatasetBridge.strictToV1(predicates)
          .exists(canOverwrite)
      override def overwrite(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): WriteBuilder =
        overwrite(org.apache.spark.sql.graftbridge.DatasetBridge
          .strictToV1(predicates)
          .getOrElse(throw new UnsupportedOperationException(
            "REPLACE WHERE condition has no exact filter form " +
              "(e.g. an OR with a non-translatable side); rewrite the " +
              "condition or use row-level DML: " + predicates.mkString(", "))))
      override def overwriteDynamicPartitions(): WriteBuilder = {
        // on an UNPARTITIONED table the whole content is one "partition"
        // — Spark's own semantics: replace everything
        if (cat.partitionSpec(metaTarget).isEmpty) replaceAll = true
        else dynamic = true
        this
      }
      override def build(): Write = {
        // overwrite shapes pin a replace BASE. Non-WAP writes capture it
        // NOW (plan time — the optimistic contract: a commit landing
        // between planning and execution conflicts); wap.branch writes
        // defer BOTH the fork and the base read to commit time (inside
        // the base thunk, after prepare() forks), so EXPLAIN of any
        // write shape never mutates the catalog — the contract the
        // maintenance TVFs honor (EXPLAIN-no-commit)
        val overwriteShape = replaceAll || filterOverwrite.isDefined || dynamic
        val eagerBase: Option[Long] =
          if (overwriteShape &&
              (wapBranch.isEmpty || cat.tableExists(target)))
            Some(cat.currentSnapshotId(target)) // reading pins, never forks
          else None
        def base(): Long = eagerBase.getOrElse {
          cat.currentSnapshotId(writeTable) // forks first if needed
        }
        new GraftOrderedWrite(
        new GraftBatchWrite(root, target, info.schema(),
          replaceAt = if (replaceAll) Some(() => base()) else None,
          overwriteWhere = filterOverwrite.map(f => (f, () => base())),
          dynamicOverwriteAt = if (dynamic) Some(() => base()) else None,
          prepare = () => { writeTable; () },
          metaTable = wapBranch.map(_ => tableName)),
        // the table's declared write-order drives engine-side clustering;
        // only columns the write actually carries can be ordered by
        cat.sortOrder(metaTarget).filter(info.schema().fieldNames.contains),
        streaming = Some(() => new GraftStreamingWrite(
          root, writeTable, info.schema(), info.queryId())),
        // partitioned tables without a write-order cluster by the
        // partition TRANSFORMS themselves (resolved through the V2
        // FunctionCatalog) to bound the fanout to ~1 file per task (see
        // GraftOrderedWrite.requiredDistribution); transforms over
        // columns the write doesn't carry can't cluster
        // `void` (and any transform GraftV2Functions can't resolve) must
        // not reach the clustered distribution: DistributionAndOrderingUtils
        // would fail analysis with NoSuchFunctionException, and void maps
        // every row to one partition so it contributes nothing to clustering
        clusterExprs = partitioning().toSeq
          .filter(t => GraftV2Table.ClusterableTransforms.contains(t.name()))
          .filter(_.references()
          .forall(_.fieldNames().forall(info.schema().fieldNames.contains))))
      }
    }
  }

  /** Metadata-path DELETE: a fully-translatable condition commits MoR
    * position-delete files through the catalog's native `deleteWhere` —
    * no data rewrite, the 100 TB shape. Untranslatable conditions return
    * false from [[canDeleteWhere]] and Spark falls back to the
    * copy-on-write row-level rewrite.
    *
    * Pure KEY-EQUALITY conditions (`k = 5`, `a = 1 AND b = 'x'`,
    * `k IN (...)`) take the even cheaper eq-delete fast path
    * ([[GraftCatalog.deleteWhereEq]]): the keys themselves become the
    * delete file — a metadata-sized commit that reads ZERO data files,
    * where the pos-delete path must scan for matching positions first.
    * The 100 TB point-delete: cost is O(keys), not O(table).
    */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => V1FilterColumns.toColumn(f).isDefined)

  /** V2-predicate entry points overridden with the STRICT conversion:
    * Spark's default bridging weakens boolean compounds (an Or with one
    * untranslatable side becomes the other side ALONE — sound for scan
    * pushdown, silent wrong-row DELETEs here, measured: `DELETE WHERE
    * k = 0 OR k % 101 = 50` reached deleteWhere as `k = 0`). Refusing
    * sends Spark to the row-level rewrite, which is always exact.
    */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    org.apache.spark.sql.graftbridge.DatasetBridge.strictToV1(predicates)
      .exists(canDeleteWhere)

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    deleteWhere(org.apache.spark.sql.graftbridge.DatasetBridge
      .strictToV1(predicates)
      .getOrElse(throw new UnsupportedOperationException(
        "deleteWhere predicates have no exact V1 form; canDeleteWhere " +
          "should have refused: " + predicates.mkString(", "))))

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val target = writeTable
    val dir = s"$root/_data/$target/v2del-${java.util.UUID.randomUUID()}"
    GraftV2Table.equalityKeyRows(filters, schema) match {
      case Some((keySchema, rows)) =>
        val keys = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), keySchema)
        cat.deleteWhereEq(spark, target, keys, dir)
      case None =>
        val cond = filters.flatMap(V1FilterColumns.toColumn)
          .reduceOption(_ && _)
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        cat.deleteWhere(spark, target, cond, dir)
    }
  }

  /** Iceberg's metadata columns: every row's physical identity — also
    * the rowId the DELTA write path keys position-deletes on.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = "_file"
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment: String = "data file path of the row"
    },
    new MetadataColumn {
      override def name: String = "_pos"
      override def dataType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment: String = "ordinal position of the row in its file"
    })

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(asOf.isEmpty, s"cannot modify $tableName at a pinned snapshot")
    () => {
      // per-statement layout choice via the Iceberg table properties,
      // exactly like the TVF/extension DML path: copy-on-write rewrites
      // the affected files (the default, Iceberg's too), merge-on-read
      // commits position-deletes + new data files through WriteDelta
      val key = info.command() match {
        case RowLevelOperation.Command.DELETE => "write.delete.mode"
        case RowLevelOperation.Command.UPDATE => "write.update.mode"
        case RowLevelOperation.Command.MERGE => "write.merge.mode"
      }
      // wap.branch routing with a DEFERRED fork: when the branch fork
      // already exists the whole operation — scan AND replacement
      // commit — targets it exactly as before; when it doesn't, the
      // operation plans and scans MAIN at a pinned snapshot (metadata
      // only, so EXPLAIN DELETE/UPDATE/MERGE creates no branch) and its
      // COMMIT forks first, proving the fork's recorded base is that
      // pinned snapshot — a fork raced in from a later main head
      // conflicts like any other stale-base commit
      val forkName = wapBranch.map(b => s"$tableName@$b")
      val existingFork = forkName.filter(cat.tableExists)
      val opTable = existingFork.getOrElse(tableName)
      val wapFork: Option[GraftWapFork] =
        if (wapBranch.isEmpty || existingFork.isDefined) None
        else Some(GraftWapFork(forkName.get, pinned => {
          val fork = writeTable // creates the fork unless one raced in
          val c = new GraftCatalog(root)
          val base = c.forkBaseOf(fork)
          if (!base.contains((tableName, pinned)))
            throw new IllegalStateException(
              s"wap.branch commit conflict: $fork was forked from $base " +
                s"but this statement scanned ($tableName,$pinned) — " +
                "re-run the statement (it will plan against the branch)")
          // the fork's creation head (the shared constant forkTable
          // seeds): a commit racing onto the fresh fork advances past it
          // and the base-asserted replacement commit conflicts instead
          // of clobbering it
          GraftCatalog.ForkInitialSnapshotId
        }))
      cat.tableProperties(opTable).getOrElse(key, "copy-on-write") match {
        case "copy-on-write" =>
          new GraftRowLevelOperation(root, opTable, info.command(), wapFork)
        case "merge-on-read" =>
          new GraftDeltaRowLevelOperation(root, opTable, info.command(), wapFork)
        case other => throw new IllegalArgumentException(
          s"unknown $key '$other' for $opTable " +
            "(copy-on-write | merge-on-read)")
      }
    }
  }

  override def truncateTable(): Boolean = {
    val target = writeTable
    cat.commitReplaceAt(target, cat.currentSnapshotId(target), Nil)
    true
  }
}

/** Column pruning + best-effort filter pushdown into the inner MoR plan.
  *
  * `rowLevel = true` (the scan behind a copy-on-write ReplaceData) REFUSES
  * filter pushdown entirely: there, Spark pushes the DML condition so the
  * source can prune GROUPS (files) — a source that applies it to ROWS
  * drops exactly the keep-set the rewrite must write back (a DELETE would
  * silently erase the whole table's non-matching rows). This scan has no
  * file-granularity pruning hook, so it takes no filters and reads every
  * group; correctness first, group pruning is a later optimization.
  */
final class GraftScanBuilder(
    root: String,
    table: String,
    asOf: Option[Long],
    tableSchema: StructType,
    rowLevel: Boolean = false,
    skipRewrites: Boolean = false,
    host: Option[GraftRowLevelOperation] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    if (!rowLevel)
      pushed = filters.filter(f => V1FilterColumns.toColumn(f).isDefined)
    // EVERYTHING stays residual: the pushed copies shrink the inner scan's
    // IO (parquet row-group skipping through the MoR plan), Spark's
    // post-scan Filter keeps correctness independent of the translation
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Manifest-answered aggregates — Iceberg's metadata COUNT/MIN/MAX:
    * an unfiltered `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)`,
    * optionally GROUPED BY identity-partition source columns, whose
    * exactness is PROVABLE from the snapshot (every data file counted /
    * bounded / tuple-carrying, no pending delete that could suppress a
    * row, no sentinel bounds) is answered without opening a single data
    * file — at 100 TB the difference between a metadata lookup and a
    * full scan. `GROUP BY part_col` folds per-file record counts and
    * bounds per recorded partition tuple (one output row per tuple —
    * `SELECT part, count(*) ... GROUP BY part` and `SELECT DISTINCT part`
    * become manifest reads). Anything less provable refuses the pushdown
    * and scans; Spark only attempts this when NO filter survives (ours
    * all stay residual), so a WHERE automatically disables it.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAnswer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAnswer(agg) match {
      case Some(a) => aggAnswer = Some(a); true
      case None => false
    }

  /** Spark probes `supportCompletePushDown` then `pushAggregation` with
    * the SAME Aggregation instance — memoize by identity so the manifest
    * is read once per pushdown attempt, not once per probe (a
    * million-file table's entry list is a real driver-side parse).
    */
  private var answerMemo
      : Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
        Option[(StructType, Seq[Seq[Any]])])] = None

  private def metadataAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] =
    answerMemo match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = computeMetadataAnswer(agg)
        answerMemo = Some((agg, r))
        r
    }

  private def computeMetadataAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
    if (rowLevel || asOf.isDefined || pushed.nonEmpty) return None
    val cat = new GraftCatalog(root)
    val entries = cat.loadEntries(table)
    val allData = entries.filter(_.kind == "data")
    val noDeletes = entries.forall(_.kind == "data")
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[org.apache.spark.sql.types.StructField] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 =>
        tableSchema.fields.find(_.name == r.fieldNames.head)
      case _ => None
    }
    // ---- grouping: every groupBy column must be an IDENTITY-partition
    // source under the current spec, every data file must carry its tuple
    // under that binding with a parseable value, and record counts must
    // be known (an unknown count can't even prove group membership mass;
    // empty files are dropped so they never fabricate a distinct group)
    val groupCols = agg.groupByExpressions.toSeq.map(e =>
      colOf(e).getOrElse(return None))
    def parseKey(v: String, t: DataType): Option[Any] =
      if (v == null) Some(null)
      else t match {
        case IntegerType => v.toIntOption
        case LongType => v.toLongOption
        case StringType => Some(v)
        case _ => None
      }
    val groups: Seq[(Seq[Any], Seq[cat.TableEntry])] =
      if (groupCols.isEmpty) Seq((Nil, allData))
      else {
        if (!noDeletes || allData.exists(_.recordCount < 0L)) return None
        val spec = cat.partitionSpec(table)
        val fields = groupCols.map(f =>
          spec.find(p => p.transform == "identity" && p.source == f.name)
            .getOrElse(return None))
        val keyed = allData.filter(_.recordCount > 0L).map { e =>
          val key = groupCols.zip(fields).map { case (f, pf) =>
            if (!e.partitionTransforms.get(pf.name)
                .contains(s"identity|${pf.source}")) return None
            e.partitionVals.get(pf.name) match {
              case Some(v) => parseKey(v, f.dataType).getOrElse(return None)
              case None => return None
            }
          }
          (key, e)
        }
        keyed.groupBy(_._1).toSeq
          .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000"))
          .map { case (k, es) => (k, es.map(_._2)) }
      }
    /** Fold of per-file long bounds over one group — Some only when EVERY
      * file has parseable bounds (sentinels/missing stats refuse) and no
      * delete could have suppressed the extreme row.
      */
    def longBounds(data: Seq[cat.TableEntry], name: String)
        : Option[(Long, Long)] =
      if (!noDeletes || data.isEmpty) None
      else {
        val bs = data.map(e => e.stats.flatMap(s =>
          (s.colMins.get(name), s.colMaxs.get(name)) match {
            case (Some(mn), Some(mx)) =>
              (mn.toLongOption, mx.toLongOption) match {
                case (Some(a), Some(b)) => Some((a, b))
                case _ => None
              }
            case _ => None
          }))
        if (bs.exists(_.isEmpty)) None
        else Some((bs.flatten.map(_._1).min, bs.flatten.map(_._2).max))
      }
    // each aggregate resolves to (name, type, nullable, per-group value);
    // None anywhere refuses the whole pushdown
    type AggCol = (String, DataType, Boolean,
      Seq[cat.TableEntry] => Option[Any])
    val answered: Seq[Option[AggCol]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        // exact iff every row is counted and none is delete-suppressed
        if (noDeletes && allData.forall(_.recordCount >= 0L))
          Some(("count(*)", LongType: DataType, false,
            (d: Seq[cat.TableEntry]) =>
              Some(d.map(_.recordCount).sum: Any)): AggCol)
        else None
      case m: Min => colOf(m.column).flatMap { f =>
        // a recorded bound covers non-null values only — exact for SQL
        // MIN/MAX (which ignore nulls) whenever every file is bounded
        f.dataType match {
          case LongType => Some((s"min(${f.name})", LongType: DataType, true,
            (d: Seq[cat.TableEntry]) =>
              longBounds(d, f.name).map(_._1: Any)): AggCol)
          case IntegerType => Some((s"min(${f.name})", IntegerType: DataType,
            true, (d: Seq[cat.TableEntry]) =>
              longBounds(d, f.name).map(_._1.toInt: Any)): AggCol)
          case _ => None
        }
      }
      case m: Max => colOf(m.column).flatMap { f =>
        f.dataType match {
          case LongType => Some((s"max(${f.name})", LongType: DataType, true,
            (d: Seq[cat.TableEntry]) =>
              longBounds(d, f.name).map(_._2: Any)): AggCol)
          case IntegerType => Some((s"max(${f.name})", IntegerType: DataType,
            true, (d: Seq[cat.TableEntry]) =>
              longBounds(d, f.name).map(_._2.toInt: Any)): AggCol)
          case _ => None
        }
      }
      case c: Count if !c.isDistinct =>
        // COUNT(col) = rows minus the column's nulls — exact when counts
        // AND null counts are recorded everywhere and nothing is deleted
        colOf(c.column).flatMap { f =>
          if (noDeletes && allData.nonEmpty &&
              allData.forall(e => e.recordCount >= 0L &&
                e.stats.exists(_.nullCounts.contains(f.name))))
            Some((s"count(${f.name})", LongType: DataType, false,
              (d: Seq[cat.TableEntry]) =>
                Some(d.map(e => e.recordCount -
                  e.stats.get.nullCounts(f.name)).sum: Any)): AggCol)
          else None
        }
      case _ => None
    }
    if (answered.exists(_.isEmpty)) None
    else {
      val cols = answered.flatten
      val schema = StructType(
        groupCols.map(f => org.apache.spark.sql.types.StructField(
          f.name, f.dataType, nullable = true)) ++
        cols.map { case (n, t, nullable, _) =>
          org.apache.spark.sql.types.StructField(n, t, nullable)
        })
      // an ungrouped EMPTY table still answers count(*) = 0 (min/max
      // refuse on empty data and fall back to the scan, which computes
      // the SQL NULLs); a grouped empty table answers zero rows. ANY
      // per-group refusal (e.g. a group whose files lack bounds) refuses
      // the whole pushdown.
      val rows = groups.map { case (key, d) =>
        val vals = cols.map { case (_, _, _, of) =>
          of(d).getOrElse(return None)
        }
        key ++ vals
      }
      Some((schema, rows))
    }
  }

  override def build(): Scan = (host, aggAnswer) match {
    case (Some(op), _) =>
      new GraftRowLevelScan(root, table, asOf, required, op)
    case (None, Some((schema, rows))) =>
      new GraftMetadataAggScan(table, schema, rows)
    case (None, None) =>
      new GraftV1Scan(root, table, asOf, required, pushed, skipRewrites,
        maxFilesPerTrigger = maxFilesPerTrigger,
        maxRowsPerTrigger = maxRowsPerTrigger)
  }
}

/** The pre-computed rows of a metadata-answered aggregate — one row for
  * the ungrouped fold, one per partition tuple for `GROUP BY part_col`.
  */
final class GraftMetadataAggScan(
    table: String,
    schema: StructType,
    rowsData: Seq[Seq[Any]])
    extends org.apache.spark.sql.connector.read.LocalScan {

  override def readSchema(): StructType = schema

  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
    rowsData.map { values =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(values.map(
        org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst))
    }.toArray

  override def description(): String =
    s"GraftMetadataAggScan(table=$table, ${schema.fieldNames.mkString(", ")})"
}

class GraftV1Scan(
    root: String,
    table: String,
    asOf: Option[Long],
    required: StructType,
    filters: Array[Filter],
    skipRewrites: Boolean = false,
    host: Option[GraftRowLevelOperation] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  override def readSchema(): StructType = required

  /** Declared-write-order serving (`SupportsReportOrdering`): a sorted,
    * compacted table reports its sort order as PER-PARTITION ordering so
    * the engine elides sorts it would otherwise pay — a merge join over
    * two sorted co-bucketed tables plans with ZERO SortExec (composing
    * with the storage-partitioned layout below), the first-order lever
    * on a 100 TB sorted table. The claim is metadata-PROVEN, never
    * intent-derived:
    *
    *  - the served snapshot must be EXACTLY the sorted-compaction
    *    watermark ([[GraftCatalog.sortedSnapshot]] — the commit that
    *    range-clustered and sorted every data file by the declared
    *    order); any later commit expires the claim, time travel TO the
    *    stamped snapshot keeps it. A declared order alone proves nothing
    *    about files written before the declaration.
    *  - delete-free (the watermark snapshot is, by construction — this
    *    guards racing reads of a later state).
    *  - every served partition must hold at most ONE file's rows in file
    *    order: keyed (storage-partitioned) serving proves it per tuple
    *    (≤1 data file each — the engine itself additionally drops the
    *    claim if a key group ends up with >1 input partition); unkeyed
    *    serving proves it only for a single-data-file snapshot (splits
    *    of ONE file never co-pack: `FilePartition` packing is
    *    descending-size first-fit, and a full `maxSplitBytes` chunk
    *    leaves no room, so each split serves alone, internally in row
    *    order). Multi-file unkeyed snapshots refuse — Spark's packing
    *    may interleave files within a partition.
    *
    * Only the prefix of the order present in the projection is claimed
    * (rows sorted by (a, b) are sorted by (a)).
    */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderingClaim

  /** When a HEAD read claimed ordering, the snapshot the claim was
    * PROVEN at: the non-keyed serve pins its planning to this id, so a
    * commit racing between the claim (optimizer time) and the plan
    * (execution time) can never slip newer, unsorted data under a sorted
    * claim — a silently-wrong merge join otherwise. Keyed serving
    * already pins at its layout's snapshot; pinned reads pin themselves.
    */
  @volatile private var orderingClaimSnapshot: Option[Long] = None

  private lazy val orderingClaim
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val cat = new GraftCatalog(root)
    // The snapshot the scan will actually SERVE. Keyed serving pins at its
    // layout's captured snapshot — validating the sorted watermark against
    // the current head instead would let a sorted compaction committing
    // between layout capture and claim evaluation make head == watermark
    // while rows are served from the older, unsorted layout: a sorted
    // claim over unsorted data and a silently wrong merge join.
    val servedSnapshot: Long = keyedLayout match {
      case Some(kl) => kl.snapshotId
      case None => asOf.getOrElse(cat.currentSnapshotId(table))
    }
    val claim: Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      cat.sortedSnapshot(table) match {
        case Some((sid, cols)) if cols.nonEmpty && servedSnapshot == sid =>
          (try Some(cat.loadEntriesAt(table, sid))
           catch { case _: Exception => None }) match {
            case None => Array.empty
            case Some(entries) =>
              val data = entries.filter(_.kind == "data")
              val singleFileSlices = keyedLayout match {
                case Some(kl) => kl.tuples.forall(_._2.size <= 1)
                case None => data.size <= 1
              }
              val prefix = cols.takeWhile(required.fieldNames.contains)
              if (entries.exists(_.kind != "data") || !singleFileSlices ||
                  prefix.isEmpty)
                Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]
              else {
                if (asOf.isEmpty && keyedLayout.isEmpty)
                  orderingClaimSnapshot = Some(sid)
                prefix.map(c =>
                  org.apache.spark.sql.connector.expressions.Expressions.sort(
                    org.apache.spark.sql.connector.expressions.Expressions
                      .column(c),
                    org.apache.spark.sql.connector.expressions.SortDirection
                      .ASCENDING))
                  .toArray
              }
          }
        case _ => Array.empty
      }
    claim
  }

  /** STORAGE-PARTITIONED-JOIN layout: when every data file of a
    * partitioned table carries a full tuple under the CURRENT spec,
    * report `KeyGroupedPartitioning(transforms, distinct tuples)` and
    * serve one keyed partition group per tuple — two graft tables
    * bucketed the same way then JOIN WITH NO SHUFFLE (Spark's V2
    * bucketing, the transforms resolving through [[GraftV2Functions]]).
    * PENDING DELETES don't break the claim: pos/eq deletes are row-local
    * (they only REMOVE rows from their tuples, never move them), so the
    * MoR anti joins apply inside each keyed group — Iceberg's SPJ keeps
    * working with deletes for the same reason. Time-travel reads keep the
    * layout too: historical entries carry their own tuple bindings, and
    * any entry recorded under a different spec binding refuses the
    * layout. Anything unprovable reports unknown and plans as before.
    */
  private lazy val keyedLayout: Option[GraftKeyedLayout] =
    // gated on the engine's OWN storage-partitioned-join switch
    // (Iceberg's posture exactly). ROW-ID scans (_file/_pos required —
    // the row-level DML shape) never serve keyed: the WriteDelta above
    // them gains nothing from a claimed clustering, and they serve from
    // the snapshot's scan state, whose row path (the mask's refusal) is
    // one whole-table frame a per-tuple regroup would re-serve once per
    // tuple — measured as N× duplicated UPDATE rows on an N-tuple table.
    if (host.isDefined ||
        required.fieldNames.exists(n => n == "_file" || n == "_pos") ||
        !SparkSession.active.conf.get(
          "spark.sql.sources.v2.bucketing.enabled", "false").toBoolean) None
    else GraftKeyedLayout.of(root, table, asOf)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyedLayout.fold(
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
        : org.apache.spark.sql.connector.read.partitioning.Partitioning)(kl =>
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        kl.clustering, kl.tuples.size))

  /** Files a runtime `IN`/`=` filter could not rule out — installed by
    * [[filter]] between the engine's partition probes, consumed by the
    * next [[toBatch]] re-plan. None = no (parseable) runtime filter
    * arrived; full file set, always correct.
    */
  @volatile private var runtimeKeep: Option[Set[String]] = None

  /** Dynamic partition pruning / runtime row-group filters: the engine
    * may push the build side of a join as `col IN (values)` at RUNTIME
    * (Spark's DPP on DSv2 scans). Accept them on every column the
    * snapshot can actually prune by — partition-transform sources,
    * declared sort-order columns, and stats-carrying columns — so a
    * dim-filtered star join reads only the fact files whose tuples or
    * bounds may hold the surviving keys. The row-level subclass
    * overrides this with its `_file` group-filter semantics.
    */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (asOf.isDefined) Array.empty
    else {
      val cat = new GraftCatalog(root)
      val statCols = cat.loadEntries(table)
        .collectFirst { case e if e.kind == "data" && e.stats.isDefined =>
          e.stats.get.colMins.keys.toSeq
        }.getOrElse(Nil)
      (cat.partitionSpec(table).map(_.source) ++ cat.sortOrder(table) ++
        statCols).distinct
        // Spark's PartitionPruning resolveRefs THROWS (not refuses) on a
        // filter attribute missing from the scan output — and writer-side
        // stats now cover every primitive column, so restrict to columns
        // this scan actually reads
        .filter(required.fieldNames.contains)
        .map(c => org.apache.spark.sql.connector.expressions.Expressions.column(c)
          : org.apache.spark.sql.connector.expressions.NamedReference)
        .toArray
    }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val sets = GraftRowLevelScan.extractColumnInSets(predicates)
    if (sets.nonEmpty) {
      val cat = new GraftCatalog(root)
      val keep = sets.map { case (c, vs) =>
        cat.inKeepPaths(SparkSession.active, table, c, vs)
      }.reduce(_ intersect _)
      runtimeKeep = Some(keep)
    }
  }

  /** Metadata-answered size/row estimate (the per-file sizes and counts
    * every commit path stamps into the manifest) so a SMALL catalog table
    * mounted through the DSv2 doorway AUTO-BROADCASTS in joins — without
    * this Spark assumes the conservative default and every dim-to-fact
    * join on a doorway table would shuffle at 100 TB.
    *
    * FILTER-AWARE (r18): the estimate prunes entries by the PUSHED
    * conjuncts the same way the scan itself will — recorded stats bounds
    * ([[PinnedPrune]]) plus identity-partition tuple matching — so a
    * partition-filtered build side estimates at its post-prune size
    * (what AQE/join selection actually needs), still an upper bound on
    * the scan's real output.
    *
    * Unknown manifest sizes (-1, e.g. REST-appended or imported files
    * without record counts) fall back PER PARTITION TUPLE to the
    * partition-statistics rollup ([[GraftCatalog.partitionStatsRollup]]
    * — the stats FILE, per-tuple rows and bytes); only when neither the
    * manifests nor the stats file can size a surviving tuple does the
    * estimate poison back to unknown: never risk mis-broadcasting an
    * unbounded table.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val cat = new GraftCatalog(root)
    val entries = asOf match {
      case Some(sid) => cat.loadEntriesAt(table, sid)
      case None => cat.loadEntries(table)
    }
    val data = entries.filter(_.kind == "data")
    // stats-bounds pruning (numeric conjuncts over recorded min/max)
    val statKeep: Option[Set[String]] = PinnedPrune.keep(filters, entries)
    // identity-partition tuple pruning: EqualTo/In on an identity-
    // transformed source column rules out every file whose recorded
    // tuple value differs. ONLY for string/integral/boolean sources —
    // their String.valueOf rendering provably matches the catalog's
    // recorded tuple strings; date/timestamp/decimal identity values
    // render differently per dialect, and a false exclusion here would
    // UNDERESTIMATE (the scan returns rows the estimate dropped),
    // risking a mis-broadcast. Excluded types simply don't tuple-prune
    // the estimate (bounds pruning may still apply).
    val stableRender: Set[org.apache.spark.sql.types.DataType] = {
      import org.apache.spark.sql.types._
      Set(StringType, IntegerType, LongType, ShortType, ByteType, BooleanType)
    }
    val schemaTypes: Map[String, org.apache.spark.sql.types.DataType] =
      cat.currentSchema(table).map(_.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
    val identField: Map[String, String] = cat.partitionSpec(table)
      .filter(f => f.transform == "identity" &&
        schemaTypes.get(f.source).exists(stableRender))
      .map(f => f.source -> f.name).toMap
    def tupleVal(e: cat.TableEntry, column: String): Option[String] =
      identField.get(column).flatMap(n => e.partitionVals.get(n))
        .filter(_ != null)
    def tupleSurvives(e: cat.TableEntry): Boolean = filters.forall {
      case org.apache.spark.sql.sources.EqualTo(a, v) if v != null =>
        tupleVal(e, a).forall(_ == String.valueOf(v))
      case org.apache.spark.sql.sources.In(a, vs) =>
        tupleVal(e, a).forall(tv =>
          vs.exists(v => v != null && tv == String.valueOf(v)))
      case _ => true
    }
    val surviving = data.filter(e =>
      statKeep.forall(_.contains(e.path)) && tupleSurvives(e))
    // per-tuple sizing: manifest sums where known, the stats-file rollup
    // where not; a tuple neither can size poisons that DIMENSION of the
    // estimate. Rows and bytes size INDEPENDENTLY — a file with a known
    // size but an unknown record count (REST-appended externals) must
    // keep serving sizeInBytes exactly as it did before the rollup
    // fallback existed.
    val specDefs = cat.partitionSpec(table)
    val specFields = specDefs.map(_.name)
    lazy val rollup: Option[Map[Seq[String], (Long, Long)]] =
      cat.partitionStatsRollup(SparkSession.active, table, asOf)
    // canonical rollup key: catalog tuple strings parse as the
    // transform's RESULT type and render in ONE fixed form (epoch-day
    // ordinals for dates) — the same form partitionStatsRollup renders
    // the typed parquet values in — so an identity-date tuple recorded
    // as '2024-01-15' keys identically to the rollup's Date slot.
    val slotTypeOf: Map[String, org.apache.spark.sql.types.DataType] =
      specDefs.map { d =>
        d.name -> graft.sources.IcebergManifest
          .resultType(d.transform, schemaTypes.getOrElse(d.source,
            org.apache.spark.sql.types.StringType))
          .getOrElse(org.apache.spark.sql.types.StringType)
      }.toMap
    def rollupKey(tuple: Seq[String]): Seq[String] =
      specFields.zip(tuple).map { case (f, raw) =>
        if (raw == null) null
        else graft.sources.IcebergManifest.slotValue(slotTypeOf(f), raw)
          .map(String.valueOf(_)).getOrElse(raw)
      }
    // rollup STALENESS guard (r19): the rollup writer omits any tuple
    // containing an unknown-count file, so when the fallback fires for a
    // tuple its unknown files either (a) existed at the stats snapshot —
    // an adopted-at-import stats file that covers them — or (b) postdate
    // it, in which case the rollup is a stale lower bound that would be
    // served as confident (the mis-broadcast hazard the poison-to-unknown
    // default guards against). Trust the rollup ONLY when every
    // unknown-count file of the tuple existed at the stats snapshot; an
    // expired stats base is unprovable and poisons too.
    lazy val statsSnapshotPaths: Option[Set[String]] =
      cat.partitionStatistics(table, asOf).flatMap { ref =>
        try Some(cat.loadEntriesAt(table, ref.snapshotId).iterator
          .filter(_.kind == "data")
          .map(e => graft.sources.CompactionRunner.canonKey(e.path)).toSet)
        catch { case _: Exception => None }
      }
    def estimateOf(
        get: cat.TableEntry => Long,
        fromRollup: ((Long, Long)) => Long): Option[Long] =
      if (surviving.forall(get(_) >= 0)) Some(surviving.map(get).sum)
      else if (specFields.isEmpty) None
      else surviving.groupBy(e =>
        specFields.map(f => e.partitionVals.getOrElse(f, null)): Seq[String])
        .foldLeft(Option(0L)) { case (acc, (tuple, es)) =>
          acc.flatMap { t =>
            if (es.forall(get(_) >= 0)) Some(t + es.map(get).sum)
            else {
              val covered = statsSnapshotPaths.exists(paths =>
                es.filter(get(_) < 0).forall(e =>
                  paths(graft.sources.CompactionRunner.canonKey(e.path))))
              if (!covered) None
              else rollup.flatMap(_.get(rollupKey(tuple))).map { r =>
                // the rollup snapshot may predate KNOWN files appended to
                // this tuple since — both the known-file sum and the
                // rollup are lower bounds on the tuple's true size, so
                // take the larger (strictly tighter, never worse)
                t + math.max(es.filter(get(_) >= 0).map(get).sum, fromRollup(r))
              }
            }
          }
        }
    val rowsEst: Option[Long] = estimateOf(_.recordCount, _._1)
    val bytesEst: Option[Long] = estimateOf(_.sizeBytes, _._2)
    val hasDeletes = entries.exists(_.kind != "data")
    // EXACT row counts under pending POSITION deletes (r19): pos-delete
    // and DV cardinality is exact in the manifests (DV blob record
    // counts, posdel record counts — stamped by every commit path), and
    // delete writers only record positions of rows LIVE at write time
    // (the MoR scan masks already-deleted rows before a new delete is
    // computed), so no (path, pos) repeats across pending files and the
    // live row count is exactly dataRows − posCardinality. Imported
    // chains share the discipline by spec: v3 allows at most one DV per
    // data file and conforming v2 writers delete live rows only — the
    // same assumption stock engines' cardinality-based estimates make.
    // Eq-deletes stay conservative — their suppressed-row count needs
    // the key join.
    // DANGLING guard (r19 self-review): after an incremental compaction
    // the pending posdels may reference rewritten-away files — their
    // positions match nothing at read time, and subtracting them would
    // UNDERCOUNT live rows (mis-broadcast). Withhold whenever the
    // metadata walk cannot prove no data file was removed while these
    // deletes were pending (a full compaction retires them and clears it).
    val posExact: Option[Long] = {
      val pos = entries.filter(_.kind == "posdel")
      if (entries.exists(_.kind == "eqdel") || pos.exists(_.recordCount < 0L) ||
          (pos.nonEmpty && cat.posDeleteDanglingPossible(table, asOf)))
        None
      else Some(pos.map(_.recordCount).sum)
    }
    // per-column distinct counts from the recorded statistics file (the
    // Puffin NDV sketches — native ANALYZE or an import's adopted foreign
    // blobs); newest-at-or-before the served snapshot, Iceberg's stale-
    // stats convention. Zero data IO: one cached footer parse.
    val ndv = cat.columnNdv(table, asOf)
    // opt-in equi-height histograms (ANALYZE with histograms = true):
    // skewed RANGE selectivity — CBO interpolates inside [min, max]
    // without them, catastrophically wrong on skew
    val histos = cat.columnHistograms(table, asOf)
    // min/max/nullCount from the SURVIVING entries' recorded writer
    // bounds — range-predicate selectivity (CBO interpolates inside
    // [min,max]) and IsNull estimates, on top of the sketch NDVs.
    // Numeric columns only (string bound ordering is collation-fraught);
    // a column reports only when EVERY surviving entry carries a
    // parseable bound — a partial min would silently misestimate.
    // numVal deliberately does NOT reuse IcebergManifest.slotValue: the
    // planner needs the attribute's EXTERNAL JVM type (Short for a
    // ShortType column — catalyst ColumnStat values), while slotValue
    // yields Avro SLOT types (Int for short/byte, epoch-day Int for
    // dates).
    def numVal(dt: org.apache.spark.sql.types.DataType, s: String): Option[Any] = {
      import org.apache.spark.sql.types._
      dt match {
        case IntegerType => s.toIntOption
        case LongType => s.toLongOption
        case ShortType => s.toShortOption
        case ByteType => s.toByteOption
        case DoubleType => s.toDoubleOption
        case FloatType => s.toFloatOption
        case _ => None
      }
    }
    val tblSchema = cat.currentSchema(table).getOrElse(required)
    def boundsOf(name: String): (Option[Any], Option[Any], Option[Long]) =
      tblSchema.fields.find(_.name == name).map(_.dataType) match {
        case None => (None, None, None)
        case Some(dt) =>
          val mins = surviving.map(_.stats.flatMap(_.colMins.get(name))
            .flatMap(numVal(dt, _)))
          val maxs = surviving.map(_.stats.flatMap(_.colMaxs.get(name))
            .flatMap(numVal(dt, _)))
          val nulls = surviving.map(_.stats.flatMap(_.nullCounts.get(name)))
          def agg(vs: Seq[Option[Any]], takeMax: Boolean): Option[Any] =
            if (vs.isEmpty || vs.exists(_.isEmpty)) None
            else Some(vs.flatten.reduce { (a, b) =>
              val c = (a, b) match {
                // Longs compare as longs — doubleValue loses precision
                // above 2^53 and two distinct large Longs would tie,
                // serving the wrong bound to CBO
                case (x: java.lang.Long, y: java.lang.Long) =>
                  java.lang.Long.compare(x.longValue, y.longValue)
                case (x: Number, y: Number) =>
                  x.doubleValue.compareTo(y.doubleValue)
                case _ => 0
              }
              if ((c >= 0) == takeMax) a else b
            })
          (agg(mins, takeMax = false), agg(maxs, takeMax = true),
            if (nulls.isEmpty || nulls.exists(_.isEmpty)) None
            else Some(nulls.flatten.sum))
      }
    val colStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      ndv.foreach { case (name, n) =>
        if (required.fieldNames.contains(name)) {
          val (lo, hi, nulls) = boundsOf(name)
          val hist: java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            histos.get(name).fold(java.util.Optional.empty[
                org.apache.spark.sql.connector.read.colstats.Histogram]()) { h =>
              val v2bins = h.bins.map { case (blo, bhi, bndv) =>
                new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                  override def lo(): Double = blo
                  override def hi(): Double = bhi
                  override def ndv(): Long = bndv
                }
              }.toArray
              java.util.Optional.of(
                new org.apache.spark.sql.connector.read.colstats.Histogram {
                  override def height(): Double = h.height
                  override def bins(): Array[
                      org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                    v2bins
                })
            }
          m.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(n)
              override def min(): java.util.Optional[Object] =
                lo.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def max(): java.util.Optional[Object] =
                hi.fold(java.util.Optional.empty[Object]())(v =>
                  java.util.Optional.of(v.asInstanceOf[Object]))
              override def nullCount(): java.util.OptionalLong =
                nulls.fold(java.util.OptionalLong.empty())(
                  java.util.OptionalLong.of)
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                hist
            })
        }
      }
      m
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytesEst match {
          case Some(bytes) if data.nonEmpty =>
            java.util.OptionalLong.of(math.max(1L, bytes))
          case _ => java.util.OptionalLong.empty()
        }
      // pending EQ-deletes suppress an unknown number of rows at read
      // time (the manifest sum would OVERCOUNT) — withhold then. Pending
      // POSITION deletes subtract exactly, but only for the UNPRUNED
      // estimate: subtracting the table-wide delete cardinality from a
      // filter-pruned file subset could UNDERcount (the deletes may
      // reference pruned files) — the mis-broadcast direction — so a
      // pruned estimate under deletes still withholds.
      override def numRows(): java.util.OptionalLong =
        rowsEst match {
          case Some(rows) if data.nonEmpty && !hasDeletes =>
            java.util.OptionalLong.of(rows)
          case Some(rows) if data.nonEmpty && posExact.isDefined &&
              surviving.size == data.size =>
            java.util.OptionalLong.of(math.max(0L, rows - posExact.get))
          case _ => java.util.OptionalLong.empty()
        }
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** EVERY batch read — plain SELECTs and the row-level-operation
    * scans alike — serves through `BatchScanExec` as file-task slices of
    * one planned scan: keyed serving's regroup, else the snapshot's scan
    * state ([[GraftScanState]]), pruned per statement. Each
    * `InputPartition` is computed on the executor, nothing pre-executes on
    * the driver, and runtime filters ([[filter]]) and copy-on-write group
    * filters prune the file set between partition probes.
    */
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    keyedLayout match {
      case Some(kl) =>
        // keyed serving: ONE planned frame for the whole snapshot, its
        // file partitions regrouped tuple-pure and each tagged with its
        // key — O(files) planning however many tuples the spec has.
        // Runtime filters prune files INSIDE the regroup (tuple groups
        // survive, possibly empty), so a DPP-filtered keyed scan reads
        // only the matching buckets without desyncing the key count.
        new GraftRddBatch(() => {
          val spark = SparkSession.active
          GraftKeyedServing.groups(
              spark, root, table, required, filters, kl, runtimeKeep)
            .map { gs => GraftKeyedServing.onePlanServed.incrementAndGet(); gs }
            .getOrElse(
              // a claimed layout implies broadcastable delete sets
              // (admission checks them at every width, DV decode gate
              // included), whose MoR chains plan narrow over one
              // FileScanRDD per schema group, and the regroup's keepPaths
              // pins the planned files to the layout's own set — so the
              // only way here is a COMMIT RACING between layout admission
              // and frame planning (the optimistic-concurrency window
              // every commit path also has). Failing loudly and
              // retryably beats serving unkeyed partitions under a
              // reported KeyGroupedPartitioning; the r13 per-tuple
              // Catalyst fallback (O(tuples) planning, the measured
              // 477 s cliff at width 256) is deleted, not just avoided.
              throw new IllegalStateException(
                s"keyed read of $table could not regroup its planned scan " +
                  "as foreign splits of one plan — a commit raced this " +
                  "read's planning; re-run the query (it will admit the " +
                  "new snapshot). If this persists without concurrent " +
                  "commits, file a bug with the snapshot entries and plan"))
        }, token = () => "keyed")
      case None =>
        new GraftRddBatch(() => {
          val spark = SparkSession.active
          // a HEAD read that CLAIMED ordering pins its planning to the
          // claim's snapshot (see orderingClaimSnapshot) — the commit
          // window between optimizer-time claim and execution-time plan
          // must never serve newer data under the sorted claim
          val serveAsOf = asOf.orElse(orderingClaimSnapshot)
          // a copy-on-write group filter (the row-level scan takes no
          // other runtime filter) prunes the state to the group's files
          GraftScanState.serve(spark, root, table, serveAsOf, required, filters,
            host.fold(runtimeKeep)(_.groupFilter))
        }, token = () => (runtimeKeep, host.flatMap(_.groupFilter)))
    }

  /** `spark.readStream.table(...)` — the DSv2 streaming doorway, sharing
    * the V1 source's snapshot-offset semantics.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty, s"cannot stream $table at a pinned snapshot")
    new GraftMicroBatchStream(root, table, required, skipRewrites,
      maxFilesPerTrigger, maxRowsPerTrigger)
  }

  override def description(): String =
    s"GraftScan(table=$table${asOf.fold("")(s => s", asOf=$s")}, " +
      s"columns=${required.fieldNames.mkString(",")})"
}

/** Batch over driver-planned `RDD[InternalRow]`s (one per schema group —
  * usually one): one input partition per RDD partition, reader = the
  * RDD's own iterator. The RDDs are rebuilt through `mk` whenever the
  * `token` changes — `BatchScanExec` re-plans partitions after runtime
  * filters arrive (`scan.filter(...)`), and a frozen RDD would serve the
  * pre-filter file set; between filter arrivals the plan is MEMOIZED
  * (the engine probes planInputPartitions 2-3× per execution for
  * partitioning/columnar checks, and each un-memoized probe repeated the
  * whole inner Catalyst planning — the bulk of the doorway's per-read
  * planning constant). Memoizing also pins one snapshot per execution:
  * a commit landing between probes can no longer split the read.
  */
final class GraftRddBatch(
    mk: () => Seq[GraftServedGroup],
    token: () => Any = () => None)
    extends org.apache.spark.sql.connector.read.Batch {

  def this(rdd: RDD[org.apache.spark.sql.catalyst.InternalRow]) =
    this(() => Seq(GraftRowGroup(null, rdd)))

  private var memo: Option[(Any,
    Array[org.apache.spark.sql.connector.read.InputPartition])] = None

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    synchronized {
      val t = token()
      memo match {
        case Some((mt, ps)) if mt == t => ps
        case _ =>
          val ps = buildPartitions()
          memo = Some((t, ps))
          ps
      }
    }

  private def buildPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    mk().flatMap {
      case GraftRowGroup(key, rdd) =>
        rdd.partitions.map(p =>
          (if (key == null) GraftRddInputPartition(rdd, p)
           else new GraftKeyedRddInputPartition(rdd, p, key))
            : org.apache.spark.sql.connector.read.InputPartition)
      case GraftColumnarGroup(rdd) =>
        rdd.partitions.map(p =>
          GraftColumnarRddInputPartition(rdd, p)
            : org.apache.spark.sql.connector.read.InputPartition)
      case GraftKeyedColumnarGroup(key, rdd) =>
        rdd.partitions.map(p =>
          new GraftKeyedColumnarRddInputPartition(rdd, p, key)
            : org.apache.spark.sql.connector.read.InputPartition)
      case GraftRowSlices(key, rdd, parts) =>
        parts.map(p =>
          (if (key == null) GraftRddInputPartition(rdd, p)
           else new GraftKeyedRddInputPartition(rdd, p, key))
            : org.apache.spark.sql.connector.read.InputPartition)
      case GraftColumnarSlices(key, rdd, parts) =>
        parts.map(p =>
          (if (key == null) GraftColumnarRddInputPartition(rdd, p)
           else new GraftKeyedColumnarRddInputPartition(rdd, p, key))
            : org.apache.spark.sql.connector.read.InputPartition)
    }.toArray

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new GraftRddReaderFactory
}

/** One served slice of a doorway batch read: a (possibly keyed) row rdd
  * or a columnar rdd (the vectorized handoff for bare-scan reads).
  */
private[dsv2] sealed trait GraftServedGroup
private[dsv2] final case class GraftRowGroup(
    key: org.apache.spark.sql.catalyst.InternalRow,
    rdd: RDD[org.apache.spark.sql.catalyst.InternalRow])
    extends GraftServedGroup
private[dsv2] final case class GraftColumnarGroup(
    rdd: RDD[org.apache.spark.sql.vectorized.ColumnarBatch])
    extends GraftServedGroup
private[dsv2] final case class GraftKeyedColumnarGroup(
    key: org.apache.spark.sql.catalyst.InternalRow,
    rdd: RDD[org.apache.spark.sql.vectorized.ColumnarBatch])
    extends GraftServedGroup

/** A SLICE of a single shared plan: `parts` are `FilePartition`s
  * regrouped from the ONE planned scan's file set, served as foreign
  * splits of that scan's rdd ([[org.apache.spark.sql.graftbridge.DatasetBridge.fileScanPartitions]]
  * proves the chain passes the split through). Keyed by partition tuple
  * for one-plan keyed serving; `key == null` for the snapshot scan
  * state's pruned reads.
  */
private[dsv2] sealed trait GraftSlices extends GraftServedGroup {
  def parts: Seq[org.apache.spark.Partition]
  def withParts(ps: Seq[org.apache.spark.Partition]): GraftSlices
}
private[dsv2] final case class GraftRowSlices(
    key: org.apache.spark.sql.catalyst.InternalRow,
    rdd: RDD[org.apache.spark.sql.catalyst.InternalRow],
    parts: Seq[org.apache.spark.Partition])
    extends GraftSlices {
  override def withParts(ps: Seq[org.apache.spark.Partition]): GraftSlices =
    copy(parts = ps)
}
private[dsv2] final case class GraftColumnarSlices(
    key: org.apache.spark.sql.catalyst.InternalRow,
    rdd: RDD[org.apache.spark.sql.vectorized.ColumnarBatch],
    parts: Seq[org.apache.spark.Partition])
    extends GraftSlices {
  override def withParts(ps: Seq[org.apache.spark.Partition]): GraftSlices =
    copy(parts = ps)
}

/** An input partition serving the scan's own `ColumnarBatch`es — the
  * consuming query's `ColumnarToRow` is then the ONLY row conversion.
  */
final case class GraftColumnarRddInputPartition(
    rdd: RDD[org.apache.spark.sql.vectorized.ColumnarBatch],
    partition: org.apache.spark.Partition)
    extends org.apache.spark.sql.connector.read.InputPartition

/** [[GraftColumnarRddInputPartition]] carrying its partition TUPLE — the
  * storage-partitioned-join serving shape, vectorized.
  */
final class GraftKeyedColumnarRddInputPartition(
    val rdd: RDD[org.apache.spark.sql.vectorized.ColumnarBatch],
    val partition: org.apache.spark.Partition,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

final case class GraftRddInputPartition(
    rdd: RDD[org.apache.spark.sql.catalyst.InternalRow],
    partition: org.apache.spark.Partition)
    extends org.apache.spark.sql.connector.read.InputPartition

/** [[GraftRddInputPartition]] carrying its partition TUPLE as the key the
  * engine groups and co-locates storage-partitioned joins by.
  */
final class GraftKeyedRddInputPartition(
    val rdd: RDD[org.apache.spark.sql.catalyst.InternalRow],
    val partition: org.apache.spark.Partition,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

final class GraftRddReaderFactory
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      partition: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    partition.isInstanceOf[GraftColumnarRddInputPartition] ||
      partition.isInstanceOf[GraftKeyedColumnarRddInputPartition]

  override def createColumnarReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (rdd, part) = partition match {
      case GraftColumnarRddInputPartition(r, p) => (r, p)
      case k: GraftKeyedColumnarRddInputPartition => (k.rdd, k.partition)
    }
    val it = org.apache.spark.sql.graftbridge.DatasetBridge.countedOnce(
      rdd.iterator(part, org.apache.spark.TaskContext.get()),
      (b: org.apache.spark.sql.vectorized.ColumnarBatch) => b.numRows())
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] {
      private var current: org.apache.spark.sql.vectorized.ColumnarBatch = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = current
      // batches/vectors are owned by the scan's task-completion cleanup
      override def close(): Unit = ()
    }
  }

  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val (rdd, part) = partition match {
      case GraftRddInputPartition(r, p) => (r, p)
      case k: GraftKeyedRddInputPartition => (k.rdd, k.partition)
    }
    val it = org.apache.spark.sql.graftbridge.DatasetBridge.countedOnce(
      rdd.iterator(part, org.apache.spark.TaskContext.get()),
      (_: org.apache.spark.sql.catalyst.InternalRow) => 1)
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private var current: org.apache.spark.sql.catalyst.InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): org.apache.spark.sql.catalyst.InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The ROW PATH of the doorway's reads: the catalog MoR read as frames,
  * for what the snapshot's masked scan state ([[GraftColumnarMask.plan]])
  * refuses — delete-free reads without row ids, keyed serving, and the
  * reads the mask cannot prove (the probe switch, a rename chain,
  * unmaskable types, oversized delete sets, non-parquet data). A
  * projection asking for the `_file`/`_pos` metadata columns reads the
  * row-identity variant (`scanTableWithRowId`), one whole-table frame.
  */
private[dsv2] object GraftInnerFrame {
  def apply(
      spark: SparkSession,
      root: String,
      table: String,
      asOf: Option[Long],
      required: StructType,
      filters: Array[Filter]): DataFrame =
    frames(spark, root, table, asOf, required, filters).reduce(_.unionByName(_))

  /** The per-statement serve of a read whose plan cannot be sliced by
    * file (a shuffle-bearing row path): the frames planned with the
    * statement's filters, served as the scans' own columnar batches when
    * every group plans as a bare columnar scan — the consuming query then
    * does the one row conversion; BatchScanExec forbids mixing row and
    * columnar partitions, so it is all-or-nothing — else as servable row
    * rdds.
    */
  def served(
      spark: SparkSession,
      root: String,
      table: String,
      asOf: Option[Long],
      required: StructType,
      filters: Array[Filter],
      keepPaths: Option[Set[String]]): Seq[GraftServedGroup] = {
    val fs = frames(spark, root, table, asOf, required, filters,
      keepPaths = keepPaths)
    val columnar =
      if (fs.isEmpty) None
      else {
        val cols = fs.map(f => org.apache.spark.sql.graftbridge
          .DatasetBridge.columnarRddNoAqe(f, peelFilters = true))
        if (cols.forall(_.isDefined)) Some(cols.flatten) else None
      }
    columnar match {
      case Some(crdds) => crdds.map(GraftColumnarGroup(_): GraftServedGroup)
      case None => servableRdds(fs).map(GraftRowGroup(null, _): GraftServedGroup)
    }
  }

  /** The MoR read as one frame PER SCHEMA GROUP (single-element for
    * row-identity reads and pruned point lookups): each group plans
    * narrow over its own file tasks, so the batch serving path can stream
    * file-task partitions per group with no inline union.
    */
  def frames(
      spark: SparkSession,
      root: String,
      table: String,
      asOf: Option[Long],
      required: StructType,
      filters: Array[Filter],
      keepPaths: Option[Set[String]] = None,
      // keyed (one-plan regroup) callers prune INSIDE the regroup instead
      // (tuple groups must survive, possibly empty): letting the frame's
      // own stats pruning empty the file list would collapse the plan
      // into a local relation the regroup cannot slice — an absent-key
      // point lookup on a keyed table then hard-failed instead of
      // serving zero rows
      statsPrune: Boolean = true): Seq[DataFrame] = {
    val cat = new GraftCatalog(root)
    val needsRowId = required.fieldNames.exists(n => n == "_file" || n == "_pos")
    /** A pushed point-lookup routes through the catalog's pruned scans
      * (partition-tuple + stats + bloom file skipping — the q124 shape,
      * now through the doorway): a `k = v` predicate on a bucketed or
      * clustered table then opens 1/n of the files instead of all of
      * them. Only the FIRST eligible equality drives pruning; every
      * pushed filter is re-applied below regardless, so the routing is
      * pure IO reduction, never a correctness dependency.
      */
    def prunedScan: Option[DataFrame] =
      // keyed (per-tuple) serving passes keepPaths: the shortcut would
      // serve the SAME pruned result once per tuple — duplication
      if (needsRowId || asOf.isDefined || keepPaths.isDefined) None
      else filters.collectFirst {
        case sources.EqualTo(a, v: String) =>
          cat.scanTableWhereEqString(spark, table, a, v)
      }.orElse {
        // numeric point AND RANGE predicates route through the stats/
        // partition-pruned scan: gather per-column [lo, hi] bounds from
        // the pushed conjuncts (strict bounds widen to inclusive — the
        // residual re-filter keeps exactness) and prune on the tightest
        // bounded column. This is what keeps a runtime-group-filtering
        // subquery (`DELETE ... WHERE key BETWEEN ...` on a clustered
        // table) O(covering files) instead of O(table).
        def num(v: Any): Option[Double] = v match {
          case i: java.lang.Integer => Some(i.toDouble)
          case l: java.lang.Long => Some(l.toDouble)
          case s: java.lang.Short => Some(s.toDouble)
          case b: java.lang.Byte => Some(b.toDouble)
          case f: java.lang.Float => Some(f.toDouble)
          case d: java.lang.Double => Some(d)
          case _ => None
        }
        val bounds = scala.collection.mutable.LinkedHashMap
          .empty[String, (Double, Double)]
        def tighten(a: String, lo: Double, hi: Double): Unit = {
          val (l0, h0) = bounds.getOrElse(a,
            (Double.NegativeInfinity, Double.PositiveInfinity))
          bounds(a) = (math.max(l0, lo), math.min(h0, hi))
        }
        filters.foreach {
          case sources.EqualTo(a, v) => num(v).foreach(d => tighten(a, d, d))
          case sources.GreaterThan(a, v) =>
            num(v).foreach(d => tighten(a, d, Double.PositiveInfinity))
          case sources.GreaterThanOrEqual(a, v) =>
            num(v).foreach(d => tighten(a, d, Double.PositiveInfinity))
          case sources.LessThan(a, v) =>
            num(v).foreach(d => tighten(a, Double.NegativeInfinity, d))
          case sources.LessThanOrEqual(a, v) =>
            num(v).foreach(d => tighten(a, Double.NegativeInfinity, d))
          case _ => ()
        }
        bounds.collectFirst { case (a, (lo, hi))
            if lo > Double.NegativeInfinity || hi < Double.PositiveInfinity =>
          cat.scanTableWhere(spark, table, a, lo, hi)
        }
      }
    // STATIC `IN` pruning (the doorway's `k IN (...)` point lookups):
    // each parseable IN conjunct intersects the partition/stats/bloom
    // keep set — the same file skipping DPP runtime filters route
    // through ([[GraftCatalog.inKeepPaths]]), applied at PLAN time for
    // filters the query carries statically. Pure IO reduction: every
    // pushed filter is re-applied above the scan. The read PINS the head
    // snapshot it pruned against (the keep set and the scanned file list
    // must come from the same snapshot — a commit racing the planning
    // could otherwise drop freshly-committed files from the result).
    val pinnedHead: Option[(Long, Seq[cat.TableEntry])] =
      if (needsRowId || asOf.isDefined) None
      else if (filters.exists {
        case sources.In(_, vs) => vs.nonEmpty
        case _ => false
      }) {
        val sid = cat.currentSnapshotId(table)
        Some(sid -> cat.loadEntriesAt(table, sid))
      } else None
    val inKeep: Option[Set[String]] = pinnedHead.flatMap { case (_, ents) =>
      filters.collect {
        case sources.In(a, vs) if vs.nonEmpty =>
          cat.inKeepPaths(spark, table, a, vs.toIndexedSeq, Some(ents))
      }.reduceOption(_ intersect _)
    }
    // TIME-TRAVEL pruning: per-file stats bounds live in the pinned
    // snapshot's own entries, so numeric conjuncts prune pinned reads
    // too (the PRUNED-SCAN shortcut above is head-only — spec and bloom
    // metadata are head state)
    val pinnedKeep: Option[Set[String]] =
      if (needsRowId || asOf.isEmpty || !statsPrune) None
      else asOf.flatMap(sid =>
        PinnedPrune.keep(filters, cat.loadEntriesAt(table, sid)))
    val bases: Seq[DataFrame] =
      if (needsRowId) {
        // the row-id scan plans the WHOLE table (one frame); a keepPaths
        // restriction (runtime filter or copy-on-write group, an empty
        // one keeping nothing) must still hold — filter on the fabricated
        // file path, which renders canonKey's literal domain
        val full = cat.scanTableWithRowId(spark, table, asOf)
        Seq(keepPaths.fold(full)(kp =>
          full.filter(col("_file").isInCollection(
            kp.map(graft.sources.CompactionRunner.canonKey)))))
      }
      else prunedScan.map(Seq(_))
        .getOrElse {
          // runtime (DPP) keepPaths ∩ static IN pruning ∩ pinned stats
          // pruning — an unrestricted membership test when none arrived.
          // An IN-pruned head read scans the SNAPSHOT IT PRUNED (the
          // pinned head), never a fresh head load.
          val keep: Option[Set[String]] =
            Seq(keepPaths, inKeep, pinnedKeep).flatten
              .reduceOption(_ intersect _)
          cat.scanTableFrames(spark, table,
            pinnedHead.map(_._1).orElse(asOf),
            dataKeep = keep.fold((_: cat.TableEntry) => true)(
              kp => (e: cat.TableEntry) => kp.contains(e.path)))
        }
    bases.map { base =>
      val filtered = filters.flatMap(V1FilterColumns.toColumn)
        .foldLeft(base)(_.filter(_))
      // zero-column projections (COUNT(*)) are legal: select() keeps the
      // row count with an empty schema, matching readSchema().
      // NESTED column pruning can hand us a required struct type that is a
      // SUBSET of the table's (SchemaPruning through
      // SupportsPushDownRequiredColumns) — the served rows must match the
      // declared readSchema field-for-field, so rebuild such columns to the
      // pruned shape instead of serving the full struct under a narrower
      // schema (which would mis-bind subfields positionally).
      val baseSchema = filtered.schema
      val projected = required.fields.map { rf =>
        baseSchema.fields.find(_.name == rf.name) match {
          case Some(bf) if bf.dataType != rf.dataType =>
            graft.sources.CompactionRunner
              .adaptToCanonical(col(rf.name), bf.dataType, rf.dataType)
              .as(rf.name)
          case _ => col(rf.name)
        }
      }
      filtered.select(projected.toIndexedSeq: _*)
    }
  }

  /** An `InternalRow` RDD of `df` that is safe to iterate from FOREIGN
    * tasks (the DSv2 batch/stream serving shape), chosen by plan shape:
    *
    *  1. NARROW plans (file scans + maps + broadcast joins — the common
    *     MoR read) are built with AQE OFF: the rdd is LAZY, so nothing
    *     executes at plan time — `BatchScanExec` probes partitions BEFORE
    *     runtime filters arrive, and an eager build here would execute
    *     the unfiltered scan once per probe (measured: q136's COW gate
    *     doubled under the eager build) — and every partition computes
    *     from its carried `FilePartition` alone.
    *  2. Chains with a shuffle dependency need their map stages
    *     materialized first → the eager AQE build (toRdd runs
    *     intermediate stages; the final shuffle-read rdd is
    *     foreign-task-safe).
    *  3. Chains containing a `UnionRDD` are NEVER foreign-task-safe (its
    *     `compute` re-derives parent partition offsets via
    *     `getDependencies` → `parent.partitions`, and
    *     `FileScanRDD.filePartitions` is `@transient`, so a deserialized
    *     union NPEs on the executor — a multi-schema-group table scan
    *     plans exactly such an inline union) → rebuild behind an explicit
    *     repartition so the final stage is a pure shuffle read.
    */
  /** The serving shape for a GROUP-DECOMPOSED read ([[frames]]): when
    * every group's plan is narrow (file scans + codegen'd maps +
    * broadcast anti joins — the common MoR read, deletes included), serve
    * each group's LAZY rdd directly — the batch's InputPartitions then
    * carry file-task slices computed entirely on the executors, with no
    * job before the consuming action and no union/shuffle layer (the
    * reference's file-task scan shape, `iceberg_file_task_scan.rs:224-314`).
    * Any shuffle-bearing group falls the whole read back to the
    * single-frame [[servableRdd]] disposition.
    */
  def servableRdds(
      frames: Seq[DataFrame]): Seq[RDD[org.apache.spark.sql.catalyst.InternalRow]] = {
    val lazyRdds = frames.map(
      org.apache.spark.sql.graftbridge.DatasetBridge.internalRowRddNoAqe)
    if (lazyRdds.forall(narrowSafe)) lazyRdds
    else Seq(servableRdd(frames.reduce(_.unionByName(_))))
  }

  private def narrowSafe(r: org.apache.spark.rdd.RDD[_]): Boolean = r match {
    case _: org.apache.spark.rdd.UnionRDD[_] => false
    case _ => r.dependencies.forall {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => false
      case d => narrowSafe(d.rdd)
    }
  }

  def servableRdd(
      df: DataFrame): RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    def unionFree(r: org.apache.spark.rdd.RDD[_]): Boolean = r match {
      case _: org.apache.spark.rdd.UnionRDD[_] => false
      case _ => r.dependencies.forall {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => true
        case d => unionFree(d.rdd)
      }
    }
    val lazyRdd =
      org.apache.spark.sql.graftbridge.DatasetBridge.internalRowRddNoAqe(df)
    if (narrowSafe(lazyRdd)) lazyRdd
    else {
      val eager =
        org.apache.spark.sql.graftbridge.DatasetBridge.internalRowRdd(df)
      if (unionFree(eager)) eager
      else org.apache.spark.sql.graftbridge.DatasetBridge.internalRowRdd(
        df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions))
    }
  }
}

/** ONE-PLAN keyed (storage-partitioned) serving: plan the snapshot's
  * files ONCE (per schema group — usually one Catalyst pass total),
  * regroup the planned scan's `PartitionedFile`s by recorded partition
  * tuple, and serve each tuple's files as foreign splits of the shared
  * plan's rdd — planning cost O(files), not O(tuples × Catalyst). The
  * reference serves one stream per task group from one planned scan the
  * same way (`iceberg_file_task_scan.rs:196-213`). This is the ONLY
  * keyed serving path: the layout admission ([[GraftKeyedLayout.of]])
  * refuses any snapshot whose delete sets cannot provably broadcast, so
  * the chain is always narrow over one `FileScanRDD` per schema group
  * and the regroup cannot fail (None here is a bug, thrown loudly by the
  * caller — the r13 per-tuple fallback loop is gone).
  */
object GraftKeyedServing {

  /** Diagnostic for tests/scaling probes: keyed reads served through the
    * one-plan regroup. (The object is public only for this counter —
    * ScalingProbe reads it from package graft; the serving machinery
    * stays package-private.)
    */
  val onePlanServed = new java.util.concurrent.atomic.AtomicLong

  private[dsv2] def groups(
      spark: SparkSession,
      root: String,
      table: String,
      required: StructType,
      filters: Array[Filter],
      kl: GraftKeyedLayout,
      runtimeKeep: Option[Set[String]] = None): Option[Seq[GraftServedGroup]] = {
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
    // the regroup joins in the CANONICAL LITERAL path domain (the same
    // convention as the mask's seq lookup): entry paths key canonKey, the
    // planned PartitionedFile's Hadoop-encoded rendering decodes once via
    // canonDecoded. Raw-vs-canon comparison here silently dropped files
    // whose entries carry a different-but-equivalent rendering (compaction
    // records `file:/…`, the planner renders `file:///…`) — the r19
    // sorted-compaction tests caught the miss as a loud regroup failure,
    // and the keep-set variant of the same mismatch as silent row loss.
    val pathTuple: Map[String, Int] = kl.tuples.zipWithIndex.iterator.flatMap {
      case ((_, files), i) => files.iterator.map(f =>
        graft.sources.CompactionRunner.canonKey(f) -> i)
    }.toMap
    // STATIC stats pruning applies INSIDE the regroup, exactly like DPP
    // runtime pruning (statsPrune = false below): pruned files are
    // skipped from their tuple's bucket but the tuple's group SURVIVES —
    // possibly empty — so the reported key count never desyncs, and a
    // point lookup for an ABSENT key (every file pruned) serves all
    // tuples empty instead of collapsing the planned frame into a local
    // relation the regroup cannot slice (which hard-failed the read).
    val statKeep: Option[Set[String]] = PinnedPrune.keep(filters,
      new graft.sources.GraftCatalog(root).loadEntriesAt(table, kl.snapshotId))
    // keep sets arrive in the raw entry-path domain — normalize to the
    // canonical keys the regroup compares in (see pathTuple above)
    val keep: Option[Set[String]] =
      Seq(runtimeKeep, statKeep).flatten
        .map(_.map(graft.sources.CompactionRunner.canonKey))
        .reduceOption(_ intersect _)
    // the frames plan AT the layout's snapshot (keepPaths alone would
    // intersect the layout's files with a FRESH head load — a commit
    // racing the planning could then silently drop rewritten files);
    // keepPaths still disables the pruned-scan shortcut (pruning there
    // would desync the key count)
    // frames' dataKeep compares RAW entry paths — hand it the layout's own
    // rendering, not the canonical keys
    val fs = GraftInnerFrame.frames(spark, root, table,
      Some(kl.snapshotId), required,
      filters, keepPaths = Some(kl.tuples.iterator.flatMap(_._2).toSet),
      statsPrune = false)
    if (fs.isEmpty) return None

    /** The frame's planned FilePartitions regrouped tuple-pure. A tuple
      * the frame planned no files for still serves one EMPTY partition so
      * the engine sees every reported key (an empty `FilePartition`
      * computes an empty iterator). None when a planned file is not in
      * the layout (snapshot advanced between layout and plan).
      */
    def regroup(parts: Seq[FilePartition])
        : Option[IndexedSeq[Seq[org.apache.spark.Partition]]] = {
      val buckets = Array.fill(kl.tuples.size)(
        scala.collection.mutable.ArrayBuffer.empty[PartitionedFile])
      parts.iterator.flatMap(_.files.iterator).foreach { pf =>
        // the planner renders Hadoop-ENCODED paths — decode once into the
        // literal domain the canonical keys live in
        val canon = graft.sources.CompactionRunner.canonDecoded(pf.filePath.toString)
        pathTuple.get(canon) match {
          // runtime (DPP) AND static stats file pruning apply INSIDE the
          // regroup: a pruned file is skipped but its tuple's group
          // survives (empty groups serve an empty FilePartition), so the
          // reported key count never desyncs from the planned partitions
          case Some(i) => if (keep.forall(_.contains(canon))) buckets(i) += pf
          case None => return None
        }
      }
      val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
      Some(buckets.iterator.map { b =>
        if (b.isEmpty)
          Seq(FilePartition(0, Array.empty): org.apache.spark.Partition)
        else FilePartition.getFilePartitions(spark, b.toSeq, maxSplit)
          .map(p => p: org.apache.spark.Partition)
      }.toIndexedSeq)
    }

    def serve[R](
        plans: Seq[(R, Seq[FilePartition])],
        mk: (org.apache.spark.sql.catalyst.InternalRow, R,
          Seq[org.apache.spark.Partition]) => GraftServedGroup)
        : Option[Seq[GraftServedGroup]] = {
      val perFrame = plans.map { case (rdd, parts) =>
        regroup(parts).map(_.zipWithIndex.map {
          case (ps, i) => mk(kl.tuples(i)._1, rdd, ps)
        })
      }
      if (perFrame.forall(_.isDefined)) Some(perFrame.flatten.flatten)
      else None
    }

    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    // all-or-nothing columnar: BatchScanExec forbids mixing row and
    // columnar partitions in one scan
    val colPlans = fs.map(f => bridge.columnarFileScan(f, peelFilters = true))
    if (colPlans.forall(_.isDefined))
      serve(colPlans.flatten, (k, rdd: RDD[org.apache.spark.sql.vectorized.ColumnarBatch],
        ps) => GraftColumnarSlices(k, rdd, ps))
    else {
      val rowPlans = fs.map(f => bridge.rowFileScan(f))
      if (rowPlans.forall(_.isDefined))
        serve(rowPlans.flatten, (k, rdd: RDD[org.apache.spark.sql.catalyst.InternalRow],
          ps) => GraftRowSlices(k, rdd, ps))
      else None
    }
  }
}

private[dsv2] object GraftV2Table {

  /** Transform names resolvable through [[GraftV2Functions]] (plus
    * Spark-native `identity`) — the only ones a clustered write
    * distribution can reference without failing analysis.
    */
  private[dsv2] val ClusterableTransforms: Set[String] =
    Set("identity", "bucket", "truncate", "years", "months", "days", "hours")

  /** Recognize a DELETE condition that is PURE key equality and render it
    * as literal key rows for the eq-delete fast path:
    *
    *  - a conjunction of `EqualTo` on distinct columns → one key tuple;
    *  - a single `In(col, values)` → one single-column tuple per value.
    *
    * Anything else (ranges, OR, nulls, repeated columns) returns None and
    * takes the positional path. Values must round-trip exactly — a
    * literal whose runtime class doesn't match the column type falls back
    * rather than risking a silently-non-matching delete key.
    */
  def equalityKeyRows(
      filters: Array[sources.Filter],
      tableSchema: StructType): Option[(StructType, Seq[Row])] = {
    def fieldOf(name: String): Option[org.apache.spark.sql.types.StructField] =
      tableSchema.fields.find(_.name == name)
    def typeOk(v: Any, dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      v != null && (dt match {
        case IntegerType => v.isInstanceOf[java.lang.Integer]
        case LongType => v.isInstanceOf[java.lang.Long]
        case StringType => v.isInstanceOf[String] ||
          v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        case DoubleType => v.isInstanceOf[java.lang.Double]
        case FloatType => v.isInstanceOf[java.lang.Float]
        case BooleanType => v.isInstanceOf[java.lang.Boolean]
        case ShortType => v.isInstanceOf[java.lang.Short]
        case ByteType => v.isInstanceOf[java.lang.Byte]
        case DateType => v.isInstanceOf[java.sql.Date] ||
          v.isInstanceOf[java.time.LocalDate]
        case TimestampType => v.isInstanceOf[java.sql.Timestamp] ||
          v.isInstanceOf[java.time.Instant]
        case TimestampNTZType => v.isInstanceOf[java.time.LocalDateTime]
        case _: DecimalType => v.isInstanceOf[java.math.BigDecimal] ||
          v.isInstanceOf[scala.math.BigDecimal]
        case _ => false
      })
    }
    def norm(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    filters.toSeq match {
      case Seq(sources.In(a, vs)) =>
        for {
          f <- fieldOf(a)
          if vs.nonEmpty && vs.forall(typeOk(_, f.dataType))
        } yield (StructType(Seq(f.copy(nullable = false))),
          vs.toSeq.map(v => Row(norm(v))))
      case fs if fs.nonEmpty && fs.forall(_.isInstanceOf[sources.EqualTo]) =>
        val eqs = fs.map { case sources.EqualTo(a, v) => a -> v }
        val cols = eqs.map(_._1)
        val resolved = eqs.flatMap { case (a, v) =>
          fieldOf(a).filter(f => typeOk(v, f.dataType)).map(_ -> norm(v))
        }
        if (cols.distinct.length == cols.length && resolved.length == eqs.length)
          Some((StructType(resolved.map(_._1.copy(nullable = false))),
            Seq(Row(resolved.map(_._2): _*))))
        else None
      case _ => None
    }
  }
}

/** The storage-partitioned-join layout of a table: the partition
  * transforms as V2 clustering expressions plus the distinct partition
  * tuples (as catalyst key rows) with the files holding each, and the
  * SNAPSHOT the layout was admitted from — the one-plan serving plans
  * its frames AT that snapshot, so a commit racing between admission and
  * planning can never silently drop (or split) the served file set.
  */
private[dsv2] final case class GraftKeyedLayout(
    clustering: Array[org.apache.spark.sql.connector.expressions.Expression],
    tuples: Seq[(org.apache.spark.sql.catalyst.InternalRow, Set[String])],
    snapshotId: Long)

private[dsv2] object GraftKeyedLayout {

  /** Cap on distinct tuples served as keyed partitions. One-plan serving
    * ([[GraftKeyedServing]]) plans O(files) regardless of tuple count, so
    * the bound exists only to keep the layout's driver-side tuple table
    * within reason — wide production specs (bucket(256)+, daily×bucket
    * composites) all fit.
    */
  private val MaxTuples = 16384

  /** Some only when the layout is PROVABLE from the snapshot: a declared
    * spec, every data file carrying a full tuple recorded under the
    * CURRENT spec's binding, every value parsing to the transform's
    * output type, and a bounded tuple count. Pending deletes are ALLOWED
    * — they are row-local to their tuples, so the keyed groups apply them
    * as MoR anti joins without breaking the claimed co-partitioning. For
    * a time-travel read the tuples come from the pinned snapshot's
    * entries and values parse against that snapshot's schema.
    */
  def of(root: String, table: String,
      asOf: Option[Long] = None): Option[GraftKeyedLayout] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
    val cat = new GraftCatalog(root)
    val spec = cat.partitionSpec(table)
    if (spec.isEmpty) return None
    // capture the snapshot id FIRST and read everything at it — the
    // layout's entries, schema, and (later, via the layout's snapshotId)
    // the served frames all come from one snapshot
    val sid = asOf match {
      case Some(s) =>
        if (cat.snapshotIds(table).contains(s)) s else return None
      case None => cat.currentSnapshotId(table)
    }
    val schema = cat.schemaAt(table, sid).getOrElse(return None)
    val allEntries = cat.loadEntriesAt(table, sid)
    val entries = allEntries.filter(_.kind == "data")
    if (entries.isEmpty) return None
    // the layout holds only when the pending delete sets provably
    // BROADCAST (manifest sizes under the anti-join hint cap): past it
    // the MoR delete join plans a shuffle, which cannot be served as
    // foreign splits of one plan. Such snapshots degrade to an ordinary
    // shuffle join — strictly cheaper than r13's per-tuple Catalyst
    // fallback (the measured 477 s cliff at width 256), which this
    // universal admission check made deletable. The check applies at
    // EVERY width; it is the invariant that makes the one-plan regroup
    // the only keyed serving path.
    val deleteBytes = allEntries.filter(_.kind != "data").map(_.sizeBytes)
    val Param = """([a-z]+)\[(\d+)\]""".r
    def srcType(source: String): Option[DataType] =
      schema.fields.find(_.name == source).map(_.dataType)
        .filter(t => t == IntegerType || t == LongType || t == StringType)
    // (output type, clustering expression) per spec field
    val fields: Seq[(GraftCatalog.PartitionFieldDef, DataType,
        org.apache.spark.sql.connector.expressions.Expression)] =
      spec.map { f =>
        val resolved = f.transform match {
          case "identity" =>
            srcType(f.source).map(t => (t, Expressions.identity(f.source)
              : org.apache.spark.sql.connector.expressions.Expression))
          case Param("bucket", n) =>
            Some((IntegerType, Expressions.bucket(n.toInt, f.source)))
          case Param("truncate", w) =>
            srcType(f.source).map(t => (t, Expressions.apply("truncate",
              Expressions.literal(w.toInt), Expressions.column(f.source))))
          case "year" => Some((IntegerType, Expressions.years(f.source)))
          case "month" => Some((IntegerType, Expressions.months(f.source)))
          case "day" => Some((IntegerType, Expressions.days(f.source)))
          case "hour" => Some((IntegerType, Expressions.hours(f.source)))
          case _ => None
        }
        resolved match {
          case Some((t, e)) => (f, t, e)
          case None => return None
        }
      }
    def parse(v: String, t: DataType): Option[Any] =
      if (v == null) Some(null)
      else t match {
        case IntegerType => v.toIntOption.map(Integer.valueOf)
        case LongType => v.toLongOption.map(java.lang.Long.valueOf)
        case StringType =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(v))
        case _ => None
      }
    val byTuple = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.Set[String]]
    entries.foreach { e =>
      val tuple = fields.map { case (f, t, _) =>
        val binding = s"${f.transform}|${f.source}"
        if (!e.partitionTransforms.get(f.name).contains(binding)) return None
        e.partitionVals.get(f.name) match {
          case Some(v) => parse(v, t).getOrElse(return None)
          case None => return None
        }
      }
      byTuple.getOrElseUpdate(tuple, scala.collection.mutable.Set.empty) += e.path
    }
    if (byTuple.size > MaxTuples) return None
    // deletion-vector sidecars decode driver-side (and broadcast) only up
    // to readPositionDeletes' 32 MB size gate — past it they read
    // DISTRIBUTED with no broadcast hint and the anti join shuffles, so
    // the admission must refuse before that gate, not at the parquet
    // hint cap (a 32–64 MB DV would otherwise be admitted and then fail
    // the one-plan regroup)
    val dvBytes = allEntries
      .filter(e => e.kind != "data" && e.format == "dv").map(_.sizeBytes)
    if (deleteBytes.nonEmpty &&
        (deleteBytes.exists(_ < 0L) || deleteBytes.sum > (64L << 20) ||
          dvBytes.sum > (32L << 20))) return None
    val tuples = byTuple.toSeq
      .sortBy(_._1.map(String.valueOf(_)).mkString("\u0000"))
      .map { case (vals, files) =>
        (new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          vals.toArray): org.apache.spark.sql.catalyst.InternalRow,
          files.toSet)
      }
    Some(GraftKeyedLayout(fields.map(_._3).toArray, tuples, sid))
  }
}

/** Numeric pruning shapes extracted from pushed V1 filters: per-column
  * inclusive `[lo, hi]` bounds from the range/equality conjuncts (strict
  * bounds widen to inclusive — pruning is IO reduction only, the engine
  * re-applies the exact filters above the scan) and per-column `IN` value
  * lists where EVERY value parses numerically (a partial parse would
  * wrongly prune files holding the unparsed values).
  */
private[dsv2] object FilterBounds {
  def num(v: Any): Option[Double] = v match {
    case i: java.lang.Integer => Some(i.toDouble)
    case l: java.lang.Long => Some(l.toDouble)
    case s: java.lang.Short => Some(s.toDouble)
    case b: java.lang.Byte => Some(b.toDouble)
    case f: java.lang.Float => Some(f.toDouble)
    case d: java.lang.Double => Some(d)
    case _ => None
  }

  def of(filters: Array[Filter])
      : (Seq[(String, Double, Double)], Seq[(String, Seq[Double])]) = {
    val bounds = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double)]
    def tighten(a: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = bounds.getOrElse(a,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds(a) = (math.max(l0, lo), math.min(h0, hi))
    }
    val ins = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
    filters.foreach {
      case sources.EqualTo(a, v) => num(v).foreach(d => tighten(a, d, d))
      case sources.GreaterThan(a, v) =>
        num(v).foreach(d => tighten(a, d, Double.PositiveInfinity))
      case sources.GreaterThanOrEqual(a, v) =>
        num(v).foreach(d => tighten(a, d, Double.PositiveInfinity))
      case sources.LessThan(a, v) =>
        num(v).foreach(d => tighten(a, Double.NegativeInfinity, d))
      case sources.LessThanOrEqual(a, v) =>
        num(v).foreach(d => tighten(a, Double.NegativeInfinity, d))
      case sources.In(a, vs) if vs.nonEmpty =>
        val ds = vs.flatMap(num)
        if (ds.length == vs.length) ins += a -> ds.toSeq
      case _ => ()
    }
    (bounds.collect { case (a, (lo, hi))
        if lo > Double.NegativeInfinity || hi < Double.PositiveInfinity =>
      (a, lo, hi)
    }.toSeq, ins.toSeq)
  }
}

/** Stats-only file pruning for TIME-TRAVEL reads: the per-file bounds are
  * in the pinned snapshot's own entries (snapshot-exact), so a pinned
  * point lookup or range scan skips non-covering files like a head read —
  * partition-transform and bloom pruning stay head-only (their metadata
  * is head state, not snapshot-versioned). Operates on the CALLER's
  * already-loaded entry list (one load per read, consistent with the
  * scanned file set). None = no numeric conjunct arrived (full file set,
  * always correct).
  */
private[dsv2] object PinnedPrune {
  def keep(
      filters: Array[Filter],
      entries: Seq[GraftCatalog#TableEntry]): Option[Set[String]] = {
    val (bounds, ins) = FilterBounds.of(filters)
    if (bounds.isEmpty && ins.isEmpty) None
    else {
      val stats = entries.filter(_.kind == "data").map(e =>
        graft.sources.CompactionRunner.DataFileStats(e.path, 0L, 0L,
          e.stats.fold(Map.empty[String, String])(_.colMins),
          e.stats.fold(Map.empty[String, String])(_.colMaxs), Map.empty))
      def covering(a: String, lo: Double, hi: Double): Set[String] =
        graft.sources.CompactionRunner.pruneByStats(stats, a, lo, hi)
          .map(_.path).toSet
      var keep: Option[Set[String]] = None
      def inter(s: Set[String]): Unit = keep = Some(keep.fold(s)(_ intersect s))
      bounds.foreach { case (a, lo, hi) => inter(covering(a, lo, hi)) }
      // IN keeps a file if ANY value's point range covers it
      ins.foreach { case (a, vs) =>
        inter(vs.map(v => covering(a, v, v)).reduce(_ union _))
      }
      keep
    }
  }
}

/** V1 `sources.Filter` → `Column` for the subset with exact Column
  * equivalents; anything else simply doesn't push (it stays residual).
  */
private[dsv2] object V1FilterColumns {
  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === v)
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> v)
    case sources.GreaterThan(a, v) => Some(col(a) > v)
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case sources.LessThan(a, v) => Some(col(a) < v)
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= v)
    case sources.In(a, vs) => Some(col(a).isInCollection(vs.toSeq))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}

/** `spark.wap.branch`'s deferred fork for row-level DML: the operation
  * plans and scans against MAIN (pinned), and `fork` — run first inside
  * the replacement commit — creates `commitTable` (the branch fork) and
  * returns the commit's base snapshot on it, after proving the fork was
  * created from exactly the pinned main snapshot.
  */
private[dsv2] final case class GraftWapFork(
    commitTable: String,
    fork: Long => Long)

/** Copy-on-write row-level operation: the snapshot is pinned at CREATION
  * (analysis time), the scan reads exactly that snapshot, and the
  * replacement commit asserts it under the table lock — a concurrent
  * commit between planning and execution conflicts instead of being
  * silently clobbered. With `wapFork`, the scan side reads `table`
  * (main) while the commit lands on the branch fork the commit itself
  * creates — EXPLAIN never mutates the catalog.
  */
final class GraftRowLevelOperation(
    root: String,
    table: String,
    cmd: RowLevelOperation.Command,
    wapFork: Option[GraftWapFork] = None)
    extends RowLevelOperation {

  private val baseSnapshot =
    new GraftCatalog(root).currentSnapshotId(table)

  /** Where (and against which base) the replacement commits. Resolved
    * lazily INSIDE the commit — resolving it any earlier would create
    * the wap fork at plan time.
    */
  private lazy val commitBase: Long =
    wapFork.fold(baseSnapshot)(_.fork(baseSnapshot))
  private def commitTable: String = wapFork.fold(table)(_.commitTable)

  /** Runtime GROUP filter, installed by [[GraftRowLevelScan.filter]] when
    * Spark's `RowLevelOperationRuntimeGroupFiltering` finds the files
    * containing matching rows: the scan then reads ONLY those files and
    * the replacement commit retires ONLY them. `None` = no filter arrived
    * (or it wasn't parseable) — full-table replace, always correct.
    */
  @volatile private[dsv2] var groupFilter: Option[Set[String]] = None

  /** Group filtering costs a matching-rows subquery scan per statement
    * and an extra string column through the rewrite; it pays that back by
    * SKIPPING files. A single-file table can never benefit (opt out
    * automatically), and `write.cow.group-filter=false` opts a table out
    * explicitly (e.g. small hot tables whose statements always touch
    * every file — the q136 gate measures the default-ON cost).
    */
  private lazy val groupFilteringEnabled: Boolean = {
    val cat = new GraftCatalog(root)
    cat.loadTableAt(table, baseSnapshot).size > 1 &&
      !cat.tableProperties(table).get("write.cow.group-filter").contains("false")
  }

  override def command(): RowLevelOperation.Command = cmd

  /** `_file` rides the rewrite as a metadata attribute so the runtime
    * group-filtering rule can resolve it against the row-level relation
    * (its subquery projects `_file` from the matching rows). Side effect:
    * the ReplaceData write then receives PROJECTED data rows (the
    * metadata-projection task), which the writer handles uniformly.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!groupFilteringEnabled) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val cat = new GraftCatalog(root)
    // schema from the PINNED snapshot, never the head: a schema-evolution
    // commit racing this statement would otherwise pair snapshot-N files
    // with snapshot-N+1's names (the delta operation applies the same rule)
    val schema = FieldIds.stripIds(cat.schemaAt(table, baseSnapshot)
      .getOrElse(cat.scanTableAt(SparkSession.active, table, baseSnapshot).schema))
    new GraftScanBuilder(root, table, Some(baseSnapshot), schema,
      rowLevel = true,
      host = if (groupFilteringEnabled) Some(this) else None)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new GraftBatchWrite(root, commitTable, info.schema(),
            replaceAt = Some(() => commitBase),
            // read at COMMIT time — the runtime filter lands during
            // execution, long after this builder runs
            replaceOnly = () => groupFilter,
            prepare = () => { commitBase; () },
            metaTable = wapFork.map(_ => table))
      }
    }

  override def description(): String =
    s"GraftRowLevelOperation($cmd, $table @ $baseSnapshot, copy-on-write)"
}

/** The copy-on-write row-level scan: a [[GraftV1Scan]] that ALSO accepts
  * Spark's runtime group filter (`SupportsRuntimeV2Filtering`) keyed on
  * the `_file` metadata column. Predicates that do not parse to a file
  * set are ignored — the scan then reads (and the commit replaces) the
  * whole table, which is always correct, just unpruned.
  */
final class GraftRowLevelScan(
    root: String,
    table: String,
    asOf: Option[Long],
    required: StructType,
    op: GraftRowLevelOperation)
    extends GraftV1Scan(root, table, asOf, required, Array.empty,
      skipRewrites = false, host = Some(op))
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    GraftRowLevelScan.extractFileSet(predicates)
      .foreach(fs => op.groupFilter = Some(fs))
}

private[dsv2] object GraftRowLevelScan {
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference => V2Ref}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private def refIsFile(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: V2Ref => r.fieldNames().mkString(".") == "_file"
      case _ => false
    }

  private def literalString(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case l: V2Literal[_] => l.value() match {
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case s: String => Some(s)
        case _ => None
      }
      case _ => None
    }

  /** `IN(_file, v...)` / `=(_file, v)` predicates → the allowed file set;
    * None when nothing parseable arrived (conservative full scan).
    */
  def extractFileSet(predicates: Array[Predicate]): Option[Set[String]] = {
    val sets = predicates.flatMap { p =>
      val children = p.children()
      p.name() match {
        case "IN" if children.nonEmpty && refIsFile(children.head) =>
          val vals = children.tail.flatMap(literalString)
          // every value must parse, or the set would silently DROP files
          if (vals.length == children.length - 1) Some(vals.toSet) else None
        case "=" if children.length == 2 && refIsFile(children.head) =>
          literalString(children(1)).map(Set(_))
        case _ => None
      }
    }
    sets.reduceOption(_ intersect _)
  }

  private def refName(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: V2Ref if r.fieldNames().length == 1 => Some(r.fieldNames().head)
      case _ => None
    }

  /** Runtime `IN(col, v...)` / `=(col, v)` predicates → per-column value
    * lists (raw catalyst literal values). A predicate with any
    * non-literal value is dropped WHOLE (keeping a partial list would
    * wrongly prune files holding the unparsed values); multiple
    * predicates on one column keep their value lists concatenated — the
    * consumer's per-value OR stays conservative under AND semantics.
    */
  def extractColumnInSets(predicates: Array[Predicate]): Map[String, Seq[Any]] =
    predicates.toSeq.flatMap { p =>
      val children = p.children()
      p.name() match {
        case "IN" if children.nonEmpty =>
          refName(children.head).flatMap { c =>
            val vals = children.tail.flatMap {
              case l: V2Literal[_] => Option(l.value())
              case _ => None
            }
            if (vals.length == children.length - 1) Some(c -> vals.toSeq)
            else None
          }
        case "=" if children.length == 2 =>
          for {
            c <- refName(children.head)
            l <- children(1) match {
              case l: V2Literal[_] => Option(l.value())
              case _ => None
            }
          } yield c -> Seq(l)
        case _ => None
      }
    }.groupBy(_._1).view.mapValues(_.flatMap(_._2)).toMap
}
