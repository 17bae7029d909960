package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to Spark 4's `private[sql]` Dataset.ofRows — the one doorway a
  * library needs to surface a custom [[LogicalPlan]] (e.g. graft's as-of
  * join) as a public DataFrame. Same narrow-access rationale as
  * [[ColumnBridge]].
  */
/** Bridge to `private[spark]` listener-bus draining — lets measurement
  * code (ScalingProbe) read listener-accumulated stage metrics
  * deterministically after a job completes.
  */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)
}

object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's `private[sql]` random UUID — a cache key component
    * that, unlike `System.identityHashCode`, can never be reused by a new
    * session after the old one is stopped and GC'd.
    */
  def sessionUUID(spark: SparkSession): String = spark match {
    case cl: classic.SparkSession => cl.sessionUUID
    case other => String.valueOf(System.identityHashCode(other))
  }

  /** `it` — an RDD iterator a DSv2 reader serves inside Spark's
    * `DataSourceRDD` — with its task's input records counted ONCE. The
    * `DataSourceRDD` counts every row it serves, and a file scan inside
    * `it` has already counted every row it read: left alone, a doorway
    * scan reports both (a 150k-row table reads 300k). Whatever the
    * wrapped scan counts while it is pulled is kept, and as much of what
    * the reader serves is taken back: the task reports the larger of the
    * rows its scan read and the rows it served — the first for a file
    * scan, as plain Spark does (masked rows were read), the second for an
    * iterator that counts nothing (a shuffle read, an in-memory rdd).
    */
  def countedOnce[A](it: Iterator[A], rows: A => Int): Iterator[A] = {
    val metrics = org.apache.spark.TaskContext.get().taskMetrics().inputMetrics
    new Iterator[A] {
      private var scanned = 0L
      private var served = 0L
      private var taken = 0L
      private def scanning[B](pull: => B): B = {
        val before = metrics.recordsRead
        val b = pull
        scanned += metrics.recordsRead - before
        b
      }
      override def hasNext: Boolean = scanning(it.hasNext)
      override def next(): A = {
        val a = scanning(it.next())
        served += rows(a)
        val take = math.min(served, scanned) - taken
        if (take > 0) {
          metrics.incRecordsRead(-take)
          taken += take
        }
        a
      }
    }
  }

  /** Re-wrap a V1 streaming sink's per-batch frame as a BATCH frame over
    * the SAME executed rows — `internalCreateDataFrame(isStreaming =
    * false)` on the batch's own physical plan, the doorway every V1 sink
    * implementation uses: re-planning the handed frame (e.g. `.rdd`)
    * re-analyzes its streaming scan and is rejected by the analyzer. The
    * `copy()` detaches rows from the reused unsafe-row buffers.
    */
  def asBatch(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.map(_.copy()), ds.schema, isStreaming = false)
  }

  /** The frame's EXECUTED final-stage `RDD[InternalRow]` — planning side
    * effects included (AQE runs intermediate stages, broadcasts
    * materialize), so the returned RDD's partitions are iterable from any
    * later task. The DSv2 doorway's row-level scan path serves
    * `BatchScanExec` from this.
    */
  def internalRowRdd(
      df: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.toRdd

  /** As [[internalRowRdd]] but planned with AQE DISABLED (thread-local
    * conf override, fresh execution over the same logical plan): for
    * NARROW plans (file scans + maps + broadcasts) this returns a LAZY
    * rdd — no driver-side stage execution at build time, each partition
    * computes where it is iterated. Broadcast sides still materialize
    * (small driver collects). The caller must verify the chain is narrow
    * before serving it to foreign tasks — a shuffle dependency here has
    * NO materialized map outputs.
    */
  def internalRowRddNoAqe(
      df: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val conf = ds.sparkSession.sessionState.conf.clone()
    conf.setConf(
      org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf) {
      classic.Dataset.ofRows(ds.sparkSession, ds.queryExecution.logical)
        .queryExecution.toRdd
    }
  }

  /** The frame's final-stage COLUMNAR rdd, when — planned with AQE off —
    * the physical plan is a BARE vectorized scan under pure row-conversion
    * plumbing (`WholeStageCodegen` / `ColumnarToRow` / `InputAdapter`
    * wrappers only, each of which passes its child's output through
    * unchanged). The returned rdd is the scan's own lazy
    * `executeColumnar()`: a narrow chain of `ColumnarBatch`es the DSv2
    * doorway can hand to the consuming query WITHOUT materializing rows
    * in between — the vectorized handoff for plain no-delete reads. Any
    * other plan shape (projection with casts, joins — anything whose
    * output is not bit-identical to the scan's) returns None and the
    * caller serves rows.
    *
    * `peelFilters = true` additionally skips `FilterExec` nodes above the
    * scan, serving the scan's UNFILTERED batches. ONLY legal when the
    * caller re-applies every dropped predicate downstream — the DSv2
    * doorway qualifies because its `pushFilters` keeps EVERY filter
    * residual on the Spark side (the engine's post-scan Filter re-checks
    * each pushed predicate), and the scan's own data filters (row-group
    * skipping) live in the leaf and survive the peel. A Filter's output
    * attribute set equals its child's, so the served schema is unchanged.
    */
  def columnarRddNoAqe(df: DataFrame, peelFilters: Boolean = false)
      : Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch]] = {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val conf = ds.sparkSession.sessionState.conf.clone()
    conf.setConf(
      org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf) {
      def peel(p: SparkPlan): Option[SparkPlan] = p match {
        case w: WholeStageCodegenExec => peel(w.child)
        case c: ColumnarToRowExec => peel(c.child)
        case i: InputAdapter => peel(i.child)
        case f: FilterExec if peelFilters => peel(f.child)
        case leaf if leaf.children.isEmpty && leaf.supportsColumnar => Some(leaf)
        case _ => None
      }
      peel(classic.Dataset.ofRows(ds.sparkSession, ds.queryExecution.logical)
        .queryExecution.executedPlan).map(_.executeColumnar())
    }
  }

  /** STRICT V2-predicate → V1-filter conversion: every node must convert
    * EXACTLY or the whole predicate refuses. Spark's own
    * `PredicateUtils.toV1` deliberately WEAKENS boolean compounds — an
    * `Or` whose one side cannot convert returns the OTHER side alone
    * (sound for scan pushdown, where a residual filter re-checks rows) —
    * but `SupportsDelete.deleteWhere` / `SupportsOverwrite.overwrite`
    * treat the converted filter as the COMPLETE condition, so the default
    * V2→V1 bridging silently deletes/overwrites the wrong row set (e.g.
    * `DELETE WHERE k = 0 OR k % 101 = 50` reaches the table as
    * `k = 0`). The doorway overrides the V2 entry points with this strict
    * conversion and refuses (falling back to the row-level plan) instead.
    */
  def strictToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.connector.expressions.{filter => v2}
    import org.apache.spark.sql.{sources => v1}
    p match {
      case a: v2.And =>
        for { l <- strictToV1(a.left()); r <- strictToV1(a.right()) }
          yield v1.And(l, r)
      case o: v2.Or =>
        for { l <- strictToV1(o.left()); r <- strictToV1(o.right()) }
          yield v1.Or(l, r)
      case n: v2.Not => strictToV1(n.child()).map(v1.Not)
      case leaf =>
        // leaf shapes (=, <, IN, IS NULL, LIKE-prefix, …) convert exactly
        // or not at all — only the boolean compounds above weaken
        org.apache.spark.sql.internal.connector.PredicateUtils.toV1(leaf)
    }
  }

  def strictToV1(ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[Array[org.apache.spark.sql.sources.Filter]] = {
    val out = ps.map(strictToV1(_: org.apache.spark.sql.connector.expressions.filter.Predicate))
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  /** The BARE scan's columnar rdd plus the scan's OWN output column
    * names, peeling (and deliberately IGNORING) any `ProjectExec` above
    * it. For the caller this means: the served batches carry the leaf
    * scan's raw columns in scan-output order, NOT the frame's projected
    * schema — the caller must locate the columns it wants by the returned
    * names. The masked-columnar delete path uses this because selecting
    * `_metadata` subfields plans a struct-building Project over a scan
    * whose output already carries the FLAT metadata columns (file_path,
    * row_index); the raw scan batches are exactly what masking needs.
    */
  def columnarScanRaw(df: DataFrame)
      : Option[(org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch],
        Seq[String])] = {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val conf = ds.sparkSession.sessionState.conf.clone()
    conf.setConf(
      org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED, false)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf) {
      def peel(p: SparkPlan): Option[SparkPlan] = p match {
        case w: WholeStageCodegenExec => peel(w.child)
        case c: ColumnarToRowExec => peel(c.child)
        case i: InputAdapter => peel(i.child)
        case pr: ProjectExec => peel(pr.child)
        case leaf if leaf.children.isEmpty && leaf.supportsColumnar => Some(leaf)
        case _ => None
      }
      peel(classic.Dataset.ofRows(ds.sparkSession, ds.queryExecution.logical)
        .queryExecution.executedPlan)
        .map(leaf => (leaf.executeColumnar(), leaf.output.map(_.name)))
    }
  }

  /** The planned chain's leaf [[org.apache.spark.sql.execution.datasources.FileScanRDD]]
    * when every level above it is a OneToOne `MapPartitionsRDD` — i.e. the
    * chain passes the split OBJECT through unchanged, so computing the TOP
    * rdd with a foreign `FilePartition` reads exactly that partition's
    * files. The regrouped keyed (storage-partitioned) serving depends on
    * this property; any other chain shape returns None.
    */
  private def fileScanLeaf(r: org.apache.spark.rdd.RDD[_])
      : Option[org.apache.spark.sql.execution.datasources.FileScanRDD] = r match {
    case f: org.apache.spark.sql.execution.datasources.FileScanRDD => Some(f)
    // SQLExecutionRDD (the execution-id wrapper internalRowRddNoAqe leaves
    // on top) computes its ONE parent with the split unchanged — as
    // split-transparent as a OneToOne MapPartitionsRDD
    case m @ (_: org.apache.spark.rdd.MapPartitionsRDD[_, _] |
              _: org.apache.spark.sql.execution.SQLExecutionRDD) =>
      m.dependencies match {
        case scala.collection.Seq(d: org.apache.spark.OneToOneDependency[_]) =>
          fileScanLeaf(d.rdd)
        case _ => None
      }
    case _ => None
  }

  /** The planned `FilePartition`s of the chain's leaf file scan when the
    * chain is foreign-split-safe ([[fileScanLeaf]]) — serving the TOP rdd
    * with any regrouping of the contained `PartitionedFile`s then reads
    * exactly the regrouped files.
    */
  def fileScanPartitions(r: org.apache.spark.rdd.RDD[_])
      : Option[Seq[org.apache.spark.sql.execution.datasources.FilePartition]] =
    fileScanLeaf(r).map(_.filePartitions)

  /** A parquet relation over EXACTLY `paths`, read with `schema`, built
    * WITHOUT Spark's file listing. `spark.read.schema(s).parquet(paths)`
    * lists its paths through an `InMemoryFileIndex`, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths
    * that listing is a Spark job (measured 336–1015 ms for 48–128 paths
    * on a 4-cpu host). Catalog entries already name every file, so the
    * index here is seeded instead: each file is stat'ed once on the
    * driver and its `FileStatusCache` answers every root path with that
    * status. The recorded entry sizes are deliberately NOT trusted: a
    * split planned from a wrong length silently skips the row groups
    * outside it (a hand-written manifest recording 1 byte served 0 rows).
    * The relation is otherwise the one `DataSource` resolves for the same
    * call — qualified paths (each file's base path is its parent
    * directory, so no partition columns are inferred), the schema made
    * nullable, the parquet file format — so `_metadata`, `inputFiles` and
    * scan planning behave identically.
    */
  def parquetFiles(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
    val conf = spark.sessionState.newHadoopConf()
    val statuses: Seq[FileStatus] = paths.distinct.map { p =>
      val raw = new Path(p)
      val fs = raw.getFileSystem(conf)
      fs.getFileStatus(raw.makeQualified(fs.getUri, fs.getWorkingDirectory))
    }
    val byPath: Map[Path, Array[FileStatus]] =
      statuses.map(s => s.getPath -> Array(s)).toMap
    val seeded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        byPath.get(path)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath),
      Map.empty, Some(schema), seeded)
    val relation = HadoopFsRelation(index,
      partitionSchema = new org.apache.spark.sql.types.StructType(),
      dataSchema = schema.asNullable, bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(spark)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(relation))
  }

  /** As [[columnarRddNoAqe]], but additionally requiring the scan to be a
    * V1 file scan whose `FileScanRDD` the caller may RE-PARTITION: returns
    * the servable columnar rdd plus the leaf's planned `FilePartition`s.
    * The caller regroups the contained `PartitionedFile`s (e.g. one group
    * per partition tuple for storage-partitioned serving) and serves the
    * TOP rdd with the regrouped `FilePartition`s as foreign splits — ONE
    * Catalyst planning pass however many groups there are.
    */
  def columnarFileScan(df: DataFrame, peelFilters: Boolean = false)
      : Option[(org.apache.spark.rdd.RDD[org.apache.spark.sql.vectorized.ColumnarBatch],
        Seq[org.apache.spark.sql.execution.datasources.FilePartition])] =
    columnarRddNoAqe(df, peelFilters).flatMap(rdd =>
      fileScanLeaf(rdd).map(leaf => (rdd, leaf.filePartitions)))

  /** The ROW twin of [[columnarFileScan]]: the frame's lazy no-AQE row rdd
    * (file scan + codegen'd narrow work above it) plus the leaf's planned
    * `FilePartition`s, when the chain is foreign-split-safe. Covers keyed
    * serving of plans the columnar peel refuses (projections with casts,
    * row-based readers).
    */
  def rowFileScan(df: DataFrame)
      : Option[(org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
        Seq[org.apache.spark.sql.execution.datasources.FilePartition])] = {
    val rdd = internalRowRddNoAqe(df)
    fileScanLeaf(rdd).map(leaf => (rdd, leaf.filePartitions))
  }

  /** A batch frame over `rdd`'s rows of `schema`, every column nullable
    * as a file scan reads it, one plan partition per rdd partition — the
    * frame plans no exchange of its own, so a write of it runs one task
    * per partition.
    */
  def rowsFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema.asNullable)

  /** The inverse of [[asBatch]] for a V1 streaming SOURCE's `getBatch`:
    * the engine requires the returned frame to be streaming-tagged, while
    * the rows come from an ordinary batch read of the delta files.
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }
}
