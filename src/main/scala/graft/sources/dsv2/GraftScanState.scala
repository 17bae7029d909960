package graft.sources.dsv2

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

import scala.jdk.CollectionConverters._

import graft.plans.TaskGrouper
import graft.sources.{CompactionRunner, FieldIds, GraftCatalog}

/** SNAPSHOT-SCOPED SCAN STATE: everything a doorway batch read of one
  * snapshot needs that does not depend on the statement's filters, built
  * once per (session, table generation, snapshot, pinned-or-head,
  * projection) and reused by every statement that reads it.
  *
  *  - the snapshot's entry list — ONE list, read at the snapshot the
  *    state is keyed by, so pruning, planning and serving can never mix
  *    snapshots (a commit landing between key and load cannot cache newer
  *    files under an older id);
  *  - ONE planned scan over ALL data files, built with no filter pushed:
  *    the delete-masked columnar scan ([[GraftColumnarMask.plan]] — the
  *    delete set decoded and broadcast once), which also serves row-id
  *    (`_file`/`_pos`) projections, delete-free snapshots included; else
  *    the delete-free columnar or narrow row plan of
  *    [[GraftInnerFrame.frames]], and for the row-id reads the mask
  *    refuses, its row-id frame. Each is kept as the plan's rdds plus
  *    their planned `FilePartition`s.
  *
  * A statement then prunes files by stats/partition/bloom against the
  * cached entries and serves only the survivors' splits as FOREIGN splits
  * of the cached rdds — the regroup one-plan keyed serving does
  * ([[GraftKeyedServing]]), legal because
  * [[DatasetBridge.fileScanPartitions]] proves each chain passes the split
  * through. A fresh-literal point read therefore runs no Spark job at
  * planning (the reference applies one snapshot's delete set to its file
  * tasks the same way, `iceberg_file_task_scan.rs:224-314`). The doorway
  * reports every pushed filter residual, so serving unfiltered rows of the
  * surviving files is exact. A row-level DML's row-id read is such a
  * pinned read; a copy-on-write group filter prunes the same way, as the
  * statement's runtime keep set.
  *
  * A head state is built from the previous head state of the same table
  * and projection: the masked plan decodes only the delete files, and
  * re-plans only the footer-schema groups, that the commit between them
  * changed ([[GraftColumnarMask.plan]]'s pieces). A build from nothing is
  * the same function over empty pieces.
  *
  * A catalog compaction reads its input through the same head state
  * ([[GraftScanState.rewriteInput]]), regrouping the planned splits by
  * whole file.
  *
  * A plan that cannot be sliced by file (a shuffle-bearing row path) keeps
  * its per-filter served groups inside the state instead, under the same
  * LRU rule as the states themselves. Runtime-filtered (DPP and
  * copy-on-write group-filtered) reads prune the sliced plan per statement
  * like any other and never store or hit a filter-keyed entry: their file
  * set is query-local.
  */
private[dsv2] final class GraftScanState private (
    val snapshotId: Long,
    entries: Seq[GraftCatalog#TableEntry],
    sliced: Option[Seq[GraftSlices]],
    maskedEq: Option[Boolean],
    private val pieces: GraftColumnarMask.Pieces) {

  private val unsliced = GraftScanState.lru[Seq[String], Seq[GraftServedGroup]]()

  /** [[GraftScanState.rewriteInput]] over this state's sliced plan: each
    * scan group's splits regrouped by whole file, read as rows of
    * `schema` (the required columns in order).
    */
  private def rewriteInput(
      spark: SparkSession,
      schema: StructType,
      keep: Option[Set[String]]): Option[CompactionRunner.PlannedInput] =
    sliced.flatMap { groups =>
      // per scan group: file key -> its splits, in planned order
      val splits: Seq[Seq[(String, Seq[PartitionedFile])]] = groups.map { g =>
        val files = g.parts.collect { case fp: FilePartition => fp.files.toSeq }.flatten
        files.groupBy(pf => CompactionRunner.canonDecoded(pf.filePath.toString)).toSeq
          .filter { case (k, _) => keep.forall(_.contains(k)) }
          .sortBy(_._1)
          .map { case (k, ps) => k -> ps.sortBy(_.start) }
      }
      val wanted = keep.getOrElse(entries.collect {
        case e if e.kind == "data" => CompactionRunner.canonKey(e.path)
      }.toSet)
      val planned = splits.flatten.map(_._1)
      if (planned.size != wanted.size || planned.toSet != wanted) None
      else {
        val rdds = groups.map {
          case GraftColumnarSlices(_, rdd, _) => Left(rdd)
          case GraftRowSlices(_, rdd, _) => Right(rdd)
        }
        val byKey = splits.map(_.toMap)
        def read(tasks: Option[Seq[(Int, Seq[String])]]): DataFrame = {
          val parts: Seq[(Int, Partition)] = tasks match {
            case None => groups.zipWithIndex.flatMap { case (g, i) =>
              keep.fold(g.parts)(GraftScanState.prune(spark, g.parts, _)).map(i -> _)
            }
            case Some(ts) => ts.zipWithIndex.map { case ((gi, keys), idx) =>
              gi -> FilePartition(idx, keys.flatMap(byKey(gi)).toArray)
            }
          }
          DatasetBridge.rowsFrame(spark,
            new GraftScanState.SliceRows(spark.sparkContext, rdds, parts), schema)
        }
        Some(CompactionRunner.PlannedInput(
          splits.map(_.map { case (k, ps) => TaskGrouper.ScanTask(k, ps.map(_.length).sum) }),
          read))
      }
    }

  private def serve(
      spark: SparkSession,
      cat: GraftCatalog,
      root: String,
      table: String,
      pinned: Boolean,
      required: StructType,
      filters: Array[Filter],
      runtimeKeep: Option[Set[String]]): Seq[GraftServedGroup] =
    sliced match {
      case Some(groups) =>
        maskedEq.foreach { eq =>
          GraftColumnarMask.maskedServed.incrementAndGet()
          if (eq) GraftColumnarMask.maskedEqServed.incrementAndGet()
        }
        // head reads prune through the full spec/stats/bloom machinery,
        // pinned reads on the snapshot's OWN per-file stats bounds (spec
        // and bloom metadata are head state) — both against THIS state's
        // entries, never a fresh load
        val statKeep: Option[Set[String]] =
          if (pinned) PinnedPrune.keep(filters, entries)
          else GraftColumnarMask.prunedKeep(spark, cat, table, filters, entries)
        // keep sets arrive in the raw entry-path domain; the planned splits
        // render Hadoop-encoded — both meet in the canonical literal domain
        Seq(statKeep, runtimeKeep).flatten
          .map(_.map(CompactionRunner.canonKey))
          .reduceOption(_ intersect _) match {
          case None => groups
          case Some(keep) =>
            groups.map(g => g.withParts(GraftScanState.prune(spark, g.parts, keep)))
        }
      case None =>
        def build(): Seq[GraftServedGroup] =
          GraftInnerFrame.served(spark, root, table, Some(snapshotId), required,
            filters, runtimeKeep)
        if (runtimeKeep.isDefined) build()
        else {
          val key = filters.toSeq.map(_.toString)
          unsliced.synchronized(Option(unsliced.get(key))).getOrElse {
            val served = build()
            unsliced.synchronized(unsliced.put(key, served))
            served
          }
        }
    }
}

private[graft] object GraftScanState {

  /** States (and each state's filter-keyed entries) kept, most recently
    * used first. The states hold LAZY rdds and one broadcast each —
    * caching them re-serves plans, never data.
    */
  private val MaxEntries = 64

  private def lru[K, V]() =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > MaxEntries
    }

  /** Every dimension a served plan depends on but the snapshot. The
    * session's UUID (never reused, unlike an identity hash) keeps rdds of
    * a stopped session's context out of a new one; the table's creation
    * UUID separates a dropped-and-recreated table, whose snapshot ids
    * restart at 1; the projection shapes the planned scan; the probe
    * switch decides masked vs row. Head states of one lineage are built
    * from each other.
    */
  private final case class Lineage(
      session: String,
      root: String,
      table: String,
      tableUuid: String,
      projection: String,
      masksDisabled: Boolean)

  /** A state's key: its lineage, pinned or head (they prune differently),
    * and the snapshot.
    */
  private final case class Key(lineage: Lineage, pinned: Boolean, snapshotId: Long)

  private val states = lru[Key, GraftScanState]()

  /** The doorway's unkeyed batch read: the served groups of `table` at
    * `asOf` (head when None) for one statement's `filters` and runtime
    * keep set — a DPP filter's files or a copy-on-write group's, an empty
    * set serving nothing — from the snapshot's cached state, built on
    * first use.
    */
  def serve(
      spark: SparkSession,
      root: String,
      table: String,
      asOf: Option[Long],
      required: StructType,
      filters: Array[Filter],
      runtimeKeep: Option[Set[String]]): Seq[GraftServedGroup] = {
    val cat = new GraftCatalog(root)
    val sid = asOf.getOrElse(cat.currentSnapshotId(table))
    stateOf(spark, root, table, cat, sid, asOf.isDefined, required)
      .serve(spark, cat, root, table, asOf.isDefined, required, filters, runtimeKeep)
  }

  /** The state of `table` at `sid`, cached or built. */
  private def stateOf(
      spark: SparkSession,
      root: String,
      table: String,
      cat: GraftCatalog,
      sid: Long,
      pinned: Boolean,
      required: StructType): GraftScanState = {
    val lineage = Lineage(DatasetBridge.sessionUUID(spark), root, table,
      cat.tableUuid(table).getOrElse(""), required.catalogString,
      GraftColumnarMask.disableForProbes)
    val key = Key(lineage, pinned, sid)
    states.synchronized(Option(states.get(key))).getOrElse {
      // a head state is built from the most recently used head state of
      // its lineage (the states iterate least recently used first); a
      // pinned one from nothing
      val prev =
        if (pinned) GraftColumnarMask.NoPieces
        else states.synchronized {
          var last = GraftColumnarMask.NoPieces
          states.forEach((k, st) => if (k.lineage == lineage && !k.pinned) last = st.pieces)
          last
        }
      val built = build(spark, root, table, cat, sid, required, prev)
      states.synchronized(states.put(key, built))
      built
    }
  }

  /** A rewrite's input: the delete-applied rows of `table` at `sid`, read
    * through the snapshot's head state — the one a full-row (`SELECT *`)
    * read at that snapshot built, else built here from the previous head
    * state exactly as that read would build it. The caller holds the table
    * lock, so `sid` is the head; nothing here takes the lock. `keep`
    * (canonical keys) restricts the input to those data files. None when
    * the state's plan cannot be sliced by file, or its files are not
    * exactly the ones asked for: the caller's row path reads instead.
    */
  private[graft] def rewriteInput(
      spark: SparkSession,
      cat: GraftCatalog,
      root: String,
      table: String,
      sid: Long,
      keep: Option[Set[String]]): Option[CompactionRunner.PlannedInput] = {
    // the schema a full-row doorway read projects: the snapshot's, else
    // (a schema-less table) its data files' one footer schema
    val schema = cat.schemaAt(table, sid).orElse {
      val data = cat.loadEntriesAt(table, sid).filter(_.kind == "data")
      if (data.isEmpty || data.exists(_.format != "parquet")) None
      else CompactionRunner.schemaGroups(spark, data.map(_.path)) match {
        case Seq((s, _)) => Some(s)
        case _ => None
      }
    }
    schema.flatMap { s =>
      stateOf(spark, root, table, cat, sid, pinned = false, FieldIds.stripIds(s))
        .rewriteInput(spark, s, keep)
    }
  }

  /** The one state builder: `prev` lends the pieces of a masked plan it
    * can reuse ([[GraftColumnarMask.plan]]); [[GraftColumnarMask.NoPieces]]
    * builds from nothing.
    */
  private def build(
      spark: SparkSession,
      root: String,
      table: String,
      cat: GraftCatalog,
      sid: Long,
      required: StructType,
      prev: GraftColumnarMask.Pieces): GraftScanState = {
    val entries = cat.loadEntriesAt(table, sid)
    def slices[R](plans: Seq[Option[(R, Seq[FilePartition])]],
        mk: (R, Seq[Partition]) => GraftSlices): Option[Seq[GraftSlices]] =
      if (plans.nonEmpty && plans.forall(_.isDefined))
        Some(plans.flatten.map { case (rdd, parts) => mk(rdd, parts) })
      else None
    val masked: Option[(Seq[GraftSlices], GraftColumnarMask.Pieces)] =
      GraftColumnarMask.plan(spark, entries, cat.schemaAt(table, sid), required, prev)
        .flatMap { case (rdds, pieces) =>
          slices(rdds.map(r => DatasetBridge.fileScanPartitions(r).map(r -> _)),
            GraftColumnarSlices(null, _, _)).map(_ -> pieces)
        }
    masked match {
      case Some((groups, pieces)) =>
        new GraftScanState(sid, entries, Some(groups),
          Some(entries.exists(_.kind == "eqdel")), pieces)
      case None =>
        // statsPrune = false: with no filters there is nothing to prune,
        // and the plan must cover every file of the snapshot
        val fs = GraftInnerFrame.frames(spark, root, table, Some(sid), required,
          Array.empty, statsPrune = false)
        val plan = slices(fs.map(DatasetBridge.columnarFileScan(_, peelFilters = true)),
            GraftColumnarSlices(null, _, _))
          .orElse(slices(fs.map(DatasetBridge.rowFileScan), GraftRowSlices(null, _, _)))
        new GraftScanState(sid, entries, plan, None, GraftColumnarMask.NoPieces)
    }
  }

  private final case class SlicePartition(index: Int, group: Int, inner: Partition)
      extends Partition

  /** Rows of foreign splits of planned scans, one partition per split:
    * partition i computes split `parts(i)._2` of scan `parts(i)._1`. No
    * dependency: each split is computed inside its own task.
    */
  private final class SliceRows(
      sc: SparkContext,
      scans: Seq[Either[RDD[ColumnarBatch], RDD[InternalRow]]],
      @transient private val parts: Seq[(Int, Partition)])
      extends RDD[InternalRow](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      parts.zipWithIndex.map { case ((g, p), i) => SlicePartition(i, g, p): Partition }.toArray

    override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
      val s = split.asInstanceOf[SlicePartition]
      scans(s.group) match {
        case Left(batches) =>
          batches.iterator(s.inner, ctx).flatMap(_.rowIterator().asScala)
        case Right(rows) => rows.iterator(s.inner, ctx)
      }
    }
  }

  /** The planned splits of the files in `keep` (canonical keys), packed
    * the way Spark packs a scan of just those files: descending size into
    * partitions of at most `min(maxPartitionBytes, max(openCost,
    * bytes / parallelism))`. Every file kept serves the planned partitions
    * unchanged; none kept serves no partition (no task runs for the group).
    */
  private def prune(
      spark: SparkSession,
      parts: Seq[Partition],
      keep: Set[String]): Seq[Partition] = {
    val files = parts.flatMap { case fp: FilePartition => fp.files.toSeq }
    val kept = files.filter(pf =>
      keep.contains(CompactionRunner.canonDecoded(pf.filePath.toString)))
    if (kept.size == files.size) parts
    else if (kept.isEmpty) Nil
    else {
      val conf = spark.sessionState.conf
      val openCost = conf.filesOpenCostInBytes
      val bytes = kept.map(_.length + openCost).sum
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, bytes / math.max(1, spark.sparkContext.defaultParallelism)))
      FilePartition.getFilePartitions(spark, kept.sortBy(-_.length), maxSplit)
    }
  }
}
