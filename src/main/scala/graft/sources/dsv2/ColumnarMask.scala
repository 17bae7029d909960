package graft.sources.dsv2

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{CompactionRunner, FieldIds, GraftCatalog}

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** VECTORIZED delete application: serve a delete-bearing SELECT as the
  * scans' own `ColumnarBatch`es, masking deleted rows inside each batch
  * instead of planning row-based anti joins — the consuming query's
  * `ColumnarToRow` stays the only row conversion (the reference applies
  * deletes inside its batch stream, `iceberg_file_task_scan.rs:283-314`;
  * Iceberg v3's deletion vectors are the same shape). Deletes are sparse
  * in practice, so most batches carry no deleted row and pass through
  * ZERO-COPY; only delete-bearing batches pay a selective column copy.
  *
  *  - POSITION deletes mask by `(file, row_index)` membership against the
  *    driver-decoded delete set (sorted per file; a bounds check proves
  *    most batches untouched without scanning them).
  *  - EQUALITY deletes — the continuously-upserted CDC shape, the
  *    reference's most elaborate path (`datafusion_processor.rs:281-304`)
  *    — mask by a broadcast hash probe on the key columns with the
  *    `data.seq < delete.seq` guard: the driver decodes the
  *    manifest-bounded key set as `key tuple → max delete seq`, and a row
  *    is masked iff its key probes a set whose max seq exceeds the row's
  *    file seq. Files as new as every delete skip the probe entirely
  *    (compacted and freshly-written files stay zero-copy).
  *  - FILTERED reads prune their file list through the same
  *    stats/partition/bloom skipping the row path's pruned-scan routing
  *    uses ([[GraftCatalog.rangeKeepPaths]]/[[GraftCatalog.inKeepPaths]],
  *    via [[prunedKeep]]) and are served the survivors' splits of the
  *    snapshot's one masked scan ([[GraftScanState]]); the engine
  *    re-applies the filters above the scan (the doorway always reports
  *    filters residual), so masking a point lookup opens only the
  *    covering files.
  *  - ROW-ID reads (a projection holding `_file`/`_pos` — the row-level
  *    DML scan, copy-on-write group-filtered scans, user SELECTs of the
  *    metadata columns) are served by the same scan, delete-free
  *    snapshots included: `_pos` is the leaf's `row_index` vector and
  *    `_file` a per-batch constant holding the batch's decoded file path
  *    — the rendering the row path's `_file` gives, so position deletes
  *    written from it key exactly like the row path's (the reference
  *    fabricates `sys_hidden_file_path`/`sys_hidden_pos` in the same
  *    stream its delete join consumes).
  *
  * Strictly opt-in when PROVABLE, else `None` and the row path serves:
  *  - driver-bounded delete sets (manifest record counts, ≤ [[MaxDeleteRows]]);
  *  - every schema group serves the scanned columns verbatim (same name,
  *    same type) AND under the same field-id binding as the current
  *    schema — a rename chain that reuses a name (a→c then b→a) makes
  *    name-matching serve the WRONG column's data, so any footer whose
  *    id-for-name binding differs from the canonical schema's refuses;
  *  - maskable primitive column types only (the filtered copy is
  *    type-dispatched), probe-able eq-key types only.
  *
  * Positions come from `_metadata.row_index` exactly like the row path's
  * hidden-column fabrication — selected as the `_metadata` struct so the
  * plan stays a bare scan (extracting a subfield would plan a Project).
  */
object GraftColumnarMask {
  // the object is public ONLY for the diagnostic counters (gates and
  // probes read them from package graft); the serving machinery stays
  // package-private

  /** Driver-materialization bound for the broadcast delete set. */
  private val MaxDeleteRows = 4L * 1000 * 1000

  /** Diagnostics for tests: reads served masked-columnar. */
  val maskedServed = new java.util.concurrent.atomic.AtomicLong

  /** Diagnostics for tests: masked reads whose snapshot carried EQUALITY
    * deletes (the vectorized CDC read).
    */
  val maskedEqServed = new java.util.concurrent.atomic.AtomicLong

  /** Diagnostics for tests: delete files decoded (parquet and DV). */
  val deleteFilesDecoded = new java.util.concurrent.atomic.AtomicLong

  /** Probe hook ONLY ([[graft.ScalingProbe]]): forces the row-path
    * fallback so the masked and row dispositions of the same read can be
    * measured against each other. Part of the scan-state cache key, so
    * flipping it can never serve a cached masked plan to a row-path run.
    */
  @volatile private[graft] var disableForProbes = false

  private def maskable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType | StringType => true
    case _ => false
  }

  /** Types the eq-delete hash probe can normalize identically from a
    * driver `Row` (external values) and an executor `ColumnVector`
    * (physical values): integral + date + timestamp → Long, floating →
    * Double, boolean and string as themselves. Timestamps (r19) ride the
    * same Long family: whatever external class the session's datetime
    * settings produce (`java.sql.Timestamp`, `Instant`, `LocalDateTime`
    * for NTZ), each converts DETERMINISTICALLY to the micros-since-epoch
    * long the vectors store physically — `Timestamp`/`Instant` are
    * epoch-anchored (timezone-free), and NTZ's `LocalDateTime` maps to
    * the local-micros the NTZ vector stores — so the probe is exact and
    * the dominant CDC shape with a timestamp PK keeps the vectorized
    * mask instead of refusing to the row path.
    */
  private def probeable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | StringType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** SQL join equality treats -0.0 = 0.0 as TRUE (and Spark treats
    * NaN = NaN as true); boxed-Double `equals` disagrees on the first
    * (and agrees on the second), so floating keys normalize -0.0 → 0.0
    * on BOTH probe sides or a -0.0 delete key would silently fail to
    * mask a 0.0 row the anti join drops.
    */
  private[dsv2] def normFloating(d: Double): java.lang.Double =
    java.lang.Double.valueOf(if (d == 0.0d) 0.0d else d)

  /** One resolved equality-delete key set: the CURRENT-schema key column
    * names, and the merged `key tuple → max delete sequence` probe map
    * (a row is deleted iff its tuple is present with a max seq strictly
    * greater than the row's file seq — exactly the chained anti joins'
    * semantics, since "matched by any delete newer than the row" is
    * "matched by the newest delete for that key").
    *
    * `longKeys`/`longSeqs` are the single-integral-key fast path — the
    * dominant CDC shape (one long PK): the same probe as sorted parallel
    * arrays, binary-searched per row with ZERO allocation (the generic
    * map probe boxes every key value into an `Array[Any]` + `ArraySeq`
    * per row). Built in [[plan]] once the scanned types are known; null
    * for composite or non-integral keys.
    */
  private final case class EqSet(
      cols: Seq[String],
      types: Seq[DataType],
      keys: Map[Seq[Any], Long],
      maxSeq: Long,
      longKeys: Array[Long] = null,
      longSeqs: Array[Long] = null)

  /** One equality-delete file's decoded rows: the CURRENT-schema key
    * column names its key columns resolved to, and its normalized key
    * tuples (tuples holding a null are dropped — a null key value matches
    * nothing under SQL equality).
    */
  private final case class EqRows(cols: Seq[String], keys: Array[Seq[Any]])

  /** One footer-schema group's planned raw leaf scan over `paths`: the
    * scanned fields plus the flat metadata columns, `names` in the leaf's
    * output order. Lazy — planning it ran no job.
    */
  private final case class RawScan(
      schema: StructType,
      paths: Seq[String],
      scanFields: Seq[StructField],
      rdd: RDD[ColumnarBatch],
      names: Seq[String])

  /** What one masked plan leaves for the next snapshot's plan of the same
    * table and projection: every delete file it decoded (position deletes
    * as data-file canonKey → positions, equality deletes as [[EqRows]]),
    * keyed by the delete file's canonKey, and its raw scan per
    * footer-schema group. Files are immutable, so a decoded file and a
    * group planned over an identical file set stay valid for every
    * snapshot that lists them — compaction, rollback and expiry need no
    * special case. The canonical schema they were resolved against must
    * match, or nothing is reused.
    */
  private[dsv2] final class Pieces private[GraftColumnarMask] (
      private[GraftColumnarMask] val canonical: Option[StructType],
      private[GraftColumnarMask] val pos: Map[String, Map[String, Array[Long]]],
      private[GraftColumnarMask] val eq: Map[String, EqRows],
      private[GraftColumnarMask] val scans: Seq[RawScan])

  /** The predecessor of a plan built from nothing. */
  private[dsv2] val NoPieces = new Pieces(None, Map.empty, Map.empty, Nil)

  /** The row-id metadata columns a projection may ask for. */
  private val RowIdCols = Set("_file", "_pos")

  /** [[Located.outIdx]]'s marker for the served `_file` column, which no
    * leaf column holds: it is the batch's decoded path as a constant.
    */
  private val FileSlot = -1

  /** Per-group column locations inside the raw leaf-scan batches:
    * `outIdx` gives, per `required` field in order, its leaf column
    * (`_pos` is the leaf's `row_index`) or [[FileSlot]].
    */
  private final case class Located(
      outIdx: Array[Int],
      eqIdx: Array[Array[Int]],
      fileIdx: Int,
      rowIdx: Int)

  /** The file-id binding check: under the canonical schema's id for
    * `name`, an id-carrying footer must bind that id to the SAME name —
    * otherwise the row path (which resolves by id) and a name-matched
    * mask would serve different columns. Id-less footers resolve by name
    * on the row path too, so name matching is faithful there.
    */
  private def bindingOk(
      fileSchema: StructType,
      canonical: Option[StructType],
      name: String): Boolean = {
    val fileHasIds = fileSchema.fields.exists(f => FieldIds.idOf(f).isDefined)
    canonical.flatMap(_.fields.find(_.name == name).flatMap(FieldIds.idOf)) match {
      case Some(id) if fileHasIds =>
        fileSchema.fields.find(f => FieldIds.idOf(f).contains(id))
          .exists(_.name == name)
      case _ => true
    }
  }

  /** Static file pruning from the pushed filters — the same
    * partition/stats/bloom skipping the row path's pruned-scan routing
    * performs, as a keep-path set computed against the SAME entry list
    * the scan state planned (never a fresh head load — a commit racing
    * the planning would otherwise exclude files this read still holds).
    * None = no parseable conjunct arrived (full file set, always
    * correct). Conjuncts that don't parse prune nothing; strict bounds
    * widen to inclusive (the engine re-applies the exact filters above
    * the scan). Numeric-conjunct parsing is [[FilterBounds]]'s — one
    * implementation for the mask and the row path.
    */
  private[dsv2] def prunedKeep(
      spark: SparkSession,
      cat: GraftCatalog,
      table: String,
      filters: Array[Filter],
      entries: Seq[GraftCatalog#TableEntry]): Option[Set[String]] = {
    if (filters.isEmpty) return None
    var keep: Option[Set[String]] = None
    def inter(s: Set[String]): Unit = keep = Some(keep.fold(s)(_ intersect s))
    val ents = Some(entries.asInstanceOf[Seq[cat.TableEntry]])
    val (bounds, _) = FilterBounds.of(filters)
    bounds.foreach { case (a, lo, hi) =>
      inter(cat.rangeKeepPaths(spark, table, a, lo, hi, ents))
    }
    filters.foreach {
      case sources.EqualTo(a, v: String) =>
        inter(cat.inKeepPaths(spark, table, a, Seq(v), ents))
      case sources.In(a, vs) if vs.nonEmpty =>
        inter(cat.inKeepPaths(spark, table, a,
          ArraySeq.unsafeWrapArray(vs), ents))
      case _ => ()
    }
    keep
  }

  /** The snapshot's WHOLE delete-masked scan: one raw columnar scan per
    * footer-schema group over EVERY data file of `entries` (no filter
    * pushed), its batches masked against the decoded delete set, which is
    * broadcast once. The caller ([[GraftScanState]]) keeps the result for
    * the snapshot and serves each statement the stats-pruned survivors'
    * file splits of these rdds. A row-id projection serves `_file`/`_pos`
    * from the same batches, and plans on a delete-free snapshot too (empty
    * delete sets: every batch passes zero-copy). None when masking is not
    * provable (see the object doc) and the row path must serve.
    *
    * Built from `prev`, the pieces of the previous snapshot's plan
    * ([[NoPieces]] for a build from nothing — the same function), in three
    * steps:
    *  1. decode each delete file `prev` did not decode, keyed by canonical
    *     path, on the driver with no Spark job ([[DeleteFileDecoder]]
    *     for parquet files; deletion vectors as they are);
    *  2. plan each footer-schema group whose file set `prev` did not plan
    *     (so the layout is always exactly what a build from nothing plans);
    *  3. merge on the driver — per-key max seqs, sorted positions and the
    *     per-file seqs of the CURRENT entries — into one new broadcast, and
    *     re-wrap the mask over the raw scans.
    * A read right after an append or an upsert therefore runs no job
    * here; the latter decodes only the new equality-delete file. (A
    * footer-digest pass over more than 64 new files, and the first
    * schema inference of a footer schema never seen before, still do.)
    */
  private[dsv2] def plan(
      spark: SparkSession,
      entries: Seq[GraftCatalog#TableEntry],
      canonical: Option[StructType],
      required: StructType,
      prev: Pieces): Option[(Seq[RDD[ColumnarBatch]], Pieces)] = {
    if (disableForProbes) return None
    if (required.isEmpty) return None // COUNT(*) zero-column reads: row path
    if (!required.fields.forall(f => maskable(f.dataType))) return None
    val pos = entries.filter(_.kind == "posdel")
    val eqEntries = entries.filter(_.kind == "eqdel")
    val rowIds = required.fieldNames.exists(RowIdCols)
    // delete-free reads without row ids take the plain columnar path
    if (pos.isEmpty && eqEntries.isEmpty && !rowIds) return None
    val delCounts = (pos ++ eqEntries).map(_.recordCount)
    if (!delCounts.forall(_ >= 0L) || delCounts.sum > MaxDeleteRows) return None

    val data = entries.filter(_.kind == "data")
    if (data.isEmpty || !data.forall(_.format == "parquet")) return None

    // eq keys resolve, and scans locate columns, against the canonical
    // schema: a predecessor planned under another one lends nothing
    val reuse = if (prev.canonical == canonical) prev else NoPieces
    def keyOf(e: GraftCatalog#TableEntry) = CompactionRunner.canonKey(e.path)

    // step 1: the delete files, each decoded once
    val posRows = decodePos(spark, pos, reuse.pos).getOrElse(return None)
    val eqRows = decodeEq(spark, eqEntries, canonical, reuse.eq).getOrElse(return None)

    // one key set per resolved key vector: each file's tuples at its
    // entry's sequence number, the newest delete per key winning
    val eqSets: Seq[EqSet] = eqEntries.groupBy(e => eqRows(keyOf(e)).cols).toSeq
      .sortBy(_._2.map(_.path).min)
      .map { case (cols, es) =>
        val keys = mutable.HashMap.empty[Seq[Any], Long]
        es.foreach { e =>
          eqRows(keyOf(e)).keys.foreach { k =>
            if (e.seqNum > keys.getOrElse(k, Long.MinValue)) keys(k) = e.seqNum
          }
        }
        EqSet(cols, Nil, keys.toMap, es.map(_.seqNum).max)
      }
    val eqKeyNames: Seq[String] = eqSets.flatMap(_.cols).distinct

    // the scan projects `required` minus the row ids (the leaf's metadata
    // columns serve them) plus any eq-key columns it lacks (the probe reads
    // them; the serving strips them back off)
    val dataFields = required.fields.filterNot(f => RowIdCols(f.name))
    val extraFields: Seq[StructField] = {
      val missing = eqKeyNames.filterNot(dataFields.map(_.name).contains)
      val resolved = missing.map { n =>
        canonical.flatMap(_.fields.find(_.name == n)).map(f =>
          StructField(f.name, f.dataType, f.nullable))
      }
      if (resolved.exists(_.isEmpty)) return None
      resolved.flatten
    }
    val scanFields: Seq[StructField] = ArraySeq.unsafeWrapArray(
      FieldIds.stripIds(StructType(dataFields ++ extraFields)).fields)
    if (!scanFields.forall(f => maskable(f.dataType))) return None
    // probe types come from the SCANNED fields so the executor-side
    // dispatch matches the vectors it reads
    val typeByName = scanFields.map(f => f.name -> f.dataType).toMap
    val typedSets: Seq[EqSet] =
      eqSets.map(s => s.copy(types = s.cols.map(typeByName)))
    if (!typedSets.forall(_.types.forall(probeable))) return None
    // the DRIVER-decoded key values must have normalized to exactly the
    // class the executor-side probe produces for the SCANNED column type.
    // A delete file whose key column diverges in type FAMILY (double keys
    // against a long data column, say) must refuse to the row path —
    // whose anti join inserts a Catalyst cast and still applies the
    // delete — instead of crashing planning (the long fast path's unbox)
    // or silently matching nothing (boxed Double vs boxed Long).
    def classOk(v: Any, dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        v.isInstanceOf[java.lang.Long]
      case FloatType | DoubleType => v.isInstanceOf[java.lang.Double]
      case BooleanType => v.isInstanceOf[java.lang.Boolean]
      case StringType => v.isInstanceOf[String]
      case _ => false
    }
    if (!typedSets.forall(s => s.keys.keysIterator.forall(k =>
        k.iterator.zip(s.types.iterator).forall {
          case (v, t) => classOk(v, t)
        }))) return None
    val eqProbe: Seq[EqSet] = typedSets.map { typed =>
      // single integral key (the CDC PK shape): sorted parallel arrays
      // for the allocation-free per-row probe. The decoder boxed every
      // integral/date key value as java.lang.Long (validated above), so
      // the map's keys unbox directly.
      val integral = typed.types match {
        case Seq(ByteType | ShortType | IntegerType | LongType | DateType |
                 TimestampType | TimestampNTZType) => true
        case _ => false
      }
      if (!integral || typed.keys.isEmpty) typed
      else {
        val sorted = typed.keys.toArray.map { case (k, seq) =>
          (k.head.asInstanceOf[java.lang.Long].longValue, seq)
        }.sortBy(_._1)
        // the arrays fully replace the boxed map for this set — drop it
        // so the broadcast carries each key once, not twice
        typed.copy(longKeys = sorted.map(_._1), longSeqs = sorted.map(_._2),
          keys = Map.empty)
      }
    }

    // step 2: one bare pinned-schema scan per footer-schema group; every
    // group must carry the scanned columns verbatim — and under the
    // canonical id binding — or the whole read refuses. A group the
    // predecessor planned over the same files and fields is reused; the
    // others are planned over the entries' own paths (no listing job)
    val planned = reuse.scans.map(s => s.paths -> s).toMap
    val scans: Seq[RawScan] =
      CompactionRunner.schemaGroups(spark, data.map(_.path)).map { case (fileSchema, paths) =>
        val ok = scanFields.forall(rf =>
          fileSchema.fields.exists(ff =>
            ff.name == rf.name && ff.dataType == rf.dataType) &&
            bindingOk(fileSchema, canonical, rf.name))
        if (!ok) return None
        planned.get(paths)
          .filter(s => s.schema == fileSchema && s.scanFields == scanFields)
          .getOrElse(rawScan(spark, fileSchema, paths, scanFields).getOrElse(return None))
      }
    val located: Seq[Located] = scans.map { s =>
      val names = s.names
      // the leaf scan appends the flat metadata columns AFTER the data
      // columns; search only past the data region so a USER column named
      // file_path / row_index can never be mistaken for the metadata one
      // (masking against user values would silently resurrect deleted rows)
      val metaFrom = scanFields.length
      val dataIdx = names.indexOf(_: String)
      val fileIdx = names.indexOf("file_path", metaFrom)
      val rowIdx = names.indexWhere(n =>
        n == "row_index" || n == "_tmp_metadata_row_index", metaFrom)
      val outIdx = required.fields.map(_.name match {
        case "_file" => FileSlot
        case "_pos" => rowIdx
        case n => dataIdx(n)
      })
      val eqIdx = eqProbe.map(_.cols.map(dataIdx).toArray).toArray
      val dataRefs = required.fields.zip(outIdx).collect {
        case (f, i) if !RowIdCols(f.name) => i
      } ++ eqIdx.flatten
      if (dataRefs.forall(i => i >= 0 && i < metaFrom) && fileIdx >= 0 && rowIdx >= 0)
        Located(outIdx, eqIdx, fileIdx, rowIdx)
      else return None
    }

    // step 3: the driver-side position-delete set: canonical path ->
    // sorted positions (bounded by MaxDeleteRows above — the same
    // driver-sized metadata posture as the reference's in-memory delete
    // vector). Merged BY the canonKey, so positions recorded under
    // cosmetically different renderings of one file (or by several
    // delete files) unite instead of overwriting each other
    val byFile: Map[String, Array[Long]] = posRows.values.flatten
      .groupMapReduce(_._1)(_._2)(_ ++ _)
      .map { case (f, ps) => f -> sortedUnique(ps) }
    // each data file's sequence number — what the eq-delete `seq <` guard
    // compares against (per-file constant, the reference's
    // `sys_hidden_seq_num` fabrication)
    val seqByFile: Map[String, Long] =
      data.map(e => CompactionRunner.canonKey(e.path) -> e.seqNum).toMap
    val eqMaxSeq: Long = eqProbe.map(_.maxSeq).foldLeft(Long.MinValue)(math.max)
    val bc = spark.sparkContext.broadcast((byFile, eqProbe, seqByFile))

    val masked = scans.zip(located).map { case (s, loc) =>
      val requiredLocal = required
      s.rdd.mapPartitions({ it =>
        val (posByFile, eqSets, seqOf) = bc.value
        it.map { batch =>
          val n = batch.numRows()
          if (n == 0) strip(batch, loc, null)
          else {
            // the raw leaf renders the ENCODED form — decode once into
            // the literal canonKey domain the maps above are keyed in
            val file = CompactionRunner.canonDecoded(
              batch.column(loc.fileIdx).getUTF8String(0).toString)
            val fileSeq = seqOf.getOrElse(file,
              throw new IllegalStateException(
                s"scanned file $file has no snapshot entry — " +
                  "the mask cannot prove delete applicability"))
            val dels = posByFile.getOrElse(file, null)
            // a file at least as new as every equality delete can never
            // match the `seq <` guard — zero-copy passthrough
            val eqApplies = eqSets.nonEmpty && fileSeq < eqMaxSeq
            if (dels == null && !eqApplies) strip(batch, loc, file)
            else if (!eqApplies) {
              val rows = batch.column(loc.rowIdx)
              val first = rows.getLong(0)
              val last = rows.getLong(n - 1)
              // sorted delete positions: bounds check proves most
              // batches untouched without scanning them
              var lo = java.util.Arrays.binarySearch(dels, first)
              if (lo < 0) lo = -lo - 1
              if (lo >= dels.length || dels(lo) > last) strip(batch, loc, file)
              else {
                val (keep, kept) = posKeep(batch, loc.rowIdx, dels, lo)
                if (kept == n) strip(batch, loc, file)
                else copyFiltered(batch, loc, file, keep, kept, requiredLocal)
              }
            } else {
              val (keep, kept) = fullKeep(
                batch, loc, dels, eqSets, fileSeq)
              if (kept == n) strip(batch, loc, file)
              else copyFiltered(batch, loc, file, keep, kept, requiredLocal)
            }
          }
        }
      }, preservesPartitioning = true)
    }
    Some((masked, new Pieces(canonical, posRows, eqRows, scans)))
  }

  /** The raw leaf scan of one footer-schema group: the scanned data
    * columns + FLAT metadata columns (selecting `_metadata` plans a
    * struct-building Project over a scan whose output already carries
    * file_path / row_index — the raw leaf is exactly what masking needs,
    * located by name). The relation is built over the entries' own paths.
    */
  private def rawScan(
      spark: SparkSession,
      fileSchema: StructType,
      paths: Seq[String],
      scanFields: Seq[StructField]): Option[RawScan] = {
    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    val df = bridge.parquetFiles(spark, fileSchema, paths)
      .select(scanFields.map(f => col(f.name)) :+ col("_metadata"): _*)
    bridge.columnarScanRaw(df).map { case (rdd, names) =>
      RawScan(fileSchema, paths, scanFields, rdd, names)
    }
  }

  /** `ps` sorted ascending without repeats. */
  private def sortedUnique(ps: Array[Long]): Array[Long] = {
    val a = ps.clone()
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(n - 1) != a(i)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** Positions per recorded data-file path, re-keyed by the path's
    * canonKey: one canonicalization per distinct path (a Hadoop path parse
    * and a decode each), never one per position.
    */
  private def byDataFile(byPath: Iterable[(String, Array[Long])]): Map[String, Array[Long]] =
    byPath.groupMapReduce(p => CompactionRunner.canonKey(CompactionRunner.canonPath(p._1)))(
      _._2)(_ ++ _)

  /** Decoded `(file_path, pos)` rows grouped by their recorded path. */
  private def positionsByPath(rows: Array[Array[Any]]): Iterable[(String, Array[Long])] = {
    val byPath = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    rows.foreach { r =>
      byPath.getOrElseUpdate(r(0).asInstanceOf[String], new mutable.ArrayBuilder.ofLong) +=
        r(1).asInstanceOf[java.lang.Long].longValue
    }
    byPath.view.mapValues(_.result()).toSeq
  }

  /** Each of `paths` read by [[DeleteFileDecoder]] on the bounded footer
    * pool, several files at a time; None when any refuses.
    */
  private def decodeFiles(
      spark: SparkSession,
      paths: Seq[String],
      columnsOf: String => Seq[(String, DataType)]): Option[Map[String, Array[Array[Any]]]] = {
    if (paths.isEmpty) return Some(Map.empty)
    val conf = spark.sessionState.newHadoopConf()
    val settings = DeleteFileDecoder.Settings.of(spark)
    val decoded = CompactionRunner.onFooterPool(paths)(p =>
      DeleteFileDecoder.read(p, columnsOf(p), conf, settings))
    deleteFilesDecoded.addAndGet(paths.size)
    if (decoded.forall(_.isDefined)) Some(paths.zip(decoded.flatten).toMap) else None
  }

  /** The position-delete files of `pos` decoded, keyed by canonKey: those
    * in `known` as they are, the rest read on the driver — deletion-vector
    * sidecars ARE the decoded structure on disk, parquet files decode
    * their `(file_path, pos)` columns ([[decodeFiles]]). None when a file
    * refuses (a null position or path included: unprovable, the row path
    * serves).
    */
  private def decodePos(
      spark: SparkSession,
      pos: Seq[GraftCatalog#TableEntry],
      known: Map[String, Map[String, Array[Long]]])
      : Option[Map[String, Map[String, Array[Long]]]] = {
    val wanted = pos.map(e => CompactionRunner.canonKey(e.path) -> e).toMap
    val fresh = wanted.filter { case (k, _) => !known.contains(k) }
    // dispatch on the RECORDED entry format (no per-file sniff; entries
    // always carry it — commits stamp "parquet" or "dv")
    val (dvs, pqs) = fresh.partition(_._2.format == "dv")
    lazy val conf = spark.sessionState.newHadoopConf()
    val fromDv = dvs.map { case (k, e) =>
      deleteFilesDecoded.incrementAndGet()
      k -> byDataFile(graft.sources.DeletionVectors.read(e.path, conf))
    }
    val pqPaths = pqs.values.map(_.path).toSeq
    val rows = decodeFiles(spark, pqPaths, _ => DeleteFileDecoder.PosColumns)
      .getOrElse(return None)
    if (!rows.valuesIterator.forall(_.forall(r => r(0) != null && r(1) != null))) return None
    val fromPq = pqs.map { case (k, e) =>
      k -> byDataFile(positionsByPath(rows(e.path)))
    }
    Some(wanted.map { case (k, _) =>
      k -> known.getOrElse(k, fromDv.getOrElse(k, fromPq(k)))
    })
  }

  /** The equality-delete files of `eqEntries` decoded, keyed by canonKey:
    * those in `known` as they are, the rest read on the driver
    * ([[decodeFiles]]), each projecting only its key columns. Each file's
    * key columns resolve against its own footer schema
    * ([[CompactionRunner.schemaGroups]]) by the SAME resolution the row
    * path applies ([[FieldIds.resolveEqColumns]], one shared
    * implementation): ids bind to footer columns, names fall back. None
    * when anything refuses provability: a key-less entry, unresolvable
    * key ids, a column the decoder cannot read exactly. Null keys are fine
    * (a null key value matches nothing under SQL equality, so such rows
    * are simply dropped).
    */
  private def decodeEq(
      spark: SparkSession,
      eqEntries: Seq[GraftCatalog#TableEntry],
      canonical: Option[StructType],
      known: Map[String, EqRows]): Option[Map[String, EqRows]] = {
    val wanted = eqEntries.map(e => CompactionRunner.canonKey(e.path) -> e).toMap
    val fresh = wanted.filter { case (k, _) => !known.contains(k) }.values.toSeq
    val schemaOf: Map[String, StructType] =
      if (fresh.isEmpty) Map.empty
      else CompactionRunner.schemaGroups(spark, fresh.map(_.path))
        .flatMap { case (schema, paths) => paths.map(_ -> schema) }.toMap
    // (key columns as the session reads them, current-schema names) per path
    val keysOf: Map[String, (Seq[(String, DataType)], Seq[String])] = fresh.map { e =>
      // a key-less eq-delete entry is corrupt metadata: an EMPTY key tuple
      // would match every older row here while the row path fails loudly
      // — refuse so the row path's named error surfaces instead of the
      // two serving paths diverging on the same snapshot
      if (e.eqCols.isEmpty && e.eqIds.isEmpty) return None
      val schema = schemaOf(e.path)
      val rs = FieldIds.resolveEqColumns(schema, e.eqCols, e.eqIds, canonical)
        .getOrElse(return None)
      val cols = rs.map { case (delCol, _) =>
        delCol -> schema.fields.find(_.name == delCol).getOrElse(return None).dataType
      }
      e.path -> (cols, rs.map(_._2))
    }.toMap
    val rows = decodeFiles(spark, fresh.map(_.path), keysOf(_)._1).getOrElse(return None)
    val fromFiles = fresh.map { e =>
      // null key values match nothing under SQL equality
      val keys = rows(e.path).collect {
        case r if !r.contains(null) => ArraySeq.unsafeWrapArray(r): Seq[Any]
      }
      CompactionRunner.canonKey(e.path) -> EqRows(keysOf(e.path)._2, keys)
    }.toMap
    Some(wanted.map { case (k, _) => k -> known.getOrElse(k, fromFiles(k)) })
  }

  /** Position-only keep vector via the two-pointer sweep (row indices and
    * delete positions are both ascending).
    */
  private def posKeep(
      batch: ColumnarBatch,
      rowIdx: Int,
      dels: Array[Long],
      delStart: Int): (Array[Boolean], Int) = {
    val rows = batch.column(rowIdx)
    val n = batch.numRows()
    val keep = new Array[Boolean](n)
    var kept = 0
    var d = delStart
    var r = 0
    while (r < n) {
      val idx = rows.getLong(r)
      while (d < dels.length && dels(d) < idx) d += 1
      val drop = d < dels.length && dels(d) == idx
      keep(r) = !drop
      if (!drop) kept += 1
      r += 1
    }
    (keep, kept)
  }

  /** Combined position + equality keep vector: a row survives iff its
    * position is not deleted AND no equality-delete key set holds its key
    * tuple with a max delete seq newer than the row's file seq.
    */
  private def fullKeep(
      batch: ColumnarBatch,
      loc: Located,
      dels: Array[Long],
      eqSets: Seq[EqSet],
      fileSeq: Long): (Array[Boolean], Int) = {
    val rows = batch.column(loc.rowIdx)
    val n = batch.numRows()
    val keep = new Array[Boolean](n)
    var kept = 0
    var d = 0
    if (dels != null && n > 0) {
      d = java.util.Arrays.binarySearch(dels, rows.getLong(0))
      if (d < 0) d = -d - 1
    }
    val applicable = eqSets.zipWithIndex.filter(_._1.maxSeq > fileSeq)
    var r = 0
    while (r < n) {
      var drop = false
      if (dels != null) {
        val idx = rows.getLong(r)
        while (d < dels.length && dels(d) < idx) d += 1
        drop = d < dels.length && dels(d) == idx
      }
      if (!drop && applicable.nonEmpty) {
        val it = applicable.iterator
        while (!drop && it.hasNext) {
          val (set, si) = it.next()
          val idxs = loc.eqIdx(si)
          if (set.longKeys != null) {
            // single-integral-key fast path: read the physical value,
            // binary-search the sorted key array — no boxing, no tuple
            val c = batch.column(idxs(0))
            if (!c.isNullAt(r)) {
              val k = set.types(0) match {
                case LongType | TimestampType | TimestampNTZType => c.getLong(r)
                case IntegerType | DateType => c.getInt(r).toLong
                case ShortType => c.getShort(r).toLong
                case ByteType => c.getByte(r).toLong
                case other => throw new IllegalStateException(
                  s"non-integral type $other built a long probe")
              }
              val pos = java.util.Arrays.binarySearch(set.longKeys, k)
              drop = pos >= 0 && set.longSeqs(pos) > fileSeq
            }
          } else {
          val vals = new Array[Any](idxs.length)
          var i = 0
          var anyNull = false
          while (i < idxs.length && !anyNull) {
            val c = batch.column(idxs(i))
            if (c.isNullAt(r)) anyNull = true
            else vals(i) = set.types(i) match {
              case ByteType => java.lang.Long.valueOf(c.getByte(r).toLong)
              case ShortType => java.lang.Long.valueOf(c.getShort(r).toLong)
              case IntegerType | DateType =>
                java.lang.Long.valueOf(c.getInt(r).toLong)
              case LongType | TimestampType | TimestampNTZType =>
                java.lang.Long.valueOf(c.getLong(r))
              case FloatType => normFloating(c.getFloat(r).toDouble)
              case DoubleType => normFloating(c.getDouble(r))
              case BooleanType => java.lang.Boolean.valueOf(c.getBoolean(r))
              case StringType => c.getUTF8String(r).toString
              case other => throw new IllegalStateException(
                s"unprobeable type $other escaped the plan-time guard")
            }
            i += 1
          }
          if (!anyNull) {
            val key = ArraySeq.unsafeWrapArray(vals): Seq[Any]
            drop = set.keys.get(key).exists(_ > fileSeq)
          }
          }
        }
      }
      keep(r) = !drop
      if (!drop) kept += 1
      r += 1
    }
    (keep, kept)
  }

  /** `_file` for `rows` rows of the data file `file` (its decoded path). */
  private def fileColumn(rows: Int, file: String): ColumnVector = {
    val v = new ConstantColumnVector(rows, StringType)
    if (file == null) v.setNull() else v.setUtf8String(UTF8String.fromString(file))
    v
  }

  /** The batch's `required` columns only, in order — zero-copy view over
    * the reader's vectors (same consume-before-next contract as serving
    * the original); `_file` is the constant `file`.
    */
  private def strip(batch: ColumnarBatch, loc: Located, file: String): ColumnarBatch = {
    val n = batch.numRows()
    val cols = loc.outIdx.map(i =>
      if (i == FileSlot) fileColumn(n, file) else batch.column(i))
    new ColumnarBatch(cols, n)
  }

  /** Copy the batch's kept rows into fresh on-heap vectors (`_file` stays
    * a constant). Only delete-bearing batches pay this.
    */
  private def copyFiltered(
      batch: ColumnarBatch,
      loc: Located,
      file: String,
      keep: Array[Boolean],
      kept: Int,
      schema: StructType): ColumnarBatch = {
    val out = loc.outIdx.zip(schema.fields).map { case (i, f) =>
      if (i == FileSlot) fileColumn(kept, file)
      else copyKept(batch.column(i), f.dataType, batch.numRows(), keep, kept)
    }
    new ColumnarBatch(out, kept)
  }

  /** The `kept` rows of `src`'s first `n` marked in `keep`, in a fresh
    * on-heap vector of type `dt`.
    */
  private def copyKept(
      src: ColumnVector,
      dt: DataType,
      n: Int,
      keep: Array[Boolean],
      kept: Int): ColumnVector = {
    val dst = new OnHeapColumnVector(kept, dt)
    // type dispatch hoisted PER COLUMN (one branch each), not per kept
    // cell — the masked-copy hot loop stays monomorphic
    val copyCell: (Int, Int) => Unit = dt match {
      case BooleanType => (i, o) => dst.putBoolean(o, src.getBoolean(i))
      case ByteType => (i, o) => dst.putByte(o, src.getByte(i))
      case ShortType => (i, o) => dst.putShort(o, src.getShort(i))
      case IntegerType | DateType => (i, o) => dst.putInt(o, src.getInt(i))
      case LongType | TimestampType | TimestampNTZType =>
        (i, o) => dst.putLong(o, src.getLong(i))
      case FloatType => (i, o) => dst.putFloat(o, src.getFloat(i))
      case DoubleType => (i, o) => dst.putDouble(o, src.getDouble(i))
      case StringType => (i, o) => {
        val b = src.getUTF8String(i).getBytes
        dst.putByteArray(o, b, 0, b.length)
      }
      case other => throw new IllegalStateException(
        s"unmaskable type $other escaped the plan-time guard")
    }
    var i = 0
    var o = 0
    while (i < n) {
      if (keep(i)) {
        if (src.isNullAt(i)) dst.putNull(o)
        else copyCell(i, o)
        o += 1
      }
      i += 1
    }
    dst
  }
}
