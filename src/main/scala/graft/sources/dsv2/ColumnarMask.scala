package graft.sources.dsv2

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.sources.{CompactionRunner, FieldIds, GraftCatalog}

import scala.collection.immutable.ArraySeq

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
  *    `data.seq < delete.seq` guard: the driver collects the
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
  *
  * Strictly opt-in when PROVABLE, else `None` and the row path serves:
  *  - driver-bounded delete sets (manifest record counts, ≤ [[MaxDeleteRows]]);
  *  - no row-id request, no COW group filter;
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
  private def normFloating(d: Double): java.lang.Double =
    java.lang.Double.valueOf(if (d == 0.0d) 0.0d else d)

  private def normDriver(v: Any): Option[Any] = v match {
    case null => Some(null)
    case b: java.lang.Byte => Some(java.lang.Long.valueOf(b.longValue))
    case s: java.lang.Short => Some(java.lang.Long.valueOf(s.longValue))
    case i: java.lang.Integer => Some(java.lang.Long.valueOf(i.longValue))
    case l: java.lang.Long => Some(l)
    case f: java.lang.Float => Some(normFloating(f.doubleValue))
    case d: java.lang.Double => Some(normFloating(d.doubleValue))
    case s: String => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case b: java.lang.Boolean => Some(b)
    case d: java.sql.Date => Some(java.lang.Long.valueOf(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Some(java.lang.Long.valueOf(d.toEpochDay))
    // timestamps → the micros-since-epoch long the vectors store; the
    // catalyst conversions are the exact inverses of the collect() path
    case t: java.sql.Timestamp => Some(java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
    case i: java.time.Instant => Some(java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
    case l: java.time.LocalDateTime => Some(java.lang.Long.valueOf(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l)))
    case _ => None
  }

  /** One resolved equality-delete key set: the CURRENT-schema key column
    * names, and the collected `key tuple → max delete sequence` probe map
    * (a row is deleted iff its tuple is present with a max seq strictly
    * greater than the row's file seq — exactly the chained anti joins'
    * semantics, since "matched by any delete newer than the row" is
    * "matched by the newest delete for that key").
    *
    * `longKeys`/`longSeqs` are the single-integral-key fast path — the
    * dominant CDC shape (one long PK): the same probe as sorted parallel
    * arrays, binary-searched per row with ZERO allocation (the generic
    * map probe boxes every key value into an `Array[Any]` + `ArraySeq`
    * per row). Built in [[serve]] once the scanned types are known; null
    * for composite or non-integral keys.
    */
  private final case class EqSet(
      cols: Seq[String],
      types: Seq[DataType],
      keys: Map[Seq[Any], Long],
      maxSeq: Long,
      longKeys: Array[Long] = null,
      longSeqs: Array[Long] = null)

  /** Per-group column locations inside the raw leaf-scan batches. */
  private final case class Located(
      dataIdx: Array[Int],
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
    * file splits of these rdds — the delete set is read once per
    * snapshot, not once per statement. None when masking is not provable
    * (see the object doc) and the row path must serve.
    */
  private[dsv2] def plan(
      spark: SparkSession,
      entries: Seq[GraftCatalog#TableEntry],
      canonical: Option[StructType],
      required: StructType): Option[Seq[RDD[ColumnarBatch]]] = {
    if (disableForProbes) return None
    if (required.isEmpty) return None // COUNT(*) zero-column reads: row path
    if (!required.fields.forall(f => maskable(f.dataType))) return None
    val pos = entries.filter(_.kind == "posdel")
    val eqEntries = entries.filter(_.kind == "eqdel")
    if (pos.isEmpty && eqEntries.isEmpty) return None // delete-free: plain columnar path
    val delCounts = (pos ++ eqEntries).map(_.recordCount)
    if (!delCounts.forall(_ >= 0L) || delCounts.sum > MaxDeleteRows) return None

    val data = entries.filter(_.kind == "data")
    if (data.isEmpty || !data.forall(_.format == "parquet")) return None

    // resolve every eq-delete entry's key columns to current-schema names
    // (by recorded field id when present — rename-robust, the same
    // discipline readEqualityDeletes applies — by recorded name otherwise)
    // and collect the bounded key sets driver-side
    val eqSets: Option[Seq[EqSet]] =
      if (eqEntries.isEmpty) Some(Nil)
      else collectEqSets(spark, eqEntries, canonical)
    if (eqSets.isEmpty) return None
    val eqKeyNames: Seq[String] = eqSets.get.flatMap(_.cols).distinct

    // the scan projects `required` plus any eq-key columns it lacks (the
    // probe reads them; the serving strips them back off)
    val extraFields: Seq[StructField] = {
      val missing = eqKeyNames.filterNot(required.fieldNames.contains)
      val resolved = missing.map { n =>
        canonical.flatMap(_.fields.find(_.name == n)).map(f =>
          StructField(f.name, f.dataType, f.nullable))
      }
      if (resolved.exists(_.isEmpty)) return None
      resolved.flatten
    }
    val scanFields: Array[StructField] =
      FieldIds.stripIds(StructType(required.fields ++ extraFields)).fields
    if (!scanFields.forall(f => maskable(f.dataType))) return None
    // probe types come from the SCANNED fields so the executor-side
    // dispatch matches the vectors it reads
    val typeByName = scanFields.map(f => f.name -> f.dataType).toMap
    val typedSets: Seq[EqSet] =
      eqSets.get.map(s => s.copy(types = s.cols.map(typeByName)))
    if (!typedSets.forall(_.types.forall(probeable))) return None
    // the DRIVER-collected key values must have normalized to exactly the
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
      // for the allocation-free per-row probe. normDriver boxed every
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

    // one bare pinned-schema scan per footer-schema group; every group
    // must carry the scanned columns verbatim — and under the canonical
    // id binding — or the whole read refuses. The relations are built over
    // the entries' own paths (no listing job)
    val groups = CompactionRunner.schemaGroups(spark, data.map(_.path))
    val plans: Seq[Option[DataFrame]] = groups.map { case (fileSchema, paths) =>
      val ok = scanFields.forall(rf =>
        fileSchema.fields.exists(ff =>
          ff.name == rf.name && ff.dataType == rf.dataType) &&
          bindingOk(fileSchema, canonical, rf.name))
      if (!ok) None
      else Some(org.apache.spark.sql.graftbridge.DatasetBridge
        .parquetFiles(spark, fileSchema, paths)
        .select(scanFields.map(f => col(f.name)).toIndexedSeq :+ col("_metadata"): _*))
    }
    if (!plans.forall(_.isDefined)) return None
    val bridge = org.apache.spark.sql.graftbridge.DatasetBridge
    // the raw scan batches: scanned data columns + FLAT metadata columns
    // (selecting `_metadata` plans a struct-building Project over a scan
    // whose output already carries file_path / row_index — the raw leaf
    // is exactly what masking needs, located by name per group)
    val colRdds = plans.flatten.map(df => bridge.columnarScanRaw(df))
    if (!colRdds.forall(_.isDefined)) return None
    val located: Seq[Option[Located]] = colRdds.flatten.map { case (_, names) =>
      val dataIdx = required.fields.map(f => names.indexOf(f.name))
      val eqIdx = eqProbe.map(_.cols.map(names.indexOf).toArray).toArray
      // the leaf scan appends the flat metadata columns AFTER the data
      // columns; search only past the data region so a USER column named
      // file_path / row_index can never be mistaken for the metadata one
      // (masking against user values would silently resurrect deleted rows)
      val metaFrom = scanFields.length
      val fileIdx = names.indexOf("file_path", metaFrom)
      val rowIdx = names.indexWhere(n =>
        n == "row_index" || n == "_tmp_metadata_row_index", metaFrom)
      if (dataIdx.forall(i => i >= 0 && i < metaFrom) &&
          eqIdx.forall(_.forall(i => i >= 0 && i < metaFrom)) &&
          fileIdx >= 0 && rowIdx >= 0)
        Some(Located(dataIdx, eqIdx, fileIdx, rowIdx))
      else None
    }
    if (!located.forall(_.isDefined)) return None

    // driver-side position-delete set: canonical path -> sorted positions
    // (bounded by MaxDeleteRows above — the same driver-sized metadata
    // posture as the reference's in-memory delete vector). Deletion-vector
    // sidecars ARE this structure on disk — decode them directly; parquet
    // row files collect through one scan.
    val conf = spark.sessionState.newHadoopConf()
    // dispatch on the RECORDED entry format (no per-file sniff; entries
    // always carry it — commits stamp "parquet" or "dv")
    val (dvEntries, pqEntries) = pos.partition(_.format == "dv")
    val (dvFiles, pqFiles) = (dvEntries.map(_.path), pqEntries.map(_.path))
    val pqRows: Seq[(String, Long)] =
      if (pqFiles.isEmpty) Nil
      else CompactionRunner.inferredParquet(spark, pqFiles)
        .select(col("file_path"), col("pos"))
        .collect().toSeq
        .map(r => (CompactionRunner.canonPath(r.getString(0)), r.getLong(1)))
    val dvRows: Seq[(String, Long)] = dvFiles.flatMap(p =>
      graft.sources.DeletionVectors.read(p, conf).iterator.flatMap {
        case (f, ps) => ps.iterator.map(x => (CompactionRunner.canonPath(f), x))
      })
    // keyed by the canonical literal-normalized form (canonKey) — the
    // domain the scan-side lookup below decodes into; grouping BY the key
    // merges positions recorded under cosmetically different renderings
    // of one file instead of overwriting them
    val byFile: Map[String, Array[Long]] = (pqRows ++ dvRows)
      .groupBy(r => CompactionRunner.canonKey(r._1))
      .map { case (p, rs) => p -> rs.map(_._2).distinct.sorted.toArray }
    // each data file's sequence number — what the eq-delete `seq <` guard
    // compares against (per-file constant, the reference's
    // `sys_hidden_seq_num` fabrication)
    val seqByFile: Map[String, Long] =
      data.map(e => CompactionRunner.canonKey(e.path) -> e.seqNum).toMap
    val eqMaxSeq: Long = eqProbe.map(_.maxSeq).foldLeft(Long.MinValue)(math.max)
    val bc = spark.sparkContext.broadcast((byFile, eqProbe, seqByFile))

    Some(colRdds.flatten.zip(located.flatten).map { case ((rdd, _), loc) =>
      val requiredLocal = required
      rdd.mapPartitions({ it =>
        val (posByFile, eqSets, seqOf) = bc.value
        it.map { batch =>
          val n = batch.numRows()
          if (n == 0) strip(batch, loc.dataIdx)
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
            if (dels == null && !eqApplies) strip(batch, loc.dataIdx)
            else if (!eqApplies) {
              val rows = batch.column(loc.rowIdx)
              val first = rows.getLong(0)
              val last = rows.getLong(n - 1)
              // sorted delete positions: bounds check proves most
              // batches untouched without scanning them
              var lo = java.util.Arrays.binarySearch(dels, first)
              if (lo < 0) lo = -lo - 1
              if (lo >= dels.length || dels(lo) > last) strip(batch, loc.dataIdx)
              else {
                val (keep, kept) = posKeep(batch, loc.rowIdx, dels, lo)
                if (kept == n) strip(batch, loc.dataIdx)
                else copyFiltered(batch, loc.dataIdx, keep, kept, requiredLocal)
              }
            } else {
              val (keep, kept) = fullKeep(
                batch, loc, dels, eqSets, fileSeq)
              if (kept == n) strip(batch, loc.dataIdx)
              else copyFiltered(batch, loc.dataIdx, keep, kept, requiredLocal)
            }
          }
        }
      }, preservesPartitioning = true)
    })
  }

  /** Read the equality-delete files (grouped by identical key vectors,
    * each path's rows tagged with its entry's sequence number) and build
    * the probe maps. None when anything refuses provability: unresolvable
    * key ids, non-probe-able value types, nulls are fine (a null key
    * value matches nothing — SQL equality — so such delete rows are
    * simply dropped from the probe map).
    */
  private def collectEqSets(
      spark: SparkSession,
      eqEntries: Seq[GraftCatalog#TableEntry],
      canonical: Option[StructType]): Option[Seq[EqSet]] = {
    val bySig = eqEntries.groupBy(e => (e.eqCols, e.eqIds)).toSeq
      .sortBy(_._2.head.path)
    val sets = bySig.map { case ((eqCols, eqIds), es) =>
      // a key-less eq-delete entry is corrupt metadata: an EMPTY key tuple
      // would match every older row here while the row path fails loudly
      // — refuse so the row path's named error surfaces instead of the
      // two serving paths diverging on the same snapshot
      if (eqCols.isEmpty && eqIds.isEmpty) return None
      val paths = es.map(_.path).distinct
      // keyed canonKey like the pos-delete maps: the lookup below decodes
      // the scanned rendering into the same literal-normalized domain
      // (an eq-delete FILE under a spacey path would otherwise refuse the
      // whole set and silently degrade every read to the row-path join)
      val seqByPath = es.map(e =>
        CompactionRunner.canonKey(e.path) -> e.seqNum).toMap
      val raw = CompactionRunner.inferredParquet(spark, paths)
      // (delete-file column, data-side name) — the SAME resolution the
      // row path applies ([[FieldIds.resolveEqColumns]], one shared
      // implementation): ids bind to footer columns, names fall back
      val resolved: Option[Seq[(String, String)]] =
        FieldIds.resolveEqColumns(raw.schema, eqCols, eqIds, canonical)
      resolved.flatMap { rs =>
        val delCols = rs.map(_._1)
        if (!delCols.forall(raw.schema.fieldNames.contains)) None
        else {
          val collected = raw
            .select(delCols.map(col) :+ col("_metadata.file_path"): _*)
            .collect()
          val maxSeq = es.map(_.seqNum).max
          val keys = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
          var bad = false
          collected.foreach { r =>
            // a delete row whose _metadata.file_path matches no entry's
            // canonical path is UNPROVABLE (a canonicalization divergence
            // — URI scheme, symlink — between the entry list and the scan)
            // and refuses the whole set back to the row-based anti join:
            // defaulting it to the group max seq would apply the delete
            // with an INFLATED sequence and silently drop rows re-inserted
            // between the real delete and the group max
            val seq = seqByPath.getOrElse(
              CompactionRunner.canonDecoded(r.getString(delCols.length)),
              { bad = true; maxSeq })
            val vals = new Array[Any](delCols.length)
            var i = 0
            var anyNull = false
            while (i < delCols.length && !bad) {
              normDriver(r.get(i)) match {
                case Some(null) => anyNull = true
                case Some(v) => vals(i) = v
                case None => bad = true
              }
              i += 1
            }
            // null key values match nothing under SQL equality
            if (!bad && !anyNull) {
              val key = ArraySeq.unsafeWrapArray(vals): Seq[Any]
              val prev = keys.getOrElse(key, Long.MinValue)
              if (seq > prev) keys(key) = seq
            }
          }
          if (bad) None
          else Some(EqSet(rs.map(_._2), Nil, keys.toMap, maxSeq))
        }
      }
    }
    if (sets.forall(_.isDefined)) Some(sets.flatten) else None
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

  /** The batch's data columns only (in `required` order) — zero-copy view
    * over the reader's vectors (same consume-before-next contract as
    * serving the original).
    */
  private def strip(batch: ColumnarBatch, dataIdx: Array[Int]): ColumnarBatch = {
    val cols = dataIdx.map(i => batch.column(i): ColumnVector)
    new ColumnarBatch(cols, batch.numRows())
  }

  /** Copy the batch's kept rows into fresh on-heap vectors. Only
    * delete-bearing batches pay this.
    */
  private def copyFiltered(
      batch: ColumnarBatch,
      dataIdx: Array[Int],
      keep: Array[Boolean],
      kept: Int,
      schema: StructType): ColumnarBatch = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    val n = batch.numRows()
    val out = OnHeapColumnVector.allocateColumns(kept, schema)
    var c = 0
    while (c < dataIdx.length) {
      val src = batch.column(dataIdx(c))
      val dst = out(c)
      // type dispatch hoisted PER COLUMN (one branch each), not per kept
      // cell — the masked-copy hot loop stays monomorphic
      val copyCell: (Int, Int) => Unit = schema.fields(c).dataType match {
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
      c += 1
    }
    new ColumnarBatch(out.map(v => v: ColumnVector), kept)
  }
}
