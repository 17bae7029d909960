package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.types._

/** Iceberg `metadata.json` EXPORT for [[GraftCatalog]] tables — the
  * interop doorway for external Iceberg tooling: the catalog's snapshot
  * chain, per-snapshot canonical schemas (field ids included), and HEAD
  * render as a spec-shaped table-metadata document
  * (format per the public Iceberg table spec, "Table Metadata" fields;
  * the reference consumes the same structures through `iceberg-rust`).
  *
  * Every snapshot also exports the full DISCOVERY chain a stock reader
  * walks: `metadata.json` → the snapshot's `manifest-list` (Avro,
  * [[IcebergManifest.writeList]]) → data/delete manifests
  * ([[IcebergManifest.write]]) → files. Delete manifests carry the v3
  * `content` discriminator, eq-delete `equality_ids`, and — for Puffin
  * deletion vectors — one entry PER DV BLOB with `referenced_data_file` /
  * `content_offset` / `content_size_in_bytes` resolved from the sidecar's
  * own footer, so an external reader can locate and decode every vector
  * without this library. The document declares `format-version` 3 exactly
  * when deletion vectors are present (they are a v3 feature); delete-free
  * and row-file-delete tables stay v2.
  *
  * Deviations, documented: `sequence-number` equals the snapshot id
  * (commits are totally ordered), and manifest partition tuples are
  * name-keyed arrays rather than positional structs (see
  * [[IcebergManifest]]; bound values are spec-exact binary single-value
  * serializations as of round 16).
  */
object IcebergMetadataJson {

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Deterministic id allocator for fields the catalog does not track
    * (nested list/map element/key/value slots and id-less top-level
    * columns). Iceberg requires every field id in a table-metadata
    * document to be unique — rendering 0 for each untracked slot produced
    * duplicate ids that external tooling rejects. Synthetic ids start
    * above the highest REAL id across all schemas and are memoized by
    * field path, so the same column keeps the same id in every schema of
    * the export (no cross-schema misbinding) and `last-column-id` can
    * cover them per spec.
    */
  private final class IdAllocator(maxRealId: Int) {
    private var next = maxRealId + 1
    private val byPath = scala.collection.mutable.HashMap.empty[String, Int]
    def id(path: String): Int =
      byPath.getOrElseUpdate(path, { val v = next; next += 1; v })
    def last: Int = next - 1
  }

  /** Spark → Iceberg type names (spec "Schemas and Data Types"). Nested
    * types render as nested JSON objects; ids for nested levels are
    * allocated synthetically by path (top-level ids are real when the
    * catalog tracks them).
    */
  private def icebergType(dt: DataType, path: String, ids: IdAllocator): String = dt match {
    case BooleanType => "\"boolean\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case DateType => "\"date\""
    case TimestampType => "\"timestamptz\""
    case TimestampNTZType => "\"timestamp\""
    case StringType => "\"string\""
    case BinaryType => "\"binary\""
    case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
    case a: ArrayType =>
      val eid = ids.id(s"$path.element")
      s"""{"type":"list","element-id":$eid,""" +
        s""""element":${icebergType(a.elementType, s"$path.element", ids)},""" +
        s""""element-required":${!a.containsNull}}"""
    case m: MapType =>
      val kid = ids.id(s"$path.key")
      val vid = ids.id(s"$path.value")
      s"""{"type":"map","key-id":$kid,"key":${icebergType(m.keyType, s"$path.key", ids)},""" +
        s""""value-id":$vid,"value":${icebergType(m.valueType, s"$path.value", ids)},""" +
        s""""value-required":${!m.valueContainsNull}}"""
    case s: StructType =>
      s"""{"type":"struct","fields":[${structFields(s, path, ids)}]}"""
    case other =>
      throw GraftError.Metadata(s"no Iceberg rendering for ${other.catalogString}")
  }

  private def structFields(s: StructType, path: String, ids: IdAllocator): String =
    s.fields.map { f =>
      val fpath = s"$path.${f.name}"
      val id = FieldIds.idOf(f).getOrElse(ids.id(fpath))
      // a field annotated with its PHYSICAL Iceberg type (uuid/fixed/
      // time/ns — lossy Spark mappings, from an import) renders that
      // type back, so export→import round trips preserve the declaration
      val t = FieldIds.physicalOf(f).map(p => s""""${esc(p)}"""")
        .getOrElse(icebergType(f.dataType, fpath, ids))
      s"""{"id":$id,"name":"${esc(f.name)}","required":${!f.nullable},""" +
        s""""type":$t}"""
    }.mkString(",")

  private def schemaJson(id: Long, s: StructType, ids: IdAllocator): String =
    s"""{"schema-id":$id,"type":"struct","fields":[${structFields(s, "", ids)}]}"""

  /** Write `vN.metadata.json` (N = current snapshot id) into the table
    * directory and return its path.
    */
  def export(catalog: GraftCatalog, root: String, table: String): Path = {
    val dir = Paths.get(root, table)
    val head = catalog.currentSnapshotId(table)
    val ids = catalog.snapshotIds(table)
    val schemas = ids.flatMap(id => catalog.schemaAt(table, id).map(id -> _))
    val currentSchemaId = schemas.collect { case (id, _) if id <= head => id }
      .maxOption.getOrElse(0L)
    // spec: highest column id ever ASSIGNED (all schemas, not just current)
    // — an external writer allocates last-column-id + 1 for its next column,
    // and a dropped column's id must never be reachable that way. Synthetic
    // ids (nested/id-less fields) allocate above this and are folded back in.
    val maxRealId = math.max(
      schemas.flatMap { case (_, s) => FieldIds.allIds(s) } // nested too
        .maxOption.getOrElse(0),
      // the persisted monotonic mark — expiry can delete schemas that
      // carried the true high-water id, and an external writer allocating
      // last-column-id + 1 must never re-mint a dropped id
      catalog.nextFieldId(table) - 1)
    val idAlloc = new IdAllocator(maxRealId)
    def mtime(id: Long): Long =
      try Files.getLastModifiedTime(dir.resolve(s"snap-$id.tsv")).toMillis
      catch { case _: Exception => 0L }
    // the discovery chain: per-snapshot Avro manifests + manifest list;
    // tracks whether ANY snapshot references a Puffin deletion vector
    // (the v3 trigger), the row-lineage high-water mark, and each
    // snapshot's highest ENTRY sequence number
    val (listPathOf, maxEntrySeqOf, anyDv, nextRowId) =
      exportManifests(catalog, dir, table, ids, schemas)
    // snapshot sequence numbers: normally the snapshot id (commits are
    // totally ordered), but an IMPORTED table's entries keep their foreign
    // — often huge — sequence numbers, and the spec requires that no
    // data/delete sequence number exceed its snapshot's (nor the
    // document's last-sequence-number). Floor each snapshot at the
    // PREDECESSOR'S seq + 1 (commit sequence numbers strictly increase —
    // an equal-seq plateau after one huge foreign entry seq would let
    // stock validators reject the chain or misorder delete applicability
    // at equal-seq boundaries) while keeping the max(entrySeq) covering
    // rule; pure-local tables render exactly as before (ids are strictly
    // increasing, so the +1 floor never binds).
    val sorted = ids.sorted
    val seqOf: Map[Long, Long] = sorted.foldLeft((Map.empty[Long, Long], 0L)) {
      case ((m, prev), id) =>
        val floor = if (m.isEmpty) 0L else prev + 1
        val seq = math.max(floor, math.max(id, maxEntrySeqOf.getOrElse(id, 0L)))
        (m.updated(id, seq), seq)
    }._1
    val parentOf: Map[Long, Long] = sorted.zip(sorted.drop(1)).map(_.swap).toMap
    val snapshots = ids.map { id =>
      val schemaRef = schemas.collect { case (sid, _) if sid <= id => sid }
        .maxOption.map(sid => s""","schema-id":$sid""").getOrElse("")
      // the snapshot's REAL operation (append/overwrite/delete/replace/
      // metadata) from the catalog's entry diff — external tooling uses
      // it to classify history (e.g. changelog scans skip `replace`)
      val op = catalog.snapshotSummary(table, id)
        .map(_.operation).getOrElse("append")
      val parent = parentOf.get(id)
        .map(p => s""","parent-snapshot-id":$p""").getOrElse("")
      s"""{"snapshot-id":$id,"sequence-number":${seqOf(id)}$parent,""" +
        s""""timestamp-ms":${mtime(id)},""" +
        s""""manifest-list":"${esc(listPathOf(id))}",""" +
        s""""summary":{"operation":"${esc(op)}"}$schemaRef}"""
    }.mkString(",")
    val snapshotLog = ids.map(id =>
      s"""{"timestamp-ms":${mtime(id)},"snapshot-id":$id}""").mkString(",")
    // the spec's `refs` object: the main branch plus every tag whose
    // snapshot is retained (an expired tag target would dangle; the
    // catalog's tagSnapshot/expiry already maintain that invariant, the
    // filter just refuses to export a broken pointer). A tag literally
    // named 'main' would duplicate the branch key and is skipped (same
    // rule as the REST facade).
    val retained = ids.toSet
    val refsJson = (s""""main":{"snapshot-id":$head,"type":"branch"}""" +:
      catalog.tags(table).toSeq
        .filter { case (n, sid) => n != "main" && retained(sid) }
        .sortBy(_._1).map { case (n, sid) =>
          s""""${esc(n)}":{"snapshot-id":$sid,"type":"tag"}"""
        }).mkString(",")
    // the table's REAL creation UUID when the catalog minted one (every
    // table created since round 14; also the served-plan cache's
    // generation discriminator) — the name-derived fallback only covers
    // older tables, where re-creates were already indistinguishable
    val uuid = catalog.tableUuid(table).getOrElse(
      java.util.UUID.nameUUIDFromBytes(
        s"graft:$root/$table".getBytes("UTF-8")).toString)
    // render schemas BEFORE last-column-id: rendering allocates the
    // synthetic nested/id-less ids that last-column-id must cover
    val schemasJson = schemas.map { case (id, s) => schemaJson(id, s, idAlloc) }.mkString(",")
    // the table's declared partition spec (hidden partitioning) renders as
    // Iceberg partition-spec JSON: source-id binds by the schema field id
    // (real, or the synthetic one the schema render above just allocated —
    // IdAllocator memoizes by path, so re-asking returns the same id);
    // partition field ids start at 1000 per the spec convention
    val specFields = catalog.partitionSpec(table)
    val currentFields = schemas.collect { case (sid, s) if sid <= head => s }
      .lastOption.map(_.fields.toSeq).getOrElse(Nil)
    val renderable = specFields.forall(f =>
      currentFields.exists(_.name == f.source))
    // all-or-nothing: a spec whose source column can't bind to a schema
    // field (schema-less table) renders as the empty default spec — a
    // partial spec would misdescribe the table's layout to external tooling
    val renderedFields = if (renderable) specFields else Nil
    val specJson = renderedFields.zipWithIndex.map { case (f, i) =>
      val src = currentFields.find(_.name == f.source).get
      val sourceId = FieldIds.idOf(src).getOrElse(idAlloc.id(s".${src.name}"))
      s"""{"name":"${esc(f.name)}","transform":"${esc(f.transform)}",""" +
        s""""source-id":$sourceId,"field-id":${1000 + i}}"""
    }.mkString(",")
    val lastPartitionId = 999 + renderedFields.length
    // the table's DECLARED sort order (write-order) renders as Iceberg
    // sort-order JSON: identity transform, ascending, nulls-first — the
    // order maintenance compaction applies. Same all-or-nothing rule as
    // the partition spec: a column that can't bind to a schema field id
    // keeps the export at the empty order rather than misdescribing it.
    val sortCols = catalog.sortOrder(table)
    val sortable = sortCols.nonEmpty &&
      sortCols.forall(c => currentFields.exists(_.name == c))
    val sortOrders =
      if (!sortable) """{"order-id":0,"fields":[]}"""
      else {
        val fields = sortCols.map { c =>
          val src = currentFields.find(_.name == c).get
          val sid = FieldIds.idOf(src).getOrElse(idAlloc.id(s".${src.name}"))
          s"""{"transform":"identity","source-id":$sid,""" +
            """"direction":"asc","null-order":"nulls-first"}"""
        }.mkString(",")
        s"""{"order-id":0,"fields":[]},{"order-id":1,"fields":[$fields]}"""
      }
    val defaultSortOrderId = if (sortable) 1 else 0
    val lastColumnId = idAlloc.last
    // deletion vectors are an Iceberg v3 feature; everything else this
    // export writes is v2-legal, so delete-free (and row-file-delete)
    // tables stay readable by v2 tooling. v3 requires row lineage, so
    // `next-row-id` (the first-row-id high-water mark the manifests
    // assigned) travels exactly when the version does.
    val formatVersion = if (anyDv) 3 else 2
    val rowLineage =
      if (formatVersion >= 3) s""""next-row-id":$nextRowId,""" + "\n" else ""
    // the catalog's table properties travel in the document (spec
    // "Table Metadata" optional `properties`) — import adopts them, so
    // behavior-bearing keys like write.delete.mode survive the round trip
    val propsJson = catalog.tableProperties(table).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    // the spec's `statistics` (Puffin NDV sketches) and
    // `partition-statistics` entries — one directory listing collects
    // every pointer; blob metadata re-read from the Puffin footer itself
    // (by-reference fidelity, cache-served — stats files are write-once).
    // A pointer whose file has vanished (a foreign warehouse GC'd an
    // adopted by-reference sketch) SKIPS its entry rather than failing
    // the export: statistics are planner estimates, never a correctness
    // input, and exportOnLoad must keep serving the table.
    val statsConf = CompactionRunner.defaultHadoopConf()
    val statsEntries = catalog.statisticsFiles(table)
      .filter(r => retained(r.snapshotId))
      .flatMap { r =>
        val blobsOpt =
          Option(GraftCatalog.statsFooterCache.get(r.path)).orElse {
            try {
              val b = Puffin.readFooter(r.path, statsConf)._1
              GraftCatalog.statsFooterCache.put(r.path, b)
              Some(b)
            } catch { case _: Exception => None }
          }
        blobsOpt.map { bs =>
          val blobs = bs.map { b =>
            s"""{"type":"${esc(b.blobType)}","snapshot-id":${r.snapshotId},""" +
              s""""sequence-number":${seqOf.getOrElse(r.snapshotId, r.snapshotId)},""" +
              s""""fields":[${b.fields.mkString(",")}],""" +
              s""""properties":{${b.properties.toSeq.sorted.map { case (k, v) =>
                s""""${esc(k)}":"${esc(v)}""""
              }.mkString(",")}}}"""
          }.mkString(",")
          s"""{"snapshot-id":${r.snapshotId},"statistics-path":"${esc(r.path)}",""" +
            s""""file-size-in-bytes":${r.fileSizeInBytes},""" +
            s""""file-footer-size-in-bytes":${r.footerSizeInBytes},""" +
            s""""blob-metadata":[$blobs]}"""
        }
      }
    val pstatsEntries = catalog.statisticsFiles(table, partition = true)
      .filter(r => retained(r.snapshotId))
      .map(r =>
        s"""{"snapshot-id":${r.snapshotId},""" +
          s""""statistics-path":"${esc(r.path)}",""" +
          s""""file-size-in-bytes":${r.fileSizeInBytes}}""")
    val statsSection =
      (if (statsEntries.isEmpty) ""
       else s""""statistics":[${statsEntries.mkString(",")}],""" + "\n") +
        (if (pstatsEntries.isEmpty) ""
         else s""""partition-statistics":[${pstatsEntries.mkString(",")}],""" +
           "\n")
    val json =
      s"""{"format-version":$formatVersion,
         |"table-uuid":"$uuid",
         |"location":"${esc(dir.toString)}",
         |"properties":{$propsJson},
         |"last-sequence-number":${seqOf.getOrElse(head, head)},
         |"last-updated-ms":${mtime(head)},
         |"last-column-id":$lastColumnId,
         |$rowLineage"current-schema-id":$currentSchemaId,
         |"schemas":[$schemasJson],
         |"default-spec-id":0,
         |"partition-specs":[{"spec-id":0,"fields":[$specJson]}],
         |"last-partition-id":$lastPartitionId,
         |"default-sort-order-id":$defaultSortOrderId,
         |"sort-orders":[$sortOrders],
         |$statsSection"current-snapshot-id":$head,
         |"refs":{$refsJson},
         |"snapshots":[$snapshots],
         |"snapshot-log":[$snapshotLog],
         |"metadata-log":[]}""".stripMargin
    val out = dir.resolve(s"v$head.metadata.json")
    Files.writeString(out, json)
    out
  }

  /** Write each snapshot's Avro manifests (data, and — when delete files
    * exist — a separate delete manifest, the spec's required split) plus
    * its manifest list. Returns (snapshot id → manifest-list path, any
    * Puffin DV referenced, next-row-id). Puffin footers are read once per
    * sidecar across all snapshots. Re-exports rewrite deterministically
    * (snapshot entries are immutable per id) — per-export cost is O(total
    * entries across retained snapshots), bounded in practice by snapshot
    * expiry; export is an explicit interop operation, not a commit-path
    * cost.
    *
    * Row lineage (v3): each data file is assigned a `first_row_id` block
    * of `record_count` ids the first time its path appears (ascending
    * snapshot order — the order the catalog added them); later snapshots
    * re-render the same value, and the returned next-row-id is the
    * high-water mark `metadata.json` publishes. Entry `snapshot_id` is
    * likewise the snapshot the path FIRST appeared in.
    */
  private def exportManifests(
      catalog: GraftCatalog,
      dir: Path,
      table: String,
      ids: Seq[Long],
      schemas: Seq[(Long, StructType)])
      : (Map[Long, String], Map[Long, Long], Boolean, Long) = {
    import graft.sources.IcebergManifest.{ManifestEntry, ManifestFile}
    val conf = CompactionRunner.defaultHadoopConf()
    // blob metadata per Puffin sidecar, memoized (snapshots share files).
    // None = provably NOT Puffin (the legacy GDV1 encoding — exports as a
    // plain content-1 entry without reference fields). IO/parse errors
    // PROPAGATE and fail the export loudly: silently downgrading an
    // unreadable Puffin sidecar would export metadata a stock reader
    // decodes to the WRONG row set (and could even claim format-version 2)
    val blobCache = scala.collection.mutable.HashMap
      .empty[String, Option[Seq[Puffin.BlobMeta]]]
    def dvBlobs(path: String): Option[Seq[Puffin.BlobMeta]] =
      blobCache.getOrElseUpdate(path, {
        val hp = new org.apache.hadoop.fs.Path(path)
        val in = hp.getFileSystem(conf).open(hp)
        val head = new Array[Byte](4)
        try in.readFully(0, head) finally in.close()
        if (!java.util.Arrays.equals(head, Puffin.Magic)) None
        else Some(Puffin.readFooter(path, conf)._1
          .filter(_.blobType == Puffin.DvBlobType))
      })
    var anyDv = false
    // row lineage: one id block per unique data-file path, minted in
    // ascending snapshot order; snapshot_id records the minting snapshot
    var nextRowId = 0L
    val lineage = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    def lineageOf(id: Long, path: String, recordCount: Long): (Long, Long) =
      lineage.getOrElseUpdate(path, {
        val first = nextRowId
        nextRowId += math.max(0L, recordCount)
        (first, id)
      })
    val maxSeqs = scala.collection.mutable.HashMap.empty[Long, Long]
    val listPaths = ids.sorted.map { id =>
      val entries = catalog.loadEntriesAt(table, id)
      val schema = schemas.collect { case (sid, s) if sid <= id => s }
        .lastOption.getOrElse(StructType(Nil))
      val known = schema.fieldNames.toSet
      // stats keyed by columns the snapshot's schema can resolve to field
      // ids; everything else drops (bounds are an optimization, and an
      // unresolvable key would mint a colliding negative id on read)
      def stats(e: GraftCatalog#TableEntry): CompactionRunner.DataFileStats =
        CompactionRunner.DataFileStats(e.path, e.sizeBytes, e.recordCount,
          e.stats.map(_.colMins.filter(kv => known(kv._1))).getOrElse(Map.empty),
          e.stats.map(_.colMaxs.filter(kv => known(kv._1))).getOrElse(Map.empty),
          e.stats.map(_.nullCounts.filter(kv => known(kv._1))).getOrElse(Map.empty))
      val dataEntries = entries.filter(_.kind == "data").map { e =>
        val (firstRowId, addedAt) = lineageOf(id, e.path, e.recordCount)
        ManifestEntry(IcebergManifest.StatusAdded, stats(e), e.format,
          content = IcebergManifest.ContentData, sequenceNumber = e.seqNum,
          snapshotId = Some(addedAt), firstRowId = Some(firstRowId),
          partitionVals = e.partitionVals,
          partitionTransforms = e.partitionTransforms)
      }
      val deleteEntries = entries.filter(_.kind != "data").flatMap { e =>
        if (e.kind == "eqdel")
          Seq(ManifestEntry(IcebergManifest.StatusAdded, stats(e), e.format,
            content = IcebergManifest.ContentEqualityDeletes,
            sequenceNumber = e.seqNum, equalityIds = e.eqIds,
            snapshotId = Some(id)))
        else (if (e.format == "dv") dvBlobs(e.path) else None) match {
          case Some(blobs) =>
            // one manifest entry per DV blob — each names its referenced
            // data file and locates the blob inside the sidecar, the v3
            // deletion-vector manifest shape
            anyDv = true
            blobs.map { b =>
              ManifestEntry(IcebergManifest.StatusAdded,
                CompactionRunner.DataFileStats(e.path, e.sizeBytes,
                  b.properties.get("cardinality")
                    .flatMap(_.toLongOption).getOrElse(-1L),
                  Map.empty, Map.empty, Map.empty),
                format = "puffin",
                content = IcebergManifest.ContentPositionDeletes,
                sequenceNumber = e.seqNum,
                referencedDataFile = b.properties.get("referenced-data-file"),
                contentOffset = Some(b.offset),
                contentSizeInBytes = Some(b.length),
                snapshotId = Some(id))
            }
          case _ =>
            Seq(ManifestEntry(IcebergManifest.StatusAdded, stats(e), e.format,
              content = IcebergManifest.ContentPositionDeletes,
              sequenceNumber = e.seqNum, snapshotId = Some(id)))
        }
      }
      // the SPEC-EXACT positional tuple shape: the declared spec's fields
      // typed by this snapshot's schema (all bound, or none — a partial
      // binding would misdescribe the layout; the writer additionally
      // falls back per manifest when any tuple doesn't fit)
      val specDefs = catalog.partitionSpec(table)
      val pFields = specDefs.flatMap(f =>
        schema.fields.find(_.name == f.source).map(sf =>
          IcebergManifest.PartitionFieldSpec(
            f.name, f.transform, f.source, sf.dataType)))
      val partitionFields =
        if (pFields.length == specDefs.length) pFields else Nil
      def writeOne(suffix: String, content: Int,
          es: Seq[ManifestEntry]): Option[ManifestFile] =
        if (es.isEmpty) None
        else {
          val p = dir.resolve(s"snap-$id-$suffix.avro")
          IcebergManifest.write(p.toString, es, schema, conf,
            partitionFields = partitionFields)
          val seqs = es.map(_.sequenceNumber)
          Some(ManifestFile(p.toString, Files.size(p),
            partitionSpecId = 0, content = content,
            sequenceNumber = seqs.max, minSequenceNumber = seqs.min,
            addedSnapshotId = id,
            addedFilesCount = es.size, existingFilesCount = 0,
            deletedFilesCount = 0,
            addedRowsCount = es.map(e => math.max(0L, e.file.recordCount)).sum,
            existingRowsCount = 0L, deletedRowsCount = 0L,
            // the manifest's row-id block starts at its lowest entry block
            // (a re-rendered full inventory spans every block it carries)
            firstRowId =
              if (content == 0) es.flatMap(_.firstRowId).minOption else None))
        }
      val manifests =
        writeOne("m0", 0, dataEntries).toSeq ++
          writeOne("m1", 1, deleteEntries).toSeq
      maxSeqs(id) = (dataEntries ++ deleteEntries)
        .map(_.sequenceNumber).maxOption.getOrElse(0L)
      val listPath = dir.resolve(s"snap-$id-manifest-list.avro")
      IcebergManifest.writeList(listPath.toString, manifests, conf)
      id -> listPath.toString
    }.toMap
    (listPaths, maxSeqs.toMap, anyDv, nextRowId)
  }
}
