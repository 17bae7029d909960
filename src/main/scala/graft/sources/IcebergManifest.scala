package graft.sources

import graft.sources.CompactionRunner.DataFileStats
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Spec-shaped Iceberg manifest emission: the commit's file inventory as an
  * Avro container of manifest entries, mirroring the structures a real
  * catalog writes (Iceberg spec "Manifests"; the reference materializes the
  * same `DataFile` metadata before its catalog commit,
  * `core/src/parser/proto.rs:404-434`, and its wire `DataFile` message
  * carries the same `content` discriminator, `core/proto/iceberg.proto`):
  *
  *   - `status` 1 = ADDED, 2 = DELETED (existing files don't occur in a
  *     full-compaction commit);
  *   - `snapshot_id`, the snapshot that ADDED the file (spec field 1) —
  *     in a re-rendered full-inventory manifest this is the snapshot the
  *     path FIRST appeared in, not the manifest's own;
  *   - `data_file` with the spec's field names (`file_path`, `file_format`,
  *     `record_count`, `file_size_in_bytes`, `null_value_counts`,
  *     `lower_bounds`, `upper_bounds`), bounds/counts keyed by **field id**
  *     as arrays of `{key, value}` structs exactly like the spec's k/v maps;
  *   - `partition`, the file's partition tuple — rendered as an array of
  *     `{name, transform, value}` records mirroring the catalog's
  *     name-keyed tuple + the transform that produced each value (the
  *     spec's `partition_spec_id` binding, flattened per file exactly like
  *     [[GraftCatalog.TableEntry.partitionTransforms]]);
  *   - v3 delete-file fields: `content` (0 = data, 1 = position deletes,
  *     2 = equality deletes), `equality_ids` for eq-delete files, and the
  *     deletion-vector reference triple `referenced_data_file` /
  *     `content_offset` / `content_size_in_bytes` locating one DV blob
  *     inside its Puffin sidecar — so a stock v3 reader can DISCOVER the
  *     vectors through exported metadata, not merely decode them;
  *   - v3 row lineage: `first_row_id` on data-file entries (spec field
  *     142) and on the manifest-list row (spec field 520);
  *   - `sequence_number`, the entry's data sequence number (delete
  *     applicability: a delete applies to strictly older data files).
  *
  * Every Avro field carries the spec's `field-id` attribute (manifest
  * entry fields 0-3, data_file fields 100-145, manifest-list fields
  * 500-520), so id-driven external tooling can bind columns positionally
  * by id, not name.
  *
  * All post-v2 fields carry Avro defaults, so manifests written before
  * round 15/16 read back unchanged (schema resolution fills content = 0,
  * empty partition, null snapshot_id/first_row_id).
  *
  * Bound values serialize per the spec's BINARY single-value encoding for
  * the column's type ([[IcebergSingleValue]]) — stock-consumable; the
  * read side also still decodes this library's pre-round-16 string
  * bounds. Reading is DYNAMIC (by name against the file's own writer
  * schema), so spec-shaped manifests stock writers produced decode too:
  * binary bounds, positional partition structs, v1 field names,
  * sequence-number inheritance (`inheritedSeq`), and extra fields this
  * model doesn't carry are all handled or skipped.
  *
  * Partition tuples write SPEC-EXACT as of round 17: when the caller
  * supplies the partition spec ([[PartitionFieldSpec]] — the export path
  * does), tuples serialize as the positional struct typed by the
  * transforms' result types with 1000+ field ids, exactly like a stock
  * writer. The name-keyed `{name, transform, value-string}` array (this
  * library's historical dialect — the transform travels WITH each value)
  * remains the fallback: no spec supplied, an untypeable shape, a value
  * that doesn't parse into its slot, or tuples from an evolved-away
  * spec. The READ side accepts both shapes from any writer.
  */
object IcebergManifest {

  final case class ManifestEntry(
      status: Int,
      file: DataFileStats,
      format: String = "parquet",
      content: Int = ContentData,
      sequenceNumber: Long = 0L,
      equalityIds: Seq[Int] = Nil,
      referencedDataFile: Option[String] = None,
      contentOffset: Option[Long] = None,
      contentSizeInBytes: Option[Long] = None,
      snapshotId: Option[Long] = None,
      firstRowId: Option[Long] = None,
      partitionVals: Map[String, String] = Map.empty,
      partitionTransforms: Map[String, String] = Map.empty)

  val StatusAdded = 1
  val StatusDeleted = 2

  /** The spec's `content` values for a data_file entry. */
  val ContentData = 0
  val ContentPositionDeletes = 1
  val ContentEqualityDeletes = 2

  /** One manifest file's row in a manifest list (spec "Manifest Lists",
    * the v2 required fields plus v3 `first_row_id`): where the manifest
    * is, whether it inventories data or delete files, and its summary
    * counts — what a planner reads to decide whether to open the manifest
    * at all.
    */
  final case class ManifestFile(
      manifestPath: String,
      manifestLength: Long,
      partitionSpecId: Int,
      content: Int, // 0 = data manifest, 1 = delete manifest
      sequenceNumber: Long,
      minSequenceNumber: Long,
      addedSnapshotId: Long,
      addedFilesCount: Int,
      existingFilesCount: Int,
      deletedFilesCount: Int,
      addedRowsCount: Long,
      existingRowsCount: Long,
      deletedRowsCount: Long,
      firstRowId: Option[Long] = None)

  private def kvSchema(name: String, valueType: Schema): Schema =
    SchemaBuilder.array().items(
      SchemaBuilder.record(name).fields()
        .requiredInt("key")
        .name("value").`type`(valueType).noDefault()
        .endRecord())

  /** Stamp the spec's `field-id` attribute onto `rec`'s fields (and the
    * kv-element `key`/`value` fields where the spec numbers them) —
    * mutates and returns the schema; Avro serializes attributes into the
    * container header where id-driven readers resolve them.
    */
  private def stampFieldIds(rec: Schema, ids: Map[String, Int]): Schema = {
    rec.getFields.asScala.foreach { f =>
      ids.get(f.name).foreach(id => f.addProp("field-id", id: Integer))
    }
    rec
  }

  private def stampKv(arr: Schema, keyId: Int, valueId: Int): Unit = {
    val elem = arr.getElementType
    elem.getField("key").addProp("field-id", keyId: Integer)
    elem.getField("value").addProp("field-id", valueId: Integer)
  }

  /** One declared partition field for the SPEC-EXACT positional tuple
    * write: spec field name, transform, the SOURCE column's name (what
    * recorded per-entry transforms bind as `transform|source`) and Spark
    * type (what the transform's result type derives from).
    */
  final case class PartitionFieldSpec(
      name: String, transform: String, sourceName: String,
      sourceType: org.apache.spark.sql.types.DataType)

  /** The transform's RESULT type (spec "Partition Transforms"): identity,
    * truncate AND void keep the source type (a void slot is always null,
    * but its declared type must match what a stock reader derives from
    * the exported spec); bucket/year/month/hour produce ints; day
    * produces a DATE. None = a shape this writer does not type
    * positionally (the caller falls back to the name-keyed tuple).
    */
  private[sources] def resultType(
      transform: String,
      source: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    transform.takeWhile(_ != '[') match {
      case "identity" | "truncate" | "void" => Some(source)
      case "bucket" | "year" | "month" | "hour" => Some(IntegerType)
      case "day" => Some(DateType)
      case _ => None
    }
  }

  /** Avro slot type for a positional tuple field; None = unsupported →
    * name-keyed fallback. Dates write their epoch-day ordinal as an int
    * carrying the `date` logical type (the spec's Avro mapping).
    */
  private def avroSlot(dt: org.apache.spark.sql.types.DataType): Option[Schema] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType =>
        Some(Schema.create(Schema.Type.INT))
      case DateType => Some(org.apache.avro.LogicalTypes.date()
        .addToSchema(Schema.create(Schema.Type.INT)))
      case LongType => Some(Schema.create(Schema.Type.LONG))
      case StringType => Some(Schema.create(Schema.Type.STRING))
      case BooleanType => Some(Schema.create(Schema.Type.BOOLEAN))
      case DoubleType => Some(Schema.create(Schema.Type.DOUBLE))
      case FloatType => Some(Schema.create(Schema.Type.FLOAT))
      case _ => None
    }
  }

  /** Parse the catalog's string-rendered tuple value into the typed slot.
    * None = unparseable (the WHOLE manifest falls back — half a typed
    * tuple would misdescribe the file).
    */
  private[sources] def slotValue(
      dt: org.apache.spark.sql.types.DataType, s: String): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType => s.toIntOption
      case DateType => s.toIntOption.orElse(
        try Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
        catch { case _: RuntimeException => None })
      case LongType => s.toLongOption
      case StringType => Some(s)
      case BooleanType => s.toBooleanOption
      case DoubleType => s.toDoubleOption
      case FloatType => s.toFloatOption
      case _ => None
    }
  }

  /** The spec-exact POSITIONAL partition record schema for `fields`
    * (nullable slots, spec field-ids 1000+i), or None when any field's
    * shape is untypeable.
    */
  private def positionalPartitionSchema(
      fields: Seq[PartitionFieldSpec]): Option[Schema] = try {
    val slots = fields.map(f =>
      resultType(f.transform, f.sourceType).flatMap(avroSlot))
    if (fields.isEmpty || !slots.forall(_.isDefined)) None
    else {
      var b = SchemaBuilder.record("r102").fields()
      fields.zip(slots).foreach { case (f, Some(slot)) =>
        b = b.name(f.name).`type`(
          Schema.createUnion(Schema.create(Schema.Type.NULL), slot))
          .withDefault(null)
      case _ => () // unreachable: forall(isDefined) above
      }
      val rec = b.endRecord()
      fields.zipWithIndex.foreach { case (f, i) =>
        rec.getField(f.name).addProp("field-id", (1000 + i): Integer)
      }
      Some(rec)
    }
  } catch {
    // a spec field name Avro rejects (dashes, leading digits — legal in
    // Iceberg specs) falls back to the name-keyed dialect, where the
    // name is a string VALUE; the export must never crash over it
    case _: org.apache.avro.SchemaParseException => None
  }

  /** The name-keyed tuple dialect (this library's historical write shape
    * and the universal fallback): name + producing transform + value
    * string (null value = null partition slot).
    */
  private val NameKeyedPartitionSchema: Schema =
    SchemaBuilder.array().items(
      SchemaBuilder.record("partition_field").fields()
        .requiredString("name")
        .name("transform").`type`().optional().stringType()
        .name("value").`type`().optional().stringType()
        .endRecord())

  private def mkEntrySchema(partitionSchema: Schema): Schema = {
    val bin = Schema.create(Schema.Type.BYTES)
    val lng = Schema.create(Schema.Type.LONG)
    val nulls = kvSchema("null_count_kv", lng)
    val lowers = kvSchema("lower_bound_kv", bin)
    val uppers = kvSchema("upper_bound_kv", bin)
    stampKv(nulls, 121, 122)
    stampKv(lowers, 126, 127)
    stampKv(uppers, 129, 130)
    val dataFile = stampFieldIds(
      SchemaBuilder.record("data_file").fields()
        .name("content").`type`().intType().intDefault(ContentData)
        .requiredString("file_path")
        .requiredString("file_format")
        // no default: reads are dynamic (writer schema), so defaults
        // never apply, and a record-typed partition has no list default
        .name("partition").`type`(partitionSchema).noDefault()
        .requiredLong("record_count")
        .requiredLong("file_size_in_bytes")
        .name("null_value_counts").`type`(nulls).noDefault()
        .name("lower_bounds").`type`(lowers).noDefault()
        .name("upper_bounds").`type`(uppers).noDefault()
        .name("equality_ids").`type`().array().items().intType()
        .arrayDefault(java.util.Collections.emptyList[Integer]())
        .name("first_row_id").`type`().optional().longType()
        .name("referenced_data_file").`type`().optional().stringType()
        .name("content_offset").`type`().optional().longType()
        .name("content_size_in_bytes").`type`().optional().longType()
        .endRecord(),
      Map("content" -> 134, "file_path" -> 100, "file_format" -> 101,
        "partition" -> 102, "record_count" -> 103,
        "file_size_in_bytes" -> 104, "null_value_counts" -> 110,
        "lower_bounds" -> 125, "upper_bounds" -> 128,
        "equality_ids" -> 135, "first_row_id" -> 142,
        "referenced_data_file" -> 143, "content_offset" -> 144,
        "content_size_in_bytes" -> 145))
    stampFieldIds(
      SchemaBuilder.record("manifest_entry").fields()
        .requiredInt("status")
        .name("snapshot_id").`type`().optional().longType()
        // v3 additions default so pre-round-15 manifests resolve cleanly
        .name("sequence_number").`type`().longType().longDefault(0L)
        .name("data_file").`type`(dataFile).noDefault()
        .endRecord(),
      Map("status" -> 0, "snapshot_id" -> 1, "sequence_number" -> 3,
        "data_file" -> 2))
  }

  /** The name-keyed-dialect entry schema (the default write shape when no
    * positional spec is supplied).
    */
  private val EntrySchema: Schema = mkEntrySchema(NameKeyedPartitionSchema)

  /** Manifest-list rows (spec "Manifest Lists", v2 required fields +
    * v3 `first_row_id`).
    */
  private val ListSchema: Schema =
    stampFieldIds(
      SchemaBuilder.record("manifest_file").fields()
        .requiredString("manifest_path")
        .requiredLong("manifest_length")
        .requiredInt("partition_spec_id")
        .name("content").`type`().intType().intDefault(0)
        .name("sequence_number").`type`().longType().longDefault(0L)
        .name("min_sequence_number").`type`().longType().longDefault(0L)
        .requiredLong("added_snapshot_id")
        .requiredInt("added_files_count")
        .requiredInt("existing_files_count")
        .requiredInt("deleted_files_count")
        .requiredLong("added_rows_count")
        .requiredLong("existing_rows_count")
        .requiredLong("deleted_rows_count")
        .name("first_row_id").`type`().optional().longType()
        .endRecord(),
      Map("manifest_path" -> 500, "manifest_length" -> 501,
        "partition_spec_id" -> 502, "content" -> 517,
        "sequence_number" -> 515, "min_sequence_number" -> 516,
        "added_snapshot_id" -> 503, "added_files_count" -> 504,
        "existing_files_count" -> 505, "deleted_files_count" -> 506,
        "added_rows_count" -> 512, "existing_rows_count" -> 513,
        "deleted_rows_count" -> 514, "first_row_id" -> 520))

  /** Resolve each stats column to its field id via the written schema's
    * `parquet.field.id` metadata. Id-less fields fall back to NEGATIVE
    * positions `-(i+1)`: a positive fallback could collide with another
    * field's REAL id (e.g. a gap left by a dropped column), silently
    * crossing bounds between columns on read. Write and read share the
    * convention, so round-trips stay exact.
    */
  private def idFor(schema: StructType, name: String): Int =
    schema.fields.zipWithIndex.collectFirst {
      case (f, i) if f.name == name =>
        FieldIds.idOf(f).getOrElse(-(i + 1))
    }.getOrElse(throw new IllegalArgumentException(s"no field '$name' in schema"))

  def write(
      path: String,
      entries: Seq[ManifestEntry],
      schema: StructType,
      conf: org.apache.hadoop.conf.Configuration =
        CompactionRunner.defaultHadoopConf(),
      partitionFields: Seq[PartitionFieldSpec] = Nil): Unit = {
    // SPEC-EXACT positional tuples when a partition spec is supplied and
    // every entry's every tuple value parses into its typed slot —
    // otherwise the name-keyed dialect (all-or-nothing per manifest:
    // half a typed tuple would misdescribe files to a stock reader)
    val positional: Option[Schema] =
      positionalPartitionSchema(partitionFields).filter { _ =>
        val names = partitionFields.map(_.name).toSet
        entries.forall(e =>
          // tuples from an EVOLVED-AWAY spec (keys the current spec lacks)
          // keep the name-keyed dialect — a positional write would null
          // them out and lose their pruning on re-import
          e.partitionVals.keySet.subsetOf(names) &&
            // ...and every entry must carry a COMPLETE tuple whose
            // RECORDED transform matches the declared spec field exactly.
            // Two hazards hide behind anything weaker: (a) an entry with
            // NO tuple (delete files; pre-evolution data files) would
            // serialize all-null — a stock reader scopes deletes by
            // tuple, so a null-scoped delete silently stops applying;
            // (b) a REPLACEd transform that kept its field name
            // (bucket[4] -> bucket[8], the GraftCatalog.scala dynamic-
            // overwrite hazard) parses fine as an int but means a
            // DIFFERENT bucketing — a stock reader pruning on the
            // declared transform would silently skip matching files.
            partitionFields.forall { f =>
              val transformMatches = e.partitionTransforms.get(f.name)
                .contains(s"${f.transform}|${f.sourceName}")
              transformMatches && (e.partitionVals.get(f.name) match {
                case Some(null) => true // an explicitly-null slot is legal
                case Some(v) => resultType(f.transform, f.sourceType)
                  .exists(t => slotValue(t, v).isDefined)
                case None => false // incomplete tuple -> name-keyed
              })
            })
      }
    val entrySch = positional.fold(EntrySchema)(mkEntrySchema)
    val dfSchema = entrySch.getField("data_file").schema()
    // type + physical Iceberg annotation (uuid/fixed — lossy Spark
    // mappings whose bound bytes differ from the Spark type's)
    val typeOf: Map[String, (org.apache.spark.sql.types.DataType, Option[String])] =
      schema.fields.map(f => f.name -> (f.dataType, FieldIds.physicalOf(f))).toMap
    // null counts ride as longs; BOUNDS serialize per the spec's binary
    // single-value encoding for the column's type ([[IcebergSingleValue]])
    // — a bound whose type can't encode (or whose column left the schema)
    // DROPS, never corrupts: bounds are a pruning optimization
    def kvRecords(field: String, m: Map[String, Any]): java.util.List[GenericRecord] = {
      val binary = field != "null_value_counts"
      m.toSeq.sortBy(_._1).flatMap { case (col, v) =>
        val value: Option[Any] =
          if (!binary) Some(v)
          else typeOf.get(col)
            .flatMap { case (t, phys) =>
              IcebergSingleValue.encode(t, String.valueOf(v), phys)
            }
            .map(java.nio.ByteBuffer.wrap)
        value.map { vv =>
          val r = new GenericData.Record(
            dfSchema.getField(field).schema().getElementType)
          r.put("key", idFor(schema, col))
          r.put("value", vv)
          r: GenericRecord
        }
      }.asJava
    }
    val partSchema = dfSchema.getField("partition").schema()
    def partitionValue(e: ManifestEntry): AnyRef = positional match {
      case Some(rec) =>
        val r = new GenericData.Record(rec)
        partitionFields.foreach { f =>
          val typed = for {
            v <- e.partitionVals.get(f.name) if v != null
            t <- resultType(f.transform, f.sourceType)
            tv <- slotValue(t, v)
          } yield tv
          r.put(f.name, typed.map(_.asInstanceOf[AnyRef]).orNull)
        }
        r
      case None =>
        val partElem = partSchema.getElementType
        e.partitionVals.toSeq.sortBy(_._1).map { case (name, v) =>
          val r = new GenericData.Record(partElem)
          r.put("name", name)
          r.put("transform", e.partitionTransforms.get(name).orNull)
          r.put("value", v) // null stays null (a null partition slot)
          r: GenericRecord
        }.asJava
    }
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySch))
    // scheme-aware: the manifest must land wherever the data files did
    val hp = new org.apache.hadoop.fs.Path(path)
    w.create(entrySch, hp.getFileSystem(conf).create(hp, true))
    try entries.foreach { e =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", e.content)
      df.put("file_path", e.file.path)
      df.put("file_format", e.format)
      df.put("partition", partitionValue(e))
      df.put("record_count", e.file.recordCount)
      df.put("file_size_in_bytes", e.file.sizeBytes)
      df.put("null_value_counts", kvRecords("null_value_counts", e.file.nullCounts))
      df.put("lower_bounds", kvRecords("lower_bounds", e.file.colMins))
      df.put("upper_bounds", kvRecords("upper_bounds", e.file.colMaxs))
      df.put("equality_ids",
        e.equalityIds.map(Integer.valueOf).asJava)
      df.put("first_row_id",
        e.firstRowId.map(java.lang.Long.valueOf).orNull)
      df.put("referenced_data_file", e.referencedDataFile.orNull)
      df.put("content_offset",
        e.contentOffset.map(java.lang.Long.valueOf).orNull)
      df.put("content_size_in_bytes",
        e.contentSizeInBytes.map(java.lang.Long.valueOf).orNull)
      val rec = new GenericData.Record(entrySch)
      rec.put("status", e.status)
      rec.put("snapshot_id", e.snapshotId.map(java.lang.Long.valueOf).orNull)
      rec.put("sequence_number", e.sequenceNumber)
      rec.put("data_file", df)
      w.append(rec)
    } finally w.close()
  }

  // ---- dynamic (writer-schema) reading ------------------------------------
  // The read side resolves every field BY NAME against the file's own
  // embedded writer schema, not a fixed expected schema: manifests written
  // by THIS library (any round — string bounds pre-r16, bytes after),
  // and spec-shaped manifests written by STOCK Iceberg writers (binary
  // single-value bounds, positional partition structs typed by the spec,
  // extra fields like value_counts/split_offsets/sort_order_id) all
  // decode through one path. Unknown extra fields are simply never asked
  // for; absent fields fill their documented defaults.

  private def field(g: GenericRecord, n: String): Option[AnyRef] =
    if (g.getSchema.getField(n) == null) None else Option(g.get(n))

  private def optLongF(g: GenericRecord, n: String): Option[Long] =
    field(g, n).collect { case x: Number => x.longValue }

  private def optIntF(g: GenericRecord, n: String): Option[Int] =
    field(g, n).collect { case x: Number => x.intValue }

  private def optStrF(g: GenericRecord, n: String): Option[String] =
    field(g, n).map(_.toString)

  private def bytesOf(bb: java.nio.ByteBuffer): Array[Byte] = {
    val b = new Array[Byte](bb.remaining())
    bb.duplicate().get(b)
    b
  }

  /** Read a manifest back into entries, resolving field ids to names (and
    * binary bounds to this catalog's string renderings) via `schema` —
    * the inverse of [[write]], and the structure
    * [[CompactionRunner.pruneByStats]] consumes. `inheritedSeq` fills
    * entries whose `sequence_number` is null/absent — the spec's
    * sequence-number INHERITANCE from the manifest-list row (stock
    * writers rely on it; this library always stamps explicit numbers).
    */
  def read(
      path: String,
      schema: StructType,
      conf: org.apache.hadoop.conf.Configuration =
        CompactionRunner.defaultHadoopConf(),
      inheritedSeq: Long = 0L): Seq[ManifestEntry] = {
    val idToName: Map[Int, String] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        FieldIds.idOf(f).getOrElse(-(i + 1)) -> f.name
      }.toMap
    val typeOfId
        : Map[Int, (org.apache.spark.sql.types.DataType, Option[String])] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        FieldIds.idOf(f).getOrElse(-(i + 1)) ->
          (f.dataType, FieldIds.physicalOf(f))
      }.toMap
    val r = openReader(path, conf)
    try r.iterator().asScala.map { rec =>
      val df = rec.get("data_file").asInstanceOf[GenericRecord]
      // k/v maps arrive as arrays of {key, value} records (both dialects)
      // or genuine Avro maps (string keys = rendered ids) — normalize
      def kvPairs(name: String): Seq[(Int, AnyRef)] = field(df, name) match {
        case Some(l: java.util.List[_]) =>
          l.asScala.toSeq.collect { case e: GenericRecord =>
            (e.get("key").asInstanceOf[Number].intValue, e.get("value"))
          }
        case Some(m: java.util.Map[_, _]) =>
          m.asScala.toSeq.flatMap { case (k, v) =>
            k.toString.toIntOption.map(_ -> v.asInstanceOf[AnyRef])
          }
        case _ => Nil
      }
      // a field id the schema can't resolve (a foreign manifest's bounds
      // for a since-dropped column), a bound whose bytes can't decode for
      // the column's type, or a null value DROPS: bounds and counts are a
      // pruning optimization, and every pruning consumer treats absence
      // as "cannot skip" — failing the whole read over them would make
      // dropped-column history unimportable
      def bounds(name: String): Map[String, String] =
        kvPairs(name).flatMap { case (id, v) =>
          val rendered = v match {
            case null => None
            case bb: java.nio.ByteBuffer =>
              typeOfId.get(id).flatMap { case (t, phys) =>
                IcebergSingleValue.decode(t, bytesOf(bb), phys)
              }
            case other => Some(other.toString) // pre-r16 string bounds
          }
          for (n <- idToName.get(id); s <- rendered) yield n -> s
        }.toMap
      val nulls = kvPairs("null_value_counts").flatMap { case (id, v) =>
        for (n <- idToName.get(id); c <- Option(v).collect {
          case x: Number => x.longValue
        }) yield n -> c
      }.toMap
      // partition: this library's name-keyed {name, transform, value}
      // array, or a stock POSITIONAL struct whose field names are the
      // partition field names (values stringify; transforms unknown —
      // such tuples are simply never pruned by transform projection)
      val partition: Seq[(String, Option[String], Option[String])] =
        field(df, "partition") match {
          case Some(l: java.util.List[_]) =>
            l.asScala.toSeq.collect { case p: GenericRecord =>
              (p.get("name").toString,
                Option(p.get("transform")).map(_.toString),
                Option(p.get("value")).map(_.toString))
            }
          case Some(g: GenericRecord) =>
            g.getSchema.getFields.asScala.toSeq.map { f =>
              (f.name, None, Option(g.get(f.name)).map(_.toString))
            }
          case _ => Nil
        }
      ManifestEntry(
        status = optIntF(rec, "status").getOrElse(StatusAdded),
        file = DataFileStats(
          path = optStrF(df, "file_path").getOrElse(
            throw new IllegalArgumentException(
              s"$path: manifest entry without data_file.file_path")),
          sizeBytes = optLongF(df, "file_size_in_bytes").getOrElse(-1L),
          recordCount = optLongF(df, "record_count").getOrElse(-1L),
          colMins = bounds("lower_bounds"),
          colMaxs = bounds("upper_bounds"),
          nullCounts = nulls),
        format = optStrF(df, "file_format").getOrElse("parquet"),
        content = optIntF(df, "content").getOrElse(ContentData),
        sequenceNumber = optLongF(rec, "sequence_number").getOrElse(inheritedSeq),
        equalityIds = field(df, "equality_ids") match {
          case Some(l: java.util.List[_]) =>
            l.asScala.toSeq.collect { case n: Number => n.intValue }
          case _ => Nil
        },
        referencedDataFile = optStrF(df, "referenced_data_file"),
        contentOffset = optLongF(df, "content_offset"),
        contentSizeInBytes = optLongF(df, "content_size_in_bytes"),
        snapshotId = optLongF(rec, "snapshot_id"),
        firstRowId = optLongF(df, "first_row_id"),
        partitionVals = partition.map(p => p._1 -> p._3.orNull).toMap,
        partitionTransforms =
          partition.collect { case (n, Some(t), _) => n -> t }.toMap)
    }.toList
    finally r.close()
  }

  /** Write a manifest list — the hop between a snapshot's `manifest-list`
    * pointer in `metadata.json` and its manifests.
    */
  def writeList(
      path: String,
      manifests: Seq[ManifestFile],
      conf: org.apache.hadoop.conf.Configuration =
        CompactionRunner.defaultHadoopConf()): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](ListSchema))
    val hp = new org.apache.hadoop.fs.Path(path)
    w.create(ListSchema, hp.getFileSystem(conf).create(hp, true))
    try manifests.foreach { m =>
      val rec = new GenericData.Record(ListSchema)
      rec.put("manifest_path", m.manifestPath)
      rec.put("manifest_length", m.manifestLength)
      rec.put("partition_spec_id", m.partitionSpecId)
      rec.put("content", m.content)
      rec.put("sequence_number", m.sequenceNumber)
      rec.put("min_sequence_number", m.minSequenceNumber)
      rec.put("added_snapshot_id", m.addedSnapshotId)
      rec.put("added_files_count", m.addedFilesCount)
      rec.put("existing_files_count", m.existingFilesCount)
      rec.put("deleted_files_count", m.deletedFilesCount)
      rec.put("added_rows_count", m.addedRowsCount)
      rec.put("existing_rows_count", m.existingRowsCount)
      rec.put("deleted_rows_count", m.deletedRowsCount)
      rec.put("first_row_id", m.firstRowId.map(java.lang.Long.valueOf).orNull)
      w.append(rec)
    } finally w.close()
  }

  /** Read a manifest list back — the inverse of [[writeList]], dynamic
    * like [[read]]: stock lists decode too, including the v1 field names
    * (`added_data_files_count` family) as fallbacks for the v2 ones.
    */
  def readList(
      path: String,
      conf: org.apache.hadoop.conf.Configuration =
        CompactionRunner.defaultHadoopConf()): Seq[ManifestFile] = {
    val r = openReader(path, conf)
    try r.iterator().asScala.map { rec =>
      def intOr(n: String, v1Name: String, d: Int): Int =
        optIntF(rec, n).orElse(optIntF(rec, v1Name)).getOrElse(d)
      ManifestFile(
        manifestPath = optStrF(rec, "manifest_path").getOrElse(
          throw new IllegalArgumentException(
            s"$path: manifest-list row without manifest_path")),
        manifestLength = optLongF(rec, "manifest_length").getOrElse(-1L),
        partitionSpecId = optIntF(rec, "partition_spec_id").getOrElse(0),
        content = optIntF(rec, "content").getOrElse(0),
        sequenceNumber = optLongF(rec, "sequence_number").getOrElse(0L),
        minSequenceNumber = optLongF(rec, "min_sequence_number").getOrElse(0L),
        addedSnapshotId = optLongF(rec, "added_snapshot_id").getOrElse(-1L),
        addedFilesCount = intOr("added_files_count", "added_data_files_count", 0),
        existingFilesCount =
          intOr("existing_files_count", "existing_data_files_count", 0),
        deletedFilesCount =
          intOr("deleted_files_count", "deleted_data_files_count", 0),
        addedRowsCount = optLongF(rec, "added_rows_count").getOrElse(0L),
        existingRowsCount = optLongF(rec, "existing_rows_count").getOrElse(0L),
        deletedRowsCount = optLongF(rec, "deleted_rows_count").getOrElse(0L),
        firstRowId = optLongF(rec, "first_row_id"))
    }.toList
    finally r.close()
  }

  /** Scheme-aware Avro container reader over a Hadoop FileSystem — a
    * manifest the compactor lands on s3a/hdfs must be readable back
    * through the same FileSystem, not java.io.File. Records decode under
    * the file's own embedded WRITER schema (no expected-schema
    * resolution): the dynamic by-name extraction above is what makes
    * every dialect — ours across rounds, and stock writers' — readable.
    */
  private def openReader(
      path: String,
      conf: org.apache.hadoop.conf.Configuration): DataFileReader[GenericRecord] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(conf)
    val fileLen = fs.getFileStatus(hp).getLen
    val in = fs.open(hp)
    val seekable = new org.apache.avro.file.SeekableInput {
      override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
      override def seek(p: Long): Unit = in.seek(p)
      override def tell(): Long = in.getPos
      override def length(): Long = fileLen
      override def close(): Unit = in.close()
    }
    new DataFileReader(seekable, new GenericDatumReader[GenericRecord]())
  }
}
