package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Iceberg `metadata.json` IMPORT parsing — the inverse of
  * [[IcebergMetadataJson]] and the upstream half of the reference's
  * runtime: load a table OTHER writers produced (the reference's
  * `Catalog::load_table` + delete-file-processing snapshot scan,
  * `core/src/compaction/mod.rs:44,90-171`, both served by `iceberg-rust`'s
  * metadata reader). This object parses the table-metadata DOCUMENT into
  * typed structures; [[GraftCatalog.importTable]] walks the manifest chain
  * it names and registers the result as a mountable, MoR-readable table.
  *
  * The parser accepts spec-shaped v1/v2/v3 documents (fields per the
  * public Iceberg table spec, "Table Metadata"). The downstream manifest
  * walk additionally expects manifests matching [[IcebergManifest]]'s
  * documented deviations (string-rendered bounds, name-keyed partition
  * tuples), i.e. chains this library's exporter wrote — a stock binary
  * manifest fails loudly at the Avro resolution step, never silently.
  */
object IcebergImport {

  /** One partition-spec field, UNBOUND (source referenced by field id —
    * binding to a column name needs a schema, and the right schema is the
    * SNAPSHOT's, resolved during the manifest walk).
    */
  final case class RawSpecField(name: String, transform: String, sourceId: Int)

  /** One snapshot reference from the document's `snapshots` array.
    * `sequenceNumber` is absent on v1 documents (the field is v2+) —
    * lineage ordering must then fall back to `timestampMs`, v1's only
    * ordering signal. `parentSnapshotId` is the spec's ancestry pointer;
    * when present it defines the main lineage exactly (a rolled-back
    * snapshot is NOT an ancestor of the current head even if its
    * sequence number is smaller).
    */
  final case class SnapshotRef(
      snapshotId: Long,
      sequenceNumber: Option[Long],
      timestampMs: Long,
      manifestList: String,
      schemaId: Option[Long],
      operation: String,
      parentSnapshotId: Option[Long] = None)

  /** The parsed table-metadata document — everything
    * [[GraftCatalog.importTable]] needs to rebuild the snapshot chain.
    */
  final case class TableMetadata(
      formatVersion: Int,
      tableUuid: Option[String],
      location: String,
      lastColumnId: Int,
      schemas: Seq[(Long, StructType)],
      currentSchemaId: Long,
      partitionFields: Seq[GraftCatalog.PartitionFieldDef],
      // EVERY declared spec by spec-id, unbound — the manifest walk fills
      // per-file transform bindings from the manifest's own spec id
      specsById: Map[Int, Seq[RawSpecField]],
      sortColumns: Seq[String],
      currentSnapshotId: Option[Long],
      snapshots: Seq[SnapshotRef],
      properties: Map[String, String],
      // tag name → FOREIGN snapshot id (type "tag" refs, 'main' excluded)
      tags: Map[String, Long],
      // branch name → FOREIGN snapshot id (type "branch" refs other than
      // main — WAP-style staged state; [[GraftCatalog.importTable]]
      // registers each as a `table@branch` fork when the target snapshot
      // is importable)
      branches: Map[String, Long] = Map.empty,
      // the spec's `statistics` entries: (FOREIGN snapshot id, Puffin
      // path, file size, footer size) — adopted by reference on import
      statistics: Seq[(Long, String, Long, Long)] = Nil,
      // `partition-statistics` entries: (FOREIGN snapshot id, path, size)
      partitionStatistics: Seq[(Long, String, Long)] = Nil)

  private val mapper = new ObjectMapper

  /** The MAIN LINEAGE to import, oldest-first: the snapshots that are
    * ancestors of `current-snapshot-id`. Preference order:
    *
    *   1. `parent-snapshot-id` walk (when the document carries ancestry
    *      pointers) — the spec's exact definition. A rolled-back snapshot
    *      whose sequence number happens to sort below the head is NOT on
    *      the walk and does not import. The walk stops at a parent that is
    *      no longer in `snapshots` (expired history — the spec allows a
    *      parent pointer to a removed snapshot).
    *   2. Sequence-number order (v2+ documents without parent pointers,
    *      e.g. this library's pre-round-17 exports), snapshots at or
    *      before the head's position.
    *   3. Timestamp order (v1 documents carry NO sequence numbers — a
    *      snapshot-id sort would be random, silently excluding older
    *      snapshots whose ids sort above the head's).
    *
    * Throws when the head is not present in `snapshots` at all.
    */
  def mainLineage(meta: TableMetadata, where: String = "<doc>"): Seq[SnapshotRef] = {
    val head = meta.currentSnapshotId.getOrElse(throw GraftError.Metadata(
      s"$where has no current snapshot to import"))
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val headRef = byId.getOrElse(head, throw GraftError.Metadata(
      s"$where: current-snapshot-id $head is not in 'snapshots'"))
    if (meta.snapshots.exists(_.parentSnapshotId.isDefined)) {
      // ancestry walk; cycle-guarded (a malformed document must not hang)
      val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
      var cur: Option[SnapshotRef] = Some(headRef)
      while (cur.isDefined && seen.add(cur.get.snapshotId))
        cur = cur.get.parentSnapshotId.flatMap(byId.get)
      seen.toSeq.reverse.map(byId)
    } else {
      val ordered =
        if (meta.snapshots.forall(_.sequenceNumber.isDefined))
          meta.snapshots.sortBy(s => (s.sequenceNumber.get, s.snapshotId))
        else meta.snapshots.sortBy(s => (s.timestampMs, s.snapshotId))
      ordered.take(ordered.indexWhere(_.snapshotId == head) + 1)
    }
  }

  /** Read and parse a `metadata.json` through the Hadoop FileSystem for
    * its scheme — a document on s3/wasb/gs imports exactly like a local
    * one (the reference's deployment shape: catalog pointer + object-store
    * FileIO). Size-capped: table metadata is KB–MB sized; a multi-GB
    * "document" is a wrong path, not a big table.
    */
  def read(
      metadataLocation: String,
      conf: org.apache.hadoop.conf.Configuration =
        CompactionRunner.defaultHadoopConf()): TableMetadata = {
    val hp = new org.apache.hadoop.fs.Path(metadataLocation)
    val fs = hp.getFileSystem(conf)
    val len = fs.getFileStatus(hp).getLen
    if (len > (64L << 20))
      throw GraftError.Metadata(
        s"$metadataLocation is ${len} bytes — not a table-metadata document")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(hp)
    try in.readFully(0, buf) finally in.close()
    parse(new String(buf, java.nio.charset.StandardCharsets.UTF_8),
      metadataLocation)
  }

  /** Parse a table-metadata document (already in memory). */
  def parse(json: String, where: String = "<inline>"): TableMetadata = {
    val root =
      try mapper.readTree(json)
      catch {
        case e: Exception =>
          throw GraftError.Metadata(s"$where is not JSON: ${e.getMessage}")
      }
    if (root == null || !root.isObject)
      throw GraftError.Metadata(s"$where is not a JSON object")
    def opt(name: String): Option[JsonNode] =
      Option(root.get(name)).filterNot(_.isNull)
    val version = opt("format-version").map(_.asInt).getOrElse(
      throw GraftError.Metadata(s"$where lacks 'format-version'"))
    if (version < 1 || version > 3)
      throw GraftError.Metadata(
        s"$where declares format-version $version (supported: 1–3)")

    // schemas: v2/v3 `schemas` array; v1 documents may carry a single
    // bare `schema` (assigned schema-id 0 per spec migration rules)
    val schemas: Seq[(Long, StructType)] = opt("schemas") match {
      case Some(arr) if arr.isArray =>
        arr.elements().asScala.toSeq.map { s =>
          val sid = Option(s.get("schema-id")).map(_.asLong).getOrElse(
            throw GraftError.Metadata(s"$where: schema without 'schema-id'"))
          sid -> parseStruct(s, where)
        }
      case _ =>
        opt("schema").toSeq.map(s => 0L -> parseStruct(s, where))
    }
    val currentSchemaId = opt("current-schema-id").map(_.asLong)
      .orElse(schemas.lastOption.map(_._1)).getOrElse(0L)
    val currentSchema = schemas.collectFirst {
      case (id, s) if id == currentSchemaId => s
    }

    // every declared partition spec, UNBOUND (spec-id → raw fields); a
    // spec with a malformed field drops whole (can't trust half a spec)
    val defaultSpecId = opt("default-spec-id").map(_.asInt).getOrElse(0)
    def specFields(fieldsNode: JsonNode): Seq[RawSpecField] = {
      val fields = fieldsNode.elements().asScala.toSeq.flatMap { f =>
        for {
          name <- Option(f.get("name")).map(_.asText)
          transform <- Option(f.get("transform")).map(_.asText)
          sourceId <- Option(f.get("source-id")).map(_.asInt)
        } yield RawSpecField(name, transform, sourceId)
      }
      if (fields.length == fieldsNode.elements().asScala.size) fields else Nil
    }
    val declaredSpecs: Map[Int, Seq[RawSpecField]] =
      opt("partition-specs").filter(_.isArray).toSeq
        .flatMap(_.elements().asScala).flatMap { spec =>
          for {
            sid <- Option(spec.get("spec-id")).map(_.asInt)
            fieldsNode <- Option(spec.get("fields")).filter(_.isArray)
          } yield sid -> specFields(fieldsNode)
        }.filter(_._2.nonEmpty).toMap
    // v1's deprecated bare `partition-spec` (a flat field array, no
    // spec-id wrapper): per the spec's v1→v2 migration rules it becomes
    // spec 0. Only consulted when no `partition-specs` array binds —
    // a v1-only document would otherwise import unpartitioned and lose
    // pruning on every file.
    val specsById: Map[Int, Seq[RawSpecField]] =
      if (declaredSpecs.nonEmpty) declaredSpecs
      else opt("partition-spec").filter(_.isArray)
        .map(specFields).filter(_.nonEmpty).map(0 -> _).toMap
    // the DEFAULT spec additionally binds to the CURRENT schema (it
    // becomes the imported table's declared spec); all-or-nothing — a
    // partially-bound spec would misdescribe the layout
    val partitionFields: Seq[GraftCatalog.PartitionFieldDef] =
      specsById.get(defaultSpecId).toSeq.flatMap { fields =>
        val bound = fields.flatMap(f =>
          currentSchema.flatMap(FieldIds.nameById(_, f.sourceId))
            .map(src => GraftCatalog.PartitionFieldDef(f.name, f.transform, src)))
        if (bound.length == fields.length) bound else Nil
      }

    // default sort order: only the shape this catalog declares (identity
    // transform over schema columns) imports; anything else → no declared
    // order (metadata-only intent — never affects correctness)
    val defaultOrderId = opt("default-sort-order-id").map(_.asInt).getOrElse(0)
    val sortColumns: Seq[String] =
      if (defaultOrderId == 0) Nil
      else (for {
        orders <- opt("sort-orders").filter(_.isArray).toSeq
        order <- orders.elements().asScala
        if Option(order.get("order-id")).exists(_.asInt == defaultOrderId)
        fieldsNode <- Option(order.get("fields")).filter(_.isArray).toSeq
      } yield {
        val cols = fieldsNode.elements().asScala.toSeq.flatMap { f =>
          val identity =
            Option(f.get("transform")).map(_.asText).contains("identity")
          if (!identity) None
          else Option(f.get("source-id")).map(_.asInt)
            .flatMap(id => currentSchema.flatMap(FieldIds.nameById(_, id)))
        }
        val declared = fieldsNode.elements().asScala.size
        if (cols.length == declared) cols else Nil
      }).flatten

    val snapshots = opt("snapshots").filter(_.isArray).toSeq
      .flatMap(_.elements().asScala).map { s =>
        val sid = Option(s.get("snapshot-id")).map(_.asLong).getOrElse(
          throw GraftError.Metadata(s"$where: snapshot without 'snapshot-id'"))
        val list = Option(s.get("manifest-list")).map(_.asText).getOrElse(
          throw GraftError.Metadata(
            s"$where: snapshot $sid lacks 'manifest-list'"))
        SnapshotRef(
          snapshotId = sid,
          sequenceNumber =
            Option(s.get("sequence-number")).filterNot(_.isNull).map(_.asLong),
          timestampMs =
            Option(s.get("timestamp-ms")).map(_.asLong).getOrElse(0L),
          manifestList = list,
          schemaId = Option(s.get("schema-id")).map(_.asLong),
          operation = Option(s.get("summary"))
            .flatMap(n => Option(n.get("operation"))).map(_.asText)
            .getOrElse("append"),
          parentSnapshotId = Option(s.get("parent-snapshot-id"))
            .filterNot(_.isNull).map(_.asLong).filter(_ >= 0))
      }

    val props = opt("properties").filter(_.isObject).map { p =>
      p.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }.getOrElse(Map.empty[String, String])

    def refsOfType(t: String): Map[String, Long] =
      opt("refs").filter(_.isObject).map { r =>
        r.fields().asScala.flatMap { e =>
          val matches =
            Option(e.getValue.get("type")).map(_.asText).contains(t)
          val sid = Option(e.getValue.get("snapshot-id")).map(_.asLong)
          if (matches && e.getKey != "main") sid.map(e.getKey -> _) else None
        }.toMap
      }.getOrElse(Map.empty[String, Long])
    val tags = refsOfType("tag")
    val branches = refsOfType("branch")

    // statistics pointers travel BY REFERENCE (like data files); a
    // malformed entry drops — stats are planner estimates, never a
    // correctness input
    val statistics = opt("statistics").filter(_.isArray).toSeq
      .flatMap(_.elements().asScala).flatMap { s =>
        for {
          sid <- Option(s.get("snapshot-id")).map(_.asLong)
          p <- Option(s.get("statistics-path")).map(_.asText).filter(_.nonEmpty)
        } yield (sid, p,
          Option(s.get("file-size-in-bytes")).map(_.asLong).getOrElse(-1L),
          Option(s.get("file-footer-size-in-bytes")).map(_.asLong)
            .getOrElse(-1L))
      }
    val partitionStatistics =
      opt("partition-statistics").filter(_.isArray).toSeq
        .flatMap(_.elements().asScala).flatMap { s =>
          for {
            sid <- Option(s.get("snapshot-id")).map(_.asLong)
            p <- Option(s.get("statistics-path")).map(_.asText)
              .filter(_.nonEmpty)
          } yield (sid, p,
            Option(s.get("file-size-in-bytes")).map(_.asLong).getOrElse(-1L))
        }

    TableMetadata(
      formatVersion = version,
      tableUuid = opt("table-uuid").map(_.asText).filter(_.nonEmpty),
      location = opt("location").map(_.asText).getOrElse(""),
      lastColumnId = opt("last-column-id").map(_.asInt).getOrElse(0),
      schemas = schemas,
      currentSchemaId = currentSchemaId,
      partitionFields = partitionFields,
      specsById = specsById,
      sortColumns = sortColumns,
      currentSnapshotId =
        opt("current-snapshot-id").map(_.asLong).filter(_ >= 0),
      snapshots = snapshots,
      properties = props,
      tags = tags,
      branches = branches,
      statistics = statistics,
      partitionStatistics = partitionStatistics)
  }

  /** An Iceberg struct schema node → Spark StructType with every field id
    * preserved as `parquet.field.id` metadata at every nesting depth — the
    * column identity all id-driven resolution (eq-delete binding, rename
    * robustness) keys on after import.
    */
  private[sources] def parseStruct(node: JsonNode, where: String): StructType = {
    if (Option(node.get("type")).map(_.asText).getOrElse("") != "struct")
      throw GraftError.Metadata(s"$where: schema is not an Iceberg struct")
    val fields = Option(node.get("fields")).filter(_.isArray).toSeq
      .flatMap(_.elements().asScala).map { f =>
        val name = Option(f.get("name")).map(_.asText).getOrElse(
          throw GraftError.Metadata(s"$where: schema field without 'name'"))
        val required = Option(f.get("required")).exists(_.asBoolean)
        val typeNode = Option(f.get("type")).getOrElse(
          throw GraftError.Metadata(
            s"$where: field '$name' lacks a 'type'"))
        val dt = parseType(typeNode, where, name)
        val mb = new MetadataBuilder()
        Option(f.get("id")).map(_.asLong)
          .foreach(id => mb.putLong(FieldIds.MetaKey, id))
        // the types whose Spark mapping is lossy keep their PHYSICAL name
        // as field metadata — the binary single-value codec branches on it
        // (a uuid bound is 16 BE bytes, not UTF-8) and the exporter
        // renders it back (see [[FieldIds.IcebergTypeKey]])
        if (typeNode.isTextual && lossyMappings.isDefinedAt(typeNode.asText))
          mb.putString(FieldIds.IcebergTypeKey, typeNode.asText)
        StructField(name, dt, nullable = !required, metadata = mb.build())
      }
    StructType(fields)
  }

  /** Iceberg types Spark has no native type for, mapped per the library's
    * documented wire conventions (SURVEY §1.2; proven by q36 and
    * [[graft.wire.WireBridge.toSparkType]]): uuid → canonical string,
    * fixed[n] → binary, time → µs-since-midnight long, the ns timestamps
    * → nanos-from-epoch long (lossless — queries truncate with `div 1000`
    * when µs semantics are wanted, q36's convention).
    */
  private def lossyMappings: PartialFunction[String, DataType] = {
    case "uuid" => StringType
    case "time" => LongType
    case "timestamp_ns" | "timestamptz_ns" => LongType
    case f if f.startsWith("fixed[") && f.endsWith("]") &&
      f.stripPrefix("fixed[").stripSuffix("]").toIntOption.exists(_ > 0) =>
      BinaryType
  }

  /** One Iceberg type node (primitive name string or nested object) →
    * Spark type — the inverse of the exporter's rendering. Unknown types
    * fail loudly: silently mapping one would misdecode every file.
    */
  private def parseType(node: JsonNode, where: String, field: String): DataType =
    if (node.isTextual) node.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "string" => StringType
      case "binary" => BinaryType
      case d if d.startsWith("decimal(") && d.endsWith(")") =>
        d.stripPrefix("decimal(").stripSuffix(")").split(",") match {
          case Array(p, s) => DecimalType(p.trim.toInt, s.trim.toInt)
          case _ => throw GraftError.Metadata(
            s"$where: malformed decimal type '$d' on '$field'")
        }
      case t if lossyMappings.isDefinedAt(t) => lossyMappings(t)
      case other => throw GraftError.Metadata(
        s"$where: unsupported Iceberg type '$other' on '$field'")
    } else if (node.isObject)
      Option(node.get("type")).map(_.asText).getOrElse("") match {
        case "struct" => parseStruct(node, where)
        case "list" =>
          ArrayType(
            parseType(Option(node.get("element")).getOrElse(
              throw GraftError.Metadata(
                s"$where: list type on '$field' lacks 'element'")),
              where, field),
            containsNull =
              !Option(node.get("element-required")).exists(_.asBoolean))
        case "map" =>
          MapType(
            parseType(Option(node.get("key")).getOrElse(
              throw GraftError.Metadata(
                s"$where: map type on '$field' lacks 'key'")), where, field),
            parseType(Option(node.get("value")).getOrElse(
              throw GraftError.Metadata(
                s"$where: map type on '$field' lacks 'value'")), where, field),
            valueContainsNull =
              !Option(node.get("value-required")).exists(_.asBoolean))
        case other => throw GraftError.Metadata(
          s"$where: unsupported nested type '$other' on '$field'")
      }
    else throw GraftError.Metadata(
      s"$where: malformed type node on '$field'")
}
