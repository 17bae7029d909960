package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, MetadataBuilder, StructField, StructType}

/** Field-ID schema discipline (SURVEY §1.3): Iceberg identifies columns by
  * globally numbered field IDs, and projection — eq-delete columns
  * especially — is by ID, not name (`core/src/parser/proto.rs:125,137-142`).
  * Spark's analog is the `parquet.field.id` key in `StructField.metadata`:
  * the parquet writer persists it into the file footer
  * (`spark.sql.parquet.fieldId.write.enabled`, default on) and the reader
  * surfaces it back into the scan schema, so IDs survive a write→read
  * round-trip and column renames between files.
  */
object FieldIds {

  /** Spark's parquet field-id metadata key (ParquetUtils contract). */
  val MetaKey = "parquet.field.id"

  /** Metadata key recording a column's PHYSICAL Iceberg type when the
    * Spark mapping is lossy (SURVEY §1.2's documented conventions:
    * `uuid` → string canonical form, `fixed[n]` → length-n binary,
    * `time` → µs-since-midnight long, `timestamp_ns`/`timestamptz_ns` →
    * nanos-from-epoch long). The annotation is what lets the binary
    * single-value codec encode/decode bounds per the SPEC's byte layout
    * for these types (a uuid bound is 16 big-endian bytes, not UTF-8),
    * and what the exporter renders back so round trips preserve the
    * declared type. Parquet ignores unknown metadata keys — the
    * annotation never changes row encoding.
    */
  val IcebergTypeKey = "graft.iceberg.type"

  def idOf(f: StructField): Option[Int] =
    if (f.metadata.contains(MetaKey)) Some(f.metadata.getLong(MetaKey).toInt)
    else None

  /** The field's physical Iceberg type annotation, if its Spark mapping
    * is lossy (see [[IcebergTypeKey]]).
    */
  def physicalOf(f: StructField): Option[String] =
    if (f.metadata.contains(IcebergTypeKey))
      Some(f.metadata.getString(IcebergTypeKey))
    else None

  /** Name of the field carrying `id`, if any. */
  def nameById(schema: StructType, id: Int): Option[String] =
    schema.fields.find(f => idOf(f).contains(id)).map(_.name)

  /** Every field id the schema carries, at EVERY nesting depth — struct
    * fields inside structs, array elements, map values. Iceberg numbers
    * nested fields from the same global sequence as top-level columns, so
    * uniqueness/resurrection checks and the monotonic mark must see all
    * of them.
    */
  def allIds(schema: StructType): Seq[Int] = {
    def ofType(dt: org.apache.spark.sql.types.DataType): Seq[Int] = dt match {
      case s: StructType => s.fields.toSeq.flatMap(f => idOf(f).toSeq ++ ofType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => ofType(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        ofType(m.keyType) ++ ofType(m.valueType)
      case _ => Nil
    }
    ofType(schema)
  }

  private def withId(m: Metadata, id: Int): Metadata =
    new MetadataBuilder().withMetadata(m).putLong(MetaKey, id.toLong).build()

  /** `f` stamped with exactly `id` (schema-evolution helpers mint fresh
    * ids for ADDED columns; renames keep theirs).
    */
  def withFieldId(f: StructField, id: Int): StructField =
    f.copy(metadata = withId(f.metadata, id))

  /** Stamp sequential 1-based ids onto fields that lack one, at every
    * nesting depth (pre-order: a struct column's own id precedes its
    * children's, Iceberg's numbering); fields that already carry an id
    * keep it.
    */
  def stamp(schema: StructType): StructType = {
    var next = allIds(schema).foldLeft(0)(math.max) // resume after max
    def stampType(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val withIdF =
          if (idOf(f).isDefined) f
          else { next += 1; f.copy(metadata = withId(f.metadata, next)) }
        withIdF.copy(dataType = stampType(withIdF.dataType))
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = stampType(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = stampType(m.valueType))
      case other => other
    }
    stampType(schema).asInstanceOf[StructType]
  }

  /** Re-alias every column with its (possibly freshly stamped) field-id
    * metadata — a pure projection, stays inside whole-stage codegen.
    */
  def withFieldIds(df: DataFrame): DataFrame = {
    val stamped = stamp(df.schema)
    df.select(stamped.fields.map(f => col(f.name).as(f.name, f.metadata)).toSeq: _*)
  }

  /** Drop field-id metadata from every top-level field. A read schema that
    * CARRIES ids demands them from every parquet footer it touches — a
    * table whose generations mix id-stamped files (compaction outputs)
    * with id-less ones (plain appends against a schema-less catalog) then
    * fails to scan. Stripping the ids switches the whole read to name
    * resolution, the documented fallback when no canonical schema governs.
    */
  def stripIds(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(MetaKey)) f
      else {
        val kept = new MetadataBuilder().withMetadata(f.metadata)
          .remove(MetaKey).build()
        f.copy(metadata = kept)
      }
    })

  /** Align a WRITE schema to the canonical schema's field-id metadata at
    * every depth: a write field whose name and physical shape match a
    * canonical field adopts that field's full type (nested ids included)
    * and metadata, so the parquet footer records the ids the catalog's
    * id-resolving reads key on — including NESTED struct-field ids, which
    * per-column `as(name, metadata)` projections cannot attach (they live
    * inside the dataType). Metadata never changes row encoding, only the
    * footer, so adopting types is free. Non-matching fields pass through.
    */
  def adoptCanonicalIds(write: StructType, canonical: StructType): StructType =
    StructType(write.fields.map { wf =>
      canonical.fields.find(cf =>
        cf.name == wf.name && samePhysical(cf.dataType, wf.dataType)) match {
        case Some(cf) => wf.copy(dataType = cf.dataType, metadata = cf.metadata)
        case None => wf
      }
    })

  /** Same physical shape (names + types at every depth), nullability and
    * metadata ignored — the condition under which adopting the canonical
    * type changes only footer metadata, never row encoding.
    */
  private def samePhysical(a: DataType, b: DataType): Boolean = (a, b) match {
    case (x: StructType, y: StructType) =>
      x.fields.length == y.fields.length &&
        x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && samePhysical(f.dataType, g.dataType)
        }
    case (x: ArrayType, y: ArrayType) => samePhysical(x.elementType, y.elementType)
    case (x: MapType, y: MapType) =>
      samePhysical(x.keyType, y.keyType) && samePhysical(x.valueType, y.valueType)
    case _ => a == b
  }

  /** Align a DataFrame to a canonical schema's ids by NAME: each column that
    * the canonical schema also has takes that field's metadata (so an
    * upsert/append writes the table's current ids into its files); columns
    * the canonical schema doesn't know keep their own. Pure projection.
    */
  def alignToSchema(df: DataFrame, canonical: StructType): DataFrame =
    df.select(df.schema.fields.map { f =>
      canonical.fields.find(_.name == f.name) match {
        case Some(cf) => col(f.name).as(f.name, cf.metadata)
        case None => col(f.name)
      }
    }.toSeq: _*)

  /** The equality-delete key resolution BOTH serving paths share (the
    * row-path anti join, `CompactionRunner.readEqualityDeletes`, and the
    * vectorized mask's driver decode, `GraftColumnarMask.decodeEq` — ONE
    * implementation so they can never drift and delete different row
    * sets): each recorded field id binds to the DELETE file's column via
    * its footer id metadata and re-aliases to the DATA schema's name for
    * that id; per-id name fallback covers id-less footers. Returns
    * `(delete-file column, data-side name)` pairs; None when an id
    * resolves nowhere (the caller refuses or fails loudly).
    */
  def resolveEqColumns(
      delSchema: StructType,
      eqCols: Seq[String],
      eqIds: Seq[Int],
      dataSchema: Option[StructType]): Option[Seq[(String, String)]] =
    if (eqIds.nonEmpty) {
      val rs = eqIds.zipWithIndex.map { case (id, i) =>
        val fallback = eqCols.lift(i)
        for {
          delName <- nameById(delSchema, id).orElse(fallback)
          dataName <- dataSchema.flatMap(nameById(_, id))
            .orElse(fallback).orElse(Some(delName))
        } yield (delName, dataName)
      }
      if (rs.forall(_.isDefined)) Some(rs.flatten) else None
    } else Some(eqCols.map(c => (c, c)))
}
