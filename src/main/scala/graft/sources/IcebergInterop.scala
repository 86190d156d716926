package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.avro.{Schema => AvroSchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_format, lit, pmod, substring, to_date}
import org.apache.spark.sql.types._

/** Interop with the Apache Iceberg table format, implemented against
  * the PUBLIC Iceberg table spec (iceberg.apache.org/spec/): a
  * `metadata/` directory of versioned JSON table metadata, Avro
  * manifest lists + manifests, and parquet data files. Iceberg is the
  * reference lakehouse's PRIMARY format — its Polaris catalog serves
  * Iceberg REST, and 02_iceberg_demo.ipynb drives Iceberg DDL/DML —
  * so graft needs a migration path in both directions, like
  * [[DeltaInterop]] provides for Delta:
  *
  *  - [[exportSnapshot]]: materialize a GraftTable's current snapshot
  *    as a brand-new HadoopCatalog-style Iceberg v1 table (data/,
  *    metadata/v1.metadata.json, version-hint.text) any Iceberg
  *    reader can open.
  *  - [[readIceberg]]: open an existing file-based Iceberg table's
  *    current snapshot as a DataFrame without any iceberg dependency —
  *    metadata.json (v1, v2 or v3) → manifest list → manifests →
  *    pruned parquet scan. v2 merge-on-read deletes apply as
  *    distributed anti-joins — position deletes on (file, pos),
  *    equality deletes null-safe per id set under the sequence-number
  *    guard — and v3 Puffin DELETION VECTORS as a codegen'd per-file
  *    bitmap filter; non-parquet data files and format v4+ refuse
  *    loudly rather than misread.
  *
  * Columns are resolved BY NAME against the parquet footers (a
  * first-file probe verifies every declared top-level column exists);
  * an Iceberg table whose columns were renamed after data was written
  * resolves by field id, which a name-based scan would misread — the
  * probe turns that into a loud failure.
  *
  * Scale note: export is one distributed parquet write plus O(#files)
  * driver-side metadata; readIceberg replays O(#manifests + #files)
  * metadata into a normal pruned parquet scan. Neither moves data
  * through the driver.
  */
object IcebergInterop {

  private val om = new ObjectMapper()

  // ---------------------------------------------------------------
  // Schema conversion: Spark StructType <-> Iceberg schema JSON
  // ---------------------------------------------------------------

  /** Allocates Iceberg field ids depth-first, the way a fresh table
    * gets them assigned. Returns (schema JSON node, last column id). */
  private def toIcebergSchema(st: StructType): (ObjectNode, Int) = {
    var nextId = 0
    def allocate(): Int = { nextId += 1; nextId }
    def typeNode(dt: DataType): Object = dt match {
      case BooleanType => "boolean"
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case StringType => "string"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case s: StructType =>
        val n = om.createObjectNode()
        n.put("type", "struct")
        val fields = n.putArray("fields")
        s.fields.foreach { f =>
          val fn = om.createObjectNode()
          fn.put("id", allocate())
          fn.put("name", f.name)
          fn.put("required", false)
          fn.set("type", om.valueToTree[JsonNode](typeNode(f.dataType)))
          fields.add(fn)
        }
        n
      case a: ArrayType =>
        val n = om.createObjectNode()
        n.put("type", "list")
        n.put("element-id", allocate())
        n.set("element", om.valueToTree[JsonNode](typeNode(a.elementType)))
        n.put("element-required", false)
        n
      case m: MapType =>
        val n = om.createObjectNode()
        n.put("type", "map")
        n.put("key-id", allocate())
        n.set("key", om.valueToTree[JsonNode](typeNode(m.keyType)))
        n.put("value-id", allocate())
        n.set("value", om.valueToTree[JsonNode](typeNode(m.valueType)))
        n.put("value-required", false)
        n
      case other => throw new IllegalArgumentException(
        s"cannot export Spark type $other to Iceberg")
    }
    val root = om.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", 0)
    val fields = root.putArray("fields")
    st.fields.foreach { f =>
      val fn = om.createObjectNode()
      fn.put("id", allocate())
      fn.put("name", f.name)
      fn.put("required", false)
      fn.set("type", om.valueToTree[JsonNode](typeNode(f.dataType)))
      fields.add(fn)
    }
    (root, nextId)
  }

  private val DecimalRe = "decimal\\(\\s*(\\d+)\\s*,\\s*(\\d+)\\s*\\)".r
  private val FixedRe = "fixed\\[(\\d+)\\]".r

  private def fromIcebergType(t: JsonNode, path: String): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" => StringType
      case "binary" => BinaryType
      case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case FixedRe(_) => BinaryType
      case other => throw new IllegalArgumentException(
        s"Iceberg table at $path uses type '$other' — unsupported by this " +
          "dependency-free reader; read it with a full Iceberg client")
    } else t.get("type").asText() match {
      case "struct" => fromIcebergStruct(t, path)
      case "list" =>
        ArrayType(fromIcebergType(t.get("element"), path),
          containsNull = !t.path("element-required").asBoolean(false))
      case "map" =>
        MapType(fromIcebergType(t.get("key"), path),
          fromIcebergType(t.get("value"), path),
          valueContainsNull = !t.path("value-required").asBoolean(false))
      case other => throw new IllegalArgumentException(
        s"Iceberg table at $path: unknown nested type '$other'")
    }

  /** Collect field-id → names recursively across an Iceberg schema
    * (struct fields at any nesting depth, including inside list/map
    * element types). */
  private def fieldNamesById(node: JsonNode,
      acc: scala.collection.mutable.Map[Int, Set[String]]): Unit = {
    val fields = node.path("fields")
    if (fields.isArray) fields.elements().asScala().foreach { f =>
      val id = f.path("id").asInt(-1)
      val nm = f.path("name").asText(null)
      if (id >= 0 && nm != null)
        acc(id) = acc.getOrElse(id, Set.empty) + nm
      val t = f.path("type")
      if (t.isObject) {
        fieldNamesById(t, acc)
        Seq("element", "key", "value").foreach { k =>
          val sub = t.path(k)
          if (sub.isObject) fieldNamesById(sub, acc)
        }
      }
    }
  }

  private[sources] def fromIcebergStruct(node: JsonNode, path: String): StructType =
    StructType(node.get("fields").elements().asScala().map { f =>
      StructField(f.get("name").asText(),
        fromIcebergType(f.get("type"), path),
        nullable = !f.path("required").asBoolean(false))
    }.toSeq)

  // jackson's java iterators, scala-fied without extra imports at use sites
  private implicit class RichJIterator[T](it: java.util.Iterator[T]) {
    def asScala(): Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  // ---------------------------------------------------------------
  // Avro manifest schemas (v1, per spec field ids)
  // ---------------------------------------------------------------

  private def avroField(name: String, typ: String, fieldId: Int,
      optional: Boolean = false): String = {
    val t = if (optional) s"""["null", $typ]""" else typ
    val dflt = if (optional) ""","default":null""" else ""
    s"""{"name":"$name","type":$t,"field-id":$fieldId$dflt}"""
  }

  /** One partition field of a spec: `name` is the Iceberg partition
    * field name (the column itself for identity, `<col>_day`-style for
    * transforms), `sourceId` the SOURCE column's field id in the table
    * schema, `fieldId` the partition field id (spec: 1000+), `dt` the
    * transform's RESULT type (drives the Avro partition-struct
    * encoding: `DateType` ⇒ int/date logical for `day`, `IntegerType`
    * for `month`/`year`/`hour`, the source type for identity and
    * `truncate`), `transform` the Iceberg transform string, and
    * `hiveKey` the physical `key=value` directory key the value parses
    * from (`__p_days_ts` for `days(ts)`; the column name for
    * identity). */
  private case class PartField(name: String, sourceId: Int, fieldId: Int,
                               dt: DataType, transform: String = "identity",
                               hiveKeyOpt: Option[String] = None) {
    def hiveKey: String = hiveKeyOpt.getOrElse(name)
  }

  /** Partition-struct Avro type for a partition field's result type.
    * The supported types cover the identity keys hive layouts produce
    * plus the transform result types (`date` for `day`, int for the
    * other time transforms); others refuse loudly rather than
    * mis-encode. */
  private def partAvroType(dt: DataType): String = dt match {
    case StringType => "\"string\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case LongType => "\"long\""
    case BooleanType => "\"boolean\""
    case other => throw new IllegalArgumentException(
      s"partition field type $other is not supported by the " +
        "Iceberg mirror (use string/int/long/date/boolean keys)")
  }

  /** One of the `data_file` statistics maps (spec: `value_counts` 109,
    * `null_value_counts` 110, `lower_bounds` 125, `upper_bounds` 128)
    * in Iceberg's array-of-key/value-records map encoding — Avro maps
    * proper require string keys, these are keyed by field id. */
  private def statMapField(name: String, fieldId: Int, kId: Int, vId: Int,
      vType: String): String =
    s"""{"name":"$name","field-id":$fieldId,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k${kId}_v$vId","fields":[{"name":"key","type":"int","field-id":$kId},{"name":"value","type":"$vType","field-id":$vId}]}}],"default":null}"""

  private def statMapFields: String = Seq(
    statMapField("value_counts", 109, 119, 120, "long"),
    statMapField("null_value_counts", 110, 121, 122, "long"),
    statMapField("lower_bounds", 125, 126, 127, "bytes"),
    statMapField("upper_bounds", 128, 129, 130, "bytes")).mkString(",")

  /** Manifest-entry schema whose `partition` struct carries one
    * nullable field per partition field (empty for unpartitioned
    * tables — the historical layout). */
  private def manifestEntrySchemaFor(parts: Seq[PartField]): AvroSchema = {
    parts.foreach(p => require(p.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"partition field '${p.name}' is not a valid Avro field name"))
    val pfields = parts.map(p =>
      s"""{"name":"${p.name}","type":["null",${partAvroType(p.dt)}],"field-id":${p.fieldId},"default":null}""")
      .mkString(",")
    new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |${avroField("status", "\"int\"", 0)},
         |${avroField("snapshot_id", "\"long\"", 1)},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |${avroField("file_path", "\"string\"", 100)},
         |${avroField("file_format", "\"string\"", 101)},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pfields]}},
         |${avroField("record_count", "\"long\"", 103)},
         |${avroField("file_size_in_bytes", "\"long\"", 104)},
         |${avroField("block_size_in_bytes", "\"long\"", 105)},
         |$statMapFields
         |]}}]}""".stripMargin.replace("\n", ""))
  }

  private val manifestEntrySchema: AvroSchema = manifestEntrySchemaFor(Nil)

  private val manifestFileSchema: AvroSchema = new AvroSchema.Parser().parse(
    s"""{"type":"record","name":"manifest_file","fields":[
       |${avroField("manifest_path", "\"string\"", 500)},
       |${avroField("manifest_length", "\"long\"", 501)},
       |${avroField("partition_spec_id", "\"int\"", 502)},
       |${avroField("added_snapshot_id", "\"long\"", 503, optional = true)},
       |${avroField("added_data_files_count", "\"int\"", 504, optional = true)},
       |${avroField("existing_data_files_count", "\"int\"", 505, optional = true)},
       |${avroField("deleted_data_files_count", "\"int\"", 506, optional = true)}
       |]}""".stripMargin.replace("\n", ""))

  /** Format-v2 manifest-list schema (spec "Manifest Lists" v2 columns):
    * `content`/`sequence_number`/`min_sequence_number` become required,
    * the count fields are renamed (`added_files_count`, …) and row
    * counts join — carried foreign manifests keep their sequence
    * numbers through [[reserializeManifestFileV2]]. */
  private val manifestFileSchemaV2: AvroSchema = new AvroSchema.Parser().parse(
    s"""{"type":"record","name":"manifest_file","fields":[
       |${avroField("manifest_path", "\"string\"", 500)},
       |${avroField("manifest_length", "\"long\"", 501)},
       |${avroField("partition_spec_id", "\"int\"", 502)},
       |${avroField("content", "\"int\"", 517)},
       |${avroField("sequence_number", "\"long\"", 515)},
       |${avroField("min_sequence_number", "\"long\"", 516)},
       |${avroField("added_snapshot_id", "\"long\"", 503)},
       |${avroField("added_files_count", "\"int\"", 504)},
       |${avroField("existing_files_count", "\"int\"", 505)},
       |${avroField("deleted_files_count", "\"int\"", 506)},
       |${avroField("added_rows_count", "\"long\"", 512)},
       |${avroField("existing_rows_count", "\"long\"", 513)},
       |${avroField("deleted_rows_count", "\"long\"", 514)}
       |]}""".stripMargin.replace("\n", ""))

  /** Format-v3 manifest-list schema: v2 plus the ROW-LINEAGE
    * `first_row_id` (field 520) — the first row id assigned to rows the
    * manifest's ADDED data files carry; null on delete manifests. */
  private val manifestFileSchemaV3: AvroSchema = new AvroSchema.Parser().parse(
    s"""{"type":"record","name":"manifest_file","fields":[
       |${avroField("manifest_path", "\"string\"", 500)},
       |${avroField("manifest_length", "\"long\"", 501)},
       |${avroField("partition_spec_id", "\"int\"", 502)},
       |${avroField("content", "\"int\"", 517)},
       |${avroField("sequence_number", "\"long\"", 515)},
       |${avroField("min_sequence_number", "\"long\"", 516)},
       |${avroField("added_snapshot_id", "\"long\"", 503)},
       |${avroField("added_files_count", "\"int\"", 504)},
       |${avroField("existing_files_count", "\"int\"", 505)},
       |${avroField("deleted_files_count", "\"int\"", 506)},
       |${avroField("added_rows_count", "\"long\"", 512)},
       |${avroField("existing_rows_count", "\"long\"", 513)},
       |${avroField("deleted_rows_count", "\"long\"", 514)},
       |${avroField("first_row_id", "\"long\"", 520, optional = true)}
       |]}""".stripMargin.replace("\n", ""))

  /** Format-v2 manifest entry schema: `snapshot_id` and the sequence
    * numbers are optional (null on ADDED entries = inherit from the
    * committing snapshot / the manifest-list entry), `data_file` gains
    * the required `content` field (0 = data) and drops v1's
    * `block_size_in_bytes`. */
  private def manifestEntrySchemaV2For(parts: Seq[PartField]): AvroSchema = {
    parts.foreach(p => require(p.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"partition field '${p.name}' is not a valid Avro field name"))
    val pfields = parts.map(p =>
      s"""{"name":"${p.name}","type":["null",${partAvroType(p.dt)}],"field-id":${p.fieldId},"default":null}""")
      .mkString(",")
    new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |${avroField("status", "\"int\"", 0)},
         |${avroField("snapshot_id", "\"long\"", 1, optional = true)},
         |${avroField("sequence_number", "\"long\"", 3, optional = true)},
         |${avroField("file_sequence_number", "\"long\"", 4, optional = true)},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |${avroField("content", "\"int\"", 134)},
         |${avroField("file_path", "\"string\"", 100)},
         |${avroField("file_format", "\"string\"", 101)},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$pfields]}},
         |${avroField("record_count", "\"long\"", 103)},
         |${avroField("file_size_in_bytes", "\"long\"", 104)},
         |${avroField("sort_order_id", "\"int\"", 140, optional = true)},
         |$statMapFields
         |]}}]}""".stripMargin.replace("\n", ""))
  }

  /** Format-v3 DELETE-manifest entry schema for DELETION VECTORS: the
    * v2 delete shape plus the DV reference triple — the referenced
    * data file (field 143) and the Puffin blob's coordinates
    * (content_offset 144, content_size_in_bytes 145). Unpartitioned
    * (graft registers DVs under the global unpartitioned spec, like
    * its v2 position deletes). */
  private val manifestEntrySchemaV3Dv: AvroSchema =
    new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |${avroField("status", "\"int\"", 0)},
         |${avroField("snapshot_id", "\"long\"", 1, optional = true)},
         |${avroField("sequence_number", "\"long\"", 3, optional = true)},
         |${avroField("file_sequence_number", "\"long\"", 4, optional = true)},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |${avroField("content", "\"int\"", 134)},
         |${avroField("file_path", "\"string\"", 100)},
         |${avroField("file_format", "\"string\"", 101)},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
         |${avroField("record_count", "\"long\"", 103)},
         |${avroField("file_size_in_bytes", "\"long\"", 104)},
         |${avroField("referenced_data_file", "\"string\"", 143, optional = true)},
         |${avroField("content_offset", "\"long\"", 144, optional = true)},
         |${avroField("content_size_in_bytes", "\"long\"", 145, optional = true)}
         |]}}]}""".stripMargin.replace("\n", ""))

  private def writeAvro(schema: AvroSchema, meta: Map[String, String],
      records: Seq[GenericRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, out)
    try records.foreach(w.append) finally w.close()
    out.toByteArray
  }

  private[graft] def readAvro(bytes: Array[Byte]): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try {
      val buf = Seq.newBuilder[GenericRecord]
      while (r.hasNext) buf += r.next()
      buf.result()
    } finally r.close()
  }

  /** [[readAvro]] plus the container's writer schema and string
    * metadata — what a faithful manifest REWRITE needs to carry a
    * foreign manifest's entries under their own layout. */
  private def readAvroFull(bytes: Array[Byte])
      : (Seq[GenericRecord], AvroSchema, Map[String, String]) = {
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try {
      val buf = Seq.newBuilder[GenericRecord]
      while (r.hasNext) buf += r.next()
      val meta = {
        import scala.jdk.CollectionConverters._
        r.getMetaKeys.asScala.filterNot(_.startsWith("avro."))
          .map(k => k -> r.getMetaString(k)).toMap
      }
      (buf.result(), r.getSchema, meta)
    } finally r.close()
  }

  private[sources] def readBytes(fs: org.apache.hadoop.fs.FileSystem, p: HPath): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def writeBytes(fs: org.apache.hadoop.fs.FileSystem, p: HPath,
      bytes: Array[Byte]): Unit = {
    val out = fs.create(p, false)
    try out.write(bytes) finally out.close()
  }

  // optional-field access: GenericData.Record.get(String) THROWS on a
  // name the writer schema lacks (e.g. v1 manifests have no `content`)
  private[sources] def fieldOpt(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None else Option(r.get(name))

  private[sources] def longOf(v: AnyRef): Long = v match {
    case n: java.lang.Number => n.longValue()
    case other => other.toString.toLong
  }

  // ---------------------------------------------------------------
  // Export
  // ---------------------------------------------------------------

  /** Fill a data_file record's statistics maps (field-id-keyed
    * array-of-record encoding) from footer-derived [[IcebergStats]]
    * bounds — foreign engines (and graft's own DML detection scans)
    * skip files by these. */
  private def putStatMaps(dataFile: GenericRecord,
      bounds: IcebergStats.Bounds): Unit = {
    def put(fieldName: String, m: Map[Int, AnyRef]): Unit =
      if (m.nonEmpty && dataFile.getSchema.getField(fieldName) != null) {
        val arrSchema = dataFile.getSchema.getField(fieldName).schema()
          .getTypes.get(1) // the non-null union branch
        val itemSchema = arrSchema.getElementType
        val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val r = new GenericData.Record(itemSchema)
          r.put("key", k)
          r.put("value", v)
          arr.add(r)
        }
        dataFile.put(fieldName, arr)
      }
    put("value_counts", bounds.valueCounts.map { case (k, v) =>
      k -> (java.lang.Long.valueOf(v): AnyRef) })
    put("null_value_counts", bounds.nullCounts.map { case (k, v) =>
      k -> (java.lang.Long.valueOf(v): AnyRef) })
    put("lower_bounds", bounds.lowers.map { case (k, v) =>
      k -> (java.nio.ByteBuffer.wrap(v): AnyRef) })
    put("upper_bounds", bounds.uppers.map { case (k, v) =>
      k -> (java.nio.ByteBuffer.wrap(v): AnyRef) })
  }

  private def manifestEntry(entrySchema: AvroSchema, filePath: String,
      size: Long, records: Long, status: Int, snapId: Long,
      partValues: Seq[AnyRef] = Nil,
      bounds: Option[IcebergStats.Bounds] = None): GenericRecord = {
    val dataFile = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    dataFile.put("file_path", filePath)
    dataFile.put("file_format", "PARQUET")
    val part = new GenericData.Record(
      dataFile.getSchema.getField("partition").schema())
    partValues.zipWithIndex.foreach { case (v, i) => part.put(i, v) }
    dataFile.put("partition", part)
    dataFile.put("record_count", records)
    dataFile.put("file_size_in_bytes", size)
    dataFile.put("block_size_in_bytes", 64L * 1024 * 1024)
    bounds.foreach(putStatMaps(dataFile, _))
    val e = new GenericData.Record(entrySchema)
    e.put("status", status) // 0 EXISTING / 1 ADDED
    e.put("snapshot_id", snapId)
    e.put("data_file", dataFile)
    e
  }

  private def manifestListEntry(manifestPath: String, manifestLen: Long,
      snapId: Long, added: Int, existing: Int,
      specId: Int = 0): GenericRecord = {
    val mf = new GenericData.Record(manifestFileSchema)
    mf.put("manifest_path", manifestPath)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", specId)
    mf.put("added_snapshot_id", snapId)
    mf.put("added_data_files_count", added)
    mf.put("existing_data_files_count", existing)
    mf.put("deleted_data_files_count", 0)
    mf
  }

  /** A v2 ADDED manifest entry for a freshly-written data file:
    * `snapshot_id`/`sequence_number`/`file_sequence_number` stay null —
    * the spec's inheritance rule fills them from the committing
    * snapshot, which keeps the manifest bytes valid across commit
    * retries. `data_file.content` = 0 (data). */
  private def manifestEntryV2(entrySchema: AvroSchema, filePath: String,
      size: Long, records: Long, partValues: Seq[AnyRef],
      content: Int = 0,
      bounds: Option[IcebergStats.Bounds] = None,
      sortOrderId: Option[Int] = None): GenericRecord = {
    val dataFile = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    dataFile.put("content", content)
    dataFile.put("file_path", filePath)
    dataFile.put("file_format", "PARQUET")
    val part = new GenericData.Record(
      dataFile.getSchema.getField("partition").schema())
    partValues.zipWithIndex.foreach { case (v, i) => part.put(i, v) }
    dataFile.put("partition", part)
    dataFile.put("record_count", records)
    dataFile.put("file_size_in_bytes", size)
    if (dataFile.getSchema.getField("sort_order_id") != null)
      sortOrderId.foreach(id =>
        dataFile.put("sort_order_id", Int.box(id)))
    bounds.foreach(putStatMaps(dataFile, _))
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1) // ADDED
    e.put("data_file", dataFile)
    e
  }

  /** v2 sibling of [[reserializeManifestFile]]: carried foreign
    * manifests keep their `content` and sequence numbers (required in
    * v2 — dropping them would break the reader's `dataSeq < deleteSeq`
    * merge-on-read guard); missing v1-era fields default to 0. */
  private def reserializeManifestFileV2(r: GenericRecord,
      fallbackSpecId: Int, fallbackSnapId: Long,
      schema: AvroSchema = manifestFileSchemaV2): GenericRecord = {
    def num(names: String*): Option[Long] =
      names.iterator.flatMap(n => fieldOpt(r, n)).nextOption().map(longOf)
    val mf = new GenericData.Record(schema)
    // v3 row lineage: carried data manifests keep their assigned ids
    if (schema.getField("first_row_id") != null)
      num("first_row_id").foreach(v =>
        mf.put("first_row_id", java.lang.Long.valueOf(v)))
    mf.put("manifest_path", r.get("manifest_path").toString)
    mf.put("manifest_length", longOf(r.get("manifest_length")))
    mf.put("partition_spec_id",
      num("partition_spec_id").map(_.toInt).getOrElse(fallbackSpecId))
    mf.put("content", num("content").map(_.toInt).getOrElse(0))
    mf.put("sequence_number", num("sequence_number").getOrElse(0L))
    mf.put("min_sequence_number", num("min_sequence_number").getOrElse(0L))
    mf.put("added_snapshot_id",
      num("added_snapshot_id").getOrElse(fallbackSnapId))
    mf.put("added_files_count",
      num("added_files_count", "added_data_files_count")
        .map(_.toInt).getOrElse(0))
    mf.put("existing_files_count",
      num("existing_files_count", "existing_data_files_count")
        .map(_.toInt).getOrElse(0))
    mf.put("deleted_files_count",
      num("deleted_files_count", "deleted_data_files_count")
        .map(_.toInt).getOrElse(0))
    mf.put("added_rows_count", num("added_rows_count").getOrElse(0L))
    mf.put("existing_rows_count", num("existing_rows_count").getOrElse(0L))
    mf.put("deleted_rows_count", num("deleted_rows_count").getOrElse(0L))
    mf
  }

  /** Rebuild a manifest-list record read from a FOREIGN file under this
    * writer's manifest_file schema, copying fields BY NAME. Avro's
    * GenericDatumWriter reads record fields positionally against the
    * writer schema, so re-serializing a foreign record directly would
    * misalign values whenever the foreign schema orders (or extends —
    * real Iceberg writers add partition summaries, row counts) the
    * fields differently. Optional fields this schema lacks are dropped
    * (spec-legal; summaries are advisory pruning hints). */
  private def reserializeManifestFile(r: GenericRecord,
      fallbackSpecId: Int): GenericRecord = {
    def intOpt(names: String*): Option[Int] =
      names.iterator.flatMap(n => fieldOpt(r, n)).nextOption()
        .map(v => longOf(v).toInt)
    val mf = new GenericData.Record(manifestFileSchema)
    mf.put("manifest_path", r.get("manifest_path").toString)
    mf.put("manifest_length", longOf(r.get("manifest_length")))
    mf.put("partition_spec_id",
      intOpt("partition_spec_id").getOrElse(fallbackSpecId))
    fieldOpt(r, "added_snapshot_id").foreach(v =>
      mf.put("added_snapshot_id", java.lang.Long.valueOf(longOf(v))))
    // v2 renamed the count fields (added_files_count, …); accept both
    intOpt("added_data_files_count", "added_files_count")
      .foreach(v => mf.put("added_data_files_count", Int.box(v)))
    intOpt("existing_data_files_count", "existing_files_count")
      .foreach(v => mf.put("existing_data_files_count", Int.box(v)))
    intOpt("deleted_data_files_count", "deleted_files_count")
      .foreach(v => mf.put("deleted_data_files_count", Int.box(v)))
    mf
  }

  /** Parquet footer row count (driver metadata read — Iceberg clients
    * trust manifest record_count for count(*) pushdown). */
  private def footerRecordCount(conf: org.apache.hadoop.conf.Configuration,
      st: org.apache.hadoop.fs.FileStatus): Long = {
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    try rdr.getRecordCount finally rdr.close()
  }

  /** Footer-derived manifest bounds for data files of `schema` whose
    * field ids come from `schemaNode` — one KB-scale footer read per
    * file, None (= no stats, never a failure) when unreadable. */
  private def boundsFn(conf: org.apache.hadoop.conf.Configuration,
      schema: StructType, schemaNode: JsonNode)
      : HPath => Option[IcebergStats.Bounds] = {
    val idOf = IcebergStats.fieldIdsOf(schemaNode)
    p => IcebergStats.footerBounds(conf, p, schema, idOf)
  }

  /** Export the CURRENT snapshot of `t` as a new file-based Iceberg v1
    * table at `target` (any Hadoop-FS URI; must not already hold
    * Iceberg metadata). The snapshot is rewritten as plain
    * unpartitioned parquet — graft's directory versioning and derived
    * partition transforms stay internal. Returns the number of data
    * files committed. */
  def exportSnapshot(t: GraftTable, target: String): Int = {
    val spark = t.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val targetPath = new HPath(target)
    val fs = targetPath.getFileSystem(conf)
    val metaDir = new HPath(targetPath, "metadata")
    require(!fs.exists(metaDir), s"Iceberg table already exists at $target")
    val df = t.read()
    val schema = StructType(df.schema.map(_.copy(nullable = true)))
    val dataDir = new HPath(targetPath, "data")
    val now = System.currentTimeMillis()
    val snapId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val (schemaNode, lastColId) = toIcebergSchema(schema)
    // row counts + manifest bounds collected IN-FLIGHT by the write
    // tasks (each from the footer it just closed)
    val payloads = IcebergStats.writeWithBounds(df, dataDir.toString,
      Nil, schema, IcebergStats.fieldIdsOf(schemaNode))
    val files = fs.listStatus(dataDir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)

    fs.mkdirs(metaDir)
    // manifest: one ADDED entry per data file, with footer bounds
    val entries = files.map { st =>
      val payload = payloads.get(st.getPath.getName)
      manifestEntry(manifestEntrySchema,
        st.getPath.toString, st.getLen,
        payload.map(_._1).getOrElse(footerRecordCount(conf, st)), 1, snapId,
        bounds = payload.map(_._2))
    }
    val schemaJson = om.writeValueAsString(schemaNode)
    val manifestBytes = writeAvro(manifestEntrySchema, Map(
      "schema" -> schemaJson, "schema-id" -> "0",
      "partition-spec" -> "[]", "partition-spec-id" -> "0",
      "format-version" -> "1"), entries)
    val manifestPath = new HPath(metaDir,
      s"${java.util.UUID.randomUUID()}-m0.avro")
    writeBytes(fs, manifestPath, manifestBytes)

    // manifest list: one entry naming the manifest
    val listBytes = writeAvro(manifestFileSchema,
      Map("snapshot-id" -> snapId.toString, "format-version" -> "1"),
      Seq(manifestListEntry(manifestPath.toString, manifestBytes.length.toLong,
        snapId, files.size, 0)))
    val listPath = new HPath(metaDir,
      s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
    writeBytes(fs, listPath, listBytes)

    // table metadata v1 + the HadoopCatalog version hint
    val md = baseMetadata(targetPath.toString, now)
    md.put("last-column-id", lastColId)
    md.set[ObjectNode]("schema", schemaNode)
    md.putArray("schemas").add(schemaNode)
    md.put("current-schema-id", 0)
    md.put("current-snapshot-id", snapId)
    md.putArray("snapshots")
      .add(snapshotNode(snapId, now, "append", listPath.toString, 0))
    writeBytes(fs, new HPath(metaDir, "v1.metadata.json"),
      om.writerWithDefaultPrettyPrinter().writeValueAsBytes(md))
    writeBytes(fs, new HPath(metaDir, "version-hint.text"),
      "1".getBytes(StandardCharsets.UTF_8))
    files.size
  }

  /** CONVERT an existing plain-parquet directory (flat or
    * hive-partitioned) into an Iceberg FORMAT-V1 table IN PLACE — the
    * `migrate`/`add_files` shape: no data moves; the files register in
    * one append snapshot. Hive partition directories become a real
    * identity partition spec, with each file's partition tuple parsed
    * from its path — identity values the layout dropped from the files
    * come back through Column Projection rule 2 (readers take them
    * from the manifest partition struct). Because pre-Iceberg parquet
    * carries no field ids, the metadata declares
    * `schema.name-mapping.default` so FOREIGN engines resolve columns
    * by name, exactly as Iceberg's own migrate procedure does.
    * Refuses when a `metadata` directory already exists. Returns the
    * number of files registered. */
  def convertParquetToIceberg(spark: SparkSession, path: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val metaDir = new HPath(root, "metadata")
    require(!fs.exists(metaDir), s"Iceberg table already exists at $path")
    val df = spark.read.parquet(path)
    val schema = StructType(df.schema.map(_.copy(nullable = true)))
    def listRec(dir: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if ((name.startsWith("_") || name.startsWith(".")) &&
            !name.contains("=")) Nil
        else if (st.isDirectory) listRec(st.getPath)
        else if (name.endsWith(".parquet")) Seq(st)
        else Nil
      }
    val files = listRec(root).sortBy(_.getPath.toString)
    require(files.nonEmpty, s"no parquet files to convert under $path")
    val dataCols = spark.read.parquet(files.head.getPath.toString)
      .schema.fieldNames.toSet
    val partCols = schema.fieldNames.toSeq.filterNot(dataCols.contains)
    val (schemaNode, lastColId) = toIcebergSchema(schema)
    val idOf: Map[String, Int] = {
      val b = Map.newBuilder[String, Int]
      val it = schemaNode.get("fields").elements()
      while (it.hasNext) {
        val f = it.next()
        b += f.get("name").asText() -> f.get("id").asInt()
      }
      b.result()
    }
    val parts: Seq[PartField] = partCols.zipWithIndex.map { case (c, i) =>
      PartField(c, idOf(c), 1000 + i, schema(c).dataType, "identity", None)
    }
    val now = System.currentTimeMillis()
    val snapId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val entrySchema =
      if (parts.isEmpty) manifestEntrySchema else manifestEntrySchemaFor(parts)
    def partValuesOf(p: HPath): Seq[AnyRef] = {
      val segs = p.toString.split('/').filter(_.contains("=")).map { seg =>
        val k = seg.takeWhile(_ != '=')
        k -> unescapeHive(seg.drop(k.length + 1))
      }.toMap
      parts.map(pf => segs.get(pf.hiveKey)
        .filterNot(_ == "__HIVE_DEFAULT_PARTITION__")
        .map(raw => transformValue(pf, raw)).orNull)
    }
    // counts + bounds in one scan, distributed above the small-file
    // threshold — converts can register very large foreign directories
    val payloads = IcebergStats.boundsScan(spark,
      files.map(st => st.getPath.toString -> st.getPath),
      schema, IcebergStats.fieldIdsOf(schemaNode))
    val entries = files.map { st =>
      val payload = payloads.get(st.getPath.toString)
      manifestEntry(entrySchema,
        st.getPath.toString, st.getLen,
        payload.map(_._1).getOrElse(footerRecordCount(conf, st)), 1,
        snapId, partValuesOf(st.getPath), bounds = payload.map(_._2))
    }
    val schemaJson = om.writeValueAsString(schemaNode)
    val specArr = om.createArrayNode()
    parts.foreach(p => specArr.add(specFieldNode(p)))
    fs.mkdirs(metaDir)
    val manifestBytes = writeAvro(entrySchema, Map(
      "schema" -> schemaJson, "schema-id" -> "0",
      "partition-spec" -> om.writeValueAsString(specArr),
      "partition-spec-id" -> "0",
      "format-version" -> "1"), entries)
    val manifestPath = new HPath(metaDir,
      s"${java.util.UUID.randomUUID()}-m0.avro")
    writeBytes(fs, manifestPath, manifestBytes)
    val listBytes = writeAvro(manifestFileSchema,
      Map("snapshot-id" -> snapId.toString, "format-version" -> "1"),
      Seq(manifestListEntry(manifestPath.toString,
        manifestBytes.length.toLong, snapId, files.size, 0)))
    val listPath = new HPath(metaDir,
      s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
    writeBytes(fs, listPath, listBytes)
    val md = baseMetadata(root.toString, now, parts)
    md.put("last-column-id", lastColId)
    md.set[ObjectNode]("schema", schemaNode)
    md.putArray("schemas").add(schemaNode)
    md.put("current-schema-id", 0)
    md.put("current-snapshot-id", snapId)
    md.putArray("snapshots")
      .add(snapshotNode(snapId, now, "append", listPath.toString, 0))
    // name mapping: converted files carry no field ids — foreign
    // engines resolve by name through this property (Iceberg's own
    // migrate/add_files write it the same way)
    val mapping = om.createArrayNode()
    schemaNode.get("fields").elements().asScala().foreach { f =>
      val m = om.createObjectNode()
      m.put("field-id", f.get("id").asInt())
      m.putArray("names").add(f.get("name").asText())
      mapping.add(m)
    }
    md.path("properties") match {
      case p: ObjectNode =>
        p.put("schema.name-mapping.default", om.writeValueAsString(mapping))
      case _ => ()
    }
    writeBytes(fs, new HPath(metaDir, "v1.metadata.json"),
      om.writerWithDefaultPrettyPrinter().writeValueAsBytes(md))
    writeBytes(fs, new HPath(metaDir, "version-hint.text"),
      "1".getBytes(StandardCharsets.UTF_8))
    files.size
  }

  /** ZERO-COPY dual-format publication of a FOREIGN Delta table — the
    * UniForm shape, without a graft table in the middle: write Iceberg
    * `metadata/` INSIDE the Delta root, listing the CURRENT Delta
    * snapshot's active files (absolute paths, footer-true record
    * counts) under an identity partition spec derived from the Delta
    * partition columns, partition values typed from the log's
    * partitionValues strings. Files carry no Iceberg field ids, so the
    * metadata declares `schema.name-mapping.default` exactly like
    * Iceberg's own migrate procedure. One metadata commit; no data
    * moves; the directory then reads as BOTH formats.
    *
    * Refusals: deletion-vector carriers (an Iceberg reader would
    * resurface the struck rows), column-mapped tables (files carry
    * physical names the Iceberg schema wouldn't match), an existing
    * `metadata/` directory. [[vacuumDelta]] never touches the
    * published metadata area. Returns the Iceberg snapshot id. */
  def convertDeltaToIceberg(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val metaDir = new HPath(root, "metadata")
    require(!fs.exists(metaDir), s"Iceberg table already exists at $path")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot publish Iceberg metadata over the Delta table at $path: " +
        s"$what — convert it with a full UniForm-capable client")
    val st = DeltaInterop.replaySnapshot(spark, path, None)
    if (st.colMapMode != "none")
      refuseW("the table uses column mapping — its files carry physical " +
        "column names an Iceberg schema would not match")
    if (st.active.exists(_._2._2.isDefined))
      refuseW("the table carries deletion vectors — an Iceberg reader " +
        "would resurface the struck rows")
    require(st.active.nonEmpty, s"nothing to convert at $path")
    val schema = StructType(org.apache.spark.sql.types.DataType
      .fromJson(st.schemaJson).asInstanceOf[StructType]
      .map(_.copy(nullable = true)))
    val (schemaNode, lastColId) = toIcebergSchema(schema)
    val idOf: Map[String, Int] = schemaNode.get("fields").elements()
      .asScala().map(f => f.get("name").asText() -> f.get("id").asInt())
      .toMap
    val parts: Seq[PartField] = st.partCols.zipWithIndex.map {
      case (c, i) =>
        PartField(c, idOf(c), 1000 + i, schema(c).dataType, "identity", None)
    }
    val now = System.currentTimeMillis()
    val snapId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val entrySchema =
      if (parts.isEmpty) manifestEntrySchema else manifestEntrySchemaFor(parts)
    val activePaths = st.active.map { case (p, _) =>
      p -> new HPath(DeltaInterop.resolveFile(root, p))
    }
    val payloads = IcebergStats.boundsScan(spark, activePaths,
      schema, IcebergStats.fieldIdsOf(schemaNode))
    val pathOf = activePaths.toMap
    val entries = st.active.map { case (p, (pv, _)) =>
      val hp = pathOf(p)
      val stt = hp.getFileSystem(conf).getFileStatus(hp)
      val partValues = parts.map(pf => Option(pv.getOrElse(pf.name, null))
        .map(raw => transformValue(pf, raw)).orNull)
      val payload = payloads.get(p)
      manifestEntry(entrySchema,
        hp.getFileSystem(conf).makeQualified(hp).toString,
        stt.getLen,
        payload.map(_._1).getOrElse(footerRecordCount(conf, stt)), 1,
        snapId, partValues, bounds = payload.map(_._2))
    }
    val specArr = om.createArrayNode()
    parts.foreach(p => specArr.add(specFieldNode(p)))
    fs.mkdirs(metaDir)
    val manifestBytes = writeAvro(entrySchema, Map(
      "schema" -> om.writeValueAsString(schemaNode), "schema-id" -> "0",
      "partition-spec" -> om.writeValueAsString(specArr),
      "partition-spec-id" -> "0",
      "format-version" -> "1"), entries)
    val manifestPath = new HPath(metaDir,
      s"${java.util.UUID.randomUUID()}-m0.avro")
    writeBytes(fs, manifestPath, manifestBytes)
    val listBytes = writeAvro(manifestFileSchema,
      Map("snapshot-id" -> snapId.toString, "format-version" -> "1"),
      Seq(manifestListEntry(manifestPath.toString,
        manifestBytes.length.toLong, snapId, entries.size, 0)))
    val listPath = new HPath(metaDir,
      s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
    writeBytes(fs, listPath, listBytes)
    val md = baseMetadata(root.toString, now, parts)
    md.put("last-column-id", lastColId)
    md.set[ObjectNode]("schema", schemaNode)
    md.putArray("schemas").add(schemaNode)
    md.put("current-schema-id", 0)
    md.put("current-snapshot-id", snapId)
    md.putArray("snapshots")
      .add(snapshotNode(snapId, now, "append", listPath.toString, 0))
    val mapping = om.createArrayNode()
    schemaNode.get("fields").elements().asScala().foreach { f =>
      val m = om.createObjectNode()
      m.put("field-id", f.get("id").asInt())
      m.putArray("names").add(f.get("name").asText())
      mapping.add(m)
    }
    md.path("properties") match {
      case p: ObjectNode =>
        p.put("schema.name-mapping.default", om.writeValueAsString(mapping))
        p.put("graft.delta.converted-version", st.version.toString)
      case _ => ()
    }
    writeBytes(fs, new HPath(metaDir, "v1.metadata.json"),
      om.writerWithDefaultPrettyPrinter().writeValueAsBytes(md))
    writeBytes(fs, new HPath(metaDir, "version-hint.text"),
      "1".getBytes(StandardCharsets.UTF_8))
    snapId
  }

  /** One spec-field JSON node for a partition field. */
  private def specFieldNode(p: PartField): ObjectNode = {
    val n = om.createObjectNode()
    n.put("name", p.name)
    n.put("transform", p.transform)
    n.put("source-id", p.sourceId)
    n.put("field-id", p.fieldId)
    n
  }

  /** Map a graft partition-spec entry to its Iceberg transform field,
    * or None for `bucket(n, col)` — graft's default bucket layout
    * hashes with xxhash64 while Iceberg's bucket transform mandates
    * murmur3_x86_32, so declaring the field would make foreign engines
    * prune with the WRONG hash; xxhash64 bucket layouts mirror with
    * that field omitted (a partition spec need not describe the full
    * physical layout — files simply carry no value for it). The
    * `mbucket(n, col)` layout buckets with Iceberg's own murmur3 hash
    * ([[graft.functions.IcebergBucket]]) and DOES declare a real
    * `bucket[n]` field — foreign engines keep bucket point-lookup
    * pruning on those mirrors. `days/hours/months/years` map to the
    * identically-defined Iceberg time transforms; `truncate(w, col)`
    * maps to `truncate[w]` (graft's width-prefix / floor-to-multiple
    * semantics are Iceberg's, see GraftTable.derivedPartCol). */
  private def transformField(spec: String, schema: StructType)
      : Option[(String, String, String, DataType, String)] = {
    // (icebergFieldName, transform, hiveKey, resultType, sourceColumn)
    import GraftTable.{DaysSpec, HoursSpec, MonthsSpec, YearsSpec, BucketSpec, MBucketSpec, TruncSpec}
    spec match {
      case DaysSpec(c) => Some((s"${c}_day", "day", s"__p_days_$c", DateType, c))
      case HoursSpec(c) => Some((s"${c}_hour", "hour", s"__p_hours_$c", IntegerType, c))
      case MonthsSpec(c) => Some((s"${c}_month", "month", s"__p_months_$c", IntegerType, c))
      case YearsSpec(c) => Some((s"${c}_year", "year", s"__p_years_$c", IntegerType, c))
      case BucketSpec(_, _) => None
      case MBucketSpec(n, c) =>
        Some((s"${c}_bucket", s"bucket[$n]", s"__p_mbucket_${n}_$c",
          IntegerType, c))
      case TruncSpec(w, c) =>
        Some((s"${c}_trunc", s"truncate[$w]", s"__p_trunc_${w}_$c",
          schema(c).dataType, c))
      case c => Some((c, "identity", c, schema(c).dataType, c))
    }
  }

  /** Typed Iceberg partition value for a TRANSFORM field, from the hive
    * segment's raw (unescaped) grain. Graft renders time grains with
    * the session's clock rules and graft sessions pin
    * `spark.sql.session.timeZone=UTC` (Sessions/Bench/Verify), so the
    * grains are the UTC values the Iceberg time transforms define
    * ("days/hours/… from 1970-01-01 UTC"); [[mirrorToIceberg]] refuses
    * non-UTC sessions rather than record values a foreign engine would
    * re-derive differently. */
  private def transformValue(p: PartField, raw: String): AnyRef =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else p.transform match {
      case "identity" => partValue(p.dt, raw)
      case "day" =>
        Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
      case "hour" => // grain "yyyy-MM-dd-HH"
        val d = java.time.LocalDate.parse(raw.take(10))
        Integer.valueOf((d.toEpochDay * 24 + raw.drop(11).toInt).toInt)
      case "month" => // grain "yyyy-MM"
        Integer.valueOf((raw.take(4).toInt - 1970) * 12 + raw.drop(5).toInt - 1)
      case "year" => Integer.valueOf(raw.toInt - 1970)
      case t if t.startsWith("truncate") => partValue(p.dt, raw)
      case t if t.startsWith("bucket") => // foreign tables' bucket ordinals
        Integer.valueOf(raw.toInt)
      case other => throw new IllegalStateException(s"unmapped transform $other")
    }

  private def unescapeHive(s: String): String = HivePath.unescape(s)

  /** Typed partition value for the Avro partition struct, from a hive
    * segment's raw (unescaped) value. */
  private def partValue(dt: DataType, raw: String): AnyRef =
    if (raw == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType => raw
      case IntegerType | ShortType | ByteType => Integer.valueOf(raw.toInt)
      case LongType => java.lang.Long.valueOf(raw.toLong)
      case BooleanType => java.lang.Boolean.valueOf(raw.toBoolean)
      case DateType => // Iceberg date = int days since epoch
        Integer.valueOf(java.time.LocalDate.parse(raw).toEpochDay.toInt)
      case other => throw new IllegalArgumentException(
        s"identity partition column type $other is not supported")
    }

  /** Static v1 table-metadata skeleton shared by export and mirror:
    * identity partition spec (empty for unpartitioned), unsorted
    * order, empty logs. */
  private def baseMetadata(location: String, now: Long,
      parts: Seq[PartField] = Nil): ObjectNode = {
    val md = om.createObjectNode()
    md.put("format-version", 1)
    md.put("table-uuid", java.util.UUID.randomUUID().toString)
    md.put("location", location)
    md.put("last-updated-ms", now)
    val flat = md.putArray("partition-spec")
    parts.foreach(p => flat.add(specFieldNode(p)))
    val specs = md.putArray("partition-specs")
    val spec0 = om.createObjectNode()
    spec0.put("spec-id", 0)
    val sf = spec0.putArray("fields")
    parts.foreach(p => sf.add(specFieldNode(p)))
    specs.add(spec0)
    md.put("default-spec-id", 0)
    md.put("last-partition-id", 999 + parts.size)
    val orders = md.putArray("sort-orders")
    val order0 = om.createObjectNode()
    order0.put("order-id", 0)
    order0.putArray("fields")
    orders.add(order0)
    md.put("default-sort-order-id", 0)
    md.putObject("properties")
    md.putArray("snapshot-log")
    md.putArray("metadata-log")
    md
  }

  private def snapshotNode(snapId: Long, tsMs: Long, operation: String,
      manifestList: String, schemaId: Int,
      addedFilesSize: Long = -1L, addedDataFiles: Int = -1,
      addedRecords: Long = -1L, parentId: Long = -1L): ObjectNode = {
    val snap = om.createObjectNode()
    snap.put("snapshot-id", snapId)
    if (parentId >= 0) snap.put("parent-snapshot-id", parentId)
    snap.put("timestamp-ms", tsMs)
    val summary = snap.putObject("summary")
    summary.put("operation", operation)
    // spec summary metrics (string-valued): what byte-based streaming
    // admission (maxBytesPerTrigger) and engine planners read
    if (addedFilesSize >= 0)
      summary.put("added-files-size", addedFilesSize.toString)
    if (addedDataFiles >= 0)
      summary.put("added-data-files", addedDataFiles.toString)
    if (addedRecords >= 0)
      summary.put("added-records", addedRecords.toString)
    snap.put("manifest-list", manifestList)
    snap.put("schema-id", schemaId)
    snap
  }

  /** Zero-copy Iceberg mirror — publish a live GraftTable AS a
    * file-based Iceberg table (the UniForm-style dual-format idea,
    * Iceberg side): maintain `metadata/` inside the table root whose
    * snapshots reference the graft data files IN PLACE — one Iceberg
    * snapshot + metadata version per graft commit, no data copied.
    * After a sync, `t.root` opens in any Iceberg client (and in
    * [[readIceberg]]) with the same content as `t.read()`, and
    * `asOfSnapshotId = graftVersion + 1` time-travels the history.
    *
    *  - Each sync writes ONE manifest covering the commit's full live
    *    file set (files new in the commit are ADDED, carried files
    *    EXISTING) plus its manifest list and `v<N>.metadata.json` —
    *    O(#live-files) driver-side metadata per commit; incremental
    *    manifest reuse is the upgrade path, not a format change.
    *  - Partition layouts mirror as a REAL Iceberg partition spec:
    *    identity columns declare identity fields (each data file's
    *    manifest entry carries its typed partition struct parsed from
    *    the hive `col=value` segments, and readers take the column
    *    values from that struct per the spec's Column Projection
    *    rule 2 — the same mechanism Hive-migrated Iceberg tables use,
    *    so the files NOT carrying the column is fully legal), and
    *    `days/hours/months/years/truncate` layouts declare the
    *    identically-defined Iceberg transforms with their typed values
    *    (epoch-relative ints for the time transforms — graft sessions
    *    pin UTC, and non-UTC sessions refuse). Only `bucket(n, col)`
    *    fields are omitted from the spec (graft buckets with xxhash64,
    *    Iceberg mandates murmur3 — a declared field would mis-prune);
    *    their source columns stay in the data files, so content is
    *    unaffected. Column renames refuse (physical names diverge;
    *    Iceberg handles renames by field id, which files written
    *    before the rename would contradict).
    *  - Schema changes append to the `schemas` array with a fresh
    *    schema id; unchanged schemas are reused by deep equality.
    *
    * Idempotent and incremental via version-hint.text; a concurrent
    * mirror losing the metadata-file race treats the peer's identical
    * commit as done. Returns the number of metadata versions written. */
  def mirrorToIceberg(t: GraftTable): Int = {
    val conf = t.spark.sparkContext.hadoopConfiguration
    val root = new HPath(t.root)
    val fs = root.getFileSystem(conf)
    val metaDir = new HPath(root, "metadata")
    val latest = t.latestVersion()
    require(latest >= 0, s"empty graft table at ${t.root}")
    val hint = new HPath(metaDir, "version-hint.text")
    // Current METADATA version from the hint, falling back to the
    // listing for a torn/absent hint (non-atomic stores, or a read
    // inside the delete+rename publish window). Metadata numbering is
    // DECOUPLED from graft commit numbering — [[expireSnapshots]]
    // writes extra metadata versions — so mirror progress comes from
    // the `graft.mirror.version` table property, with `metaVersion - 1`
    // as the pre-property legacy fallback.
    def listedTop: Int =
      if (!fs.exists(metaDir)) -1
      else fs.listStatus(metaDir).toSeq.map(_.getPath.getName)
        .flatMap(n => VMeta.unapplySeq(n).flatMap(_.headOption).map(_.toInt))
        .maxOption.getOrElse(-1)
    val curMeta: Int =
      if (!fs.exists(hint)) listedTop
      else try new String(readBytes(fs, hint), StandardCharsets.UTF_8)
        .trim.toIntOption.getOrElse(listedTop)
      catch { case _: java.io.FileNotFoundException => listedTop }
    var md: ObjectNode =
      if (curMeta < 0) null
      else om.readTree(readBytes(fs,
        new HPath(metaDir, s"v$curMeta.metadata.json")))
        .asInstanceOf[ObjectNode]
    val mirrored: Int =
      if (md == null) -1
      else {
        val prop = md.path("properties").path("graft.mirror.version")
        if (!prop.isMissingNode && prop.asText().toIntOption.isDefined)
          prop.asText().toInt
        else curMeta - 1
      }
    if (mirrored >= latest) return 0
    fs.mkdirs(metaDir)
    // HadoopCatalog numbering starts at v1
    var nextMeta = math.max(curMeta + 1, 1)

    // immutable dirs: list + footer-count each once per sync. A dir
    // vacuumed before its history was mirrored lists as empty (legal
    // only when a later commit removed it — same information loss
    // vacuum already caused); a LIVE dir missing on disk is corruption.
    val latestLive = t.commitAt(latest).liveDirs.toSet
    val dirCache = scala.collection.mutable.Map[String, Seq[(String, Long, Long)]]()
    // bounds once per (immutable file, schema shape) across the sync —
    // a full-manifest commit re-serializes every live entry, but only
    // NEW (path, schema) pairs pay a footer read, batched/distributed
    val boundsCache = scala.collection.mutable
      .Map[(String, Int), Option[IcebergStats.Bounds]]()
    def dirFiles(d: String): Seq[(String, Long, Long)] =
      dirCache.getOrElseUpdate(d, {
        if (!fs.exists(new HPath(root, d))) {
          require(!latestLive.contains(d),
            s"live data directory $d of ${t.root} is missing on disk")
          Nil
        } else {
          def rec(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
            fs.listStatus(p).toSeq.flatMap { st =>
              val n = st.getPath.getName
              if ((n.startsWith("_") || n.startsWith(".")) && !n.contains("=")) Nil
              else if (st.isDirectory) rec(st.getPath)
              else if (n.endsWith(".parquet")) Seq(st)
              else Nil
            }
          val sts = rec(new HPath(root, d))
          val counts = IcebergStats.countsScan(t.spark,
            sts.map(st => st.getPath.toString -> st.getPath))
          sts.map(st => (st.getPath.toString, st.getLen, counts
            .getOrElse(st.getPath.toString, footerRecordCount(conf, st))))
        }
      })

    // Field ids are allocated POSITIONALLY per schema, so they stay
    // stable only if column order does. Graft commits can record the
    // same columns in a different order (a copy-on-write rewrite of an
    // identity-partitioned table reads partition columns last) — so
    // mirror schemas canonicalize to FIRST-SEEN order, new columns
    // appended: unchanged columns keep their ids across every commit,
    // exactly Iceberg's id-stability contract.
    var nameOrder: Seq[String] =
      if (md == null) Nil
      else md.path("schema").path("fields").elements().asScala()
        .map(_.path("name").asText()).toSeq

    // Prior snapshot's manifest-list records, carried for FAST-APPEND
    // reuse: an append-only commit writes one manifest holding only the
    // NEW files and re-references the prior manifests unchanged —
    // O(|delta|) metadata per append instead of O(#live-files), the
    // way Iceberg's own fast-append scales long-lived tables. Commits
    // that remove files (delete/overwrite/compact/restore) fall back
    // to one full manifest. Recovered from the previous metadata when
    // a mirror resumes.
    var priorManifests: Seq[GenericRecord] =
      if (md == null) Nil
      else {
        val cur = md.path("current-snapshot-id").asLong(-1L)
        md.path("snapshots").elements().asScala().toSeq
          .find(_.path("snapshot-id").asLong() == cur)
          .map(sn => readAvro(readBytes(fs,
            new HPath(sn.get("manifest-list").asText()))))
          .getOrElse(Nil)
      }
    // The prior snapshot's file set must come from the MANIFESTS, not a
    // disk listing: a directory live at `mirrored` but vacuumed since
    // lists as empty, which would (a) mislabel carried files as ADDED
    // and — worse — (b) make a removing commit look append-only, so
    // stale manifests still referencing the removed files would be
    // carried into the new snapshot and deleted rows would resurrect.
    var prevFiles: Set[String] = priorManifests.flatMap { mf =>
      readAvro(readBytes(fs, new HPath(mf.get("manifest_path").toString)))
        .filter(e => longOf(e.get("status")) != 2L)
        .map(_.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString)
    }.toSet

    var written = 0
    ((mirrored + 1) to latest).foreach { v =>
      val c = t.commitAt(v)
      if (c.renames.nonEmpty)
        throw new IllegalArgumentException(
          s"cannot mirror ${t.root} to Iceberg: commit $v renames columns " +
            s"(${c.renames.map { case (o, n) => s"$o->$n" }.mkString(", ")}) — " +
            "physical parquet names diverge from the schema")
      val snapId = v + 1L
      val files = c.liveDirs.flatMap(dirFiles)
      val rawSchema = StructType(c.schemaStruct.map(_.copy(nullable = true)))
      val rawNames = rawSchema.fieldNames.toSet
      // Field ids allocate positionally over nameOrder, so a DROPPED
      // column would hand its ids to whatever column follows — breaking
      // Iceberg's never-reuse-field-ids rule and silently re-pointing
      // any partition spec source-id at a different column in foreign
      // engines. Refuse, like the rename refusal above.
      locally {
        val dropped = nameOrder.filterNot(rawNames.contains)
        if (dropped.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot mirror ${t.root} to Iceberg: commit $v drops column(s) " +
              s"${dropped.mkString(", ")} — positional field-id allocation " +
              "would reassign their Iceberg field ids to later columns, " +
              "violating the spec's never-reuse-field-ids rule")
      }
      val commitSchema = StructType(
        nameOrder.filter(rawNames.contains).map(n => rawSchema(n)) ++
          rawSchema.fields.filterNot(f => nameOrder.contains(f.name)))
      nameOrder = nameOrder.filter(rawNames.contains) ++
        commitSchema.fieldNames.filterNot(nameOrder.contains)
      val (schemaNode, lastColId) = toIcebergSchema(commitSchema)

      // The partition spec mirrors as REAL Iceberg partition fields:
      // identity columns (whose values the hive layout drops from the
      // data files — Column Projection rule 2 has readers take them
      // from the manifest's partition struct) AND derived time/truncate
      // transforms, whose Iceberg definitions graft's grains match
      // (days/hours/months/years from 1970 UTC; width truncation).
      // Only bucket fields are omitted — graft's xxhash64 bucketing is
      // not Iceberg's murmur3 bucket transform, and a declared-but-
      // differently-hashed field would mis-prune in foreign engines.
      // Values parse from the hive `key=value` path segments.
      val rawParts: Seq[PartField] =
        c.partitionBy.flatMap(transformField(_, commitSchema))
          .map { case (fname, transform, hiveKey, dt, srcCol) =>
            val sourceId = schemaNode.get("fields").elements().asScala()
              .find(_.get("name").asText() == srcCol)
              .map(_.get("id").asInt())
              .getOrElse(throw new IllegalStateException(
                s"partition source column $srcCol missing from schema of commit $v"))
            PartField(fname, sourceId, -1, dt, transform,
              if (hiveKey == fname) None else Some(hiveKey))
          }
      // ---- partition-spec EVOLUTION: resolve this commit's spec id.
      // A commit whose fields (name, transform, source-id) match a
      // recorded spec REUSES that spec and its field ids; otherwise a
      // fresh spec id is allocated — fields carried over from the
      // previous default spec keep their ids, new fields take ids
      // past last-partition-id (the never-reuse rule) — and
      // default-spec-id moves. Manifests below are stamped with their
      // own spec id, which the reader resolves per manifest.
      val existingSpecs: Seq[(Int, Seq[(String, String, Int, Int)])] =
        if (md == null) Nil
        else md.path("partition-specs").elements().asScala().toSeq.map { s =>
          s.path("spec-id").asInt(0) ->
            s.path("fields").elements().asScala().toSeq.map(f =>
              (f.path("name").asText(), f.path("transform").asText(),
                f.path("source-id").asInt(-1), f.path("field-id").asInt(-1)))
        }
      val wantSig = rawParts.map(p => (p.name, p.transform, p.sourceId))
      val (specId, parts): (Int, Seq[PartField]) = existingSpecs
        .find(_._2.map(t => (t._1, t._2, t._3)) == wantSig) match {
        case Some((id, fields)) =>
          (id, rawParts.zip(fields).map { case (p, f) => p.copy(fieldId = f._4) })
        case None if md == null =>
          (0, rawParts.zipWithIndex.map { case (p, i) =>
            p.copy(fieldId = 1000 + i) })
        case None =>
          val newId = existingSpecs.map(_._1).maxOption.getOrElse(-1) + 1
          val prevFields = existingSpecs
            .find(_._1 == md.path("default-spec-id").asInt(0))
            .map(_._2).getOrElse(Nil)
          var nextFieldId = math.max(md.path("last-partition-id").asInt(999),
            existingSpecs.flatMap(_._2.map(_._4)).maxOption.getOrElse(999))
          val resolved = rawParts.map { p =>
            prevFields.find(f =>
              (f._1, f._2, f._3) == (p.name, p.transform, p.sourceId)) match {
              case Some(f) => p.copy(fieldId = f._4)
              case None => nextFieldId += 1; p.copy(fieldId = nextFieldId)
            }
          }
          (newId, resolved)
      }
      if (parts.exists(p => Set("day", "hour", "month", "year")(p.transform))) {
        val tz = t.spark.conf.get("spark.sql.session.timeZone",
          java.util.TimeZone.getDefault.getID)
        require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
          s"cannot mirror time-transform partitions under session time zone " +
            s"'$tz': graft's grain directories render in the session zone, but " +
            "Iceberg time transforms are defined in UTC — mirror (and write) " +
            "this table from a UTC session (graft sessions pin " +
            "spark.sql.session.timeZone=UTC)")
      }
      val entrySchema =
        if (parts.isEmpty) manifestEntrySchema else manifestEntrySchemaFor(parts)
      def partValuesOf(path: String): Seq[AnyRef] = {
        val segs = path.split('/').filter(_.contains("=")).map { seg =>
          val k = seg.takeWhile(_ != '=')
          k -> unescapeHive(seg.drop(k.length + 1))
        }.toMap
        parts.map(p => segs.get(p.hiveKey).map(raw => transformValue(p, raw)).orNull)
      }

      val schemaJson = om.writeValueAsString(schemaNode)
      val schemaKey = schemaJson.hashCode
      def boundsBatch(paths: Seq[String])
          : String => Option[IcebergStats.Bounds] = {
        val missing = paths.distinct
          .filterNot(p => boundsCache.contains((p, schemaKey)))
        if (missing.nonEmpty) {
          val scanned = IcebergStats.boundsScan(t.spark,
            missing.map(p => p -> new HPath(p)), commitSchema,
            IcebergStats.fieldIdsOf(schemaNode))
          missing.foreach(p =>
            boundsCache((p, schemaKey)) = scanned.get(p).map(_._2))
        }
        p => boundsCache.getOrElse((p, schemaKey), None)
      }
      val specArr = om.createArrayNode()
      parts.foreach(p => specArr.add(specFieldNode(p)))
      val specJson = om.writeValueAsString(specArr)
      def writeManifest(ents: Seq[GenericRecord]): (HPath, Long) = {
        val bytes = writeAvro(entrySchema, Map(
          "schema" -> schemaJson, "schema-id" -> "0",
          "partition-spec" -> specJson,
          "partition-spec-id" -> specId.toString,
          "format-version" -> "1"), ents)
        val p = new HPath(metaDir, s"${java.util.UUID.randomUUID()}-m0.avro")
        writeBytes(fs, p, bytes)
        (p, bytes.length.toLong)
      }
      val fileSet = files.map(_._1).toSet
      val appendOnly = priorManifests.nonEmpty && prevFiles.nonEmpty &&
        prevFiles.subsetOf(fileSet)
      val listRecords: Seq[GenericRecord] =
        if (appendOnly && fileSet == prevFiles)
          // file-neutral commit (e.g. schema-only): reuse wholesale
          priorManifests
        else if (appendOnly) {
          val delta = files.filterNot { case (p, _, _) => prevFiles.contains(p) }
          val boundsOf = boundsBatch(delta.map(_._1))
          val ents = delta.map { case (p, size, rc) =>
            manifestEntry(entrySchema, p, size, rc, 1, snapId, partValuesOf(p),
              bounds = boundsOf(p))
          }
          val (mp, mlen) = writeManifest(ents)
          priorManifests :+
            manifestListEntry(mp.toString, mlen, snapId, delta.size, 0, specId)
        } else {
          val boundsOf = boundsBatch(files.map(_._1))
          val ents = files.map { case (p, size, rc) =>
            manifestEntry(entrySchema, p, size, rc,
              if (prevFiles.contains(p)) 0 else 1, snapId, partValuesOf(p),
              bounds = boundsOf(p))
          }
          val (mp, mlen) = writeManifest(ents)
          val added = ents.count(_.get("status") == 1)
          Seq(manifestListEntry(mp.toString, mlen, snapId,
            added, ents.size - added, specId))
        }
      prevFiles = fileSet
      val listBytes = writeAvro(manifestFileSchema,
        Map("snapshot-id" -> snapId.toString, "format-version" -> "1"),
        listRecords)
      val listPath = new HPath(metaDir,
        s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
      writeBytes(fs, listPath, listBytes)
      priorManifests = listRecords

      if (md == null) md = baseMetadata(root.toString, c.timestampMs, parts)
      // spec evolution bookkeeping: record a NEW spec, move the
      // default, refresh the v1 legacy flat field, advance
      // last-partition-id (ids are never reused across specs)
      locally {
        val specsArr = md.path("partition-specs") match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode => a
          case _ => md.putArray("partition-specs")
        }
        if (!specsArr.elements().asScala()
            .exists(_.path("spec-id").asInt(-1) == specId)) {
          val n = om.createObjectNode()
          n.put("spec-id", specId)
          val f = n.putArray("fields")
          parts.foreach(p => f.add(specFieldNode(p)))
          specsArr.add(n)
        }
        md.put("default-spec-id", specId)
        val flat = md.putArray("partition-spec")
        parts.foreach(p => flat.add(specFieldNode(p)))
        md.put("last-partition-id",
          (md.path("last-partition-id").asInt(999) +: parts.map(_.fieldId)).max)
      }
      md.put("last-updated-ms", c.timestampMs)
      // reuse a deep-equal schema's id; else append with a fresh id
      val schemas =
        if (md.has("schemas"))
          md.get("schemas").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        else md.putArray("schemas")
      val schemaId = schemas.elements().asScala()
        .find(s => s.get("fields") == schemaNode.get("fields"))
        .map(_.get("schema-id").asInt())
        .getOrElse {
          val next = schemas.elements().asScala()
            .map(_.path("schema-id").asInt(0)).maxOption.map(_ + 1).getOrElse(0)
          schemaNode.put("schema-id", next)
          schemas.add(schemaNode)
          next
        }
      md.put("current-schema-id", schemaId)
      md.set[ObjectNode]("schema", schemas.elements().asScala()
        .find(_.path("schema-id").asInt(-1) == schemaId).get.deepCopy())
      md.put("last-column-id",
        math.max(md.path("last-column-id").asInt(0), lastColId))
      // parent link BEFORE the head moves — ancestor-chain walkers
      // (changelog, streams) follow it, never the array order
      val parentSnap = md.path("current-snapshot-id").asLong(-1L)
      md.put("current-snapshot-id", snapId)
      val snaps =
        if (md.has("snapshots"))
          md.get("snapshots").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
        else md.putArray("snapshots")
      snaps.add(snapshotNode(snapId, c.timestampMs, c.action,
        listPath.toString, schemaId, parentId = parentSnap))
      // mirror progress rides the metadata (Iceberg table properties):
      // metadata version numbers diverge from graft versions once
      // expireSnapshots has written retention-only versions
      md.path("properties") match {
        case o: ObjectNode => o.put("graft.mirror.version", v.toString)
        case _ => md.putObject("properties").put("graft.mirror.version", v.toString)
      }

      // exclusive metadata-version put; a racing peer writing the same
      // version derived identical content from the same commit log
      try {
        writeBytes(fs, new HPath(metaDir, s"v$nextMeta.metadata.json"),
          om.writerWithDefaultPrettyPrinter().writeValueAsBytes(md))
        written += 1
      } catch {
        case _: java.io.IOException
          if fs.exists(new HPath(metaDir, s"v$nextMeta.metadata.json")) =>
          md = om.readTree(readBytes(fs,
            new HPath(metaDir, s"v$nextMeta.metadata.json"))).asInstanceOf[ObjectNode]
      }
      publishHint(fs, metaDir, nextMeta)
      nextMeta += 1
    }
    written
  }

  /** temp + rename, never truncate-in-place: a reader between a
    * truncate and the write would see an empty hint (Iceberg's own
    * HadoopTableOperations publishes the hint the same way). */
  private[sources] def publishHint(fs: org.apache.hadoop.fs.FileSystem,
      metaDir: HPath, version: Int): Unit = {
    val hint = new HPath(metaDir, "version-hint.text")
    val tmpHint = new HPath(metaDir,
      s".version-hint-${java.util.UUID.randomUUID()}.tmp")
    writeBytes(fs, tmpHint, version.toString.getBytes(StandardCharsets.UTF_8))
    fs.delete(hint, false)
    if (!fs.rename(tmpHint, hint)) fs.delete(tmpHint, false)
  }

  /** Claim metadata slot `v<version>.metadata.json` with `md` through
    * [[OptimisticCommit.claim]], then point the version hint at it. The
    * version has landed once the claim returns: a failing hint surfaces
    * as [[OptimisticCommit.MayHaveLanded]], so no cleanup removes what
    * the committed metadata references. */
  private def claimMetadata(io: TableIO, metaDir: HPath, version: Int,
      md: JsonNode): Unit = {
    val slot = new HPath(metaDir, s"v$version.metadata.json")
    OptimisticCommit.claim(io, slot,
      om.writerWithDefaultPrettyPrinter().writeValueAsBytes(md))
    try publishHint(io.fs, metaDir, version)
    catch {
      case e: java.io.IOException =>
        throw new OptimisticCommit.MayHaveLanded(slot, e)
    }
  }

  /** The commit base of a file-based table: the highest LISTED
    * `v<N>.metadata.json` — never the version hint, which a racing peer
    * publishes only after its exclusive write, so a loser re-reading in
    * that window would rebuild from stale state while targeting a fresh
    * slot — as (N, its parsed tree, owned by the caller). `refusal`
    * throws when no file carries that naming (catalog-managed
    * metadata). */
  private def newestListedMetadata(fs: org.apache.hadoop.fs.FileSystem,
      metaDir: HPath)(refusal: => Nothing): (Int, ObjectNode) = {
    val vTop = fs.listStatus(metaDir).iterator.flatMap { st =>
      st.getPath.getName match {
        case VMeta(n) => Some(n.toInt)
        case _ => None
      }
    }.maxOption.getOrElse(refusal)
    (vTop, om.readTree(readBytes(fs,
      new HPath(metaDir, s"v$vTop.metadata.json"))).asInstanceOf[ObjectNode])
  }

  /** Why a writer refuses a table without `v<N>.metadata.json` naming. */
  private val CatalogManaged = "the metadata is catalog-managed " +
    "(no v<N>.metadata.json / version-hint naming) — a directory " +
    "commit would be invisible to the catalog pointer"

  /** Iceberg `expire_snapshots` analog for mirrors (and exported
    * tables): retain the newest `keepLast` snapshots (always including
    * the current one), publish a new metadata version without the
    * expired ones, and physically delete what only they referenced —
    * their manifest lists, manifests referenced by NO retained
    * snapshot, and metadata versions older than the previous one.
    * Long-lived 100 TB mirrors otherwise accumulate O(#commits)
    * metadata forever. Time travel to an expired snapshot id refuses
    * loudly through [[readIceberg]]'s existing not-found path.
    * Returns the number of files deleted. */
  def expireSnapshots(t: GraftTable, keepLast: Int): Int =
    expireIcebergSnapshots(t.spark, t.root, keepLast)

  /** Path-based snapshot expiry for ANY file-based Iceberg table
    * (foreign, exported, or mirrored — [[expireSnapshots]] delegates
    * here): retain the last `keepLast` snapshots (plus the current
    * one), publish a trimmed metadata version through the optimistic
    * conditional-put protocol, and only THEN physically delete what no
    * retained snapshot references — expired manifest lists, manifests
    * referenced by no retained snapshot, metadata versions older than
    * the immediate predecessor — so a concurrent reader never holds a
    * pointer whose files died. Expired snapshot-log entries are
    * trimmed too (the spec requires log entries reference live
    * snapshots). A lost version race re-reads and retries. Returns the
    * number of files deleted. */
  /** Publish a Puffin TABLE-STATISTICS file for the CURRENT snapshot —
    * one `apache-datasketches-theta-v1` NDV sketch blob per eligible
    * top-level column (integral/date/timestamp, string, float/double)
    * — and commit a metadata version carrying the spec's `statistics`
    * entry, so a stock engine's CBO reads graft-computed NDVs. Per
    * column: one distributed bottom-(k+1) pass over DISTINCT theta
    * hashes (a sort-limit, never a full collect) feeds the KMV
    * estimator — exact below k distinct, theta-estimating above.
    * Returns column → NDV estimate. */
  def writeIcebergStatistics(spark: SparkSession, path: String,
      columns: Seq[String] = Nil, nominal: Int = 4096): Map[String, Long] = {
    import graft.functions.{ThetaHash, ThetaSketch}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    val io = new TableIO(path, conf)
    val (_, md0) = currentMetadata(spark, path)
    val currentSnap = md0.path("current-snapshot-id").asLong(-1L)
    require(currentSnap >= 0, s"no current snapshot at $path")
    val seq = md0.path("last-sequence-number").asLong(0L)
    val schemaNode = currentSchemaNode(md0, path)
    val schema = fromIcebergStruct(schemaNode, path)
    val idOf = IcebergStats.fieldIdsOf(schemaNode)
    // codegen ThetaHash expression, not a Scala UDF: the pass touches
    // every row of every eligible column of the table, so the per-row
    // kernel must stay inside whole-stage codegen
    def theta(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ColumnBridge.column(ThetaHash(ColumnBridge.expression(c)))
    val table = readIceberg(spark, path)
    val picked = schema.fields.toSeq
      .filter(f => columns.isEmpty || columns.contains(f.name))
      .flatMap { f =>
        val h: Option[org.apache.spark.sql.Column] = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType |
               DateType | TimestampType | TimestampNTZType =>
            Some(theta(col(f.name).cast("long")))
          case StringType => Some(theta(col(f.name)))
          case FloatType | DoubleType =>
            Some(theta(col(f.name).cast("double")))
          case _ => None
        }
        h.map(f.name -> _)
      }
    require(picked.nonEmpty,
      s"no statistics-eligible columns at $path among " +
        s"[${columns.mkString(", ")}]")
    val sketches = picked.map { case (name, h) =>
      val hashes = table.where(col(name).isNotNull)
        .select(h.as("__h")).distinct()
        .orderBy(col("__h")).limit(nominal + 1)
        .collect().map(_.getLong(0)).toSeq
      val sk = ThetaSketch.fromHashes(hashes, nominal)
      (name, sk, math.round(sk.estimate))
    }
    val statsPath = new HPath(metaDir,
      s"$currentSnap-${java.util.UUID.randomUUID()}.stats")
    val written = Puffin.writeStatsFile(conf, statsPath,
      sketches.map { case (name, sk, ndv) =>
        Puffin.StatsBlob("apache-datasketches-theta-v1",
          Seq(idOf(name)), currentSnap, seq,
          ThetaSketch.serialize(sk), Map("ndv" -> ndv.toString))
      })
    // commit the `statistics` entry (replacing any prior entry for
    // this snapshot) through the optimistic conditional put
    OptimisticCommit.retry("writeIcebergStatistics", path) { _ =>
      val (vTop, md) = newestListedMetadata(fs, metaDir)(
        throw new IllegalArgumentException(s"catalog-managed metadata at " +
          s"$path — commit statistics with a full Iceberg client"))
      val fresh = om.createArrayNode()
      md.path("statistics") match {
        case a: com.fasterxml.jackson.databind.node.ArrayNode =>
          val it = a.elements()
          while (it.hasNext) {
            val e = it.next()
            if (e.path("snapshot-id").asLong(-1L) != currentSnap)
              fresh.add(e)
          }
        case _ => ()
      }
      val entry = om.createObjectNode()
      entry.put("snapshot-id", currentSnap)
      entry.put("statistics-path", statsPath.toString)
      entry.put("file-size-in-bytes", written.fileSizeInBytes)
      entry.put("file-footer-size-in-bytes", written.footerSizeInBytes)
      val bm = entry.putArray("blob-metadata")
      written.blobs.foreach { case (b, _, _) =>
        val n = bm.addObject()
        n.put("type", b.blobType)
        n.put("snapshot-id", b.snapshotId)
        n.put("sequence-number", b.sequenceNumber)
        val fArr = n.putArray("fields")
        b.fields.foreach(fArr.add)
        val pn = n.putObject("properties")
        b.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
          pn.put(k, v) }
      }
      fresh.add(entry)
      md.set[JsonNode]("statistics", fresh)
      md.put("last-updated-ms", System.currentTimeMillis())
      claimMetadata(io, metaDir, vTop + 1, md)
      ()
    }
    sketches.map { case (name, _, ndv) => name -> ndv }.toMap
  }

  /** Read the CURRENT snapshot's published NDV statistics back — each
    * theta blob is decoded (not just its `ndv` property) so the
    * estimate comes from the sketch itself. */
  def readIcebergStatisticsNdv(spark: SparkSession, path: String)
      : Map[String, Long] = {
    import graft.functions.ThetaSketch
    val conf = spark.sparkContext.hadoopConfiguration
    val (_, md) = currentMetadata(spark, path)
    val currentSnap = md.path("current-snapshot-id").asLong(-1L)
    val schemaNode = currentSchemaNode(md, path)
    val nameOf: Map[Int, String] = IcebergStats.fieldIdsOf(schemaNode)
      .map(_.swap)
    val out = Map.newBuilder[String, Long]
    val it = md.path("statistics").elements()
    while (it.hasNext) {
      val e = it.next()
      if (e.path("snapshot-id").asLong(-1L) == currentSnap) {
        val sp = e.path("statistics-path").asText()
        Puffin.readFooter(conf, sp).foreach {
          case (tpe, fields, off, len, _)
              if tpe == "apache-datasketches-theta-v1" &&
                fields.size == 1 =>
            nameOf.get(fields.head).foreach { name =>
              val sk = ThetaSketch.deserialize(
                Puffin.readBlob(conf, sp, off, len))
              out += name -> math.round(sk.estimate)
            }
          case _ => ()
        }
      }
    }
    out.result()
  }

  def expireIcebergSnapshots(spark: SparkSession, path: String,
      keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    OptimisticCommit.retry("expireIcebergSnapshots", path) { _ =>
      val (curMeta, md) = newestListedMetadata(fs, metaDir)(
        throw new IllegalArgumentException(s"cannot expire snapshots at " +
          s"$path: the metadata is catalog-managed (no v<N>.metadata.json " +
          "naming)"))
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      val snaps = md.path("snapshots").elements().asScala().toSeq
      // retention order is COMMIT order, not snapshot-id order: graft
      // mirrors mint monotonic ids, but foreign Iceberg snapshot ids
      // are random longs — keep-last-N must pick by timestamp-ms
      // (sequence number, then id, break same-millisecond ties)
      val byTimeAsc = snaps.sortBy(s => (s.path("timestamp-ms").asLong(),
        s.path("sequence-number").asLong(), s.path("snapshot-id").asLong()))
      // tag/branch refs PIN their snapshots — expiry never breaks a ref
      val keepIds = (byTimeAsc.takeRight(keepLast).map(_.path("snapshot-id").asLong())
        :+ currentSnap).toSet ++ refPinnedSnapshots(md)
      val (retained, expired) = byTimeAsc.partition(s => keepIds(s.path("snapshot-id").asLong()))
      if (expired.isEmpty) 0
      else {
        def manifestsOf(listPath: String): Seq[String] =
          readAvro(readBytes(fs, new HPath(listPath)))
            .map(_.get("manifest_path").toString)
        val keepManifests = retained
          .flatMap(s => manifestsOf(s.path("manifest-list").asText())).toSet
        val doomedLists = expired.map(_.path("manifest-list").asText())
        val doomedManifests = doomedLists.flatMap(manifestsOf)
          .filterNot(keepManifests.contains).distinct

        // publish the trimmed metadata FIRST — only then delete, so a
        // concurrent reader never holds a hint whose referenced files died
        val trimmed = md.deepCopy[ObjectNode]()
        val arr = trimmed.putArray("snapshots")
        retained.foreach(s => arr.add(s))
        trimmed.path("snapshot-log") match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode =>
            val kept = a.elements().asScala().toSeq
              .filter(e => keepIds(e.path("snapshot-id").asLong()))
            val na = trimmed.putArray("snapshot-log")
            kept.foreach(na.add)
          case _ => ()
        }
        claimMetadata(io, metaDir, curMeta + 1, trimmed)
        var deleted = 0
        (doomedLists ++ doomedManifests).foreach { p =>
          if (fs.delete(new HPath(p), false)) deleted += 1
        }
        // metadata retention: keep the new version and its immediate
        // predecessor (a reader racing the hint publish may still open it)
        fs.listStatus(metaDir).toSeq.map(_.getPath).foreach { p =>
          p.getName match {
            case VMeta(n) if n.toInt < curMeta =>
              if (fs.delete(p, false)) deleted += 1
            case _ => ()
          }
        }
        deleted
      }
    }
  }

  /** APPEND `df` to an existing file-based Iceberg v1 table (foreign,
    * mirrored, or exported) as a new fast-append snapshot: write the
    * data files (field-id-stamped parquet, laid out per the table's
    * DEFAULT partition spec), one manifest holding only the new files,
    * a manifest list carrying the prior snapshot's manifests unchanged,
    * and the next `v<N>.metadata.json` through the same conditional-put
    * protocol graft's own commits use — a lost version race re-reads
    * the peer's metadata, re-carries its manifests, and retries the
    * next slot (blind appends never conflict semantically).
    *
    * Supported partition transforms: identity, day/hour/month/year
    * (UTC sessions only — the transforms are UTC-defined),
    * `truncate[w]` (string prefix / integral floor-to-multiple),
    * `bucket[n]` (true murmur3 per Appendix B via
    * [[graft.functions.IcebergHash]]), and `void`.
    *
    * Format v1, v2 AND v3 targets are supported. A v2 append maintains
    * the sequence-number bookkeeping the spec requires: the new
    * snapshot takes `last-sequence-number + 1`, the manifest list
    * carries v2-schema records (content/sequence_number/
    * min_sequence_number/row counts) with carried foreign manifests
    * keeping their own sequence numbers — existing merge-on-read
    * deletes keep applying only to OLDER data (`dataSeq < deleteSeq`),
    * never to the appended rows — and the new manifest's ADDED entries
    * leave snapshot_id/sequence_number null for the spec's inheritance
    * rule. A v3 append additionally assigns ROW LINEAGE: the snapshot
    * and data-manifest `first_row_id` take the table's `next-row-id`
    * high-water mark, which advances by the appended row count.
    * Refuses format v4+ and
    * catalog-managed metadata naming (`00000-<uuid>.metadata.json`
    * without a version hint — the catalog pointer, not the directory,
    * names the current metadata, so a directory commit would be
    * invisible). The input schema must match the table's top-level
    * columns and types exactly. Returns the committed snapshot id.
    *
    * Scale shape: one distributed parquet write; metadata is
    * O(#new files + #prior manifests) driver-side — the fast-append
    * shape that keeps long-lived table appends O(|delta|). */
  /** Resolve a table's DEFAULT partition spec into writable parts:
    * spec id, the raw spec-field nodes (serialized verbatim into
    * manifests), and (PartField, source column) pairs with the UTC
    * gate for time transforms — the layout every foreign write
    * ([[appendToIceberg]], [[updateIceberg]]) lays new files out by. */
  private def defaultSpecParts(spark: SparkSession, md: ObjectNode,
      schemaNode: JsonNode, schema: StructType,
      refuseW: String => Nothing)
      : (Int, Seq[JsonNode], Seq[(PartField, String)]) = {
    val specId = md.path("default-spec-id").asInt(0)
    val specFieldsNode: Seq[JsonNode] =
      if (md.has("partition-specs"))
        md.get("partition-specs").elements().asScala()
          .find(_.path("spec-id").asInt(0) == specId)
          .map(_.path("fields").elements().asScala().toSeq)
          .getOrElse(refuseW(s"default-spec-id $specId is absent from " +
            "partition-specs"))
      else if (md.has("partition-spec"))
        md.get("partition-spec").elements().asScala().toSeq
      else Nil
    val nameBySourceId: Map[Int, String] = schemaNode.path("fields")
      .elements().asScala()
      .map(f => f.path("id").asInt(-1) -> f.path("name").asText()).toMap
    val parts: Seq[(PartField, String)] = specFieldsNode.zipWithIndex.map {
      case (f, i) =>
        val name = f.path("name").asText()
        val transform = f.path("transform").asText()
        val srcId = f.path("source-id").asInt(-1)
        val fieldId = f.path("field-id").asInt(1000 + i)
        val src = nameBySourceId.getOrElse(srcId,
          refuseW(s"partition field '$name' sources field id $srcId, " +
            "which is not a top-level column"))
        val srcType = schema(src).dataType
        val dt: DataType = transform match {
          case "identity" => srcType
          case "day" => DateType
          case "hour" | "month" | "year" => IntegerType
          case t if TruncRe.matches(t) => srcType
          case t if BucketRe.matches(t) => IntegerType
          case "void" => StringType
          case other => refuseW(s"partition field '$name' uses " +
            s"transform '$other' this writer cannot produce")
        }
        if (Set("day", "hour", "month", "year")(transform)) {
          val tz = spark.conf.get("spark.sql.session.timeZone",
            java.util.TimeZone.getDefault.getID)
          require(
            java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
            s"cannot append under session time zone '$tz': Iceberg time " +
              "transforms are defined in UTC — append from a UTC session")
        }
        (PartField(name, srcId, fieldId, dt, transform,
          Some(s"__gp_$name")), src)
    }
    (specId, specFieldsNode, parts)
  }

  /** Distributed data-file write per a resolved spec layout: field-id-
    * stamped parquet, hive-laid-out on computed transform columns
    * (identity source columns stay in the files — real Iceberg writers
    * keep them), under a fresh `data/<dirPrefix>-<uuid>` directory.
    * Returns (directory, files with sizes + row counts, a
    * path → typed-partition-values resolver, and a path → manifest
    * bounds resolver). Row counts AND bounds are collected IN-FLIGHT
    * by the write tasks from the footers they just closed — no
    * post-write driver footer re-reads. */
  private def writeSpecData(df: DataFrame, root: HPath,
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      parts: Seq[(PartField, String)], schemaNode: JsonNode,
      schema: StructType, dirPrefix: String)
      : (HPath, Seq[(HPath, Long, Long)], HPath => Seq[AnyRef],
        HPath => Option[IcebergStats.Bounds]) = {
    def transformCol(transform: String, src: org.apache.spark.sql.Column,
        srcType: DataType): org.apache.spark.sql.Column = transform match {
      case "identity" => src
      case "day" => to_date(src)
      case "hour" => date_format(src, "yyyy-MM-dd-HH")
      case "month" => date_format(src, "yyyy-MM")
      case "year" => date_format(src, "yyyy")
      case t if TruncRe.matches(t) =>
        val w = t.stripPrefix("truncate[").stripSuffix("]").toInt
        srcType match {
          case StringType => substring(src, 1, w)
          case _ => src - pmod(src, lit(w))
        }
      case t if BucketRe.matches(t) =>
        val n = t.stripPrefix("bucket[").stripSuffix("]").toInt
        graft.functions.IcebergHash.iceberg_bucket(n, src)
      case "void" => lit(null).cast(StringType)
      case other => throw new IllegalStateException(s"unmapped $other")
    }
    val annotated = annotateFieldIds(
      StructType(schema.fieldNames.map(df.schema(_))), schemaNode)
    // v3 row lineage: MATERIALIZED _row_id / _last_updated_sequence_
    // number columns ride through rewrites under their spec-reserved
    // field ids (2147483540 / 2147483539)
    val lineagePass: Seq[(String, Long)] = Seq(
      "_row_id" -> 2147483540L,
      "_last_updated_sequence_number" -> 2147483539L)
      .filter { case (n, _) => df.schema.fieldNames.contains(n) }
    if (lineagePass.nonEmpty)
      df.sparkSession.conf.set(
        "spark.sql.parquet.fieldId.write.enabled", "true")
    val ordered = df.select(annotated.fields.toSeq.map(f =>
      col(f.name).as(f.name, f.metadata)) ++
      lineagePass.map { case (n, id) =>
        col(n).cast("long").as(n,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id).build())
      }: _*)
    val withParts = parts.foldLeft(ordered) { case (d, (p, src)) =>
      d.withColumn(p.hiveKey, transformCol(p.transform, col(src),
        schema(src).dataType))
    }
    val dataDir = new HPath(new HPath(root, "data"),
      s"$dirPrefix-${java.util.UUID.randomUUID()}")
    val payloads = IcebergStats.writeWithBounds(withParts,
      dataDir.toString, parts.map(_._1.hiveKey),
      schema, IcebergStats.fieldIdsOf(schemaNode))
    def listParquet(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { f =>
        val n = f.getPath.getName
        if ((n.startsWith("_") || n.startsWith(".")) && !n.contains("=")) Nil
        else if (f.isDirectory) listParquet(f.getPath)
        else if (n.endsWith(".parquet")) Seq(f)
        else Nil
      }
    val qDir = fs.makeQualified(dataDir).toString
    def relOf(p: HPath): String = {
      val s = p.toString
      if (s.startsWith(qDir + "/")) s.drop(qDir.length + 1) else p.getName
    }
    val statusList = listParquet(dataDir)
    val files = statusList.map { f =>
      val rc = payloads.get(relOf(f.getPath)).map(_._1)
        .getOrElse(footerRecordCount(conf, f))
      (f.getPath, f.getLen, rc)
    }
    val boundsByPath: Map[HPath, IcebergStats.Bounds] =
      statusList.flatMap(f =>
        payloads.get(relOf(f.getPath)).map(f.getPath -> _._2)).toMap
    def partValuesOf(p: HPath): Seq[AnyRef] = {
      val segs = p.toString.split('/').filter(_.contains("=")).map { seg =>
        val k = seg.takeWhile(_ != '=')
        k -> unescapeHive(seg.drop(k.length + 1))
      }.toMap
      parts.map { case (pf, _) =>
        segs.get(pf.hiveKey).map(raw => transformValue(pf, raw)).orNull
      }
    }
    (dataDir, files, partValuesOf, boundsByPath.get _)
  }

  def appendToIceberg(df: DataFrame, path: String,
      txn: Option[(String, Long)] = None,
      mergeSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")

    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot append to Iceberg table at $path: $what — write it with a " +
        "full Iceberg client")

    case class State(md: ObjectNode, metaVersion: Int, schemaNode: JsonNode,
        schemaId: Int, schema: StructType, specId: Int,
        specFieldsNode: Seq[JsonNode], parts: Seq[(PartField, String)],
        currentSnap: Long, priorManifests: Seq[GenericRecord],
        formatVersion: Int, lastSeq: Long)

    // the effective input: `df` plus any v3 write-default columns this
    // writer fills (set by validate(), which knows the table schema)
    var dfW: DataFrame = df
    def validate(): State = {
      require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
      val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
      val fv = md.path("format-version").asInt(1)
      if (fv > 3)
        refuseW(s"the table is format version $fv — this writer produces " +
          "v1-v3 appends only")
      var schemaNode = currentSchemaNode(md, path)
      var schemaId = md.path("current-schema-id").asInt(
        schemaNode.path("schema-id").asInt(0))
      var schema = fromIcebergStruct(schemaNode, path)
      // v3 write-default: an omitted column with a declared
      // write-default is FILLED by this writer (the spec's writer
      // obligation when a row omits the column) — BEFORE the
      // mergeSchema branch, so widening appends get the fill too; any
      // other omission keeps refusing below
      val writeDefaults: Map[String, JsonNode] = schemaNode.path("fields")
        .elements().asScala().flatMap { f =>
          Option(f.get("write-default")).filterNot(_.isNull)
            .map(v => f.path("name").asText() -> v)
        }.toMap
      dfW = (schema.fieldNames.toSet -- df.schema.fieldNames.toSet)
        .intersect(writeDefaults.keySet).foldLeft(df) { (d, name) =>
          val dt = schema(name).dataType
          d.withColumn(name,
            jsonSingleValueLiteral(dt, writeDefaults(name)).getOrElse(
              refuseW(s"column '$name' declares a write-default " +
                s"${writeDefaults(name).toString} this writer cannot " +
                s"render as ${dt.simpleString}")))
        }
      // mergeSchema: the input's extra columns WIDEN the schema in
      // this same commit (next field ids, schemas-array bookkeeping);
      // deterministic re-derivation keeps lost races convergent
      val extras = dfW.schema.fields.filterNot(f =>
        schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      if (extras.nonEmpty && mergeSchema) {
        require((schema.fieldNames.toSet -- dfW.schema.fieldNames.toSet)
          .isEmpty,
          s"append schema mismatch at $path: input lacks table columns " +
            s"[${(schema.fieldNames.toSet -- dfW.schema.fieldNames.toSet)
              .mkString(", ")}] — mergeSchema only ADDS columns")
        val widened = schemaNode.deepCopy[ObjectNode]()
        var nextId = md.path("last-column-id").asInt(0)
        extras.foreach { f =>
          nextId += 1
          val fn = om.createObjectNode()
          fn.put("id", nextId)
          fn.put("name", f.name)
          fn.put("required", false)
          fn.put("type", primitiveIcebergType(f.dataType,
            s"cannot mergeSchema-append column '${f.name}' to $path"))
          widened.get("fields")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
            .add(fn)
        }
        publishSchema(md, widened, nextId)
        schemaNode = currentSchemaNode(md, path)
        schemaId = md.path("current-schema-id").asInt(0)
        schema = fromIcebergStruct(schemaNode, path)
      } else
        // the fill above already covered write-defaulted omissions;
        // anything still missing (or extra, without mergeSchema) is a
        // genuine mismatch
        require(schema.fieldNames.toSet == dfW.schema.fieldNames.toSet,
          s"append schema mismatch at $path: table columns " +
            s"[${schema.fieldNames.mkString(", ")}], input columns " +
            s"[${df.schema.fieldNames.mkString(", ")}]" +
            (if (extras.nonEmpty) " — pass mergeSchema=true to widen"
             else ""))
      schema.fields.foreach { f =>
        val have = dfW.schema(f.name).dataType
        require(f.dataType == have,
          s"append schema mismatch at $path: column '${f.name}' is " +
            s"${f.dataType.simpleString} in the table, ${have.simpleString} " +
            "in the input — cast before appending")
      }
      val (specId, specFieldsNode, parts) =
        defaultSpecParts(spark, md, schemaNode, schema, refuseW)
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      val priorManifests: Seq[GenericRecord] =
        md.path("snapshots").elements().asScala().toSeq
          .find(_.path("snapshot-id").asLong() == currentSnap)
          .map(sn => readAvro(readBytes(fs,
            new HPath(sn.get("manifest-list").asText())))
            .map(r =>
              if (fv == 3) reserializeManifestFileV2(r, specId, currentSnap,
                manifestFileSchemaV3)
              else if (fv == 2)
                reserializeManifestFileV2(r, specId, currentSnap)
              else reserializeManifestFile(r, specId)))
          .getOrElse(Nil)
      State(md, vTop, schemaNode, schemaId, schema, specId,
        specFieldsNode, parts, currentSnap, priorManifests, fv,
        md.path("last-sequence-number").asLong(0L))
    }
    // txn mode: the watermark lives in TABLE PROPERTIES
    // (graft.txn.<appId>), which survive snapshot expiry — unlike
    // summary-based watermarks
    def txnWatermark(md: ObjectNode): Long = txn.map { case (app, _) =>
      Option(md.path("properties").get(s"graft.txn.$app"))
        .map(_.asText().toLong).getOrElse(-1L)
    }.getOrElse(-1L)
    def alreadyApplied(md: ObjectNode): Boolean =
      txn.exists { case (_, tv) => txnWatermark(md) >= tv }

    var st = validate()
    if (alreadyApplied(st.md)) return st.currentSnap

    val (dataDir, files, partValuesOf, inflightBounds) =
      writeSpecData(dfW, root, fs, conf,
        st.parts, st.schemaNode, st.schema, "graft-append")
    OptimisticCommit.cleaningUp(fs.delete(dataDir, true)) {
      val partFields = st.parts.map(_._1)
      val v2 = st.formatVersion >= 2 // v3 appends are v2-shaped + lineage
      val v3 = st.formatVersion == 3
      val entrySchema =
        if (v2) manifestEntrySchemaV2For(partFields)
        else if (partFields.isEmpty) manifestEntrySchema
        else manifestEntrySchemaFor(partFields)
      // serialize the table's OWN spec fields verbatim — same field
      // ids, names, transforms the table declares
      val specArr = om.createArrayNode()
      st.specFieldsNode.foreach(f => specArr.add(f.deepCopy[JsonNode]()))
      val snapIdOf: ObjectNode => Long = m =>
        m.path("snapshots").elements().asScala()
          .map(_.path("snapshot-id").asLong(0L)).maxOption.getOrElse(0L) + 1L

      // bounds collected in-flight by the write tasks — attempts
      // re-serialize entries but the file contents (and so the bounds)
      // never change across retries
      val boundsByPath: Map[HPath, Option[IcebergStats.Bounds]] =
        files.map { case (p, _, _) => p -> inflightBounds(p) }.toMap

      OptimisticCommit.retry("appendToIceberg", path) { lost =>
        if (lost > 0) {
          // a peer landed this version: re-validate against ITS state
          // (schema/spec may have changed; its manifests now carry)
          val fresh = validate()
          if (!alreadyApplied(fresh.md))
            require(fresh.schemaNode == st.schemaNode &&
              fresh.specFieldsNode == st.specFieldsNode &&
              fresh.specId == st.specId,
              s"table at $path changed schema or partition spec during " +
                "the append — retry the append against the new state")
          st = fresh
        }
        if (lost > 0 && alreadyApplied(st.md)) {
          // the peer WAS this appId's batch — drop our data copy
          fs.delete(dataDir, true)
          st.currentSnap
        } else {
          val snapId = snapIdOf(st.md)
          val newSeq = st.lastSeq + 1
          val now = System.currentTimeMillis()
          // the manifest is (re)written per attempt: its v1 entries embed
          // the adding snapshot's id, which moves when a lost race bumps
          // the id past the peer's (v2 entries inherit both ids as null)
          val ents = files.map { case (p, size, rc) =>
            if (v2) manifestEntryV2(entrySchema, p.toString, size, rc,
              partValuesOf(p), bounds = boundsByPath(p))
            else manifestEntry(entrySchema, p.toString, size, rc, 1, snapId,
              partValuesOf(p), bounds = boundsByPath(p))
          }
          val manifestMeta = Map(
            "schema" -> om.writeValueAsString(st.schemaNode),
            "schema-id" -> st.schemaId.toString,
            "partition-spec" -> om.writeValueAsString(specArr),
            "partition-spec-id" -> st.specId.toString,
            "format-version" -> st.formatVersion.toString) ++
            (if (v2) Map("content" -> "data") else Map.empty)
          val manifestBytes = writeAvro(entrySchema, manifestMeta, ents)
          val manifestPath = new HPath(metaDir,
            s"${java.util.UUID.randomUUID()}-m0.avro")
          writeBytes(fs, manifestPath, manifestBytes)
          // v3 ROW LINEAGE: this append's rows take ids from the table's
          // next-row-id high-water mark (data files inherit through the
          // manifest-list entry's first_row_id); delete-free, so only the
          // new data manifest assigns
          val addedRows = files.map(_._3).sum
          val rowIdBase: Option[Long] =
            if (v3 && st.md.has("next-row-id"))
              Some(st.md.get("next-row-id").asLong())
            else None
          val newListRecord: GenericRecord =
            if (v2) {
              val mf = new GenericData.Record(
                if (v3) manifestFileSchemaV3 else manifestFileSchemaV2)
              mf.put("manifest_path", manifestPath.toString)
              mf.put("manifest_length", manifestBytes.length.toLong)
              mf.put("partition_spec_id", st.specId)
              mf.put("content", 0)
              mf.put("sequence_number", newSeq)
              mf.put("min_sequence_number", newSeq)
              mf.put("added_snapshot_id", snapId)
              mf.put("added_files_count", files.size)
              mf.put("existing_files_count", 0)
              mf.put("deleted_files_count", 0)
              mf.put("added_rows_count", addedRows)
              mf.put("existing_rows_count", 0L)
              mf.put("deleted_rows_count", 0L)
              rowIdBase.foreach(b =>
                mf.put("first_row_id", java.lang.Long.valueOf(b)))
              mf
            } else manifestListEntry(
              manifestPath.toString, manifestBytes.length.toLong, snapId,
              files.size, 0, st.specId)
          val listRecords = st.priorManifests :+ newListRecord
          val listMeta = Map("snapshot-id" -> snapId.toString,
            "format-version" -> st.formatVersion.toString) ++
            (if (v2) Map("sequence-number" -> newSeq.toString) else Map.empty)
          val listBytes = writeAvro(
            if (v3) manifestFileSchemaV3
            else if (v2) manifestFileSchemaV2 else manifestFileSchema,
            listMeta, listRecords)
          val listPath = new HPath(metaDir,
            s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
          writeBytes(fs, listPath, listBytes)
          val md = st.md
          md.put("last-updated-ms", now)
          md.put("current-snapshot-id", snapId)
          if (v2) md.put("last-sequence-number", newSeq)
          val snaps =
            if (md.has("snapshots"))
              md.get("snapshots")
                .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
            else md.putArray("snapshots")
          val sn = snapshotNode(snapId, now, "append", listPath.toString,
            st.schemaId, addedFilesSize = files.map(_._2).sum,
            addedDataFiles = files.size, addedRecords = addedRows)
          if (v2) sn.put("sequence-number", newSeq)
          if (st.currentSnap >= 0) sn.put("parent-snapshot-id", st.currentSnap)
          rowIdBase.foreach { b =>
            sn.put("first-row-id", b)
            md.put("next-row-id", b + addedRows)
          }
          snaps.add(sn)
          md.path("snapshot-log") match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode =>
              val e = om.createObjectNode()
              e.put("timestamp-ms", now); e.put("snapshot-id", snapId)
              a.add(e)
            case _ => ()
          }
          txn.foreach { case (app, tv) =>
            md.path("properties") match {
              case p: ObjectNode => p.put(s"graft.txn.$app", tv.toString)
              case _ => md.putObject("properties")
                .put(s"graft.txn.$app", tv.toString)
            }
          }
          // a lost slot: this attempt's manifest and list go
          OptimisticCommit.cleaningUp {
            fs.delete(listPath, false)
            fs.delete(manifestPath, false)
          } {
            claimMetadata(io, metaDir, st.metaVersion + 1, md)
          }
          snapId
        }
      }
    }
  }

  /** IDEMPOTENT append — [[appendToIceberg]] with an exactly-once
    * watermark in TABLE PROPERTIES (`graft.txn.<appId>` = version, the
    * property analog of Flink's checkpoint-id summary convention, but
    * robust to snapshot expiry): an append at-or-below the recorded
    * watermark is a no-op, and the watermark re-checks after every
    * lost version race, so a restarted twin can never double-apply a
    * batch. [[exactlyOnceIcebergAppender]] packages it for
    * `foreachBatch` streaming. */
  def appendToIcebergTxn(df: DataFrame, path: String, appId: String,
      txnVersion: Long): Long =
    appendToIceberg(df, path, Some((appId, txnVersion)))

  /** The appId's last committed watermark at `path`, or -1. */
  def lastIcebergTxnVersion(spark: SparkSession, path: String,
      appId: String): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    val (_, md) = newestListedMetadata(fs, metaDir)(
      throw new IllegalArgumentException(s"catalog-managed metadata at $path"))
    Option(md.path("properties").get(s"graft.txn.$appId"))
      .map(_.asText().toLong).getOrElse(-1L)
  }

  /** EXACTLY-ONCE streaming into a foreign Iceberg table — the
    * `foreachBatch` companion of [[appendToIcebergTxn]]. */
  def exactlyOnceIcebergAppender(path: String, appId: String)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => {
      appendToIcebergTxn(batch, path, appId, batchId)
      ()
    }

  /** DELETE the rows matching `condition` from an existing file-based
    * Iceberg FORMAT-V2 table by publishing a MERGE-ON-READ position-
    * delete snapshot — the shape Spark's own MoR `DELETE FROM` writes:
    *
    *  - one distributed lineage scan ([[readIcebergInternal]], existing
    *    position/equality deletes already applied) finds the matching
    *    rows' (data file, position) coordinates;
    *  - they are written as position delete parquet files (columns
    *    `file_path`/`pos` with the spec's reserved field ids
    *    2147483546/2147483545, sorted by file then position) under an
    *    UNPARTITIONED spec — the spec's global-delete rule applies them
    *    to every partition, so no partition-struct bookkeeping can
    *    drift; the unpartitioned spec is added to `partition-specs` if
    *    the table doesn't already declare one (default-spec-id does NOT
    *    move);
    *  - the new snapshot (operation `delete`) takes `last-sequence-
    *    number + 1`; its manifest list re-carries the prior snapshot's
    *    manifests with their own sequence numbers and adds ONE delete
    *    manifest (content 1) at the new sequence number — appended-
    *    later data keeps sequencing above it.
    *
    * No data file is rewritten or removed — cost is proportional to
    * the DELETED row count, the right shape for sparse deletes at
    * 100 TB (compaction is the amortized cleanup, as in Iceberg
    * itself). Format v1 refuses (v1 has no delete files — use a full
    * client's copy-on-write DELETE). A lost version race recomputes
    * the whole delete against the peer's state, bounded by
    * [[OptimisticCommit]]; a no-match delete commits nothing. Returns the
    * committed (or, for a no-op, the current) snapshot id. */
  def deleteFromIceberg(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    // format v3 deletes write DELETION VECTORS, not position deletes
    if (currentMetadata(spark, path)._2.path("format-version").asInt(1) == 3)
      return deleteFromIcebergV3(spark, path, condition)

    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot delete from Iceberg table at $path: $what — write it with " +
        "a full Iceberg client")
    def qualified(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }

    OptimisticCommit.retry("deleteFromIceberg", path) { _ =>
      val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
      val fv = md.path("format-version").asInt(1)
      if (fv != 2)
        refuseW(s"the table is format version $fv — row-level deletes " +
          "need v2 merge-on-read position deletes")
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      if (currentSnap < 0) currentSnap
      else {
        val newSeq = md.path("last-sequence-number").asLong(0L) + 1
        val schemaNode = currentSchemaNode(md, path)
        val schemaId = md.path("current-schema-id").asInt(
          schemaNode.path("schema-id").asInt(0))
        // the lineage scan must see the LISTED version — catch the
        // hint up first (idempotent; readers fall back to it anyway)
        publishHint(fs, metaDir, vTop)
        val snapNode = md.get("snapshots").elements().asScala()
          .find(_.get("snapshot-id").asLong() == currentSnap)
          .getOrElse(refuseW(s"current snapshot $currentSnap missing from " +
            "the snapshots array"))
        val priorList = readAvro(readBytes(fs,
          new HPath(snapNode.get("manifest-list").asText())))
        // manifest file-path URIs bridge the scan's qualified
        // _metadata paths back to the strings delete files must carry
        val filePaths: Seq[String] = priorList
          .filter(r => fieldOpt(r, "content").map(longOf).getOrElse(0L) == 0L)
          .map(_.get("manifest_path").toString)
          .flatMap { mp =>
            readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
              if (longOf(e.get("status")) == 2L) None
              else Some(e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString)
            }
          }.distinct

        // ---- distributed: matched rows -> position delete parquet ----
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        import spark.implicits._
        val pathMap = filePaths.map(p => (qualified(p), p))
          .toDF("__fp", "__uri")
        def reservedId(id: Long) =
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id).build()
        val matched = readIcebergInternal(spark, path, None, None,
            withLineage = true, pruneWhere = Some(condition))
          .where(condition)
          .join(pathMap, Seq("__fp"))
          .select(col("__uri").as("file_path", reservedId(2147483546L)),
            col("__pos").as("pos", reservedId(2147483545L)))
          .sortWithinPartitions(col("file_path"), col("pos"))
        val delDir = new HPath(new HPath(root, "data"),
          s"graft-delete-${java.util.UUID.randomUUID()}")
        val delCounts = IcebergStats.writeWithCounts(
          matched, delDir.toString)
        val delFiles = fs.listStatus(delDir).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(f => (f.getPath, f.getLen, delCounts
            .getOrElse(f.getPath.getName, footerRecordCount(conf, f))))
          .filter(_._3 > 0)
        if (delFiles.isEmpty) {
          fs.delete(delDir, true)
          currentSnap // nothing matched: no commit
        } else {
          // unpartitioned spec for the GLOBAL position deletes
          val specsArr = md.path("partition-specs") match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode => a
            case _ => md.putArray("partition-specs")
          }
          val unpartSpecId = specsArr.elements().asScala()
            .find(_.path("fields").size() == 0)
            .map(_.path("spec-id").asInt(0))
            .getOrElse {
              val id = specsArr.elements().asScala()
                .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1) + 1
              val n = om.createObjectNode()
              n.put("spec-id", id); n.putArray("fields")
              specsArr.add(n)
              id
            }
          val entrySchema = manifestEntrySchemaV2For(Nil)
          val snapId = md.path("snapshots").elements().asScala()
            .map(_.path("snapshot-id").asLong(0L)).maxOption.getOrElse(0L) + 1L
          val now = System.currentTimeMillis()
          val ents = delFiles.map { case (p, size, rc) =>
            manifestEntryV2(entrySchema, p.toString, size, rc, Nil,
              content = 1)
          }
          val manifestBytes = writeAvro(entrySchema, Map(
            "schema" -> om.writeValueAsString(schemaNode),
            "schema-id" -> schemaId.toString,
            "partition-spec" -> "[]",
            "partition-spec-id" -> unpartSpecId.toString,
            "format-version" -> "2",
            "content" -> "deletes"), ents)
          val manifestPath = new HPath(metaDir,
            s"${java.util.UUID.randomUUID()}-m0.avro")
          writeBytes(fs, manifestPath, manifestBytes)
          val delRecord = {
            val mf = new GenericData.Record(manifestFileSchemaV2)
            mf.put("manifest_path", manifestPath.toString)
            mf.put("manifest_length", manifestBytes.length.toLong)
            mf.put("partition_spec_id", unpartSpecId)
            mf.put("content", 1)
            mf.put("sequence_number", newSeq)
            mf.put("min_sequence_number", newSeq)
            mf.put("added_snapshot_id", snapId)
            mf.put("added_files_count", delFiles.size)
            mf.put("existing_files_count", 0)
            mf.put("deleted_files_count", 0)
            mf.put("added_rows_count", delFiles.map(_._3).sum)
            mf.put("existing_rows_count", 0L)
            mf.put("deleted_rows_count", 0L)
            mf
          }
          val defaultSpecId = md.path("default-spec-id").asInt(0)
          val listRecords = priorList.map(
            reserializeManifestFileV2(_, defaultSpecId, currentSnap)) :+
            delRecord
          val listBytes = writeAvro(manifestFileSchemaV2,
            Map("snapshot-id" -> snapId.toString, "format-version" -> "2",
              "sequence-number" -> newSeq.toString), listRecords)
          val listPath = new HPath(metaDir,
            s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
          writeBytes(fs, listPath, listBytes)
          md.put("last-updated-ms", now)
          md.put("current-snapshot-id", snapId)
          md.put("last-sequence-number", newSeq)
          val snaps = md.get("snapshots")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
          val sn = snapshotNode(snapId, now, "delete", listPath.toString,
            schemaId)
          sn.put("sequence-number", newSeq)
          sn.put("parent-snapshot-id", currentSnap)
          snaps.add(sn)
          md.path("snapshot-log") match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode =>
              val e = om.createObjectNode()
              e.put("timestamp-ms", now); e.put("snapshot-id", snapId)
              a.add(e)
            case _ => ()
          }
          // a lost slot: the matched set may have changed — clean this
          // attempt up and RECOMPUTE
          OptimisticCommit.cleaningUp {
            fs.delete(listPath, false)
            fs.delete(manifestPath, false)
            fs.delete(delDir, true)
          } {
            claimMetadata(io, metaDir, vTop + 1, md)
            snapId
          }
        }
      }
    }
  }

  /** DELETE on a FORMAT-V3 file-based Iceberg table — the v3 shape:
    * matched rows retire through Puffin DELETION VECTORS, one
    * `deletion-vector-v1` blob per affected data file, MERGED with any
    * existing DV for that file (whose manifest entry the same commit
    * retires — the spec's at-most-one-DV-per-file rule). No data file
    * is rewritten; v3 forbids adding position delete files, and a v3
    * table still carrying live parquet position deletes (a botched
    * upgrade) refuses loudly. Cost: one stats-pruned detection scan +
    * struck-row coordinates on the driver (the DV bytes themselves) —
    * the same O(|change|) class as the Delta DV delete. Dispatched
    * from [[deleteFromIceberg]]; returns the committed snapshot id. */
  private def deleteFromIcebergV3(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Long = {
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot delete from Iceberg table at $path: $what — write it with " +
        "a full Iceberg client")
    def qualified(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }

    OptimisticCommit.retry("deleteFromIceberg", path) { _ =>
      val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
      val fv = md.path("format-version").asInt(1)
      if (fv != 3)
        refuseW(s"the table changed to format version $fv mid-delete")
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      if (currentSnap < 0) currentSnap
      else {
        val newSeq = md.path("last-sequence-number").asLong(0L) + 1
        val schemaNode = currentSchemaNode(md, path)
        val schemaId = md.path("current-schema-id").asInt(
          schemaNode.path("schema-id").asInt(0))
        publishHint(fs, metaDir, vTop)
        val snapNode = md.get("snapshots").elements().asScala()
          .find(_.get("snapshot-id").asLong() == currentSnap)
          .getOrElse(refuseW(s"current snapshot $currentSnap missing from " +
            "the snapshots array"))
        val priorList = readAvro(readBytes(fs,
          new HPath(snapNode.get("manifest-list").asText())))
        def contentOf(r: GenericRecord): Long =
          fieldOpt(r, "content").map(longOf).getOrElse(0L)
        val filePaths: Seq[String] = priorList
          .filter(contentOf(_) == 0L)
          .map(_.get("manifest_path").toString)
          .flatMap { mp =>
            readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
              if (longOf(e.get("status")) == 2L) None
              else Some(e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString)
            }
          }.distinct

        // ---- distributed, stats-pruned detection scan; per-file
        // merged bitmaps built ON THE EXECUTORS (the driver never
        // holds row coordinates, only roaring bytes) ----
        import spark.implicits._
        val priorDeletes = classifyV3Deletes(fs, priorList, refuseW)
        val pathMap = filePaths.map(p => (qualified(p), p))
          .toDF("__fp", "__uri")
        val matched = readIcebergInternal(spark, path, None, None,
            withLineage = true, pruneWhere = Some(condition))
          .where(condition)
          .join(pathMap, Seq("__fp"))
          .select(col("__uri"), col("__pos"))
        val struck = DeletionVectors.serializeStruckBitmaps(matched,
          v3OldDvBytes(conf, priorDeletes))
        if (struck.isEmpty) currentSnap
        else commitV3DvSnapshot(fs, io, root, metaDir, md, vTop,
          currentSnap, newSeq, schemaNode, schemaId, priorList,
          priorDeletes, struck.toSeq, 0, Nil, Nil, _ => Nil, "delete",
          refuseW)
      }
    }
  }

  /** One prior delete manifest of a v3 table: its manifest-list record
    * and every live deletion-vector reference
    * (referenced data file, puffin path, offset, size). */
  private case class V3DeleteManifest(listRecord: GenericRecord,
      dvRefs: Seq[(String, String, Long, Long)])

  /** Classify a v3 snapshot's delete manifests — collecting live DV
    * references and refusing live parquet position deletes (v3 allows
    * only deletion vectors; a table still carrying them is a botched
    * upgrade). Shared by the v3 DELETE/UPDATE/MERGE/compact paths. */
  private def classifyV3Deletes(fs: org.apache.hadoop.fs.FileSystem,
      priorList: Seq[GenericRecord],
      refuseW: String => Nothing): Seq[V3DeleteManifest] =
    priorList
      .filter(r => fieldOpt(r, "content").map(longOf).getOrElse(0L) == 1L)
      .map { r =>
        val ents = readAvro(readBytes(fs,
          new HPath(r.get("manifest_path").toString)))
        val dvRefs = ents.flatMap { e =>
          if (longOf(e.get("status")) == 2L) None
          else {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val fmt = df.get("file_format").toString
            val content = fieldOpt(df, "content").map(longOf)
              .getOrElse(-1L)
            if (fmt.equalsIgnoreCase("puffin") && content == 1L)
              Some((fieldOpt(df, "referenced_data_file").map(_.toString)
                .getOrElse(refuseW("a deletion-vector entry misses " +
                  "referenced_data_file")),
                df.get("file_path").toString,
                fieldOpt(df, "content_offset").map(longOf).getOrElse(
                  refuseW("a deletion-vector entry misses content_offset")),
                fieldOpt(df, "content_size_in_bytes").map(longOf)
                  .getOrElse(refuseW("a deletion-vector entry misses " +
                    "content_size_in_bytes"))))
            else if (content == 1L)
              refuseW("the v3 table carries live parquet position " +
                "delete files — v3 allows only deletion vectors; " +
                "finish the upgrade by rewriting them as DVs")
            else None // equality deletes carry forward untouched
          }
        }
        V3DeleteManifest(r, dvRefs)
      }

  /** The verified serialized bitmaps of every live DV, keyed by
    * referenced data file — the broadcastable old side of the
    * executor-built bitmap merge. */
  private def v3OldDvBytes(conf: org.apache.hadoop.conf.Configuration,
      priorDeletes: Seq[V3DeleteManifest]): Map[String, Array[Byte]] =
    priorDeletes.flatMap(_.dvRefs).map { case (ref, pf, off, sz) =>
      ref -> Puffin.readDvBlobData(conf, pf, off, sz)
    }.toMap

  /** Single-attempt FORMAT-V3 merge-on-read commit, shared by the v3
    * DELETE/UPDATE/MERGE/compact paths: `struck` carries ONE
    * executor-built merged bitmap per affected data file (new strikes
    * ∪ the file's existing DV — see
    * [[DeletionVectors.serializeStruckBitmaps]]; the driver never
    * holds row coordinates), landing as Puffin DELETION VECTORS whose
    * superseded manifest entries retire (the spec's at-most-one-DV
    * rule); `newFiles` register under the default spec with footer
    * bounds and ROW LINEAGE assigned from `next-row-id`. Returns the
    * new snapshot id; a lost version race deletes this attempt's files
    * and throws `FileAlreadyExistsException` (callers recompute). */
  private def commitV3DvSnapshot(fs: org.apache.hadoop.fs.FileSystem,
      io: TableIO, root: HPath, metaDir: HPath, md: ObjectNode, vTop: Int,
      currentSnap: Long, newSeq: Long, schemaNode: JsonNode, schemaId: Int,
      priorList: Seq[GenericRecord],
      priorDeletes: Seq[V3DeleteManifest],
      struck: Seq[(String, Array[Byte], Long)],
      specId: Int, parts: Seq[(PartField, String)],
      newFiles: Seq[(HPath, Long, Long)],
      partValuesOf: HPath => Seq[AnyRef], operation: String,
      refuseW: String => Nothing,
      newBounds: HPath => Option[IcebergStats.Bounds] = null,
      newSortOrderId: Option[Int] = None): Long = {
    val conf = fs.getConf
    def contentOf(r: GenericRecord): Long =
      fieldOpt(r, "content").map(longOf).getOrElse(0L)

    val affected: Set[String] = struck.map(_._1).toSet
    val snapId = md.path("snapshots").elements().asScala()
      .map(_.path("snapshot-id").asLong(0L)).maxOption.getOrElse(0L) + 1L
    val written = scala.collection.mutable.Buffer[HPath]()
    // a lost slot: the matched set may have changed — this attempt's
    // files go, the caller recomputes
    OptimisticCommit.cleaningUp(written.foreach(p => fs.delete(p, false))) {
      // ---- DV part: one Puffin file + one v3 delete manifest ----
      val dvListRecord: Option[GenericRecord] =
        if (struck.isEmpty) None
        else {
          val puffinPath = new HPath(new HPath(root, "data"),
            s"graft-dv-${java.util.UUID.randomUUID()}.puffin")
          val blobs = Puffin.writeDvFileData(conf, puffinPath, struck,
            snapId, newSeq)
          val puffinLen = fs.getFileStatus(puffinPath).getLen
          written += puffinPath
          // global unpartitioned spec for the DV manifest
          val specsArr = md.path("partition-specs") match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode => a
            case _ => md.putArray("partition-specs")
          }
          val unpartSpecId = specsArr.elements().asScala()
            .find(_.path("fields").size() == 0)
            .map(_.path("spec-id").asInt(0))
            .getOrElse {
              val id = specsArr.elements().asScala()
                .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1) + 1
              val n = om.createObjectNode()
              n.put("spec-id", id); n.putArray("fields")
              specsArr.add(n)
              id
            }
          val dvEnts = blobs.map { b =>
            val dataFile = new GenericData.Record(
              manifestEntrySchemaV3Dv.getField("data_file").schema())
            dataFile.put("content", 1)
            dataFile.put("file_path", puffinPath.toString)
            dataFile.put("file_format", "PUFFIN")
            dataFile.put("partition", new GenericData.Record(
              dataFile.getSchema.getField("partition").schema()))
            dataFile.put("record_count", b.cardinality)
            dataFile.put("file_size_in_bytes", puffinLen)
            dataFile.put("referenced_data_file", b.referencedDataFile)
            dataFile.put("content_offset", b.offset)
            dataFile.put("content_size_in_bytes", b.sizeInBytes)
            val e = new GenericData.Record(manifestEntrySchemaV3Dv)
            e.put("status", 1) // ADDED; ids/seqs inherit
            e.put("data_file", dataFile)
            e
          }
          val dvManifestBytes = writeAvro(manifestEntrySchemaV3Dv, Map(
            "schema" -> om.writeValueAsString(schemaNode),
            "schema-id" -> schemaId.toString,
            "partition-spec" -> "[]",
            "partition-spec-id" -> unpartSpecId.toString,
            "format-version" -> "3",
            "content" -> "deletes"), dvEnts)
          val dvManifestPath = new HPath(metaDir,
            s"${java.util.UUID.randomUUID()}-m0.avro")
          writeBytes(fs, dvManifestPath, dvManifestBytes)
          written += dvManifestPath
          val mf = new GenericData.Record(manifestFileSchemaV3)
          mf.put("manifest_path", dvManifestPath.toString)
          mf.put("manifest_length", dvManifestBytes.length.toLong)
          mf.put("partition_spec_id", unpartSpecId)
          mf.put("content", 1)
          mf.put("sequence_number", newSeq)
          mf.put("min_sequence_number", newSeq)
          mf.put("added_snapshot_id", snapId)
          mf.put("added_files_count", dvEnts.size)
          mf.put("existing_files_count", 0)
          mf.put("deleted_files_count", 0)
          mf.put("added_rows_count", blobs.map(_.cardinality).sum)
          mf.put("existing_rows_count", 0L)
          mf.put("deleted_rows_count", 0L)
          Some(mf)
        }

      // ---- data part: new files under the DEFAULT spec, with bounds
      // and row-lineage inheritance from the list entry ----
      val rowIdBase: Option[Long] =
        if (md.has("next-row-id")) Some(md.get("next-row-id").asLong())
        else None
      val addedRows = newFiles.map(_._3).sum
      val dataListRecord: Option[GenericRecord] =
        if (newFiles.isEmpty) None
        else {
          val dataEntrySchema = manifestEntrySchemaV2For(parts.map(_._1))
          val specArr = om.createArrayNode()
          val specFieldsNode: Seq[JsonNode] =
            if (md.has("partition-specs"))
              md.get("partition-specs").elements().asScala()
                .find(_.path("spec-id").asInt(0) == specId)
                .map(_.path("fields").elements().asScala().toSeq)
                .getOrElse(Nil)
            else Nil
          specFieldsNode.foreach(f => specArr.add(f.deepCopy[JsonNode]()))
          // in-flight bounds from the write tasks when the caller has
          // them; footer reads only as the fallback
          val boundsOf =
            if (newBounds != null) newBounds
            else boundsFn(conf,
              fromIcebergStruct(schemaNode, metaDir.toString), schemaNode)
          val dataEnts = newFiles.map { case (p, size, rc) =>
            manifestEntryV2(dataEntrySchema, p.toString, size, rc,
              partValuesOf(p), bounds = boundsOf(p),
              sortOrderId = newSortOrderId)
          }
          val bytes = writeAvro(dataEntrySchema, Map(
            "schema" -> om.writeValueAsString(schemaNode),
            "schema-id" -> schemaId.toString,
            "partition-spec" -> om.writeValueAsString(specArr),
            "partition-spec-id" -> specId.toString,
            "format-version" -> "3",
            "content" -> "data"), dataEnts)
          val p = new HPath(metaDir, s"${java.util.UUID.randomUUID()}-m0.avro")
          writeBytes(fs, p, bytes)
          written += p
          val mf = new GenericData.Record(manifestFileSchemaV3)
          mf.put("manifest_path", p.toString)
          mf.put("manifest_length", bytes.length.toLong)
          mf.put("partition_spec_id", specId)
          mf.put("content", 0)
          mf.put("sequence_number", newSeq)
          mf.put("min_sequence_number", newSeq)
          mf.put("added_snapshot_id", snapId)
          mf.put("added_files_count", newFiles.size)
          mf.put("existing_files_count", 0)
          mf.put("deleted_files_count", 0)
          mf.put("added_rows_count", addedRows)
          mf.put("existing_rows_count", 0L)
          mf.put("deleted_rows_count", 0L)
          rowIdBase.foreach(b =>
            mf.put("first_row_id", java.lang.Long.valueOf(b)))
          Some(mf)
        }

      // rewrite prior delete manifests that carry a superseded DV:
      // same writer schema + metadata, superseded entries carried
      // with status 2 DELETED (never silently dropped — snapshot
      // expiry attributes the retired Puffin blobs to THIS snapshot);
      // a manifest whose every entry was already deleted in an older
      // snapshot drops from the list
      val defaultSpecId = md.path("default-spec-id").asInt(0)
      val carriedDeletes: Seq[GenericRecord] = priorDeletes.flatMap {
        pm =>
          val superseded = pm.dvRefs.filter(r => affected(r._1))
          if (superseded.isEmpty)
            Some(reserializeManifestFileV2(pm.listRecord,
              defaultSpecId, currentSnap, manifestFileSchemaV3))
          else {
            val mp = pm.listRecord.get("manifest_path").toString
            val (ents, wSchema, meta) =
              readAvroFull(readBytes(fs, new HPath(mp)))
            val hadLive = ents.exists(e => longOf(e.get("status")) != 2L)
            val rewritten = ents.map { e =>
              val isSuperseded = longOf(e.get("status")) != 2L && {
                val df = e.get("data_file").asInstanceOf[GenericRecord]
                df.get("file_format").toString
                  .equalsIgnoreCase("puffin") &&
                  fieldOpt(df, "referenced_data_file")
                    .exists(r => affected(r.toString))
              }
              if (isSuperseded) e.put("status", 2)
              e
            }
            if (!hadLive) None // already all-deleted in a prior snapshot
            else {
              val bytes = writeAvro(wSchema, meta, rewritten)
              val p = new HPath(metaDir,
                s"${java.util.UUID.randomUUID()}-m0.avro")
              writeBytes(fs, p, bytes)
              written += p
              val mf = reserializeManifestFileV2(pm.listRecord,
                defaultSpecId, currentSnap, manifestFileSchemaV3)
              mf.put("manifest_path", p.toString)
              mf.put("manifest_length", bytes.length.toLong)
              def rc(st: Long) = rewritten.count(e =>
                longOf(e.get("status")) == st)
              mf.put("added_files_count", rc(1L))
              mf.put("existing_files_count", rc(0L))
              mf.put("deleted_files_count", rc(2L))
              Some(mf)
            }
          }
      }
      val carriedData = priorList.filter(contentOf(_) == 0L)
        .map(reserializeManifestFileV2(_, defaultSpecId, currentSnap,
          manifestFileSchemaV3))
      val listRecords = carriedData ++ carriedDeletes ++
        dvListRecord.toSeq ++ dataListRecord.toSeq
      val listBytes = writeAvro(manifestFileSchemaV3,
        Map("snapshot-id" -> snapId.toString, "format-version" -> "3",
          "sequence-number" -> newSeq.toString), listRecords)
      val listPath = new HPath(metaDir,
        s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
      writeBytes(fs, listPath, listBytes)
      written += listPath
      val now = System.currentTimeMillis()
      md.put("last-updated-ms", now)
      md.put("current-snapshot-id", snapId)
      md.put("last-sequence-number", newSeq)
      val snaps = md.get("snapshots")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val sn = snapshotNode(snapId, now, operation, listPath.toString,
        schemaId)
      sn.put("sequence-number", newSeq)
      sn.put("parent-snapshot-id", currentSnap)
      // v3 row lineage: first-row-id is the current high-water mark;
      // it advances only by the rows the new data files carry
      rowIdBase.foreach { b =>
        sn.put("first-row-id", b)
        if (addedRows > 0) md.put("next-row-id", b + addedRows)
      }
      snaps.add(sn)
      md.path("snapshot-log") match {
        case a: com.fasterxml.jackson.databind.node.ArrayNode =>
          val e = om.createObjectNode()
          e.put("timestamp-ms", now); e.put("snapshot-id", snapId)
          a.add(e)
        case _ => ()
      }
      claimMetadata(io, metaDir, vTop + 1, md)
      snapId
    }
  }

  /** KEYED DELETE as a pure EQUALITY-DELETE commit (content 2 — the
    * Flink-CDC interop shape): `keyRows`' columns name top-level table
    * fields, and every table row equal to some key row on ALL of them
    * is struck. The key rows are written verbatim as an equality
    * delete parquet (field ids = the table's), registered through ONE
    * delete manifest at `last-sequence-number + 1` under the global
    * unpartitioned spec — NO detection scan touches the data: cost is
    * the key rows themselves, metadata-sized for keyed deletes at any
    * table size.
    *
    * The spec's sequence-number guard scopes the strike: only rows
    * whose DATA sequence number is lower than the delete's are
    * removed, so a later re-insert of the same key survives — exactly
    * how a CDC upsert stream lands deletes. NULL key values never
    * match (the reader's null-safe join treats the spec's equality
    * semantics; a null-keyed key row strikes nothing... keys should be
    * non-null identifiers). Format v1 refuses; a lost version race
    * re-reads and retries (the key set is commit-state-independent, so
    * no recompute is needed). Returns the committed snapshot id. */
  def deleteFromIcebergByKey(keyRows: DataFrame, path: String): Long = {
    require(keyRows.schema.nonEmpty,
      "deleteFromIcebergByKey needs at least one key column")
    val spark = keyRows.sparkSession
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")

    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot delete from Iceberg table at $path: $what — write it with " +
        "a full Iceberg client")

    // ---- write the equality-delete parquet ONCE (its content does
    // not depend on the commit base, unlike position deletes) ----
    var delDir: HPath = null
    var delFiles: Seq[(HPath, Long, Long)] = Nil
    var eqIds: Seq[Int] = Nil

    OptimisticCommit.cleaningUp(if (delDir != null) fs.delete(delDir, true)) {
      OptimisticCommit.retry("deleteFromIcebergByKey", path) { _ =>
        val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
        val fv = md.path("format-version").asInt(1)
        if (fv != 2 && fv != 3)
          refuseW(s"the table is format version $fv — equality deletes " +
            "need v2/v3 merge-on-read")
        val schemaNode = currentSchemaNode(md, path)
        val schemaId = md.path("current-schema-id").asInt(
          schemaNode.path("schema-id").asInt(0))
        // key columns → top-level field ids + declared types
        val topFields: Map[String, (Int, DataType)] =
          schemaNode.path("fields").elements().asScala().map { f =>
            f.path("name").asText() ->
              ((f.path("id").asInt(),
                fromIcebergType(f.path("type"), path)))
          }.toMap
        val keyCols = keyRows.schema.fieldNames.toSeq
        keyCols.foreach(c => if (!topFields.contains(c))
          refuseW(s"key column '$c' is not a top-level table column"))
        eqIds = keyCols.map(c => topFields(c)._1)

        if (delDir == null) {
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
          def reservedId(id: Long) =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id).build()
          val typed = keyRows.select(keyCols.map { c =>
            org.apache.spark.sql.functions.col(c)
              .cast(topFields(c)._2).as(c, reservedId(topFields(c)._1.toLong))
          }: _*)
          delDir = new HPath(new HPath(root, "data"),
            s"graft-eqdelete-${java.util.UUID.randomUUID()}")
          val delCounts = IcebergStats.writeWithCounts(
            typed, delDir.toString)
          delFiles = fs.listStatus(delDir).toSeq
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath, f.getLen, delCounts
              .getOrElse(f.getPath.getName, footerRecordCount(conf, f))))
            .filter(_._3 > 0)
        }
        val currentSnap = md.path("current-snapshot-id").asLong(-1L)
        if (delFiles.isEmpty) {
          fs.delete(delDir, true)
          currentSnap // no keys: no commit
        } else {
          val newSeq = md.path("last-sequence-number").asLong(0L) + 1
          publishHint(fs, metaDir, vTop)
          val priorList: Seq[GenericRecord] =
            if (currentSnap < 0) Nil
            else {
              val snapNode = md.get("snapshots").elements().asScala()
                .find(_.get("snapshot-id").asLong() == currentSnap)
                .getOrElse(refuseW(s"current snapshot $currentSnap missing " +
                  "from the snapshots array"))
              readAvro(readBytes(fs,
                new HPath(snapNode.get("manifest-list").asText())))
            }
          val specsArr = md.path("partition-specs") match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode => a
            case _ => md.putArray("partition-specs")
          }
          val unpartSpecId = specsArr.elements().asScala()
            .find(_.path("fields").size() == 0)
            .map(_.path("spec-id").asInt(0))
            .getOrElse {
              val id = specsArr.elements().asScala()
                .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1) + 1
              val n = om.createObjectNode()
              n.put("spec-id", id); n.putArray("fields")
              specsArr.add(n)
              id
            }
          val entrySchema = manifestEntrySchemaV2Eq()
          val snapId = md.path("snapshots").elements().asScala()
            .map(_.path("snapshot-id").asLong(0L)).maxOption.getOrElse(0L) + 1L
          val now = System.currentTimeMillis()
          val ents = delFiles.map { case (p, size, rc) =>
            manifestEntryV2Eq(entrySchema, p.toString, size, rc, eqIds)
          }
          val manifestBytes = writeAvro(entrySchema, Map(
            "schema" -> om.writeValueAsString(schemaNode),
            "schema-id" -> schemaId.toString,
            "partition-spec" -> "[]",
            "partition-spec-id" -> unpartSpecId.toString,
            "format-version" -> fv.toString,
            "content" -> "deletes"), ents)
          val manifestPath = new HPath(metaDir,
            s"${java.util.UUID.randomUUID()}-m0.avro")
          writeBytes(fs, manifestPath, manifestBytes)
          val listSchema =
            if (fv == 3) manifestFileSchemaV3 else manifestFileSchemaV2
          val delRecord = {
            val mf = new GenericData.Record(listSchema)
            mf.put("manifest_path", manifestPath.toString)
            mf.put("manifest_length", manifestBytes.length.toLong)
            mf.put("partition_spec_id", unpartSpecId)
            mf.put("content", 1)
            mf.put("sequence_number", newSeq)
            mf.put("min_sequence_number", newSeq)
            mf.put("added_snapshot_id", snapId)
            mf.put("added_files_count", delFiles.size)
            mf.put("existing_files_count", 0)
            mf.put("deleted_files_count", 0)
            mf.put("added_rows_count", delFiles.map(_._3).sum)
            mf.put("existing_rows_count", 0L)
            mf.put("deleted_rows_count", 0L)
            mf
          }
          val defaultSpecId = md.path("default-spec-id").asInt(0)
          val listRecords = priorList.map(
            reserializeManifestFileV2(_, defaultSpecId, currentSnap,
              listSchema)) :+ delRecord
          val listBytes = writeAvro(listSchema,
            Map("snapshot-id" -> snapId.toString,
              "format-version" -> fv.toString,
              "sequence-number" -> newSeq.toString), listRecords)
          val listPath = new HPath(metaDir,
            s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
          writeBytes(fs, listPath, listBytes)
          md.put("last-updated-ms", now)
          md.put("current-snapshot-id", snapId)
          md.put("last-sequence-number", newSeq)
          val snaps = md.get("snapshots")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
          val sn = snapshotNode(snapId, now, "delete", listPath.toString,
            schemaId)
          sn.put("sequence-number", newSeq)
          if (currentSnap >= 0) sn.put("parent-snapshot-id", currentSnap)
          // v3 row lineage: a delete-only commit holds the mark still
          if (fv == 3 && md.has("next-row-id"))
            sn.put("first-row-id", md.get("next-row-id").asLong())
          snaps.add(sn)
          md.path("snapshot-log") match {
            case a: com.fasterxml.jackson.databind.node.ArrayNode =>
              val e = om.createObjectNode()
              e.put("timestamp-ms", now); e.put("snapshot-id", snapId)
              a.add(e)
            case _ => ()
          }
          // lost race: the delete parquet stays valid (its content is
          // state-independent) — just drop this attempt's metadata files
          // and retry against the peer's state
          OptimisticCommit.cleaningUp {
            fs.delete(listPath, false)
            fs.delete(manifestPath, false)
          } {
            claimMetadata(io, metaDir, vTop + 1, md)
            snapId
          }
        }
      }
    }
  }

  /** [[manifestEntrySchemaV2For]] (unpartitioned) plus the spec's
    * `equality_ids` field (135/136) — the data_file shape equality
    * delete files require. */
  private def manifestEntrySchemaV2Eq(): AvroSchema =
    new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |${avroField("status", "\"int\"", 0)},
         |${avroField("snapshot_id", "\"long\"", 1, optional = true)},
         |${avroField("sequence_number", "\"long\"", 3, optional = true)},
         |${avroField("file_sequence_number", "\"long\"", 4, optional = true)},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |${avroField("content", "\"int\"", 134)},
         |${avroField("file_path", "\"string\"", 100)},
         |${avroField("file_format", "\"string\"", 101)},
         |{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
         |${avroField("record_count", "\"long\"", 103)},
         |${avroField("file_size_in_bytes", "\"long\"", 104)},
         |{"name":"equality_ids","field-id":135,"type":["null",{"type":"array","items":"int","element-id":136}],"default":null}
         |]}}]}""".stripMargin.replace("\n", ""))

  /** An ADDED equality-delete entry: `data_file.content` = 2, the key
    * field ids in `equality_ids`, sequence numbers left to snapshot
    * inheritance. */
  private def manifestEntryV2Eq(entrySchema: AvroSchema, filePath: String,
      size: Long, records: Long, equalityIds: Seq[Int]): GenericRecord = {
    val dataFile = new GenericData.Record(
      entrySchema.getField("data_file").schema())
    dataFile.put("content", 2)
    dataFile.put("file_path", filePath)
    dataFile.put("file_format", "PARQUET")
    val part = new GenericData.Record(
      dataFile.getSchema.getField("partition").schema())
    dataFile.put("partition", part)
    dataFile.put("record_count", records)
    dataFile.put("file_size_in_bytes", size)
    val ids = new java.util.ArrayList[Integer]()
    equalityIds.foreach(i => ids.add(Int.box(i)))
    dataFile.put("equality_ids", ids)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1) // ADDED
    e.put("data_file", dataFile)
    e
  }

  /** UPDATE the rows matching `condition` in an existing file-based
    * Iceberg FORMAT-V2 table, setting `assignments` (column → new-value
    * expression, evaluated against the PRE-update row) — published as
    * ONE atomic merge-on-read `overwrite` snapshot, the shape Spark's
    * MoR UPDATE writes: position delete files retire the old row
    * versions (global unpartitioned spec, as in [[deleteFromIceberg]])
    * and new data files carry the transformed rows laid out per the
    * table's DEFAULT partition spec (so an update that changes a
    * partition source column moves rows to their new partitions —
    * legal here, unlike Delta's in-place CoW). Both manifests commit
    * at `last-sequence-number + 1` in a single snapshot: readers never
    * observe the delete without the re-insert.
    *
    * Cost ∝ updated rows. Format v1 refuses; lost version races
    * recompute; a no-match update commits nothing. Returns the
    * committed (or current) snapshot id. */
  def updateIceberg(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    require(assignments.nonEmpty,
      "updateIceberg needs at least one SET assignment")
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")

    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot update Iceberg table at $path: $what — write it with " +
        "a full Iceberg client")
    def qualified(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }

    OptimisticCommit.retry("updateIceberg", path) { _ =>
      val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
      val fv = md.path("format-version").asInt(1)
      if (fv != 2 && fv != 3)
        refuseW(s"the table is format version $fv — row-level updates " +
          "need v2 merge-on-read position deletes or v3 deletion vectors")
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      if (currentSnap < 0) currentSnap
      else {
        val newSeq = md.path("last-sequence-number").asLong(0L) + 1
        val schemaNode = currentSchemaNode(md, path)
        val schemaId = md.path("current-schema-id").asInt(
          schemaNode.path("schema-id").asInt(0))
        val schema = fromIcebergStruct(schemaNode, path)
        assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
          s"updateIceberg at $path: SET column '$c' is not a table column"))
        val (specId, _, parts) =
          defaultSpecParts(spark, md, schemaNode, schema, refuseW)
        publishHint(fs, metaDir, vTop)
        val snapNode = md.get("snapshots").elements().asScala()
          .find(_.get("snapshot-id").asLong() == currentSnap)
          .getOrElse(refuseW(s"current snapshot $currentSnap missing from " +
            "the snapshots array"))
        val priorList = readAvro(readBytes(fs,
          new HPath(snapNode.get("manifest-list").asText())))
        val filePaths: Seq[String] = priorList
          .filter(r => fieldOpt(r, "content").map(longOf).getOrElse(0L) == 0L)
          .map(_.get("manifest_path").toString)
          .flatMap { mp =>
            readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
              if (longOf(e.get("status")) == 2L) None
              else Some(e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString)
            }
          }.distinct

        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        import spark.implicits._
        // v3 row lineage: updated rows KEEP their _row_id (materialized
        // into the new files); _last_updated_sequence_number stays
        // unmaterialized so it inherits this commit's sequence number
        val v3Lineage = fv == 3 && md.has("next-row-id")
        val matched = readIcebergInternal(spark, path, None, None,
          withLineage = true, pruneWhere = Some(condition),
          withRowLineage = v3Lineage)
          .where(condition).cache()
        try {
          val pathMap = filePaths.map(p => (qualified(p), p))
            .toDF("__fp", "__uri")
          // ---- transformed rows -> new data files per the spec ----
          def mkNewRows = matched.select(schema.fields.map { f =>
            assignments.get(f.name)
              .map(_.cast(f.dataType).as(f.name))
              .getOrElse(col(f.name))
          }.toSeq ++
            (if (v3Lineage) Seq(col("_row_id")) else Nil): _*)
          if (fv == 3) {
            // ---- v3: old row versions retire through merged DVs,
            // bitmaps built on the executors ----
            val priorDeletes = classifyV3Deletes(fs, priorList, refuseW)
            val struck = DeletionVectors.serializeStruckBitmaps(
              matched.join(pathMap, Seq("__fp"))
                .select(col("__uri"), col("__pos")),
              v3OldDvBytes(conf, priorDeletes))
            if (struck.isEmpty) currentSnap
            else {
              val (newDir, newFiles, partValuesOf, nb) =
                writeSpecData(Sizing.coalesceForWrite(mkNewRows),
                  root, fs, conf, parts, schemaNode, schema, "graft-update")
              OptimisticCommit.cleaningUp(fs.delete(newDir, true)) {
                commitV3DvSnapshot(fs, io, root, metaDir, md, vTop,
                  currentSnap, newSeq, schemaNode, schemaId, priorList,
                  priorDeletes, struck.toSeq, specId, parts,
                  newFiles.filter(_._3 > 0),
                  partValuesOf, "overwrite", refuseW, newBounds = nb)
              }
            }
          } else {
          // ---- v2: old row versions -> position delete parquet ----
          def reservedId(id: Long) =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id).build()
          val delRows = matched
            .join(pathMap, Seq("__fp"))
            .select(col("__uri").as("file_path", reservedId(2147483546L)),
              col("__pos").as("pos", reservedId(2147483545L)))
            .sortWithinPartitions(col("file_path"), col("pos"))
          val delDir = new HPath(new HPath(root, "data"),
            s"graft-updel-${java.util.UUID.randomUUID()}")
          val delCounts = IcebergStats.writeWithCounts(
            delRows, delDir.toString)
          val delFiles = fs.listStatus(delDir).toSeq
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath, f.getLen, delCounts
              .getOrElse(f.getPath.getName, footerRecordCount(conf, f))))
            .filter(_._3 > 0)
          if (delFiles.isEmpty) {
            fs.delete(delDir, true)
            currentSnap // nothing matched
          } else {
            val (newDir, newFiles, partValuesOf, nb) =
              writeSpecData(Sizing.coalesceForWrite(mkNewRows),
                root, fs, conf, parts, schemaNode, schema, "graft-update")
            OptimisticCommit.cleaningUp {
              fs.delete(delDir, true); fs.delete(newDir, true)
            } {
              commitOverwriteSnapshot(fs, io, metaDir, md, vTop,
                currentSnap, newSeq, schemaNode, schemaId, specId, parts,
                priorList, delFiles, newFiles, partValuesOf,
                newBounds = nb)
            }
          }
          }
        } finally matched.unpersist()
      }
    }
  }

  /** Publish ONE atomic merge-on-read `overwrite` snapshot: an optional
    * position-delete manifest (global unpartitioned spec), an optional
    * new-data manifest (the table's default spec), prior manifests
    * carried forward, all at `last-sequence-number + 1`, committed via
    * conditional put of `v<N+1>.metadata.json`. Mutates `md` (caller
    * re-reads on retry). Returns the new snapshot id; a lost version
    * race deletes this attempt's manifest/list files and throws
    * `FileAlreadyExistsException` (the caller cleans its data dirs and
    * recomputes). Shared by
    * [[updateIceberg]] and [[mergeIceberg]]. */
  private def commitOverwriteSnapshot(
      fs: org.apache.hadoop.fs.FileSystem, io: TableIO, metaDir: HPath,
      md: ObjectNode, vTop: Int, currentSnap: Long, newSeq: Long,
      schemaNode: JsonNode, schemaId: Int, specId: Int,
      parts: Seq[(PartField, String)], priorList: Seq[GenericRecord],
      delFiles: Seq[(HPath, Long, Long)],
      newFiles: Seq[(HPath, Long, Long)],
      partValuesOf: HPath => Seq[AnyRef],
      operation: String = "overwrite",
      newBounds: HPath => Option[IcebergStats.Bounds] = null,
      newSortOrderId: Option[Int] = None): Long = {
    val now = System.currentTimeMillis()
    val snapId = md.path("snapshots").elements().asScala()
      .map(_.path("snapshot-id").asLong(0L)).maxOption.getOrElse(0L) + 1L
    val written = scala.collection.mutable.Buffer[HPath]()
    // position-delete manifest under the global unpartitioned spec
    val delPart: Option[(HPath, Long, Int)] =
      if (delFiles.isEmpty) None
      else {
        val specsArr = md.path("partition-specs") match {
          case a: com.fasterxml.jackson.databind.node.ArrayNode => a
          case _ => md.putArray("partition-specs")
        }
        val unpartSpecId = specsArr.elements().asScala()
          .find(_.path("fields").size() == 0)
          .map(_.path("spec-id").asInt(0))
          .getOrElse {
            val id = specsArr.elements().asScala()
              .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1) + 1
            val n = om.createObjectNode()
            n.put("spec-id", id); n.putArray("fields")
            specsArr.add(n)
            id
          }
        val delEntrySchema = manifestEntrySchemaV2For(Nil)
        val delEnts = delFiles.map { case (p, size, rc) =>
          manifestEntryV2(delEntrySchema, p.toString, size, rc, Nil,
            content = 1)
        }
        val bytes = writeAvro(delEntrySchema, Map(
          "schema" -> om.writeValueAsString(schemaNode),
          "schema-id" -> schemaId.toString,
          "partition-spec" -> "[]",
          "partition-spec-id" -> unpartSpecId.toString,
          "format-version" -> "2",
          "content" -> "deletes"), delEnts)
        val p = new HPath(metaDir, s"${java.util.UUID.randomUUID()}-m0.avro")
        writeBytes(fs, p, bytes)
        written += p
        Some((p, bytes.length.toLong, unpartSpecId))
      }
    // new-data manifest under the DEFAULT spec
    val dataPart: Option[(HPath, Long)] =
      if (newFiles.isEmpty) None
      else {
        val dataEntrySchema = manifestEntrySchemaV2For(parts.map(_._1))
        val specArr = om.createArrayNode()
        val specFieldsNode: Seq[JsonNode] =
          if (md.has("partition-specs"))
            md.get("partition-specs").elements().asScala()
              .find(_.path("spec-id").asInt(0) == specId)
              .map(_.path("fields").elements().asScala().toSeq)
              .getOrElse(Nil)
          else Nil
        specFieldsNode.foreach(f => specArr.add(f.deepCopy[JsonNode]()))
        val boundsOf =
          if (newBounds != null) newBounds
          else boundsFn(fs.getConf,
            fromIcebergStruct(schemaNode, metaDir.toString), schemaNode)
        val dataEnts = newFiles.map { case (p, size, rc) =>
          manifestEntryV2(dataEntrySchema, p.toString, size, rc,
            partValuesOf(p), bounds = boundsOf(p),
            sortOrderId = newSortOrderId)
        }
        val bytes = writeAvro(dataEntrySchema, Map(
          "schema" -> om.writeValueAsString(schemaNode),
          "schema-id" -> schemaId.toString,
          "partition-spec" -> om.writeValueAsString(specArr),
          "partition-spec-id" -> specId.toString,
          "format-version" -> "2",
          "content" -> "data"), dataEnts)
        val p = new HPath(metaDir, s"${java.util.UUID.randomUUID()}-m0.avro")
        writeBytes(fs, p, bytes)
        written += p
        Some((p, bytes.length.toLong))
      }
    def listRecordOf(mPath: HPath, mLen: Long, content: Int,
        nFiles: Int, nRows: Long, sid: Int): GenericRecord = {
      val mf = new GenericData.Record(manifestFileSchemaV2)
      mf.put("manifest_path", mPath.toString)
      mf.put("manifest_length", mLen)
      mf.put("partition_spec_id", sid)
      mf.put("content", content)
      mf.put("sequence_number", newSeq)
      mf.put("min_sequence_number", newSeq)
      mf.put("added_snapshot_id", snapId)
      mf.put("added_files_count", nFiles)
      mf.put("existing_files_count", 0)
      mf.put("deleted_files_count", 0)
      mf.put("added_rows_count", nRows)
      mf.put("existing_rows_count", 0L)
      mf.put("deleted_rows_count", 0L)
      mf
    }
    val defaultSpecIdNow = md.path("default-spec-id").asInt(0)
    val listRecords = priorList.map(
      reserializeManifestFileV2(_, defaultSpecIdNow, currentSnap)) ++
      dataPart.map { case (p, len) =>
        listRecordOf(p, len, 0, newFiles.size, newFiles.map(_._3).sum,
          specId)
      } ++
      delPart.map { case (p, len, usid) =>
        listRecordOf(p, len, 1, delFiles.size, delFiles.map(_._3).sum, usid)
      }
    val listBytes = writeAvro(manifestFileSchemaV2,
      Map("snapshot-id" -> snapId.toString, "format-version" -> "2",
        "sequence-number" -> newSeq.toString), listRecords)
    val listPath = new HPath(metaDir,
      s"snap-$snapId-1-${java.util.UUID.randomUUID()}.avro")
    writeBytes(fs, listPath, listBytes)
    written += listPath
    md.put("last-updated-ms", now)
    md.put("current-snapshot-id", snapId)
    md.put("last-sequence-number", newSeq)
    val snaps = md.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val sn = snapshotNode(snapId, now, operation, listPath.toString,
      schemaId)
    sn.put("sequence-number", newSeq)
    sn.put("parent-snapshot-id", currentSnap)
    snaps.add(sn)
    md.path("snapshot-log") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val e = om.createObjectNode()
        e.put("timestamp-ms", now); e.put("snapshot-id", snapId)
        a.add(e)
      case _ => ()
    }
    OptimisticCommit.cleaningUp(written.foreach(p => fs.delete(p, false))) {
      claimMetadata(io, metaDir, vTop + 1, md)
      snapId
    }
  }

  /** MERGE (upsert) `source` into an existing file-based Iceberg
    * FORMAT-V2 table on `keys` — Spark's `MERGE INTO ... WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` in its
    * merge-on-read shape. This is [[mergeIcebergClauses]] with the
    * classic clause pair — see there for the full contract. */
  def mergeIceberg(source: DataFrame, path: String, keys: Seq[String]): Long =
    mergeIcebergClauses(source, path, keys,
      matched = Seq(Merge.MatchedUpdate()),
      notMatched = Seq(Merge.NotMatchedInsert()))

  /** Full-clause MERGE into an existing file-based Iceberg FORMAT-V2
    * table on `keys`, in the merge-on-read shape: conditional clauses,
    * partial `SET`, `WHEN MATCHED … THEN DELETE`, and `WHEN NOT
    * MATCHED BY SOURCE`, per the [[Merge]] clause model (bare names =
    * target row, [[Merge.source]] = source row; first matching clause
    * of a family wins; a row matching no clause carries forward):
    *
    *  - ONE atomic `overwrite` snapshot: position deletes retire every
    *    clause-hit target row version (updates AND deletes), new data
    *    files carry the transformed rows + conditional inserts laid
    *    out per the table's DEFAULT partition spec — readers never
    *    observe the delete without the re-insert. Cost ∝ clause-hit +
    *    inserted rows; untouched data files are never rewritten.
    *  - SQL equi-join null semantics: null-key source rows only ever
    *    insert, null-key target rows are never matched (by-source
    *    clauses still see them).
    *
    * The source must carry exactly the table's columns; a target row
    * matching several source rows refuses (the ambiguity SQL MERGE
    * rejects). An empty table reduces to a fast-append of the insert
    * clauses' survivors. Format v1 refuses; lost version races
    * recompute. Returns the committed snapshot id. */
  def mergeIcebergClauses(source: DataFrame, path: String,
      keys: Seq[String],
      matched: Seq[Merge.MatchedClause] = Nil,
      notMatched: Seq[Merge.NotMatchedInsert] = Nil,
      notMatchedBySource: Seq[Merge.BySourceClause] = Nil): Long = {
    require(keys.nonEmpty, "mergeIcebergClauses needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE needs at least one clause")
    val spark = source.sparkSession
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot merge into Iceberg table at $path: $what — write it with " +
        "a full Iceberg client")
    def qualified(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
    import org.apache.spark.sql.functions.{coalesce, when}
    def clauseCond(c: Option[org.apache.spark.sql.Column]) =
      c.map(cc => coalesce(cc, lit(false))).getOrElse(lit(true))
    val mIdx = matched.zipWithIndex.foldRight(lit(-1)) {
      case ((cl, i), els) => when(clauseCond(cl.condition), lit(i))
        .otherwise(els)
    }
    val sIdx = notMatchedBySource.zipWithIndex.foldRight(lit(-1)) {
      case ((cl, i), els) => when(clauseCond(cl.condition), lit(i))
        .otherwise(els)
    }
    val mDeletes = matched.zipWithIndex.collect {
      case (_: Merge.MatchedDelete, i) => i }.toSet
    val sDeletes = notMatchedBySource.zipWithIndex.collect {
      case (_: Merge.BySourceDelete, i) => i }.toSet
    def hitsDelete(dels: Set[Int]): org.apache.spark.sql.Column =
      if (dels.isEmpty) lit(false)
      else col("__ci").isin(dels.toSeq.map(Int.box): _*)
    def hitsUpdate(dels: Set[Int]): org.apache.spark.sql.Column =
      col("__ci") =!= -1 && !hitsDelete(dels)
    val insertCond =
      if (notMatched.isEmpty) lit(false)
      else notMatched.map(c => clauseCond(c.condition)).reduce(_ || _)

    OptimisticCommit.retry("mergeIceberg", path) { _ =>
      val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
      val fv = md.path("format-version").asInt(1)
      if (fv != 2 && fv != 3)
        refuseW(s"the table is format version $fv — row-level upserts " +
          "need v2 merge-on-read position deletes or v3 deletion vectors")
      val schemaNode = currentSchemaNode(md, path)
      val schemaId = md.path("current-schema-id").asInt(
        schemaNode.path("schema-id").asInt(0))
      val schema = fromIcebergStruct(schemaNode, path)
      require(schema.fieldNames.toSet == source.schema.fieldNames.toSet,
        s"merge schema mismatch at $path: table columns " +
          s"[${schema.fieldNames.mkString(", ")}], source columns " +
          s"[${source.schema.fieldNames.mkString(", ")}]")
      keys.foreach(k => require(schema.fieldNames.contains(k),
        s"mergeIcebergClauses at $path: key '$k' is not a table column"))
      (matched.collect { case u: Merge.MatchedUpdate => u.set } ++
        notMatchedBySource.collect {
          case u: Merge.BySourceUpdate => u.set })
        .flatMap(_.keys).foreach(c =>
          require(schema.fieldNames.contains(c),
            s"mergeIcebergClauses at $path: SET column '$c' is not a " +
              "table column"))
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      if (currentSnap < 0) {
        // empty table: only the insert clauses can contribute
        if (notMatched.isEmpty) currentSnap
        else appendToIceberg(source.where(insertCond), path)
      } else {
        val (specId, _, parts) =
          defaultSpecParts(spark, md, schemaNode, schema, refuseW)
        val newSeq = md.path("last-sequence-number").asLong(0L) + 1
        publishHint(fs, metaDir, vTop)
        val snapNode = md.get("snapshots").elements().asScala()
          .find(_.get("snapshot-id").asLong() == currentSnap)
          .getOrElse(refuseW(s"current snapshot $currentSnap missing from " +
            "the snapshots array"))
        val priorList = readAvro(readBytes(fs,
          new HPath(snapNode.get("manifest-list").asText())))
        val filePaths: Seq[String] = priorList
          .filter(r => fieldOpt(r, "content").map(longOf).getOrElse(0L) == 0L)
          .map(_.get("manifest_path").toString)
          .flatMap { mp =>
            readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
              if (longOf(e.get("status")) == 2L) None
              else Some(e.get("data_file").asInstanceOf[GenericRecord]
                .get("file_path").toString)
            }
          }.distinct

        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        import spark.implicits._
        // v3 row lineage: clause-updated target rows KEEP their _row_id;
        // inserted rows take fresh ids by inheritance (null materialized)
        val v3Lineage = fv == 3 && md.has("next-row-id")
        val src = source.select(schema.fieldNames.map(col).toSeq: _*)
        // all source columns dual-ride under __src_ aliases (clause
        // conditions and SET values read them via Merge.source); keys
        // stay bare for the equi-join
        val srcAliased = src.select(keys.map(col) ++
          schema.fieldNames.map(c =>
            col(c).as(Merge.SrcPrefix + c)): _*)
        // no by-source clauses → prune the target scan by the source's
        // key range against per-entry manifest bounds (sound for the
        // insert anti-join too: a pruned file holds no key any source row
        // carries); by-source clauses inspect every target row by
        // definition
        val pruneWhere: Option[org.apache.spark.sql.Column] =
          if (notMatchedBySource.nonEmpty) None
          else {
            import org.apache.spark.sql.functions.{min => fmin, max => fmax}
            val aggs = keys.flatMap(k =>
              Seq(fmin(col(k)).as(s"__mn_$k"), fmax(col(k)).as(s"__mx_$k")))
            val r = src.agg(aggs.head, aggs.tail: _*).collect()(0)
            val keyRanges = keys.zipWithIndex.map { case (k, i) =>
              (k, r.get(2 * i), r.get(2 * i + 1)) }
            if (keyRanges.exists(_._2 == null)) None
            else Some(keyRanges.map { case (k, mn, mx) =>
              col(k) >= lit(mn) && col(k) <= lit(mx)
            }.reduce(_ && _))
          }
        val tgt = readIcebergInternal(spark, path, None, None,
          withLineage = true, pruneWhere = pruneWhere,
          withRowLineage = v3Lineage)
        // matched pairs, then the family disposition index __ci
        val matchedDf = tgt.join(srcAliased, keys.toSeq, "inner").cache()
        val mFrame = matchedDf.withColumn("__ci", mIdx)
        // target rows with NO source match — only scanned when a
        // by-source clause exists
        val sFrame =
          if (notMatchedBySource.isEmpty) None
          else Some(tgt.join(srcAliased.select(keys.map(col).toSeq: _*),
            keys.toSeq, "left_anti").withColumn("__ci", sIdx))
        try {
          // refuse the SQL-MERGE ambiguity: one target row, many sources
          val dup = matchedDf.groupBy(col("__fp"), col("__pos")).count()
            .filter(col("count") > 1).count()
          require(dup == 0, s"mergeIceberg at $path: a target row matches " +
            "multiple source rows — MERGE needs unique source keys")
          val inserts = src.join(
            tgt.select(keys.map(col).toSeq: _*), keys.toSeq, "left_anti")
            .where(insertCond)
          // ---- clause-hit old row versions -> position delete parquet ----
          val pathMap = filePaths.map(p => (qualified(p), p))
            .toDF("__fp", "__uri")
          def reservedId(id: Long) =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", id).build()
          val struck = (mFrame.where(col("__ci") =!= -1)
            .select(col("__fp"), col("__pos")) +:
            sFrame.map(_.where(col("__ci") =!= -1)
              .select(col("__fp"), col("__pos"))).toSeq)
            .reduce(_.unionByName(_))
          // ---- transformed rows + conditional inserts -> data files ----
          def matchedVal(f: org.apache.spark.sql.types.StructField) = {
            var e: org.apache.spark.sql.Column = col(f.name)
            matched.zipWithIndex.foreach {
              case (Merge.MatchedUpdate(_, set), i) =>
                val v =
                  if (set.nonEmpty) set.get(f.name)
                    .map(_.cast(f.dataType)).getOrElse(col(f.name))
                  else if (keys.contains(f.name)) col(f.name)
                  else col(Merge.SrcPrefix + f.name).cast(f.dataType)
                e = when(col("__ci") === i, v).otherwise(e)
              case _ => ()
            }
            e.as(f.name)
          }
          def bySourceVal(f: org.apache.spark.sql.types.StructField) = {
            var e: org.apache.spark.sql.Column = col(f.name)
            notMatchedBySource.zipWithIndex.foreach {
              case (Merge.BySourceUpdate(_, set), i) =>
                val v = set.get(f.name).map(_.cast(f.dataType))
                  .getOrElse(col(f.name))
                e = when(col("__ci") === i, v).otherwise(e)
              case _ => ()
            }
            e.as(f.name)
          }
          val ridKeep: Seq[org.apache.spark.sql.Column] =
            if (v3Lineage) Seq(col("_row_id")) else Nil
          val ridNull: Seq[org.apache.spark.sql.Column] =
            if (v3Lineage) Seq(lit(null).cast("long").as("_row_id")) else Nil
          val newRows = (mFrame.where(hitsUpdate(mDeletes))
            .select(schema.fields.map(matchedVal).toSeq ++ ridKeep: _*) +:
            sFrame.map(_.where(hitsUpdate(sDeletes))
              .select(schema.fields.map(bySourceVal).toSeq ++ ridKeep: _*))
              .toSeq)
            .reduce(_.unionByName(_))
            .unionByName(inserts.select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toSeq ++ ridNull: _*))
          if (fv == 3) {
            // ---- v3: clause-hit rows retire through merged DVs,
            // bitmaps built on the executors ----
            val priorDeletes = classifyV3Deletes(fs, priorList, refuseW)
            val struckDvs = DeletionVectors.serializeStruckBitmaps(
              struck.join(pathMap, Seq("__fp"))
                .select(col("__uri"), col("__pos")),
              v3OldDvBytes(conf, priorDeletes))
            val (newDir, allNewFiles, partValuesOf, nb) =
              writeSpecData(Sizing.coalesceForWrite(newRows),
                root, fs, conf, parts, schemaNode, schema, "graft-merge")
            val newFiles = allNewFiles.filter(_._3 > 0)
            if (struckDvs.isEmpty && newFiles.isEmpty) {
              fs.delete(newDir, true)
              currentSnap // empty source, no clause fired: no-op
            } else OptimisticCommit.cleaningUp(fs.delete(newDir, true)) {
              commitV3DvSnapshot(fs, io, root, metaDir, md, vTop,
                currentSnap, newSeq, schemaNode, schemaId, priorList,
                priorDeletes, struckDvs.toSeq, specId, parts, newFiles,
                partValuesOf, "overwrite", refuseW, newBounds = nb)
            }
          } else {
          val delRows = struck
            .join(pathMap, Seq("__fp"))
            .select(col("__uri").as("file_path", reservedId(2147483546L)),
              col("__pos").as("pos", reservedId(2147483545L)))
            .sortWithinPartitions(col("file_path"), col("pos"))
          val delDir = new HPath(new HPath(root, "data"),
            s"graft-mergedel-${java.util.UUID.randomUUID()}")
          val delCounts = IcebergStats.writeWithCounts(
            delRows, delDir.toString)
          val delFiles = fs.listStatus(delDir).toSeq
            .filter(_.getPath.getName.endsWith(".parquet"))
            .map(f => (f.getPath, f.getLen, delCounts
              .getOrElse(f.getPath.getName, footerRecordCount(conf, f))))
            .filter(_._3 > 0)
          val (newDir, allNewFiles, partValuesOf, nb) =
            writeSpecData(Sizing.coalesceForWrite(newRows),
              root, fs, conf, parts, schemaNode, schema, "graft-merge")
          val newFiles = allNewFiles.filter(_._3 > 0)
          if (delFiles.isEmpty && newFiles.isEmpty) {
            // empty source, no clause fired: no-op
            fs.delete(delDir, true); fs.delete(newDir, true)
            currentSnap
          } else OptimisticCommit.cleaningUp {
            fs.delete(delDir, true); fs.delete(newDir, true)
          } {
            commitOverwriteSnapshot(fs, io, metaDir, md, vTop,
              currentSnap, newSeq, schemaNode, schemaId, specId, parts,
              priorList, delFiles, newFiles, partValuesOf,
              newBounds = nb)
          }
          }
        } finally matchedDf.unpersist()
      }
    }
  }



  /** Compact a file-based Iceberg FORMAT-V2 table — the
    * rewrite_data_files maintenance analog — at MANIFEST granularity:
    * every data manifest whose live files are ALL smaller than
    * `targetFileBytes` is retired; its rows are re-read with all
    * current position/equality deletes APPLIED and rewritten as
    * right-sized files laid out per the table's DEFAULT partition spec
    * (compaction thereby also migrates old-spec data forward), in one
    * `replace` snapshot at `last-sequence-number + 1`. Position-delete
    * manifests whose delete files only target compacted data files are
    * dropped too — the rewrite consumed them, shedding merge-on-read
    * debt. Every other manifest carries forward byte-identical: no
    * per-entry manifest rewriting, so kept manifests lose no stats.
    *
    * Manifest granularity fits how incremental writers behave — each
    * small append lands one small manifest, exactly what compaction
    * should fold — while keeping foreign mixed manifests safe (a
    * manifest with one large file is left alone). The new files commit
    * at a sequence number above every existing delete, so consumed
    * deletes can never re-apply. Format v1 refuses; lost version races
    * recompute; nothing to compact is a no-op. Returns the committed
    * (or current) snapshot id.
    *
    * `zorderBy` switches to the sort-order rewrite: EVERY live data
    * manifest is retired and rows re-cluster by Z-value
    * ([[DeltaInterop.zValueColumn]] — one column sorts linearly, 2+
    * interleave on a min/max grid) into ceil(live bytes/target) files,
    * so predicates on any Z column touch few files via per-file
    * min/max stats. */
  def compactIceberg(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      zorderBy: Seq[String] = Nil): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(zorderBy.distinct.size == zorderBy.size,
      s"duplicate z-order columns: ${zorderBy.mkString(", ")}")
    val root = new HPath(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    def refuseW(what: String): Nothing = throw new IllegalArgumentException(
      s"cannot compact Iceberg table at $path: $what — compact it with " +
        "a full Iceberg client")
    def qualified(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }

    OptimisticCommit.retry("compactIceberg", path) { _ =>
      val (vTop, md) = newestListedMetadata(fs, metaDir)(refuseW(CatalogManaged))
      val fv = md.path("format-version").asInt(1)
      if (fv != 2 && fv != 3)
        refuseW(s"the table is format version $fv — the replace-snapshot " +
          "rewrite needs v2/v3 sequence numbers")
      // v3 row lineage: the rewrite MATERIALIZES each surviving row's
      // _row_id and _last_updated_sequence_number into the compacted
      // files, per the spec's rewrite obligation
      val v3Lineage = fv == 3 && md.has("next-row-id")
      val currentSnap = md.path("current-snapshot-id").asLong(-1L)
      if (currentSnap < 0) currentSnap // empty table
      else {
        val schemaNode = currentSchemaNode(md, path)
        val schemaId = md.path("current-schema-id").asInt(
          schemaNode.path("schema-id").asInt(0))
        val schema = fromIcebergStruct(schemaNode, path)
        val (specId, _, parts) =
          defaultSpecParts(spark, md, schemaNode, schema, refuseW)
        val newSeq = md.path("last-sequence-number").asLong(0L) + 1
        publishHint(fs, metaDir, vTop)
        val snapNode = md.get("snapshots").elements().asScala()
          .find(_.get("snapshot-id").asLong() == currentSnap)
          .getOrElse(refuseW(s"current snapshot $currentSnap missing from " +
            "the snapshots array"))
        val priorList = readAvro(readBytes(fs,
          new HPath(snapNode.get("manifest-list").asText())))
        def contentOf(r: GenericRecord): Long =
          fieldOpt(r, "content").map(longOf).getOrElse(0L)
        def liveEntries(r: GenericRecord): Seq[GenericRecord] =
          readAvro(readBytes(fs,
            new HPath(r.get("manifest_path").toString)))
            .filter(e => longOf(e.get("status")) != 2L)
            .map(_.get("data_file").asInstanceOf[GenericRecord])
        // data manifests whose every live file is sub-target; Z-order
        // mode instead rewrites EVERY live data manifest (re-clustering
        // is a full rewrite, as in Iceberg's own sort-order rewrite)
        val chosenData = priorList.filter { r =>
          contentOf(r) == 0L && {
            val live = liveEntries(r)
            live.nonEmpty && (zorderBy.nonEmpty || live.forall(df =>
              longOf(df.get("file_size_in_bytes")) < targetFileBytes))
          }
        }
        val chosenFiles: Set[String] = chosenData.flatMap(r =>
          liveEntries(r).map(_.get("file_path").toString)).toSet
        val chosenQualified = chosenFiles.map(qualified)
        val deleteManifests = priorList.filter(contentOf(_) == 1L)
        // convergence guard: folding a SINGLE manifest with no deletes
        // to consume rewrites it into itself forever — compaction only
        // pays when manifests merge or merge-on-read debt sheds
        if ((zorderBy.isEmpty && chosenData.size < 2 &&
            !(chosenData.nonEmpty && deleteManifests.nonEmpty)) ||
            chosenData.isEmpty) {
          currentSnap // nothing worth compacting
        } else {
          // position-delete / deletion-vector manifests fully consumed
          // by this rewrite: every live entry's referenced data files
          // are all being rewritten (equality deletes never consume —
          // they may scope future re-inserts). Parquet position-delete
          // targets read in ONE job per manifest, never per entry.
          def chosen(t: String): Boolean =
            chosenFiles.contains(t) || chosenQualified.contains(qualified(t))
          val dropDeletes = deleteManifests.filter { r =>
            val live = liveEntries(r)
            live.nonEmpty &&
            live.forall(df => fieldOpt(df, "content").map(longOf)
              .getOrElse(0L) == 1L) && {
              val (puffins, parquets) = live.partition(
                _.get("file_format").toString.equalsIgnoreCase("puffin"))
              puffins.forall(df =>
                fieldOpt(df, "referenced_data_file")
                  .exists(ref => chosen(ref.toString))) &&
              (parquets.isEmpty || {
                val targets = spark.read
                  .parquet(parquets.map(_.get("file_path").toString): _*)
                  .select(col("file_path")).distinct()
                  .collect().map(_.getString(0)).toSet
                targets.forall(chosen)
              })
            }
          }
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
          import spark.implicits._
          val fDf = chosenQualified.toSeq.sorted.toDF("__fp")
          val lineageCols: Seq[org.apache.spark.sql.Column] =
            if (v3Lineage) Seq(col("_row_id"),
              col("_last_updated_sequence_number")) else Nil
          val rows = readIcebergInternal(spark, path, None, None,
            withLineage = true, withRowLineage = v3Lineage)
            .join(org.apache.spark.sql.functions.broadcast(fDf),
              Seq("__fp"), "left_semi")
            .select(schema.fieldNames.map(col).toSeq ++ lineageCols: _*)
          val totalBytes = chosenData.flatMap(liveEntries)
            .map(df => longOf(df.get("file_size_in_bytes"))).sum
          val nBins = math.max(1L,
            (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
          val clustered =
            if (zorderBy.isEmpty) rows.repartition(nBins)
            else {
              zorderBy.foreach(c => require(schema.fieldNames.contains(c),
                s"z-order column '$c' is not a column of $path"))
              rows.withColumn("__z", DeltaInterop.zValueColumn(rows, zorderBy))
                .repartitionByRange(nBins, col("__z"))
                .sortWithinPartitions(col("__z"))
                .select(schema.fieldNames.map(col).toSeq ++ lineageCols: _*)
            }
          val (newDir, allNewFiles, partValuesOf, nb) = writeSpecData(
            clustered, root, fs, conf, parts, schemaNode,
            schema, "graft-compact")
          val newFiles = allNewFiles.filter(_._3 > 0)
          // a z-order rewrite DECLARES its clustering: the spec has no
          // z-order transform, so the documented closest order — the
          // z-columns as identity/asc/nulls-first — lands in
          // `sort-orders` (existing equal orders reused) and every
          // rewritten file stamps its `sort_order_id`, so stock
          // readers see the clustering
          val sortOrderId: Option[Int] =
            if (zorderBy.isEmpty) None
            else {
              val idOf = IcebergStats.fieldIdsOf(schemaNode)
              val wanted = zorderBy.map(c => idOf.getOrElse(c,
                refuseW(s"z-order column '$c' has no field id")))
              val orders = md.path("sort-orders") match {
                case a: com.fasterxml.jackson.databind.node.ArrayNode => a
                case _ => md.putArray("sort-orders")
              }
              def fieldsOf(o: JsonNode): Seq[(String, Int, String, String)] = {
                val b = Seq.newBuilder[(String, Int, String, String)]
                val it = o.path("fields").elements()
                while (it.hasNext) {
                  val f = it.next()
                  b += ((f.path("transform").asText(),
                    f.path("source-id").asInt(-1),
                    f.path("direction").asText(),
                    f.path("null-order").asText()))
                }
                b.result()
              }
              val wantedFields = wanted.map(id =>
                ("identity", id, "asc", "nulls-first"))
              val existing = orders.elements().asScala()
                .find(o => fieldsOf(o) == wantedFields)
              val oid = existing.map(_.path("order-id").asInt()).getOrElse {
                val next = orders.elements().asScala()
                  .map(_.path("order-id").asInt(0)).maxOption.getOrElse(0) + 1
                val node = om.createObjectNode()
                node.put("order-id", next)
                val fs2 = node.putArray("fields")
                wanted.foreach { id =>
                  val f = fs2.addObject()
                  f.put("transform", "identity")
                  f.put("source-id", id)
                  f.put("direction", "asc")
                  f.put("null-order", "nulls-first")
                }
                orders.add(node)
                next
              }
              Some(oid)
            }
          val keptPrior = priorList.filterNot(r =>
            chosenData.exists(_ eq r) || dropDeletes.exists(_ eq r))
          OptimisticCommit.cleaningUp(fs.delete(newDir, true)) {
            if (fv == 3)
              commitV3DvSnapshot(fs, io, root, metaDir, md, vTop,
                currentSnap, newSeq, schemaNode, schemaId, keptPrior,
                classifyV3Deletes(fs, keptPrior, refuseW),
                Nil, specId, parts, newFiles, partValuesOf,
                "replace", refuseW, newBounds = nb,
                newSortOrderId = sortOrderId)
            else commitOverwriteSnapshot(fs, io, metaDir, md, vTop,
              currentSnap, newSeq, schemaNode, schemaId, specId, parts,
              keptPrior, Nil, newFiles, partValuesOf,
              operation = "replace", newBounds = nb,
              newSortOrderId = sortOrderId)
          }
        }
      }
    }
  }

  // ---------------------------------------------------------------
  // Read
  // ---------------------------------------------------------------

  private[sources] val VMeta = "v(\\d+)\\.metadata\\.json".r
  private val SeqMeta = "(\\d+)-[^/]*\\.metadata\\.json".r
  private val TruncRe = "truncate\\[\\d+\\]".r
  private val BucketRe = "bucket\\[\\d+\\]".r

  /** Equality between a decoded Avro partition value and a parsed
    * expected value: integral widths compare by value (Avro int vs our
    * boxed Integer/Long), strings by content, null only to null. */
  private def avroEq(got: AnyRef, want: AnyRef): Boolean = (got, want) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (a: java.lang.Number, b: java.lang.Number) =>
      a.longValue() == b.longValue()
    case (a, b) => a.toString == b.toString
  }

  /** Open one partition of a file-based Iceberg table: `field` is a
    * partition-spec field name (an identity column, or a transform
    * field like `ts_day`), `grain` its value in the same string form
    * [[GraftTable.readWherePartition]] takes — identity/truncate
    * values as written, `day` "2024-01-07", `hour` "2024-01-07-05",
    * `month` "2024-01", `year` "2024", `bucket[n]` the ordinal; null
    * selects the null partition. Pruning is METADATA-ONLY: the
    * manifest entries' typed partition structs are filtered on the
    * driver and only matching data files reach the scan — the
    * time-sliced read path for 100 TB mirrored tables. */
  def readIcebergWhere(spark: SparkSession, path: String, field: String,
      grain: String, asOfSnapshotId: Option[Long] = None): DataFrame =
    readIceberg(spark, path, asOfSnapshotId, Some(field -> grain))

  private[sources] def refuse(path: String, what: String): Nothing =
    throw new IllegalArgumentException(
      s"Iceberg table at $path $what — unsupported by this dependency-free " +
        "reader; read it with a full Iceberg client")

  /** Open a file-based Iceberg table's current snapshot as a DataFrame
    * by replaying its metadata: version-hint.text (or the
    * highest-numbered *.metadata.json) → table metadata → manifest
    * list → manifests → parquet scan. Supports format v1-v3 data,
    * including merge-on-read deletes — POSITION deletes apply as
    * one distributed left_anti (file, pos) equi-join, EQUALITY deletes
    * as one null-safe-equality anti-join per distinct equality-id set
    * with the sequence-number guard `dataSeq < deleteSeq` (never a
    * driver-side decode of the deleted-row set), and v3 Puffin
    * DELETION VECTORS as a codegen'd per-file bitmap filter riding the
    * scan; handles partition-spec EVOLUTION by resolving each
    * manifest's partition structs against its own partition_spec_id
    * (identity substitution and pruning are per-spec); refuses v4+,
    * v3 column default values, non-parquet data files,
    * equality ids addressing nested fields, and tables whose parquet
    * column names no longer match the declared schema
    * (rename-by-field-id) when the files carry no field ids.
    * `asOfSnapshotId` time-travels to a retained snapshot instead of
    * the current one (the declared schema stays the CURRENT one,
    * matching Iceberg's schema-evolution semantics for time travel).
    * `partitionWhere = Some(field -> grain)` prunes to one partition
    * value by METADATA only — see [[readIcebergWhere]]. */
  /** Resolve and parse the CURRENT table metadata (version-hint.text,
    * falling back to the highest-numbered *.metadata.json — Iceberg's
    * HadoopTableOperations reader behavior; a torn/non-numeric hint
    * falls back to the listing, only a WELL-FORMED hint naming a
    * missing version is a loud inconsistency). Shared by the batch
    * reader and the streaming source. */
  private[sources] def currentMetadata(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, JsonNode) = {
    val root = new HPath(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")

    val hint = new HPath(metaDir, "version-hint.text")
    // the hint read must tolerate the publisher's delete -> rename
    // window (publishHint): existing at the check but gone at the open,
    // or read between the renames of the hint and its checksum file, is
    // a concurrent publish, not corruption — fall back to the listing
    // like an absent hint
    val hintVersion: Option[Long] =
      if (!fs.exists(hint)) None
      else try new String(readBytes(fs, hint), StandardCharsets.UTF_8)
        .trim.toLongOption
      catch {
        case _: java.io.FileNotFoundException |
             _: org.apache.hadoop.fs.ChecksumException => None
      }
    val metaFile: HPath =
      if (hintVersion.isDefined) {
        val v = hintVersion.get
        val p = new HPath(metaDir, s"v$v.metadata.json")
        require(fs.exists(p), s"version-hint.text names v$v but $p is missing")
        p
      } else {
        val candidates = fs.listStatus(metaDir).toSeq.map(_.getPath)
          .flatMap { p =>
            p.getName match {
              case VMeta(n) => Some((n.toLong, p))
              case SeqMeta(n) => Some((n.toLong, p))
              case _ => None
            }
          }
        require(candidates.nonEmpty, s"no *.metadata.json under $metaDir")
        candidates.maxBy(_._1)._2
      }
    (fs, om.readTree(readBytes(fs, metaFile)))
  }

  /** Annotate a declared schema with `parquet.field.id` metadata from
    * its Iceberg schema node (recursively through nested structs) —
    * the read-schema form Spark's field-id matching consumes. Nested
    * list/map element ids stay unannotated (Spark models field ids on
    * struct fields only); their inner columns resolve by name within
    * the id-matched group, which is stable because Iceberg renames
    * happen at field granularity with ids. */
  private[graft] def annotateFieldIds(schema: StructType, node: JsonNode): StructType =
    StructType(schema.fields.map { f =>
      val fieldNode = node.path("fields").elements().asScala()
        .find(_.path("name").asText() == f.name)
      val id = fieldNode.map(_.path("id").asInt(-1)).getOrElse(-1)
      val dt = f.dataType match {
        case s: StructType =>
          fieldNode.map(_.path("type")).filter(_.isObject)
            .map(tn => annotateFieldIds(s, tn)).getOrElse(s)
        case other => other
      }
      if (id >= 0)
        f.copy(dataType = dt,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build())
      else f.copy(dataType = dt)
    })

  /** The CURRENT declared schema node: v2 carries a schemas array +
    * current-schema-id, v1 a single schema object. */
  private[sources] def currentSchemaNode(md: JsonNode, path: String): JsonNode =
    if (md.has("schemas") && md.has("current-schema-id")) {
      val want = md.get("current-schema-id").asInt()
      md.get("schemas").elements().asScala()
        .find(_.path("schema-id").asInt(-1) == want)
        .getOrElse(throw new IllegalStateException(
          s"current-schema-id $want not present in schemas at $path"))
    } else md.get("schema")

  def readIceberg(spark: SparkSession, path: String,
      asOfSnapshotId: Option[Long] = None,
      partitionWhere: Option[(String, String)] = None): DataFrame =
    readIcebergInternal(spark, path, asOfSnapshotId, partitionWhere,
      withLineage = false)

  /** FILTERED read with MANIFEST-LEVEL file skipping: `condition`
    * applies as a normal filter AND its AND-conjuncts prune the file
    * list by each entry's column bounds + identity partition values
    * before any file opens — on a bounds-carrying 100 TB table a keyed
    * or time-ranged read plans O(candidate files), not O(table), on
    * top of parquet's own row-group skipping. Conservative: files
    * without usable bounds always scan. */
  def readIcebergFiltered(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    readIcebergInternal(spark, path, None, None, withLineage = false,
      pruneWhere = Some(condition))
      .where(condition)

  /** [[readIceberg]] with the v3 spec's ROW LINEAGE: two extra
    * columns `_row_id` and `_last_updated_sequence_number`, each the
    * row's MATERIALIZED value when its file carries one (rewritten
    * files) else inherited per the spec — the file's assigned
    * `first_row_id` + row position, and the file's data sequence
    * number. Non-lineage tables yield nulls. */
  def readIcebergRowLineage(spark: SparkSession, path: String): DataFrame =
    readIcebergInternal(spark, path, None, None, withLineage = false,
      withRowLineage = true)
      .drop("__fp", "__pos")

  /** One planned file of a server-side scan (REST planTableScan):
    * path, size, record count, spec id, data sequence number (for
    * scoping equality deletes), and the manifest's partition values
    * TYPED per the spec's single-value serialization (field name →
    * java.lang.Integer/Long/Boolean/Float/Double for numeric fields,
    * String for string/date/timestamp/decimal/uuid renderings,
    * hex String for fixed/binary), so a stock client deserializing
    * the partition struct per the spec types can prune correctly;
    * unrenderable values are omitted rather than misrendered. */
  final case class PlannedFile(path: String, sizeBytes: Long,
      recordCount: Long, specId: Int, seq: Long,
      partition: Seq[(String, Any)])

  /** One manifest partition-struct value as the spec's JSON
    * single-value serialization renders it: numbers stay JSON numbers,
    * logical date/timestamp/decimal/uuid values render to their spec
    * string forms from the Avro field's logical type, fixed/binary
    * render hexadecimal, anything else (nested types, unknown
    * logicals) is None — the caller omits the field rather than
    * serving an unusable `toString`. */
  private def partitionJsonValue(field: org.apache.avro.Schema.Field,
      v: AnyRef): Option[Any] = {
    import org.apache.avro.Schema.{Type => AT}
    import scala.jdk.CollectionConverters._
    val sch = field.schema() match {
      case u if u.getType == AT.UNION =>
        u.getTypes.asScala.find(_.getType != AT.NULL).getOrElse(u)
      case other => other
    }
    def bytesOfV: Option[Array[Byte]] = v match {
      case bb: java.nio.ByteBuffer =>
        val d = bb.duplicate(); val a = new Array[Byte](d.remaining())
        d.get(a); Some(a)
      case gf: org.apache.avro.generic.GenericFixed => Some(gf.bytes())
      case _ => None
    }
    val logical = Option(sch.getLogicalType).map(_.getName)
      .orElse(Option(sch.getProp("logicalType")))
    (logical, sch.getType) match {
      case (Some("date"), _) => scala.util.Try(
        java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].longValue()).toString).toOption
      case (Some("timestamp-micros"), _) => scala.util.Try {
        val micros = v.asInstanceOf[Number].longValue()
        val instant = java.time.Instant.EPOCH.plus(micros,
          java.time.temporal.ChronoUnit.MICROS)
        // Iceberg's Avro distinguishes timestamp vs timestamptz by the
        // adjust-to-utc prop: a plain timestamp renders WITHOUT a zone
        // per the spec's single-value form; absent prop = Avro's
        // UTC-instant semantics (the timestamptz form)
        val utc = Option(sch.getObjectProp("adjust-to-utc")) match {
          case Some(b: java.lang.Boolean) => b.booleanValue()
          case Some(other) => other.toString == "true"
          case None => true
        }
        // spec single-value serialization renders timestamptz with an
        // explicit '+00:00' offset, never the ISO 'Z' shorthand
        val local = java.time.LocalDateTime
          .ofInstant(instant, java.time.ZoneOffset.UTC).toString
        if (utc) local + "+00:00" else local
      }.toOption
      case (Some("decimal"), _) =>
        val scale = Option(sch.getObjectProp("scale"))
          .collect { case n: Number => n.intValue() }.getOrElse(0)
        bytesOfV.map(b => new java.math.BigDecimal(
          new java.math.BigInteger(b), scale).toPlainString)
      case (Some("uuid"), _) =>
        // Iceberg manifests encode uuid as fixed[16] — render the
        // canonical string; string-typed uuids pass through
        bytesOfV match {
          case Some(b) if b.length == 16 =>
            val bb = java.nio.ByteBuffer.wrap(b)
            Some(new java.util.UUID(bb.getLong, bb.getLong).toString)
          case Some(_) => None
          case None => Some(v.toString)
        }
      // any other logical type (time-micros, timestamp-nanos, …):
      // OMIT rather than serve a misrendered raw number
      case (Some(other), _)
          if other != "timestamp-micros" && other != "date" &&
            other != "decimal" && other != "uuid" => None
      case (_, AT.INT) => Some(Int.box(v.asInstanceOf[Number].intValue()))
      case (_, AT.LONG) => Some(Long.box(v.asInstanceOf[Number].longValue()))
      case (_, AT.BOOLEAN) => Some(v)
      case (_, AT.FLOAT) => Some(v)
      case (_, AT.DOUBLE) => Some(v)
      case (_, AT.STRING) => Some(v.toString)
      case (_, AT.BYTES) | (_, AT.FIXED) =>
        bytesOfV.map(_.map(b => f"$b%02X").mkString)
      case _ => None
    }
  }

  /** One delete file of a server-side scan: content 1 =
    * position deletes (puffin format = a v3 deletion vector, with blob
    * coordinates), content 2 = equality deletes (with equality ids,
    * applying only to data files with a STRICTLY SMALLER sequence
    * number — `seq` carries the delete's). */
  final case class PlannedDelete(path: String, sizeBytes: Long,
      recordCount: Long, content: Long, fileFormat: String,
      equalityIds: Seq[Int], referencedDataFile: Option[String],
      contentOffset: Option[Long], contentSizeInBytes: Option[Long],
      seq: Long)

  /** A complete server-side scan plan: pruned live data files + the
    * snapshot's delete files the caller must apply. */
  final case class PlannedScan(dataFiles: Seq[PlannedFile],
      deleteFiles: Seq[PlannedDelete])

  /** SERVER-SIDE scan planning (the Iceberg REST spec's planTableScan
    * route): the current (or pinned) snapshot's live data files after
    * manifest-bounds pruning by `cond` — METADATA-ONLY (manifest list +
    * manifests; no data file opens, no Spark job), the shape a catalog
    * service can afford per request at fleet scale. The pruning is the
    * same conservative bounds test the filtered reads and DML
    * detection scans apply (lower/upper bounds + null counts per the
    * spec's single-value serialization), so the served file list
    * equals graft's own pruned plan; identity-partition substitution
    * pruning is NOT applied here (conservative superset — a dropped
    * file is still provably matchless). Delete-carrying snapshots
    * plan too: the snapshot's live delete files (position, equality,
    * v3 deletion vectors) return alongside, for the caller to apply —
    * the spec's merge-on-read planning contract. */
  def planIcebergScanTasks(spark: SparkSession, path: String,
      asOfSnapshotId: Option[Long] = None,
      cond: Option[org.apache.spark.sql.Column] = None): PlannedScan = {
    val (fs, md) = currentMetadata(spark, path)
    val snapId = asOfSnapshotId.getOrElse(
      md.path("current-snapshot-id").asLong(-1L))
    if (snapId < 0) return PlannedScan(Nil, Nil)
    val snap = Option(md.get("snapshots")).toSeq
      .flatMap(_.elements().asScala())
      .find(_.path("snapshot-id").asLong() == snapId)
      .getOrElse(refuse(path, s"has no snapshot $snapId"))
    val allManifests = readAvro(readBytes(fs,
      new HPath(snap.path("manifest-list").asText())))
    val (manifests, deleteManifests) = allManifests.partition(m =>
      fieldOpt(m, "content").map(longOf).getOrElse(0L) == 0L)
    // partition-spec field names BY SPEC ID, for rendering each data
    // file's partition values (entries lay their partition struct out
    // per their manifest's own spec)
    val specNamesById: Map[Int, Seq[String]] =
      if (md.has("partition-specs"))
        md.get("partition-specs").elements().asScala().map { sp =>
          sp.path("spec-id").asInt(0) ->
            sp.path("fields").elements().asScala()
              .map(_.path("name").asText()).toSeq
        }.toMap
      else if (md.has("partition-spec")) // v1 legacy single-spec field
        Map(md.path("default-spec-id").asInt(0) ->
          md.get("partition-spec").elements().asScala()
            .map(_.path("name").asText()).toSeq)
      else Map.empty
    // the snapshot's live delete files — served whole (no per-task
    // narrowing: a position delete naming another data file matches
    // nothing when applied, so the superset is correct)
    val plannedDeletes: Seq[PlannedDelete] = deleteManifests.flatMap { m =>
      val mseq = fieldOpt(m, "sequence_number").map(longOf).getOrElse(0L)
      readAvro(readBytes(fs,
        new HPath(m.get("manifest_path").toString))).flatMap { e =>
        if (longOf(e.get("status")) == 2L) None
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val eqIds = fieldOpt(df, "equality_ids").collect {
            case c: java.util.Collection[_] => c.iterator().asScala()
              .map(x => longOf(x.asInstanceOf[AnyRef]).toInt).toSeq
          }.getOrElse(Nil)
          Some(PlannedDelete(df.get("file_path").toString,
            longOf(df.get("file_size_in_bytes")),
            longOf(df.get("record_count")),
            fieldOpt(df, "content").map(longOf).getOrElse(-1L),
            df.get("file_format").toString,
            eqIds,
            fieldOpt(df, "referenced_data_file").map(_.toString),
            fieldOpt(df, "content_offset").map(longOf),
            fieldOpt(df, "content_size_in_bytes").map(longOf),
            fieldOpt(e, "sequence_number").map(longOf).getOrElse(mseq)))
        }
      }
    }.distinct
    val schemaNode = currentSchemaNode(md, path)
    val schema = fromIcebergStruct(schemaNode, path)
    val pruneConjs = cond.map(c => DeltaStats.conjuncts(spark, schema, c))
      .getOrElse(Nil)
    lazy val idOf = IcebergStats.fieldIdsOf(schemaNode)
    def bytesOf(v: AnyRef): Option[Array[Byte]] = v match {
      case bb: java.nio.ByteBuffer =>
        val d = bb.duplicate()
        val a = new Array[Byte](d.remaining()); d.get(a); Some(a)
      case f: org.apache.avro.generic.GenericFixed => Some(f.bytes())
      case a: Array[Byte] => Some(a)
      case _ => None
    }
    def statMapOf(df: GenericRecord, name: String): Map[Int, AnyRef] =
      fieldOpt(df, name) match {
        case Some(c: java.util.Collection[_]) =>
          c.iterator().asScala().flatMap {
            case r: GenericRecord => scala.util
              .Try((longOf(r.get("key")).toInt, r.get("value"))).toOption
            case _ => None
          }.toMap
        case _ => Map.empty
      }
    val planned: Seq[PlannedFile] = manifests.flatMap { m =>
      val specId = fieldOpt(m, "partition_spec_id").map(longOf)
        .getOrElse(0L).toInt
      val mseq = fieldOpt(m, "sequence_number").map(longOf).getOrElse(0L)
      readAvro(readBytes(fs,
        new HPath(m.get("manifest_path").toString))).flatMap { e =>
        if (longOf(e.get("status")) == 2L) None // DELETED in this snapshot
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          if (fieldOpt(df, "content").map(longOf).getOrElse(0L) != 0L)
            refuse(path, "has a delete file inside a data manifest")
          val keep = pruneConjs.isEmpty ||
            DeltaStats.mayMatchStats(pruneConjs, schema, Nil, Map.empty, {
              val lowers = statMapOf(df, "lower_bounds").flatMap {
                case (k, v) => bytesOf(v).map(k -> _) }
              val uppers = statMapOf(df, "upper_bounds").flatMap {
                case (k, v) => bytesOf(v).map(k -> _) }
              val nulls = statMapOf(df, "null_value_counts").flatMap {
                case (k, v) => scala.util.Try(longOf(v)).toOption.map(k -> _) }
              IcebergStats.toFileStats(schema, idOf,
                longOf(df.get("record_count")), nulls, lowers, uppers)
            })
          val pv: Seq[(String, Any)] = df.get("partition") match {
            case pr: GenericRecord =>
              val names = specNamesById.getOrElse(specId, Nil)
              names.zipWithIndex.flatMap { case (n, i) =>
                if (pr.getSchema.getFields.size() <= i) None
                else Option(pr.get(i)).flatMap(v =>
                  partitionJsonValue(pr.getSchema.getFields.get(i), v)
                    .map(n -> _))
              }
            case _ => Nil
          }
          if (!keep) None
          else Some(PlannedFile(df.get("file_path").toString,
            longOf(df.get("file_size_in_bytes")),
            longOf(df.get("record_count")), specId,
            fieldOpt(e, "sequence_number").map(longOf).getOrElse(mseq), pv))
        }
      }
    }.distinct
    PlannedScan(planned, plannedDeletes)
  }

  /** The Iceberg spec's JSON single-value serialization of a column
    * default, rendered as a typed Spark literal — shared by the
    * read-side `initial-default` fill and the write-side
    * `write-default` fill. None = a combination this engine cannot
    * render (callers refuse loudly). */
  private def jsonSingleValueLiteral(dt: DataType, v: JsonNode)
      : Option[org.apache.spark.sql.Column] = dt match {
    case IntegerType if v.isNumber => Some(lit(v.asInt()))
    case LongType if v.isNumber => Some(lit(v.asLong()))
    case FloatType if v.isNumber => Some(lit(v.floatValue()))
    case DoubleType if v.isNumber => Some(lit(v.asDouble()))
    case BooleanType if v.isBoolean => Some(lit(v.asBoolean()))
    case StringType if v.isTextual => Some(lit(v.asText()))
    // temporal/decimal defaults parse DRIVER-SIDE (java.time /
    // BigDecimal): a malformed value must come back None so callers
    // refuse loudly — a lit(text).cast(...) would instead yield a
    // silently-NULLing fill (on the write path, committing NULLs
    // into data files)
    case DateType if v.isTextual =>
      scala.util.Try(java.sql.Date.valueOf(
        java.time.LocalDate.parse(v.asText()))).toOption.map(lit(_))
    case TimestampType if v.isTextual =>
      scala.util.Try(java.sql.Timestamp.from(
        java.time.OffsetDateTime.parse(v.asText()).toInstant)).toOption
        .map(lit(_))
    case TimestampNTZType if v.isTextual =>
      scala.util.Try(java.time.LocalDateTime.parse(v.asText())).toOption
        .map(lit(_))
    case d: org.apache.spark.sql.types.DecimalType
        if v.isTextual || v.isNumber =>
      scala.util.Try {
        val bd = new java.math.BigDecimal(v.asText()).setScale(d.scale)
        require(bd.precision <= d.precision)
        bd
      }.toOption.map(bd => lit(bd).cast(d))
    case _ => None
  }

  /** TEST HOOK: the distinct data-file paths the DELETE/UPDATE
    * detection scan for `condition` would read at `path` — exactly the
    * manifest-bounds pruning the DML paths apply, observable without
    * committing anything. */
  private[graft] def icebergCandidateFiles(spark: SparkSession,
      path: String, condition: org.apache.spark.sql.Column): Seq[String] =
    readIcebergInternal(spark, path, None, None, withLineage = true,
      pruneWhere = Some(condition))
      .select(col("__fp")).distinct().collect().map(_.getString(0)).toSeq

  /** [[readIceberg]] with ROW LINEAGE: the result carries two extra
    * columns `__fp` (the data file's qualified path) and `__pos` (the
    * row's ordinal in that file — Iceberg's position-delete `pos`),
    * after existing merge-on-read deletes are applied. The write path
    * ([[deleteFromIceberg]]) turns matched rows into position delete
    * files with exactly these coordinates. */
  private[sources] def readIcebergInternal(spark: SparkSession, path: String,
      asOfSnapshotId: Option[Long],
      partitionWhere: Option[(String, String)],
      withLineage: Boolean,
      pruneWhere: Option[org.apache.spark.sql.Column] = None,
      withRowLineage: Boolean = false): DataFrame = {
    val root = new HPath(path)
    val (fs, md) = currentMetadata(spark, path)
    val formatVersion = md.path("format-version").asInt(1)
    if (formatVersion > 3)
      refuse(path, s"is format version $formatVersion — this reader " +
        "supports v1-v3")
    // v3 is readable: Puffin deletion vectors apply below as a
    // codegen'd bitmap filter, v2-era deletes keep working, and v3
    // types refuse in the schema mapping. Column DEFAULT VALUES
    // (`initial-default` on a field of the CURRENT schema) are APPLIED:
    // rows in data files written before the field existed take the
    // declared default instead of null — the footer split below fills
    // exactly the files that physically lack the column, so explicit
    // nulls written after the add stay null, matching the spec's
    // read contract. `write-default` imposes nothing here (it binds
    // writers that omit columns; graft's own Iceberg writers always
    // supply every column explicitly). STRUCT-NESTED defaults fill
    // too (any depth of struct nesting); defaults under list/map
    // elements refuse — per-element fills are a full client's job.
    // Row lineage needs nothing from a plain read.
    var initialDefaults: Map[String, JsonNode] = Map.empty
    // dotted path -> (segments, leaf field id, default node). Paths
    // use the Iceberg name-mapping step names through collections:
    // `arr.element.x`, `m.value.y` — defaults under list elements and
    // map VALUES fill per-element on the read path (r16); a default
    // under a map KEY still refuses (filling keys would change key
    // identity).
    var nestedDefaults: Map[String, (Seq[String], Int, JsonNode)] = Map.empty
    if (formatVersion >= 3) {
      val cur = currentSchemaNode(md, path)
      def walk(node: JsonNode, prefix: Seq[String],
          underKey: Boolean): Unit = {
        val fields = node.path("fields")
        if (!fields.isArray) return
        fields.elements().asScala().foreach { f =>
          val p = prefix :+ f.path("name").asText()
          Option(f.get("initial-default")).filterNot(_.isNull).foreach { v =>
            if (prefix.nonEmpty) {
              if (underKey)
                refuse(path, s"declares an initial-default on column " +
                  s"'${p.mkString(".")}' under a map KEY — filling key " +
                  "fields would change key identity")
              nestedDefaults += p.mkString(".") ->
                ((p, f.path("id").asInt(-1), v))
            }
          }
          walkType(f.path("type"), p, underKey)
        }
      }
      def walkType(t: JsonNode, p: Seq[String], underKey: Boolean): Unit =
        if (t.isObject) {
          if (t.path("type").asText("") == "struct") walk(t, p, underKey)
          else Seq("element", "key", "value").foreach { k =>
            val sub = t.path(k)
            if (sub.isObject)
              walkType(sub, p :+ k, underKey = underKey || k == "key")
          }
        }
      walk(cur, Nil, underKey = false)
      initialDefaults = cur.path("fields").elements().asScala().flatMap { f =>
        Option(f.get("initial-default")).filterNot(_.isNull)
          .map(v => f.path("name").asText() -> v)
      }.toMap
    }

    // declared schema: v2 carries a schemas array + current-schema-id,
    // v1 a single schema object
    val schemaNode = currentSchemaNode(md, path)
    val schema = fromIcebergStruct(schemaNode, path)

    // One cached driver-side footer read per file — (top-level field
    // names, field ids, every-field-has-an-id) — shared by the
    // default-fill split and the rename scan so neither pays a second
    // footer pass over the same files.
    val footerCache =
      scala.collection.mutable.Map[String, (Set[String], Set[Int], Boolean)]()
    // the NESTED view of the same footer — (every dotted struct
    // name-path, every field id anywhere in the tree,
    // ids-complete-through-structs) — filled by the SAME footer open
    // below, so nested-default/rename machinery never pays a second
    // driver-side open per file
    val nestedFooterCache =
      scala.collection.mutable.Map[String, (Set[String], Set[Int], Boolean)]()
    def footerInfo(file: String): (Set[String], Set[Int], Boolean) =
      footerCache.getOrElseUpdate(file, {
        val conf = spark.sparkContext.hadoopConfiguration
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new HPath(file), conf))
        try {
          val mt = rdr.getFooter.getFileMetaData.getSchema
          val fields = (0 until mt.getFieldCount).map(mt.getType)
          // nested walk (for nestedFooterCache): "complete" = every
          // struct-context field carries an id — a file with TOP-LEVEL
          // ids only cannot id-resolve nested renames (Spark silently
          // falls back to name matching inside the structs); list/map
          // plumbing groups don't count
          val paths = Set.newBuilder[String]
          val allIds = Set.newBuilder[Int]
          var complete = true
          // Two path spellings land in `paths` per node: the RAW
          // parquet path (plumbing groups included) and the LOGICAL
          // path with LIST/MAP plumbing collapsed to the Iceberg
          // name-mapping step names ("element"/"key"/"value") — what
          // collection-nested default presence tests match against.
          // `logName` is this node's logical step name (== parquet
          // name except for collection children).
          def recT(t: org.apache.parquet.schema.Type,
              rawPre: Seq[String], logPre: Seq[String], logName: String,
              structCtx: Boolean): Unit = {
            import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation}
            val rawP = rawPre :+ t.getName
            val logP = logPre :+ logName
            paths += rawP.mkString(".")
            paths += logP.mkString(".")
            Option(t.getId).foreach(allIds += _.intValue())
            if (structCtx && t.getId == null) complete = false
            t match {
              case g: GroupType =>
                g.getLogicalTypeAnnotation match {
                  case _: LogicalTypeAnnotation.ListLogicalTypeAnnotation =>
                    (0 until g.getFieldCount).foreach { i =>
                      g.getType(i) match {
                        case rg: GroupType if rg.isRepetition(
                              org.apache.parquet.schema.Type.Repetition
                                .REPEATED) && rg.getFieldCount == 1 &&
                              rg.getLogicalTypeAnnotation == null =>
                          // 3-level list: skip the repeated wrapper
                          recT(rg.getType(0), rawP :+ rg.getName, logP,
                            "element", structCtx = false)
                        case other =>
                          // legacy 2-level: the repeated child IS the
                          // element
                          recT(other, rawP, logP, "element",
                            structCtx = false)
                      }
                    }
                  case _: LogicalTypeAnnotation.MapLogicalTypeAnnotation =>
                    (0 until g.getFieldCount).foreach { i =>
                      g.getType(i) match {
                        case kv: GroupType if kv.getFieldCount == 2 =>
                          recT(kv.getType(0), rawP :+ kv.getName, logP,
                            "key", structCtx = false)
                          recT(kv.getType(1), rawP :+ kv.getName, logP,
                            "value", structCtx = false)
                        case other =>
                          recT(other, rawP, logP, other.getName,
                            structCtx = false)
                      }
                    }
                  case _ =>
                    (0 until g.getFieldCount).foreach { i =>
                      val c = g.getType(i)
                      recT(c, rawP, logP, c.getName, structCtx)
                    }
                }
              case _ => ()
            }
          }
          (0 until mt.getFieldCount).foreach { i =>
            val c = mt.getType(i)
            recT(c, Nil, Nil, c.getName, structCtx = true)
          }
          nestedFooterCache(file) = (paths.result(), allIds.result(), complete)
          (fields.map(_.getName).toSet,
            fields.flatMap(t => Option(t.getId).map(_.intValue())).toSet,
            fields.forall(_.getId != null))
        } finally rdr.close()
      })
    def nestedFooterInfo(file: String): (Set[String], Set[Int], Boolean) = {
      if (!nestedFooterCache.contains(file)) footerInfo(file): Unit
      nestedFooterCache(file)
    }
    lazy val defaultedIds: Map[String, Int] =
      schemaNode.path("fields").elements().asScala()
        .filter(f => initialDefaults.contains(f.path("name").asText()))
        .map(f => f.path("name").asText() -> f.path("id").asInt(-1)).toMap
    // the files' name for each defaulted column per the table's
    // schema.name-mapping.default (id-less files resolve renames
    // through it) — a defaulted column present in a footer under its
    // MAPPED name is not absent either
    // EVERY alias in the entry's `names` array counts — a footer
    // carrying a later-listed alias is still physically present
    lazy val defaultedMappedNames: Map[String, Seq[String]] = {
      val byId: Map[Int, Seq[String]] =
        md.path("properties").path("schema.name-mapping.default") match {
          case t if t.isTextual =>
            try om.readTree(t.asText()).elements().asScala().flatMap { e =>
              val id = e.path("field-id").asInt(-1)
              val names = e.path("names").elements().asScala()
                .map(_.asText()).toSeq
              if (id >= 0 && names.nonEmpty) Some(id -> names) else None
            }.toMap
            catch { case _: Exception => Map.empty[Int, Seq[String]] }
          case _ => Map.empty
        }
      defaultedIds.flatMap { case (n, id) => byId.get(id).map(n -> _) }
    }
    // nested-default support: the file's FULL name-path for any field
    // id, from schema.name-mapping.default walked recursively (id-less
    // renamed files resolve their nested names through it)
    // a mapping entry may list SEVERAL aliases in `names` — a footer
    // carrying any later-listed alias is still physically present, so
    // presence tests must check every alias path (cross-product
    // through the nesting), not just the first
    lazy val mappingPathsById: Map[Int, Seq[Seq[String]]] = {
      val mapping = md.path("properties").path("schema.name-mapping.default")
      if (!mapping.isTextual) Map.empty
      else try {
        val b = Map.newBuilder[Int, Seq[Seq[String]]]
        def rec(arr: JsonNode, prefixes: Seq[Seq[String]]): Unit =
          arr.elements().asScala().foreach { e =>
            val id = e.path("field-id").asInt(-1)
            val names = e.path("names").elements().asScala()
              .map(_.asText()).toSeq
            val ps = for (pre <- prefixes; n <- names) yield pre :+ n
            if (id >= 0 && names.nonEmpty) b += id -> ps
            if (e.path("fields").isArray && names.nonEmpty)
              rec(e.get("fields"), ps)
          }
        rec(om.readTree(mapping.asText()), Seq(Nil))
        b.result()
      } catch { case _: Exception => Map.empty[Int, Seq[Seq[String]]] }
    }
    // the PRIMARY (first-listed) alias path per id — the physical name
    // the rename-back scan reads id-less files under
    lazy val mappingPathById: Map[Int, Seq[String]] =
      mappingPathsById.flatMap { case (id, ps) => ps.headOption.map(id -> _) }
    // The nested defaulted fields a data file physically LACKS —
    // judged by footer NAME PATH *and* FIELD ID *and* the
    // name-mapping path (the same rename-safe rule the top-level fill
    // pins: a renamed nested field's files carry another name but the
    // SAME id — they are NOT absent, and filling them would silently
    // overwrite real data with the default).
    def absentNested(file: String): Set[String] =
      if (nestedDefaults.isEmpty) Set.empty
      else {
        val (paths, allIds, _) = nestedFooterInfo(file)
        nestedDefaults.collect {
          case (dotted, (_, id, _))
            if !paths.contains(dotted) &&
              !(id >= 0 && allIds.contains(id)) &&
              !mappingPathsById.get(id)
                .exists(_.exists(p => paths.contains(p.mkString(".")))) =>
            dotted
        }.toSet
      }

    // Rename detection #1 — schema history: Iceberg resolves columns by
    // FIELD ID, this reader by name. A field id carrying different
    // names across retained schema versions means data files written
    // under the old name coexist with the new declared name — a
    // name-based scan would silently null-fill the old files. When the
    // data files carry parquet FIELD IDS (real Iceberg writers always
    // stamp them), the scan upgrades to id-resolution at the footer
    // probe below instead of refusing. (The first-file probe is
    // detection #2, for single-schema metadata.)
    var renameDetail: Option[String] = None
    var renamedIds: Set[Int] = Set.empty
    if (md.has("schemas")) {
      val byId = scala.collection.mutable.Map[Int, Set[String]]()
      md.get("schemas").elements().asScala().foreach(s => fieldNamesById(s, byId))
      val renamed = byId.filter(_._2.size > 1)
      renamedIds = renamed.keySet.toSet
      if (renamed.nonEmpty)
        renameDetail = Some("renamed columns across schema versions (" +
          renamed.map { case (id, names) =>
            s"field $id: ${names.mkString("/")}" }.mkString("; ") + ")")
    }

    // Default partition spec → identity fields. Column Projection
    // rule 2 of the Iceberg spec: an identity-transform field's value
    // comes from the data file's partition struct in the manifest —
    // data files (hive-migrated tables, graft mirrors) may not carry
    // the column at all. Non-identity transforms need no handling:
    // their SOURCE columns must be present in the data files.
    // Partition specs BY ID — partition-spec EVOLUTION lays each
    // manifest's partition structs out per the spec the manifest was
    // written under, so everything below (identity substitution,
    // pruning) resolves positions against the manifest's own
    // partition_spec_id, never blindly against the default.
    val defaultSpecId = md.path("default-spec-id").asInt(0)
    val specFieldsById: Map[Int, Seq[JsonNode]] =
      if (md.has("partition-specs"))
        md.get("partition-specs").elements().asScala().map { s =>
          s.path("spec-id").asInt(0) ->
            s.path("fields").elements().asScala().toSeq
        }.toMap
      else if (md.has("partition-spec"))
        Map(defaultSpecId -> md.get("partition-spec").elements().asScala().toSeq)
      else Map(defaultSpecId -> Seq.empty[JsonNode])
    def specFieldsOf(specId: Int): Seq[JsonNode] =
      specFieldsById.getOrElse(specId,
        refuse(path, s"has manifests written under partition spec $specId, " +
          "which is absent from partition-specs"))
    val nameBySourceId: Map[Int, String] = schemaNode.path("fields")
      .elements().asScala()
      .map(f => f.path("id").asInt(-1) -> f.path("name").asText()).toMap
    // Per-spec identity fields: (column name, type, position in that
    // spec's partition struct). Memoized — specs repeat per manifest.
    val identityPartsCache =
      scala.collection.mutable.Map[Int, Seq[(String, DataType, Int)]]()
    def identityPartsOf(specId: Int): Seq[(String, DataType, Int)] =
      identityPartsCache.getOrElseUpdate(specId,
        specFieldsOf(specId).zipWithIndex.collect {
          case (f, i) if f.path("transform").asText() == "identity" =>
            val srcId = f.path("source-id").asInt(-1)
            val name = nameBySourceId.getOrElse(srcId,
              refuse(path, s"has an identity partition field with source-id " +
                s"$srcId that is not a top-level column"))
            (name, schema(name).dataType, i)
        })

    val lineageSchema = StructType(schema.fields ++ Seq(
      StructField("__fp", StringType), StructField("__pos", LongType)))
    val rowLineageSchema = StructType(lineageSchema.fields ++ Seq(
      StructField("_row_id", LongType),
      StructField("_last_updated_sequence_number", LongType)))
    def emptyResult: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      if (withRowLineage) rowLineageSchema
      else if (withLineage) lineageSchema else schema)
    val snapId = asOfSnapshotId.getOrElse(md.path("current-snapshot-id").asLong(-1L))
    if (snapId == -1L) return emptyResult
    val snapshot = md.get("snapshots").elements().asScala()
      .find(_.get("snapshot-id").asLong() == snapId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapId not found in metadata at $path" +
          (if (asOfSnapshotId.isDefined) " (expired or never existed?)" else "")))

    // manifest list → DATA manifest paths + DELETE manifest paths
    // (v2 merge-on-read); old v1 writers may inline a `manifests` path
    // array instead.
    // (manifest path, manifest sequence number, partition spec id) —
    // v1 lists carry no sequence numbers (0); v2 entries inherit the
    // manifest's when their own is absent. A missing spec id means the
    // default spec (old v1 writers).
    val (manifests: Seq[(String, Long, Int, Option[Long])],
         deleteManifests: Seq[(String, Long)]) =
      if (snapshot.has("manifest-list")) {
        val listPath = snapshot.get("manifest-list").asText()
        val tagged = readAvro(readBytes(fs, new HPath(listPath))).map { r =>
          (fieldOpt(r, "content").map(longOf).getOrElse(0L),
            r.get("manifest_path").toString,
            fieldOpt(r, "sequence_number").map(longOf).getOrElse(0L),
            fieldOpt(r, "partition_spec_id").map(longOf(_).toInt)
              .getOrElse(defaultSpecId),
            fieldOpt(r, "first_row_id").map(longOf))
        }
        (tagged.collect { case (0L, p, s, sid, frid) => (p, s, sid, frid) },
          tagged.collect { case (1L, p, s, _, _) => (p, s) })
      } else if (snapshot.has("manifests"))
        (snapshot.get("manifests").elements().asScala().map(_.asText()).toSeq
          .map((_, 0L, defaultSpecId, None)), Seq.empty[(String, Long)])
      else throw new IllegalStateException(
        s"snapshot $snapId at $path names neither manifest-list nor manifests")

    // delete manifests → merge-on-read delete files.
    //  - POSITION deletes (content 1, Spark/Trino MoR DELETE): target a
    //    row by (data-file URI, row position) — data-file paths are
    //    immutable and unique, so the named row is identified
    //    regardless of sequence numbers (those only enable pruning).
    //  - EQUALITY deletes (content 2, Flink CDC's shape): delete every
    //    row whose listed columns null-safe-equal a delete row, but
    //    ONLY in data files with a STRICTLY SMALLER data sequence
    //    number (a row re-inserted after the delete must survive) —
    //    so each delete file carries its sequence number.
    // Both apply below as distributed left_anti joins — broadcast-able
    // when the delete set is small, never a driver-side decode of
    // O(#deleted rows).
    final case class DelFile(path: String, seq: Long, eqIds: Seq[Int],
      dv: Option[(String, Long, Long)] = None) // (referenced file, off, size)
    val deleteFiles: Seq[(Long, DelFile)] = deleteManifests.flatMap {
      case (mp, mseq) =>
        readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
          val status = longOf(e.get("status"))
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val seq = fieldOpt(e, "sequence_number").map(longOf).getOrElse(mseq)
          val content = fieldOpt(df, "content").map(longOf).getOrElse(-1L)
          val fmt = df.get("file_format").toString
          val isPuffin = fmt.equalsIgnoreCase("puffin")
          if (!fmt.equalsIgnoreCase("parquet") && !isPuffin)
            refuse(path, s"has $fmt delete files")
          if (status == 2L) None
          else if (isPuffin) {
            // Iceberg v3 DELETION VECTOR: a Puffin deletion-vector-v1
            // blob referenced by (file, content_offset, size)
            if (content != 1L)
              refuse(path, s"has a puffin delete file with content=$content")
            val ref = fieldOpt(df, "referenced_data_file").map(_.toString)
            val off = fieldOpt(df, "content_offset").map(longOf)
            val sz = fieldOpt(df, "content_size_in_bytes").map(longOf)
            if (ref.isEmpty || off.isEmpty || sz.isEmpty)
              refuse(path, "has a puffin deletion-vector entry missing " +
                "referenced_data_file/content_offset/content_size_in_bytes")
            Some((3L, DelFile(df.get("file_path").toString, seq, Nil,
              Some((ref.get, off.get, sz.get)))))
          }
          else content match {
            case 1L =>
              Some((1L, DelFile(df.get("file_path").toString, seq, Nil)))
            case 2L =>
              val ids = fieldOpt(df, "equality_ids")
                .collect { case c: java.util.Collection[_] =>
                  c.iterator().asScala()
                    .map(x => longOf(x.asInstanceOf[AnyRef]).toInt).toSeq
                }.getOrElse(Seq.empty)
              if (ids.isEmpty)
                refuse(path, "has an equality delete file without equality_ids")
              Some((2L, DelFile(df.get("file_path").toString, seq, ids)))
            case other => refuse(path,
              s"has a delete manifest entry with content=$other")
          }
        }
    }
    val posDeleteFiles: Seq[String] =
      deleteFiles.collect { case (1L, d) => d.path }.distinct
    val eqDeleteFiles: Seq[DelFile] =
      deleteFiles.collect { case (2L, d) => d }.distinct
    // (referenced data file → (puffin path, offset, size)); the spec
    // allows at most one DV per data file — a duplicate means a writer
    // failed to replace the old vector, and applying "both" could only
    // be right if one contains the other, which can't be verified
    // cheaply, so refuse.
    val dvDeleteRefs: Seq[(String, (String, Long, Long))] =
      deleteFiles.collect { case (3L, d) =>
        (d.dv.get._1, (d.path, d.dv.get._2, d.dv.get._3)) }.distinct
    dvDeleteRefs.groupBy(_._1).find(_._2.size > 1).foreach { case (ref, _) =>
      refuse(path, s"has multiple deletion vectors for data file $ref")
    }

    // optional metadata-only partition pruning: resolve the requested
    // field PER SPEC (spec evolution can move a field's struct
    // position, or change its transform), parse the grain to each
    // spec's typed partition value, and keep only manifest entries
    // whose struct matches — at 100 TB a time-sliced read of a
    // mirrored table is a driver-side filter over file metadata plus a
    // scan of ONLY the matching files, never a full-table scan. A live
    // manifest whose spec does NOT carry the field cannot be
    // classified by metadata, so the metadata-only contract refuses
    // loudly instead of silently returning extra partitions.
    val whereBySpec = scala.collection.mutable.Map[Int, (Int, AnyRef)]()
    def whereFor(specId: Int): Option[(Int, AnyRef)] =
      partitionWhere.map { case (fname, raw) =>
        whereBySpec.getOrElseUpdate(specId, {
          val sf = specFieldsOf(specId)
          val j = sf.indexWhere(_.path("name").asText() == fname)
          if (j < 0) {
            if (specId == defaultSpecId)
              throw new IllegalArgumentException(
                s"partition field '$fname' not in the default partition spec " +
                  s"of $path (fields: " +
                  s"${sf.map(_.path("name").asText()).mkString(", ")})")
            else refuse(path, s"has live manifests under partition spec " +
              s"$specId, which does not carry partition field '$fname' — " +
              "metadata-only pruning cannot classify those files")
          }
          val f = sf(j)
          val transform = f.path("transform").asText()
          val dt: DataType = transform match {
            case "identity" | TruncRe() =>
              val srcId = f.path("source-id").asInt(-1)
              val n = nameBySourceId.getOrElse(srcId,
                refuse(path, s"partition field '$fname' has source-id $srcId " +
                  "that is not a top-level column"))
              schema(n).dataType
            case "day" => DateType
            case "hour" | "month" | "year" => IntegerType
            case BucketRe() => IntegerType
            case other =>
              refuse(path, s"partition pruning on transform '$other'")
          }
          val expected: AnyRef =
            if (raw == null) null
            else transformValue(PartField(fname, 0, 0, dt, transform), raw)
          (j, expected)
        })
      }

    // optional conservative stats pruning for the DML detection scans:
    // `pruneWhere`'s AND-conjuncts against each entry's bounds maps
    // (lower_bounds/upper_bounds/null_value_counts, decoded per the
    // spec's single-value serialization) plus its identity partition
    // values — a dropped file provably holds no matching row, so
    // restricting the scan never changes results, and a keyed mutation
    // on a stats-carrying table reads O(|candidate files|) not O(table)
    val pruneConjs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      pruneWhere.map(c => DeltaStats.conjuncts(spark, schema, c))
        .getOrElse(Nil)
    lazy val pruneIdOf: Map[String, Int] = IcebergStats.fieldIdsOf(schemaNode)
    def bytesOf(v: AnyRef): Option[Array[Byte]] = v match {
      case bb: java.nio.ByteBuffer =>
        val d = bb.duplicate()
        val a = new Array[Byte](d.remaining()); d.get(a); Some(a)
      case f: org.apache.avro.generic.GenericFixed => Some(f.bytes())
      case a: Array[Byte] => Some(a)
      case _ => None
    }
    def statMapOf(df: GenericRecord, name: String): Map[Int, AnyRef] =
      fieldOpt(df, name) match {
        case Some(c: java.util.Collection[_]) =>
          c.iterator().asScala().flatMap {
            case r: GenericRecord => scala.util
              .Try((longOf(r.get("key")).toInt, r.get("value"))).toOption
            case _ => None
          }.toMap
        case _ => Map.empty
      }
    // identity partition value → Delta's canonical string form, which
    // DeltaStats treats as a [v, v] interval (absent = all-null)
    def canonicalPv(dt: DataType, v: AnyRef): Option[String] = v match {
      case null => None
      case days: java.lang.Number if dt == DateType =>
        Some(java.time.LocalDate.ofEpochDay(days.longValue()).toString)
      case other => Some(other.toString)
    }
    def entryMayMatch(df: GenericRecord,
        pv: Seq[(String, DataType, AnyRef)]): Boolean = {
      val pvStr = pv.flatMap { case (n, dt, v) =>
        canonicalPv(dt, v).map(n -> _) }.toMap
      DeltaStats.mayMatchStats(pruneConjs, schema, pv.map(_._1), pvStr, {
        val lowers = statMapOf(df, "lower_bounds").flatMap { case (k, v) =>
          bytesOf(v).map(k -> _) }
        val uppers = statMapOf(df, "upper_bounds").flatMap { case (k, v) =>
          bytesOf(v).map(k -> _) }
        val nulls = statMapOf(df, "null_value_counts").flatMap {
          case (k, v) => scala.util.Try(longOf(v)).toOption.map(k -> _) }
        IcebergStats.toFileStats(schema, pruneIdOf,
          longOf(df.get("record_count")), nulls, lowers, uppers)
      })
    }

    // manifests → live data files (status 2 = DELETED in this
    // snapshot), each with its identity partition substitutions
    // (name, type, value) resolved per ITS manifest's spec and its
    // data sequence number (for equality-delete ordering); pruned by
    // the optional partition filter
    val dataFiles
        : Seq[(String, Seq[(String, DataType, AnyRef)], Long, Option[Long])] =
      manifests.flatMap { case (mp, mseq, specId, mfrid) =>
      val idParts = identityPartsOf(specId)
      val where = whereFor(specId)
      // v3 row-lineage inheritance: an entry with no assigned
      // first_row_id takes the manifest's plus the record counts of
      // the live entries BEFORE it — accumulated over every live
      // entry, pruned or not (pruning must not shift later files' ids)
      var rcAcc = 0L
      readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
        val status = longOf(e.get("status"))
        val seq = fieldOpt(e, "sequence_number").map(longOf).getOrElse(mseq)
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        if (fieldOpt(df, "content").map(longOf).getOrElse(0L) != 0L)
          refuse(path, "has a delete file inside a DATA manifest " +
            "(malformed metadata: delete files belong in delete manifests)")
        val fmt = df.get("file_format").toString
        if (!fmt.equalsIgnoreCase("parquet"))
          refuse(path, s"has $fmt data files")
        val frid = fieldOpt(df, "first_row_id").map(longOf)
          .orElse(mfrid.map(_ + rcAcc))
        if (status != 2L) rcAcc += longOf(df.get("record_count"))
        def structAt(i: Int): AnyRef = df.get("partition") match {
          case pr: GenericRecord if pr.getSchema.getFields.size() > i =>
            pr.get(i) match {
              case u: org.apache.avro.util.Utf8 => u.toString
              case other => other
            }
          case _ => null
        }
        if (status == 2L) None
        else if (where.exists { case (j, want) => !avroEq(structAt(j), want) })
          None
        else {
          val pv = idParts.map { case (n, dt, i) => (n, dt, structAt(i)) }
          if (pruneConjs.nonEmpty && !entryMayMatch(df, pv)) None
          else Some((df.get("file_path").toString, pv, seq, frid))
        }
      }
    }.distinct
    if (dataFiles.isEmpty) return emptyResult

    // Rename detection #2 — footer probe: a declared column missing
    // from a data file footer is a likely field-id rename this
    // name-based reader would silently null-fill. Columns ADDED by
    // schema evolution are legitimately absent from older files (they
    // null-fill by name, matching Iceberg's by-id semantics), so only
    // columns present in EVERY retained schema version are required in
    // the probed footer.
    val stableCols: Seq[String] =
      (if (!md.has("schemas")) schema.fieldNames.toSeq
       else {
         val perSchema = md.get("schemas").elements().asScala().map(s =>
           s.path("fields").elements().asScala()
             .map(_.path("name").asText()).toSet).toSeq
         schema.fieldNames.toSeq.filter(n => perSchema.forall(_.contains(n)))
       // identity partition columns legitimately live in the manifest's
       // partition struct, not the files (Column Projection rule 2) —
       // under any LIVE spec, since each file follows its own spec
       }).filterNot(dataFiles.iterator.flatMap(_._2.map(_._1)).toSet.contains)
       // a declared initial-default EXPLAINS absence: pre-add files
       // legitimately lack the column and fill the default, not a
       // rename suspicion
        .filterNot(initialDefaults.contains)
    // footer probe through the shared footer cache — a
    // spark.read.parquet(..).schema probe costs a DataSource
    // resolution + a 1-task inference JOB per call (~60-90 ms of
    // driver constants, one per DML phase); the footer names are a
    // superset (they include dotted nested paths, which cannot
    // collide with dot-free top-level names)
    val probe = footerInfo(dataFiles.head._1)._1
    // a defaulted column whose FIELD ID appears in the probed footer
    // under a different name is a RENAME, not a pre-add absence — the
    // id-resolution upgrade must engage (the default fill already
    // refuses to treat it as absent, see absentDefaulted)
    val renamedDefaulted: Seq[String] =
      if (initialDefaults.isEmpty) Nil
      else initialDefaults.keySet.toSeq.filter(n =>
        // EVERY file checked, not just the probe: any one file carrying
        // the column under another name — by field id or by the name
        // mapping — forces rename resolution for the scan instead of
        // the default fill (the footers are already paid for by the
        // fill split, and cached)
        dataFiles.exists { case (f, _, _, _) =>
          val (names, ids, _) = footerInfo(f)
          !names.contains(n) &&
            (ids.contains(defaultedIds.getOrElse(n, -1)) ||
              defaultedMappedNames.get(n).exists(_.exists(names.contains)))
        })
    // nested twin of renamedDefaulted: a file lacking the dotted path
    // but carrying the field id (or the name-mapped path) was RENAMED
    // — force id-resolution for the scan instead of the default fill
    val renamedNestedDefaulted: Seq[String] =
      if (nestedDefaults.isEmpty) Nil
      else nestedDefaults.toSeq.collect { case (dotted, (segs, id, _))
        if dataFiles.exists { case (f, _, _, _) =>
          val (paths, allIds, _) = nestedFooterInfo(f)
          !paths.contains(dotted) &&
            ((id >= 0 && allIds.contains(id)) ||
              mappingPathsById.get(id)
                .exists(_.exists(p => paths.contains(p.mkString(".")))))
        } =>
          // a COLLECTION-nested defaulted field present under another
          // name cannot id-resolve (Spark carries field ids on struct
          // fields only, never on list/map element types) — an id scan
          // would SILENTLY null the real data, so refuse instead
          if (segs.exists(s => s == "element" || s == "key" || s == "value"))
            refuse(path, s"data files carry defaulted column '$dotted' " +
              "under another name inside a list/map — Spark cannot " +
              "field-id-resolve collection element fields; rewrite the " +
              "files under the current names")
          dotted
      }
    val missing = stableCols.filterNot(probe.contains) ++
      renamedDefaulted ++ renamedNestedDefaulted
    // Field-id upgrade: when a rename is detected (schema history or
    // probe) AND the files carry parquet field ids, resolve columns BY
    // ID — Iceberg's own semantics — by annotating the read schema
    // with parquet.field.id and enabling Spark's field-id matching.
    // Files without ids keep the loud refusal (never null-fill); a
    // file lacking ids in an id-read scan errors (ignoreMissing false).
    val needIdRead = renameDetail.isDefined || missing.nonEmpty
    // Spark's inferred schema drops parquet field ids — ask the footer
    // itself (via the shared cache) whether every top-level column
    // carries one
    // declared field id by FULL name path (nested rename resolution)
    lazy val idByPath: Map[Seq[String], Int] = {
      val b = Map.newBuilder[Seq[String], Int]
      def rec(node: JsonNode, prefix: Seq[String]): Unit = {
        val fields = node.path("fields")
        if (fields.isArray) fields.elements().asScala().foreach { f =>
          val p = prefix :+ f.path("name").asText()
          val id = f.path("id").asInt(-1)
          if (id >= 0) b += p -> id
          val t = f.path("type")
          if (t.isObject && t.path("type").asText("") == "struct") rec(t, p)
        }
      }
      rec(schemaNode, Nil)
      b.result()
    }
    // NESTED id-resolution is needed only when a renamed field id (or
    // a renamed defaulted nested path) lives BELOW the top level —
    // only then can a file carrying top-level-only parquet ids
    // silently null-fill a nested column under id matching. A purely
    // top-level rename keeps resolving with top-level ids (the r14
    // behavior); requiring struct-complete ids for it would refuse
    // reads that resolve correctly.
    lazy val nestedSchemaIds: Set[Int] =
      idByPath.collect { case (p, id) if p.size > 1 => id }.toSet
    lazy val needNestedIdResolution =
      renamedNestedDefaulted.nonEmpty ||
        (renamedIds intersect nestedSchemaIds).nonEmpty
    def footerHasFieldIds(file: String): Boolean =
      footerInfo(file)._3 &&
        (!needNestedIdResolution || nestedFooterInfo(file)._3)
    // Per-file rename resolution, Iceberg's own precedence: files WITH
    // parquet field ids resolve BY ID (Spark's field-id matching over
    // an annotated schema); id-less files resolve through the table's
    // `schema.name-mapping.default` (field-id → the name the files
    // carry — written by migrate/convert paths); a file with neither
    // refuses loudly, never null-fills. The footer split is O(#files)
    // driver opens, paid only when a rename/absence is detected.
    val nameMapping: Map[Int, String] =
      if (!needIdRead) Map.empty
      else md.path("properties").path("schema.name-mapping.default") match {
        case t if t.isTextual =>
          try om.readTree(t.asText()).elements().asScala().flatMap { e =>
            val id = e.path("field-id").asInt(-1)
            val names = e.path("names").elements().asScala()
              .map(_.asText()).toSeq
            if (id >= 0 && names.nonEmpty) Some(id -> names.head) else None
          }.toMap
          catch { case _: Exception => Map.empty[Int, String] }
        case _ => Map.empty
      }
    val idOfName: Map[String, Int] =
      if (!needIdRead) Map.empty
      else schemaNode.get("fields").elements().asScala()
        .map(f => f.path("name").asText() -> f.path("id").asInt(-1)).toMap
    val idFileSet: Set[String] =
      if (!needIdRead) Set.empty
      else dataFiles.map(_._1).distinct.filter(footerHasFieldIds).toSet
    if (needIdRead) {
      if (nameMapping.isEmpty &&
          dataFiles.map(_._1).distinct.exists(!idFileSet.contains(_)))
        refuse(path, renameDetail.getOrElse(
          s"data files lack declared columns ${missing.mkString(", ")} " +
            "(renamed by field id?)") +
          " — and the data files carry no parquet field ids (nor a " +
          "schema.name-mapping.default) to resolve by")
      // the flag is session-sticky by Spark's design (the scan reads it
      // from session conf at planning); harmless for every other scan —
      // matching only engages for schemas that CARRY parquet.field.id
      // metadata, which only these upgraded reads construct
      if (idFileSet.nonEmpty)
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    }
    val readSchema: StructType = schema
    // v3 initial-default as a typed literal; unsupported combinations
    // refuse loudly rather than silently null-filling.
    def defaultLiteral(name: String): org.apache.spark.sql.Column =
      jsonSingleValueLiteral(schema(name).dataType, initialDefaults(name))
        .getOrElse(refuse(path, s"declares an initial-default " +
          s"${initialDefaults(name).toString} this reader cannot render " +
          s"as ${schema(name).dataType.simpleString}"))
    // The defaulted columns a data file physically LACKS — judged by
    // footer NAME *and* FIELD ID (a renamed defaulted column's files
    // carry the old name but the same id: they are NOT absent, and
    // filling them would silently overwrite real data with the
    // default). Pre-add files carry neither. One driver-side footer
    // open per file, paid only on default-carrying v3 tables, shared
    // with the rename scan through footerCache.
    def absentDefaulted(file: String): Set[String] =
      if (initialDefaults.isEmpty) Set.empty
      else {
        val (names, ids, _) = footerInfo(file)
        initialDefaults.keySet.filterNot(n =>
          names.contains(n) ||
            ids.contains(defaultedIds.getOrElse(n, -1)) ||
            defaultedMappedNames.get(n).exists(_.exists(names.contains)))
      }
    // nested default as a typed literal at its leaf type — segments
    // step through collections via "element"/"key"/"value"
    def nestedDefaultLiteral(dotted: String): org.apache.spark.sql.Column = {
      val (segs, _, node) = nestedDefaults(dotted)
      val dt = segs.foldLeft[DataType](schema) {
        case (s: StructType, seg) => s(seg).dataType
        case (a: org.apache.spark.sql.types.ArrayType, "element") =>
          a.elementType
        case (m: org.apache.spark.sql.types.MapType, "key") => m.keyType
        case (m: org.apache.spark.sql.types.MapType, "value") => m.valueType
        case (other, _) => other
      }
      jsonSingleValueLiteral(dt, node).getOrElse(refuse(path,
        s"declares an initial-default ${node.toString} this reader " +
          s"cannot render as ${dt.simpleString} (column '$dotted')"))
    }
    /** Drop the absent nested fields from the scan schema — an
      * id-resolving scan of a file lacking the field id would error,
      * a name scan would null-fill the default away. Descends through
      * list elements / map values (steps "element"/"value"). */
    def pruneNestedAbsent(st: StructType,
        absentN: Set[String]): StructType = {
      def recType(dt: DataType, p: Seq[String]): DataType = dt match {
        case inner: StructType =>
          val r = rec(inner, p)
          if (r.fields.isEmpty)
            refuse(path, s"data files lack every known field of " +
              s"struct '${p.mkString(".")}' — cannot scan an empty struct")
          r
        case a: org.apache.spark.sql.types.ArrayType =>
          a.copy(elementType = recType(a.elementType, p :+ "element"))
        case m: org.apache.spark.sql.types.MapType =>
          m.copy(valueType = recType(m.valueType, p :+ "value"))
        case other => other
      }
      def rec(s: StructType, prefix: Seq[String]): StructType =
        StructType(s.fields.flatMap { f =>
          val p = prefix :+ f.name
          val dotted = p.mkString(".")
          if (absentN.contains(dotted)) None
          else if (absentN.exists(_.startsWith(dotted + ".")))
            Some(f.copy(dataType = recType(f.dataType, p)))
          else Some(f)
        })
      rec(st, Nil)
    }
    /** Rebuild a column whose scan omitted absent nested fields: each
      * struct level re-assembles in DECLARED field order with the
      * defaults as typed literals; a NULL container (struct, array,
      * map, or element) stays null — never becomes a value of
      * defaults. List elements rebuild per-element via `transform`,
      * map values via `transform_values` (r16). */
    def filledColumn(f: StructField,
        absentN: Set[String]): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{struct, transform, transform_values, when}
      def recVal(dt: DataType, p: Seq[String],
          ref: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val dotted = p.mkString(".")
        if (!absentN.exists(_.startsWith(dotted + "."))) ref
        else dt match {
          case s: StructType =>
            val children = s.fields.map { cf =>
              val cd = (p :+ cf.name).mkString(".")
              if (absentN.contains(cd)) nestedDefaultLiteral(cd).as(cf.name)
              else recVal(cf.dataType, p :+ cf.name, ref.getField(cf.name))
                .as(cf.name)
            }
            when(ref.isNotNull, struct(children.toSeq: _*))
              .otherwise(lit(null)).cast(dt)
          case a: org.apache.spark.sql.types.ArrayType =>
            when(ref.isNotNull,
              transform(ref, e =>
                when(e.isNotNull,
                  recVal(a.elementType, p :+ "element", e))
                  .otherwise(lit(null))))
              .otherwise(lit(null)).cast(dt)
          case m: org.apache.spark.sql.types.MapType =>
            when(ref.isNotNull,
              transform_values(ref, (_, v) =>
                when(v.isNotNull, recVal(m.valueType, p :+ "value", v))
                  .otherwise(lit(null))))
              .otherwise(lit(null)).cast(dt)
          case _ => ref
        }
      }
      recVal(f.dataType, Seq(f.name), col(s"`${f.name}`")).as(f.name)
    }
    /** Scan `files` at `scanSchema`, splitting id-resolvable from
      * name-mapped files when renames are in play, filling v3
      * initial-defaults (top-level AND struct-nested) per file group,
      * and project the logical columns (+ `extra`, e.g. _metadata
      * refs — selected per-scan because hidden columns don't survive
      * a union). */
    def readFiles(scanSchema0: StructType, files: Seq[String],
        extra: Seq[org.apache.spark.sql.Column]): DataFrame =
      if (initialDefaults.isEmpty && nestedDefaults.isEmpty)
        readFilesRaw(scanSchema0, files, extra)
      else org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(
        files.groupBy(f => (absentDefaulted(f), absentNested(f))).toSeq
        // deterministic union order (groupBy is hash-ordered)
        .sortBy { case ((a, n), _) =>
          (a.toSeq.sorted.mkString(","), n.toSeq.sorted.mkString(",")) }
        .map { case ((absent, absentN), group) =>
          if (absent.isEmpty && absentN.isEmpty)
            readFilesRaw(scanSchema0, group, extra)
          else {
            // scan WITHOUT the absent columns/fields and re-project to
            // the full order with the defaults as typed literals
            val present = pruneNestedAbsent(
              StructType(scanSchema0.filterNot(f => absent(f.name))),
              absentN)
            val scanned = readFilesRaw(present, group, extra)
            val presentNames = present.fieldNames.toSet
            val tail = scanned.columns.filterNot(presentNames.contains)
            scanned.select(
              (scanSchema0.map(f =>
                if (absent(f.name)) defaultLiteral(f.name).as(f.name)
                else filledColumn(f, absentN)) ++
                tail.map(c => col(s"`$c`"))).toSeq: _*)
          }
        })
    def readFilesRaw(scanSchema0: StructType, files: Seq[String],
        extra: Seq[org.apache.spark.sql.Column]): DataFrame = {
      // v3 row lineage: rewritten files MATERIALIZE _row_id /
      // _last_updated_sequence_number; files that never rewrote
      // null-fill and inherit below
      val scanSchema =
        if (!withRowLineage) scanSchema0
        else StructType(scanSchema0.fields ++ Seq(
          StructField("_row_id", LongType),
          StructField("_last_updated_sequence_number", LongType))
          .filterNot(f => scanSchema0.fieldNames.contains(f.name)))
      def project(df: DataFrame) =
        df.select(scanSchema.map(f => col(f.name)) ++ extra: _*)
      if (!needIdRead)
        project(spark.read.schema(scanSchema).parquet(files: _*))
      else {
        val (withIds, without) = files.partition(idFileSet.contains)
        val scans = Seq.newBuilder[DataFrame]
        if (withIds.nonEmpty)
          scans += project(spark.read
            .schema(annotateFieldIds(scanSchema, schemaNode))
            .parquet(withIds: _*))
        if (without.nonEmpty) {
          // the mapping resolves NESTED renames too: scan under the
          // FILE's name at every level (mappingPathById), then one
          // positional struct cast renames back to the declared
          // schema — the same write-side-inverse rule the Delta
          // column-mapping reader pins
          def fileField(f: StructField, prefix: Seq[String]): StructField = {
            val p = prefix :+ f.name
            val fname = idByPath.get(p).flatMap(mappingPathById.get)
              .map(_.last).getOrElse(f.name)
            val dt = f.dataType match {
              case s: StructType =>
                StructType(s.fields.map(fileField(_, p)))
              case other => other
            }
            f.copy(name = fname, dataType = dt)
          }
          val physSchema = StructType(scanSchema.map(fileField(_, Nil)))
          scans += spark.read.schema(physSchema).parquet(without: _*)
            .select(scanSchema.fields.zip(physSchema.fields).map {
              case (lf, pf) =>
                col(s"`${pf.name}`").cast(lf.dataType).as(lf.name)
            } ++ extra: _*)
        }
        scans.result().reduce(_.unionAll(_))
      }
    }

    // Delete application: each scan keeps its (file, pos) row identity
    // via _metadata columns until left_anti joins strip the deleted
    // rows — position deletes as ONE (file, pos) equi-join, equality
    // deletes as one null-safe-equality join per distinct equality-id
    // set with the sequence-number guard `dataSeq < deleteSeq` (a row
    // re-inserted after the delete survives). Delete files reference
    // data files by the same URI string the manifests carry, while
    // _metadata.file_path renders the QUALIFIED form — bridged by
    // driver-built (manifest path → qualified) maps (the qualification
    // convention the Delta DV reader pins). Deletes for files pruned
    // or removed from this snapshot drop out as no-ops.
    val anyDeletes = posDeleteFiles.nonEmpty || eqDeleteFiles.nonEmpty ||
      dvDeleteRefs.nonEmpty
    val metaCols: Seq[org.apache.spark.sql.Column] =
      if (!anyDeletes && !withLineage && !withRowLineage) Nil
      else Seq(col("_metadata.file_path").as("__fp"),
        col("_metadata.row_index").as("__pos"))
    val lineageOut: Seq[org.apache.spark.sql.Column] =
      (if (withLineage || withRowLineage) Seq(col("__fp"), col("__pos"))
       else Nil) ++
      (if (withRowLineage) Seq(col("_row_id"),
        col("_last_updated_sequence_number")) else Nil)
    def applyPosDeletes(scan: DataFrame): DataFrame =
      if (!anyDeletes) scan
      else {
        val conf = spark.sparkContext.hadoopConfiguration
        def qualified(p: String): String = {
          val hp = new HPath(p)
          hp.getFileSystem(conf).makeQualified(hp).toString
        }
        import spark.implicits._
        var cur = scan
        if (dvDeleteRefs.nonEmpty) {
          // v3 deletion vectors: driver-decoded roaring bitmaps (KB
          // per file) ride the scan as a codegen'd filter — no join,
          // no shuffle, no driver pass over deleted ROWS (only bitmap
          // bytes), the same shape the Delta DV reader uses
          val bridge = org.apache.spark.sql.graftbridge.ColumnBridge
          val lookupMap = new java.util.HashMap[
            org.apache.spark.unsafe.types.UTF8String,
            DeletionVectors.Roaring64]()
          dvDeleteRefs.foreach { case (ref, (pf, off, sz)) =>
            lookupMap.put(
              org.apache.spark.unsafe.types.UTF8String.fromString(
                qualified(ref)),
              Puffin.readDvBlob(conf, pf, off, sz))
          }
          val dvPred = bridge.column(DvDeleted(
            bridge.expression(col("__fp")),
            bridge.expression(col("__pos")), new DvLookup(lookupMap)))
          cur = cur.where(!dvPred)
        }
        if (posDeleteFiles.nonEmpty) {
          val pathMap = dataFiles.map(_._1).distinct
            .map(p => (p, qualified(p))).toDF("file_path", "__fp")
          // explicit spec-fixed schema (file_path string, pos long —
          // Iceberg reserved ids 2147483546/2147483545): skips the
          // per-call schema-inference job; extra columns (the optional
          // deleted-row payload) are simply not read
          val del = spark.read
            .schema("file_path STRING, pos BIGINT")
            .parquet(posDeleteFiles: _*)
            .select(col("file_path").cast("string").as("file_path"),
              col("pos").cast("long").as("__pos"))
            .join(pathMap, Seq("file_path"))
            .select(col("__fp"), col("__pos"))
          cur = cur.join(del, Seq("__fp", "__pos"), "left_anti")
        }
        if (eqDeleteFiles.nonEmpty) {
          // equality ids resolve against TOP-LEVEL schema fields by id
          // (delete files carry those columns under their table names)
          val topIds: Map[Int, String] = schemaNode.get("fields").elements()
            .asScala()
            .map(f => f.path("id").asInt(-1) -> f.path("name").asText()).toMap
          val seqMap = dataFiles.map { case (p, _, s, _) =>
            (qualified(p), s) }
            .distinct.toDF("__fp", "__dseq")
          cur = cur.join(seqMap, Seq("__fp"))
          eqDeleteFiles.groupBy(_.eqIds).toSeq.sortBy(_._1.mkString(","))
            .foreach { case (ids, files) =>
              val names = ids.map(id => topIds.getOrElse(id, refuse(path,
                s"has an equality delete on field id $id, which is not a " +
                  "top-level column")))
              // explicit schema (the delete rows carry the key columns
              // under their table names/types): no inference job
              val eqSchema = StructType(names.map(n => schema(n)))
              val rel = org.apache.spark.sql.graftbridge.ColumnBridge
                .unionAll(files.groupBy(_.seq).toSeq.map { case (s, fs2) =>
                  spark.read.schema(eqSchema)
                    .parquet(fs2.map(_.path).distinct: _*)
                    .select(names.map(n => col(n).as(s"__eq_$n")) :+
                      lit(s).as("__eseq"): _*)
                })
              val cond = names.map(n => cur(n) <=> rel(s"__eq_$n"))
                .reduce(_ && _) && cur("__dseq") < rel("__eseq")
              cur = cur.join(rel, cond, "left_anti")
            }
        }
        cur.select(schema.map(f => col(f.name)) ++ lineageOut: _*)
      }

    def withInheritedRowIds(base: DataFrame): DataFrame = {
      if (!withRowLineage) return base
      import org.apache.spark.sql.functions.{broadcast, coalesce}
      val conf2 = spark.sparkContext.hadoopConfiguration
      def qual(p: String): String = {
        val hp = new HPath(p)
        hp.getFileSystem(conf2).makeQualified(hp).toString
      }
      val fridRows = dataFiles.map { case (p, _, seq, frid) =>
        org.apache.spark.sql.Row(qual(p), seq,
          frid.map(Long.box).orNull)
      }.distinct
      val fridMap = spark.createDataFrame(
        spark.sparkContext.parallelize(fridRows, 1),
        StructType(Seq(StructField("__fp", StringType),
          StructField("__dseq_rl", LongType),
          StructField("__frid", LongType))))
      base.join(broadcast(fridMap), Seq("__fp"))
        .withColumn("_row_id",
          coalesce(col("_row_id"), col("__frid") + col("__pos")))
        .withColumn("_last_updated_sequence_number",
          coalesce(col("_last_updated_sequence_number"), col("__dseq_rl")))
        .select(schema.map(f => col(f.name)) ++ Seq(col("__fp"),
          col("__pos"), col("_row_id"),
          col("_last_updated_sequence_number")): _*)
    }
    if (dataFiles.forall(_._2.isEmpty))
      withInheritedRowIds(applyPosDeletes(
        readFiles(readSchema, dataFiles.map(_._1).distinct, metaCols)))
    else {
      // Identity columns come from partition metadata, constant per
      // file: scan each distinct substitution tuple's files once and
      // attach the values as literals (whether or not the files also
      // carry the column — metadata wins, per the spec). Under spec
      // evolution, WHICH columns substitute varies per file: a column
      // identity-partitioned under one spec reads from partition
      // metadata for that spec's files and from the data files for
      // every other spec's — the grouping key carries the substituted
      // column NAMES as well as their values. Substitution is
      // RESTRICTED to the types whose Avro partition-struct encoding
      // this decodes exactly — Iceberg stores timestamp partition
      // values as micros-since-epoch longs (lit(long).cast(timestamp)
      // would misread them as SECONDS) and decimal/fixed/binary arrive
      // as ByteBuffers; those columns instead read from the data files
      // themselves, and files that don't carry them (hive-migrated
      // layouts) refuse loudly below rather than null-fill.
      import org.apache.spark.sql.functions.lit
      def metaSubstitutable(dt: DataType): Boolean = dt match {
        case DateType | StringType | TimestampType | TimestampNTZType |
             IntegerType | LongType | ShortType | ByteType | BooleanType |
             FloatType | DoubleType => true
        case _ => false
      }
      def microsInstant(v: AnyRef): java.time.Instant = {
        val us = longOf(v)
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      }
      def idLit(dt: DataType, v: AnyRef): org.apache.spark.sql.Column =
        if (v == null) lit(null).cast(dt)
        else dt match {
          case DateType => lit(java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(longOf(v))))
          case StringType => lit(v.toString)
          case TimestampType => lit(microsInstant(v))
          case TimestampNTZType =>
            lit(java.time.LocalDateTime.ofInstant(
              microsInstant(v), java.time.ZoneOffset.UTC))
          case _ => lit(v).cast(dt)
        }
      // non-substitutable identity columns (under ANY live spec) must
      // come from the data files themselves
      locally {
        val fileParts = dataFiles.flatMap(_._2.collect {
          case (n, dt, _) if !metaSubstitutable(dt) => n }).distinct
        val absent = fileParts.filterNot(probe.contains)
        if (absent.nonEmpty)
          refuse(path, "has identity partition columns of types this reader " +
            s"cannot decode from partition metadata (${absent.mkString(", ")}) " +
            "and the data files do not carry them either")
      }
      def subsOf(pv: Seq[(String, DataType, AnyRef)]) =
        pv.filter { case (_, dt, _) => metaSubstitutable(dt) }
      withInheritedRowIds(applyPosDeletes(
        org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(dataFiles
        .groupBy { case (_, pv, _, _) =>
          subsOf(pv).map { case (n, _, v) => (n, Option(v).map(_.toString)) } }
        .map { case (_, fsOfPart) =>
          val subs = subsOf(fsOfPart.head._2)
          val metaNames = subs.map(_._1).toSet
          val scanSchema =
            StructType(readSchema.filterNot(f => metaNames.contains(f.name)))
          var df = readFiles(scanSchema, fsOfPart.map(_._1).distinct,
            metaCols)
          subs.foreach { case (n, dt, v) =>
            df = df.withColumn(n, idLit(dt, v))
          }
          // _metadata refs were projected inside readFiles — reference
          // them by their projected aliases here
          df.select(schema.map(f => col(f.name)) ++
            (if (metaCols.isEmpty) Nil
             else Seq(col("__fp"), col("__pos"))) ++
            (if (withRowLineage) Seq(col("_row_id"),
              col("_last_updated_sequence_number")) else Nil): _*)
          // one n-ary Union node (not chained unionAll): CheckAnalysis
          // re-walks the accumulated tree per chained union — O(n²)
          // driver cost in the partition-group count
        }.toSeq)))
    }
  }

  // ---------------------------------------------------------------
  // History management: incremental reads, rollback, refs, orphans
  // ---------------------------------------------------------------

  /** INCREMENTAL APPEND SCAN — Iceberg's incremental read: the rows
    * added by every snapshot AFTER `fromSnapshotId` (exclusive) up to
    * `toSnapshotId` (inclusive; default the current snapshot), each
    * tagged with `_snapshot_id` and a 1-based `_change_ordinal` (the
    * snapshot's position in the range — snapshot ids are opaque, the
    * ordinal is the comparable "which batch" column). The Iceberg twin
    * of [[DeltaInterop.readDeltaChanges]] for append-only histories:
    * a downstream consumer syncs `|delta|` rows instead of re-reading
    * the table.
    *
    * Semantics follow Iceberg's own incremental append scan: `append`
    * snapshots contribute exactly their ADDED files; `replace` /
    * compaction / clustering snapshots rewrite the same rows and
    * contribute NOTHING; any row-level change in the range (overwrite,
    * delete, or a snapshot carrying delete manifests) refuses loudly —
    * an append scan cannot express it. An expired `fromSnapshotId`
    * refuses with a restart message. Scale: O(#range manifests) driver
    * metadata + a scan of ONLY the added files. */
  def readIcebergChanges(spark: SparkSession, path: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val (fs, md) = currentMetadata(spark, path)
    if (md.path("format-version").asInt(1) > 2)
      refuse(path, "is format version 3+")
    val schemaNode = currentSchemaNode(md, path)
    val schema = fromIcebergStruct(schemaNode, path)
    val byId = snapshotsById(md)
    require(byId.contains(fromSnapshotId),
      s"snapshot $fromSnapshotId is no longer retained at " +
      s"$path (expired or never existed) — incremental reads need a " +
      "retained start; re-sync from a full readIceberg")
    val endId = toSnapshotId.getOrElse(currentHeadId(md))
    require(byId.contains(endId), s"snapshot $endId not found at $path")
    // the range is the BRANCH between the two snapshots — the ancestor
    // chain of endId, never the snapshots array (after a rollback the
    // array still ends with the abandoned commits)
    val chain = ancestorChainOf(md, endId)
    val si = chain.indexOf(fromSnapshotId)
    if (si < 0 && fromSnapshotId != endId) {
      if (ancestorChainOf(md, fromSnapshotId).contains(endId))
        throw new IllegalArgumentException(
          s"end snapshot $endId precedes start $fromSnapshotId at $path")
      throw new IllegalArgumentException(
        s"snapshot $fromSnapshotId is not an ancestor of $endId at $path " +
          "(rolled back, or on an abandoned branch) — incremental reads " +
          "follow the current branch; re-sync from a full readIceberg")
    }
    val out = StructType(schema.fields ++ Seq(
      StructField("_snapshot_id", LongType),
      StructField("_change_ordinal", IntegerType)))
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    if (fromSnapshotId == endId) return empty
    def listRecords(snap: JsonNode): Seq[(Long, String, Long)] =
      readAvro(readBytes(fs, new HPath(snap.get("manifest-list").asText())))
        .map { r =>
          (fieldOpt(r, "content").map(longOf).getOrElse(0L),
            r.get("manifest_path").toString,
            fieldOpt(r, "added_snapshot_id").map(longOf).getOrElse(-1L))
        }
    val perSnap: Seq[(Long, Seq[String])] =
      chain.drop(si + 1).flatMap { id =>
        val snap = byId(id)
        val op = snap.path("summary").path("operation").asText("")
        val recs = listRecords(snap)
        val isRewrite = op == "replace" ||
          op.startsWith("compact") || op.startsWith("cluster")
        // a delete manifest matters only if THIS snapshot added it —
        // a live delete manifest from before the range rides every
        // later snapshot's list without making those appends changes
        def addedDeletes = recs.exists(r => r._1 != 0L && r._3 == id)
        val isChange = !isRewrite && (op != "append" || addedDeletes)
        if (isChange)
          refuse(path, s"snapshot $id in the range is operation '$op'" +
            (if (addedDeletes) " carrying delete manifests" else "") +
            " — an incremental APPEND scan cannot express row-level " +
            "changes; diff full reads at the two snapshots instead")
        if (isRewrite) None
        else {
          // only manifests this snapshot added can carry its ADDED
          // entries — skipping the carried-over rest keeps the driver
          // cost O(range manifests), not O(history × range)
          val added = recs.flatMap { case (_, mp, addedBy) =>
            if (addedBy >= 0 && addedBy != id) Nil
            else readAvro(readBytes(fs, new HPath(mp))).flatMap { e =>
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              val fmt = df.get("file_format").toString
              if (!fmt.equalsIgnoreCase("parquet"))
                refuse(path, s"has $fmt data files")
              val entrySnap = fieldOpt(e, "snapshot_id").map(longOf)
                .getOrElse(addedBy)
              if (longOf(e.get("status")) == 1L && entrySnap == id)
                Some(df.get("file_path").toString)
              else None
            }
          }.distinct
          if (added.isEmpty) None else Some((id, added))
        }
      }
    if (perSnap.isEmpty) return empty
    // identity partition values may live only in manifest metadata
    // (Column Projection rule 2) — this fixed-schema scan reads files
    // by name, so declared columns must come from the files; the
    // first-file probe turns the alternative into a loud refusal
    val probe = FooterSchema.of(spark.sparkContext.hadoopConfiguration,
      perSnap.head._2.head).fieldNames.toSet
    val missing = schema.fieldNames.filterNot(probe.contains)
    if (missing.nonEmpty)
      refuse(path, "has data files lacking declared columns " +
        s"${missing.mkString(", ")} (identity partition values in " +
        "manifest metadata, or a rename) — read it via readIceberg")
    org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(
      perSnap.zipWithIndex.map { case ((id, files), i) =>
        spark.read.schema(schema).parquet(files: _*)
          .withColumn("_snapshot_id", lit(id))
          .withColumn("_change_ordinal", lit(i + 1))
      })
  }

  /** ROW-LEVEL CHANGELOG between two snapshots — the CDF twin of
    * [[readIcebergChanges]] that DECODES change snapshots instead of
    * refusing them. Rows are tagged `_change_type`
    * (`insert`/`delete`), `_snapshot_id`, and a 1-based
    * `_change_ordinal` (the snapshot's position in the range):
    *
    *  - `append` snapshots contribute their ADDED files as inserts —
    *    O(added) scan, no table read;
    *  - `replace`/compaction/clustering snapshots rewrite the same
    *    rows and contribute NOTHING (Iceberg's own changelog rule);
    *  - a snapshot whose row-level mechanisms are ADDED POSITION
    *    DELETE files (graft's merge-on-read DELETE/UPDATE/MERGE shape)
    *    and/or ADDED EQUALITY DELETE files (the Flink-CDC upsert
    *    shape) decodes with ONE table-as-of-previous scan: struck
    *    (file, pos) coordinates join back to their rows, equality
    *    keys null-safe SEMI-JOIN the previous snapshot's rows (the
    *    spec's strictly-smaller-sequence rule scopes them to
    *    pre-existing files, so a key re-inserted in the same commit
    *    survives as an insert), and both delete sources dedup by row
    *    coordinate. Position deletes that target data files added by
    *    the SAME snapshot (legal since delete seq == data seq
    *    applies; Flink writes them for within-batch upserts) strike
    *    those rows OUT of the insert scan instead of producing
    *    deletes — the rows never existed at the previous snapshot;
    *  - anything else (copy-on-write removes, v3 deletion vectors,
    *    an equality delete whose explicit sequence number reaches
    *    back before the previous snapshot) decodes EXACTLY by
    *    lineage diff: rows live at the previous snapshot but not at
    *    this one are deletes, the converse are inserts — two table
    *    scans for that snapshot, the same order Iceberg's own CoW
    *    changelog pays. Carried rows of a CoW rewrite appear as
    *    delete+insert pairs, matching Iceberg's (non-net) changelog
    *    semantics.
    *
    * The range is resolved along the PARENT-SNAPSHOT-ID ancestor
    * chain of the end snapshot (Iceberg's currentAncestors), never
    * the metadata's snapshots array — after a [[rollbackIceberg]] the
    * array still ends with the abandoned commits, which are not
    * changes on the current branch. `fromSnapshotId` must be an
    * ancestor of the end snapshot (a rolled-over start refuses with a
    * re-sync message).
    *
    * Snapshots are decoded against the CURRENT schema (columns added
    * later null-fill in older snapshots' rows, by-id semantics). An
    * expired `fromSnapshotId` refuses with a restart message. Feeds
    * the streaming changelog
    * ([[graft.sources.v2.IcebergSource]] with
    * `option("readChangeFeed", "true")`). */
  def readIcebergChangelog(spark: SparkSession, path: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val (fs, md) = currentMetadata(spark, path)
    if (md.path("format-version").asInt(1) > 3)
      refuse(path, s"is format version 4+")
    val schemaNode = currentSchemaNode(md, path)
    val schema = fromIcebergStruct(schemaNode, path)
    val out = StructType(schema.fields ++ Seq(
      StructField("_change_type", StringType),
      StructField("_snapshot_id", LongType),
      StructField("_change_ordinal", IntegerType)))
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], out)
    val byId = snapshotsById(md)
    require(byId.contains(fromSnapshotId),
      s"snapshot $fromSnapshotId is no longer retained at " +
      s"$path (expired or never existed) — changelog reads need a " +
      "retained start; re-sync from a full readIceberg")
    val endId = toSnapshotId.getOrElse(currentHeadId(md))
    require(byId.contains(endId), s"snapshot $endId not found at $path")
    val chain = ancestorChainOf(md, endId)
    val si = chain.indexOf(fromSnapshotId)
    if (si < 0 && fromSnapshotId != endId) {
      if (ancestorChainOf(md, fromSnapshotId).contains(endId))
        throw new IllegalArgumentException(
          s"end snapshot $endId precedes start $fromSnapshotId at $path")
      throw new IllegalArgumentException(
        s"snapshot $fromSnapshotId is not an ancestor of $endId at $path " +
          "(rolled back, or on an abandoned branch) — the changelog " +
          "follows the current branch; re-sync from a full readIceberg")
    }
    if (fromSnapshotId == endId) return empty
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
    def lineage(asOf: Long): DataFrame = {
      changelogTableScans.incrementAndGet()
      readIcebergInternal(spark, path, Some(asOf), None, withLineage = true)
    }
    def tag(df: DataFrame, ct: String, id: Long, ord: Int): DataFrame =
      df.select(schema.map(f => col(f.name)): _*)
        .withColumn("_change_type", lit(ct))
        .withColumn("_snapshot_id", lit(id))
        .withColumn("_change_ordinal", lit(ord))
    // (content, manifest path, added_snapshot_id, manifest seq)
    def listRecords(snap: JsonNode): Seq[(Long, String, Long, Long)] =
      readAvro(readBytes(fs, new HPath(snap.get("manifest-list").asText())))
        .map { r =>
          (fieldOpt(r, "content").map(longOf).getOrElse(0L),
            r.get("manifest_path").toString,
            fieldOpt(r, "added_snapshot_id").map(longOf).getOrElse(-1L),
            fieldOpt(r, "sequence_number").map(longOf).getOrElse(0L))
        }
    // current top-level column name per field id (equality_ids resolve
    // against the CURRENT schema, by-id semantics)
    val nameById: Map[Int, String] = schemaNode.path("fields")
      .elements().asScala()
      .map(f => f.path("id").asInt(-1) -> f.path("name").asText()).toMap
    // v3 initial-defaults make raw fixed-schema scans of added files
    // unsafe (they would null-fill the default) — such tables take the
    // lineage paths throughout, which apply defaults correctly
    val rawScanSafe = md.path("format-version").asInt(1) < 3 || {
      def hasDefault(node: JsonNode): Boolean = {
        val fields = node.path("fields")
        fields.isArray && fields.elements().asScala().exists { f =>
          (f.has("initial-default") && !f.get("initial-default").isNull) ||
            (f.path("type").isObject && hasDefault(f.path("type")))
        }
      }
      !hasDefault(schemaNode)
    }
    val parts: Seq[DataFrame] =
      chain.drop(si + 1).zipWithIndex.flatMap { case (id, i) =>
        val snap = byId(id)
        val prevId = chain(si + i)
        val ord = i + 1
        val op = snap.path("summary").path("operation").asText("")
        val isRewrite = op == "replace" ||
          op.startsWith("compact") || op.startsWith("cluster")
        if (isRewrite) Nil
        else {
          val recs = listRecords(snap)
          // mechanisms THIS snapshot introduced, from the manifests it
          // added (carried manifests replay older state, not changes)
          var addedData = Seq.empty[String]
          var removedData = false
          var posDeleteFiles = Seq.empty[String]
          // (file path, equality ids, delete sequence number)
          var eqDeletes = Seq.empty[(String, Seq[Int], Long)]
          var otherDeletes = false
          recs.foreach { case (content, mp, addedBy, mseq) =>
            if (addedBy < 0 || addedBy == id) {
              readAvro(readBytes(fs, new HPath(mp))).foreach { e =>
                val df = e.get("data_file").asInstanceOf[GenericRecord]
                val status = longOf(e.get("status"))
                val entrySnap = fieldOpt(e, "snapshot_id").map(longOf)
                  .getOrElse(addedBy)
                if (content == 0L) {
                  if (status == 2L) removedData = true
                  else if (status == 1L && entrySnap == id) {
                    val fmt = df.get("file_format").toString
                    if (!fmt.equalsIgnoreCase("parquet"))
                      refuse(path, s"has $fmt data files")
                    addedData :+= df.get("file_path").toString
                  }
                } else if (status != 2L && entrySnap == id) {
                  val fmt = df.get("file_format").toString
                  val dfContent =
                    fieldOpt(df, "content").map(longOf).getOrElse(0L)
                  val eseq = fieldOpt(e, "sequence_number").map(longOf)
                    .getOrElse(mseq)
                  if (dfContent == 1L && fmt.equalsIgnoreCase("parquet"))
                    posDeleteFiles :+= df.get("file_path").toString
                  else if (dfContent == 2L && fmt.equalsIgnoreCase("parquet")) {
                    val ids = fieldOpt(df, "equality_ids").collect {
                      case c: java.util.Collection[_] =>
                        c.iterator().asScala()
                          .map(x => longOf(x.asInstanceOf[AnyRef]).toInt)
                          .toSeq
                    }.getOrElse(Seq.empty)
                    if (ids.isEmpty) otherDeletes = true
                    else eqDeletes :+=
                      ((df.get("file_path").toString, ids, eseq))
                  } else otherDeletes = true
                }
              }
            }
          }
          addedData = addedData.distinct
          posDeleteFiles = posDeleteFiles.distinct
          eqDeletes = eqDeletes.distinct
          val rawInsertsOk = rawScanSafe && addedData.nonEmpty && {
            val probe = FooterSchema.of(
              spark.sparkContext.hadoopConfiguration,
              addedData.head).fieldNames.toSet
            schema.fieldNames.forall(probe.contains)
          }
          // equality-delete KEY-PROBE guard: the probe semi-joins the
          // keys against the previous snapshot, which is exact iff
          // every delete's sequence number covers ALL files live at
          // prev (the spec applies an equality delete to strictly
          // smaller data sequence numbers). Inherited sequence numbers
          // (the Flink-CDC shape) always do; an explicit seq reaching
          // back INTO prev's history would over-delete, so it takes
          // the lineage diff instead.
          // v1-era snapshots (pre-upgrade) read as sequence 0, the
          // spec's v1→v2 rule — every post-upgrade delete outranks them
          val prevSeq = byId(prevId).path("sequence-number").asLong(0L)
          val eqProbeOk = eqDeletes.isEmpty || {
            eqDeletes.forall(_._3 > prevSeq) &&
              eqDeletes.forall(_._2.forall(nameById.contains)) &&
              // the delete files must carry the key columns under
              // their CURRENT names (a renamed key column's old files
              // take the exact diff instead of a silent null match)
              eqDeletes.forall { case (f, eqIds, _) =>
                val cols = FooterSchema.of(
                  spark.sparkContext.hadoopConfiguration, f)
                  .fieldNames.toSet
                eqIds.forall(i => nameById.get(i).exists(cols.contains))
              }
          }
          if (!removedData && !otherDeletes && eqProbeOk &&
              (addedData.isEmpty || rawInsertsOk)) {
            // merge-on-read / append fast path: inserts straight from
            // the added files, deletes by joining struck coordinates /
            // equality keys back to their rows as of the previous
            // snapshot — ONE table scan
            import spark.implicits._
            // position-delete coordinates, split own-snapshot vs prior
            // files: referenced data-file paths are metadata-scale —
            // qualify driver-side to the scan's __fp convention
            val addedQualified = addedData.map(qualified).toSet
            val (ownKeys, prevKeys) =
              if (posDeleteFiles.isEmpty) (None, None)
              else {
                val posDF = spark.read.parquet(posDeleteFiles: _*)
                  .select(col("file_path").cast("string").as("file_path"),
                    col("pos").cast("long").as("__pos"))
                val refs = posDF.select("file_path").distinct()
                  .collect().map(_.getString(0)).toSeq
                val pathMap = refs.map { p =>
                  val q = qualified(p)
                  (p, q, addedQualified.contains(q))
                }.toDF("file_path", "__fp", "__own")
                val keys = posDF
                  .join(org.apache.spark.sql.functions.broadcast(pathMap),
                    Seq("file_path"))
                  .select(col("__fp"), col("__pos"), col("__own"))
                val own = refs.exists(p => addedQualified.contains(qualified(p)))
                val prior = refs.exists(p => !addedQualified.contains(qualified(p)))
                (if (own) Some(keys.filter(col("__own"))
                   .select(col("__fp"), col("__pos")).distinct()) else None,
                 if (prior) Some(keys.filter(!col("__own"))
                   .select(col("__fp"), col("__pos")).distinct()) else None)
              }
            val ins =
              if (addedData.isEmpty) None
              else ownKeys match {
                case None =>
                  Some(tag(spark.read.schema(schema)
                    .parquet(addedData: _*), "insert", id, ord))
                case Some(own) =>
                  // position deletes targeting files added by this
                  // SAME snapshot (Flink within-batch upserts) strike
                  // rows OUT of the insert scan — those rows never
                  // existed at prev, so they are not deletes either
                  val scan = spark.read.schema(schema)
                    .parquet(addedData: _*)
                    .select(schema.map(f => col(f.name)) ++ Seq(
                      col("_metadata.file_path").as("__fp"),
                      col("_metadata.row_index").as("__pos")): _*)
                  Some(tag(scan.join(own, Seq("__fp", "__pos"),
                    "left_anti"), "insert", id, ord))
              }
            lazy val prev = lineage(prevId)
            val posDelRows = prevKeys.map(k =>
              prev.join(k, Seq("__fp", "__pos")))
            val eqDelRows =
              if (eqDeletes.isEmpty) None
              else {
                // one null-safe semi-join per distinct equality-id
                // set (Flink writes one); keys are deduped and
                // broadcast-sized in the CDC shape
                val matched = eqDeletes.groupBy(_._2).toSeq
                  .map { case (eqIds, files) =>
                    val keyCols = eqIds.map(nameById)
                    val keys = spark.read.parquet(files.map(_._1): _*)
                      .select(keyCols.map(col): _*).distinct()
                    val cond = keyCols.map(c =>
                      prev(c) <=> keys(c)).reduce(_ && _)
                    prev.join(keys, cond, "left_semi")
                  }
                Some(matched.reduce(_.unionAll(_)))
              }
            val delSources = posDelRows.toSeq ++ eqDelRows.toSeq
            val eqIdSets = eqDeletes.map(_._2).distinct.size
            val dels = delSources match {
              case Nil => None
              case one :: Nil if eqIdSets <= 1 =>
                // a single source is already coordinate-unique
                // (distinct pos keys; one semi-join per prev row)
                Some(tag(one, "delete", id, ord))
              case many =>
                // a row struck by both a position and an equality
                // delete (or by several id sets) is ONE delete
                Some(tag(many.reduce(_.unionAll(_))
                  .dropDuplicates("__fp", "__pos"), "delete", id, ord))
            }
            ins.toSeq ++ dels.toSeq
          } else {
            // exact lineage diff: covers CoW removes, v3 deletion
            // vectors, and seq-back-dated equality deletes uniformly
            val prev = lineage(prevId)
            val curr = lineage(id)
            Seq(
              tag(prev.join(curr.select(col("__fp"), col("__pos")),
                Seq("__fp", "__pos"), "left_anti"), "delete", id, ord),
              tag(curr.join(prev.select(col("__fp"), col("__pos")),
                Seq("__fp", "__pos"), "left_anti"), "insert", id, ord))
          }
        }
      }
    if (parts.isEmpty) empty
    else org.apache.spark.sql.graftbridge.ColumnBridge.unionAll(parts)
  }

  /** TEST SEAM: table-as-of scans performed by
    * [[readIcebergChangelog]] decodes (the cost the eq-delete /
    * MoR fast paths bound to one per snapshot). */
  private[graft] val changelogTableScans =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** One optimistic metadata-only commit: read the newest
    * `v<N>.metadata.json`, apply `edit`, claim `v<N+1>` via conditional
    * put. Lost races re-read and re-apply — the edit closure sees the
    * WINNER's state each attempt. Returns the published version. */
  private def commitMetadataEdit(spark: SparkSession, path: String,
      what: String)(edit: ObjectNode => Unit): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val io = new TableIO(path, conf)
    val metaDir = new HPath(root, "metadata")
    require(fs.exists(metaDir), s"no Iceberg metadata directory at $path")
    OptimisticCommit.retry(what, path) { _ =>
      val (cur, md) = newestListedMetadata(fs, metaDir)(
        throw new IllegalArgumentException(s"cannot $what at $path: the " +
          "metadata is catalog-managed (no v<N>.metadata.json naming)"))
      if (md.path("format-version").asInt(1) > 2)
        refuse(path, "is format version 3+")
      edit(md)
      md.put("last-updated-ms", System.currentTimeMillis())
      claimMetadata(io, metaDir, cur + 1, md)
      cur + 1
    }
  }

  private def snapshotIds(md: ObjectNode): Seq[Long] =
    if (md.has("snapshots"))
      md.get("snapshots").elements().asScala()
        .map(_.path("snapshot-id").asLong()).toSeq
    else Nil

  /** Retained snapshots by id. */
  private[graft] def snapshotsById(md: JsonNode): Map[Long, JsonNode] =
    if (md.has("snapshots"))
      md.get("snapshots").elements().asScala()
        .map(s => s.path("snapshot-id").asLong() -> s).toMap
    else Map.empty

  /** The CURRENT branch head: the `main` ref when the table carries
    * refs, else `current-snapshot-id`. After [[rollbackIceberg]] the
    * snapshots ARRAY still ends with the abandoned commits — history
    * walks must start here and follow parent-snapshot-id, never the
    * array tail. */
  private[graft] def currentHeadId(md: JsonNode): Long = {
    val ref = md.path("refs").path("main").path("snapshot-id")
    if (ref.isNumber) ref.asLong()
    else md.path("current-snapshot-id").asLong(-1L)
  }

  /** Ancestor chain of `endId` (Iceberg's currentAncestors shape),
    * OLDEST→NEWEST inclusive, walked via parent-snapshot-id through
    * the retained snapshots. Stops at the first unretained parent —
    * expired history simply ends the chain. */
  private[graft] def ancestorChainOf(md: JsonNode, endId: Long): Seq[Long] = {
    val byId = snapshotsById(md)
    val buf = scala.collection.mutable.ListBuffer.empty[Long]
    var cur = endId
    var guard = byId.size + 1
    while (cur >= 0 && byId.contains(cur) && guard > 0) {
      buf += cur
      cur = byId(cur).path("parent-snapshot-id").asLong(-1L)
      guard -= 1
    }
    buf.toList.reverse
  }

  /** ROLLBACK a file-based Iceberg table to a RETAINED snapshot —
    * Iceberg's `set_current_snapshot` procedure: a METADATA-ONLY
    * commit pointing `current-snapshot-id` (and the `main` branch ref,
    * when the table carries refs) back at `snapshotId`. No snapshot is
    * deleted — the rolled-over history stays time-travelable until
    * [[expireIcebergSnapshots]] ages it out, and the NEXT append
    * parents the restored snapshot. O(metadata), zero data I/O —
    * the cheapest possible "undo a bad write". */
  def rollbackIceberg(spark: SparkSession, path: String,
      snapshotId: Long): Int =
    commitMetadataEdit(spark, path, "rollback") { md =>
      require(snapshotIds(md).contains(snapshotId),
        s"snapshot $snapshotId is not retained at $path — only retained " +
          "snapshots can become current")
      md.put("current-snapshot-id", snapshotId)
      md.path("refs") match {
        case r: ObjectNode if r.has("main") =>
          r.path("main") match {
            case m: ObjectNode => m.put("snapshot-id", snapshotId)
            case _ => ()
          }
        case _ => ()
      }
      md.path("snapshot-log") match {
        case a: com.fasterxml.jackson.databind.node.ArrayNode =>
          val e = om.createObjectNode()
          e.put("timestamp-ms", System.currentTimeMillis())
          e.put("snapshot-id", snapshotId)
          a.add(e)
        case _ => ()
      }
    }

  private def putRef(spark: SparkSession, path: String, name: String,
      snapshotId: Option[Long], refType: String): Long = {
    require(name.nonEmpty, "ref name must be non-empty")
    require(name != "main" || refType == "branch",
      "'main' is the reserved current-state branch")
    var resolved = -1L
    commitMetadataEdit(spark, path, s"create $refType $name") {
      md =>
        val id = snapshotId.getOrElse(md.path("current-snapshot-id").asLong(-1L))
        require(id >= 0 && snapshotIds(md).contains(id),
          s"snapshot $id is not retained at $path")
        val refs = md.path("refs") match {
          case r: ObjectNode => r
          case _ => md.putObject("refs")
        }
        require(!refs.has(name),
          s"ref '$name' already exists at $path — dropIcebergRef it first")
        val node = refs.putObject(name)
        node.put("snapshot-id", id)
        node.put("type", refType)
        resolved = id
    }
    resolved
  }

  /** TAG a retained snapshot (default: the current one) under `name` —
    * Iceberg table-spec refs: an immutable named pointer readers
    * resolve via [[icebergRefSnapshot]] and [[expireIcebergSnapshots]]
    * PINS (a tagged snapshot never expires while the tag lives).
    * Returns the tagged snapshot id. */
  def tagIceberg(spark: SparkSession, path: String, name: String,
      snapshotId: Option[Long] = None): Long =
    putRef(spark, path, name, snapshotId, "tag")

  /** Create a BRANCH ref at a retained snapshot (default: current).
    * graft's writes always advance `main`/current — a branch here is a
    * durable named read point (audit, WAP-style inspection), pinned
    * against expiry exactly like a tag. Returns the snapshot id. */
  def branchIceberg(spark: SparkSession, path: String, name: String,
      snapshotId: Option[Long] = None): Long =
    putRef(spark, path, name, snapshotId, "branch")

  /** Drop a tag/branch ref (the snapshot it pinned stays retained
    * until the next [[expireIcebergSnapshots]]). */
  def dropIcebergRef(spark: SparkSession, path: String,
      name: String): Unit = {
    require(name != "main", "cannot drop the reserved 'main' branch")
    commitMetadataEdit(spark, path, s"drop ref $name") { md =>
      md.path("refs") match {
        case r: ObjectNode if r.has(name) => r.remove(name)
        case _ => throw new IllegalArgumentException(
          s"no ref '$name' at $path")
      }
    }
  }

  /** Resolve a ref name to its snapshot id ("main" falls back to the
    * current snapshot when the table carries no refs object) — compose
    * with [[readIceberg]]'s `asOfSnapshotId` for branch/tag reads:
    * `readIceberg(spark, path, Some(icebergRefSnapshot(spark, path,
    * "audit-2026")))`. */
  def icebergRefSnapshot(spark: SparkSession, path: String,
      name: String): Long = {
    val (_, md) = currentMetadata(spark, path)
    md.path("refs").path(name) match {
      case r: ObjectNode => r.path("snapshot-id").asLong(-1L)
      case _ if name == "main" => md.path("current-snapshot-id").asLong(-1L)
      case _ => throw new IllegalArgumentException(s"no ref '$name' at $path")
    }
  }

  /** Snapshot HISTORY of a file-based Iceberg table: one row per
    * retained snapshot, newest first — snapshot id, parent id,
    * commit timestamp, operation, and whether it is current. Pure
    * driver metadata (one metadata.json read). */
  def icebergHistory(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val (_, md) = currentMetadata(spark, path)
    val cur = md.path("current-snapshot-id").asLong(-1L)
    val rows =
      (if (md.has("snapshots"))
        md.get("snapshots").elements().asScala().toSeq
      else Nil).map { s =>
        (s.path("snapshot-id").asLong(),
          s.path("parent-snapshot-id").asLong(-1L),
          s.path("timestamp-ms").asLong(),
          s.path("summary").path("operation").asText(""),
          s.path("snapshot-id").asLong() == cur)
      }.sortBy(-_._3)
    rows.toDF("snapshot_id", "parent_id", "timestamp_ms", "operation",
      "is_current")
  }

  /** Resolve a wall-clock timestamp to the snapshot current at that
    * instant per the table's SNAPSHOT LOG (the spec's source of truth
    * for as-of-timestamp reads — rollbacks append log entries, so a
    * rolled-back table resolves to what a reader actually saw then):
    * the last log entry at-or-before `tsMillis` whose snapshot is
    * still retained. Before the earliest entry refuses; an entry
    * pointing at an expired snapshot refuses with the expiry story. */
  def icebergSnapshotAtTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): Long = {
    val (_, md) = currentMetadata(spark, path)
    val log = md.path("snapshot-log") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        a.elements().asScala().toSeq.map(e =>
          (e.path("timestamp-ms").asLong(), e.path("snapshot-id").asLong()))
      case _ => Nil
    }
    require(log.nonEmpty, s"no snapshot log at $path")
    require(tsMillis >= log.head._1,
      s"timestamp $tsMillis precedes the earliest retained snapshot-log " +
        s"entry (${log.head._1}) at $path — earlier history was expired")
    val id = log.takeWhile(_._1 <= tsMillis).last._2
    require(snapshotIds(md.asInstanceOf[ObjectNode]).contains(id),
      s"the snapshot current at $tsMillis ($id) has been expired at $path")
    id
  }

  /** `TIMESTAMP AS OF` read: the snapshot current at `tsMillis`. */
  def readIcebergAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame =
    readIceberg(spark, path,
      Some(icebergSnapshotAtTimestamp(spark, path, tsMillis)))

  /** Publish an edited current schema into `md`: append to `schemas`
    * with a fresh schema-id (or reuse a deep-equal one), repoint
    * `current-schema-id` and the v1-compat `schema`, bump
    * `last-column-id` to cover `lastColId`. */
  private def publishSchema(md: ObjectNode, newSchema: ObjectNode,
      lastColId: Int): Unit = {
    val schemas =
      if (md.has("schemas"))
        md.get("schemas")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      else md.putArray("schemas")
    val schemaId = schemas.elements().asScala()
      .find(s => s.get("fields") == newSchema.get("fields"))
      .map(_.get("schema-id").asInt())
      .getOrElse {
        val next = schemas.elements().asScala()
          .map(_.path("schema-id").asInt(0)).maxOption.map(_ + 1)
          .getOrElse(0)
        newSchema.put("schema-id", next)
        schemas.add(newSchema)
        next
      }
    md.put("current-schema-id", schemaId)
    md.set[ObjectNode]("schema", schemas.elements().asScala()
      .find(_.path("schema-id").asInt(-1) == schemaId).get
      .deepCopy[ObjectNode]())
    md.put("last-column-id",
      math.max(md.path("last-column-id").asInt(0), lastColId))
  }

  private def primitiveIcebergType(dt: DataType, what: String): String =
    dt match {
      case BooleanType => "boolean"
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case TimestampNTZType => "timestamp"
      case StringType => "string"
      case BinaryType => "binary"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"$what: type ${other.simpleString} is not a primitive Iceberg " +
          "type")
    }

  /** The Iceberg type JSON for `dt`, allocating a fresh field id for
    * EVERY nested struct field / list element / map key+value via
    * `nextId` (pre-order, Iceberg's own fresh-id assignment) — the
    * multi-field-id allocation nested ADD COLUMN needs. Primitives
    * render as their type-string text node. */
  private def icebergTypeNode(dt: DataType, nextId: () => Int,
      what: String): JsonNode = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      val n = om.createObjectNode()
      n.put("type", "struct")
      val fields = n.putArray("fields")
      s.fields.foreach { f =>
        val fn = om.createObjectNode()
        fn.put("id", nextId())
        fn.put("name", f.name)
        fn.put("required", !f.nullable)
        fn.set[JsonNode]("type", icebergTypeNode(f.dataType, nextId, what))
        fields.add(fn): Unit
      }
      n
    case a: org.apache.spark.sql.types.ArrayType =>
      val n = om.createObjectNode()
      n.put("type", "list")
      n.put("element-id", nextId())
      n.set[JsonNode]("element", icebergTypeNode(a.elementType, nextId, what))
      n.put("element-required", !a.containsNull)
      n
    case m: org.apache.spark.sql.types.MapType =>
      val n = om.createObjectNode()
      n.put("type", "map")
      n.put("key-id", nextId())
      n.set[JsonNode]("key", icebergTypeNode(m.keyType, nextId, what))
      n.put("value-id", nextId())
      n.set[JsonNode]("value", icebergTypeNode(m.valueType, nextId, what))
      n.put("value-required", !m.valueContainsNull)
      n
    case prim =>
      new com.fasterxml.jackson.databind.node.TextNode(
        primitiveIcebergType(prim, what))
  }

  /** ALTER TABLE … ADD COLUMN on a file-based Iceberg table: one
    * metadata-only commit appending an OPTIONAL column with fresh
    * field ids — existing files null-fill it on read, appends must
    * then include it. NESTED types (struct / list / map, arbitrarily
    * deep) allocate one fresh id per nested field/element/key/value
    * in pre-order, bumping last-column-id over the whole allocation.
    * Duplicate names (case-insensitive) refuse. */
  def addColumnToIceberg(spark: SparkSession, path: String, name: String,
      dataType: DataType): Int =
    commitMetadataEdit(spark, path, s"add column $name") { md =>
      val cur = currentSchemaNode(md, path)
      val existing = cur.get("fields").elements().asScala()
        .map(_.get("name").asText()).toSeq
      require(!existing.exists(_.equalsIgnoreCase(name)),
        s"column '$name' already exists at $path")
      var lastId = md.path("last-column-id").asInt(0)
      def nextId(): Int = { lastId += 1; lastId }
      val newSchema = cur.deepCopy[ObjectNode]()
      val fn = om.createObjectNode()
      fn.put("id", nextId())
      fn.put("name", name)
      fn.put("required", false)
      fn.set[JsonNode]("type", icebergTypeNode(dataType, nextId,
        s"cannot add column '$name' to $path"))
      newSchema.get("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(fn)
      publishSchema(md, newSchema, lastId)
    }

  /** ALTER TABLE … ADD COLUMN into a NESTED struct: `parent` names a
    * top-level (or dotted deeper) struct column; the new OPTIONAL
    * field appends to that struct's field list with fresh pre-order
    * ids. Existing files null-fill the new field on read (or take the
    * v3 initial-default once the metadata declares one — the read
    * fill is nested-aware). Parents that are not structs, or paths
    * through list/map, refuse — those additions change element
    * shapes, a full client's job. */
  def addNestedColumnToIceberg(spark: SparkSession, path: String,
      parent: String, name: String, dataType: DataType): Int =
    commitMetadataEdit(spark, path,
      s"add column $parent.$name") { md =>
      val cur = currentSchemaNode(md, path)
      val newSchema = cur.deepCopy[ObjectNode]()
      var node: ObjectNode = newSchema
      parent.split('.').foreach { seg =>
        val f = node.path("fields").elements().asScala()
          .find(_.path("name").asText() == seg)
          .getOrElse(throw new IllegalArgumentException(
            s"no struct column '$seg' on the way to '$parent' at $path"))
        val t = f.path("type")
        require(t.isObject && t.path("type").asText() == "struct",
          s"'$seg' in '$parent' is not a struct column at $path — nested " +
            "additions go into structs only")
        node = t.asInstanceOf[ObjectNode]
      }
      val siblings = node.get("fields").elements().asScala()
        .map(_.path("name").asText()).toSeq
      require(!siblings.exists(_.equalsIgnoreCase(name)),
        s"field '$name' already exists in '$parent' at $path")
      var lastId = md.path("last-column-id").asInt(0)
      def nextId(): Int = { lastId += 1; lastId }
      val fn = om.createObjectNode()
      fn.put("id", nextId())
      fn.put("name", name)
      fn.put("required", false)
      fn.set[JsonNode]("type", icebergTypeNode(dataType, nextId,
        s"cannot add field '$parent.$name' to $path"))
      node.get("fields")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(fn)
      publishSchema(md, newSchema, lastId)
    }

  /** ALTER TABLE … RENAME COLUMN on a file-based Iceberg table: field
    * IDS never change, so every existing data file keeps reading under
    * the new name (the field-id resolution [[readIceberg]] already
    * implements) — one metadata-only commit. */
  def renameIcebergColumn(spark: SparkSession, path: String, from: String,
      to: String): Int =
    commitMetadataEdit(spark, path,
      s"rename column $from to $to") { md =>
      val cur = currentSchemaNode(md, path)
      val names = cur.get("fields").elements().asScala()
        .map(_.get("name").asText()).toSeq
      require(names.contains(from), s"no column '$from' at $path")
      require(!names.exists(n => n.equalsIgnoreCase(to) && n != from),
        s"column '$to' already exists at $path")
      val newSchema = cur.deepCopy[ObjectNode]()
      newSchema.get("fields").elements().asScala().foreach {
        case f: ObjectNode if f.get("name").asText() == from =>
          f.put("name", to)
        case _ => ()
      }
      publishSchema(md, newSchema,
        md.path("last-column-id").asInt(0))
    }

  /** SET TBLPROPERTIES on a file-based Iceberg table — one
    * metadata-only commit updating the `properties` map (retention
    * knobs, write targets, …; the same map graft's exactly-once txn
    * watermarks ride, so concurrent edits race-retry safely). */
  def setIcebergProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Int =
    commitMetadataEdit(spark, path, "set properties") { md =>
      val o = md.path("properties") match {
        case p: ObjectNode => p
        case _ => md.putObject("properties")
      }
      props.foreach { case (k, v) => o.put(k, v) }
    }

  /** UNSET TBLPROPERTIES — drops `keys` from the properties map. */
  def removeIcebergProperties(spark: SparkSession, path: String,
      keys: Seq[String]): Int =
    commitMetadataEdit(spark, path, "remove properties") { md =>
      md.path("properties") match {
        case p: ObjectNode => keys.foreach(p.remove)
        case _ => ()
      }
    }

  /** Ref-pinned snapshot ids — [[expireIcebergSnapshots]] must never
    * expire these while their tag/branch lives. */
  private[sources] def refPinnedSnapshots(md: JsonNode): Set[Long] =
    md.path("refs") match {
      case r: ObjectNode =>
        r.properties().iterator().asScala()
          .map(_.getValue.path("snapshot-id").asLong())
          .filter(_ >= 0).toSet
      case _ => Set.empty
    }

  /** Iceberg `remove_orphan_files`: delete data-area files REFERENCED
    * BY NO retained snapshot and older than `olderThanMs` (default 3
    * days, Iceberg's own default — the age gate keeps in-flight
    * writers' uncommitted files safe). References = every retained
    * snapshot's manifest list, its manifests, and every data/delete
    * file those manifests name (any status — an entry deleted in one
    * snapshot is usually live in an earlier one). The `metadata/`
    * directory is never touched, and a root that also carries a
    * `_delta_log` (dual-published mirror) refuses — the Delta side's
    * live files are invisible to Iceberg metadata, so cleaning here
    * could destroy them (use [[DeltaInterop.vacuumDelta]] +
    * [[expireIcebergSnapshots]] on such roots). Returns the number of
    * files deleted. Scale: O(#snapshots × #manifests) driver metadata
    * + one recursive listing. */
  def removeOrphanIcebergFiles(spark: SparkSession, path: String,
      olderThanMs: Long = 3L * 24 * 3600 * 1000): Long = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(new HPath(root, "metadata")),
      s"no Iceberg metadata directory at $path")
    require(!fs.exists(new HPath(root, "_delta_log")),
      s"$path is dual-published (a _delta_log exists) — orphan cleanup " +
        "against one format's metadata could delete the other's live " +
        "files; use vacuumDelta + expireIcebergSnapshots instead")
    val (_, md) = currentMetadata(spark, path)
    def canon(p: String): String = {
      val hp = new HPath(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
    val referenced = scala.collection.mutable.Set[String]()
    if (md.has("snapshots"))
      md.get("snapshots").elements().asScala().foreach { snap =>
        if (snap.has("manifest-list")) {
          val lp = snap.get("manifest-list").asText()
          referenced += canon(lp)
          readAvro(readBytes(fs, new HPath(lp))).foreach { r =>
            val mp = r.get("manifest_path").toString
            referenced += canon(mp)
            readAvro(readBytes(fs, new HPath(mp))).foreach { e =>
              val df = e.get("data_file").asInstanceOf[GenericRecord]
              referenced += canon(df.get("file_path").toString)
            }
          }
        }
      }
    val cutoff = System.currentTimeMillis() - olderThanMs
    var deleted = 0L
    def walk(dir: HPath): Unit =
      fs.listStatus(dir).foreach { s =>
        val n = s.getPath.getName
        if (n == "metadata") () // never touch the metadata area
        else if (s.isDirectory) walk(s.getPath)
        else if (!referenced.contains(canon(s.getPath.toString)) &&
            s.getModificationTime < cutoff) {
          if (fs.delete(s.getPath, false)) deleted += 1
        }
      }
    walk(root)
    deleted
  }
}
