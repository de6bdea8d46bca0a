package graft.tables

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._

import graft.formats.Avro

/** Translator between graft's JSON manifests and REAL Iceberg v1 binary
  * Avro manifests (written/read with the from-scratch [[graft.formats
  * .Avro]] codec — no Iceberg/Avro jars). This is the piece that closes
  * the r10 interop boundary (reference pyspark-iceberg/
  * interoperability.md:55-113: external engines exchange tables whose
  * manifests are Avro, not JSON): export emits manifest lists +
  * manifests an actual Iceberg reader scans; import consumes tables an
  * actual Iceberg writer produced.
  *
  * Structure maps 1:1: graft's immutable child manifests become Avro
  * manifest files (entry status `added`, `snapshot_id` = the file's data
  * sequence number, so per-file add-history survives the round trip) and
  * each snapshot's manifest list becomes a `snap-*.avro` manifest list
  * referencing every live child — the same O(changed-files) commit shape
  * Iceberg itself uses.
  *
  * Semantics, DECLARED loudly rather than silently drifted:
  *  - graft `years`/`months` transform values are calendar-absolute
  *    (2024, 24292); Iceberg's are epoch-relative (54, 652). Values are
  *    SHIFTED to Iceberg semantics on export and shifted back on import
  *    — pure arithmetic, keyed by the spec's transform name.
  *  - graft `bucket[N]` uses xxhash64; Iceberg mandates murmur3_x86_32.
  *    The numbers are NOT convertible, and exporting graft bucket values
  *    under an Iceberg `bucket[N]` spec would make a real reader prune
  *    WRONG files. Bucket fields export as the spec-legal `void`
  *    transform (never prunes, always correct) with the true transform
  *    riding a `graft-transform` key for graft's own round trip; their
  *    per-file values are dropped (graft never prunes bucket literals —
  *    ScanPlanner.bucketValue — so nothing is lost on re-import).
  *  - merge-on-read payloads (predicate/position/equality deletes,
  *    deletion vectors) have no v1 representation. Snapshots carrying
  *    them are EXCLUDED from a binary export (declared via
  *    `graft.omitted-snapshots`); a current snapshot carrying them
  *    refuses with "materializeDeletes() first".
  *  - v1 has no per-entry sequence numbers; `snapshot_id` carries
  *    graft's data sequence number instead (Iceberg readers treat it as
  *    the adding snapshot — the same meaning).
  */
object IcebergManifests {
  private val mapper = new ObjectMapper()

  // ------------------------------------------------------- Avro schemas

  /** Iceberg v1 `manifest_file` schema (manifest-list rows), field-ids
    * per the public table spec.
    */
  def manifestListSchema(v2: Boolean, v3: Boolean = false): String = {
    val root = mapper.createObjectNode()
    root.put("type", "record"); root.put("name", "manifest_file")
    val fs = root.putArray("fields")
    def f(name: String, fieldId: Int, opt: Boolean, tpe: String): Unit = {
      val o = fs.addObject()
      o.put("name", name); o.put("field-id", fieldId)
      if (opt) { o.putArray("type").add("null").add(tpe); o.putNull("default"); () }
      else { o.put("type", tpe); () }
    }
    f("manifest_path", 500, opt = false, "string")
    f("manifest_length", 501, opt = false, "long")
    f("partition_spec_id", 502, opt = false, "int")
    if (v2) {
      f("content", 517, opt = false, "int")
      f("sequence_number", 515, opt = false, "long")
      f("min_sequence_number", 516, opt = false, "long")
    }
    f("added_snapshot_id", 503, opt = !v2, "long")
    f("added_data_files_count", 504, opt = !v2, "int")
    f("existing_data_files_count", 505, opt = !v2, "int")
    f("deleted_data_files_count", 506, opt = !v2, "int")
    f("added_rows_count", 512, opt = !v2, "long")
    f("existing_rows_count", 513, opt = !v2, "long")
    f("deleted_rows_count", 514, opt = !v2, "long")
    // v3 row lineage (spec field 520): the starting row id for ADDED data
    // files whose entries leave first_row_id null — graft writes explicit
    // per-entry values, so this is the inheritance base a strict reader
    // expects plus redundancy, never the only source
    if (v3) f("first_row_id", 520, opt = true, "long")
    mapper.writeValueAsString(root)
  }

  val manifestListSchemaJson: String = manifestListSchema(v2 = false)

  /** Avro type node for one partition field under a spec (the r102
    * member types): date-ish transforms and bucket are int, identity/
    * truncate follow the source type. Unsupported combinations refuse
    * loudly — a silently-wrong typed value would poison foreign pruning.
    */
  private def partitionAvroType(transform: String, source: DataType): Any =
    transform match {
      case "years" | "months" | "days" | "hours" => "int"
      case t if t.startsWith("bucket[") => "int" // exported as void; value null
      case _ => source match { // identity / truncate[W]
        case StringType              => "string"
        case LongType                => "long"
        case IntegerType | ShortType => "int"
        case DoubleType              => "double"
        case FloatType               => "float"
        case BooleanType             => "boolean"
        case DateType =>
          val o = mapper.createObjectNode()
          o.put("type", "int"); o.put("logicalType", "date"); o
        case other => throw new IllegalArgumentException(
          s"binary export: no Iceberg partition mapping for $transform($other) — " +
            "use the JSON export for this table")
      }
    }

  /** Iceberg `manifest_entry` schema for one partition spec (v1, or v2
    * with entry sequence numbers + `data_file.content`/`equality_ids` —
    * the same record serves data and delete manifests in v2).
    */
  def manifestEntrySchemaJson(spec: PartitionSpec, schema: StructType,
      v2: Boolean = false, v3: Boolean = false): String = {
    val root = mapper.createObjectNode()
    root.put("type", "record"); root.put("name", "manifest_entry")
    val fs = root.putArray("fields")
    val status = fs.addObject()
    status.put("name", "status"); status.put("type", "int"); status.put("field-id", 0)
    val snapId = fs.addObject()
    snapId.put("name", "snapshot_id"); snapId.put("field-id", 1)
    snapId.putArray("type").add("null").add("long"); snapId.putNull("default")
    if (v2) {
      val sq = fs.addObject()
      sq.put("name", "sequence_number"); sq.put("field-id", 3)
      sq.putArray("type").add("null").add("long"); sq.putNull("default")
      val fsq = fs.addObject()
      fsq.put("name", "file_sequence_number"); fsq.put("field-id", 4)
      fsq.putArray("type").add("null").add("long"); fsq.putNull("default")
    }
    val df = fs.addObject()
    df.put("name", "data_file"); df.put("field-id", 2)
    val r2 = df.putObject("type")
    r2.put("type", "record"); r2.put("name", "r2")
    val dfs = r2.putArray("fields")
    def prim(name: String, fieldId: Int, tpe: String): Unit = {
      val o = dfs.addObject()
      o.put("name", name); o.put("type", tpe); o.put("field-id", fieldId); ()
    }
    if (v2) prim("content", 134, "int")
    prim("file_path", 100, "string")
    prim("file_format", 101, "string")
    val part = dfs.addObject()
    part.put("name", "partition"); part.put("field-id", 102)
    val r102 = part.putObject("type")
    r102.put("type", "record"); r102.put("name", "r102")
    val pfs = r102.putArray("fields")
    val physSchema = ColumnMapping.physicalSchema(schema)
    // historical specs may reference since-dropped source columns (the
    // drop guard only protects the CURRENT spec) — such fields are
    // OMITTED here exactly as metadataJson omits them from the document
    // (graft-omitted-fields); field-ids keep their positional numbering
    // so the surviving fields agree with the document's spec JSON
    resolvableFields(spec, physSchema).foreach { case (f, i) =>
      val o = pfs.addObject()
      o.put("name", f.name)
      o.put("field-id", 1000 + i)
      val u = o.putArray("type")
      u.add("null")
      partitionAvroType(f.transform, physSchema(f.source).dataType) match {
        case s: String     => u.add(s); ()
        case n: ObjectNode => u.add(n); ()
      }
      o.putNull("default")
      ()
    }
    prim("record_count", 103, "long")
    prim("file_size_in_bytes", 104, "long")
    if (!v2) prim("block_size_in_bytes", 105, "long") // v1 required; v2 removed it
    if (v2) {
      val eq = dfs.addObject()
      eq.put("name", "equality_ids"); eq.put("field-id", 135)
      val u = eq.putArray("type")
      u.add("null")
      val arr = mapper.createObjectNode()
      arr.put("type", "array"); arr.put("element-id", 136)
      arr.put("items", "int")
      u.add(arr)
      eq.putNull("default")
    }
    if (v3) {
      // v3 deletion-vector pointers (spec fields 143/144/145): the DV
      // entry's file_path names the Puffin file; these locate the blob
      def opt(name: String, fieldId: Int, tpe: String): Unit = {
        val o = dfs.addObject()
        o.put("name", name); o.put("field-id", fieldId)
        o.putArray("type").add("null").add(tpe)
        o.putNull("default")
        ()
      }
      // v3 row lineage (spec field 142): explicit first row id per data
      // file; null on delete entries (deletes carry no row ids)
      opt("first_row_id", 142, "long")
      opt("referenced_data_file", 143, "string")
      opt("content_offset", 144, "long")
      opt("content_size_in_bytes", 145, "long")
    }
    // optional stat maps (Iceberg's int-keyed maps are arrays of
    // key_value records with logicalType "map")
    def intKeyedMap(name: String, fieldId: Int, kId: Int, vId: Int,
        valueType: String): Unit = {
      val o = dfs.addObject()
      o.put("name", name); o.put("field-id", fieldId)
      val u = o.putArray("type")
      u.add("null")
      val arr = mapper.createObjectNode()
      arr.put("type", "array"); arr.put("logicalType", "map")
      val kv = arr.putObject("items")
      kv.put("type", "record"); kv.put("name", s"k${kId}_v$vId")
      val kvf = kv.putArray("fields")
      val ko = kvf.addObject()
      ko.put("name", "key"); ko.put("type", "int"); ko.put("field-id", kId)
      val vo = kvf.addObject()
      vo.put("name", "value"); vo.put("type", valueType); vo.put("field-id", vId)
      u.add(arr)
      o.putNull("default")
      ()
    }
    intKeyedMap("null_value_counts", 110, 121, 122, "long")
    intKeyedMap("lower_bounds", 125, 126, 127, "bytes")
    intKeyedMap("upper_bounds", 128, 129, 130, "bytes")
    mapper.writeValueAsString(root)
  }

  /** Spec fields whose source column still exists in the schema, with
    * their ORIGINAL positional index (field-id stability across
    * omissions). A historical spec that references a dropped column
    * exports without that field — declared, never a crash or a bogus id
    * (the r11 review finding mirroring ADVICE r10's metadataJson fix).
    */
  private def resolvableFields(spec: PartitionSpec,
      physSchema: StructType): Seq[(PartitionField, Int)] =
    spec.fields.zipWithIndex.filter { case (f, _) =>
      physSchema.fieldNames.contains(f.source)
    }

  // ------------------------------------- partition value conversion

  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"
  private val MonthsEpochShift = 1970 * 12

  /** graft partition string → typed Iceberg avro value (export). */
  private[tables] def partitionValueOut(transform: String, source: DataType,
      v: String): Any = {
    if (v == null || v == HiveNull) return null
    transform match {
      case "years"  => v.toInt - 1970
      case "months" => v.toInt - MonthsEpochShift
      case "days" | "hours" => v.toInt
      case t if t.startsWith("bucket[") => null // void: never prunes
      case _ => source match {
        case StringType              => v
        case LongType                => v.toLong
        case IntegerType | ShortType => v.toInt
        case DoubleType              => v.toDouble
        case FloatType               => v.toFloat
        case BooleanType             => v.toBoolean
        case DateType => java.time.LocalDate.parse(v).toEpochDay.toInt
        case other => throw new IllegalArgumentException(
          s"binary export: unsupported partition value type $other")
      }
    }
  }

  /** typed Iceberg avro value → graft partition string (import). */
  private[tables] def partitionValueIn(transform: String, source: DataType,
      v: Any): Option[String] = {
    if (v == null) return None
    Some(transform match {
      case "years"  => (v.asInstanceOf[Int] + 1970).toString
      case "months" => (v.asInstanceOf[Int] + MonthsEpochShift).toString
      case "days" | "hours" => v.toString
      case _ => source match {
        case DateType =>
          java.time.LocalDate.ofEpochDay(numLong(v)).toString
        case _ => v.toString // string/long/int/double/float/boolean all
                             // render as Spark's cast-to-string does
      }
    })
  }

  private def numLong(v: Any): Long = v match {
    case i: Int => i.toLong; case l: Long => l
    case other => throw new IllegalArgumentException(s"not an integer: $other")
  }

  // ------------------------------------------- bound value serialization

  /** Iceberg single-value binary serialization of a graft stat value
    * (Long/Double/String/Boolean, dates as epoch days, timestamps as
    * epoch micros) for a column of Spark type `dt`. None = this type
    * doesn't serialize (skip the bound, pruning stays conservative).
    */
  private[tables] def boundOut(dt: DataType, v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    (dt, v) match {
      case (LongType, l: Long)    => Some(le(8).putLong(l).array())
      case (IntegerType | ShortType, l: Long) => Some(le(4).putInt(l.toInt).array())
      case (DateType, l: Long)    => Some(le(4).putInt(l.toInt).array())
      case (TimestampType | TimestampNTZType, l: Long) => Some(le(8).putLong(l).array())
      case (DoubleType, d: Double) => Some(le(8).putDouble(d).array())
      case (FloatType, d: Double) => Some(le(4).putFloat(d.toFloat).array())
      case (StringType, s: String) => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case (BooleanType, b: Boolean) => Some(Array[Byte](if (b) 1 else 0))
      case _ => None
    }
  }

  /** Inverse of [[boundOut]] (import). */
  private[tables] def boundIn(dt: DataType, b: Array[Byte]): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case LongType if b.length == 8 => Some(le.getLong)
      case IntegerType | ShortType if b.length == 4 => Some(le.getInt.toLong)
      case DateType if b.length == 4 => Some(le.getInt.toLong)
      case TimestampType | TimestampNTZType if b.length == 8 => Some(le.getLong)
      case DoubleType if b.length == 8 => Some(le.getDouble)
      case FloatType if b.length == 4 => Some(le.getFloat.toDouble)
      case StringType =>
        Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      case BooleanType if b.length == 1 => Some(b(0) != 0)
      case _ => None
    }
  }

  // ------------------------------------------------------------- export

  /** Result of a binary manifest export: per-snapshot absolute
    * manifest-list paths, and the snapshot ids that could NOT be
    * represented (merge-on-read payloads pending at that snapshot).
    */
  case class ExportedManifests(listPathBySnapshot: Map[Long, String],
      omittedSnapshots: Seq[Long], dir: String,
      snapFirstRowId: Map[Long, Long] = Map.empty, nextRowId: Long = 0L)

  /** Write real Iceberg v1 Avro manifests + manifest lists for every
    * representable snapshot of `t` into `outDir`. `topFieldIds` is the
    * exporting document's logical-name → field-id map (bounds are keyed
    * by field id).
    */
  def exportManifests(t: GraftTable, outDir: String,
      topFieldIds: Map[String, Int], formatVersion: Int = 1): ExportedManifests = {
    val v2 = formatVersion >= 2
    val v3 = formatVersion == 3
    val m = t.meta
    val conf = t.spark.sparkContext.hadoopConfiguration
    val physSchema = ColumnMapping.physicalSchema(m.schema)
    val physToLogical = m.schema.fields.map(f =>
      ColumnMapping.physicalOf(m.schema, f.name) -> f.name).toMap
    val specById = m.specs.map(s => s.specId -> s).toMap
    // child manifest (name, specId) → (avro path, length, fileCount, rowCount)
    val translated = scala.collection.mutable.Map.empty[(String, Int), (String, Long, Int, Long)]

    // v3 row lineage: every data file gets an explicit first_row_id,
    // assigned once per file path in snapshot-commit order (a file keeps
    // its id across every later snapshot that carries it, the spec's
    // stability rule) and advanced by record_count; snapshot
    // first-row-id = the counter when its walk began, metadata
    // next-row-id = the final counter. [[RowLineage.assign]] IS that
    // walk — shared with the native `lineageDF` read surface, so scanned
    // ids and exported ids are the same numbers, and imported files'
    // explicit foreign ids survive a re-export.
    // a lineage-preserving rewrite materialized some files' REAL per-row
    // ids into rider columns the Iceberg schema does not carry — an
    // inherited first_row_id range would hand a foreign reader DIFFERENT
    // ids than graft serves, so refuse rather than export
    // silently-divergent lineage (the marker is stamped permanently by
    // the first preserving rewrite)
    if (v3 && m.properties.get(TableFormat.RowLineageMaterialized).contains("true"))
      throw new IllegalStateException(
        "table carries materialized row-lineage riders " +
          "(graft.row-lineage.preserve rewrites); v3 export would assign " +
          "divergent inherited ids — a foreign reader cannot see the " +
          "rider columns")
    val lineage =
      if (v3) RowLineage.assign(conf, m)
      else RowLineage.Assignment(Map.empty, Map.empty, 0L)
    def fileRowId(path: String): Long = lineage.fileFirstRowId.getOrElse(path,
      throw new IllegalStateException(
        s"no row-id assignment for data file $path — either the file has " +
          "no recoverable lineage (imported EXISTING entry with null " +
          "first_row_id) or the snapshot set changed mid-export"))

    def translateChild(name: String, specId: Int, files: Seq[DataFile]): (String, Long, Int, Long) =
      translated.getOrElseUpdate((name, specId), {
        val spec = specById.getOrElse(specId,
          throw new IllegalStateException(s"data file references unknown spec $specId"))
        val schemaJson = manifestEntrySchemaJson(spec, m.schema, v2, v3)
        val liveFields = resolvableFields(spec, physSchema).map(_._1)
        val records = files.map { f =>
          val partition: Map[String, Any] = liveFields.map { pf =>
            pf.name -> partitionValueOut(pf.transform,
              physSchema(pf.source).dataType,
              f.partitionValues.getOrElse(pf.name, null))
          }.toMap
          val boundsFor = (pick: ColStats => Option[Any]) =>
            if (!f.trustedBounds) null
            else {
              val kvs = f.stats.toSeq.flatMap { case (phys, st) =>
                for {
                  logical <- physToLogical.get(phys)
                  id <- topFieldIds.get(logical)
                  v <- pick(st)
                  b <- boundOut(physSchema(phys).dataType, v)
                } yield Map("key" -> id, "value" -> b)
              }.sortBy(_("key").asInstanceOf[Int])
              if (kvs.isEmpty) null else kvs
            }
          val nullCounts = {
            val kvs = f.stats.toSeq.flatMap { case (phys, st) =>
              for {
                logical <- physToLogical.get(phys)
                id <- topFieldIds.get(logical)
              } yield Map("key" -> id, "value" -> st.nullCount)
            }.sortBy(_("key").asInstanceOf[Int])
            if (kvs.isEmpty) null else kvs
          }
          val dataFile = Map[String, Any](
            "file_path" -> f.path,
            "file_format" -> f.fileFormat.toUpperCase(java.util.Locale.ROOT),
            "partition" -> partition,
            "record_count" -> f.recordCount,
            "file_size_in_bytes" -> f.sizeBytes,
            "null_value_counts" -> nullCounts,
            "lower_bounds" -> boundsFor(_.min),
            "upper_bounds" -> boundsFor(_.max)) ++
            (if (v2) Map[String, Any]("content" -> 0, "equality_ids" -> null)
             else Map[String, Any]("block_size_in_bytes" -> (64L * 1024 * 1024))) ++
            (if (v3) Map[String, Any]("first_row_id" -> fileRowId(f.path))
             else Map.empty[String, Any])
          Map[String, Any](
            "status" -> 1, // added (at its data sequence number)
            "snapshot_id" -> (if (f.seq != 0) f.seq else null),
            "data_file" -> dataFile) ++
            (if (v2) Map[String, Any](
              "sequence_number" -> (if (f.seq != 0) f.seq else null),
              "file_sequence_number" -> (if (f.seq != 0) f.seq else null))
             else Map.empty[String, Any])
        }
        val base = name.stripSuffix(".json")
        val avroName = s"$base-s$specId-m0.avro"
        val specFieldsJson = {
          val arr = mapper.createArrayNode()
          resolvableFields(spec, physSchema).foreach { case (pf, i) =>
            val o = arr.addObject()
            o.put("name", pf.name)
            o.put("transform",
              if (pf.transform.startsWith("bucket[")) "void" else pf.transform)
            o.put("source-id",
              physToLogical.get(pf.source).flatMap(topFieldIds.get).getOrElse(0))
            o.put("field-id", 1000 + i)
            ()
          }
          mapper.writeValueAsString(arr)
        }
        val bytes = Avro.writeContainer(schemaJson, records,
          syncSalt = avroName, extraMeta = Seq(
            "schema" -> icebergSchemaJson(m.schema, topFieldIds),
            "partition-spec" -> specFieldsJson,
            "partition-spec-id" -> specId.toString,
            "format-version" -> formatVersion.toString,
            "content" -> "data"))
        val path = s"$outDir/$avroName"
        writeBytes(conf, path, bytes)
        (path, bytes.length.toLong, files.size, files.map(_.recordCount).sum)
      })

    // DV bitmap files explode to classic (file_path, pos) parquet once
    // per DV file (v2 has no bitmap delete representation until v3)
    val explodedDv = scala.collection.mutable.Map.empty[String, Seq[String]]
    def classicPosFiles(pdf: Seq[String]): Seq[String] = {
      val (dv, classic) = pdf.partition(GraftTable.isDvFile)
      classic ++ dv.flatMap { d =>
        explodedDv.getOrElseUpdate(d, {
          import org.apache.spark.sql.functions.{col, explode}
          val tag = java.lang.Integer.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(d))
          val dir = s"$outDir/deletes-dv-$tag"
          GraftTable.writeParquetFiles(t.spark.read.parquet(d)
            .select(col("file_path"),
              explode(graft.functions.F.bitmapPositions(col("dv"))).as("pos"))
            .coalesce(1), dir)
        })
      }
    }
    // v3: a snapshot's WHOLE position-delete payload (classic row-files
    // OR-merged with graft DV bitmaps) becomes one Puffin DV file — one
    // blob per referenced data file. Cached by payload set: consecutive
    // snapshots that only added equality deletes share the artifact.
    // file_path values strip back to the data manifests' own rendering
    // (scheme-stripped) so a foreign reader's exact-path match works.
    val dvPuffins = scala.collection.mutable.Map.empty[String, Seq[(String, Long, Seq[IcebergDV.DvBlobRef])]]
    def dvPuffinFor(snapId: Long, pdf: Seq[String]): Seq[(String, Long, Seq[IcebergDV.DvBlobRef])] =
      dvPuffins.getOrElseUpdate(pdf.sorted.mkString("\n"), {
        import org.apache.spark.sql.functions.col
        val (dvF, classicF) = pdf.partition(GraftTable.isDvFile)
        val parts = Seq(
          if (classicF.nonEmpty) Some(t.spark.read.parquet(classicF: _*)
            .groupBy(col("file_path"))
            .agg(GraftTable.bitmapAgg(col("pos")).as("dv"))) else None,
          if (dvF.nonEmpty) Some(t.spark.read.parquet(dvF: _*)
            .select(col("file_path"), col("dv"))) else None).flatten
        val merged = parts.reduce(_ unionByName _)
          .groupBy(col("file_path"))
          .agg(GraftTable.bitmapMergeAgg(col("dv")).as("dv"))
        // driver-buffer guard: at pathological delete density the total
        // bitmap volume of a payload set can reach GBs — stream the rows
        // (toLocalIterator: one partition resident at a time, never the
        // whole set) and SPILL into multiple Puffin containers past the
        // size budget. The spec allows any number of DV files per
        // snapshot: each manifest entry points into its own container
        // via referenced_data_file/content_offset, and the import path
        // already groups pointers by container.
        val maxBytes = m.properties.get(TableFormat.DvPuffinMaxBytes)
          .map(_.toLong).getOrElse(256L << 20)
        val containers = Seq.newBuilder[(String, Long, Seq[IcebergDV.DvBlobRef])]
        var part = 0
        var chunk = Seq.newBuilder[(String, Array[Byte])]
        var chunkBytes = 0L
        var chunkRows = 0
        def flush(): Unit = if (chunkRows > 0) {
          val suffix = if (part == 0) "" else s"-p$part"
          val (bytes, refs) = IcebergDV.buildPuffin(chunk.result(), snapId)
          val path = s"$outDir/snap-$snapId-deletes$suffix.puffin"
          writeBytes(conf, path, bytes)
          containers += ((path, bytes.length.toLong, refs))
          part += 1
          chunk = Seq.newBuilder[(String, Array[Byte])]
          chunkBytes = 0L
          chunkRows = 0
        }
        val it = merged.toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          val dv = r.getAs[Array[Byte]](1)
          if (chunkRows > 0 && chunkBytes + dv.length > maxBytes) flush()
          chunk += stripLocal(r.getString(0)) -> dv
          chunkBytes += dv.length
          chunkRows += 1
        }
        flush()
        containers.result()
      })

    def fileRows(path: String): Long =
      scala.util.Try(FooterStats.read(conf, path, StructType(Nil))._1).getOrElse(0L)
    def fileLen(path: String): Long =
      scala.util.Try(MetaIO.fs(conf, path)
        .getFileStatus(new org.apache.hadoop.fs.Path(path)).getLen).getOrElse(0L)

    /** One v2 delete manifest for a snapshot's pos/eq payloads. */
    def writeDeleteManifest(snapId: Long, pdf: Seq[String],
        eq: Seq[EqualityDelete]): (String, Long, Int, Long) = {
      val spec = specById(m.currentSpecId)
      val schemaJson = manifestEntrySchemaJson(spec, m.schema, v2 = true, v3 = v3)
      def entry(content: Int, path: String, seq: Long, eqIds: Any,
          format: String = "PARQUET", rows: Long = -1L, len: Long = -1L,
          dvFields: Map[String, Any] = Map.empty): Map[String, Any] =
        Map[String, Any](
          "status" -> 1, "snapshot_id" -> snapId,
          "sequence_number" -> seq, "file_sequence_number" -> seq,
          "data_file" -> (Map[String, Any](
            "content" -> content, "file_path" -> path,
            "file_format" -> format,
            "partition" -> Map.empty[String, Any],
            "record_count" -> (if (rows >= 0) rows else fileRows(path)),
            "file_size_in_bytes" -> (if (len >= 0) len else fileLen(path)),
            "equality_ids" -> eqIds,
            "null_value_counts" -> null,
            "lower_bounds" -> null, "upper_bounds" -> null) ++ dvFields))
      // position deletes are file-anchored: the list snapshot's sequence
      // covers every data file they can name. Equality deletes keep their
      // EXACT commit sequence — the strictly-older-data rule is what lets
      // an upsert hide old key versions without hiding its own appends.
      //
      // v3 outlaws row-per-position delete files: ALL position-delete
      // state (classic + graft DV parquet alike) folds into one Puffin
      // deletion-vector file per payload set, one blob per data file,
      // each entry pointing into it via referenced_data_file/
      // content_offset/content_size_in_bytes.
      val posRecords =
        if (!v3) classicPosFiles(pdf).map(p => entry(1, p, snapId, null))
        else if (pdf.isEmpty) Nil
        else dvPuffinFor(snapId, pdf).flatMap { case (puffinPath, puffinLen, refs) =>
          refs.map(r => entry(1, puffinPath, snapId, null,
            format = "PUFFIN", rows = r.cardinality, len = puffinLen,
            dvFields = Map[String, Any](
              "referenced_data_file" -> r.dataFile,
              "content_offset" -> r.offset,
              "content_size_in_bytes" -> r.size)))
        }
      val records = posRecords ++
        eq.flatMap(e => e.files.map { p =>
          val ids = e.cols.flatMap(c =>
            physToLogical.get(c).flatMap(topFieldIds.get))
          require(ids.size == e.cols.size,
            s"equality delete key columns ${e.cols} not all in schema")
          entry(2, p, e.seq, ids)
        })
      val name = s"snap-$snapId-deletes-m0.avro"
      val bytes = Avro.writeContainer(schemaJson, records,
        syncSalt = name, extraMeta = Seq(
          "schema" -> icebergSchemaJson(m.schema, topFieldIds),
          "partition-spec" -> "[]",
          "partition-spec-id" -> m.currentSpecId.toString,
          "format-version" -> formatVersion.toString,
          "content" -> "deletes"))
      val path = s"$outDir/$name"
      writeBytes(conf, path, bytes)
      (path, bytes.length.toLong, records.size, records.size.toLong)
    }

    val listPaths = Map.newBuilder[Long, String]
    val omitted = Seq.newBuilder[Long]
    m.snapshots.foreach { snap =>
      val (entries, dp, pdf, eq) =
        MetaIO.loadManifestListData(conf, m.location, snap)
      // v1 cannot represent ANY merge-on-read payload; v2 represents
      // position + equality delete files — only graft's predicate
      // deletes (a SQL condition, no file form) still omit
      val unrepresentable =
        if (v2) dp.nonEmpty else dp.nonEmpty || pdf.nonEmpty || eq.nonEmpty
      if (unrepresentable) omitted += snap.id
      else {
        val childFiles = entries.map(e =>
          e.name -> MetaIO.loadChildFiles(conf, m.location, e.name))
        val dataRows = childFiles.flatMap { case (childName, files) =>
          files.groupBy(_.specId).toSeq.sortBy(_._1).map { case (specId, group) =>
            val (path, len, fileCount, rowCount) = translateChild(childName, specId, group)
            // added_snapshot_id = the commit that WROTE this child (its
            // files' data sequence number), not the list's snapshot — a
            // carried-over manifest must not re-claim its files as added
            // by every later snapshot (incremental consumers select
            // manifests by this field). seq 0 (legacy metadata) → null
            // (v1) / the list snapshot (v2, where the field is required).
            val childSeq = group.map(_.seq).max
            val addedSnap: Any =
              if (childSeq > 0L) childSeq else if (v2) snap.id else null
            Map[String, Any](
              "manifest_path" -> path,
              "manifest_length" -> len,
              "partition_spec_id" -> specId,
              "added_snapshot_id" -> addedSnap,
              "added_data_files_count" -> fileCount,
              "existing_data_files_count" -> 0,
              "deleted_data_files_count" -> 0,
              "added_rows_count" -> rowCount,
              "existing_rows_count" -> 0L,
              "deleted_rows_count" -> 0L) ++
              (if (v2) Map[String, Any]("content" -> 0,
                "sequence_number" -> (if (childSeq > 0) childSeq else snap.id),
                "min_sequence_number" -> {
                  val mn = group.map(_.seq).min
                  if (mn > 0) mn else snap.id
                })
               else Map.empty[String, Any]) ++
              (if (v3) Map[String, Any](
                "first_row_id" -> group.map(f => fileRowId(f.path)).min)
               else Map.empty[String, Any])
          }
        }
        val deleteRows =
          if (!v2 || (pdf.isEmpty && eq.isEmpty)) Nil
          else {
            val (path, len, count, rows) = writeDeleteManifest(snap.id, pdf, eq)
            val minSeq = (eq.map(_.seq) :+ snap.id).min
            Seq(Map[String, Any](
              "manifest_path" -> path,
              "manifest_length" -> len,
              "partition_spec_id" -> m.currentSpecId,
              "content" -> 1,
              "sequence_number" -> snap.id,
              "min_sequence_number" -> minSeq,
              "added_snapshot_id" -> snap.id,
              "added_data_files_count" -> count,
              "existing_data_files_count" -> 0,
              "deleted_data_files_count" -> 0,
              "added_rows_count" -> rows,
              "existing_rows_count" -> 0L,
              "deleted_rows_count" -> 0L))
          }
        val listName = s"snap-${snap.id}-1-graft.avro"
        val bytes = Avro.writeContainer(manifestListSchema(v2, v3), dataRows ++ deleteRows,
          syncSalt = listName, extraMeta = Seq(
            "snapshot-id" -> snap.id.toString,
            "format-version" -> formatVersion.toString) ++
            snap.parentId.map(p => "parent-snapshot-id" -> p.toString))
        val path = s"$outDir/$listName"
        writeBytes(conf, path, bytes)
        listPaths += snap.id -> path
      }
    }
    ExportedManifests(listPaths.result(), omitted.result(), outDir,
      lineage.snapshotFirstRowId, lineage.nextRowId)
  }

  /** The Iceberg schema JSON embedded in each manifest's file metadata
    * (readers require it). Field ids follow the exporting document's
    * numbering for TOP-LEVEL fields; nested ids are re-derived the same
    * depth-first way IcebergExport numbers them.
    */
  private def icebergSchemaJson(schema: StructType,
      topFieldIds: Map[String, Int]): String = {
    val root = mapper.createObjectNode()
    root.put("type", "struct"); root.put("schema-id", 0)
    val fs = root.putArray("fields")
    schema.fields.foreach { f =>
      val o = fs.addObject()
      o.put("id", topFieldIds.getOrElse(f.name, 0))
      o.put("name", f.name)
      o.put("required", !f.nullable)
      f.dataType match {
        case LongType      => o.put("type", "long")
        case IntegerType | ShortType => o.put("type", "int")
        case DoubleType    => o.put("type", "double")
        case FloatType     => o.put("type", "float")
        case StringType    => o.put("type", "string")
        case BooleanType   => o.put("type", "boolean")
        case DateType      => o.put("type", "date")
        case TimestampType => o.put("type", "timestamptz")
        case TimestampNTZType => o.put("type", "timestamp")
        case BinaryType    => o.put("type", "binary")
        case other         => o.put("type", other.simpleString)
      }
      ()
    }
    mapper.writeValueAsString(root)
  }

  private[tables] def writeBytes(conf: Configuration, path: String, bytes: Array[Byte]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private[tables] def readBytes(conf: Configuration, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  // ------------------------------------------------------------- import

  /** Per-import caches shared across a document's snapshots (shared
    * manifests translate once): data manifests → (graft child name,
    * files); delete manifests → their translated payload.
    */
  final class ImportCaches {
    val children = scala.collection.mutable.Map.empty[String, (String, Seq[DataFile])]
    val deletes = scala.collection.mutable.Map.empty[String, (Seq[String], Seq[EqualityDelete])]
  }

  /** A manifest entry's data sequence number: explicit when written
    * (v2), inherited from the manifest list's `sequence_number` when
    * null (the v2 inheritance rule), the entry's `snapshot_id` for v1
    * manifests (graft's own export stores the adding commit there).
    */
  private def entrySeq(entry: Map[String, Any], manifestSeq: Long): Long =
    entry.get("sequence_number") match {
      case Some(l: Long) => l
      case _ if manifestSeq > 0 => manifestSeq
      case _ => entry.get("snapshot_id") match {
        case Some(l: Long) => l
        case _             => 0L
      }
    }

  /** Local paths follow graft's manifest convention (scheme stripped);
    * everything else stays as written.
    */
  private def stripLocal(p: String): String =
    if (p.startsWith("file:"))
      new org.apache.hadoop.fs.Path(p).toUri.getPath
    else p

  /** Translate one snapshot's Avro manifest list (+ its manifests) into
    * graft JSON manifests inside `tgtMetaDir`. Returns the graft
    * manifest-list NAME for the snapshot. Handles BOTH v1 lists and v2
    * lists (r11): `content = 1` delete manifests become the graft list's
    * merge-on-read payloads — position-delete files re-written with
    * Spark-canonical `file_path` values (the read-side join compares
    * against `_metadata.file_path`, so a schemeless foreign path would
    * silently never match), equality-delete files referenced in place
    * with their `equality_ids` resolved to column names and their v2
    * sequence numbers preserved (graft applies the same
    * strictly-older-data rule).
    */
  def importSnapshot(spark: org.apache.spark.sql.SparkSession,
      manifestListPath: String,
      specById: Map[Int, PartitionSpec], schema: StructType,
      idToPhysical: Map[Int, String], tgtMetaDir: String,
      targetLocation: String, caches: ImportCaches): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val physSchema = ColumnMapping.physicalSchema(schema)
    val list = Avro.readContainer(readBytes(conf, manifestListPath))
    def contentOf(row: Map[String, Any]): Int = row.get("content") match {
      case Some(i: Int) => i
      case _            => 0 // v1 lists: data manifests only
    }
    def manifestSeqOf(row: Map[String, Any]): Long = row.get("sequence_number") match {
      case Some(l: Long) => l
      case _             => 0L
    }
    val children = list.records.filter(contentOf(_) == 0).map { row =>
      val path = row("manifest_path").asInstanceOf[String]
      val specId = row("partition_spec_id").asInstanceOf[Int]
      val manifestSeq = manifestSeqOf(row)
      // v3 row lineage: the manifest-list row's first_row_id (field 520)
      // anchors inheritance for ADDED entries whose own field 142 is
      // null. A manifest keeps the same first_row_id across every
      // snapshot that carries it (the spec's stability rule), so the
      // per-path cache stays sound.
      val manifestFirst: Option[Long] = row.get("first_row_id") match {
        case Some(l: Long) => Some(l)
        case _             => None
      }
      caches.children.getOrElseUpdate(path, {
        val spec = specById.getOrElse(specId, throw new IllegalArgumentException(
          s"manifest $path references unknown partition spec $specId"))
        val mf = Avro.readContainer(readBytes(conf, path))
        // running record count of preceding ADDED entries that inherit —
        // the spec's assignment rule for null first_row_id fields
        var inheritOffset = 0L
        val files = mf.records.flatMap { entry =>
          val status = entry("status").asInstanceOf[Int]
          if (status == 2) None // deleted entry: not live
          else {
            val df = entry("data_file").asInstanceOf[Map[String, Any]]
            val fmt = df.getOrElse("file_format", "PARQUET").toString.toLowerCase
            require(Seq("parquet", "orc", "avro").contains(fmt),
              s"cannot import data file format '$fmt' (parquet, orc, avro)")
            val partRec = df.getOrElse("partition", Map.empty)
              .asInstanceOf[Map[String, Any]]
            val partitionValues = spec.fields.flatMap { pf =>
              partRec.get(pf.name).flatMap(v => partitionValueIn(pf.transform,
                physSchema.fields.find(_.name == pf.source)
                  .map(_.dataType).getOrElse(StringType), v))
                .map(pf.name -> _)
            }.toMap
            val stats = importStats(df, physSchema, idToPhysical)
            val records = df("record_count").asInstanceOf[Long]
            // entry-level first_row_id (field 142) wins; null on an
            // ADDED entry inherits manifest first_row_id + accumulated
            // added record counts; EXISTING entries without an explicit
            // id have none to recover (a conforming writer materializes
            // them on rewrite)
            val explicitFirst: Option[Long] = entry.get("first_row_id") match {
              case Some(l: Long) => Some(l)
              case _             => None
            }
            val first = explicitFirst.orElse {
              if (status == 1) manifestFirst.map { mf0 =>
                val v = mf0 + inheritOffset
                inheritOffset += records
                v
              } else None
            }
            Some(DataFile(
              stripLocal(df("file_path").asInstanceOf[String]),
              specId,
              partitionValues,
              records,
              df("file_size_in_bytes").asInstanceOf[Long],
              stats,
              seq = entrySeq(entry, manifestSeq),
              // foreign bounds may be truncated (Iceberg increments the
              // last byte of string upper bounds): pruning-safe, never
              // aggregate-exact
              trustedBounds = false,
              firstRowId = first,
              fileFormat = fmt))
          }
        }
        val name = translatedName(path)
        MetaIO.writeString(conf, s"$tgtMetaDir/$name",
          MetaIO.manifestToJson(files))
        (name, files)
      })
    }
    val deletePayloads = list.records.filter(contentOf(_) == 1).map { row =>
      val path = row("manifest_path").asInstanceOf[String]
      caches.deletes.getOrElseUpdate(path,
        translateDeleteManifest(spark, path, manifestSeqOf(row),
          idToPhysical, targetLocation))
    }
    val posFiles = deletePayloads.flatMap(_._1).distinct
    val eqDeletes = deletePayloads.flatMap(_._2).distinct
    val entries = children.distinct.map { case (name, files) =>
      ManifestStats.entryFor(name, files)
    }
    val listName = translatedName(manifestListPath)
    MetaIO.writeString(conf, s"$tgtMetaDir/$listName",
      MetaIO.manifestListToJson(entries, Nil, posFiles, eqDeletes))
    listName
  }

  /** One v2 delete manifest → graft merge-on-read payloads. */
  private def translateDeleteManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, manifestSeq: Long, idToPhysical: Map[Int, String],
      targetLocation: String): (Seq[String], Seq[EqualityDelete]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mf = Avro.readContainer(readBytes(conf, path))
    val pos = Seq.newBuilder[String]
    // v3 deletion vectors: (puffin path, offset, size, referenced file)
    val dvPtrs = Seq.newBuilder[(String, Long, Long, String)]
    val eqRaw = Seq.newBuilder[(Seq[String], Long, String)]
    mf.records.foreach { entry =>
      val status = entry("status").asInstanceOf[Int]
      if (status != 2) {
        val df = entry("data_file").asInstanceOf[Map[String, Any]]
        val filePath = df("file_path").asInstanceOf[String]
        df.get("content") match {
          case Some(1)
            if df.getOrElse("file_format", "PARQUET").toString
              .equalsIgnoreCase("puffin") =>
            def longField(k: String): Long = df.get(k) match {
              case Some(l: Long) => l
              case other => throw new IllegalArgumentException(
                s"deletion-vector entry for $filePath carries no $k ($other)")
            }
            val rdf = df.get("referenced_data_file") match {
              case Some(s: String) => s
              case other => throw new IllegalArgumentException(
                s"deletion-vector entry in $filePath carries no " +
                  s"referenced_data_file ($other)")
            }
            dvPtrs += ((filePath, longField("content_offset"),
              longField("content_size_in_bytes"), rdf))
          case Some(1) => pos += filePath
          case Some(2) =>
            val ids = df.get("equality_ids") match {
              case Some(xs: Seq[_]) => xs.map(_.asInstanceOf[Int])
              case _ => throw new IllegalArgumentException(
                s"equality delete file $filePath carries no equality_ids")
            }
            val cols = ids.map(id => idToPhysical.getOrElse(id,
              throw new IllegalArgumentException(
                s"equality delete references unknown field id $id")))
            eqRaw += ((cols, entrySeq(entry, manifestSeq), filePath))
          case other => throw new IllegalArgumentException(
            s"unsupported delete-file content $other in $path " +
              "(position=1 / equality=2 only)")
        }
      }
    }
    val eqDeletes = eqRaw.result().groupBy(e => (e._1, e._2)).map {
      case ((cols, seq), es) => EqualityDelete(cols, es.map(_._3), seq)
    }.toSeq
    val dvFiles = importDeletionVectors(spark, path, dvPtrs.result(),
      targetLocation)
    (normalizePositionDeletes(spark, pos.result(), targetLocation) ++ dvFiles,
      eqDeletes)
  }

  /** v3 deletion-vector blobs → ONE graft DV parquet per delete manifest
    * (rows of canonical data-file path + graft-encoded bitmap, under the
    * `/deletes/dv-` prefix the MOR read path recognizes) — the bitmap
    * shape survives the import, so the O(files-with-deletes) read plan
    * does too. Blob decode validates framing magic + CRC + the portable
    * Roaring stream ([[IcebergDV.readBlobAt]]). Driver-bounded: one row
    * per file-with-deletes, O(bitmap bytes) each.
    */
  private[tables] def importDeletionVectors(spark: org.apache.spark.sql.SparkSession,
      manifestPath: String, ptrs: Seq[(String, Long, Long, String)],
      targetLocation: String): Seq[String] = {
    if (ptrs.isEmpty) return Nil
    val conf = spark.sparkContext.hadoopConfiguration
    val decoded = ptrs.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (puffinPath, blobPtrs) =>
        val bytes = readBytes(conf, puffinPath)
        require(graft.formats.Puffin.isPuffin(bytes),
          s"deletion-vector file $puffinPath is not a Puffin container")
        blobPtrs.sortBy(_._2).map { case (_, off, sz, rdf) =>
          canonPath(rdf) -> graft.functions.Bitmaps.encode(
            IcebergDV.readBlobAt(bytes, off, sz))
        }
    }
    // OR-merge blobs that reference the same data file: the MOR read's
    // single-DV-file fast path serves rows as-is, so a duplicate row
    // would MULTIPLY the data file's rows through the join instead of
    // refusing — fold here, one row per referenced file
    val rows = decoded.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, bms) =>
      p -> bms.map(_._2).reduce(graft.functions.Bitmaps.merge)
    }
    val sp = spark
    import sp.implicits._
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(manifestPath))
    val dir = s"$targetLocation/deletes/dv-imp-$tag"
    GraftTable.writeParquetFiles(rows.toDF("file_path", "dv").coalesce(1), dir)
  }

  /** Spark-canonical rendering of a possibly-schemeless path ("file:/abs"
    * for local files) — what `_metadata.file_path` reports, so what every
    * stored delete-side path must match exactly.
    */
  private[tables] def canonPath(p: String): String =
    graft.functions.PathCanonUtil.canonString(p)

  /** Copy foreign position-delete files with `file_path` rewritten to
    * Spark's canonical rendering ("file:/abs/path" for local files): the
    * merge-on-read join compares stored paths against
    * `_metadata.file_path`, so a schemeless path written by another
    * engine would silently delete NOTHING.
    */
  private def normalizePositionDeletes(spark: org.apache.spark.sql.SparkSession,
      files: Seq[String], targetLocation: String): Seq[String] = {
    if (files.isEmpty) return Nil
    import org.apache.spark.sql.functions.col
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(files))
    val dir = s"$targetLocation/deletes/imp-$tag"
    GraftTable.writeParquetFiles(spark.read.parquet(files: _*)
      .select(graft.functions.F.canonPath(col("file_path")).as("file_path"), col("pos")), dir)
  }

  /** Target-dir name for a translated Avro artifact: basename plus a
    * short hash of the FULL source path — two foreign manifests with
    * equal basenames in different directories (metadata consolidated
    * from several source dirs) must not clobber each other's
    * translation (r11 review finding).
    */
  private def translatedName(absPath: String): String = {
    val base = absPath.substring(absPath.lastIndexOf('/') + 1).stripSuffix(".avro")
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(absPath))
    s"$base-$tag.json"
  }

  /** Column stats from a foreign manifest entry's bound/null maps. A
    * column enters the map only when its null count is PRESENT (an
    * invented 0 would let IS NULL pruning drop real rows); bounds decode
    * per the schema type or stay None.
    */
  private def importStats(df: Map[String, Any], physSchema: StructType,
      idToPhysical: Map[Int, String]): Map[String, ColStats] = {
    def kvMap(key: String): Map[Int, Any] = df.get(key) match {
      case Some(xs: Seq[_]) => xs.map { kv =>
        val m = kv.asInstanceOf[Map[String, Any]]
        m("key").asInstanceOf[Int] -> m("value")
      }.toMap
      case _ => Map.empty
    }
    val nulls = kvMap("null_value_counts")
    val lowers = kvMap("lower_bounds")
    val uppers = kvMap("upper_bounds")
    nulls.flatMap { case (id, n) =>
      for {
        phys <- idToPhysical.get(id)
        field <- physSchema.fields.find(_.name == phys)
      } yield {
        def dec(m: Map[Int, Any]): Option[Any] = m.get(id)
          .flatMap(b => boundIn(field.dataType, b.asInstanceOf[Array[Byte]]))
        phys -> ColStats(dec(lowers), dec(uppers), numLong(n))
      }
    }
  }
}
