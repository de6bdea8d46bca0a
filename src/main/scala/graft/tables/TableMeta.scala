package graft.tables

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.charset.StandardCharsets
import scala.util.Try

/** Metadata model for graft's snapshot-versioned table format — a
  * Spark-native re-expression of the Iceberg v1 surface the reference
  * workshop drives (cf. reference README.md "Time travel", "Maintenance";
  * iceberg-metadata examples in reference limitations.md).
  *
  * Layout under a table location:
  * {{{
  *   metadata/v{N}.metadata.json      — one per commit (schema, specs, snapshot log)
  *   metadata/manifest-{snap}-{uuid}.json    — data-file list + per-column stats
  *   metadata/version-hint.text       — latest N
  *   data/…                           — parquet data files (absolute paths in manifests,
  *                                      so in-place migrated files may live elsewhere)
  * }}}
  *
  * Commit protocol: each commit CAS-publishes `v{N+1}.metadata.json`
  * (atomic link/rename — [[MetaIO.casPublish]]); exactly one writer wins a
  * version, losers fail loudly, and non-conflicting appends rebase and
  * retry (`commit.retry.num-retries`). This is the role the workshop's
  * engines delegate to a catalog CAS, done Iceberg-HadoopTableOperations
  * style; the version hint is advisory and readers probe past it.
  */
object TableFormat {
  val FormatVersion = 1
  /** Hidden partition-column prefix used in data-file paths. */
  val PartColPrefix = "__gp_"
  /** Metadata retention count (reference README.md "Metadata files"):
    * how many previous metadata versions to keep once deletion is on.
    */
  val PrevVersionsMax = "write.metadata.previous-versions-max"
  /** Distinct enable toggle for metadata deletion (Iceberg
    * `write.metadata.delete-after-commit.enabled`): without it, commits
    * never delete old metadata no matter what the retention count says.
    */
  val DeleteAfterCommit = "write.metadata.delete-after-commit.enabled"
  /** Comma-separated columns that get parquet native bloom filters on
    * write (point-lookup row-group skipping beyond min/max stats).
    */
  val BloomColumns = "write.bloom-columns"
  /** ANALYZE column statistics (the Puffin shape — Iceberg attaches
    * sketch blobs to a snapshot via a stats file): the snapshot the stats
    * describe plus the metadata-dir file holding the per-column KMV
    * sketch BUFFERS. Buffers (not finished estimates) persist because
    * set-union-keep-k-smallest makes them MERGEABLE: an append folds the
    * new rows' sketches in and re-stamps, so NDV stays live under
    * continuous ingest without rescanning the table.
    */
  val StatsSnapshot = "graft.stats.snapshot-id"
  val StatsFile = "graft.stats.file"
  /** Persisted PARTITION statistics (Iceberg's partition statistics
    * files, the `partition-statistics` metadata list): per-(spec,
    * partition-tuple) data-file/record/byte counters, stamped with the
    * snapshot they describe. Counters are ADDITIVE over added data
    * files, so an append folds its own files' per-partition totals in
    * O(batch) and re-stamps in the same commit — `.partitions` then
    * serves in O(partitions) with zero manifest IO. Any other commit
    * kind (rewrite, delete, overwrite, compaction — file counts and
    * bytes change even when rows don't) leaves the stamp behind:
    * consumers fall back to the live manifest computation, never a
    * stale answer.
    */
  val PartStatsSnapshot = "graft.partition-stats.snapshot-id"
  val PartStatsFile = "graft.partition-stats.file"
  /** Bounded retry count for non-conflicting commits that lose the
    * version CAS (Iceberg `commit.retry.num-retries`, default 4): an
    * append re-points its already-written files onto the winner's
    * manifest and retries — no data rewrite.
    */
  val CommitRetries = "commit.retry.num-retries"
  /** Write-time sort order (Iceberg SortOrder + `write.distribution-mode`):
    * comma-separated LOGICAL column names. Every data-producing commit
    * (append, CoW rewrite, compaction) range-distributes + locally sorts
    * to this order, so stats pruning on the sort keys holds from the
    * moment rows land — not only after the next maintenance `cluster()`
    * pass. Evolves like a partition spec: a property commit changes it
    * for NEW writes only; existing files keep their layout.
    */
  val SortOrder = "write.sort-order"
  /** Per-container byte budget for v3 deletion-vector Puffin export:
    * payload sets whose merged bitmaps exceed it spill into multiple
    * Puffin files (spec-legal — entries point into their own container),
    * so the export's driver buffer stays bounded. Default 256 MiB.
    */
  val DvPuffinMaxBytes = "graft.export.dv-puffin-max-bytes"
  /** v3 row lineage ([[RowLineage]]): when `true`, copy-on-write
    * rewrites MATERIALIZE `_row_id` / `_last_updated_sequence_number`
    * into the rewritten files so row identity survives the rewrite (the
    * v3 spec's requirement for lineage-preserving engines). Off by
    * default — plain tables don't pay the two extra columns.
    */
  val RowLineagePreserve = "graft.row-lineage.preserve"
  /** Watermark for native id assignment over IMPORTED lineage (the
    * foreign metadata's `next-row-id`): files appended after an import
    * take ids from here, never colliding with foreign ranges.
    */
  val RowLineageNextRowId = "graft.row-lineage.next-row-id"
  /** Stamped (permanently) by the first lineage-preserving rewrite:
    * some data files now carry their REAL per-row ids in materialized
    * rider columns, which the v3 export's inherited first_row_id ranges
    * cannot represent — the export checks this marker and refuses.
    */
  val RowLineageMaterialized = "graft.row-lineage.materialized"
  /** Highest snapshot id present AT IMPORT TIME: files first seen at or
    * below it without an explicit foreign id have no recoverable lineage
    * (e.g. a foreign compaction re-listed them as EXISTING with null
    * field 142 and their real ids materialized in a column graft does
    * not read) — they serve NULL lineage rather than invented numbers.
    * Native files of later snapshots assign normally.
    */
  val RowLineageImportBoundary = "graft.row-lineage.import-boundary"
  /** Name (in the metadata dir) of the lineage SETTLEMENT file written by
    * snapshot expiration: the pre-expiration per-file first-row-id map +
    * watermark, persisted so served ids stay stable when the walk order
    * changes (a file's first-seen snapshot expiring would otherwise shift
    * its walk position and renumber its rows — the spec's ids are forever).
    */
  val RowLineageSettled = "graft.row-lineage.settled"
  /** Set on a table created by [[GraftTable.snapshotOf]]: the source
    * table location whose files the first snapshot borrowed in place.
    */
  val SnapshotSource = "graft.snapshot-source"
  /** Target data-file size for writes (Iceberg
    * `write.target-file-size-bytes`): served to AQE as the advisory
    * partition size for the write's shuffle, so range/hash-distributed
    * writes coalesce to files of roughly this size instead of whatever
    * `spark.sql.shuffle.partitions` dictates.
    */
  val TargetFileSize = "write.target-file-size-bytes"
}

/** One partition field: `transform(source) AS name`. Transforms: identity,
  * years, months, days, hours, bucket[N], truncate[W] (reference
  * iceberg_partitioning_examples.sql; README.md "Transform partitioning").
  */
case class PartitionField(source: String, transform: String, name: String)

case class PartitionSpec(specId: Int, fields: Seq[PartitionField])

/** Typed per-column file stats; values are Long / Double / String /
  * Boolean (timestamps as epoch micros, dates as epoch days).
  */
case class ColStats(min: Option[Any], max: Option[Any], nullCount: Long)

/** One equi-height histogram bin: values in (lo, hi] (the first bin
  * includes lo), `ndv` distinct values inside.
  */
case class HistBin(lo: Double, hi: Double, ndv: Long)

/** Equi-height histogram of a numeric column — the Catalyst `Histogram`
  * shape CBO's filter estimation consumes: every bin holds ~`height`
  * rows, so skewed values get wide single-value bins and selectivity
  * estimates follow the DISTRIBUTION, not the uniformity assumption.
  */
case class ColHistogram(height: Double, bins: Seq[HistBin])

/** The persisted ANALYZE payload of one stats file: snapshot stamp,
  * sketch size, per-PHYSICAL-column KMV buffers, and (optional)
  * equi-height histograms. Sketches fold under appends; histograms
  * cannot (bin boundaries are data-dependent), so append re-stamps drop
  * them rather than serve silently-wrong bins.
  */
case class StatsPayload(snapshotId: Long, k: Int,
    sketches: Map[String, Array[Long]],
    histograms: Map[String, ColHistogram] = Map.empty)

/** One partition's data-file counters (Iceberg partition-stats fields:
  * `data_file_count` / `data_record_count` / bytes are counts over LIVE
  * data files, NOT net of merge-on-read deletes — the same semantics
  * `.partitions` reports from manifests). `partition` is the canonical
  * sorted `k=v/k2=v2` rendering of the file's partition tuple.
  */
case class PartitionStatEntry(specId: Int, partition: String,
    dataFileCount: Long, dataRecordCount: Long, totalSizeBytes: Long)

/** The persisted partition-statistics payload of one stats file. */
case class PartitionStatsPayload(snapshotId: Long,
    entries: Seq[PartitionStatEntry])

case class DataFile(
    path: String,
    specId: Int,
    partitionValues: Map[String, String],
    recordCount: Long,
    sizeBytes: Long,
    stats: Map[String, ColStats],
    seq: Long = 0, // data sequence number: the snapshot that added the file
    // false for files registered from EXTERNAL writers (add_files /
    // in-place migration): parquet binary max stats may be truncated
    // (last byte incremented — an upper bound, not a value in the data),
    // so string bounds stay pruning-safe but are NOT aggregate-exact.
    // Self-written files are exact (Spark writes untruncated footer stats).
    trustedBounds: Boolean = true,
    // v3 row lineage: explicit first row id carried from a FOREIGN
    // manifest (Iceberg manifest-entry field 142, imports only).
    // Native files leave it None — their ids derive from the same
    // deterministic walk the v3 export uses ([[RowLineage.assign]]).
    firstRowId: Option[Long] = None,
    // per-file data format (the Iceberg manifest `file_format` field):
    // graft WRITES parquet only, but add_files/import can register
    // existing "orc" and "avro" files in place — the scan reads each
    // file with its own format, like Iceberg's format-per-file model.
    fileFormat: String = "parquet")

/** One merge-on-read equality delete: rows matching any key tuple in
  * `files` (parquet, schema = `cols`) are dropped at read time — but only
  * from data files with a LOWER sequence number (`file.seq < seq`), the
  * Iceberg v2 sequencing rule that lets an upsert commit delete old
  * versions of its keys without hiding the rows it appends.
  *
  * `stats` (r8) are the delete files' aggregated key-column bounds,
  * collected from their footers at commit time (the fields Iceberg keeps
  * on delete-file manifest entries): a read skips applying the delete to
  * any data file whose key range can't intersect — on a key-clustered
  * table, point-upsert deletes stop costing an anti-join over every
  * older file. Empty = unknown (pre-r8 metadata), always applied. Keyed
  * by the delete files' own column names (`cols`).
  */
case class EqualityDelete(cols: Seq[String], files: Seq[String],
    seq: Long = Long.MaxValue, stats: Map[String, ColStats] = Map.empty)

/** Everything a snapshot manifest carries: the data-file list plus the
  * three merge-on-read delete kinds (predicate deletes: a SQL condition
  * applied at read time; position deletes: parquet files of
  * (file_path, pos) rows to drop; equality deletes: key-tuple files —
  * the Iceberg v2 delete-file model).
  */
case class ManifestData(
    files: Seq[DataFile],
    deletePredicates: Seq[String],
    positionDeleteFiles: Seq[String],
    equalityDeletes: Seq[EqualityDelete] = Nil)

/** One manifest referenced from a snapshot's manifest LIST, carrying the
  * aggregated column stats that let the scan planner skip the WHOLE
  * manifest without reading it (Iceberg's manifest-list partition
  * summaries): at ~10⁶ files, planning cost is O(surviving manifests),
  * not O(all file entries).
  *
  * `specId`/`partitionTuples` are the PARTITION summary (r8): the child's
  * distinct partition-value tuples when its files share one spec and stay
  * under the cap — so a partition predicate skips whole manifests even
  * where column stats are absent (non-ASCII string bounds, all-NULL
  * files, mixed schema generations). specId -1 / empty tuples = unknown,
  * conservatively kept.
  */
case class ManifestEntry(name: String, fileCount: Long, recordCount: Long,
    stats: Map[String, ColStats], specId: Int = -1,
    partitionTuples: Seq[Map[String, String]] = Nil)

object ManifestStats {
  private def lt(a: Any, b: Any): Option[Boolean] = (a, b) match {
    case (x: Long, y: Long)       => Some(x < y)
    case (x: Double, y: Double)   => Some(x < y)
    case (x: Long, y: Double)     => Some(x.toDouble < y)
    case (x: Double, y: Long)     => Some(x < y.toDouble)
    case (x: String, y: String)   => Some(x < y)
    case (x: Boolean, y: Boolean) => Some(x < y)
    case _                        => None
  }

  private def bound(vals: Seq[Option[Any]], takeMin: Boolean): Option[Any] =
    if (vals.isEmpty || vals.exists(_.isEmpty)) None
    else {
      val vs = vals.flatten
      var acc = vs.head
      var ok = true
      vs.tail.foreach { v =>
        if (ok) lt(acc, v) match {
          case Some(accLtV) => if (accLtV != takeMin) acc = v
          case None         => ok = false // incomparable types: no sound bound
        }
      }
      if (ok) Some(acc) else None
    }

  /** Partition summary of a child manifest: (specId, distinct partition
    * tuples), or (-1, Nil) = unknown when the files span partition specs
    * or the tuple count exceeds the cap (a manifest covering many
    * partitions can't be skipped by one anyway). Exact-set summaries stay
    * sound for EVERY predicate shape the per-file partition check
    * supports — no lexical min/max traps on numeric-string values.
    */
  def partitionSummary(files: Seq[DataFile],
      cap: Int = 32): (Int, Seq[Map[String, String]]) = {
    if (files.isEmpty) return (-1, Nil)
    val specs = files.map(_.specId).distinct
    if (specs.size != 1) return (-1, Nil)
    val tuples = files.map(_.partitionValues).distinct
    if (tuples.size > cap) (-1, Nil) else (specs.head, tuples)
  }

  /** May value ranges `a` and `b` intersect? Conservative true when any
    * bound is missing or the types don't compare.
    */
  def rangesMayOverlap(a: ColStats, b: ColStats): Boolean = {
    val disjoint = (for {
      aMin <- a.min; aMax <- a.max; bMin <- b.min; bMax <- b.max
      aBelowB <- lt(aMax, bMin)
      bBelowA <- lt(bMax, aMin)
    } yield aBelowB || bBelowA).getOrElse(false)
    !disjoint
  }

  /** Build a child-manifest entry with both summary kinds. */
  def entryFor(name: String, files: Seq[DataFile]): ManifestEntry = {
    val (specId, tuples) = partitionSummary(files)
    ManifestEntry(name, files.size, files.map(_.recordCount).sum,
      aggregate(files), specId, tuples)
  }

  /** Conservative manifest-level summary of per-file column stats:
    * min-of-mins / max-of-maxes for columns EVERY file reports (a column
    * any file omits is dropped — unknown never prunes), exact-sum null
    * counts. Sound by construction: a predicate that may match some file
    * always may match the aggregate.
    */
  def aggregate(files: Seq[DataFile]): Map[String, ColStats] = {
    if (files.isEmpty) return Map.empty
    val cols = files.map(_.stats.keySet).reduce(_ intersect _)
    cols.iterator.map { c =>
      val ss = files.map(_.stats(c))
      c -> ColStats(bound(ss.map(_.min), takeMin = true),
        bound(ss.map(_.max), takeMin = false), ss.map(_.nullCount).sum)
    }.toMap
  }
}

case class Snapshot(
    id: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String,
    manifest: String,
    addedFiles: Long,
    totalFiles: Long,
    totalRecords: Long,
    schemaId: Int = 0)

/** One entry of the table's schema history (Iceberg `schemas` +
  * `current-schema-id`): every evolution commit appends a new id, and each
  * snapshot records the id it was committed under, so time travel reads a
  * snapshot with ITS schema, not today's.
  */
case class SchemaVersion(id: Int, schema: StructType)

/** Named snapshot reference: a `tag` is immutable, a `branch` advances as
  * commits land on it (Iceberg refs).
  */
case class Ref(kind: String, snapshotId: Long)

case class TableMeta(
    location: String,
    version: Int,
    schema: StructType,
    specs: Seq[PartitionSpec],
    currentSpecId: Int,
    snapshots: Seq[Snapshot],
    currentSnapshotId: Option[Long],
    properties: Map[String, String],
    refs: Map[String, Ref] = Map.empty,
    schemasHistory: Seq[SchemaVersion] = Nil,
    currentSchemaId: Int = 0) {

  /** Schema as of a snapshot's recorded schema id. Tables created before
    * any evolution carry no history — the current schema is schema 0.
    */
  def schemaAt(id: Int): StructType =
    schemasHistory.find(_.id == id).map(_.schema).getOrElse(schema)

  def currentSpec: PartitionSpec = specs.find(_.specId == currentSpecId).get
  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.id == id)
  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshot)

  /** Ancestor chain of the current snapshot (for history's
    * is_current_ancestor, cf. reference README.md snapshot-expiration
    * history table).
    */
  def currentAncestors: Set[Long] = {
    var out = Set.empty[Long]
    var cur = currentSnapshot
    while (cur.isDefined) {
      out += cur.get.id
      cur = cur.get.parentId.flatMap(snapshot)
    }
    out
  }

  /** Ancestor chain starting at `id`, newest first (the branch history a
    * ref retention policy protects).
    */
  def ancestorsOf(id: Long): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var cur = snapshot(id)
    while (cur.isDefined) {
      out += cur.get.id
      cur = cur.get.parentId.flatMap(snapshot)
    }
    out.result()
  }
}

/** Per-ref snapshot retention policy (Iceberg's branch/tag retention
  * properties `min-snapshots-to-keep` / `max-snapshot-age-ms` /
  * `max-ref-age-ms`). For a BRANCH, the head plus the most recent
  * `minSnapshotsToKeep` ancestors plus every ancestor younger than
  * `maxSnapshotAgeMs` survive expiration; for a TAG only the pinned
  * snapshot is protected. A ref older than `maxRefAgeMs` is itself
  * dropped, releasing its snapshots.
  */
case class RefRetention(
    minSnapshotsToKeep: Int = 1,
    maxSnapshotAgeMs: Long = Long.MaxValue,
    maxRefAgeMs: Long = Long.MaxValue)

/** JSON (de)serialization with jackson-databind (ships with Spark). */
object MetaIO {
  private val mapper = new ObjectMapper()

  def fs(conf: Configuration, path: String): FileSystem = new Path(path).getFileSystem(conf)

  def writeString(conf: Configuration, path: String, content: String): Unit = {
    val p = new Path(path)
    val stream = fs(conf, path).create(p, true)
    try stream.write(content.getBytes(StandardCharsets.UTF_8)) finally stream.close()
  }

  def readString(conf: Configuration, path: String): String = {
    val p = new Path(path)
    val in = fs(conf, path).open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  def exists(conf: Configuration, path: String): Boolean =
    fs(conf, path).exists(new Path(path))

  def delete(conf: Configuration, path: String): Unit =
    fs(conf, path).delete(new Path(path), true)

  // ------------------------------------------------------------ stats json

  private def statValueToJson(o: ObjectNode, key: String, v: Any): Unit = v match {
    case l: Long    => o.put(key, l)
    case d: Double  => o.put(key, d)
    case s: String  => o.put(key, s)
    case b: Boolean => o.put(key, b)
    case other      => o.put(key, other.toString)
  }

  private def statValueFromJson(n: JsonNode): Any =
    if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()

  private def statsMapToJson(parent: ObjectNode, stats: Map[String, ColStats]): Unit = {
    val st = parent.putObject("stats")
    stats.foreach { case (c, s) =>
      val so = st.putObject(c)
      s.min.foreach(statValueToJson(so, "min", _))
      s.max.foreach(statValueToJson(so, "max", _))
      so.put("nulls", s.nullCount)
    }
  }

  private def statsMapFromJson(stNode: JsonNode): Map[String, ColStats] = {
    val stats = Map.newBuilder[String, ColStats]
    if (stNode != null) stNode.fieldNames().forEachRemaining { c =>
      val so = stNode.get(c)
      stats += c -> ColStats(
        Option(so.get("min")).map(statValueFromJson),
        Option(so.get("max")).map(statValueFromJson),
        so.get("nulls").asLong())
    }
    stats.result()
  }

  private def eqDeletesToJson(root: ObjectNode, eqs: Seq[EqualityDelete]): Unit =
    if (eqs.nonEmpty) {
      val eq = root.putArray("equality_deletes")
      eqs.foreach { e =>
        val o = eq.addObject()
        val ca = o.putArray("cols"); e.cols.foreach(ca.add)
        val fa = o.putArray("files"); e.files.foreach(fa.add)
        o.put("seq", e.seq)
        if (e.stats.nonEmpty) statsMapToJson(o, e.stats)
      }
    }

  private def eqDeletesFromJson(root: JsonNode): Seq[EqualityDelete] = {
    val out = Seq.newBuilder[EqualityDelete]
    Option(root.get("equality_deletes")).foreach(_.forEach { o =>
      val cols = Seq.newBuilder[String]
      o.get("cols").forEach(n => cols += n.asText())
      val fls = Seq.newBuilder[String]
      o.get("files").forEach(n => fls += n.asText())
      out += EqualityDelete(cols.result(), fls.result(),
        Option(o.get("seq")).map(_.asLong()).getOrElse(Long.MaxValue),
        statsMapFromJson(o.get("stats")))
    })
    out.result()
  }

  // ------------------------------------------------------------ manifest

  def manifestToJson(files: Seq[DataFile], deletePredicates: Seq[String] = Nil,
      positionDeleteFiles: Seq[String] = Nil,
      equalityDeletes: Seq[EqualityDelete] = Nil): String = {
    val root = mapper.createObjectNode()
    if (deletePredicates.nonEmpty) {
      val dp = root.putArray("delete_predicates")
      deletePredicates.foreach(dp.add)
    }
    if (positionDeleteFiles.nonEmpty) {
      val pd = root.putArray("position_delete_files")
      positionDeleteFiles.foreach(pd.add)
    }
    eqDeletesToJson(root, equalityDeletes)
    val arr = root.putArray("files")
    files.foreach { f =>
      val o = arr.addObject()
      o.put("path", f.path)
      o.put("spec_id", f.specId)
      val pv = o.putObject("partition")
      f.partitionValues.foreach { case (k, v) => pv.put(k, v) }
      o.put("record_count", f.recordCount)
      o.put("size_bytes", f.sizeBytes)
      if (f.seq != 0) o.put("seq", f.seq)
      if (!f.trustedBounds) o.put("trusted_bounds", false)
      f.firstRowId.foreach(o.put("first_row_id", _))
      if (f.fileFormat != "parquet") o.put("file_format", f.fileFormat)
      val st = o.putObject("stats")
      f.stats.foreach { case (c, s) =>
        val so = st.putObject(c)
        s.min.foreach(statValueToJson(so, "min", _))
        s.max.foreach(statValueToJson(so, "max", _))
        so.put("nulls", s.nullCount)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def manifestFromJson(json: String): Seq[DataFile] =
    manifestData(json).files

  /** Files + merge-on-read delete predicates (predicate deletes only;
    * prefer [[manifestData]] which also carries position deletes).
    */
  def manifestFromJsonFull(json: String): (Seq[DataFile], Seq[String]) = {
    val d = manifestData(json); (d.files, d.deletePredicates)
  }

  /** Full manifest payload: data files + both merge-on-read delete kinds. */
  def manifestData(json: String): ManifestData = {
    val root = mapper.readTree(json)
    val deletes = Seq.newBuilder[String]
    Option(root.get("delete_predicates")).foreach(_.forEach(n => deletes += n.asText()))
    val posDeletes = Seq.newBuilder[String]
    Option(root.get("position_delete_files")).foreach(_.forEach(n => posDeletes += n.asText()))
    val out = Seq.newBuilder[DataFile]
    root.get("files").forEach { o =>
      val pv = Map.newBuilder[String, String]
      val pvNode = o.get("partition")
      pvNode.fieldNames().forEachRemaining(k => pv += k -> pvNode.get(k).asText())
      out += DataFile(o.get("path").asText(), o.get("spec_id").asInt(),
        pv.result(), o.get("record_count").asLong(), o.get("size_bytes").asLong(),
        statsMapFromJson(o.get("stats")),
        Option(o.get("seq")).map(_.asLong()).getOrElse(0L),
        Option(o.get("trusted_bounds")).forall(_.asBoolean()),
        Option(o.get("first_row_id")).map(_.asLong()),
        Option(o.get("file_format")).map(_.asText()).getOrElse("parquet"))
    }
    ManifestData(out.result(), deletes.result(), posDeletes.result(),
      eqDeletesFromJson(root))
  }

  // ------------------------------------------------------- manifest list

  /** Snapshot manifest LIST (r6, the Iceberg manifest-list shape): child
    * manifest references with aggregated stats summaries, plus the
    * snapshot-level merge-on-read delete payloads (small). Child
    * manifests hold only data-file entries and are IMMUTABLE once
    * written — commits reuse a parent's children untouched and add one
    * new child for the delta, so commit metadata cost is O(changed
    * files), not O(table).
    */
  def manifestListToJson(entries: Seq[ManifestEntry],
      deletePredicates: Seq[String] = Nil,
      positionDeleteFiles: Seq[String] = Nil,
      equalityDeletes: Seq[EqualityDelete] = Nil): String = {
    val root = mapper.createObjectNode()
    root.put("manifest_list", true)
    if (deletePredicates.nonEmpty) {
      val dp = root.putArray("delete_predicates")
      deletePredicates.foreach(dp.add)
    }
    if (positionDeleteFiles.nonEmpty) {
      val pd = root.putArray("position_delete_files")
      positionDeleteFiles.foreach(pd.add)
    }
    eqDeletesToJson(root, equalityDeletes)
    val arr = root.putArray("manifests")
    entries.foreach { e =>
      val o = arr.addObject()
      o.put("name", e.name)
      o.put("file_count", e.fileCount)
      o.put("record_count", e.recordCount)
      if (e.specId >= 0 && e.partitionTuples.nonEmpty) {
        o.put("spec_id", e.specId)
        val pa = o.putArray("partitions")
        e.partitionTuples.foreach { t =>
          val to = pa.addObject()
          t.foreach { case (k, v) => to.put(k, v) }
        }
      }
      val st = o.putObject("stats")
      e.stats.foreach { case (c, s) =>
        val so = st.putObject(c)
        s.min.foreach(statValueToJson(so, "min", _))
        s.max.foreach(statValueToJson(so, "max", _))
        so.put("nulls", s.nullCount)
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Parse a manifest-list json; None if `json` is a legacy inline
    * manifest (pre-r6 tables keep reading).
    */
  def manifestListParts(json: String): Option[(Seq[ManifestEntry], Seq[String],
      Seq[String], Seq[EqualityDelete])] = {
    val root = mapper.readTree(json)
    if (!root.has("manifest_list")) None
    else {
      val deletes = Seq.newBuilder[String]
      Option(root.get("delete_predicates")).foreach(_.forEach(n => deletes += n.asText()))
      val posDeletes = Seq.newBuilder[String]
      Option(root.get("position_delete_files")).foreach(_.forEach(n => posDeletes += n.asText()))
      val entries = Seq.newBuilder[ManifestEntry]
      Option(root.get("manifests")).foreach(_.forEach { o =>
        val tuples = Seq.newBuilder[Map[String, String]]
        Option(o.get("partitions")).foreach(_.forEach { to =>
          val t = Map.newBuilder[String, String]
          to.fieldNames().forEachRemaining(k => t += k -> to.get(k).asText())
          tuples += t.result()
        })
        entries += ManifestEntry(o.get("name").asText(), o.get("file_count").asLong(),
          o.get("record_count").asLong(), statsMapFromJson(o.get("stats")),
          Option(o.get("spec_id")).map(_.asInt()).getOrElse(-1), tuples.result())
      })
      Some((entries.result(), deletes.result(), posDeletes.result(),
        eqDeletesFromJson(root)))
    }
  }

  // Child manifests are immutable once written (unique names), so their
  // parsed file lists are safe to cache process-wide: repeated planning
  // and the commit path's reuse check skip the JSON re-parse. Bounded LRU.
  private val childCache =
    new java.util.LinkedHashMap[(String, String), Seq[DataFile]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), Seq[DataFile]]): Boolean =
        size() > 512
    }

  private[tables] def cachePut(location: String, name: String, files: Seq[DataFile]): Unit =
    childCache.synchronized { childCache.put((location, name), files); () }

  /** Data-file entries of one child manifest (or a legacy inline
    * manifest), through the process-wide cache.
    */
  def loadChildFiles(conf: Configuration, location: String, name: String): Seq[DataFile] = {
    val key = (location, name)
    val hit = childCache.synchronized(childCache.get(key))
    if (hit != null) hit
    else {
      val files = manifestData(readString(conf, s"${metadataDir(location)}/$name")).files
      childCache.synchronized { childCache.put(key, files); () }
      files
    }
  }

  /** Full logical manifest payload of a snapshot, whichever physical
    * format it was written in (r6 manifest list, or legacy inline).
    */
  def loadManifestData(conf: Configuration, location: String, name: String): ManifestData = {
    val json = readString(conf, s"${metadataDir(location)}/$name")
    manifestListParts(json) match {
      case Some((entries, dp, pdf, eq)) =>
        ManifestData(entries.flatMap(e => loadChildFiles(conf, location, e.name)),
          dp, pdf, eq)
      case None => manifestData(json)
    }
  }

  /** Manifest-list entries + snapshot-level delete payloads of a
    * snapshot, WITHOUT loading any child manifest — the planner's entry
    * point. Legacy inline manifests synthesize one entry covering the
    * whole file list.
    */
  def loadManifestListData(conf: Configuration, location: String, snap: Snapshot):
      (Seq[ManifestEntry], Seq[String], Seq[String], Seq[EqualityDelete]) = {
    val json = readString(conf, s"${metadataDir(location)}/${snap.manifest}")
    manifestListParts(json).getOrElse {
      val d = manifestData(json)
      cachePut(location, snap.manifest, d.files)
      val entries =
        if (d.files.isEmpty) Nil
        else Seq(ManifestStats.entryFor(snap.manifest, d.files))
      (entries, d.deletePredicates, d.positionDeleteFiles, d.equalityDeletes)
    }
  }

  /** Manifest-list entries of a snapshot (see [[loadManifestListData]]). */
  def loadManifestEntries(conf: Configuration, location: String,
      snap: Snapshot): Seq[ManifestEntry] =
    loadManifestListData(conf, location, snap)._1

  // ----------------------------------------------------------- stats file

  /** Serialize a Puffin-style column-stats payload: the snapshot it
    * describes, the sketch size k, and per-PHYSICAL-column sorted KMV
    * buffers (sign-flipped min-hashes — see [[graft.functions.KMinValues]]).
    */
  def statsFileToJson(payload: StatsPayload): String = {
    val root = mapper.createObjectNode()
    root.put("snapshot_id", payload.snapshotId)
    root.put("k", payload.k)
    val sk = root.putObject("sketches")
    payload.sketches.foreach { case (c, arr) =>
      val a = sk.putArray(c)
      arr.foreach(a.add)
    }
    if (payload.histograms.nonEmpty) {
      val hs = root.putObject("histograms")
      payload.histograms.foreach { case (c, h) =>
        val ho = hs.putObject(c)
        ho.put("height", h.height)
        val ba = ho.putArray("bins")
        h.bins.foreach { b =>
          val bo = ba.addArray(); bo.add(b.lo); bo.add(b.hi); bo.add(b.ndv); ()
        }
      }
    }
    mapper.writeValueAsString(root)
  }

  def statsFileFromJson(json: String): StatsPayload = {
    val root = mapper.readTree(json)
    val sketches = Map.newBuilder[String, Array[Long]]
    val sk = root.get("sketches")
    sk.fieldNames().forEachRemaining { c =>
      val a = sk.get(c)
      val arr = new Array[Long](a.size())
      var i = 0
      a.forEach { n => arr(i) = n.asLong(); i += 1 }
      sketches += c -> arr
    }
    val hists = Map.newBuilder[String, ColHistogram]
    val hs = root.get("histograms")
    if (hs != null) hs.fieldNames().forEachRemaining { c =>
      val ho = hs.get(c)
      val bins = Seq.newBuilder[HistBin]
      ho.get("bins").forEach { bo =>
        bins += HistBin(bo.get(0).asDouble(), bo.get(1).asDouble(), bo.get(2).asLong())
      }
      hists += c -> ColHistogram(ho.get("height").asDouble(), bins.result())
    }
    StatsPayload(root.get("snapshot_id").asLong(), root.get("k").asInt(),
      sketches.result(), hists.result())
  }

  // stats files are immutable once written (unique names): cache parses
  private val statsCache =
    new java.util.LinkedHashMap[(String, String), StatsPayload](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), StatsPayload]): Boolean =
        size() > 32
    }

  def loadStatsFile(conf: Configuration, location: String,
      name: String): StatsPayload = {
    val key = (location, name)
    val hit = statsCache.synchronized(statsCache.get(key))
    if (hit != null) hit
    else {
      val parsed = statsFileFromJson(readString(conf, s"${metadataDir(location)}/$name"))
      statsCache.synchronized { statsCache.put(key, parsed); () }
      parsed
    }
  }

  def newStatsName(snapId: Long): String =
    s"stats-$snapId-${java.util.UUID.randomUUID.toString.take(8)}.json"

  // -------------------------------------------------- partition stats file

  def partitionStatsToJson(p: PartitionStatsPayload): String = {
    val root = mapper.createObjectNode()
    root.put("snapshot_id", p.snapshotId)
    val arr = root.putArray("partitions")
    p.entries.foreach { e =>
      val o = arr.addObject()
      o.put("spec_id", e.specId)
      o.put("partition", e.partition)
      o.put("data_file_count", e.dataFileCount)
      o.put("data_record_count", e.dataRecordCount)
      o.put("total_size_bytes", e.totalSizeBytes)
    }
    mapper.writeValueAsString(root)
  }

  def partitionStatsFromJson(json: String): PartitionStatsPayload = {
    val root = mapper.readTree(json)
    val entries = Seq.newBuilder[PartitionStatEntry]
    root.get("partitions").forEach { o =>
      entries += PartitionStatEntry(o.get("spec_id").asInt(),
        o.get("partition").asText(), o.get("data_file_count").asLong(),
        o.get("data_record_count").asLong(), o.get("total_size_bytes").asLong())
    }
    PartitionStatsPayload(root.get("snapshot_id").asLong(), entries.result())
  }

  def loadPartitionStatsFile(conf: Configuration, location: String,
      name: String): PartitionStatsPayload =
    partitionStatsFromJson(readString(conf, s"${metadataDir(location)}/$name"))

  def newPartitionStatsName(snapId: Long): String =
    s"partition-stats-$snapId-${java.util.UUID.randomUUID.toString.take(8)}.json"

  // ------------------------------------------------------------ metadata

  def metaToJson(m: TableMeta): String = {
    val root = mapper.createObjectNode()
    root.put("format_version", TableFormat.FormatVersion)
    root.put("location", m.location)
    root.put("version", m.version)
    root.set[ObjectNode]("schema", mapper.readTree(m.schema.json).asInstanceOf[ObjectNode])
    val specs = root.putArray("partition_specs")
    m.specs.foreach { s =>
      val so = specs.addObject()
      so.put("spec_id", s.specId)
      val fa = so.putArray("fields")
      s.fields.foreach { f =>
        val fo = fa.addObject()
        fo.put("source", f.source); fo.put("transform", f.transform); fo.put("name", f.name)
      }
    }
    root.put("current_spec_id", m.currentSpecId)
    val snaps = root.putArray("snapshots")
    m.snapshots.foreach { s =>
      val so = snaps.addObject()
      so.put("snapshot_id", s.id)
      s.parentId.foreach(so.put("parent_id", _))
      so.put("timestamp_ms", s.timestampMs)
      so.put("operation", s.operation)
      so.put("manifest", s.manifest)
      so.put("added_files", s.addedFiles)
      so.put("total_files", s.totalFiles)
      so.put("total_records", s.totalRecords)
      if (s.schemaId != 0) so.put("schema_id", s.schemaId)
    }
    if (m.schemasHistory.nonEmpty) {
      val sa = root.putArray("schemas")
      m.schemasHistory.foreach { sv =>
        val o = sa.addObject()
        o.put("schema_id", sv.id)
        o.set[ObjectNode]("schema",
          mapper.readTree(sv.schema.json).asInstanceOf[ObjectNode])
      }
      root.put("current_schema_id", m.currentSchemaId)
    }
    m.currentSnapshotId.foreach(root.put("current_snapshot_id", _))
    if (m.refs.nonEmpty) {
      val ro = root.putObject("refs")
      m.refs.foreach { case (name, r) =>
        val o = ro.putObject(name)
        o.put("kind", r.kind); o.put("snapshot_id", r.snapshotId)
      }
    }
    val props = root.putObject("properties")
    m.properties.foreach { case (k, v) => props.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def metaFromJson(json: String): TableMeta = {
    val root = mapper.readTree(json)
    val schema = DataType.fromJson(root.get("schema").toString).asInstanceOf[StructType]
    val specs = Seq.newBuilder[PartitionSpec]
    root.get("partition_specs").forEach { so =>
      val fields = Seq.newBuilder[PartitionField]
      so.get("fields").forEach { fo =>
        fields += PartitionField(fo.get("source").asText(), fo.get("transform").asText(), fo.get("name").asText())
      }
      specs += PartitionSpec(so.get("spec_id").asInt(), fields.result())
    }
    val snaps = Seq.newBuilder[Snapshot]
    root.get("snapshots").forEach { so =>
      snaps += Snapshot(
        so.get("snapshot_id").asLong(),
        Option(so.get("parent_id")).map(_.asLong()),
        so.get("timestamp_ms").asLong(),
        so.get("operation").asText(),
        so.get("manifest").asText(),
        so.get("added_files").asLong(),
        so.get("total_files").asLong(),
        so.get("total_records").asLong(),
        Option(so.get("schema_id")).map(_.asInt()).getOrElse(0))
    }
    val schemasHist = Seq.newBuilder[SchemaVersion]
    Option(root.get("schemas")).foreach(_.forEach { so =>
      schemasHist += SchemaVersion(so.get("schema_id").asInt(),
        DataType.fromJson(so.get("schema").toString).asInstanceOf[StructType])
    })
    val props = Map.newBuilder[String, String]
    val pNode = root.get("properties")
    pNode.fieldNames().forEachRemaining(k => props += k -> pNode.get(k).asText())
    val refs = Map.newBuilder[String, Ref]
    Option(root.get("refs")).foreach { ro =>
      ro.fieldNames().forEachRemaining { name =>
        val o = ro.get(name)
        refs += name -> Ref(o.get("kind").asText(), o.get("snapshot_id").asLong())
      }
    }
    TableMeta(
      root.get("location").asText(),
      root.get("version").asInt(),
      schema, specs.result(), root.get("current_spec_id").asInt(),
      snaps.result(),
      Option(root.get("current_snapshot_id")).map(_.asLong()),
      props.result(),
      refs.result(),
      schemasHist.result(),
      Option(root.get("current_schema_id")).map(_.asInt()).getOrElse(0))
  }

  // ------------------------------------------------------------ versions

  def metadataDir(location: String): String = s"$location/metadata"
  def versionHintPath(location: String): String = s"${metadataDir(location)}/version-hint.text"
  def metadataPath(location: String, v: Int): String = s"${metadataDir(location)}/v$v.metadata.json"
  /** Fresh manifest filename — unique per write ATTEMPT, not just per
    * snapshot id: two racing writers both targeting the same next
    * snapshot would otherwise overwrite each other's manifest before the
    * metadata CAS picks the single winner. (Snapshots carry the chosen
    * name; nothing derives it from the id.)
    */
  def newManifestName(snapId: Long): String =
    s"manifest-$snapId-${java.util.UUID.randomUUID.toString.take(8)}.json"

  /** Replace `path` atomically so readers never observe a truncated
    * file (the advisory hint is overwritten on every commit). Local
    * filesystems rename-with-replace via nio ATOMIC_MOVE; elsewhere fall
    * back to a plain overwrite — readers recover from a torn hint through
    * [[currentVersion]]'s directory-scan fallback either way.
    */
  def writeStringAtomic(conf: Configuration, path: String, content: String): Unit = {
    val p = new Path(path)
    val f = fs(conf, path)
    if (f.getScheme == "file") {
      val target = java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
      java.nio.file.Files.createDirectories(target.getParent)
      java.nio.file.Files.writeString(tmp, content)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else writeString(conf, path, content)
  }

  private val VersionFile = """v(\d+)\.metadata\.json""".r

  /** Largest committed version found by listing the metadata dir — the
    * reader's recovery path when the advisory hint is missing or torn.
    */
  private def scanMaxVersion(conf: Configuration, location: String): Option[Int] = {
    val dir = new Path(metadataDir(location))
    val f = fs(conf, location)
    if (!f.exists(dir)) None
    else {
      val vs = f.listStatus(dir).flatMap(_.getPath.getName match {
        case VersionFile(n) => Some(n.toInt)
        case _ => None
      })
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Latest committed version. The hint file is ADVISORY (its update is
    * not part of the CAS), so probe forward from it: a writer that
    * published vN+1 but crashed — or lost the hint-write race to an older
    * writer — is still visible to every reader. One extra exists() probe
    * when the hint is current; a missing/torn hint falls back to a
    * directory scan.
    */
  def currentVersion(conf: Configuration, location: String): Option[Int] =
    Try(readString(conf, versionHintPath(location)).trim.toInt).toOption
      .orElse(scanMaxVersion(conf, location))
      .map { hinted =>
        var v = hinted
        while (exists(conf, metadataPath(location, v + 1))) v += 1
        v
      }

  // Version metadata files are CAS-published write-once, but a table
  // location CAN be deleted and re-created within one JVM (test fixtures,
  // bench reps), re-using v1.metadata.json with different content — so the
  // cache key carries the file's (mtime, length) identity on top of
  // (location, version), and publishing version 1 (a table created at the
  // location) drops every entry of the location: a re-created table whose
  // files match an old entry's mtime and length must not be served the
  // old table. One stat call replaces the full read + JSON parse
  // on every `.meta` access (r20 profiling: MetaIO.readString on the
  // driver's hot path of every t-family gate). Bounded LRU, same
  // discipline as childCache.
  private val metaCache =
    new java.util.LinkedHashMap[(String, Int, Long, Long), TableMeta](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Long, Long), TableMeta]): Boolean =
        size() > 256
    }

  def loadMeta(conf: Configuration, location: String): TableMeta = {
    val v = currentVersion(conf, location)
      .getOrElse(throw new IllegalStateException(s"not a graft table: $location"))
    val path = metadataPath(location, v)
    val st = scala.util.Try(fs(conf, path).getFileStatus(new Path(path))).toOption
    val key = st.map(s => (location, v, s.getModificationTime, s.getLen))
    val hit = key.flatMap(k => metaCache.synchronized(Option(metaCache.get(k))))
    hit.getOrElse {
      val m = metaFromJson(readString(conf, path))
      key.foreach(k => metaCache.synchronized { metaCache.put(k, m); () })
      m
    }
  }

  private def forgetLocation(location: String): Unit = metaCache.synchronized {
    metaCache.keySet.removeIf(_._1 == location); ()
  }

  def loadManifest(conf: Configuration, location: String, snap: Snapshot): Seq[DataFile] =
    loadManifestData(conf, location, snap.manifest).files

  /** Atomically publish `content` at `path` iff nothing exists there yet —
    * the CAS primitive of the commit protocol (the role a catalog's
    * compare-and-swap plays for the reference's engines). Local
    * filesystems get a true atomic publish: write a temp file, then
    * link(2) it into place — link fails with EEXIST if another writer
    * already published that version. Other filesystems use
    * write-temp-then-rename, which is fail-if-destination-exists on HDFS
    * (the Iceberg HadoopTableOperations contract; object stores would
    * need a real catalog, as Iceberg itself documents).
    */
  def casPublish(conf: Configuration, path: String, content: String): Boolean = {
    val p = new Path(path)
    val f = fs(conf, path)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val won =
      if (f.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(p.toUri.getPath),
            java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      else !f.exists(p) && f.rename(tmp, p)
    f.delete(tmp, false)
    won
  }

  /** Commit vN+1: CAS-publish the metadata file (loses loudly if another
    * writer took the version), then update the advisory hint; when
    * `delete-after-commit.enabled` is set, prune old metadata files down
    * to the `previous-versions-max` retention count (default 100,
    * matching Iceberg). The two properties are distinct (reference
    * README.md "Metadata files"): the count alone never deletes anything.
    */
  /** Test seam for the crash-consistency battery (CrashConsistencySpec):
    * when non-null, invoked with a stage label at the named points of the
    * commit protocol — `data-files-written` (the operation's data/delete
    * files are durable, nothing references them yet), `manifests-written`
    * (manifest + manifest-list durable, version not CAS-published), and
    * `cas-published` (the commit POINT passed, advisory hint not yet
    * updated). A hook that THROWS leaves exactly the on-disk state a
    * writer killed at that point leaves: no catch/finally on the commit
    * path cleans up partial artifacts, which is deliberate — crash debris
    * is remove_orphans' job, never a half-rollback's. Production value is
    * null (one volatile read per commit).
    */
  @volatile var commitFault: String => Unit = null
  def faultPoint(stage: String): Unit = {
    val f = commitFault
    if (f != null) f(stage)
  }

  def commitMeta(conf: Configuration, m: TableMeta): Unit = {
    if (!casPublish(conf, metadataPath(m.location, m.version), metaToJson(m)))
      throw new java.util.ConcurrentModificationException(
        s"commit conflict at ${m.location}: version ${m.version} was " +
          "committed by another writer")
    faultPoint("cas-published")
    if (m.version == 1) forgetLocation(m.location)
    writeStringAtomic(conf, versionHintPath(m.location), m.version.toString)
    CommitBus.signal(m.location)
    if (m.properties.get(TableFormat.DeleteAfterCommit).contains("true")) {
      val keep = m.properties.get(TableFormat.PrevVersionsMax).map(_.toInt).getOrElse(100)
      (1 until m.version - keep).foreach { old =>
        val p = metadataPath(m.location, old)
        if (exists(conf, p)) delete(conf, p)
      }
    }
  }
}
