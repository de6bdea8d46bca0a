package graft.tables

import graft.plans.DeclaredStats
import graft.sources.Pq
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Histogram, HistogramBin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.UUID

/** Snapshot-versioned table over parquet — the Spark-native re-expression
  * of the workshop's Iceberg table-management surface:
  *
  *  - CTAS + in-place migration (reference README.md "Import: CTAS and
  *    in-place")
  *  - snapshots, time travel, rollback, history (README.md "Time travel")
  *  - identity/transform partitioning + partition evolution (README.md
  *    "Partitioning", sql/iceberg_partitioning_examples.sql)
  *  - manifest stats → partition pruning + file skipping (README.md
  *    "Predicate pushdown and file pruning without partitioning")
  *  - copy-on-write DELETE / UPDATE / MERGE / TRUNCATE
  *    (sql/update_iceberg_v2_examples.sql)
  *  - expire_snapshots, metadata retention, compaction, rewrite_manifests
  *    (README.md "Maintenance")
  *
  * Every data movement is a Spark job over DataFrames; the driver only
  * touches manifest JSON (O(#files)) and never row data. Copy-on-write
  * rewrites touch only files that actually contain matching rows.
  * Single-writer-per-table commit protocol (catalog CAS is out of scope).
  */
class GraftTable(val spark: SparkSession, val location: String) {
  // Register the DeclaredStats planner strategy at HANDLE CREATION, not at
  // first read: a streaming query clones the session at start(), and a
  // stream whose first table read happens INSIDE foreachBatch (st11 with
  // no prior table activity in the JVM) would otherwise plan its
  // micro-batch on a clone that lacks the strategy — "No plan for
  // DeclaredStats". Tables are always constructed on the parent session
  // before any stream that uses them starts, so installing here is the
  // reliable pre-clone point. Idempotent and cheap (two list checks).
  DeclaredStats.install(spark)

  private def conf = spark.sparkContext.hadoopConfiguration

  def meta: TableMeta = MetaIO.loadMeta(conf, location)

  def currentFiles(m: TableMeta = meta): Seq[DataFile] =
    m.currentSnapshot.map(s => MetaIO.loadManifest(conf, location, s)).getOrElse(Nil)

  /** Full manifest payload of a snapshot (files + both MOR delete kinds). */
  private def manifestDataOf(s: Snapshot): ManifestData =
    MetaIO.loadManifestData(conf, location, s.manifest)

  private def currentManifest(m: TableMeta = meta): ManifestData =
    m.currentSnapshot.map(manifestDataOf).getOrElse(ManifestData(Nil, Nil, Nil))

  /** Sum of live data-file bytes (the snapshot's maintained file sizes) —
    * an actual upper bound on the table's on-disk footprint: pending
    * merge-on-read deletes only shrink the live rows. O(files) driver
    * metadata, no file opened. This is the size signal for planner
    * statistics: rows × schema.defaultSize undercounts wide string
    * columns (a 20-byte fixed guess) by orders of magnitude.
    */
  def liveDataBytes(m: TableMeta = meta): Long =
    currentFiles(m).map(_.sizeBytes).sum

  /** Active merge-on-read delete predicates of the current snapshot. */
  def currentDeletes(m: TableMeta = meta): Seq[String] =
    currentManifest(m).deletePredicates

  /** Active merge-on-read position-delete files of the current snapshot. */
  def currentPositionDeletes(m: TableMeta = meta): Seq[String] =
    currentManifest(m).positionDeleteFiles

  /** Active merge-on-read equality deletes of the current snapshot. */
  def currentEqualityDeletes(m: TableMeta = meta): Seq[EqualityDelete] =
    currentManifest(m).equalityDeletes

  /** Apply merge-on-read delete predicates to a scan result. */
  private def applyDeletes(df: DataFrame, deletes: Seq[String]): DataFrame =
    deletes.foldLeft(df)((d, p) => d.filter(!coalesce(expr(p), lit(false))))

  /** Position-delete application over a scan of `files`: classic
    * row-per-delete files anti-join on (file_path, pos); deletion-vector
    * files ([[deleteMergeOnReadDV]]) join ONE bitmap row per data file
    * and drop rows via the codegen'd [[graft.functions.BitmapContains]]
    * test — the scan side stays a single streamed pass and the broadcast
    * small side is O(files-with-deletes) rows instead of O(deleted rows).
    * `df` must carry the scan-attached row-meta columns when `posFiles`
    * is non-empty (`ScanPlanner.scan(…, rowMeta = true)` — `_metadata`
    * does not resolve through a default-fill union, so the columns are
    * captured per scan branch, never derived here).
    */
  private def applyPosDeletes(df: DataFrame, files: Seq[DataFile],
      posFiles: Seq[String]): DataFrame =
    if (posFiles.isEmpty || files.isEmpty) df
    else minusPosDeletes(df, posFiles).drop(ScanPlanner.RowMetaFile, ScanPlanner.RowMetaPos)

  /** Subtract position deletes (both kinds) from a frame already carrying
    * `__gp_fp`/`__gp_pos`.
    */
  private def minusPosDeletes(base: DataFrame, posFiles: Seq[String]): DataFrame = {
    val (dv, classic) = posFiles.partition(GraftTable.isDvFile)
    val afterClassic =
      if (classic.isEmpty) base
      else {
        // delete files are write-once (UUID-named commit artifacts): all
        // internal delete-file reads go through Pq.readImmutable so the
        // footer schema is inferred once, not once per table read
        val dels = Pq.readImmutable(spark, classic)
        base.join(dels,
          col(ScanPlanner.RowMetaFile) === dels("file_path") && col(ScanPlanner.RowMetaPos) === dels("pos"),
          "left_anti")
      }
    if (dv.isEmpty) afterClassic
    else {
      val bms = dvBitmaps(dv)
      afterClassic.join(bms, col(ScanPlanner.RowMetaFile) === bms("__gp_dvfp"), "left_outer")
        .filter(!coalesce(
          graft.functions.F.bitmapContains(bms("__gp_dv"), col(ScanPlanner.RowMetaPos)), lit(false)))
        .drop("__gp_dvfp", "__gp_dv")
    }
  }

  /** One (__gp_dvfp, __gp_dv) bitmap row per data file from a set of
    * deletion-vector files. Bitmaps accumulate O(new deletions) per
    * commit; when several DV files carry bits for the same data file they
    * are OR-merged here (decode → one bitmap re-aggregation on the SMALL
    * side) until [[compactDeleteFiles]] folds the table back to the
    * one-DV-per-file invariant.
    */
  private def dvBitmaps(dvFiles: Seq[String]): DataFrame = {
    val raw = Pq.readImmutable(spark, dvFiles)
    if (dvFiles.size == 1)
      raw.select(col("file_path").as("__gp_dvfp"), col("dv").as("__gp_dv"))
    else
      raw.select(col("file_path"),
          explode(graft.functions.F.bitmapPositions(col("dv"))).as("pos"))
        .groupBy(col("file_path"))
        .agg(GraftTable.bitmapAgg(col("pos")).as("__gp_dv"))
        .select(col("file_path").as("__gp_dvfp"), col("__gp_dv"))
  }

  /** Normalized (file_path, pos) rows of a mixed classic/deletion-vector
    * delete-file set (DV bitmaps exploded). The row-shaped view for
    * consumers that need individual deleted positions — CDC replay,
    * touched-file discovery, delete folding; the READ path never calls
    * this (it tests bitmaps in place via [[graft.functions.BitmapContains]]).
    */
  private def posDeleteRows(paths: Seq[String]): DataFrame = {
    val (dv, classic) = paths.partition(GraftTable.isDvFile)
    val parts = Seq(
      if (classic.isEmpty) None
      else Some(Pq.readImmutable(spark, classic).select(col("file_path"), col("pos"))),
      if (dv.isEmpty) None
      else Some(Pq.readImmutable(spark, dv).select(col("file_path"),
        explode(graft.functions.F.bitmapPositions(col("dv"))).as("pos")))).flatten
    parts.reduce(_ unionAll _)
  }

  /** Equality-delete anti-joins, ONE per distinct key-column set: within
    * a read group every listed delete applies to every file (the grouping
    * key in [[readWithMor]] is the applicable-delete SET, sequence rules
    * included), so same-keyed deletes union their key files and anti-join
    * once. A CDC table with hundreds of upsert commits gets a plan of
    * O(key-col sets) joins, not O(commits) — the per-commit fold was the
    * plan-explosion (and AQE plan-string OOM) at 100+ delete files.
    */
  /** Read equality-delete key files. On id-attached tables (foreign
    * Iceberg imports) the read goes by FIELD ID — a foreign delete file
    * written before a rename carries the old column name, which a
    * name-based read cannot see; graft's own eq-delete writes on such
    * tables stamp the same ids. EVERY eq-key consumer must come through
    * here (read path, changelog, materialization) or renamed foreign
    * tables diverge between them. The files name their columns `cols`;
    * the frame names them `as`, `schema`'s names for them.
    */
  private def readEqKeys(cols: Seq[String], files: Seq[String],
      schema: StructType, as: Seq[String]): DataFrame = {
    val fields = as.flatMap(c => schema.fields.find(_.name == c))
    val byId = fields.size == cols.size &&
      fields.forall(_.metadata.contains(ColumnMapping.ParquetFieldIdKey))
    if (byId) spark.read.schema(StructType(fields.map(f =>
      StructField(f.name, f.dataType, nullable = true,
        ColumnMapping.fileMetadata(f))).toArray))
      .parquet(files: _*)
    else {
      val keys = Pq.readImmutable(spark, files)
      val moved = cols.zip(as).filter { case (a, b) => a != b }.toMap
      if (moved.isEmpty) keys else keys.withColumnsRenamed(moved)
    }
  }

  /** `df` joined (`how`) null-safely with the key tuples of equality-delete
    * `files` on key columns `cols`. `names` maps key names as the delete's
    * writer saw them to `schema`'s where a later rename moved them
    * ([[eqNamesAt]]).
    */
  private def joinEqKeys(df: DataFrame, cols: Seq[String], files: Seq[String],
      schema: StructType, how: String,
      names: Map[String, String] = Map.empty): DataFrame = {
    val as = cols.map(c => names.getOrElse(c, c))
    val keys = readEqKeys(cols, files, schema, as)
    df.join(keys, as.map(c => df(c) <=> keys(c)).reduce(_ && _), how)
  }

  private def applyEq(df: DataFrame, eqs: Seq[EqualityDelete],
      schema: StructType, names: Map[String, String] = Map.empty): DataFrame =
    eqs.groupBy(_.cols).toSeq.sortBy(_._1.mkString(","))
      .foldLeft(df) { case (d, (cols, es)) =>
        joinEqKeys(d, cols, es.flatMap(_.files), schema, "left_anti", names)
      }

  /** Equality deletes name their key columns as their writer saw them.
    * Non-add evolution is refused while deletes are pending, so every
    * delete live at snapshot `s` or at its parent was written under `s`'s
    * schema. This maps those names, through the column's physical name,
    * to `m.schema`'s names: a changelog read under the current schema
    * needs it once a key column was renamed after the commit. Only moved
    * names are listed.
    */
  private def eqNamesAt(m: TableMeta, s: Snapshot): Map[String, String] = {
    val now = m.schema.fields.map(f => ColumnMapping.physicalName(f) -> f.name).toMap
    m.schemaAt(s.schemaId).fields.flatMap { f =>
      now.get(ColumnMapping.physicalName(f)).filter(_ != f.name).map(f.name -> _)
    }.toMap
  }

  /** Can equality delete `e` possibly hit rows of data file `f`? False
    * only when some key column's ranges are PROVABLY disjoint — delete
    * key bounds were collected from the delete files' footers at commit
    * ([[eqDeleteStats]]), file bounds come from its manifest entry (keyed
    * physical). NULL keys match null-safely, so a column with NULLs on
    * both sides never prunes. Empty delete stats (pre-r8 metadata) always
    * apply. On a key-clustered table this turns a point-upsert's delete
    * from an anti-join over every older file into one over the files
    * whose key range it intersects.
    */
  private def eqMayHit(m: TableMeta, f: DataFile, e: EqualityDelete,
      names: Map[String, String] = Map.empty): Boolean =
    e.stats.isEmpty || e.cols.forall { c =>
      (e.stats.get(c),
        f.stats.get(ColumnMapping.physicalOf(m.schema, names.getOrElse(c, c)))) match {
        case (Some(ds), Some(fs)) =>
          (ds.nullCount > 0 && fs.nullCount > 0) ||
            ManifestStats.rangesMayOverlap(ds, fs)
        case _ => true
      }
    }

  /** Aggregated key-column bounds of just-written delete files (footer
    * reads over the SMALL side — O(delete files) metadata, no data pass),
    * stored on the [[EqualityDelete]] so reads can skip non-overlapping
    * data files. Delete files carry the keys under their logical names.
    */
  private def eqDeleteStats(delFiles: Seq[String], keyCols: Seq[String],
      m: TableMeta): Map[String, ColStats] = {
    val schema = StructType(
      keyCols.flatMap(c => m.schema.fields.find(_.name == c)).toArray)
    if (schema.isEmpty || delFiles.isEmpty) return Map.empty
    val pseudo = delFiles.map(p =>
      DataFile(p, 0, Map.empty, 0L, 0L, FooterStats.read(conf, p, schema)._2))
    ManifestStats.aggregate(pseudo)
  }

  /** Can position-delete file `pf` reference data file `path`? Checked
    * against the delete file's `file_path` column bounds (footer stats,
    * cached — delete files are immutable). Commit-unique data dirs give
    * each delete a tight lexical path range, so files appended AFTER a
    * delete (new dirs) skip its anti-join entirely. Missing bounds
    * (non-ASCII paths) conservatively apply.
    */
  private def posMayHit(pf: String, path: String): Boolean =
    GraftTable.posDeleteBounds(conf, pf) match {
      case Some((lo, hi)) => lo <= path && path <= hi
      case None => true
    }

  /** Sequence-aware merge-on-read read: files are grouped by which
    * equality deletes apply to them (only deletes with a HIGHER sequence
    * number — the Iceberg v2 rule that lets an upsert commit hide old key
    * versions without hiding the rows it appends — and an intersecting
    * key range), and each eq-group splits once more into files some
    * position-delete can reference vs files none can (path-bounds check)
    * — NOT by the per-file delete-file set, which would fan the plan out
    * to O(files) branches. Each group scans once and anti-joins against
    * only the delete files relevant to it, so rows appended after a
    * position delete (commit-unique dirs, disjoint path ranges) skip its
    * anti-join entirely while the plan stays O(delete structure).
    * Predicate deletes are global.
    */
  private def readWithMor(m: TableMeta, md: ManifestData,
      filterSql: Option[String], ndv: Map[String, Long] = Map.empty,
      hists: Map[String, ColHistogram] = Map.empty,
      eqNames: Map[String, String] = Map.empty): DataFrame = {
    val pruned = filterSql.map(f => ScanPlanner.pruneFiles(m, md.files, f, spark))
      .getOrElse(md.files)
    val scans = pruned.groupBy(f =>
        (md.equalityDeletes.filter(e => f.seq < e.seq && eqMayHit(m, f, e, eqNames)),
          md.positionDeleteFiles.exists(pf => posMayHit(pf, f.path))))
      .toSeq.map { case ((eqs, hasPos), fs) =>
        val pos =
          if (!hasPos) Nil
          else md.positionDeleteFiles.filter(pf => fs.exists(f => posMayHit(pf, f.path)))
        applyEq(applyPosDeletes(
          ScanPlanner.scan(spark, m, fs, filterSql, rowMeta = pos.nonEmpty),
          fs, pos), eqs, m.schema, eqNames)
      }
    val base =
      if (scans.isEmpty) ScanPlanner.scan(spark, m, Nil, filterSql)
      else scans.reduce(_ unionAll _)
    val frame = applyDeletes(base, md.deletePredicates)
    // serve the snapshot's own numbers to the planner: the MoR frame's
    // union/anti-join shape otherwise inflates size estimates past any
    // broadcast threshold, rowCount/NDV enable CBO join reorder, and
    // footer-aggregated min/max/nullCount give CBO filter estimation
    // real ranges — live on EVERY read, no ANALYZE required
    DeclaredStats.attach(frame, pruned.map(_.sizeBytes).sum,
      Some(pruned.map(_.recordCount).sum), plannerColStats(m, pruned, ndv, hists))
  }

  /** Per-column Catalyst [[ColumnStat]]s for the planner, keyed by
    * LOGICAL name: min/max/nullCount aggregated from the planned files'
    * footer stats (the same bounds the scan planner prunes with — sound
    * over-approximations under pending MoR deletes, which only remove
    * rows), NDV from the persisted ANALYZE sketches when live. String
    * bounds are withheld (CBO range estimation is numeric-only, and
    * external files may carry truncated binary bounds); fixed-width
    * columns declare their width so post-filter size estimates stay
    * honest.
    */
  private def plannerColStats(m: TableMeta, files: Seq[DataFile],
      ndv: Map[String, Long],
      hists: Map[String, ColHistogram] = Map.empty): Map[String, ColumnStat] = {
    // zero-row files constrain nothing but would void every column in
    // the stats intersection — and PARTIAL bounds are worse than none:
    // Spark's JoinEstimation falls back to a row-product estimate when
    // one join side has min/max and the other doesn't
    val agg = ManifestStats.aggregate(files.filter(_.recordCount > 0))
    m.schema.fields.iterator.map { f =>
      val s = agg.get(ColumnMapping.physicalOf(m.schema, f.name))
      val (mn, mx) = s.map(cs => GraftTable.catalystBounds(f.dataType, cs))
        .getOrElse((None, None))
      val width = f.dataType match {
        case dt @ (_: NumericType | _: DateType | _: TimestampType |
                   _: TimestampNTZType | _: BooleanType) =>
          Some(dt.defaultSize.toLong)
        case _ => None
      }
      f.name -> ColumnStat(
        distinctCount = ndv.get(f.name).map(BigInt(_)),
        min = mn, max = mx,
        nullCount = s.map(cs => BigInt(cs.nullCount)),
        avgLen = width, maxLen = width,
        histogram = hists.get(f.name).map(h =>
          Histogram(h.height, h.bins.map(b => HistogramBin(b.lo, b.hi, b.ndv)).toArray)))
    }.filter(_._2 != ColumnStat()).toMap
  }

  // ------------------------------------------------------------- reads

  /** Current-snapshot read. A filter plans at TWO metadata levels: the
    * manifest list's aggregated summaries skip whole child manifests
    * without reading them ([[prunedManifestData]]), then per-file stats
    * prune within the survivors (readWithMor) — at ~10⁶ files the first
    * level is what keeps driver-side planning O(list), not O(entries).
    */
  def toDF(filterSql: Option[String] = None): DataFrame = {
    val m = meta
    val md = filterSql match {
      case Some(f) => m.currentSnapshot.map(s => prunedManifestData(m, s, f))
        .getOrElse(ManifestData(Nil, Nil, Nil))
      case None => currentManifest(m)
    }
    readWithMor(m, md, filterSql, statsNdv(m), statsHistograms(m))
  }

  /** Per-column NDV from the persisted ANALYZE sketches, keyed by LOGICAL
    * name, for the planner statistics of current-snapshot reads. Empty
    * when no live stats exist ([[currentStats]] staleness rules).
    */
  private def statsNdv(m: TableMeta): Map[String, Long] =
    currentStats(m).map { sp =>
      m.schema.fields.iterator.flatMap { f =>
        sp.sketches.get(ColumnMapping.physicalOf(m.schema, f.name))
          .map(arr => f.name -> graft.functions.KMinValues.estimate(sp.k, arr))
      }.toMap
    }.getOrElse(Map.empty)

  /** Live equi-height histograms keyed by LOGICAL name (empty unless
    * ANALYZEd with `histogramBins` and no append re-stamp since).
    */
  private def statsHistograms(m: TableMeta): Map[String, ColHistogram] =
    currentStats(m).map { sp =>
      m.schema.fields.iterator.flatMap { f =>
        sp.histograms.get(ColumnMapping.physicalOf(m.schema, f.name))
          .map(f.name -> _)
      }.toMap
    }.getOrElse(Map.empty)

  /** Summary entries as pseudo-files so [[ScanPlanner.pruneFiles]]'s
    * stats AND partition logic prunes MANIFESTS with zero new machinery:
    * an entry with a partition summary expands to one pseudo-file per
    * distinct partition tuple (the manifest survives if ANY tuple may
    * match — exact-set semantics, so numeric-string values never hit a
    * lexical-ordering trap); entries without one keep a single
    * empty-partition pseudo-file, conservatively unprunable by partition
    * checks. Survivors must be deduped by name.
    */
  private def pseudoFiles(m: TableMeta, entries: Seq[ManifestEntry]): Seq[DataFile] =
    entries.flatMap { e =>
      val specId = if (e.specId >= 0) e.specId else m.currentSpecId
      if (e.partitionTuples.isEmpty)
        Seq(DataFile(e.name, specId, Map.empty, e.recordCount, 0L, e.stats))
      else e.partitionTuples.map(pv =>
        DataFile(e.name, specId, pv, e.recordCount, 0L, e.stats))
    }

  /** Manifest payload of snapshot `s` restricted to child manifests whose
    * aggregated stats may satisfy `cond`; only survivors are read.
    */
  private def prunedManifestData(m: TableMeta, s: Snapshot, cond: String): ManifestData = {
    val (entries, dp, pdf, eq) = MetaIO.loadManifestListData(conf, location, s)
    val surviving =
      ScanPlanner.pruneFiles(m, pseudoFiles(m, entries), cond, spark).map(_.path).toSet
    val files = entries.filter(e => surviving.contains(e.name))
      .flatMap(e => MetaIO.loadChildFiles(conf, location, e.name))
    ManifestData(files, dp, pdf, eq)
  }

  /** Fact⋈dim join with RUNTIME file skipping (Iceberg's Spark runtime
    * filtering, reference README.md "Predicate pushdown and file
    * pruning"): the dim side's distinct join keys — bounded and small,
    * it's the broadcast side by definition — become an IN-list predicate
    * that prunes this table's manifests and files via min/max stats
    * BEFORE Spark lists a single fact file. On a table clustered by the
    * join key this turns a full-table scan into reading only the files
    * whose key range intersects the dim keys; static Catalyst pushdown
    * can never do this because the key set exists only at run time.
    * `maxKeys` guards the driver: past it the dim side is no longer
    * "small" and the plain broadcast join without file skipping is the
    * right plan anyway.
    */
  def joinPruned(dim: DataFrame, factCol: String, dimCol: String,
      maxKeys: Int = 100000): DataFrame = {
    val keys = dim.select(dim(dimCol)).distinct().limit(maxKeys + 1).collect()
      .map(_.get(0)).filter(_ != null)
    require(keys.length <= maxKeys,
      s"dim side exceeds $maxKeys distinct keys; use a plain join")
    val fact =
      if (keys.isEmpty) toDF(None).filter(lit(false))
      else toDF(Some(s"$factCol IN (${keys.map(sqlLit).mkString(", ")})"))
    fact.join(broadcast(dim), fact(factCol) === dim(dimCol))
  }

  /** STATS-DRIVEN variant — the ANALYZE consumer: the dim's persisted
    * column NDV ([[columnNdv]], live under ingest since the r8 sketch
    * fold; the metadata row count as the NDV upper bound when the dim
    * was never analyzed) decides the join strategy instead of the fixed
    * `maxKeys` cliff. A small-NDV dim takes the IN-list file-skipping
    * path above; a large or unknown dim skips straight to the plain join
    * Catalyst/AQE will size — no speculative distinct+collect probe
    * burned on the driver, and no hard failure where the DataFrame
    * overload would refuse. This is the flip CBO can't make for us:
    * Spark sees file sizes, not distinct keys.
    */
  def joinPruned(dim: GraftTable, factCol: String, dimCol: String,
      maxKeys: Int): DataFrame = {
    def plain: DataFrame = {
      val d = dim.toDF()
      val fact = toDF(None)
      fact.join(d, fact(factCol) === d(dimCol))
    }
    // A saturated sketch is a (k-1)/U ESTIMATE (rel. error ≈ 1/√(k−2)):
    // a slightly-low estimate near the maxKeys boundary would reach the
    // IN-list overload's hard `require` — the exact failure this variant
    // exists to avoid. 25% headroom (many σ at any reasonable k) keeps
    // estimates away from the cliff; the exact-below-k contract (and
    // fastCount, an exact row total ≥ NDV) needs no margin.
    val fits = dim.columnNdvDetail(dimCol) match {
      case Some((n, exact)) => if (exact) n <= maxKeys else n + n / 4 <= maxKeys
      case None => dim.fastCount().exists(_ <= maxKeys)
    }
    if (!fits) plain
    else
      // belt-and-braces: if the margin still wasn't enough, fall back to
      // the plain join instead of surfacing the probe's hard failure
      try joinPruned(dim.toDF(), factCol, dimCol, maxKeys)
      catch { case _: IllegalArgumentException => plain }
  }
  def joinPruned(dim: GraftTable, factCol: String, dimCol: String): DataFrame =
    joinPruned(dim, factCol, dimCol, 100000)

  private def sqlLit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: java.sql.Date => s"DATE'$d'"
    case t: java.sql.Timestamp => s"TIMESTAMP'$t'"
    case n => n.toString
  }

  /** COUNT(*) from metadata alone (Iceberg's aggregate pushdown): the
    * current snapshot's record total is maintained at commit time, so an
    * unfiltered count is O(1) driver work — no file is listed or opened.
    * Returns None when merge-on-read deletes are pending (their row hits
    * aren't knowable from stats); callers fall back to a scan.
    */
  def fastCount(): Option[Long] = {
    val m = meta
    val md = currentManifest(m)
    if (md.deletePredicates.nonEmpty || md.positionDeleteFiles.nonEmpty ||
        md.equalityDeletes.nonEmpty) None
    else Some(m.currentSnapshot.map(_.totalRecords).getOrElse(0L))
  }

  /** MIN/MAX of a column from manifest stats alone (aggregate pushdown):
    * exact when every live file carries trusted bounds for the column and
    * no merge-on-read delete is pending — min/max can only shrink under
    * deletes, so stats bounds would overshoot. None = fall back to a scan.
    * O(files) driver metadata, zero data IO.
    */
  def fastMinMax(column: String): Option[(Any, Any)] = {
    val m = meta
    val md = currentManifest(m)
    if (md.deletePredicates.nonEmpty || md.positionDeleteFiles.nonEmpty ||
        md.equalityDeletes.nonEmpty) return None
    // only types whose footer stats are exact-or-absent: timestamp bounds
    // may be ceiled under unit conversion (pruning-safe, aggregate-unsafe)
    // and decimal bounds are stored as lossy doubles
    m.schema.find(_.name == column).map(_.dataType) match {
      case Some(_: ByteType | _: ShortType | _: IntegerType | _: LongType |
                _: FloatType | _: DoubleType | _: StringType | _: DateType |
                _: BooleanType) => ()
      case _ => return None
    }
    val phys = ColumnMapping.physicalOf(m.schema, column)
    // zero-row files (empty rewrite residue) carry no stats and no values
    val live = md.files.filter(_.recordCount > 0)
    if (live.isEmpty) return None
    // string bounds from externally-written files may be TRUNCATED
    // (parquet increments the max's last byte: pruning-safe upper bound,
    // not a value present in the data) — refuse unless every live file
    // was written by this engine (untruncated footer stats)
    if (m.schema.find(_.name == column).exists(_.dataType == StringType) &&
        live.exists(!_.trustedBounds)) return None
    val stats = live.map(_.stats.get(phys))
    if (stats.exists(_.isEmpty)) return None
    val ss = stats.flatten
    // a file whose rows are all NULL contributes no bounds; files with
    // partial bounds (untrusted) already surfaced as None above
    val mins = ss.flatMap(_.min)
    val maxs = ss.flatMap(_.max)
    if (mins.size != ss.size || maxs.size != ss.size) return None
    // single stats type only (a widen can mix Long and Double bounds
    // across file generations — fall back to the scan there)
    val ord: Option[Ordering[Any]] =
      if (mins.forall(_.isInstanceOf[Long]) && maxs.forall(_.isInstanceOf[Long]))
        Some(Ordering.by((v: Any) => v.asInstanceOf[Long]))
      else if (mins.forall(_.isInstanceOf[Double]) && maxs.forall(_.isInstanceOf[Double]))
        Some(Ordering.by((v: Any) => v.asInstanceOf[Double]))
      else if (mins.forall(_.isInstanceOf[String]) && maxs.forall(_.isInstanceOf[String]))
        Some(Ordering.by((v: Any) => v.asInstanceOf[String]))
      else None
    ord.map(o => (mins.min(o), maxs.max(o)))
  }

  /** ANALYZE: per-column NDV statistics computed with the KMV sketch
    * ([[graft.functions.KMinValuesSketch]] — one pass, O(k) state, exact
    * below k, NULL-skipping so NDV matches `COUNT(DISTINCT …)`) and
    * PERSISTED as sketch buffers in a snapshot-stamped stats file — the
    * Iceberg Puffin shape (sketch blobs attached to a snapshot). Buffers
    * persist instead of finished numbers because set-union-keep-k makes
    * them mergeable: every [[append]] folds the new rows' sketches in and
    * re-stamps, so [[columnNdv]] stays live under continuous ingest.
    * Sketches are keyed by PHYSICAL column name — renames don't
    * invalidate them. Row-CHANGING commits that aren't appends (CoW
    * rewrites, upserts, overwrites) flip stats to stale (None), never
    * silently wrong; row-preserving maintenance (compaction, clustering,
    * delete-file folding) keeps them valid.
    *
    * Re-analyzing different columns at the same snapshot extends the
    * existing stats file rather than discarding it.
    *
    * `histogramBins > 0` additionally computes an EQUI-HEIGHT histogram
    * per numeric column (Spark's `ANALYZE … FOR COLUMNS` shape with
    * `spark.sql.statistics.histogram.enabled`): one pass for approximate
    * percentile endpoints, one for per-bin NDV — served to CBO as
    * `ColumnStat.histogram`, turning skewed-value selectivities from the
    * uniformity guess into the distribution's own numbers. Histograms
    * don't fold (bin boundaries are data-dependent), so the next append
    * re-stamp DROPS them (NDV stays live) — re-ANALYZE to refresh.
    */
  def analyze(columns: Seq[String], k: Int = 8192,
      histogramBins: Int = 0): GraftTable = {
    require(columns.nonEmpty, "analyze needs columns")
    val m = meta
    columns.foreach(c => require(m.schema.fieldNames.contains(c), s"unknown column $c"))
    val snap = m.currentSnapshotId.getOrElse(
      throw new IllegalStateException("no snapshot to analyze"))
    val physCols = columns.map(c => c -> ColumnMapping.physicalOf(m.schema, c))
    val df = toDF()
    val computed = computeSketches(df, physCols, k)
    val computedHists =
      if (histogramBins <= 0) Map.empty[String, ColHistogram]
      else computeHistograms(df, physCols, histogramBins)
    // additive at the same snapshot (same-k): analyzing B after A keeps A
    val prior = currentStats(m) match {
      case Some(sp) if sp.k == k => sp
      case _ => StatsPayload(snap, k, Map.empty)
    }
    val name = MetaIO.newStatsName(snap)
    MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$name",
      MetaIO.statsFileToJson(StatsPayload(snap, k,
        prior.sketches ++ computed, prior.histograms ++ computedHists)))
    setProperties(Map(TableFormat.StatsSnapshot -> snap.toString,
      TableFormat.StatsFile -> name))
    this
  }

  /** Equi-height histograms for the NUMERIC columns of `cols`, keyed
    * physical. Two distributed passes, no driver-side data:
    * 1. one aggregation for approximate percentile endpoints
    *    (`percentile_approx`, the equi-height bin bounds) + non-null
    *    counts (the bin height);
    * 2. one aggregation of per-interval NDV over ALL columns at once
    *    (Catalyst's own `ApproxCountDistinctForIntervals`, the aggregate
    *    Spark's ANALYZE uses) — skewed values simply occupy several
    *    identical-endpoint bins, which CBO reads as a heavy value.
    */
  private def computeHistograms(df: DataFrame, cols: Seq[(String, String)],
      bins: Int): Map[String, ColHistogram] = {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxCountDistinctForIntervals
    import org.apache.spark.sql.graftbridge.Bridge
    val numeric = cols.filter { case (l, _) =>
      df.schema(l).dataType.isInstanceOf[NumericType] }
    if (numeric.isEmpty) return Map.empty
    val pcts = (0 to bins).map(_.toDouble / bins)
    val aggs1 = numeric.flatMap { case (l, _) => Seq(
      percentile_approx(col(l).cast("double"), typedlit(pcts), lit(10000)),
      count(col(l))) }
    val row1 = df.agg(aggs1.head, aggs1.tail: _*).head()
    val perCol = numeric.zipWithIndex.flatMap { case ((l, phys), i) =>
      val eps = if (row1.isNullAt(2 * i)) Nil else row1.getSeq[Double](2 * i)
      val nonNull = row1.getLong(2 * i + 1)
      if (eps.isEmpty || nonNull == 0L) None
      else Some((l, phys, eps, nonNull))
    }
    if (perCol.isEmpty) return Map.empty
    val aggs2 = perCol.map { case (l, _, eps, _) =>
      Bridge.column(ApproxCountDistinctForIntervals(
        Bridge.expression(col(l).cast("double")),
        CreateArray(eps.map(Literal(_))), 0.05).toAggregateExpression()) }
    val row2 = df.agg(aggs2.head, aggs2.tail: _*).head()
    perCol.zipWithIndex.map { case ((_, phys, eps, nonNull), i) =>
      val ndvs = row2.getSeq[Long](i)
      phys -> ColHistogram(nonNull.toDouble / bins,
        eps.sliding(2).zip(ndvs.iterator).map {
          case (Seq(lo, hi), ndv) => HistBin(lo, hi, ndv) }.toSeq)
    }.toMap
  }

  /** One aggregation pass computing the NULL-skipping KMV buffer of each
    * `(logical, physical)` column over `df`; result keyed physical.
    */
  private def computeSketches(df: DataFrame, cols: Seq[(String, String)],
      k: Int): Map[String, Array[Long]] = {
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.functions.KMinValuesSketch(k), org.apache.spark.sql.Encoders.LONG)
    // NULL must be skipped BEFORE hashing: xxhash64 maps NULL to the
    // unchanged seed, which would count as one phantom distinct value
    val aggs = cols.map { case (logical, _) =>
      kmv(when(col(logical).isNotNull, xxhash64(col(logical)))).as(logical) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case ((_, phys), i) =>
      phys -> row.getSeq[Long](i).toArray }.toMap
  }

  /** Set-union-keep-k merge of two sorted sketch buffers (associative,
    * commutative; exact below k because the union of distinct-hash sets
    * IS the distinct-hash set of the union).
    */
  private def mergeSketch(a: Array[Long], b: Array[Long], k: Int): Array[Long] =
    (a ++ b).distinct.sorted.take(k)

  /** The live stats payload, or None when none exist or the table's rows
    * have changed since they were computed. Validity walks the snapshot
    * chain: the stamped snapshot must be reachable from the current one
    * through ROW-PRESERVING commits only (compaction/clustering
    * 'replace', delete-file maintenance 'rewrite-deletes') — appends
    * re-stamp atomically in their own commit, so an unreachable stamp
    * means rows changed under the stats.
    */
  private def currentStats(m: TableMeta): Option[StatsPayload] = {
    def reachable(statsSnap: Long): Boolean = {
      val rowPreserving = Set("replace", "rewrite-deletes")
      var cur = m.currentSnapshotId
      while (cur.isDefined) {
        if (cur.get == statsSnap) return true
        val s = m.snapshot(cur.get)
        if (s.isEmpty || !rowPreserving.contains(s.get.operation)) return false
        cur = s.get.parentId
      }
      false
    }
    for {
      snapStr <- m.properties.get(TableFormat.StatsSnapshot)
      file <- m.properties.get(TableFormat.StatsFile)
      if reachable(snapStr.toLong)
      // resilient to a swept stats file (advisory data, never an error)
      stats <- scala.util.Try(MetaIO.loadStatsFile(conf, location, file)).toOption
    } yield stats
  }

  /** NDV of an analyzed column — exact below the sketch's k (the
    * `COUNT(DISTINCT)` contract, NULLs excluded), the (k-1)/U estimate
    * past it — or None when no stats exist, the column wasn't analyzed,
    * or a non-append row change made them stale. Appends keep stats live
    * (the fold in [[appendWithRetry]]); renames don't invalidate
    * (physical keying).
    */
  def columnNdv(column: String): Option[Long] =
    columnNdvDetail(column).map(_._1)

  /** [[columnNdv]] plus whether the value is EXACT (sketch unsaturated —
    * the buffer IS the distinct hash set) or the (k-1)/U estimate.
    * Consumers near a hard threshold ([[joinPruned]]) apply a safety
    * margin only on the estimate side.
    */
  def columnNdvDetail(column: String): Option[(Long, Boolean)] = {
    val m = meta
    for {
      sp <- currentStats(m)
      arr <- sp.sketches.get(ColumnMapping.physicalOf(m.schema, column))
    } yield (graft.functions.KMinValues.estimate(sp.k, arr), arr.length < sp.k)
  }

  /** The live equi-height histogram of an ANALYZEd numeric column, or
    * None when none was computed, rows changed since, or an append
    * re-stamp dropped it (histograms don't fold — see [[analyze]]).
    */
  def columnHistogram(column: String): Option[ColHistogram] = {
    val m = meta
    currentStats(m).flatMap(
      _.histograms.get(ColumnMapping.physicalOf(m.schema, column)))
  }

  /** Files surviving manifest pruning for a filter (the workshop's
    * "files=N of M scanned" observability).
    */
  def plannedFiles(filterSql: String): Seq[DataFile] = {
    val m = meta
    ScanPlanner.pruneFiles(m, currentFiles(m), filterSql, spark)
  }

  /** (surviving, total) CHILD-MANIFEST counts for a predicate — the
    * pruning observability one metadata level above [[plannedFiles]].
    */
  def plannedManifests(filterSql: String): (Int, Int) = {
    val m = meta
    m.currentSnapshot.map { s =>
      val entries = MetaIO.loadManifestEntries(conf, location, s)
      (ScanPlanner.pruneFiles(m, pseudoFiles(m, entries), filterSql, spark)
        .map(_.path).distinct.size, entries.size)
    }.getOrElse((0, 0))
  }

  /** Time travel to a snapshot id (reference `FOR SYSTEM_TIME AS OF`).
    * Reads under the SNAPSHOT's schema (Iceberg semantics: each snapshot
    * records its schema id) — after a rename/drop/widen, historical reads
    * still show the names and types their writers saw.
    */
  def asOf(snapshotId: Long): DataFrame = {
    val m = meta
    val snap = m.snapshot(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    readWithMor(m.copy(schema = m.schemaAt(snap.schemaId)),
      manifestDataOf(snap), None)
  }

  /** Incremental read (CDC-style changelog): rows added between two
    * snapshots = contents of data files present in `to` but not in
    * `from`. Append-only consumers tail a table with one manifest diff
    * per poll — no data is re-read, no row-level diffing. (Copy-on-write
    * rewrites re-add their surviving rows; consume between append
    * snapshots for exact-once semantics.)
    */
  def addedBetween(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = meta
    def files(id: Long): Seq[DataFile] = m.snapshot(id)
      .map(s => MetaIO.loadManifest(conf, location, s))
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $id"))
    val before = files(fromSnapshotId).map(_.path).toSet
    val added = files(toSnapshotId).filterNot(f => before.contains(f.path))
    ScanPlanner.scan(spark, m, added, None)
  }
  /** Row-level changelog (CDC) between two snapshots on the same ancestry
    * chain: each commit contributes its rows tagged `_change_type`
    * 'insert' (append/merge-inserted files) or 'delete' (rows hit by a
    * merge-on-read predicate or position delete in that commit). Appends
    * are a manifest diff (no data re-read beyond the added files); MOR
    * deletes re-derive exactly the deleted rows from the parent snapshot.
    * Copy-on-write rewrite commits (delete/update/merge/replace) don't
    * retain enough metadata for row-level diffs — consumers of those
    * should read between append/MOR snapshots, matching Iceberg's
    * changelog-scan restriction.
    */
  def changesBetween(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = meta
    val parts = ancestryChain(m, fromSnapshotId, toSnapshotId)
      .map(s => commitChanges(m, s))
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(m.schema.fields :+ StructField("_change_type", StringType)))
    else parts.reduce(_ unionAll _)
  }

  /** The QUERYABLE changelog frame backing `CALL
    * system.create_changelog_view` (Iceberg's changelog view columns):
    * every commit in `(from, to]` under the CURRENT schema, each row
    * tagged `_change_type` plus `_change_ordinal` — the commit's
    * 0-based position in the range; metadata-only commits (rename,
    * property set) keep their ordinal and simply contribute no rows —
    * and `_commit_snapshot_id`. Planning is O(range commits) metadata;
    * the data read is each commit's own diff (added files for appends,
    * removed-vs-added multiset diff for CoW), never a base-table scan.
    */
  def changelogView(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = meta
    val parts = ancestryChain(m, fromSnapshotId, toSnapshotId).zipWithIndex
      .map { case (s, i) =>
        commitChanges(m, s)
          // bound, not literal: a literal long lands in the generated
          // Java source, so every range would compile its own classes
          .withColumn("_change_ordinal", graft.functions.F.boundLong(i.toLong))
          .withColumn("_commit_snapshot_id", graft.functions.F.boundLong(s.id))
      }
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(m.schema.fields ++ Seq(
          StructField("_change_type", StringType),
          StructField("_change_ordinal", LongType),
          StructField("_commit_snapshot_id", LongType))))
    else parts.reduce(_ unionAll _)
  }

  /** The commits in `(from, to]` in commit order; requires ancestry. */
  private def ancestryChain(m: TableMeta, fromSnapshotId: Long,
      toSnapshotId: Long): List[Snapshot] = {
    var chain = List.empty[Snapshot]
    var cur = m.snapshot(toSnapshotId)
    while (cur.isDefined && cur.get.id != fromSnapshotId) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(m.snapshot)
    }
    require(cur.isDefined, s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId")
    chain
  }

  /** RANGE changelog under SNAPSHOT SCHEMAS — the range extension of
    * [[changesOf]]'s `underSnapshotSchema` mode: each commit in
    * `(from, to]` as its OWN frame under the schema its writer saw, in
    * commit order. A CDC consumer replaying a long range across a
    * rename gets each period's rows in period-correct column names
    * (never the current names applied retroactively); per-commit
    * schemas can't union into one frame, so the consumer remaps each
    * frame itself — [[SchemaDiff.diff]](frame schema, current schema)
    * is the op batch that brings it forward. With
    * `underSnapshotSchema = false` every frame uses the current schema
    * (then `.reduce(unionAll)` reproduces [[changesBetween]]).
    */
  def changesBetweenBySnapshot(fromSnapshotId: Long, toSnapshotId: Long,
      underSnapshotSchema: Boolean = false): Seq[(Snapshot, DataFrame)] = {
    val m0 = meta
    ancestryChain(m0, fromSnapshotId, toSnapshotId).map { s =>
      val m = if (underSnapshotSchema) m0.copy(schema = m0.schemaAt(s.schemaId))
              else m0
      (s, commitChanges(m, s))
    }
  }

  /** ONE commit's row-level changes under ITS OWN snapshot schema when
    * `underSnapshotSchema` (the stretch half of Iceberg's changelog
    * semantics): after a rename-then-append chain, each commit's rows
    * surface with the names and types their writer saw — what an auditor
    * replaying history wants, where a live consumer wants
    * [[changesBetween]]'s current-schema view (per-commit schemas can't
    * union into one frame).
    */
  def changesOf(snapshotId: Long, underSnapshotSchema: Boolean = false): DataFrame = {
    val m0 = meta
    val snap = m0.snapshot(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    val m = if (underSnapshotSchema) m0.copy(schema = m0.schemaAt(snap.schemaId)) else m0
    commitChanges(m, snap)
  }

  /** The per-commit changelog kernel shared by [[changesBetween]] (current
    * schema) and [[changesOf]] (optionally the snapshot's schema): all
    * reads and the output projection go through `m.schema`.
    */
  private def commitChanges(m: TableMeta, s: Snapshot): DataFrame = {
    def tagged(df: DataFrame, kind: String): DataFrame =
      df.select(m.schema.fieldNames.map(col) :+ lit(kind).as("_change_type"): _*)
    val eqNames = eqNamesAt(m, s)
    def readMor(md: ManifestData): DataFrame = readWithMor(m, md, None, eqNames = eqNames)
    locally {
      val md = manifestDataOf(s)
      val parentMd = s.parentId.flatMap(m.snapshot).map(manifestDataOf)
        .getOrElse(ManifestData(Nil, Nil, Nil))
      s.operation match {
        case "append" =>
          val before = parentMd.files.map(_.path).toSet
          val added = md.files.filterNot(f => before.contains(f.path))
          tagged(ScanPlanner.scan(spark, m, added, None), "insert")
        case "delete-mor" =>
          val newPreds = md.deletePredicates.diff(parentMd.deletePredicates)
          val hit = newPreds.map(p => coalesce(expr(p), lit(false))).reduce(_ || _)
          tagged(readMor(parentMd).filter(hit), "delete")
        case "delete-mor-pos" =>
          val newPos = md.positionDeleteFiles.diff(parentMd.positionDeleteFiles)
          val dels = posDeleteRows(newPos)
          val base = ScanPlanner.scan(spark, m, parentMd.files, None,
            rowMeta = true)
          tagged(base.join(dels,
            col(ScanPlanner.RowMetaFile) === dels("file_path") && col(ScanPlanner.RowMetaPos) === dels("pos"),
            "left_semi").drop(ScanPlanner.RowMetaFile, ScanPlanner.RowMetaPos), "delete")
        case "delete-mor-eq" | "upsert-mor" =>
          val newEq = md.equalityDeletes.diff(parentMd.equalityDeletes)
          val live = readMor(parentMd)
          val deletes = newEq.map(e => tagged(joinEqKeys(live, e.cols, e.files,
            m.schema, "left_semi", eqNames), "delete"))
          val before = parentMd.files.map(_.path).toSet
          val added = md.files.filterNot(f => before.contains(f.path))
          val inserts =
            if (added.isEmpty) Nil
            else Seq(tagged(ScanPlanner.scan(spark, m, added, None), "insert"))
          (deletes ++ inserts).reduce(_ unionAll _)
        // Row-preserving maintenance (delete materialization, compaction,
        // clustering, manifest rewrites) changes files, not rows: the
        // changelog skips them, like Iceberg's changelog scan skips
        // replace snapshots — a consumer must survive maintenance running
        // between its polls.
        case "rewrite-deletes" | "replace" =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            StructType(m.schema.fields :+ StructField("_change_type", StringType)))
        // Copy-on-write commits don't retain row-level lineage, but they
        // only rewrite TOUCHED files — so the row-level diff is
        // recoverable by comparing just the removed file set against the
        // added one (a multiset diff; rows a rewrite copied unchanged
        // cancel out). Cost is O(rewritten files), not O(table).
        case "delete" | "update" | "merge" | "overwrite" | "truncate" | "rollback" =>
          val parentPaths = parentMd.files.map(_.path).toSet
          val curPaths = md.files.map(_.path).toSet
          val removed = parentMd.files.filterNot(f => curPaths.contains(f.path))
          val added = md.files.filterNot(f => parentPaths.contains(f.path))
          // Each side reads through ITS OWN manifest's MOR deletes, so the
          // physical file diff is the logical row diff without requiring
          // the commit to have physically materialized pending deletes
          // first (overwrite/truncate no longer pay a thrown-away rewrite;
          // rollback targets keep their delete files live). CoW mutations
          // still materialize before operating, so for them the delete set
          // is empty and this degrades to a plain scan. A side with no
          // files diffs against nothing: the other side IS the changelog,
          // read without a shuffle (whole-file deletes, truncate, an
          // overwrite of an empty table).
          def readSide(fs: Seq[DataFile], side: ManifestData): DataFrame =
            readMor(side.copy(files = fs))
          if (added.isEmpty) tagged(readSide(removed, parentMd), "delete")
          else if (removed.isEmpty) tagged(readSide(added, md), "insert")
          else GraftTable.netDiff(readSide(removed, parentMd), readSide(added, md))
        case other => throw new UnsupportedOperationException(
          s"changelog across '$other' commit (snapshot ${s.id}): no row-level " +
            "lineage recovery for this operation")
      }
    }
  }

  /** Row-level diff between ANY two retained snapshots, ancestry or not:
    * multiset diff over the file sets that differ (shared files
    * cancel without being read). This is the reconciliation read a
    * changelog consumer needs after a rollback moved the head off its
    * last-delivered branch — `changesBetween` is cheaper when `from` IS
    * an ancestor because unchanged files never enter the diff.
    */
  def diffSnapshots(fromSnapshotId: Long, toSnapshotId: Long): DataFrame = {
    val m = meta
    def md(id: Long): ManifestData = m.snapshot(id).map(manifestDataOf)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $id (expired?)"))
    val fromMd = md(fromSnapshotId)
    val toMd = md(toSnapshotId)
    val fromPaths = fromMd.files.map(_.path).toSet
    val toPaths = toMd.files.map(_.path).toSet
    def readOrEmpty(fs: Seq[DataFile]): DataFrame =
      if (fs.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
      else ScanPlanner.scan(spark, m, fs, None)
    // Fast path: identical MOR delete state on both endpoints means the
    // logical diff IS the raw diff of the differing files. When delete
    // sets differ (e.g. a rollback across a delete-mor commit — files
    // unchanged, logical rows not), fall back to the full logical diff
    // with each side's deletes applied; reconciliation across maintenance
    // boundaries is rare enough to pay O(both snapshots) for.
    val sameDeletes = fromMd.deletePredicates == toMd.deletePredicates &&
      fromMd.positionDeleteFiles == toMd.positionDeleteFiles &&
      fromMd.equalityDeletes == toMd.equalityDeletes
    val (before, after) =
      if (sameDeletes)
        (readOrEmpty(fromMd.files.filterNot(f => toPaths.contains(f.path))),
          readOrEmpty(toMd.files.filterNot(f => fromPaths.contains(f.path))))
      else
        (readWithMor(m, fromMd, None), readWithMor(m, toMd, None))
    GraftTable.netDiff(before, after)
  }

  def asOfTimestamp(timestampMs: Long): DataFrame = {
    val m = meta
    val snap = m.snapshots.filter(_.timestampMs <= timestampMs)
      .sortBy(_.timestampMs).lastOption
      .getOrElse(throw new IllegalArgumentException(s"no snapshot at or before $timestampMs"))
    asOf(snap.id)
  }

  // ---------------------------------------------------- metadata tables

  /** `.history` metadata table (reference README.md snapshot table:
    * made_current_at / snapshot_id / parent_id / is_current_ancestor).
    */
  def history: DataFrame = {
    import spark.implicits._
    val m = meta
    val anc = m.currentAncestors
    m.snapshots.map(s =>
        (new java.sql.Timestamp(s.timestampMs), s.id, s.parentId, anc.contains(s.id)))
      .toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** `.refs` metadata table (Iceberg's refs inspection): every named
    * branch/tag plus the implicit `main` head.
    */
  def refsDf: DataFrame = {
    import spark.implicits._
    val m = meta
    (m.currentSnapshotId.map(id => ("main", "branch", id)).toSeq ++
      m.refs.toSeq.sortBy(_._1).map { case (n, r) => (n, r.kind, r.snapshotId) })
      .toDF("name", "type", "snapshot_id")
  }

  /** `.snapshots` metadata table. */
  def snapshotsDf: DataFrame = {
    import spark.implicits._
    meta.snapshots.map(s => (s.id, new java.sql.Timestamp(s.timestampMs), s.operation,
        s.addedFiles, s.totalFiles, s.totalRecords))
      .toDF("snapshot_id", "committed_at", "operation", "added_files", "total_files", "total_records")
  }

  /** `.files` metadata table. */
  def filesDf: DataFrame = {
    import spark.implicits._
    currentFiles().map(f => (f.path, f.specId,
        f.partitionValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"),
        f.recordCount, f.sizeBytes))
      .toDF("file_path", "spec_id", "partition", "record_count", "size_bytes")
  }

  /** `.partitions` metadata table: one row per live partition of the
    * current snapshot with file and record counts (manifest-only — no
    * data scan).
    */
  /** Canonical partition rendering of a data file: sorted `k=v/k2=v2`. */
  private def partitionKeyOf(f: DataFile): String =
    f.partitionValues.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/")

  /** Per-partition counters of a file set — the partition-stats payload
    * entries and the `.partitions` rows share this one aggregation.
    */
  private def partitionEntriesOf(files: Seq[DataFile]): Seq[PartitionStatEntry] =
    files.groupBy(f => (f.specId, partitionKeyOf(f))).toSeq
      .map { case ((specId, part), fs) =>
        PartitionStatEntry(specId, part, fs.size.toLong,
          fs.map(_.recordCount).sum, fs.map(_.sizeBytes).sum) }
      .sortBy(e => (e.specId, e.partition))

  /** Persist partition statistics for the CURRENT snapshot (Iceberg's
    * partition statistics file): per-(spec, partition) data-file, record
    * and byte counters, computed from manifests (metadata-only — no data
    * IO) and stamped. From then on [[append]] FOLDS its own files'
    * totals in — O(appended files), never a manifest rescan — and
    * re-stamps atomically in the same commit, so [[partitionsDf]] serves
    * from the payload in O(partitions) with zero manifest IO at any file
    * count. Any other commit kind leaves the stamp behind (file counts /
    * bytes move under rewrites even when rows don't): consumers fall
    * back to the live computation — degrade, never lie.
    */
  def computePartitionStats(): GraftTable = {
    val m = meta
    val snap = m.currentSnapshotId.getOrElse(
      throw new IllegalStateException("no snapshot to analyze"))
    val name = MetaIO.newPartitionStatsName(snap)
    MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$name",
      MetaIO.partitionStatsToJson(
        PartitionStatsPayload(snap, partitionEntriesOf(currentFiles(m)))))
    setProperties(Map(TableFormat.PartStatsSnapshot -> snap.toString,
      TableFormat.PartStatsFile -> name))
    this
  }

  /** The live partition-stats payload, or None when none were computed
    * or the DATA-FILE SET moved since. Appends re-stamp atomically;
    * merge-on-read delete commits leave `md.files` untouched (the
    * counters are `data_*` semantics — live data files, pre-delete, same
    * as the manifest computation), so the validity walk crosses them:
    * the stamp must be reachable from the current snapshot through
    * file-set-preserving commits only. Anything else (rewrite,
    * overwrite, compaction with new files) falls back to live compute.
    */
  def partitionStats: Option[PartitionStatsPayload] = partitionStats(meta)

  private def partitionStats(m: TableMeta): Option[PartitionStatsPayload] = {
    def reachable(statsSnap: Long): Boolean = {
      val filePreserving = Set("delete-mor", "delete-mor-pos", "delete-mor-eq")
      var cur = m.currentSnapshotId
      while (cur.isDefined) {
        if (cur.get == statsSnap) return true
        val s = m.snapshot(cur.get)
        val preserves = s.exists(x => filePreserving.contains(x.operation) ||
          // delete-file compaction folds delete files, data files untouched
          (x.operation == "rewrite-deletes" && x.addedFiles == 0))
        if (!preserves) return false
        cur = s.get.parentId
      }
      false
    }
    for {
      snapStr <- m.properties.get(TableFormat.PartStatsSnapshot)
      file <- m.properties.get(TableFormat.PartStatsFile)
      if reachable(snapStr.toLong)
      // resilient to a swept stats file (advisory data, never an error)
      stats <- scala.util.Try(MetaIO.loadPartitionStatsFile(conf, location, file)).toOption
    } yield stats
  }

  /** Re-derive partition stats after a maintenance rewrite when a live
    * payload existed before it: the rewrite already did O(files) work, so
    * the recompute is noise, and `.partitions` stays on the O(partitions)
    * serving path through compaction/clustering instead of silently
    * degrading to manifest scans until someone re-computes.
    */
  private def refreshPartitionStatsIfLive(hadLive: Boolean): Unit =
    if (hadLive) { computePartitionStats(); () }

  def partitionsDf: DataFrame = {
    import spark.implicits._
    val entries = partitionStats
      .map(_.entries) // O(partitions), zero manifest IO
      .getOrElse(partitionEntriesOf(currentFiles()))
    entries
      .map(e => (e.partition, e.specId, e.dataFileCount, e.dataRecordCount))
      .sortBy(r => (r._2, r._1))
      .toDF("partition", "spec_id", "file_count", "record_count")
  }

  /** `.manifests` metadata table (reference README.md:301-338 walks the
    * manifest chain): one row per content group of the CURRENT snapshot's
    * manifest — data files, position-delete files, equality-delete files —
    * with file and record counts. Record counts for delete files come from
    * parquet footers (O(#files) metadata reads, no data scan).
    */
  def manifestsDf: DataFrame = {
    import spark.implicits._
    val m = meta
    val rows = m.currentSnapshotId.flatMap(m.snapshot).toSeq.flatMap { s =>
      val md = manifestDataOf(s)
      def footerRows(paths: Seq[String]): Long =
        paths.map(p => FooterStats.read(conf, p,
          org.apache.spark.sql.types.StructType(Nil))._1).sum
      val data = Seq(("data", s.manifest, md.files.size.toLong,
        md.files.map(_.recordCount).sum))
      val pos =
        if (md.positionDeleteFiles.isEmpty) Nil
        else Seq(("position-deletes", s.manifest, md.positionDeleteFiles.size.toLong,
          footerRows(md.positionDeleteFiles)))
      val eq =
        if (md.equalityDeletes.isEmpty) Nil
        else Seq(("equality-deletes", s.manifest,
          md.equalityDeletes.flatMap(_.files).size.toLong,
          footerRows(md.equalityDeletes.flatMap(_.files))))
      data ++ pos ++ eq
    }
    rows.toDF("content", "manifest", "file_count", "record_count")
  }

  /** `.metadata_log_entries` metadata table (reference README.md
    * "Metadata files" aws-s3-ls walkthrough): one row per metadata
    * version file still on disk, with the snapshot that version pointed
    * at — the observable surface of `previous-versions-max` +
    * `delete-after-commit` retention.
    */
  def metadataLogDf: DataFrame = {
    import spark.implicits._
    val m = meta
    val rows = (1 to m.version).flatMap { v =>
      val p = MetaIO.metadataPath(location, v)
      if (!MetaIO.exists(conf, p)) Nil
      else {
        val pm = MetaIO.metaFromJson(MetaIO.readString(conf, p))
        Seq((v, s"v$v.metadata.json", pm.currentSnapshotId))
      }
    }
    rows.toDF("version", "file", "latest_snapshot_id")
  }

  // ------------------------------------------------------------ commits

  private def nextSnapshotId(m: TableMeta): Long =
    (m.snapshots.map(_.id) :+ 0L).max + 1

  /** Build the manifest LIST for a commit whose full file set is `files`,
    * reusing every parent child manifest whose entries are ALL retained
    * unchanged (path + content identity) and writing ONE new child for
    * the delta — so an append's metadata write is O(new files) and a
    * rewrite's is O(touched files), never O(table). The reuse check reads
    * parent children through the process-wide cache (the operation that
    * computed `files` usually just loaded them).
    */
  private def buildManifestList(m: TableMeta, parent: Option[Snapshot],
      files: Seq[DataFile], snapId: Long): (String, Seq[ManifestEntry]) = {
    val byPath = files.map(f => f.path -> f).toMap
    val reused = Seq.newBuilder[ManifestEntry]
    val covered = scala.collection.mutable.Set[String]()
    parent.toSeq.flatMap(p => MetaIO.loadManifestEntries(conf, location, p))
      .foreach { e =>
        val fs = MetaIO.loadChildFiles(conf, location, e.name)
        if (fs.nonEmpty && fs.forall(f => byPath.get(f.path).contains(f)) &&
            fs.forall(f => !covered.contains(f.path))) {
          reused += e
          covered ++= fs.map(_.path)
        }
      }
    val rest = files.filterNot(f => covered.contains(f.path))
    val fresh =
      if (rest.isEmpty) Nil
      else {
        val name = MetaIO.newManifestName(snapId)
        MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$name",
          MetaIO.manifestToJson(rest))
        MetaIO.cachePut(location, name, rest)
        Seq(ManifestStats.entryFor(name, rest))
      }
    val listName = s"manifest-list-$snapId-${UUID.randomUUID().toString.take(8)}.json"
    (listName, reused.result() ++ fresh)
  }

  private def commitSnapshot(m: TableMeta, files: Seq[DataFile], op: String,
      added: Long, parentOverride: Option[Long] = None,
      deletePredicates: Seq[String] = Nil,
      positionDeleteFiles: Seq[String] = Nil,
      equalityDeletes: Seq[EqualityDelete] = Nil,
      extraProperties: Map[String, String] = Map.empty): TableMeta = {
    // optimistic concurrency: fail fast when a commit landed after this
    // operation read its base metadata (the CAS in commitMeta is the
    // authoritative check; this avoids writing manifests we'd discard)
    MetaIO.currentVersion(conf, location).foreach { v =>
      if (v != m.version)
        throw new java.util.ConcurrentModificationException(
          s"commit conflict at $location: base version ${m.version}, current $v")
    }
    // crash seam: the operation's data/delete files are durable on disk,
    // nothing references them yet (see MetaIO.commitFault)
    MetaIO.faultPoint("data-files-written")
    val snapId = nextSnapshotId(m)
    val parentId = parentOverride.orElse(m.currentSnapshotId)
    val (listName, entries) =
      buildManifestList(m, parentId.flatMap(m.snapshot), files, snapId)
    MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$listName",
      MetaIO.manifestListToJson(entries, deletePredicates, positionDeleteFiles,
        equalityDeletes))
    // crash seam: manifest + manifest-list durable, version not published
    MetaIO.faultPoint("manifests-written")
    val snap = Snapshot(snapId, parentId,
      System.currentTimeMillis(), op,
      listName, added, files.size, files.map(_.recordCount).sum,
      schemaId = m.currentSchemaId)
    val next = m.copy(version = m.version + 1, snapshots = m.snapshots :+ snap,
      currentSnapshotId = Some(snapId),
      properties = m.properties ++ extraProperties)
    publish(next)
    next
  }

  private def commitMetadataOnly(next: TableMeta): TableMeta = {
    publish(next)
    next
  }

  // ---------------------------------------------------- row lineage (v3)

  /** Scan of `files` with merge-on-read deletes applied, carrying the
    * MATERIALIZED lineage columns ([[RowLineage.MatRowId]]/MatSeq):
    * explicit values read from rewritten files win; everything else
    * inherits `file first_row_id + row position` / `file data sequence
    * number` through a broadcast O(files) join. This frame is both the
    * read surface (renamed to the public `_row_id` columns) and the
    * rewrite source lineage-preserving rewrites write back.
    */
  private def lineageScan(m: TableMeta, md: ManifestData,
      files: Seq[DataFile]): DataFrame = {
    import spark.implicits._
    val ids = RowLineage.assign(conf, m).fileFirstRowId
    val extMeta = m.copy(schema = StructType(m.schema.fields :+
      StructField(RowLineage.MatRowId, LongType) :+
      StructField(RowLineage.MatSeq, LongType)))
    val scans = files.groupBy(f =>
        (md.equalityDeletes.filter(e => f.seq < e.seq && eqMayHit(m, f, e)),
          md.positionDeleteFiles.exists(pf => posMayHit(pf, f.path))))
      .toSeq.map { case ((eqs, hasPos), fs) =>
        val pos =
          if (!hasPos) Nil
          else md.positionDeleteFiles.filter(pf => fs.exists(f => posMayHit(pf, f.path)))
        val scan = ScanPlanner.scan(spark, extMeta, fs, None, rowMeta = true)
        applyEq(if (pos.isEmpty) scan else minusPosDeletes(scan, pos),
          eqs, m.schema)
      }
    val base =
      if (scans.isEmpty) ScanPlanner.scan(spark, extMeta, Nil, None, rowMeta = true)
      else scans.reduce(_ unionByName _)
    // files a predicate-delete-carrying commit added have no assigned id
    // (the v3 export omits those snapshots the same way) — their rows
    // serve NULL lineage rather than invented numbers
    val info = files.map(f => (f.path, ids.get(f.path), f.seq))
      .toDF("__gp_lin_fp", "__gp_lin_first", "__gp_lin_seq")
    val joined = base.join(broadcast(info),
      regexp_replace(col(ScanPlanner.RowMetaFile), "^file:/+", "/") ===
        regexp_replace(col("__gp_lin_fp"), "^file:/+", "/"),
      "left_outer")
    // rows with NO lineage at all (unassigned file, no rider) pin the
    // −1 sentinel: a rewrite stores it, and a later read must NOT let a
    // null rider inherit from the rewritten file's fresh range — that
    // would invent ids for rows whose honest answer is NULL
    applyDeletes(joined, md.deletePredicates)
      .withColumn(RowLineage.MatRowId,
        coalesce(col(RowLineage.MatRowId),
          col("__gp_lin_first") + col(ScanPlanner.RowMetaPos),
          lit(RowLineage.NoLineage)))
      .withColumn(RowLineage.MatSeq,
        coalesce(col(RowLineage.MatSeq), col("__gp_lin_seq")))
      .drop(ScanPlanner.RowMetaFile, ScanPlanner.RowMetaPos,
        "__gp_lin_fp", "__gp_lin_first", "__gp_lin_seq")
  }

  /** The v3 row-lineage read surface: the table's rows plus `_row_id`
    * and `_last_updated_sequence_number` (Iceberg v3 metadata columns).
    * Ids match what the v3 binary export writes for the same table —
    * [[RowLineage.assign]] shares the export's assignment walk, and
    * rewritten files carry materialized ids when
    * [[TableFormat.RowLineagePreserve]] is set.
    */
  def lineageDF(): DataFrame = {
    val m = meta
    val md = currentManifest(m)
    requireAllParquet(md, "row lineage")
    publicLineage(lineageScan(m, md, md.files))
  }

  /** Position-anchored features (position/DV deletes, row lineage) ride
    * the file source's `_metadata.row_index`, which only the parquet
    * scan attaches — the Avro path decodes whole containers through an
    * RDD and has no per-row file position, and failing HERE names the
    * actual constraint instead of surfacing an unresolvable `_metadata`
    * mid-plan. Predicate/equality deletes and CoW mutations work on any
    * format; a compaction migrates foreign files to parquet and lifts
    * the restriction.
    */
  private def requireAllParquet(md: ManifestData, feature: String): Unit = {
    val foreign = md.files.filter(_.fileFormat != "parquet")
    require(foreign.isEmpty,
      s"$feature need per-row file positions, which only the parquet scan " +
        s"attaches; this table holds ${foreign.size} " +
        s"${foreign.map(_.fileFormat).distinct.mkString("/")} file(s) " +
        "(registered via add_files) — compact() to migrate them to parquet, " +
        "or use predicate/equality deletes")
  }

  /** Rename the rider columns to the public names and map the no-lineage
    * sentinel back to NULL (the sentinel exists only so rewrites can
    * STORE "no lineage" — see [[RowLineage.NoLineage]]).
    */
  private def publicLineage(df: DataFrame): DataFrame = df
    .withColumn(RowLineage.RowIdCol,
      when(col(RowLineage.MatRowId) === RowLineage.NoLineage,
        lit(null).cast(LongType)).otherwise(col(RowLineage.MatRowId)))
    .drop(RowLineage.MatRowId)
    .withColumnRenamed(RowLineage.MatSeq, RowLineage.SeqCol)

  /** Time-traveled lineage: `_row_id` columns over an older snapshot's
    * rows. Ids are STABLE across the two surfaces by construction — the
    * assignment walk covers every snapshot, and a file keeps its range
    * in every snapshot that carries it — so a consumer can diff row
    * identity between two snapshots directly.
    */
  def lineageAsOf(snapshotId: Long): DataFrame = {
    val m = meta
    val snap = m.snapshot(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    val md = manifestDataOf(snap)
    publicLineage(lineageScan(m.copy(schema = m.schemaAt(snap.schemaId)), md, md.files))
  }

  private def lineagePreserving(m: TableMeta): Boolean =
    m.properties.get(TableFormat.RowLineagePreserve).contains("true")

  /** Property rider for lineage-materializing rewrite commits: the
    * permanent marker the v3 export refuses on (rider columns are not
    * representable as inherited id ranges).
    */
  private def lineageMarker(m: TableMeta): Map[String, String] =
    if (lineagePreserving(m)) Map(TableFormat.RowLineageMaterialized -> "true")
    else Map.empty

  /** Catalog-mediated commits (Iceberg REST catalog,
    * `graft.catalog.RestCatalogClient.table`): when set, commits of this
    * handle are PROPOSED to the delegate instead of CAS-publishing the
    * version file directly — the catalog becomes the single commit
    * arbiter (reference interoperability.md:5, the "register a catalog"
    * integration leg). The delegate throws
    * `ConcurrentModificationException` on conflict, which the existing
    * append rebase-and-retry loop handles unchanged.
    */
  @volatile private[graft] var commitDelegate: Option[TableMeta => Unit] = None

  private def publish(next: TableMeta): Unit = commitDelegate match {
    case Some(d) => d(next)
    case None    => MetaIO.commitMeta(conf, next)
  }

  // -------------------------------------------------------- write path

  /** Write `df` as new data files under a fresh commit dir, partitioned by
    * the current spec, and build manifest entries with per-column min/max
    * stats (one parallel stats pass over just the new files).
    */
  private def writeDataFiles(df: DataFrame, m: TableMeta,
      distributionOverride: Option[String] = None): Seq[DataFile] = {
    val commitDir = s"$location/data/${UUID.randomUUID().toString.take(8)}"
    val spec = m.currentSpec
    val gpCols = spec.fields.map(f => TableFormat.PartColPrefix + f.name)
    // write-default (the second half of the Iceberg v3 default model —
    // graft uses one value for both roles): a writer may omit a DEFAULTED
    // column entirely and every written row carries the default. This
    // fill is REQUIRED for coherence, not convenience: the written file
    // postdates the add boundary, so a read would see its missing column
    // as raw null, never the initial-default fill. Missing non-defaulted
    // columns keep today's behavior.
    // presence test matches the session resolver (spark.sql.caseSensitive
    // defaults to false): a frame carrying TIER must count as providing
    // tier, or the fill below would silently overwrite the user's values
    val dfFilled = m.schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.exists(_.equalsIgnoreCase(f.name))) d
      else ColumnDefaults.of(f) match {
        case Some((v, _)) => d.withColumn(f.name, lit(v).cast(f.dataType))
        case None         => d
      }
    }
    // files carry PHYSICAL names (schema evolution: renames never rewrite
    // data); partition transforms run after the projection — spec sources
    // are physical too. Materialized row-lineage riders (__gp_row_id /
    // __gp_last_seq, present only on lineage-preserving rewrites) survive
    // the projection: they're appended to the projection schema unmapped.
    val lineageCols = Seq(RowLineage.MatRowId, RowLineage.MatSeq)
      .filter(dfFilled.columns.contains)
    val physDf =
      if (lineageCols.isEmpty) ColumnMapping.toPhysical(m.schema, dfFilled)
      else ColumnMapping.toPhysical(StructType(m.schema.fields ++
        lineageCols.map(c => StructField(c, LongType))), dfFilled)
    val physSchema = ColumnMapping.physicalSchema(m.schema)
    val out = spec.fields.foldLeft(physDf) { (d, f) =>
      d.withColumn(TableFormat.PartColPrefix + f.name,
        GraftTransforms.transformColumn(f, physSchema).cast("string"))
    }
    // write-time sort order (Iceberg SortOrder): declared in LOGICAL
    // names, applied physical. Skipped when the caller pinned its own
    // layout (cluster/z-order/hilbert rewrites pass an explicit override).
    val sortCols =
      if (distributionOverride.isDefined) Nil
      else m.properties.get(TableFormat.SortOrder)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        .map(c => ColumnMapping.physicalOf(m.schema, c))
    // write distribution (Iceberg's write.distribution-mode): partitioned
    // writes default to hash-by-partition-values so each task writes one
    // partition's file instead of every task writing a sliver of every
    // partition (the small-file explosion at 1000 executors); a declared
    // sort order defaults an UNPARTITIONED write to range distribution
    // (disjoint per-file key ranges — the pruning this order exists for);
    // `none` preserves the incoming layout (caller range-sorted).
    val mode = distributionOverride.getOrElse(
      m.properties.getOrElse("write.distribution-mode",
        if (gpCols.nonEmpty) "hash" else if (sortCols.nonEmpty) "range" else "none"))
    val distributed = mode match {
      case "hash" if gpCols.nonEmpty => out.repartition(gpCols.map(col): _*)
      case "hash" => out.repartition()
      case "range" if sortCols.nonEmpty =>
        out.repartitionByRange(sortCols.map(col): _*)
      case _ => out
    }
    // local sort to the declared order (within partition dirs when
    // partitioned): every file gets tight min/max on the sort keys
    val laidOut =
      if (sortCols.isEmpty) distributed
      else distributed.sortWithinPartitions((gpCols ++ sortCols).map(col): _*)
    // point-lookup pruning beyond min/max: the `write.bloom-columns`
    // property turns on parquet's NATIVE per-row-group bloom filters for
    // the listed columns (the scale-correct home for blooms — sized by the
    // writer, read back automatically by the parquet reader for `=` and
    // IN predicates; manifests stay O(min/max))
    val bloomCols = m.properties.get(TableFormat.BloomColumns)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val writer = bloomCols.foldLeft(laidOut.write) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    // INT64-micros timestamps (not INT96): footer min/max stats for
    // timestamp columns are only usable in this encoding. Target file
    // size (Iceberg write.target-file-size-bytes) rides AQE's advisory
    // partition size for this write's shuffle. Session confs are
    // restored — other writers in the session keep their own settings.
    val target = m.properties.get(TableFormat.TargetFileSize)
    val writeConfs = Map(
      "spark.sql.parquet.outputTimestampType" -> Some("TIMESTAMP_MICROS"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> target,
      // parallelismFirst coalesces by minPartitionSize (1MB default) and
      // IGNORES the advisory size — a declared file-size target must win
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
        target.map(_ => "false"),
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> target
    ).collect { case (k, Some(v)) => k -> v }
      // drop no-op sets (the session already carries the value — true for
      // outputTimestampType, a GraftSession default): a write that mutates
      // NOTHING is safe to run concurrently with other session actions
      .filter { case (k, v) => !spark.conf.getOption(k).contains(v) }
    val prevConfs = writeConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    writeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      if (gpCols.isEmpty) writer.parquet(commitDir)
      else writer.partitionBy(gpCols: _*).parquet(commitDir)
    } finally prevConfs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // stamp the data sequence number of the commit these files land in
    // (single-writer: the caller commits against the same base meta)
    collectFileEntries(commitDir, m, spec.specId).map(_.copy(seq = nextSnapshotId(m)))
  }

  /** Build DataFile entries (stats + partition values) for every parquet
    * file under `dir`. Also used by in-place migration.
    *
    * Stats come from the parquet FOOTERS (per-row-group min/max/null
    * counts the writer already produced) — an O(files) metadata read, not
    * a second O(data) scan, and the reads run CONCURRENTLY (bounded
    * thread pool): commit latency is O(files / parallelism), not a serial
    * driver loop that stalls a 100k-file commit. At cluster scale each
    * write task would emit its own file's entry (Iceberg's model); this
    * is the single-node equivalent with identical results. Unmappable or
    * untrusted stats (INT96 timestamps, non-ASCII binary bounds, unset
    * null counts) are dropped per column — pruning is conservative by
    * construction.
    */
  private[tables] def collectFileEntries(dir: String, m: TableMeta, specId: Int,
      format: String = "parquet"): Seq[DataFile] = {
    import scala.collection.parallel.CollectionConverters._
    val exts: Seq[String] = format match {
      case "parquet" => Seq(".parquet", ".parq")
      case "orc"     => Seq(".orc")
      case "avro"    => Seq(".avro")
      case other => throw new IllegalArgumentException(
        s"unsupported data file format '$other' (parquet, orc, avro)")
    }
    val fsys = MetaIO.fs(conf, dir)
    val it = fsys.listFiles(new Path(dir), true)
    val sizes = scala.collection.mutable.LinkedHashMap[String, Long]()
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toString
      if (exts.exists(p.endsWith)) sizes(stripScheme(p)) = st.getLen
    }
    if (sizes.isEmpty) return Nil
    val par = sizes.toSeq.par
    par.tasksupport = GraftTable.footerPool
    // footers are keyed by what the files contain: physical names
    val physSchema = ColumnMapping.physicalSchema(m.schema)
    par.map { case (path, size) =>
      val (rows, stats) = format match {
        case "parquet" => FooterStats.read(conf, path, physSchema)
        case "orc"     => ExternalFooters.orcStats(conf, path, physSchema)
        // Avro containers carry no column stats — partition-only pruning
        case "avro" =>
          (ExternalFooters.avroRowCount(conf, path), Map.empty[String, ColStats])
      }
      DataFile(path, specId, partitionValuesFromPath(path), rows, size, stats,
        fileFormat = format)
    }.seq
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new Path(p).toUri.getPath else p

  private def partitionValuesFromPath(path: String): Map[String, String] =
    path.split('/').filter(_.startsWith(TableFormat.PartColPrefix)).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) =>
          Some(k.stripPrefix(TableFormat.PartColPrefix) -> unescapePathName(v))
        case _ => None
      }
    }.toMap

  /** Invert Hive path escaping (%XX) so stored partition values compare
    * equal to unescaped filter literals (':', '%', '=', '#', … would
    * otherwise break equality pruning and silently drop files). Delegates
    * to the exact inverse of the escaping Spark applied on write.
    */
  private def unescapePathName(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  // --------------------------------------------------------------- DML

  /** Merge-on-read DELETE WHERE (the Iceberg v2 shape behind reference
    * sql/update_iceberg_v2_examples.sql): no data file is touched — the
    * predicate is recorded in the snapshot manifest and applied at read
    * time. O(metadata) commit regardless of table size; the rewrite cost
    * is deferred to [[materializeDeletes]] (or absorbed by the next
    * mutating operation).
    */
  def deleteMergeOnRead(cond: String): GraftTable = {
    val m = meta
    val md = currentManifest(m)
    commitSnapshot(m, md.files, "delete-mor", 0,
      deletePredicates = md.deletePredicates :+ cond,
      positionDeleteFiles = md.positionDeleteFiles,
      equalityDeletes = md.equalityDeletes)
    this
  }

  /** Merge-on-read DELETE WHERE as POSITION deletes (Iceberg v2 delete
    * files): matching row positions are written to a small parquet delete
    * file — one scan of candidate files, no data file rewritten — and
    * anti-joined at read time on (_metadata.file_path, _metadata.row_index).
    * Unlike predicate deletes, the read cost is independent of how many
    * delete conditions have accumulated, and rows appended later can never
    * be hit by an old delete.
    */
  def deleteMergeOnReadPositions(cond: String): GraftTable = {
    val m = meta
    val md = currentManifest(m)
    requireAllParquet(md, "position deletes")
    val written = matchingLivePositions(m, md, cond) match {
      case None => Nil
      case Some(posDf) =>
        val delDir = s"$location/deletes/${UUID.randomUUID().toString.take(8)}"
        posDf.write.parquet(delDir)
        val fs = listParquet(delDir)
        // writer knows the schema it just wrote: register it so the first
        // read of these files skips the schema-inference Spark job
        Pq.register(fs, posDf.schema)
        fs
    }
    // nothing matched -> no commit at all (an empty delete-mor-pos
    // snapshot would break changelog consumers reading the file diff)
    if (written.isEmpty) return this
    commitSnapshot(m, md.files, "delete-mor-pos", 0,
      deletePredicates = md.deletePredicates,
      positionDeleteFiles = md.positionDeleteFiles ++ written,
      equalityDeletes = md.equalityDeletes)
    this
  }

  /** Merge-on-read DELETE WHERE as a DELETION VECTOR (the Iceberg v3 /
    * Delta deletion-vector shape): matched row positions are aggregated
    * into ONE compact bitmap row per data file
    * ([[graft.functions.Bitmaps]], dense-or-sparse adaptive encoding)
    * instead of a row per deleted position. Same O(candidate-scan) commit
    * cost as [[deleteMergeOnReadPositions]], but the read side joins
    * O(files-with-deletes) bitmap rows — broadcastable at any delete
    * cardinality — where classic position files put O(deleted rows) on
    * the join's build side. At 100 TB (a billion deleted rows is a few
    * hundred MB of bitmaps vs tens of GB of delete rows) this is the only
    * position-delete shape whose read cost doesn't scale with how much
    * was deleted.
    */
  def deleteMergeOnReadDV(cond: String): GraftTable = {
    val m = meta
    val md = currentManifest(m)
    requireAllParquet(md, "deletion vectors")
    val written = matchingLivePositions(m, md, cond) match {
      case None => Nil
      case Some(posDf) =>
        val delDir = s"$location/deletes/dv-${UUID.randomUUID().toString.take(8)}"
        val dvDf = posDf.groupBy(col("file_path"))
          .agg(GraftTable.bitmapAgg(col("pos")).as("dv"))
        dvDf.write.parquet(delDir)
        val fs = listParquet(delDir)
        Pq.register(fs, dvDf.schema)
        fs
    }
    if (written.isEmpty) return this
    commitSnapshot(m, md.files, "delete-mor-pos", 0,
      deletePredicates = md.deletePredicates,
      positionDeleteFiles = md.positionDeleteFiles ++ written,
      equalityDeletes = md.equalityDeletes)
    this
  }

  /** Live row positions of the current snapshot matching `cond`, as a
    * (file_path, pos) frame — the shared selection behind both
    * position-delete flavors. None when file pruning leaves no candidate.
    */
  private def matchingLivePositions(m: TableMeta, md: ManifestData,
      cond: String): Option[DataFrame] = {
    if (md.files.isEmpty) return None
    val candidates = ScanPlanner.pruneFiles(m, md.files, cond, spark)
    if (candidates.isEmpty) return None
    // capture positions before any join (_metadata resolves only on
    // the file-source side), per seq group so already-hidden rows are
    // not re-recorded (a CDC consumer would double-count) while rows
    // that OUTLIVE an older equality delete still are
    val live = candidates.groupBy(f =>
        (md.equalityDeletes.filter(e => f.seq < e.seq && eqMayHit(m, f, e)),
          md.positionDeleteFiles.exists(pf => posMayHit(pf, f.path))))
      .toSeq.map { case ((eqs, hasPos), fs) =>
        val pos =
          if (!hasPos) Nil
          else md.positionDeleteFiles.filter(pf =>
            fs.exists(f => posMayHit(pf, f.path)))
        val base = ScanPlanner.scan(spark, m, fs, None, rowMeta = true)
        applyEq(minusPosDeletes(base, pos), eqs, m.schema)
      }.reduce(_ unionAll _)
    Some(applyDeletes(live, md.deletePredicates)
      .filter(coalesce(expr(cond), lit(false)))
      .select(col(ScanPlanner.RowMetaFile).as("file_path"), col(ScanPlanner.RowMetaPos).as("pos")))
  }

  /** Key-column projection for an equality-delete file, carrying the
    * schema's parquet field-id metadata when present (id-attached foreign
    * imports) so graft's own delete files stay id-resolvable alongside
    * the table's foreign ones. Identity on graft-native schemas.
    */
  private def keyColsStamped(keyCols: Seq[String],
      schema: StructType): Seq[org.apache.spark.sql.Column] =
    keyCols.map(c => schema.fields.find(_.name == c)
      .map(f => col(c).as(c, ColumnMapping.fileMetadata(f)))
      .getOrElse(col(c)))

  /** Merge-on-read EQUALITY delete (Iceberg v2 equality delete files):
    * rows whose `keyCols` tuple matches any row of `keys` are dropped at
    * read time. O(|keys|) commit — no data file is scanned or rewritten,
    * which is the streaming-upsert shape (a CDC consumer commits the
    * deleted keys of each batch without touching the table).
    */
  def deleteMergeOnReadEquality(keys: DataFrame, keyCols: Seq[String]): GraftTable = {
    require(keyCols.nonEmpty, "equality delete needs key columns")
    val m = meta
    val md = currentManifest(m)
    val delDir = s"$location/deletes/${UUID.randomUUID().toString.take(8)}"
    val keyDf = keys.select(keyColsStamped(keyCols, m.schema): _*).distinct()
    keyDf.write.parquet(delDir)
    val delFiles = listParquet(delDir)
    Pq.register(delFiles, keyDf.schema)
    commitSnapshot(m, md.files, "delete-mor-eq", 0,
      deletePredicates = md.deletePredicates,
      positionDeleteFiles = md.positionDeleteFiles,
      equalityDeletes = md.equalityDeletes :+
        EqualityDelete(keyCols, delFiles, nextSnapshotId(m),
          eqDeleteStats(delFiles, keyCols, m)))
    this
  }

  /** Merge-on-read UPSERT (the streaming-CDC ingestion shape): ONE commit
    * holding an equality delete on the source keys plus the source rows
    * as new files. O(|source|) work — no target file is read or
    * rewritten; sequence numbers scope the delete to files older than
    * this commit, so the appended rows survive their own delete. At 100 TB
    * this is the only upsert whose cost doesn't grow with table size;
    * [[materializeDeletes]]/[[compactDeleteFiles]] amortize the read-side
    * debt on maintenance schedule.
    */
  def upsertMergeOnRead(source: DataFrame, keyCols: Seq[String]): GraftTable =
    // same statement, same loud failure in BOTH write modes: duplicate
    // source keys would corrupt silently here (two surviving rows under
    // one equality delete) where the CoW merge errors. The check is a
    // footer-count comparison over files already written — no extra pass.
    mergeBatchWithRetry(source, None, keyCols, enforceUniqueKeys = true)

  /** The generic CDC batch apply: ONE commit carrying an equality delete on
    * `keyCols` for the upserted keys PLUS `deletedKeys` (rows that vanish
    * without a replacement — the 'D' side of a changelog batch), the
    * upserted rows as new files, and optionally `extraProperties` folded
    * into the same metadata version. The atomic property ride-along is what
    * gives changelog consumers exactly-once apply: their progress cursor
    * (e.g. [[graft.tables.IncrementalAggView]]'s base-snapshot watermark)
    * commits or fails WITH the data, so a crash between "apply" and
    * "advance cursor" cannot happen. O(|batch|) like [[upsertMergeOnRead]].
    */
  def mergeBatch(upserts: DataFrame, deletedKeys: Option[DataFrame],
      keyCols: Seq[String],
      extraProperties: Map[String, String] = Map.empty,
      keysDistinct: Boolean = false): GraftTable =
    mergeBatchWithRetry(upserts, deletedKeys, keyCols, extraProperties,
      keysDistinct = keysDistinct)

  /** [[mergeBatch]] with the maintenance-race rebase: a CDC upsert that
    * loses the version CAS to a ROW-PRESERVING commit (compaction,
    * clustering, delete materialization/folding — ops `replace` /
    * `rewrite-deletes`) re-points its already-written delete-key and data
    * files onto the winner's manifest and retries: the winner changed the
    * table's files, not its rows, so the equality delete selects the same
    * logical rows under a fresh sequence number. Anything that changed
    * ROWS (appends, other upserts, CoW mutations) still refuses loudly —
    * rebasing across those would reorder writes the caller believes are
    * serial. This is what lets a streaming upsert sink and a maintenance
    * schedule share a table (Iceberg's RowDelta retry under the same
    * validation).
    */
  private[tables] def mergeBatchWithRetry(upserts: DataFrame,
      deletedKeys: Option[DataFrame], keyCols: Seq[String],
      extraProperties: Map[String, String] = Map.empty,
      onAttempt: Int => Unit = _ => (),
      enforceUniqueKeys: Boolean = false,
      keysDistinct: Boolean = false): GraftTable = {
    require(keyCols.nonEmpty, "upsert needs key columns")
    // predicate deletes apply globally at read time — a carried-forward
    // predicate would silently drop upserted rows it matches, violating the
    // append()/appendToBranch invariant that new rows are never hit by
    // older merge-on-read predicates. Materialize them first.
    if (currentManifest().deletePredicates.nonEmpty) { materializeDeletes(); () }
    var m = meta
    val delDir = s"$location/deletes/${UUID.randomUUID().toString.take(8)}"
    val upsertKeys = upserts.select(keyColsStamped(keyCols, m.schema): _*)
    val keyUnion = deletedKeys.map(d => upsertKeys.unionByName(
        d.select(keyColsStamped(keyCols, m.schema): _*)))
      .getOrElse(upsertKeys)
    // the dedup exchange is skipped when the caller PROVES the key union
    // distinct (guide §2.4 "a distinct on data that is already unique"):
    // IncrementalAggView's refresh splits one groupBy output into upserts
    // and dead keys (disjoint, unique), and the streaming upsert sink
    // reduces each batch to one row per key before calling in — a shuffle
    // per commit for nothing. Semantics are unchanged either way: the
    // equality delete drops a key's old rows once no matter how many
    // times the key appears in the delete file.
    val keyDf = if (keysDistinct) keyUnion else keyUnion.distinct()
    // The delete-key write and the data write are independent actions on
    // tiny frames whose cost is mostly fixed per-job latency; run them
    // CONCURRENTLY (guide §1.2 — overlap fixed costs you can't remove).
    // Only when the table declares no target file size: with one declared,
    // writeDataFiles must set session-global AQE confs around its write,
    // and those would leak into a concurrently-planning key write.
    def writeKeys(): (Seq[String], Map[String, ColStats]) = {
      keyDf.write.parquet(delDir)
      val delFiles = listParquet(delDir)
      Pq.register(delFiles, keyDf.schema)
      (delFiles, eqDeleteStats(delFiles, keyCols, m))
    }
    val ((delFiles, delStats), written) =
      if (m.properties.contains(TableFormat.TargetFileSize)) {
        (writeKeys(), writeDataFiles(upserts, m))
      } else {
        val fut = scala.concurrent.Future(writeKeys())(GraftTable.commitWriteEc)
        val w = writeDataFiles(upserts, m)
        (scala.concurrent.Await.result(fut,
          scala.concurrent.duration.Duration.Inf), w)
      }
    // Iceberg cardinality check at ZERO extra passes: the delete files
    // hold the DISTINCT keys and the data files every row — both counts
    // come from footers already on disk. Fewer distinct keys than rows
    // means duplicates; only then pay the diagnostic pass for the message.
    if (enforceUniqueKeys && deletedKeys.isEmpty) {
      val distinctKeys =
        delFiles.map(p => FooterStats.read(conf, p, StructType(Nil))._1).sum
      if (distinctKeys < written.map(_.recordCount).sum)
        requireUniqueMergeKeys(upserts, keyCols, "source")
    }
    val retries = m.properties.get(TableFormat.CommitRetries)
      .map(_.toInt).getOrElse(4)
    val rowPreserving = Set("replace", "rewrite-deletes")
    var attempt = 0
    var committed = false
    while (!committed) {
      onAttempt(attempt) // test seam: deterministic mid-flight conflicts
      val md = currentManifest(m)
      val seq = nextSnapshotId(m)
      val newFiles = written.map(_.copy(seq = seq))
      try {
        commitSnapshot(m, md.files ++ newFiles, "upsert-mor", newFiles.size,
          deletePredicates = md.deletePredicates,
          positionDeleteFiles = md.positionDeleteFiles,
          equalityDeletes = md.equalityDeletes :+
            EqualityDelete(keyCols, delFiles, seq, delStats),
          extraProperties = extraProperties)
        committed = true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          val fresh = meta
          val newSince = fresh.snapshots
            .filterNot(s => m.snapshots.exists(_.id == s.id))
          // an empty newSince is a pure metadata-version race (property
          // commit) — always safe to rebase onto
          if (attempt > retries || fresh.schema != m.schema ||
              fresh.currentSpecId != m.currentSpecId ||
              !newSince.forall(s => rowPreserving.contains(s.operation)) ||
              currentManifest(fresh).deletePredicates.nonEmpty)
            throw e
          m = fresh
      }
    }
    this
  }

  private def listParquet(dir: String): Seq[String] = {
    val fsys = MetaIO.fs(conf, dir)
    val it = fsys.listFiles(new Path(dir), true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath.toString
      if (p.endsWith(".parquet")) out += stripScheme(p)
    }
    out.result()
  }

  /** Rewrite the files containing rows hit by active merge-on-read deletes
    * (predicate and position kinds) and clear them (Iceberg's rewrite of
    * v2 delete files).
    */
  def materializeDeletes(): GraftTable = {
    val m = meta
    val md = currentManifest(m)
    if (md.deletePredicates.isEmpty && md.positionDeleteFiles.isEmpty &&
        md.equalityDeletes.isEmpty) return this
    val predTouched: Set[String] =
      if (md.deletePredicates.isEmpty) Set.empty
      else matchingFiles(m, md.deletePredicates.map(p => s"($p)").mkString(" OR "))
        .map(_.path).toSet
    val posTouched: Set[String] =
      if (md.positionDeleteFiles.isEmpty) Set.empty
      else {
        // both file kinds carry a file_path column, but schemas differ
        // (pos rows vs dv bitmaps) — read each kind separately, union the
        // pruned file_path projections (no bitmap is ever decoded here)
        val (dv, classic) = md.positionDeleteFiles.partition(GraftTable.isDvFile)
        Seq(classic, dv).filter(_.nonEmpty)
          .map(ps => Pq.readImmutable(spark, ps).select(col("file_path")))
          .reduce(_ unionAll _)
          .distinct().collect()
          .map(r => stripScheme(r.getString(0))).toSet
      }
    val eqTouched: Set[String] = md.equalityDeletes.flatMap { e =>
      // only files the delete's sequence number covers — and whose key
      // range it can intersect — can be touched
      val applicable = md.files.filter(f => f.seq < e.seq && eqMayHit(m, f, e))
      if (applicable.isEmpty) Nil
      else {
        // defaults-aware scan (+ row meta per branch): eq keys on a
        // defaulted column must probe the FILLED values, same as the
        // read path
        val base = ScanPlanner.scan(spark, m, applicable, None, rowMeta = true)
        joinEqKeys(base, e.cols, e.files, m.schema, "left_semi")
          .select(col(ScanPlanner.RowMetaFile)).distinct().collect()
          .map(r => stripScheme(r.getString(0))).toSeq
      }
    }.toSet
    val touched = md.files.filter(f => predTouched.contains(f.path) ||
      posTouched.contains(f.path) || eqTouched.contains(f.path))
    val rewritten =
      if (touched.isEmpty) Nil
      else if (lineagePreserving(m))
        writeDataFiles(lineageScan(m, md, touched), m)
      else writeDataFiles(readWithMor(m, md.copy(files = touched), None), m)
    val untouched = md.files.filterNot(f => touched.exists(_.path == f.path))
    commitSnapshot(m, untouched ++ rewritten, "rewrite-deletes", rewritten.size,
      extraProperties = if (rewritten.isEmpty) Map.empty else lineageMarker(m))
    this
  }

  /** Fold accumulated merge-on-read delete files — many small per-commit
    * files → one position-delete file and one file per equality key-set —
    * without touching data files or visible rows (the delete-file
    * analogue of rewrite_data_files: read fan-in stays O(1) as delete
    * commits accumulate, deferring the full materialization rewrite).
    */
  def compactDeleteFiles(): GraftTable = {
    val m = meta
    val md = currentManifest(m)
    val posNeedsFold = md.positionDeleteFiles.size > 1
    // fold ONLY within a (cols, seq) group: the sequence number scopes which
    // data files a delete applies to (f.seq < e.seq), so merging deletes of
    // different seqs would widen the older ones onto files they must not
    // touch — e.g. rows appended by an upsert would vanish under their own
    // (now seq-less) delete after compaction
    val eqNeedsFold = md.equalityDeletes.groupBy(e => (e.cols, e.seq))
      .exists(_._2.flatMap(_.files).size > 1)
    if (!posNeedsFold && !eqNeedsFold) return this
    def fold(paths: Seq[String]): Seq[String] = {
      val dir = s"$location/deletes/${UUID.randomUUID().toString.take(8)}"
      val df = Pq.readImmutable(spark, paths).distinct().coalesce(1)
      df.write.parquet(dir)
      val fs = listParquet(dir)
      Pq.register(fs, df.schema)
      fs
    }
    // position deletes fold into ONE deletion-vector file regardless of
    // input kinds: maintenance upgrades the table to the bitmap layout,
    // restoring the one-DV-per-data-file read invariant. All-DV stacks
    // (the continuous-ingestion steady state) OR-fold the ENCODED bitmaps
    // directly ([[graft.functions.BitmapMergeAgg]], r11) — a billion
    // deleted positions never explode through the shuffle, the fold moves
    // O(bitmap bytes) per file; only mixed classic+DV stacks take the
    // explode-and-re-aggregate path (classic rows must be decoded anyway).
    val newPos =
      if (!posNeedsFold) md.positionDeleteFiles
      else {
        val dir = s"$location/deletes/dv-${UUID.randomUUID().toString.take(8)}"
        val allDv = md.positionDeleteFiles.forall(GraftTable.isDvFile)
        val folded =
          if (allDv)
            Pq.readImmutable(spark, md.positionDeleteFiles)
              .groupBy(col("file_path"))
              .agg(GraftTable.bitmapMergeAgg(col("dv")).as("dv"))
          else
            posDeleteRows(md.positionDeleteFiles)
              .groupBy(col("file_path"))
              .agg(GraftTable.bitmapAgg(col("pos")).as("dv"))
        folded.coalesce(1).write.parquet(dir)
        val fs = listParquet(dir)
        Pq.register(fs, folded.schema)
        fs
      }
    val newEq = md.equalityDeletes.groupBy(e => (e.cols, e.seq)).map { case ((cols, seq), es) =>
      val files = es.flatMap(_.files)
      if (files.size > 1) {
        val folded = fold(files)
        // folded file = union of the originals: recompute bounds so the
        // read-side overlap pruning survives compaction
        EqualityDelete(cols, folded, seq, eqDeleteStats(folded, cols, m))
      } else EqualityDelete(cols, files, seq, es.head.stats)
    }.toSeq
    commitSnapshot(m, md.files, "rewrite-deletes", 0,
      deletePredicates = md.deletePredicates,
      positionDeleteFiles = newPos, equalityDeletes = newEq)
    this
  }

  /** Mutations operate on materialized state so new rows are never hit by
    * older merge-on-read predicates.
    */
  private def ensureMaterialized(): Unit = {
    val md = currentManifest()
    if (md.deletePredicates.nonEmpty || md.positionDeleteFiles.nonEmpty ||
        md.equalityDeletes.nonEmpty) {
      materializeDeletes(); ()
    }
  }

  /** Append rows (reference INSERT INTO). Predicate merge-on-read deletes
    * are materialized first — they would silently hit the new rows — but
    * position deletes (file-anchored) and equality deletes (sequence-
    * scoped to older files) are carried forward: neither can touch files
    * that don't exist yet, so the deferred-rewrite economics of MOR
    * survive appends.
    */
  def append(df: DataFrame): GraftTable = appendWithRetry(df)

  /** Append with properties folded into the SAME commit — the atomic
    * cursor/fence primitive (see [[mergeBatch]]'s property ride-along).
    */
  def appendWithProperties(df: DataFrame,
      extraProperties: Map[String, String]): GraftTable =
    appendWithRetry(df, extraProperties = extraProperties)

  /** The concurrent-writer append (Iceberg `commit.retry.num-retries`
    * behavior): the commit is a CAS on the next metadata version; a
    * writer that loses the race re-reads the winner's manifest, re-points
    * its ALREADY-WRITTEN data files onto the fresh base (no data
    * rewrite — commit dirs are writer-unique), and retries. The rebase is
    * refused — loud ConcurrentModificationException, like every
    * non-append commit — when the winning commit is semantically
    * conflicting: schema or partition spec changed, or pending predicate
    * deletes landed that would capture the new rows.
    */
  private[tables] def appendWithRetry(df: DataFrame,
      onAttempt: Int => Unit = _ => (),
      extraProperties: Map[String, String] = Map.empty): GraftTable = {
    if (currentManifest().deletePredicates.nonEmpty) { materializeDeletes(); () }
    var m = meta
    val written = writeDataFiles(df, m)
    // Puffin fold: when live ANALYZE stats exist, sketch the APPENDED rows
    // once (one extra O(batch) agg — never a table rescan) so the commit
    // can merge them in and re-stamp; NDV stays live under ingest
    val incoming: Option[(Int, Map[String, Array[Long]])] =
      currentStats(m).flatMap { sp =>
        val live = sp.sketches.keys.toSeq.sorted.flatMap(phys =>
          m.schema.fields.find(f => ColumnMapping.physicalName(f) == phys)
            .map(f => f.name -> phys))
        if (live.isEmpty) None else Some(sp.k -> computeSketches(df, live, sp.k))
      }
    // partition-stats fold: counters are additive over added data files,
    // so the appended files' own per-partition totals (O(batch), already
    // in hand from the write) merge into the live payload — no manifest
    // rescan at any table size
    val incomingParts: Seq[PartitionStatEntry] = partitionEntriesOf(written)
    val retries = m.properties.get(TableFormat.CommitRetries)
      .map(_.toInt).getOrElse(4)
    var attempt = 0
    var committed = false
    while (!committed) {
      onAttempt(attempt) // test seam: deterministic mid-flight conflicts
      val md = currentManifest(m)
      val seq = nextSnapshotId(m)
      val newFiles = written.map(_.copy(seq = seq))
      // merge against the CURRENT base's stats (a rebase may have moved
      // them); the new stamp rides the data commit atomically
      val statsProps: Map[String, String] = incoming.flatMap { case (k, ns) =>
        currentStats(m).collect { case sp if sp.k == k =>
          val merged = sp.sketches.map { case (p, arr) =>
            p -> ns.get(p).map(n => mergeSketch(arr, n, k)).getOrElse(arr) }
          val name = MetaIO.newStatsName(seq)
          // histograms are dropped, not folded: the appended rows aren't
          // in the bins, and wrong bins are worse than no bins
          MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$name",
            MetaIO.statsFileToJson(StatsPayload(seq, k, merged)))
          Map(TableFormat.StatsSnapshot -> seq.toString,
            TableFormat.StatsFile -> name)
        }
      }.getOrElse(Map.empty)
      val partStatsProps: Map[String, String] = partitionStats(m).map { pp =>
        val merged = (pp.entries ++ incomingParts)
          .groupBy(e => (e.specId, e.partition)).toSeq
          .map { case ((sid, part), es) => PartitionStatEntry(sid, part,
            es.map(_.dataFileCount).sum, es.map(_.dataRecordCount).sum,
            es.map(_.totalSizeBytes).sum) }
          .sortBy(e => (e.specId, e.partition))
        val name = MetaIO.newPartitionStatsName(seq)
        MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$name",
          MetaIO.partitionStatsToJson(PartitionStatsPayload(seq, merged)))
        Map(TableFormat.PartStatsSnapshot -> seq.toString,
          TableFormat.PartStatsFile -> name)
      }.getOrElse(Map.empty)
      try {
        commitSnapshot(m, md.files ++ newFiles, "append", newFiles.size,
          positionDeleteFiles = md.positionDeleteFiles,
          equalityDeletes = md.equalityDeletes,
          extraProperties = extraProperties ++ statsProps ++ partStatsProps)
        committed = true
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          val fresh = meta
          if (attempt > retries || fresh.schema != m.schema ||
              fresh.currentSpecId != m.currentSpecId ||
              currentManifest(fresh).deletePredicates.nonEmpty)
            throw e
          m = fresh
      }
    }
    this
  }

  /** Register existing data files into this table WITHOUT rewriting
    * them (Iceberg's `add_files` procedure; the in-place half of the
    * workshop's import story applied to a live table instead of a new
    * one). `format` may be "parquet" (default), "orc" or "avro" — each
    * manifest entry records its own format (Iceberg's per-file
    * `file_format` field) and the scan reads it accordingly; graft's own
    * writes stay parquet, and any rewrite (compaction, clustering, CoW)
    * migrates the rows to parquet as a side effect. One footer-stats
    * pass over the new files builds their manifest entries (ORC footers
    * carry min/max/null stats, Avro containers only exact counts); the
    * commit is an append — the files get this commit's data sequence
    * number, so carried-forward equality deletes (scoped to older
    * sequences) can never hit them, same as [[append]]. The incoming
    * physical schema must match: a file whose columns differ would
    * silently read as nulls forever after.
    */
  def addFiles(sourceDir: String, format: String = "parquet"): GraftTable = {
    require(Seq("parquet", "orc", "avro").contains(format),
      s"unsupported data file format '$format' (parquet, orc, avro)")
    if (currentManifest().deletePredicates.nonEmpty) { materializeDeletes(); () }
    val m = meta
    val incoming =
      if (format == "avro") graft.sources.GraftAvro.sparkSchema(
        graft.sources.GraftAvro.probeSchemaJson(conf, sourceDir))
      else spark.read.format(format).load(sourceDir).schema
    val expected = ColumnMapping.physicalSchema(m.schema)
    val missing = expected.fields.filterNot(f =>
      incoming.fields.exists(i => i.name == f.name && i.dataType == f.dataType))
    require(missing.isEmpty,
      s"add_files schema mismatch: source lacks ${missing.map(_.name).mkString(", ")}")
    val md = currentManifest(m)
    // external writers may truncate binary footer stats: string bounds
    // stay pruning-safe but must not serve aggregate-exact answers
    val entries = collectFileEntries(sourceDir, m, m.currentSpecId, format)
      .map(_.copy(seq = nextSnapshotId(m), trustedBounds = false))
    commitSnapshot(m, md.files ++ entries, "append", entries.size,
      positionDeleteFiles = md.positionDeleteFiles,
      equalityDeletes = md.equalityDeletes)
    this
  }

  /** Replace table contents (INSERT OVERWRITE). Pending MOR deletes need
    * no materialization: `changesBetween` reads the removed-file side
    * through the parent manifest's delete files, so rows the equality
    * deletes already killed never appear in the changelog diff.
    */
  def overwrite(df: DataFrame,
      extraProperties: Map[String, String] = Map.empty): GraftTable = {
    val m = meta
    val newFiles = writeDataFiles(df, m)
    commitSnapshot(m, newFiles, "overwrite", newFiles.size,
      extraProperties = extraProperties)
    this
  }

  /** DYNAMIC partition overwrite (Hive `INSERT OVERWRITE` with dynamic
    * partitions; Iceberg's `overwrite` with a partition expression): ONE
    * commit that replaces exactly the partitions the incoming data
    * touches and keeps every other file — at 100 TB this is how a daily
    * re-run replaces its day without rewriting the table. Partition
    * identity is the current spec's transformed value tuple; files written
    * under OLDER specs don't carry those values and are conservatively
    * kept (evolve-then-compact migrates them). Pending predicate deletes
    * materialize first (they apply globally and would capture the new
    * rows); file-anchored and sequence-scoped delete files carry forward
    * for the kept files.
    */
  def overwritePartitions(df: DataFrame): GraftTable = {
    val m0 = meta
    require(m0.currentSpec.fields.nonEmpty,
      "dynamic partition overwrite needs a partitioned table; use overwrite()")
    if (currentManifest().deletePredicates.nonEmpty) { materializeDeletes(); () }
    val m = meta
    val md = currentManifest(m)
    val newFiles = writeDataFiles(df, m)
    val keyNames = m.currentSpec.fields.map(_.name)
    def tuple(f: DataFile): Option[Seq[String]] =
      if (f.specId == m.currentSpecId) Some(keyNames.map(k => f.partitionValues.getOrElse(k, "")))
      else None
    val newTuples = newFiles.flatMap(tuple).toSet
    val kept = md.files.filterNot(f => tuple(f).exists(newTuples.contains))
    commitSnapshot(m, kept ++ newFiles, "overwrite", newFiles.size,
      positionDeleteFiles = md.positionDeleteFiles,
      equalityDeletes = md.equalityDeletes)
    this
  }

  /** TRUNCATE TABLE (reference README.md maintenance walkthrough).
    * O(metadata): commits an empty file list; pending MOR deletes stay in
    * the parent manifest, where the changelog's MOR-aware diff reads them.
    */
  def truncate(): GraftTable = {
    val m = meta
    commitSnapshot(m, Nil, "delete", 0)
    this
  }

  /** Files that actually contain rows matching `cond` (manifest pruning
    * first, then an exact scan of only the surviving files).
    */
  private def matchingFiles(m: TableMeta, cond: String): Seq[DataFile] = {
    val cur = currentFiles(m)
    // defaults-aware: a CoW delete/update predicate on a defaulted
    // column must see the FILLED values (raw nulls would silently skip
    // every pre-add file). scan(Some(cond)) prunes internally — no
    // separate pruneFiles pass (it would run the same stats walk twice).
    val hit = ScanPlanner.scan(spark, m, cur, Some(cond), rowMeta = true)
      .select(col(ScanPlanner.RowMetaFile)).distinct().collect()
      .map(r => stripScheme(r.getString(0))).toSet
    cur.filter(f => hit.contains(f.path))
  }

  /** Copy-on-write DELETE WHERE. */
  def delete(cond: String): GraftTable = {
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    val touched = matchingFiles(m, cond)
    if (touched.isEmpty) return this
    // defaults-aware read: the rewrite MATERIALIZES values into files
    // that postdate the default boundary, so it must read filled values
    // (raw nulls would silently erase the default for surviving rows).
    // Under row-lineage preservation the scan additionally rides each
    // surviving row's _row_id / last-updated seq into the new files.
    val base =
      if (lineagePreserving(m)) lineageScan(m, currentManifest(m), touched)
      else ScanPlanner.scan(spark, m, touched, None)
    val kept = base.filter(!coalesce(expr(cond), lit(false)))
    val rewritten = writeDataFiles(kept, m)
    val untouchedFiles = cur.filterNot(f => touched.exists(_.path == f.path))
    commitSnapshot(m, untouchedFiles ++ rewritten, "delete", rewritten.size,
      extraProperties = if (rewritten.isEmpty) Map.empty else lineageMarker(m))
    this
  }

  /** Copy-on-write UPDATE ... SET (assignments: column -> SQL expr). */
  def update(cond: String, set: Map[String, String]): GraftTable = {
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    val touched = matchingFiles(m, cond)
    if (touched.isEmpty) return this
    val preserve = lineagePreserving(m)
    val base =
      if (preserve) lineageScan(m, currentManifest(m), touched)
      else ScanPlanner.scan(spark, m, touched, None) // defaults-aware rewrite
    val hit = coalesce(expr(cond), lit(false))
    // ONE simultaneous projection: the condition and every assignment RHS
    // evaluate against the ORIGINAL row (SQL UPDATE semantics). A
    // column-by-column fold would let later assignments read
    // already-mutated values — SET status='B' WHERE status='A' would
    // flip the condition for every assignment after the first.
    val projected = m.schema.fields.toSeq.map { f =>
      set.get(f.name) match {
        case Some(e) =>
          when(hit, expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    } ++ (if (!preserve) Nil else Seq(
      col(RowLineage.MatRowId),
      // updated rows inherit THIS commit's sequence number
      when(hit, lit(null).cast(LongType))
        .otherwise(col(RowLineage.MatSeq)).as(RowLineage.MatSeq)))
    val updated = base.select(projected: _*)
    val rewritten = writeDataFiles(updated, m)
    val untouchedFiles = cur.filterNot(f => touched.exists(_.path == f.path))
    commitSnapshot(m, untouchedFiles ++ rewritten, "update", rewritten.size,
      extraProperties = if (rewritten.isEmpty) Map.empty else lineageMarker(m))
    this
  }

  /** Iceberg's MERGE cardinality check for the merge-on-read path (no
    * probe join to fold into — [[upsertMergeOnRead]] never reads the
    * target): duplicate source keys would land as duplicate rows under
    * one equality delete. One O(|source|) pass over the SMALL side only.
    * The copy-on-write paths fold the equivalent check into their
    * touched-files probe join instead (see [[mergeInto]]).
    */
  private def requireUniqueMergeKeys(src: DataFrame, keyCols: Seq[String],
      what: String): Unit = {
    val dup = src.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"MERGE cardinality violation: multiple $what rows share the key " +
        keyCols.zip(dup.head.toSeq).map { case (c, v) => s"$c=$v" }.mkString("(", ", ", ")"))
  }

  /** Iceberg MERGE cardinality rule, evaluated INSIDE the probe join that
    * finds touched files (one pass, no separate source scan): fail when a
    * TARGET ROW matches more than one counted probe row. Returns the set
    * of file paths holding matched rows. `countFlag` is 1 for probe rows
    * that participate in the count (updates), 0 for rows that only mark
    * files touched (delete keys). Matching Iceberg exactly: duplicate
    * probe keys that match NO target row are legal (they insert).
    */
  private def touchedFilesWithCardinalityCheck(base: DataFrame, probe: DataFrame,
      joinCond: Column, countFlag: Column, keyDesc: Column,
      keyCols: Seq[String]): Set[String] = {
    val perRow = base
      .withColumnRenamed(ScanPlanner.RowMetaFile, "__fp")
      .withColumnRenamed(ScanPlanner.RowMetaPos, "__pos")
      // Non-parquet branches (ORC via add_files) have no native
      // `_metadata.row_index` — their __pos is NULL, and grouping N
      // matched rows of one ORC file under (file, NULL) would report a
      // spurious cardinality violation. The check only needs a value
      // that DISTINGUISHES rows within a file (never an on-disk
      // position — position-anchored delete state on foreign formats is
      // refused up front), so substitute a scan-unique id: files are
      // single-format, so synthesized ids never mix with real indices
      // inside one group key.
      .withColumn("__pos", coalesce(col("__pos"), monotonically_increasing_id()))
      .join(probe, joinCond, "inner")
      .groupBy(col("__fp"), col("__pos"))
      .agg(sum(countFlag).as("__n"), first(keyDesc).as("__k"))
    val byFile = perRow.groupBy(col("__fp")).agg(
      max(col("__n")).as("__mx"),
      first(when(col("__n") > 1, col("__k")), ignoreNulls = true).as("__dup"))
      .collect()
    byFile.find(_.getLong(1) > 1).foreach { r =>
      throw new IllegalArgumentException(
        s"MERGE cardinality violation: a target row matches ${r.getLong(1)} " +
          s"source rows sharing the key (${keyCols.mkString(", ")}) = " +
          s"(${Option(r.getString(2)).getOrElse("?")})")
    }
    byFile.map(r => stripScheme(r.getString(0))).toSet
  }

  /** Copy-on-write MERGE INTO (reference
    * sql/update_iceberg_v2_examples.sql:9-18): WHEN MATCHED → replace the
    * row with the source row, WHEN NOT MATCHED → insert. `source` must
    * have the table schema. The Iceberg cardinality check (a target row
    * matching several source rows would be silently multiplied by the
    * rewrite's left join) is folded into the touched-files probe join —
    * no separate pass over the source; duplicate source keys that match
    * nothing insert normally, as in Iceberg.
    * Only files containing matched keys are rewritten.
    */
  def mergeInto(source: DataFrame, keyCols: Seq[String]): GraftTable = {
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    val target = toDF()
    val srcRenamed = m.schema.fields.foldLeft(source) { (d, f) =>
      d.withColumnRenamed(f.name, s"__s_${f.name}") }

    val joinCond = keyCols.map(k => col(k) === col(s"__s_$k")).reduce(_ && _)
    // files containing at least one matched key (+ cardinality check)
    val touched: Seq[DataFile] =
      if (cur.isEmpty) Nil
      else {
        val hit = touchedFilesWithCardinalityCheck(
          ScanPlanner.scan(spark, m, cur, None, rowMeta = true),
          srcRenamed, joinCond, lit(1L),
          concat_ws(",", keyCols.map(k => col(s"__s_$k").cast("string")): _*),
          keyCols)
        cur.filter(f => hit.contains(f.path))
      }

    val preserve = lineagePreserving(m)
    val rewritten: DataFrame = if (touched.isEmpty) null else {
      val base = // defaults-aware rewrite; preserve-mode rides row ids
        if (preserve) lineageScan(m, currentManifest(m), touched)
        else ScanPlanner.scan(spark, m, touched, None)
      val matched = col(s"__s_${keyCols.head}").isNotNull
      base.join(srcRenamed, joinCond, "left")
        .select((m.schema.fields.toSeq.map { f =>
          when(matched, col(s"__s_${f.name}"))
            .otherwise(col(f.name)).as(f.name)
        } ++ (if (!preserve) Nil else Seq(
          col(RowLineage.MatRowId),
          // updated rows inherit THIS commit's sequence number
          when(matched, lit(null).cast(LongType))
            .otherwise(col(RowLineage.MatSeq)).as(RowLineage.MatSeq)))): _*)
    }
    val inserts = source.join(target.select(keyCols.map(col): _*), keyCols, "left_anti")
      .select(m.schema.fields.map(f => col(f.name)): _*)

    // inserted rows carry no riders (null -> inherit the new file's
    // range at their positions), so the union fills them as missing
    val toWrite = (Option(rewritten).toSeq :+ inserts)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val newFiles = writeDataFiles(toWrite, m)
    val untouchedFiles = cur.filterNot(f => touched.exists(_.path == f.path))
    commitSnapshot(m, untouchedFiles ++ newFiles, "merge", newFiles.size,
      extraProperties = if (touched.isEmpty) Map.empty else lineageMarker(m))
    this
  }

  /** Generalized MERGE executor (one copy-on-write commit): `updates`
    * replace their matched rows, `deleteKeys` drop theirs, `inserts`
    * append — matched rows named by neither survive the rewrite untouched.
    * Only files containing an affected key are rewritten (same file-level
    * CoW economics as [[mergeInto]], which is the
    * update-all/insert-all special case). The Iceberg cardinality check
    * rides the touched-files probe join: a target row matched by more
    * than one UPDATE row fails loudly (delete keys count zero — they
    * only mark files touched, and duplicates among them are harmless).
    */
  def mergeApply(updates: DataFrame, deleteKeys: DataFrame,
      inserts: DataFrame, keyCols: Seq[String]): GraftTable = {
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    // ONE probe frame: update keys keep duplicates (counted per matched
    // target row), delete keys are distinct'd and flagged out of the count
    val updProbe = updates.select(keyCols.map(col): _*)
      .withColumn("__upd", lit(1L))
    val delProbe = deleteKeys.select(keyCols.map(col): _*).distinct()
      .withColumn("__upd", lit(0L))
    val keyed = keyCols.foldLeft(updProbe.unionByName(delProbe)) { (d, c) =>
      d.withColumnRenamed(c, s"__k_$c") }

    val touched: Seq[DataFile] =
      if (cur.isEmpty) Nil
      else {
        val base = ScanPlanner.scan(spark, m, cur, None, rowMeta = true)
        val hit = touchedFilesWithCardinalityCheck(base, broadcast(keyed),
          keyCols.map(c => base(c) === keyed(s"__k_$c")).reduce(_ && _),
          col("__upd"),
          concat_ws(",", keyCols.map(c => col(s"__k_$c").cast("string")): _*),
          keyCols)
        cur.filter(f => hit.contains(f.path))
      }

    val preserve = lineagePreserving(m)
    val rewritten: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val base = // defaults-aware rewrite; preserve-mode rides row ids
          if (preserve) lineageScan(m, currentManifest(m), touched)
          else ScanPlanner.scan(spark, m, touched, None)
        val delKeyed = keyCols.foldLeft(deleteKeys.select(keyCols.map(col): _*)
          .distinct()) { (d, c) => d.withColumnRenamed(c, s"__d_$c") }
        val updRenamed = m.schema.fieldNames.foldLeft(updates) { (d, c) =>
          d.withColumnRenamed(c, s"__u_$c") }
        val minusDeleted = base.join(delKeyed,
          keyCols.map(c => base(c) === delKeyed(s"__d_$c")).reduce(_ && _),
          "left_anti")
        val joined = minusDeleted.join(updRenamed,
          keyCols.map(c => minusDeleted(c) === updRenamed(s"__u_$c")).reduce(_ && _),
          "left")
        val matched = col(s"__u_${keyCols.head}").isNotNull
        Some(joined.select((m.schema.fieldNames.toSeq.map { c =>
          when(matched, col(s"__u_$c")).otherwise(col(c)).as(c)
        } ++ (if (!preserve) Nil else Seq(
          col(RowLineage.MatRowId),
          when(matched, lit(null).cast(LongType))
            .otherwise(col(RowLineage.MatSeq)).as(RowLineage.MatSeq)))): _*))
      }

    if (touched.isEmpty && inserts.isEmpty) return this // nothing to do
    val toWrite = (rewritten.toSeq :+ inserts.select(
      m.schema.fieldNames.map(col).toSeq: _*))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val newFiles = writeDataFiles(toWrite, m)
    val untouchedFiles = cur.filterNot(f => touched.exists(_.path == f.path))
    commitSnapshot(m, untouchedFiles ++ newFiles, "merge", newFiles.size,
      extraProperties = if (touched.isEmpty) Map.empty else lineageMarker(m))
    this
  }

  // ------------------------------------------------------------- refs

  /** Tag a snapshot under an immutable name (Iceberg tags). */
  def createTag(name: String, snapshotId: Long): GraftTable = {
    val m = meta
    require(m.snapshot(snapshotId).isDefined, s"no snapshot $snapshotId")
    require(!m.refs.contains(name), s"ref $name exists")
    commitMetadataOnly(m.copy(version = m.version + 1,
      refs = m.refs + (name -> Ref("tag", snapshotId))))
    this
  }

  /** Create a branch at a snapshot (defaults to the current one). */
  def createBranch(name: String, fromSnapshotId: Option[Long] = None): GraftTable = {
    val m = meta
    val base = fromSnapshotId.orElse(m.currentSnapshotId)
      .getOrElse(throw new IllegalStateException("empty table has no snapshot to branch"))
    require(m.snapshot(base).isDefined, s"no snapshot $base")
    require(!m.refs.contains(name), s"ref $name exists")
    commitMetadataOnly(m.copy(version = m.version + 1,
      refs = m.refs + (name -> Ref("branch", base))))
    this
  }

  def dropRef(name: String): GraftTable = {
    val m = meta
    commitMetadataOnly(m.copy(version = m.version + 1, refs = m.refs - name))
    this
  }

  /** Read a named ref (`FOR SYSTEM_VERSION AS OF 'name'` semantics). */
  def asOfRef(name: String): DataFrame = {
    val m = meta
    asOf(m.refs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown ref: $name")).snapshotId)
  }

  /** WAP "write": append onto a branch without touching the main table
    * state — auditors read the branch ([[asOfRef]]); main readers are
    * unaffected until [[publish]].
    */
  def appendToBranch(df: DataFrame, branch: String): GraftTable = {
    val m = meta
    val ref = m.refs.getOrElse(branch,
      throw new IllegalArgumentException(s"unknown branch: $branch"))
    require(ref.kind == "branch", s"$branch is a ${ref.kind}, not a branch")
    val head = m.snapshot(ref.snapshotId).get
    val headMd = manifestDataOf(head)
    // predicate deletes apply at read time to EVERY file in the manifest —
    // staging new rows under them would silently delete any staged row
    // they match (position deletes are file-anchored, equality deletes
    // sequence-scoped: both safe to stage under)
    require(headMd.deletePredicates.isEmpty,
      s"branch $branch head carries merge-on-read predicate deletes; materialize before staging")
    val newFiles = writeDataFiles(df, m)
    val snapId = nextSnapshotId(m)
    val (listName, entries) =
      buildManifestList(m, Some(head), headMd.files ++ newFiles, snapId)
    MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$listName",
      MetaIO.manifestListToJson(entries, headMd.deletePredicates,
        headMd.positionDeleteFiles, headMd.equalityDeletes))
    val snap = Snapshot(snapId, Some(ref.snapshotId), System.currentTimeMillis(),
      "append", listName, newFiles.size,
      headMd.files.size + newFiles.size,
      (headMd.files ++ newFiles).map(_.recordCount).sum)
    commitMetadataOnly(m.copy(version = m.version + 1,
      snapshots = m.snapshots :+ snap,
      refs = m.refs + (branch -> Ref("branch", snapId))))
    this
  }

  /** WAP "publish": fast-forward the main table to the branch head (the
    * audited snapshots become current; the branch ref remains).
    */
  def publish(branch: String): GraftTable = {
    val m = meta
    val ref = m.refs.getOrElse(branch,
      throw new IllegalArgumentException(s"unknown branch: $branch"))
    require(ref.kind == "branch", s"$branch is a ${ref.kind}, not a branch")
    // fast-forward only (Iceberg fast_forward errors on divergence): main's
    // current snapshot must be an ancestor of the branch head, or commits
    // that landed on main after the branch was created would be silently
    // discarded by the pointer switch
    m.currentSnapshotId.foreach { mainId =>
      var cur = m.snapshot(ref.snapshotId)
      var found = false
      while (cur.isDefined && !found) {
        if (cur.get.id == mainId) found = true
        else cur = cur.get.parentId.flatMap(m.snapshot)
      }
      require(found, s"cannot publish $branch: main snapshot $mainId is not " +
        "an ancestor of the branch head (main has diverged)")
    }
    commitMetadataOnly(m.copy(version = m.version + 1,
      currentSnapshotId = Some(ref.snapshotId)))
    this
  }

  /** Cherry-pick an APPEND snapshot onto the current head (Iceberg's
    * `cherrypick_snapshot`) — the divergent-WAP publish: when main has
    * advanced since a branch staged its audit append, [[publish]]'s
    * fast-forward correctly refuses, and the staged files are instead
    * re-applied as a NEW commit on top of main. Metadata-only: the staged
    * parquet files are re-referenced, never rewritten or copied.
    *
    * Only append snapshots are eligible (their effect is exactly "these
    * files were added", derivable from the manifest diff against the
    * snapshot's parent); replays of deletes/rewrites are ambiguous under a
    * moved base and are refused, as in Iceberg. The picked files are
    * re-stamped with THIS commit's data sequence number, so equality
    * deletes committed between staging and cherry-pick do not silently hit
    * the newly visible rows — same rule that protects [[append]].
    */
  def cherryPick(snapshotId: Long): GraftTable = {
    if (currentManifest().deletePredicates.nonEmpty) { materializeDeletes(); () }
    val m = meta
    val snap = m.snapshot(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    require(snap.operation == "append",
      s"cherry-pick supports append snapshots only; $snapshotId is '${snap.operation}'")
    val parentPaths = snap.parentId.flatMap(m.snapshot)
      .map(p => manifestDataOf(p).files.map(_.path).toSet).getOrElse(Set.empty[String])
    val added = manifestDataOf(snap).files.filterNot(f => parentPaths.contains(f.path))
    val md = currentManifest(m)
    val already = added.filter(f => md.files.exists(_.path == f.path))
    require(already.isEmpty,
      s"cherry-pick $snapshotId: ${already.size} of its files are already referenced " +
        "by the current snapshot (published or previously picked)")
    val restamped = added.map(_.copy(seq = nextSnapshotId(m)))
    commitSnapshot(m, md.files ++ restamped, "append", restamped.size,
      positionDeleteFiles = md.positionDeleteFiles,
      equalityDeletes = md.equalityDeletes)
    this
  }

  // -------------------------------------------------------- lifecycle ops

  /** Rollback to an earlier snapshot (reference `EXECUTE rollback`): a new
    * commit whose file set is the old snapshot's.
    */
  def rollback(snapshotId: Long): GraftTable = {
    val m = meta
    val snap = m.snapshot(snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $snapshotId"))
    // full manifest read: the target's merge-on-read deletes (both kinds)
    // must survive the rollback, or MOR-deleted rows would silently
    // resurrect
    val md = manifestDataOf(snap)
    // history continues from the rollback target: abandoned snapshots stop
    // being current ancestors (reference history table semantics)
    commitSnapshot(m, md.files, "rollback", 0, parentOverride = Some(snapshotId),
      deletePredicates = md.deletePredicates,
      positionDeleteFiles = md.positionDeleteFiles,
      equalityDeletes = md.equalityDeletes)
    this
  }

  /** Expire snapshots older than `olderThanMs` (never the current one) and
    * delete data files referenced only by expired snapshots (reference
    * `EXECUTE expire_snapshots`). Only files under this table's data dir
    * are deleted — in-place-migrated external files are left alone.
    */
  def expireSnapshots(olderThanMs: Long): GraftTable =
    expireSnapshots(olderThanMs, Map.empty, System.currentTimeMillis())

  /** Retention-aware expiration (Iceberg branch/tag retention). Per-ref
    * policies from `retention` (refs absent from the map keep today's
    * semantics: a tag pins its snapshot forever, a branch protects only
    * its head). Ages are measured against `asOfMs`, never the wall clock,
    * so maintenance jobs are replayable. Order of operations matches
    * Iceberg's ExpireSnapshots: refs past `maxRefAgeMs` are dropped FIRST
    * (releasing their snapshots), then the protected set is computed from
    * the surviving refs, then unprotected snapshots older than
    * `olderThanMs` expire along with any file only they reference.
    */
  def expireSnapshots(olderThanMs: Long, retention: Map[String, RefRetention],
      asOfMs: Long): GraftTable = {
    val m = meta
    val liveRefs = m.refs.filter { case (name, r) =>
      val born = m.snapshot(r.snapshotId).map(_.timestampMs).getOrElse(asOfMs)
      asOfMs - born <= retention.get(name).map(_.maxRefAgeMs).getOrElse(Long.MaxValue)
    }
    val protectedIds: Set[Long] = {
      val b = Set.newBuilder[Long]
      m.currentSnapshotId.foreach(b += _)
      liveRefs.foreach { case (name, r) =>
        if (r.kind == "branch" && retention.contains(name)) {
          val pol = retention(name)
          m.ancestorsOf(r.snapshotId).zipWithIndex.foreach { case (id, i) =>
            val young = m.snapshot(id).exists(s => asOfMs - s.timestampMs <= pol.maxSnapshotAgeMs)
            if (i < pol.minSnapshotsToKeep || young) b += id
          }
        } else b += r.snapshotId
      }
      b.result()
    }
    val (expired, kept) = m.snapshots.partition(s =>
      s.timestampMs < olderThanMs && !protectedIds.contains(s.id))
    if (expired.isEmpty && liveRefs.size == m.refs.size) return this
    if (expired.isEmpty) {
      commitMetadataOnly(m.copy(version = m.version + 1, refs = liveRefs))
      return this
    }
    val keptData = kept.map(manifestDataOf)
    val expiredData = expired.map(manifestDataOf)
    val keptFiles = keptData.flatMap(_.files.map(_.path)).toSet
    val orphans = expiredData.flatMap(_.files.map(_.path))
      .toSet.diff(keptFiles)
      .filter(_.startsWith(s"$location/data/"))
    orphans.foreach(p => MetaIO.delete(conf, p))
    // delete files (position + equality) referenced only by expired snapshots
    def delFiles(d: ManifestData): Seq[String] =
      d.positionDeleteFiles ++ d.equalityDeletes.flatMap(_.files)
    val keptDel = keptData.flatMap(delFiles).toSet
    expiredData.flatMap(delFiles).toSet.diff(keptDel)
      .filter(_.startsWith(s"$location/deletes/"))
      .foreach(p => MetaIO.delete(conf, p))
    // manifests are SHARED across snapshots (commits reuse parent child
    // manifests), so deletion is reference-counted: a list file or child
    // is removed only when no retained snapshot references it
    def manifestFiles(s: Snapshot): Seq[String] =
      s.manifest +: MetaIO.loadManifestEntries(conf, location, s).map(_.name)
    // settle row-lineage BEFORE the walk order changes: expiring a file's
    // first-seen snapshot would shift its walk position and renumber its
    // rows, contradicting both the documented cross-snapshot stability
    // and any v3 export a foreign reader already consumed. The settlement
    // persists the pre-expiration per-file ids + watermark; the assigner
    // seeds from it forever after. Computed from the PRE-expiration
    // metadata, while every expired manifest is still readable.
    val settledName = RowLineage.settle(conf, m,
      keepFiles = keptFiles, keepSnapshots = kept.map(_.id).toSet)
    val keptManifests = kept.flatMap(manifestFiles).toSet
    expired.flatMap(manifestFiles).toSet.diff(keptManifests)
      .foreach(n => MetaIO.delete(conf, s"${MetaIO.metadataDir(location)}/$n"))
    commitMetadataOnly(m.copy(version = m.version + 1, snapshots = kept,
      refs = liveRefs,
      properties = m.properties + (TableFormat.RowLineageSettled -> settledName)))
    this
  }

  /** Remove files under the table's own data/deletes dirs that no
    * snapshot references (aborted writes, crashed compactions) — Iceberg's
    * `remove_orphan_files`. Only files older than `olderThanMs` are
    * eligible, the standard guard against deleting an in-flight commit's
    * freshly written files. Returns the removed paths. O(#files) listing +
    * set diff; never touches referenced or external (in-place-migrated)
    * files.
    */
  def removeOrphanFiles(olderThanMs: Long = System.currentTimeMillis() - 3 * 86400000L): Seq[String] = {
    val m = meta
    val referenced: Set[String] = m.snapshots.flatMap { s =>
      val md = manifestDataOf(s)
      md.files.map(_.path) ++ md.positionDeleteFiles ++
        md.equalityDeletes.flatMap(_.files)
    }.toSet
    val removed = Seq.newBuilder[String]
    for (sub <- Seq("data", "deletes")) {
      val dir = new Path(s"$location/$sub")
      val fsys = MetaIO.fs(conf, dir.toString)
      if (fsys.exists(dir)) {
        val it = fsys.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          val p = st.getPath.toString
          val norm = if (p.startsWith("file:")) st.getPath.toUri.getPath else p
          if ((norm.endsWith(".parquet") || norm.endsWith(".parq")) &&
              !referenced.contains(norm) && st.getModificationTime < olderThanMs) {
            MetaIO.delete(conf, norm)
            removed += norm
          }
        }
      }
    }
    // metadata-side orphans: manifest lists/children no snapshot
    // references (old pointers left by rewrite_manifests repoints,
    // manifests of commits that lost the CAS) and abandoned CAS temp
    // files — same recency guard; version files and the hint are never
    // touched (metadata-log retention owns those)
    val refManifests: Set[String] = m.snapshots.flatMap(s =>
      s.manifest +: MetaIO.loadManifestEntries(conf, location, s).map(_.name)).toSet
    val mdir = new Path(MetaIO.metadataDir(location))
    val mfs = MetaIO.fs(conf, mdir.toString)
    if (mfs.exists(mdir)) {
      // superseded stats files: every append fold writes a fresh one, so
      // only the file the CURRENT properties reference stays load-bearing
      val liveStats = m.properties.get(TableFormat.StatsFile)
      val livePartStats = m.properties.get(TableFormat.PartStatsFile)
      mfs.listStatus(mdir).foreach { st =>
        val name = st.getPath.getName
        val orphanManifest = name.startsWith("manifest-") &&
          name.endsWith(".json") && !refManifests.contains(name)
        val orphanStats = name.startsWith("stats-") &&
          name.endsWith(".json") && !liveStats.contains(name)
        val orphanPartStats = name.startsWith("partition-stats-") &&
          name.endsWith(".json") && !livePartStats.contains(name)
        // superseded lineage settlements: each expiration writes a fresh
        // cumulative one; only the current property's file is load-bearing
        val orphanSettle = name.startsWith("lineage-settle-") &&
          name.endsWith(".json") &&
          !m.properties.get(TableFormat.RowLineageSettled).contains(name)
        val abandonedTmp = name.startsWith(".") && name.contains(".tmp-")
        if ((orphanManifest || orphanStats || orphanPartStats || orphanSettle ||
            abandonedTmp) && st.getModificationTime < olderThanMs) {
          val norm = if (st.getPath.toString.startsWith("file:"))
            st.getPath.toUri.getPath else st.getPath.toString
          MetaIO.delete(conf, norm)
          removed += norm
        }
      }
    }
    removed.result()
  }

  /** Bin-pack compaction (reference `rewrite_data_files`): partitions with
    * several files below `targetBytes` are rewritten into ~targetBytes
    * files; large files are left alone; table contents are unchanged.
    */
  def compact(targetBytes: Long = 128L << 20): GraftTable = {
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    val small = cur.filter(_.sizeBytes < targetBytes)
      .groupBy(f => (f.specId, f.partitionValues)).filter(_._2.size > 1)
      .values.flatten.toSeq
    if (small.isEmpty) return this
    val totalBytes = small.map(_.sizeBytes).sum
    val nOut = math.max(1, (totalBytes / targetBytes).toInt)
    // defaults materialize into the compacted files (Iceberg rewrites
    // do the same); once no pre-add file remains, fastMinMax serves
    // again. Lineage-preserving tables carry each row's id through the
    // repack — compaction reorders rows, so inheritance alone can't.
    val packed =
      (if (lineagePreserving(m)) lineageScan(m, currentManifest(m), small)
       else ScanPlanner.scan(spark, m, small, None))
        .repartition(nOut)
    val newFiles = writeDataFiles(packed, m)
    val untouched = cur.filterNot(f => small.exists(_.path == f.path))
    val hadLive = partitionStats(m).nonEmpty
    commitSnapshot(m, untouched ++ newFiles, "replace", newFiles.size,
      extraProperties = lineageMarker(m))
    refreshPartitionStatsIfLive(hadLive)
    this
  }

  /** Range-cluster the table by `cols` (the sort-order analogue of
    * Iceberg's rewrite with sort: data files get disjoint value ranges, so
    * min/max stats pruning on those columns approaches partition-pruning
    * effectiveness without a partition spec).
    */
  def cluster(cols: Seq[String], nFiles: Int = 0): GraftTable = {
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    if (cur.isEmpty) return this
    val n = if (nFiles > 0) nFiles
      else math.max(1, (cur.map(_.sizeBytes).sum / (128L << 20)).toInt)
    val src = // defaults-aware rewrite; preserve-mode rides row ids through
      if (lineagePreserving(m)) lineageScan(m, currentManifest(m), cur)
      else ScanPlanner.scan(spark, m, cur, None)
    val sorted = src
      .repartitionByRange(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    // distribution 'none': a hash-by-partition repartition here would
    // destroy the range layout this rewrite just produced
    val newFiles = writeDataFiles(sorted, m, distributionOverride = Some("none"))
    val hadLive = partitionStats(m).nonEmpty
    commitSnapshot(m, newFiles, "replace", newFiles.size,
      extraProperties = lineageMarker(m))
    refreshPartitionStatsIfLive(hadLive)
    this
  }

  /** Z-order clustering over two columns (see the N-column overload). */
  def clusterZOrder(colA: String, colB: String, nFiles: Int): GraftTable =
    clusterZOrder(Seq(colA, colB), nFiles)
  def clusterZOrder(colA: String, colB: String): GraftTable =
    clusterZOrder(Seq(colA, colB), 0)

  /** Z-order clustering over N numeric/timestamp columns: each value is
    * min-max normalized to ⌊63/N⌋ bits (≤16) and the bits interleaved
    * round-robin (pure bitwise builtins — stays in codegen), then the
    * table is rewritten range-partitioned on the z-value. Files end up
    * with tight min/max ranges on EVERY listed column, so stats pruning
    * works for predicates on any of them — what single-column clustering
    * can't give.
    */
  def clusterZOrder(cols: Seq[String], nFiles: Int = 0): GraftTable =
    clusterByCurve(cols, nFiles) { (normed, bits) =>
      (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        normed.zipWithIndex.foldLeft(acc) { case (a, (nc, j)) =>
          a.bitwiseOR(shiftleft(shiftright(nc, i).bitwiseAND(lit(1L)),
            i * normed.size + j).cast("long"))
        }
      }
    }

  def clusterHilbert(colA: String, colB: String): GraftTable =
    clusterHilbert(Seq(colA, colB), 0)

  /** Hilbert-curve clustering: same normalization and rewrite as
    * [[clusterZOrder]], but the sort key is the Hilbert-curve distance
    * (one codegen'd [[graft.functions.F.hilbertIndex]] call) instead of
    * interleaved bits. Consecutive curve positions are always ADJACENT
    * cells — z-order's interleave jumps across the space at carry
    * boundaries — so per-file min/max ranges stay tighter as the column
    * count grows, and stats pruning holds up on 3+ column predicate
    * mixes (ClusteringSpec measures it against z-order).
    */
  def clusterHilbert(cols: Seq[String], nFiles: Int = 0): GraftTable =
    clusterByCurve(cols, nFiles) { (normed, bits) =>
      graft.functions.F.hilbertIndex(array(normed: _*), bits)
    }

  /** Shared space-filling-curve rewrite: min-max normalize each column to
    * ⌊63/N⌋ bits (≤16, pure builtins, stays in codegen), build the curve
    * key, range-partition + sort on it, rewrite.
    */
  private def clusterByCurve(cols: Seq[String], nFiles: Int)(
      curve: (Seq[Column], Int) => Column): GraftTable = {
    require(cols.size >= 2, "curve clustering needs at least two columns")
    ensureMaterialized()
    val m = meta
    val cur = currentFiles(m)
    if (cur.isEmpty) return this
    val base = // defaults-aware bounds; preserve-mode rides row ids through
      if (lineagePreserving(m)) lineageScan(m, currentManifest(m), cur)
      else ScanPlanner.scan(spark, m, cur, None)
    val st = base.agg(
      min(col(cols.head).cast("double")),
      (Seq(max(col(cols.head).cast("double"))) ++
        cols.tail.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double"))))): _*
    ).head()
    // an all-null column yields null min/max: treat it as constant (curve
    // bits 0 for that axis) instead of crashing the rewrite
    def statAt(i: Int): Double = if (st.isNullAt(i)) 0.0 else st.getDouble(i)

    val bits = math.min(16, 63 / cols.size)
    val maxVal = (1L << bits) - 1
    def normBits(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(maxVal), greatest(lit(0L),
        ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * maxVal.toDouble).cast("long")))

    val normed = cols.zipWithIndex.map { case (c, j) =>
      normBits(c, statAt(2 * j), statAt(2 * j + 1))
    }
    val key = curve(normed, bits)
    val n = if (nFiles > 0) nFiles
      else math.max(1, (cur.map(_.sizeBytes).sum / (128L << 20)).toInt)
    val sorted = base.withColumn("__curve", key)
      .repartitionByRange(n, col("__curve"))
      .sortWithinPartitions(col("__curve"))
      .drop("__curve")
    val newFiles = writeDataFiles(sorted, m, distributionOverride = Some("none"))
    val hadLive = partitionStats(m).nonEmpty
    commitSnapshot(m, newFiles, "replace", newFiles.size,
      extraProperties = lineageMarker(m))
    refreshPartitionStatsIfLive(hadLive)
    this
  }

  /** Consolidate or re-cluster the current snapshot's manifests
    * (reference `rewrite_manifests`): data files are regrouped into
    * `target` child manifests sorted by partition value (path order for
    * unpartitioned tables), so each child's aggregated stat summary
    * covers a tight disjoint range and the planner can skip whole
    * manifests. Metadata-only and row-preserving: same snapshot id, same
    * files, full merge-on-read delete payload round-tripped (dropping it
    * would resurrect deleted rows) — history and the changelog are
    * unaffected, a new manifest LIST just replaces the pointer.
    */
  def rewriteManifests(target: Int = 1): GraftTable = {
    val m = meta
    m.currentSnapshot.foreach { s =>
      val md = manifestDataOf(s)
      val sorted = md.files.sortBy(f =>
        (f.partitionValues.toSeq.sortBy(_._1).map(_._2).mkString("/"), f.path))
      val per = math.max(1, math.ceil(sorted.size.toDouble / math.max(1, target)).toInt)
      val entries = sorted.grouped(per).toSeq.map { g =>
        val name = MetaIO.newManifestName(s.id)
        MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$name",
          MetaIO.manifestToJson(g))
        MetaIO.cachePut(location, name, g)
        ManifestStats.entryFor(name, g)
      }
      val listName =
        s"manifest-list-${s.id}-${UUID.randomUUID().toString.take(8)}.json"
      MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$listName",
        MetaIO.manifestListToJson(entries, md.deletePredicates,
          md.positionDeleteFiles, md.equalityDeletes))
      val snaps = m.snapshots.map(x =>
        if (x.id == s.id) x.copy(manifest = listName) else x)
      commitMetadataOnly(m.copy(version = m.version + 1, snapshots = snaps))
    }
    this
  }

  // --------------------------------------------------------- evolution

  /** Schema evolution: ADD COLUMN (reference limitations.md example).
    * Existing files read back with nulls for the new column. If the name
    * was ever used physically before (a dropped column, or a name freed by
    * a rename whose physical stayed behind), the new column gets a FRESH
    * physical name — old bytes can never resurrect under a re-added name
    * (the reason Iceberg never reuses field ids).
    */
  def addColumn(name: String, dataType: DataType): GraftTable =
    evolveSchema(Seq(SchemaOp.Add(name, dataType)))

  /** ADD COLUMN with an initial default (Iceberg v3 `initial-default`):
    * rows of files written before this commit read `default` instead of
    * null; later files carry real values (their nulls stay null) — see
    * [[ColumnDefaults]].
    */
  def addColumnWithDefault(name: String, dataType: DataType,
      default: Any): GraftTable =
    evolveSchema(Seq(SchemaOp.Add(name, dataType, Some(default))))

  /** Apply a BATCH of schema operations in ONE metadata commit (the shape
    * of Iceberg's UpdateSchema transaction — all pending changes land as
    * one new schema id). Ops reference PRE-evolution names; renames apply
    * simultaneously, so a batch that permutes names (a↔b) resolves
    * atomically without temp names — which is what lets a CDC consumer
    * replay an arbitrary source evolution ([[SchemaDiff.diff]]) without
    * observing intermediate states. All single-op rules hold: drops retire
    * their physical name (re-adds map to fresh storage), widens are the
    * lossless promotions only, non-add ops refuse under pending
    * merge-on-read deletes (whose files/predicates carry old names).
    * `extraProperties` commit atomically with the schema — the cursor
    * ride-along for consumers tracking which source schema they applied.
    */
  def evolveSchema(ops: Seq[SchemaOp],
      extraProperties: Map[String, String] = Map.empty): GraftTable = {
    if (ops.isEmpty) {
      if (extraProperties.nonEmpty) { setProperties(extraProperties); () }
      return this
    }
    val m = meta
    if (ops.exists(!_.isInstanceOf[SchemaOp.Add]))
      requireNoPendingMor("evolveSchema")
    var fields = m.schema.fields.toVector
    def idxOf(name: String): Int = {
      val i = fields.indexWhere(_.name == name)
      require(i >= 0, s"unknown column $name")
      i
    }
    // 1. widens (pre-evolution names)
    ops.collect { case w: SchemaOp.Widen => w }.foreach { w =>
      val i = idxOf(w.name)
      val from = fields(i).dataType
      val ok = (from, w.to) match {
        case (IntegerType, LongType)   => true
        case (FloatType, DoubleType)   => true
        case (IntegerType, DoubleType) => true
        case _                         => from == w.to
      }
      require(ok, s"unsupported widening $from -> ${w.to} (allowed: " +
        "int->long, float->double, int->double)")
      fields = fields.updated(i, fields(i).copy(dataType = w.to))
    }
    // 2. drops (pre-evolution names); physicals retire so re-adds can
    //    never resurrect old bytes
    var retired = m.properties.get(ColumnMapping.RetiredProp).toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    val retiredBefore = retired.size
    ops.collect { case d: SchemaOp.Drop => d }.foreach { d =>
      val i = idxOf(d.name)
      require(fields.length > 1, "cannot drop the only column")
      val phys = ColumnMapping.physicalName(fields(i))
      require(!m.currentSpec.fields.exists(_.source == phys),
        s"${d.name} is a partition source of the current spec; evolve the spec first")
      retired :+= phys
      fields = fields.patch(i, Nil, 1)
    }
    // 3. renames, simultaneously (swap-safe: the final name array is
    //    built in one step, so permutations need no temp names)
    val renames = ops.collect { case r: SchemaOp.Rename => r }
    renames.foreach(r => { idxOf(r.from); () })
    val renameMap = renames.map(r => r.from -> r.to).toMap
    require(renameMap.size == renames.size, "duplicate rename sources")
    fields = fields.map { f =>
      renameMap.get(f.name) match {
        case Some(to) => ColumnMapping.withPhysical(
          f.copy(name = to), ColumnMapping.physicalName(f))
        case None => f
      }
    }
    // 4. adds (fresh physical when the name was ever used on disk)
    var reserved = ColumnMapping.reservedPhysical(m) ++ retired
    ops.collect { case a: SchemaOp.Add => a }.foreach { a =>
      require(!fields.exists(_.name == a.name), s"column ${a.name} exists")
      val field0 =
        if (!reserved.contains(a.name)) {
          reserved += a.name
          StructField(a.name, a.dataType, nullable = true)
        } else {
          var i = 2
          while (reserved.contains(s"${a.name}_$i")) i += 1
          reserved += s"${a.name}_$i"
          ColumnMapping.withPhysical(
            StructField(a.name, a.dataType, nullable = true), s"${a.name}_$i")
        }
      // initial-default (Iceberg v3 model): rides the field with the
      // sequence boundary — files already on disk (seq < boundary) read
      // the default, files written from now on carry real values
      fields :+= a.default.map(v =>
        ColumnDefaults.withDefault(field0, v, nextSnapshotId(m)))
        .getOrElse(field0)
    }
    val names = fields.map(_.name)
    require(names.distinct.size == names.size,
      s"evolution produces duplicate column names: ${names.mkString(", ")}")
    val retireProps =
      if (retired.size == retiredBefore) Map.empty[String, String]
      else Map(ColumnMapping.RetiredProp -> retired.mkString(","))
    commitSchemaChange(m, StructType(fields.toArray),
      retireProps ++ extraProperties)
    this
  }

  /** Every schema change appends a SchemaVersion and moves
    * currentSchemaId; snapshots stamp the id they commit under, so time
    * travel can read them with their own schema ([[asOf]]).
    */
  private def commitSchemaChange(m: TableMeta, newSchema: StructType,
      extraProps: Map[String, String] = Map.empty): TableMeta = {
    val hist =
      if (m.schemasHistory.nonEmpty) m.schemasHistory
      else Seq(SchemaVersion(m.currentSchemaId, m.schema))
    val nid = hist.map(_.id).max + 1
    commitMetadataOnly(m.copy(version = m.version + 1, schema = newSchema,
      schemasHistory = hist :+ SchemaVersion(nid, newSchema),
      currentSchemaId = nid,
      properties = m.properties ++ extraProps))
  }

  /** Pending merge-on-read state stores column names as of ITS commit
    * (equality-delete parquet headers, predicate SQL strings) — a name or
    * type change under it would silently decouple the deletes from the
    * rows they target. Evolution refuses loudly; materialize first.
    */
  private def requireNoPendingMor(op: String): Unit = {
    val md = currentManifest()
    require(md.deletePredicates.isEmpty && md.positionDeleteFiles.isEmpty &&
        md.equalityDeletes.isEmpty,
      s"$op with pending merge-on-read deletes: run materializeDeletes() first")
  }

  /** Schema evolution: RENAME COLUMN — metadata-only at any scale. The
    * field keeps its physical (on-disk) name via [[ColumnMapping]]; every
    * existing and future data file stays valid, reads project
    * physical→logical, writes project back.
    */
  def renameColumn(from: String, to: String): GraftTable =
    evolveSchema(Seq(SchemaOp.Rename(from, to)))

  /** Schema evolution: DROP COLUMN — metadata-only; old files keep the
    * bytes but no read projects them. The physical name is retired so a
    * later ADD COLUMN of the same name maps to fresh storage.
    */
  def dropColumn(name: String): GraftTable =
    evolveSchema(Seq(SchemaOp.Drop(name)))

  /** Schema evolution: widen a column's type in place (Iceberg's type
    * promotion rules) — metadata-only; old files are read through the
    * wider type by the parquet reader's widening conversions, new files
    * write the wider type. Only the lossless promotions are allowed.
    */
  def widenColumn(name: String, to: DataType): GraftTable =
    evolveSchema(Seq(SchemaOp.Widen(name, to)))

  /** Partition evolution: new writes use the new spec, old files keep the
    * old one, the scan planner prunes each file with its own spec
    * (reference `ALTER TABLE … SET PARTITION SPEC`). Sources are given as
    * logical names and stored physical (rename-proof, like Iceberg specs
    * referencing field ids).
    */
  def setPartitionSpec(fields: Seq[PartitionField],
      extraProperties: Map[String, String] = Map.empty): GraftTable = {
    val m = meta
    val phys = fields.map(f =>
      f.copy(source = ColumnMapping.physicalOf(m.schema, f.source)))
    val newSpec = PartitionSpec((m.specs.map(_.specId) :+ -1).max + 1, phys)
    commitMetadataOnly(m.copy(version = m.version + 1,
      specs = m.specs :+ newSpec, currentSpecId = newSpec.specId,
      properties = m.properties ++ extraProperties))
    this
  }

  def setProperties(props: Map[String, String]): GraftTable = {
    val m = meta
    commitMetadataOnly(m.copy(version = m.version + 1, properties = m.properties ++ props))
    this
  }

  /** Declare the write-time sort order (Iceberg `ALTER TABLE … WRITE
    * ORDERED BY`): a metadata-only property commit; every subsequent
    * data-producing write range-distributes + locally sorts to it, so
    * sort-key pruning holds without a maintenance `cluster()` pass.
    * Columns are LOGICAL names (rename-safe — writes re-resolve the
    * physical mapping per commit). Empty clears the order.
    */
  def setSortOrder(cols: Seq[String]): GraftTable = {
    val m = meta
    cols.foreach(c => require(m.schema.fieldNames.contains(c),
      s"sort column $c not in schema ${m.schema.fieldNames.mkString(",")}"))
    setProperties(Map(TableFormat.SortOrder -> cols.mkString(",")))
  }

  /** The declared write-time sort order, empty when none. */
  def sortOrder: Seq[String] =
    meta.properties.get(TableFormat.SortOrder)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
}

object GraftTable {

  /** The row-level multiset diff `before` → `after` as a changelog frame
    * (the columns of `before`, then `_change_type`), in ONE aggregate:
    * rows of `before` count −1 and rows of `after` +1, grouped by every
    * column, and a group's net n emits |n| copies typed 'insert' (n > 0)
    * or 'delete' (n < 0). That is `before.exceptAll(after)` tagged
    * 'delete' plus `after.exceptAll(before)` tagged 'insert' — the same
    * grouping semantics (NULLs group together; NaN and −0.0 normalize
    * like any Spark grouping) — but reading each side once and shuffling
    * once, where the two `exceptAll`s read and shuffle both sides twice.
    */
  private[tables] def netDiff(before: DataFrame, after: DataFrame): DataFrame = {
    val cols = before.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    val n = "__graft_net"
    before.select(cols :+ lit(-1L).as(n): _*)
      .unionAll(after.select(cols :+ lit(1L).as(n): _*))
      .groupBy(cols: _*).agg(sum(col(n)).as(n))
      .filter(col(n) =!= 0L)
      .select(cols ++ Seq(
        when(col(n) > 0L, lit("insert")).otherwise(lit("delete")).as("_change_type"),
        explode(sequence(lit(1L), abs(col(n)))).as(n)): _*)
      .drop(n)
  }

  /** Footer-stat bounds (the FooterStats normalized domain: longs for
    * integrals/date-days/timestamp-micros, doubles, booleans) converted
    * to the Catalyst-internal values [[org.apache.spark.sql.catalyst.plans.logical.ColumnStat]]
    * expects for the column's LOGICAL type — the same representation
    * Spark's own ANALYZE stores, so CBO's interval arithmetic reads them
    * natively. Types CBO range estimation doesn't model (strings,
    * binary) and any stored-type mismatch return no bounds: planner
    * stats must degrade, never lie.
    */
  private[tables] def catalystBounds(dt: DataType, cs: ColStats): (Option[Any], Option[Any]) = {
    def conv(v: Any): Option[Any] = (dt, v) match {
      case (ByteType, x: Long)      => Some(x.toByte)
      case (ShortType, x: Long)     => Some(x.toShort)
      case (IntegerType, x: Long)   => Some(x.toInt)
      case (LongType, x: Long)      => Some(x)
      case (DateType, x: Long)      => Some(x.toInt) // epoch days
      case (_: TimestampType | _: TimestampNTZType, x: Long) => Some(x) // micros
      case (FloatType, x: Double)   => Some(x.toFloat)
      case (DoubleType, x: Double)  => Some(x)
      case (d: DecimalType, x: Double) =>
        // normalized lossily to double at footer read; round back to the
        // column's scale — an estimate-grade bound, exact for the
        // INT32/INT64-backed precisions the footer path admits
        Some(Decimal(BigDecimal(x).setScale(d.scale, BigDecimal.RoundingMode.HALF_UP)))
      case (BooleanType, x: Boolean) => Some(x)
      case _ => None
    }
    (for { mn <- cs.min; mx <- cs.max; lo <- conv(mn); hi <- conv(mx) }
      yield (Some(lo), Some(hi))).getOrElse((None, None))
  }

  // position-delete file_path bounds, cached process-wide (delete files
  // are immutable). Stored strings carry the _metadata scheme
  // ("file:/…") — normalized to the manifest's stripped form so range
  // checks compare like with like.
  private val posBoundsCache =
    new java.util.LinkedHashMap[String, Option[(String, String)]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[(String, String)]]): Boolean =
        size() > 4096
    }

  private[tables] def posDeleteBounds(conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[(String, String)] = {
    val hit = posBoundsCache.synchronized(posBoundsCache.get(path))
    if (hit != null) hit
    else {
      def strip(p: String): String =
        if (p.startsWith("file:")) new Path(p).toUri.getPath else p
      val computed =
        try {
          val (_, stats) = FooterStats.read(conf, path,
            StructType(Seq(StructField("file_path", StringType))))
          stats.get("file_path").flatMap(s =>
            for { mn <- s.min; mx <- s.max }
              yield (strip(mn.toString), strip(mx.toString)))
        } catch { case _: Exception => None }
      posBoundsCache.synchronized { posBoundsCache.put(path, computed); () }
      computed
    }
  }

  /** Is `path` a deletion-vector delete file (one bitmap row per data
    * file) rather than a classic row-per-delete position file? Encoded in
    * the file's directory name at write time — an O(1) string test, no
    * footer read, mirroring how Iceberg v3 distinguishes DV blobs from v2
    * position-delete files by manifest content type.
    */
  private[graft] def isDvFile(path: String): Boolean = path.contains("/deletes/dv-")

  private lazy val bitmapAggUdf =
    org.apache.spark.sql.functions.udaf(new graft.functions.BitmapAgg(),
      org.apache.spark.sql.Encoders.LONG)

  /** Aggregate a long position column into one deletion-vector bitmap
    * (write/fold path only — the read path is codegen'd).
    */
  private[tables] def bitmapAgg(pos: Column): Column = bitmapAggUdf(pos)

  private lazy val bitmapMergeAggUdf =
    org.apache.spark.sql.functions.udaf(new graft.functions.BitmapMergeAgg(),
      org.apache.spark.sql.Encoders.BINARY)

  /** OR-fold a column of encoded bitmaps into one (DV compaction): no
    * position ever explodes through the shuffle — the aggregation state
    * is one encoded bitmap per group.
    */
  private[tables] def bitmapMergeAgg(bm: Column): Column = bitmapMergeAggUdf(bm)

  /** Shared bounded pool for concurrent footer reads at commit time (I/O
    * bound; daemon threads so it never blocks JVM exit).
    */
  private[tables] lazy val footerPool: scala.collection.parallel.TaskSupport =
    new scala.collection.parallel.ExecutionContextTaskSupport(
      scala.concurrent.ExecutionContext.fromExecutorService(
        java.util.concurrent.Executors.newFixedThreadPool(16,
          (r: Runnable) => {
            val t = new Thread(r, "graft-footer-stats")
            t.setDaemon(true)
            t
          })))

  /** Small daemon pool for overlapping a commit's independent write
    * actions (merge delete-key file vs data files). Spark job submission
    * is thread-safe; the pool is tiny because each task is one blocking
    * Spark action, not compute.
    */
  private[tables] lazy val commitWriteEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-commit-write")
          t.setDaemon(true)
          t
        }))

  /** CTAS (reference "Import: CTAS"): create a table from a query result. */
  def createAs(spark: SparkSession, location: String, df: DataFrame,
      partitionFields: Seq[PartitionField] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = createEmpty(spark, location, df.schema, partitionFields, properties)
    t.append(df)
  }

  def createEmpty(spark: SparkSession, location: String, schema: StructType,
      partitionFields: Seq[PartitionField] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(MetaIO.currentVersion(conf, location).isEmpty, s"table exists at $location")
    val m = TableMeta(location, 1, schema,
      Seq(PartitionSpec(0, partitionFields)), 0, Nil, None, properties)
    MetaIO.commitMeta(conf, m)
    new GraftTable(spark, location)
  }

  /** In-place migration (reference "in-place" import: ALTER TABLE … SET
    * storage_handler): register an existing parquet directory as a table
    * without rewriting any data — manifests point at the original files.
    */
  def migrateInPlace(spark: SparkSession, location: String, sourceDir: String): GraftTable = {
    val schema = Pq.readStable(spark, sourceDir).schema
    val t = createEmpty(spark, location, schema, Nil, Map.empty)
    val m = t.meta
    // same stats pass as the write path, over the source files — which an
    // external writer produced, so string bounds are not aggregate-trusted
    val entries = t.collectFileEntries(sourceDir, m, 0)
      .map(_.copy(trustedBounds = false))
    val snapId = 1L
    val manifestName = MetaIO.newManifestName(snapId)
    MetaIO.writeString(conf = spark.sparkContext.hadoopConfiguration,
      path = s"${MetaIO.metadataDir(location)}/$manifestName",
      content = MetaIO.manifestToJson(entries))
    val snap = Snapshot(snapId, None, System.currentTimeMillis(), "migrate",
      manifestName, entries.size, entries.size, entries.map(_.recordCount).sum)
    MetaIO.commitMeta(spark.sparkContext.hadoopConfiguration,
      m.copy(version = m.version + 1, snapshots = Seq(snap), currentSnapshotId = Some(snapId)))
    t
  }

  def load(spark: SparkSession, location: String): GraftTable = new GraftTable(spark, location)

  /** Zero-copy TABLE SNAPSHOT (Iceberg's `snapshot` procedure — the
    * third migration leg beside in-place migrate and `add_files`): a NEW
    * independent table at `location` whose first snapshot references the
    * source's CURRENT data files — and its pending merge-on-read delete
    * payloads, so the copy reads exactly what the source reads — all IN
    * PLACE. No bytes copy; the source is untouched, and the two tables
    * evolve independently from here: the copy's writes and rewrites land
    * under its OWN location, and maintenance can never reclaim the
    * borrowed files because expiration and orphan sweeps only ever
    * delete under a table's own data/deletes dirs (the invariant
    * Iceberg's `gc.enabled=false` enforces on its snapshot tables —
    * here it holds for every table by construction). Partition specs
    * copy whole (file entries reference their spec ids); source
    * stats/lineage pointer properties are dropped (they name files in
    * the source's metadata dir — recompute on the copy when needed).
    */
  def snapshotOf(source: GraftTable, location: String): GraftTable = {
    val spark = source.spark
    val conf = spark.sparkContext.hadoopConfiguration
    require(MetaIO.currentVersion(conf, location).isEmpty,
      s"table exists at $location")
    val sm = source.meta
    val md = source.currentManifest(sm)
    val dropProps = Set(TableFormat.StatsFile, TableFormat.StatsSnapshot,
      TableFormat.PartStatsFile, TableFormat.PartStatsSnapshot,
      TableFormat.RowLineageSettled)
    val snapId = 1L
    val manifestName = MetaIO.newManifestName(snapId)
    MetaIO.writeString(conf, s"${MetaIO.metadataDir(location)}/$manifestName",
      MetaIO.manifestToJson(md.files, md.deletePredicates,
        md.positionDeleteFiles, md.equalityDeletes))
    val snap = Snapshot(snapId, None, System.currentTimeMillis(), "snapshot",
      manifestName, md.files.size, md.files.size,
      md.files.map(_.recordCount).sum)
    MetaIO.commitMeta(conf, TableMeta(location, 1, sm.schema, sm.specs,
      sm.currentSpecId, Seq(snap), Some(snapId),
      (sm.properties -- dropProps) +
        (TableFormat.SnapshotSource -> sm.location)))
    new GraftTable(spark, location)
  }
}
