package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.tables._
import scala.collection.mutable
import scala.util.matching.Regex

/** SQL facade over the GraftTable layer: accepts the workshop's DDL/DML
  * statement shapes and routes them onto the versioned-table API, so the
  * reference's SQL scripts port 1:1:
  *
  *  - `CREATE TABLE t [PARTITIONED BY (...)] [TBLPROPERTIES(...)] AS SELECT ...`
  *    (reference sql/airlines.sql CTAS import)
  *  - `CREATE DATABASE db` / `DROP DATABASE [IF EXISTS] db [CASCADE]` —
  *    db-qualified names are normalized to a flat `db__name` namespace
  *  - `CREATE EXTERNAL TABLE t (cols) ROW FORMAT DELIMITED FIELDS
  *    TERMINATED BY ',' ... STORED AS TEXTFILE LOCATION '...'
  *    TBLPROPERTIES("skip.header.line.count"="1")` — CSV staging table
  *    (sql/airlines.sql:5-46), re-scanned per reference; `${var}`
  *    placeholders in statements bind via [[setVar]]
  *  - `INSERT INTO t SELECT ...` / `INSERT INTO t VALUES (...)` /
  *    `INSERT OVERWRITE t SELECT ...`
  *  - `MERGE INTO t [AS x] USING (...) [AS y] ON ... WHEN MATCHED THEN
  *    UPDATE ... WHEN NOT MATCHED THEN INSERT ...` (update_iceberg_v2_examples.sql:9-18)
  *  - `UPDATE t SET c = e, ... WHERE cond` / `DELETE FROM t WHERE cond` /
  *    `TRUNCATE TABLE t`
  *  - `ALTER TABLE t ADD COLUMNS (c type, ...)` (limitations.md schema evolution)
  *  - `ALTER TABLE t SET PARTITION SPEC (years(c), bucket(8, c), ...)`
  *    (partition evolution; iceberg_partitioning_examples.sql)
  *  - `ALTER TABLE t SET TBLPROPERTIES('k'='v', ...)`
  *  - `ALTER TABLE t EXECUTE rollback(<snapshot-id>)` and
  *    `ALTER TABLE t EXECUTE expire_snapshots('<timestamp>')` (README.md
  *    "Time travel" / "Maintenance")
  *  - `CALL system.rewrite_data_files('t')` / `CALL system.rewrite_manifests('t')`
  *  - `CALL system.compute_partition_stats('t')` (persisted partition statistics;
  *    appends fold, `.partitions` serves in O(partitions))
  *  - `CALL system.cherrypick_snapshot('t', <snapshot-id>)` (divergent-WAP publish)
  *  - `CALL system.add_files('t', '<dir>'[, 'orc'|'avro'])` (in-place file
  *    registration, per-file format in the manifest)
  *  - `CALL system.snapshot('src', 'target')` (zero-copy table snapshot)
  *  - `CALL system.create_changelog_view('t', <from>, <to>)` → queryable
  *    `<t>_changes` view of the row-level changelog
  *  - `DESCRIBE HISTORY t`
  *  - `SELECT ... FROM t [FOR SYSTEM_TIME AS OF '<ts>']
  *    [FOR SYSTEM_VERSION AS OF <id>] ...` — time travel inline in queries
  *
  * Anything not matching a managed-table statement falls through to
  * `spark.sql` untouched (with managed tables visible as temp views), so
  * the full Spark SQL surface composes with the table layer.
  *
  * Statement routing is intentionally shape-based (anchored regexes over
  * the statement head): the goal is the workshop's command surface, not a
  * general SQL parser — Catalyst keeps doing all expression parsing.
  */
class GraftSql(val spark: SparkSession, warehouse: String,
    catalog: Option[(graft.catalog.RestCatalogClient, Seq[String])] = None) {

  private val tables = mutable.LinkedHashMap[String, String]() // name -> location
  // EXTERNAL (non-versioned) sources: name -> lazily re-read DataFrame —
  // CSV staging tables re-scan their location on every reference, like a
  // Hive external table over a landing directory
  private val externals = mutable.LinkedHashMap[String, () => DataFrame]()
  private val databases = mutable.Set[String]()
  private val vars = mutable.Map[String, String]()
  // SQL views: name -> the CURRENT version's definition. In catalog mode
  // definitions round-trip through the REST view surface (versioned
  // Iceberg view metadata — every redefinition is a new immutable
  // version); locally they live only in this map.
  private val viewDefs = mutable.LinkedHashMap[String, String]()
  // views being staged right now — breaks definition cycles (v1 -> v2 -> v1)
  private val viewStack = mutable.Set[String]()

  /** Bind `${name}` placeholders in statements (reference scripts use
    * `${bucket}` for the staging location root).
    */
  def setVar(name: String, value: String): Unit = vars(name) = value

  def location(name: String): String = tables.getOrElse(name,
    catalog.flatMap { case (c, ns) =>
      // catalog-mode discovery: another session may have created the
      // table; loadTable resolves it and the local map caches the
      // (immutable) location. A successful load also proves catalog
      // registration — no later exists-probe needed.
      if (c.tableExists(ns, name)) {
        val loc = c.loadTable(ns, name).location
        tables(name) = loc
        catalogKnown += name
        Some(loc)
      } else None
    }.getOrElse(
      throw new IllegalArgumentException(s"unknown graft table: $name")))

  // tables confirmed registered with the catalog — after confirmation a
  // handle attaches with ZERO catalog round trips (locations are
  // immutable; commits still ride the wire through the delegate)
  private val catalogKnown = mutable.Set[String]()

  /** Handles in catalog mode COMMIT through the catalog (the REST
    * requirements/updates CAS) — every INSERT/MERGE/ALTER the SQL facade
    * issues is arbitrated by the server, not the local filesystem CAS.
    * A locally-reserved name whose table was created out-of-band is
    * retro-registered on first access; a reservation with no metadata
    * anywhere still serves the plain local handle (parity with
    * non-catalog mode).
    */
  def table(name: String): GraftTable = catalog match {
    case Some((c, ns)) =>
      val loc = location(name)
      if (!catalogKnown.contains(name)) register(name, loc)
      if (catalogKnown.contains(name)) c.attach(spark, ns, name, loc)
      else GraftTable.load(spark, loc)
    case None => GraftTable.load(spark, location(name))
  }

  /** Adopt an existing GraftTable (or reserve a location) under `name`;
    * in catalog mode the table is also registered with the catalog (the
    * spec's `register` endpoint) so other sessions can discover it.
    */
  def register(name: String, loc: String): Unit = {
    tables(name) = loc
    catalog.foreach { case (c, ns) =>
      if (!catalogKnown.contains(name)) {
        val known = c.tableExists(ns, name) || {
          val conf = spark.sparkContext.hadoopConfiguration
          graft.tables.MetaIO.currentVersion(conf, loc).exists { v =>
            try {
              c.registerTable(ns, name, graft.tables.MetaIO.metadataPath(loc, v))
              true
            } catch {
              // a concurrent session won the registration race: same name,
              // already catalog-known
              case e: c.CatalogException if e.code == 409 => true
            }
          }
        }
        if (known) { catalogKnown += name; () }
      }
    }
  }

  /** In-place migration of a parquet dir (reference "in-place" import). */
  def migrate(name: String, sourceDir: String): GraftTable = {
    val t = GraftTable.migrateInPlace(spark, s"$warehouse/$name", sourceDir)
    register(name, s"$warehouse/$name")
    t
  }

  // --------------------------------------------------------- statement regexes

  private def r(p: String): Regex = ("(?is)^" + p + "$").r

  private val CreateDb = r("""CREATE\s+DATABASE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)""")
  private val DropDb = r("""DROP\s+DATABASE\s+(?:IF\s+EXISTS\s+)?(\w+)(?:\s+CASCADE)?""")
  private val CreateHead = r("""CREATE\s+(EXTERNAL\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s*(.*)""")
  private val InsertSel = r("""INSERT\s+INTO\s+(?:TABLE\s+)?(\w+)\s+(?:PARTITION\s*\(([^)]*)\)\s+)?(SELECT\b.*|FROM\b.*)""")
  private val InsertVals = r("""INSERT\s+INTO\s+(?:TABLE\s+)?(\w+)\s+(?:PARTITION\s*\(([^)]*)\)\s+)?VALUES\s*(.*)""")
  private val DropTable = r("""DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)(?:\s+PURGE)?""")
  private val InsertOver = r("""INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(\w+)\s+(SELECT\b.*)""")
  // USING body is extracted separately (takeBalanced for subqueries) so a
  // `JOIN ... ON` inside the subquery can't bind the merge's own ON token
  private val MergeHead = r("""MERGE\s+INTO\s+(\w+)(?:\s+AS\s+(\w+))?\s+USING\s+(.*)""")
  // source alias, ON condition (up to the first WHEN), WHEN-clause list
  private val MergeOnWhen =
    """(?is)^(?:AS\s+)?(?:(\w+)\s+)?ON\s+(.*?)\s+(WHEN\s+.*)$""".r
  private val Delete = r("""DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.*)""")
  private val Update = r("""UPDATE\s+(\w+)\s+SET\s+(.*?)\s+WHERE\s+(.*)""")
  private val Truncate = r("""TRUNCATE\s+(?:TABLE\s+)?(\w+)""")
  private val AddCols = r("""ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS?\s*\(?\s*(.*?)\s*\)?""")
  private val AnalyzeCols = r(
    """ANALYZE\s+TABLE\s+(\w+)\s+COMPUTE\s+STATISTICS\s+FOR\s+COLUMNS\s+(.*)""")
  private val CreateMv = r(
    """CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+AS\s+SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+WHERE\s+(.*?))?\s+GROUP\s+BY\s+(.*)""")
  private val RefreshMv = r("""REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)""")
  // plain SQL views (the Iceberg VIEW spec surface in catalog mode):
  // the body must start at a query head so CREATE MATERIALIZED VIEW
  // keeps its own route and DDL typos don't parse as definitions
  private val CreateView = r(
    """CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+((?:SELECT|WITH|FROM)\b.*)""")
  private val AlterViewAs = r("""ALTER\s+VIEW\s+(\w+)\s+AS\s+((?:SELECT|WITH|FROM)\b.*)""")
  private val DropViewStmt = r("""DROP\s+VIEW\s+(?:IF\s+EXISTS\s+)?(\w+)""")
  private val ShowViews = r("""SHOW\s+VIEWS""")
  private val RenameCol = r("""ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)""")
  private val DropCol = r("""ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)""")
  private val AlterColType = r("""ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+(\w+)""")
  private val SetSpec = r("""ALTER\s+TABLE\s+(\w+)\s+SET\s+PARTITION\s+SPEC\s*\((.*)\)""")
  private val SetProps = r("""ALTER\s+TABLE\s+(\w+)\s+SET\s+TBLPROPERTIES\s*\((.*)\)""")
  private val WriteOrdered = r("""ALTER\s+TABLE\s+(\w+)\s+WRITE\s+ORDERED\s+BY\s*\(?\s*([\w\s,]*?)\s*\)?""")
  private val WriteUnordered = r("""ALTER\s+TABLE\s+(\w+)\s+WRITE\s+UNORDERED""")
  private val CreateRef = r("""ALTER\s+TABLE\s+(\w+)\s+CREATE\s+(TAG|BRANCH)\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?""")
  private val DropRef = r("""ALTER\s+TABLE\s+(\w+)\s+DROP\s+(?:TAG|BRANCH)\s+(\w+)""")
  private val CallFastForward = r("""CALL\s+[\w.]*FAST_FORWARD\s*\(\s*["']([\w.]+)["']\s*,\s*["'](\w+)["']\s*\)""")
  private val CallCherryPick =
    r("""CALL\s+[\w.]*CHERRYPICK_SNAPSHOT\s*\(\s*["']([\w.]+)["']\s*,\s*(\d+)\s*\)""")
  private val ExecRollback = r("""ALTER\s+TABLE\s+(\w+)\s+EXECUTE\s+ROLLBACK\s*\(\s*["']?(\d+)["']?\s*\)""")
  private val ExecExpire = r("""ALTER\s+TABLE\s+(\w+)\s+EXECUTE\s+EXPIRE_SNAPSHOTS\s*\(\s*(.*?)\s*\)""")
  private val CallRewriteFiles = r("""CALL\s+[\w.]*REWRITE_DATA_FILES\s*\(\s*["']([\w.]+)["']\s*\)""")
  private val CallRewriteManifests = r("""CALL\s+[\w.]*REWRITE_MANIFESTS\s*\(\s*["']([\w.]+)["']\s*\)""")
  private val CallComputePartStats =
    r("""CALL\s+[\w.]*COMPUTE_PARTITION_STATS\s*\(\s*["']([\w.]+)["']\s*\)""")
  private val CallRemoveOrphans =
    r("""CALL\s+[\w.]*REMOVE_ORPHAN_FILES\s*\(\s*["']([\w.]+)["']\s*(?:,\s*(\d+)\s*)?\)""")
  private val CallAddFiles =
    r("""CALL\s+[\w.]*ADD_FILES\s*\(\s*["']([\w.]+)["']\s*,\s*["'](.+?)["']\s*(?:,\s*["'](\w+)["']\s*)?\)""")
  // (?<!_) keeps CHERRYPICK_SNAPSHOT out of this pattern's prefix
  private val CallSnapshot =
    r("""CALL\s+[\w.]*(?<!_)SNAPSHOT\s*\(\s*["']([\w.]+)["']\s*,\s*["']([\w.]+)["']\s*\)""")
  private val CallChangelogView =
    r("""CALL\s+[\w.]*CREATE_CHANGELOG_VIEW\s*\(\s*["']([\w.]+)["']\s*,\s*(\d+)\s*,\s*(\d+)\s*\)""")
  private val CallRegisterIceberg =
    r("""CALL\s+[\w.]*REGISTER_ICEBERG\s*\(\s*["']([\w.]+)["']\s*,\s*["'](.+?)["']\s*\)""")
  private val CallExportIceberg =
    r("""CALL\s+[\w.]*EXPORT_ICEBERG\s*\(\s*["']([\w.]+)["']\s*,\s*["'](.+?)["']\s*(?:,\s*(\d+)\s*)?\)""")
  private val DescHistory = r("""DESCRIBE\s+HISTORY\s+(\w+)""")
  private val ShowTables = r("""SHOW\s+TABLES(?:\s+IN\s+(\w+))?""")
  private val ShowPartitions = r("""SHOW\s+PARTITIONS\s+(\w+)""")
  private val Describe = r("""DESCRIBE\s+(?:FORMATTED\s+|EXTENDED\s+)?(\w+)""")

  private val AsOfTime = """(?is)(\w+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?:TIMESTAMP\s+)?["']([^"']+)["']""".r
  // numeric snapshot id, or a tag/branch name
  private val AsOfVersion = """(?is)(\w+)\s+FOR\s+SYSTEM_VERSION\s+AS\s+OF\s+["']?(\w+)["']?""".r

  // --------------------------------------------------------- entry point

  def sql(statement: String): DataFrame = {
    // ${var} substitution, then db-qualified names normalized to simple
    // identifiers (staging.flights_csv -> staging__flights_csv) so the
    // whole shape-based surface — and Spark temp views, which cannot hold
    // dots — sees one flat namespace per database
    var stmt = statement.trim.stripSuffix(";").trim
    stmt = """\$\{(\w+)\}""".r.replaceAllIn(stmt, m =>
      Regex.quoteReplacement(vars.getOrElse(m.group(1),
        throw new IllegalArgumentException(s"unbound variable $${${m.group(1)}}"))))
    databases.foreach { db =>
      val rx = ("(?i)\\b" + Regex.quote(db) + "\\.(\\w+)").r
      // identifier positions only: a database named 'skip' must not corrupt
      // TBLPROPERTIES("skip.header.line.count") or quoted LOCATION paths
      stmt = mapUnquoted(stmt)(seg => rx.replaceAllIn(seg, db + "__$1"))
    }
    stmt match {
      case CreateDb(name) =>
        databases += name.toLowerCase; status("create-database", name)
      case DropDb(name) =>
        val prefix = name.toLowerCase + "__"
        tables.keys.filter(_.startsWith(prefix)).toSeq.foreach(tables.remove)
        externals.keys.filter(_.startsWith(prefix)).toSeq.foreach(externals.remove)
        databases -= name.toLowerCase
        status("drop-database", name)
      case CreateHead(external, name, rest) =>
        handleCreate(name, rest, external != null)
      case InsertOver(name, select) =>
        // Hive/Iceberg dynamic-overwrite mode: on a partitioned table with
        // write.overwrite-mode=dynamic, replace only the touched partitions
        val t = table(name)
        val dyn = t.meta.currentSpec.fields.nonEmpty &&
          t.meta.properties.get("write.overwrite-mode").contains("dynamic")
        val rows = conform(name, runSelect(select))
        if (dyn) t.overwritePartitions(rows) else t.overwrite(rows)
        status("overwrite", name)
      case InsertSel(name, part, select) =>
        table(name).append(conform(name,
          applyStaticPartition(runSelect(select), part)))
        status("insert", name)
      case InsertVals(name, part, tuples) =>
        val schema = table(name).meta.schema
        // Hive INSERT ... PARTITION(col="v"): tuples omit the static
        // partition columns; they come back as literals below
        val staticKeys = staticPartitionKeys(part)
        val cols = schema.fieldNames
          .filterNot(n => staticKeys.exists(_.equalsIgnoreCase(n))).mkString(", ")
        table(name).append(conform(name, applyStaticPartition(
          runSelect(s"SELECT * FROM (VALUES $tuples) AS __v($cols)"), part)))
        status("insert", name)
      case DropTable(name) =>
        tables.remove(name); externals.remove(name); catalogKnown -= name
        catalog.foreach { case (c, ns) =>
          if (c.tableExists(ns, name)) c.dropTable(ns, name)
        }
        spark.catalog.dropTempView(name)
        status("drop-table", name)
      case MergeHead(name, tgtAlias, usingRest) =>
        val trimmed = usingRest.trim
        val (using, rest) =
          if (trimmed.startsWith("(")) {
            val (inside, after) = takeBalanced(trimmed)
            (inside, after.trim)
          } else {
            val parts = trimmed.split("\\s+", 2)
            (parts(0), if (parts.length > 1) parts(1) else "")
          }
        rest match {
          case MergeOnWhen(srcAlias, on, whenPart) =>
            compileMerge(name, Option(tgtAlias).getOrElse(name),
              Option(srcAlias).getOrElse("source"), using, on, parseWhenClauses(whenPart))
          case _ =>
            throw new IllegalArgumentException(s"unsupported MERGE statement: $stmt")
        }
      case Delete(name, cond) =>
        // Iceberg's write.delete.mode accepts copy-on-write/merge-on-read
        // (DVs arrive via format-version=3); 'merge-on-read-dv' is a GRAFT
        // EXTENSION value that records matched positions as deletion-vector
        // bitmaps (one row per touched data file) instead of delete rows
        val t = table(name)
        val props = t.meta.properties
        // Iceberg-v3 alignment: merge-on-read + format-version >= 3 takes
        // the DV path too, so a table configured exactly like a real
        // Iceberg v3 table gets deletion vectors without graft-specific
        // property values
        val v3 = props.get("format-version").exists(v =>
          scala.util.Try(v.trim.toInt >= 3).getOrElse(false))
        props.get("write.delete.mode") match {
          case Some("merge-on-read") if v3 => t.deleteMergeOnReadDV(cond)
          case Some("merge-on-read")       => t.deleteMergeOnRead(cond)
          case Some("merge-on-read-dv")    => t.deleteMergeOnReadDV(cond)
          case _                           => t.delete(cond)
        }
        status("delete", name)
      case Update(name, sets, cond) =>
        table(name).update(cond, parseAssignments(sets)); status("update", name)
      case Truncate(name) =>
        table(name).truncate(); status("truncate", name)
      case AddCols(name, cols) =>
        val t = table(name)
        // `c type DEFAULT <literal>` (the Iceberg v3 initial-default
        // model, ColumnDefaults): files written before the add read the
        // default instead of null. Splitting is ANGLE-BRACKET-aware
        // (map<string,int> carries top-level commas that splitTopLevel
        // would break on) and the DEFAULT keyword is only recognized
        // OUTSIDE quotes/brackets (a COMMENT 'by default …' must not
        // trigger it).
        val ops = splitColumnDecls(cols).map { decl =>
          splitDefaultClause(decl) match {
            case (d, Some(litStr)) =>
              val f = StructType.fromDDL(d).fields.head
              SchemaOp.Add(f.name, f.dataType,
                Some(parseDefaultLiteral(litStr, f.dataType)))
            case (d, None) =>
              val f = StructType.fromDDL(d).fields.head
              SchemaOp.Add(f.name, f.dataType)
          }
        }
        t.evolveSchema(ops)
        status("add-columns", name)
      case AnalyzeCols(name, cols) =>
        // honor Spark's own ANALYZE histogram confs: enabling
        // spark.sql.statistics.histogram.enabled makes the facade compute
        // equi-height histograms at the conf'd bin count, exactly like
        // Spark's ANALYZE over catalog tables
        val bins =
          if (spark.conf.get("spark.sql.statistics.histogram.enabled", "false").toBoolean)
            spark.conf.get("spark.sql.statistics.histogram.numBins", "254").toInt
          else 0
        table(name).analyze(cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
          histogramBins = bins)
        status("analyze", name)
      case CreateMv(name, selectList, baseName, where, groupBy) =>
        handleCreateMv(name, selectList, baseName, Option(where), groupBy)
      case RefreshMv(name) =>
        val n = graft.tables.IncrementalAggView.load(spark, location(name)).refresh()
        import spark.implicits._
        Seq(("refresh-mv", name, n)).toDF("status", "table", "change_rows")
      case CreateView(orReplace, name, select) =>
        handleCreateView(name, select, orReplace != null)
      case AlterViewAs(name, select) =>
        handleAlterView(name, select)
      case DropViewStmt(name) =>
        viewDefs.remove(name)
        catalog.foreach { case (c, ns) =>
          if (c.viewExists(ns, name)) c.dropView(ns, name)
        }
        spark.catalog.dropTempView(name)
        status("drop-view", name)
      case ShowViews() =>
        import spark.implicits._
        // catalog mode also lists views other sessions created, like
        // SHOW TABLES; an unreachable catalog degrades to the local map
        val catalogNames = catalog.toSeq.flatMap { case (c, ns) =>
          scala.util.Try(c.listViews(ns)).getOrElse(Nil)
        }
        (viewDefs.keys ++ catalogNames).toSeq.distinct.sorted.toDF("viewName")
      case RenameCol(name, from, to) =>
        table(name).renameColumn(from, to); status("rename-column", name)
      case DropCol(name, colName) =>
        table(name).dropColumn(colName); status("drop-column", name)
      case AlterColType(name, colName, typ) =>
        table(name).widenColumn(colName,
          StructType.fromDDL(s"x $typ").fields(0).dataType)
        status("alter-column-type", name)
      case SetSpec(name, spec) =>
        table(name).setPartitionSpec(parseSpec(spec)); status("set-spec", name)
      case SetProps(name, props) =>
        table(name).setProperties(parseProps(props)); status("set-properties", name)
      case WriteUnordered(name) =>
        table(name).setSortOrder(Nil); status("write-unordered", name)
      case WriteOrdered(name, cols) =>
        table(name).setSortOrder(
          cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        status("write-ordered", name)
      case CreateRef(name, kind, refName, version) =>
        val t = table(name)
        val snapId = Option(version).map(_.toLong)
        if (kind.equalsIgnoreCase("TAG"))
          t.createTag(refName, snapId.getOrElse(t.meta.currentSnapshotId.get))
        else t.createBranch(refName, snapId)
        status(s"create-${kind.toLowerCase}", name)
      case DropRef(name, refName) =>
        table(name).dropRef(refName); status("drop-ref", name)
      case CallFastForward(name, branch) =>
        table(stripDb(name)).publish(branch); status("fast-forward", stripDb(name))
      case CallCherryPick(name, snap) =>
        table(stripDb(name)).cherryPick(snap.toLong); status("cherry-pick", stripDb(name))
      case ExecRollback(name, snap) =>
        table(name).rollback(snap.toLong); status("rollback", name)
      case ExecExpire(name, ts) =>
        table(name).expireSnapshots(parseTimestampMs(ts)); status("expire", name)
      case CallAddFiles(name, dir, fmt) =>
        table(stripDb(name)).addFiles(dir, Option(fmt).getOrElse("parquet"))
        status("add-files", stripDb(name))
      case CallSnapshot(src, tgt) =>
        // zero-copy table snapshot (Iceberg `snapshot` procedure): the
        // target borrows the source's current files in place
        val tn = stripDb(tgt)
        val t = GraftTable.snapshotOf(table(stripDb(src)), s"$warehouse/$tn")
        register(tn, t.location)
        status("snapshot", tn)
      case CallChangelogView(name, from, to) =>
        // Iceberg's create_changelog_view: the row-level changelog of
        // (from, to] queryable as <table>_changes, rows tagged with
        // _change_type + _change_ordinal + _commit_snapshot_id (the
        // Iceberg changelog-view columns)
        val n = stripDb(name)
        table(n).changelogView(from.toLong, to.toLong)
          .createOrReplaceTempView(s"${n}_changes")
        status("create-changelog-view", n)
      case CallRegisterIceberg(name, metaPath) =>
        // read-side Iceberg interop (reference interoperability.md): point
        // graft at an external metadata.json; metadata-only registration
        val n = stripDb(name)
        IcebergImport.importMetadata(spark, metaPath, s"$warehouse/$n")
        register(n, s"$warehouse/$n")
        status("register-iceberg", n)
      case CallExportIceberg(name, dir, ver) =>
        // write-side twin (r11): FULL binary export — metadata.json +
        // real Avro manifests + Puffin stats — an external Iceberg engine
        // scans the artifact end-to-end. Optional third arg: format
        // version (1 default; 2 carries merge-on-read delete files)
        IcebergExport.exportBinary(table(stripDb(name)), dir,
          Option(ver).map(_.toInt).getOrElse(1))
        status("export-iceberg", stripDb(name))
      case CallRewriteFiles(name) =>
        table(stripDb(name)).compact(); status("rewrite-data-files", stripDb(name))
      case CallRewriteManifests(name) =>
        table(stripDb(name)).rewriteManifests(); status("rewrite-manifests", stripDb(name))
      case CallComputePartStats(name) =>
        table(stripDb(name)).computePartitionStats()
        status("compute-partition-stats", stripDb(name))
      case CallRemoveOrphans(name, olderThan) =>
        import spark.implicits._
        table(stripDb(name)).removeOrphanFiles(
          Option(olderThan).map(_.toLong)
            .getOrElse(System.currentTimeMillis() - 3L * 86400000L))
          .toDF("removed_path")
      case DescHistory(name) =>
        table(name).history
      case ShowTables(db) =>
        import spark.implicits._
        val prefix = Option(db).map(_.toLowerCase + "__").getOrElse("")
        // catalog mode also lists tables OTHER sessions created (the
        // discovery listTables round trip, deduped against local names);
        // an unreachable catalog degrades to the local registry — a
        // read-only listing must not fail harder than non-catalog mode
        val catalogNames = catalog.toSeq.flatMap { case (c, ns) =>
          scala.util.Try(c.listTables(ns)).getOrElse(Nil)
            .filterNot(tables.contains).map((_, "managed"))
        }
        (tables.keys.map((_, "managed")) ++ externals.keys.map((_, "external"))
          ++ catalogNames)
          .filter(_._1.startsWith(prefix)).toSeq.sorted
          .map { case (n, kind) => (n.stripPrefix(prefix), kind) }
          .toDF("tableName", "tableType")
      case ShowPartitions(name) =>
        table(name).partitionsDf
      // DESCRIBE is matched after every statement head above (so e.g.
      // DESCRIBE HISTORY keeps its own route); unknown names fall through
      // to Spark for its own temp views
      case Describe(name) if tables.contains(name) =>
        import spark.implicits._
        table(name).meta.schema.fields.toSeq
          .map(f => (f.name, f.dataType.simpleString))
          .toDF("col_name", "data_type")
      case Describe(name) if externals.contains(name) =>
        import spark.implicits._
        externals(name)().schema.fields.toSeq
          .map(f => (f.name, f.dataType.simpleString))
          .toDF("col_name", "data_type")
      case _ =>
        runSelect(stmt)
    }
  }

  // --------------------------------------------------------- helpers

  /** CREATE [OR REPLACE] VIEW: analyze the definition NOW (a bad
    * definition must fail at CREATE, not at first read — and the
    * analyzed schema is what the catalog records for the version), then
    * create or (OR REPLACE) append a new view version through the
    * catalog's versioned-view surface.
    */
  private def handleCreateView(name: String, select: String,
      orReplace: Boolean): DataFrame = {
    require(!tables.contains(name) && !externals.contains(name),
      s"$name already names a table; views and tables share the SQL namespace here")
    val schema = runSelect(select).schema
    catalog match {
      case Some((c, ns)) =>
        if (c.viewExists(ns, name)) {
          if (!orReplace)
            throw new IllegalArgumentException(
              s"view $name already exists (use CREATE OR REPLACE VIEW)")
          val base = c.loadView(ns, name).metadata
          c.replaceView(ns, name, base, select, schema)
        } else c.createView(ns, name, select, schema)
      case None =>
        if (!orReplace && viewDefs.contains(name))
          throw new IllegalArgumentException(
            s"view $name already exists (use CREATE OR REPLACE VIEW)")
    }
    viewDefs(name) = select
    status("create-view", name)
  }

  /** ALTER VIEW … AS: redefinition of an EXISTING view — a new immutable
    * version in catalog mode (assert-view-uuid guards against a
    * concurrent redefinition; the old version stays replayable).
    */
  private def handleAlterView(name: String, select: String): DataFrame = {
    val schema = runSelect(select).schema
    catalog match {
      case Some((c, ns)) =>
        val base = c.loadView(ns, name).metadata // 404 if it doesn't exist
        c.replaceView(ns, name, base, select, schema)
      case None =>
        require(viewDefs.contains(name), s"unknown view: $name")
    }
    viewDefs(name) = select
    status("alter-view", name)
  }

  /** `CREATE MATERIALIZED VIEW v AS SELECT g…, COUNT(*) AS cnt,
    * SUM(c) AS sum_c… FROM t GROUP BY g…` — the incrementally-maintained
    * aggregate ([[graft.tables.IncrementalAggView]]): the initial
    * aggregate computes once, and `REFRESH MATERIALIZED VIEW v` folds the
    * base table's changelog in (O(delta), exactly-once cursor). The select
    * list is restricted to the maintainable shape — group columns,
    * COUNT(*), and SUM(col) — anything else must be a plain query.
    */
  private def handleCreateMv(name: String, selectList: String,
      baseName: String, where: Option[String], groupBy: String): DataFrame = {
    val baseT = table(baseName)
    val gcols = splitTopLevel(groupBy).map(_.trim)
    gcols.foreach(c => require(baseT.meta.schema.fieldNames.contains(c),
      s"GROUP BY column $c not in $baseName"))
    val SumItem = """(?is)^SUM\s*\(\s*(\w+)\s*\)(?:\s+AS\s+(\w+))?$""".r
    val CntItem = """(?is)^COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(\w+))?$""".r
    val sumCols = splitTopLevel(selectList).map(_.trim).flatMap {
      case c if gcols.contains(c) => None
      case CntItem(alias) =>
        require(alias == null || alias.equalsIgnoreCase("cnt"),
          s"COUNT(*) must be aliased cnt (the maintained column name)")
        None
      case SumItem(c, alias) =>
        require(alias == null || alias.equalsIgnoreCase(s"sum_$c"),
          s"SUM($c) must be aliased sum_$c (the maintained column name)")
        Some(c)
      case other => throw new IllegalArgumentException(
        s"materialized views maintain only group columns, COUNT(*), SUM(col); got: $other")
    }
    val loc = s"$warehouse/$name"
    graft.tables.IncrementalAggView.create(spark, loc, baseT, gcols, sumCols,
      filter = where.map(_.trim).filter(_.nonEmpty))
    register(name, loc)
    status("create-materialized-view", name)
  }

  /** Row-builder expressions for a MERGE INSERT clause: `*` takes the
    * source row, `[(cols)] VALUES (…)` builds it (unlisted columns NULL).
    */
  private def buildInsertExprs(schema: org.apache.spark.sql.types.StructType,
      srcAlias: String, insClause: String): Seq[String] = {
    val ColsVals = """(?is)^(?:\(([^)]*)\)\s*)?VALUES\s*\((.*)\)$""".r
    insClause.trim match {
      case "*" => schema.fieldNames.map(c => s"$srcAlias.$c AS $c").toSeq
      case ColsVals(colsOpt, vals) =>
        val valExprs = splitTopLevel(vals)
        Option(colsOpt) match {
          case Some(cs) =>
            val named = splitTopLevel(cs).map(_.trim).zip(valExprs).toMap
            schema.fields.toSeq.map(f => named.get(f.name)
              .map(e => s"($e) AS ${f.name}")
              .getOrElse(s"CAST(NULL AS ${f.dataType.sql}) AS ${f.name}"))
          case None =>
            require(valExprs.length == schema.fields.length,
              s"INSERT VALUES arity ${valExprs.length} != table arity ${schema.fields.length}")
            schema.fields.toSeq.zip(valExprs).map { case (f, e) => s"($e) AS ${f.name}" }
        }
      case other => throw new IllegalArgumentException(s"unsupported INSERT clause: $other")
    }
  }

  private case class WhenClause(matched: Boolean, cond: Option[String],
      action: String, body: String)

  /** Parse a MERGE WHEN-clause list: `WHEN MATCHED [AND c] THEN UPDATE SET
    * …|DELETE` / `WHEN NOT MATCHED [AND c] THEN INSERT …`, in order.
    */
  private def parseWhenClauses(s: String): Seq[WhenClause] = {
    val starts = """(?i)\bWHEN\s+(?:NOT\s+)?MATCHED\b""".r
      .findAllMatchIn(s).map(_.start).toSeq
    require(starts.nonEmpty && starts.head == 0, s"malformed MERGE clauses: $s")
    val pieces = starts.zip(starts.drop(1) :+ s.length)
      .map { case (a, b) => s.substring(a, b).trim }
    val Clause =
      """(?is)^WHEN\s+(NOT\s+)?MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+(UPDATE\s+SET\s+(.*)|DELETE|INSERT\s*(.*))$""".r
    pieces.map {
      case Clause(not, cond, action, setBody, insBody) =>
        val matched = not == null
        val up = action.trim.toUpperCase(java.util.Locale.ROOT)
        val wc =
          if (up.startsWith("UPDATE")) WhenClause(matched, Option(cond), "update", setBody)
          else if (up == "DELETE") WhenClause(matched, Option(cond), "delete", "")
          else WhenClause(matched, Option(cond), "insert", insBody)
        require(if (wc.matched) wc.action != "insert" else wc.action == "insert",
          s"MERGE clause action ${wc.action} not valid for " +
            (if (wc.matched) "MATCHED" else "NOT MATCHED"))
        wc
      case other => throw new IllegalArgumentException(s"unsupported MERGE clause: $other")
    }
  }

  /** MERGE INTO, Iceberg semantics (first-match-wins clause lists,
    * conditional WHEN clauses, DELETE actions, update-only and
    * delete-only forms), compiled to the one MERGE executor,
    * [[GraftTable.mergeApply]]:
    *  - The unconditional `UPDATE SET * / INSERT *` pair is the full-row
    *    upsert: [[GraftTable.mergeInto]], or with
    *    `write.merge.mode=merge-on-read` the O(batch)
    *    [[GraftTable.upsertMergeOnRead]] (no target scan).
    *  - Otherwise each (target, source) pair takes the first MATCHED
    *    clause whose condition holds. `UPDATE SET a = e, …` builds the
    *    updated row (unlisted columns keep the target's values) and
    *    carries the matched target row's key in hidden
    *    [[GraftTable.targetKey]] columns, so SET may change the key.
    *    `INSERT *` / `INSERT [(cols)] VALUES (…)` builds each unmatched
    *    source row (unlisted columns NULL); inserts never match the
    *    target.
    * Clause conditions may reference both aliases (qualify columns; bare
    * names resolve in join scope).
    */
  private def compileMerge(name: String, tgtAlias: String, srcAlias: String,
      using: String, on: String, clauses: Seq[WhenClause]): DataFrame = {
    val t = table(name)
    val schema = t.meta.schema
    val keys = keysFromOn(on)
    require(keys.nonEmpty, s"no equality keys in MERGE ON clause: $on")
    val srcDf = runSelect(stripParens(using))
    def star(c: WhenClause) = c.cond.isEmpty && c.body.trim == "*"
    if (clauses.size == 2 && clauses.exists(c => c.action == "update" && star(c)) &&
        clauses.exists(c => c.action == "insert" && star(c))) {
      if (t.meta.properties.get("write.merge.mode").contains("merge-on-read"))
        t.upsertMergeOnRead(conform(name, srcDf), keys)
      else t.mergeInto(conform(name, srcDf), keys)
      return status("merge", name)
    }
    val tgtView = "__graft_merge_tgt"
    val srcView = "__graft_merge_src"
    t.toDF().createOrReplaceTempView(tgtView)
    srcDf.createOrReplaceTempView(srcView)
    // MERGE convention: unqualified columns in ON refer to the target
    val onQ = qualifyBareColumns(on, tgtAlias, schema.fieldNames.toSet)
    val pairs = s"$tgtView AS $tgtAlias JOIN $srcView AS $srcAlias ON $onQ"
    def firstMatch(idx: Seq[(WhenClause, Int)]): String =
      if (idx.isEmpty) "-1"
      else "CASE " + idx.map { case (c, i) =>
        s"WHEN (${c.cond.getOrElse("TRUE")}) THEN $i" }.mkString(" ") + " ELSE -1 END"
    def unionOf(selects: Seq[String]): Option[DataFrame] =
      if (selects.isEmpty) None else Some(spark.sql(selects.mkString(" UNION ALL ")))

    val matchedIdx = clauses.zipWithIndex.filter(_._1.matched)
    val verdict = firstMatch(matchedIdx)
    val hidden = keys.map(GraftTable.targetKey)
    val updates = unionOf(matchedIdx.filter(_._1.action == "update").map { case (c, i) =>
      val sets: Map[String, String] =
        if (c.body.trim == "*") schema.fieldNames.map(x => x -> s"$srcAlias.$x").toMap
        else parseAssignments(c.body).map { case (k, v) => k.split('.').last -> v }
      sets.keys.foreach(k =>
        require(schema.fieldNames.contains(k), s"unknown SET column $k"))
      val cols = schema.fieldNames.map(x => s"${sets.getOrElse(x, s"$tgtAlias.$x")} AS $x") ++
        keys.zip(hidden).map { case (k, h) => s"$tgtAlias.$k AS $h" }
      s"SELECT ${cols.mkString(", ")} FROM $pairs WHERE ($verdict) = $i"
    }).map(conform(name, _, hidden))
    val deleteIdxs = matchedIdx.filter(_._1.action == "delete").map(_._2)
    val deleteKeys = unionOf(if (deleteIdxs.isEmpty) Nil else Seq(
      s"SELECT ${keys.map(k => s"$tgtAlias.$k AS $k").mkString(", ")} " +
        s"FROM $pairs WHERE ($verdict) IN (${deleteIdxs.mkString(", ")})"))
    val insertIdx = clauses.zipWithIndex.filter(!_._1.matched)
    val inserts = unionOf(insertIdx.map { case (c, j) =>
      s"SELECT ${buildInsertExprs(schema, srcAlias, c.body).mkString(", ")} " +
        s"FROM $srcView AS $srcAlias WHERE NOT EXISTS " +
        s"(SELECT 1 FROM $tgtView AS $tgtAlias WHERE $onQ) AND (${firstMatch(insertIdx)}) = $j"
    }).map(conform(name, _))

    // matched pairs no clause acts on (only possible when every MATCHED
    // clause is conditional): their keys let the cardinality check refuse
    // a duplicate target key that a condition splits
    val idleKeys =
      if (matchedIdx.isEmpty || matchedIdx.exists(_._1.cond.isEmpty)) None
      else Some(spark.sql(s"SELECT ${keys.zip(hidden).map { case (k, h) =>
        s"$tgtAlias.$k AS $h" }.mkString(", ")} FROM $pairs WHERE ($verdict) = -1"))
    try t.mergeApply(updates, deleteKeys, inserts, keys, idleKeys)
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("cardinality") =>
        // updates are (target⋈source) rows, so duplicate TARGET keys also
        // trip the check here — say so instead of blaming the source
        throw new IllegalArgumentException(e.getMessage +
          " (column-assignment MERGE and clause-list MERGE compile matched " +
          "rows through a target join: duplicate keys on EITHER side " +
          "multiply; deduplicate, or use the unconditional " +
          "`UPDATE SET * / INSERT *` form)", e)
    }
    status("merge", name)
  }

  /** Prefix bare schema-column tokens in an ON clause with the target
    * alias (the MERGE resolution convention), leaving qualified references
    * and literals alone.
    */
  private[sources] def qualifyBareColumns(on: String, alias: String, cols: Set[String]): String =
    on.split("(?i)\\s+AND\\s+").map { conj =>
      conj.split("=", 2) match {
        case Array(l, r0) =>
          def q(s: String): String = {
            val t0 = s.trim
            if (t0.matches("\\w+") && cols.contains(t0)) s"$alias.$t0" else t0
          }
          s"${q(l)} = ${q(r0)}"
        case _ => conj
      }
    }.mkString(" AND ")

  /** CREATE TABLE tail: optional (columns), then any order of PARTITIONED
    * BY (...) / ROW FORMAT DELIMITED [FIELDS TERMINATED BY '…'] [LINES
    * TERMINATED BY '…'] / STORED AS|BY x / LOCATION '…' / TBLPROPERTIES
    * (...), then optional AS SELECT. Clause bodies are taken with balanced
    * parens so nested types (DECIMAL(18,2)) and transforms (bucket(8, c))
    * parse correctly.
    *
    * `CREATE EXTERNAL TABLE … STORED AS TEXTFILE LOCATION '…'` (reference
    * sql/airlines.sql:5-46 CSV staging) registers a non-versioned CSV
    * source that re-scans its location on every reference — schema
    * enforced at read (no inference pass over 100 TB), delimiter from ROW
    * FORMAT, header skip from TBLPROPERTIES skip.header.line.count.
    */
  private def handleCreate(name: String, rest: String, isExternal: Boolean): DataFrame = {
    var rem = rest.trim
    var cols: Option[String] = None
    var spec: Seq[PartitionField] = Nil
    var props: Map[String, String] = Map.empty
    var select: Option[String] = None
    var format: Option[String] = None
    var location: Option[String] = None
    var sep = ","
    if (rem.startsWith("(")) {
      val (inside, after) = takeBalanced(rem); cols = Some(inside); rem = after.trim
    }
    // `SPEC` is the Impala/Hive-on-Iceberg transform form
    // (iceberg_partitioning_examples.sql:47 `PARTITIONED BY SPEC (DAYS(c))`)
    val PartBy = """(?is)^PARTITIONED\s+BY\s+(?:SPEC\s*)?(\(.*)$""".r
    val RowFmt = """(?is)^ROW\s+FORMAT\s+DELIMITED\s*(.*)$""".r
    val FieldsTerm = """(?is)^FIELDS\s+TERMINATED\s+BY\s+'((?:\\.|[^'\\])*)'\s*(.*)$""".r
    val LinesTerm = """(?is)^LINES\s+TERMINATED\s+BY\s+'((?:\\.|[^'\\])*)'\s*(.*)$""".r
    val Stored = """(?is)^STORED\s+(?:AS|BY)\s+(\S+)\s*(.*)$""".r
    val Location = """(?is)^LOCATION\s+'([^']+)'\s*(.*)$""".r
    val Props = """(?is)^TBLPROPERTIES\s*(\(.*)$""".r
    val AsSel = """(?is)^AS\s+(.*)$""".r
    var progress = true
    while (rem.nonEmpty && select.isEmpty && progress) {
      progress = true
      rem match {
        case PartBy(tail) =>
          val (inside, after) = takeBalanced(tail)
          // Hive-style `PARTITIONED BY (order_date DATE)` DECLARES the
          // partition column (hive_partitioning_examples.sql:15): append
          // it to the schema and partition by identity on it
          val ColDef = """(?i)^(\w+)\s+(\w+(?:\s*\([^)]*\))?)$""".r
          val items = splitTopLevel(inside).map(_.trim)
          val (colDefs, transforms) = items.partition {
            case ColDef(_, _) => true
            case _ => false
          }
          spec = parseSpec(transforms.mkString(", ")) ++ colDefs.map {
            case ColDef(n, _) => PartitionField(n, "identity", n)
          }
          if (colDefs.nonEmpty)
            cols = Some(cols.map(_ + ", ").getOrElse("") + colDefs.mkString(", "))
          rem = after.trim
        case RowFmt(tail) =>
          rem = tail.trim
          var more = true
          while (more) rem match {
            case FieldsTerm(d, after) => sep = unescapeDelim(d); rem = after.trim
            case LinesTerm(_, after) => rem = after.trim // \n is the only line sep Spark reads
            case _ => more = false
          }
        case Props(tail) =>
          val (inside, after) = takeBalanced(tail); props = parseProps(inside); rem = after.trim
        case Stored(fmt, tail) => format = Some(fmt.toUpperCase); rem = tail.trim
        case Location(loc, tail) => location = Some(loc); rem = tail.trim
        case AsSel(sel) => select = Some(sel)
        case _ => progress = false
      }
    }
    require(rem.isEmpty || select.isDefined, s"unparsed CREATE TABLE tail: $rem")
    if (isExternal && format.contains("TEXTFILE")) {
      val loc = location.getOrElse(
        throw new IllegalArgumentException("STORED AS TEXTFILE needs LOCATION"))
      val schema = StructType.fromDDL(cols.getOrElse(
        throw new IllegalArgumentException("CSV staging table needs explicit columns")))
      val header = props.get("skip.header.line.count").contains("1")
      val delim = sep
      externals(name) = () => spark.read.schema(schema)
        .option("header", header).option("sep", delim).csv(loc)
      return status("create-external", name)
    }
    // STORED AS AVRO / ORC externals: the t53/t54 sources behind the same
    // SQL surface as TEXTFILE staging; both re-scan the location on every
    // reference (external semantics — the files are the truth)
    if (isExternal && format.exists(f => f.contains("AVRO") || f.contains("ORC"))) {
      val fmt = format.get
      val loc = location.getOrElse(
        throw new IllegalArgumentException(s"STORED AS $fmt needs LOCATION"))
      val declared = cols.map(StructType.fromDDL)
      if (fmt.contains("AVRO"))
        // self-describing: schema comes from the container headers;
        // declared columns, if any, are validated at read against it
        externals(name) = () => {
          val df = GraftAvro.read(spark, loc)
          declared.foreach(want => require(df.schema == want,
            s"$name: avro files carry ${df.schema.toDDL}, declared ${want.toDDL}"))
          df
        }
      else
        externals(name) = () =>
          declared.map(spark.read.schema(_).orc(loc)).getOrElse(spark.read.orc(loc))
      return status("create-external", name)
    }
    require(!format.exists(f => f.contains("AVRO") || f.contains("ORC")),
      s"STORED AS ${format.get} is supported for EXTERNAL tables with LOCATION only " +
        "(managed graft tables store parquet)")
    val t = select match {
      case Some(sel) =>
        GraftTable.createAs(spark, s"$warehouse/$name", runSelect(sel), spec, props)
      case None =>
        GraftTable.createEmpty(spark, s"$warehouse/$name",
          StructType.fromDDL(cols.getOrElse(
            throw new IllegalArgumentException("CREATE TABLE needs columns or AS SELECT"))),
          spec, props)
    }
    register(name, t.location)
    status("create", name)
  }

  private def unescapeDelim(s: String): String =
    s.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")

  /** Static keys of a Hive `PARTITION (k="v", dyn)` clause (dynamic
    * entries carry their value in the row itself and contribute nothing).
    */
  private def staticPartitionKeys(part: String): Seq[String] =
    if (part == null || part.trim.isEmpty) Nil
    else part.split(",").toSeq.flatMap { item =>
      item.split("=", 2) match {
        case Array(k, _) => Some(k.trim)
        case _ => None
      }
    }

  /** Bind static `PARTITION (k="v")` values as literal columns. */
  private def applyStaticPartition(df: DataFrame, part: String): DataFrame =
    if (part == null || part.trim.isEmpty) df
    else part.split(",").foldLeft(df) { (d, item) =>
      item.split("=", 2) match {
        case Array(k, v) =>
          d.withColumn(k.trim, org.apache.spark.sql.functions.expr(v.trim))
        case _ => d // dynamic partition: the value is already in the row
      }
    }

  /** `s` starts with '(': returns (inside-without-outer-parens, remainder). */
  private def takeBalanced(s: String): (String, String) = {
    var depth = 0; var quote: Char = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (s.substring(1, i), s.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens in: $s")
  }

  /** Run a read statement with managed tables resolved: time-travel
    * clauses become per-snapshot temp views, current snapshots back plain
    * name references.
    */
  private val MetaTableRef =
    """(?i)\b(\w+)\.(history|snapshots|files|manifests|metadata_log_entries|partitions|refs|lineage)\b""".r

  private def runSelect(selectRaw: String): DataFrame = {
    var q = selectRaw
    var i = 0
    // catalog-mode discovery for SELECTs: identifiers unknown locally may
    // be tables another session created — one listTables round trip
    // resolves them (metadata-only; locations are immutable and cached).
    // The round trip runs ONLY when some FROM/JOIN identifier is locally
    // unresolved, and degrades to the local registry on catalog errors
    // (read-only statements must not fail harder than non-catalog mode —
    // same posture as SHOW TABLES).
    catalog.foreach { case (cl, ns) =>
      // FROM/JOIN identifiers, including comma-listed FROM a, b, c
      val fromRefs = "(?i)\\b(?:from|join)\\s+([a-zA-Z_]\\w*(?:\\s*,\\s*[a-zA-Z_]\\w*)*)".r
        .findAllMatchIn(q).flatMap(_.group(1).split(",")).map(_.trim).toSet
      if (fromRefs.exists(n => !tables.contains(n)))
        scala.util.Try(cl.listTables(ns)).getOrElse(Nil).foreach { name =>
          if (!tables.contains(name) &&
              ("(?i)\\b" + Regex.quote(name) + "\\b").r.findFirstIn(q).isDefined)
            scala.util.Try(cl.loadTable(ns, name).location)
              .foreach(tables(name) = _)
        }
      // same discovery for VIEWS another session defined: cache the
      // CURRENT version's SQL (the commit moves currentVersionId, so a
      // stale cache only lasts until the next statement's discovery)
      if (fromRefs.exists(n => !tables.contains(n) && !externals.contains(n) &&
          !viewDefs.contains(n)))
        scala.util.Try(cl.listViews(ns)).getOrElse(Nil).foreach { name =>
          if (!viewDefs.contains(name) && !tables.contains(name) &&
              ("(?i)\\b" + Regex.quote(name) + "\\b").r.findFirstIn(q).isDefined)
            scala.util.Try(cl.loadView(ns, name).metadata)
              .foreach(m => viewDefs(name) = m.currentVersion.sqlFor("spark"))
        }
    }
    // stage referenced SQL views: run each definition (a recursive
    // runSelect — views-over-views stage naturally) into a temp view the
    // final spark.sql resolves; the in-flight set breaks cycles
    viewDefs.keys.toSeq.foreach { name =>
      if (!viewStack.contains(name) &&
          ("(?i)\\b" + Regex.quote(name) + "\\b").r.findFirstIn(q).isDefined) {
        viewStack += name
        try runSelect(viewDefs(name)).createOrReplaceTempView(name)
        finally viewStack -= name
      }
    }
    // Iceberg-style inline metadata tables (reference README.md:353
    // `SELECT * FROM ${user}_ice.airlines.history`): resolve
    // <table>.<metadata> references to temp views of the metadata frames
    q = MetaTableRef.replaceAllIn(q, mm => {
      val name = mm.group(1)
      if (!tables.contains(name)) Regex.quoteReplacement(mm.matched)
      else {
        val kind = mm.group(2).toLowerCase
        val view = s"__graft_meta_${name}_$kind"
        val df = kind match {
          case "history" => table(name).history
          case "snapshots" => table(name).snapshotsDf
          case "files" => table(name).filesDf
          case "manifests" => table(name).manifestsDf
          case "metadata_log_entries" => table(name).metadataLogDf
          case "partitions" => table(name).partitionsDf
          case "refs" => table(name).refsDf
          // row-level lineage read surface (v3 _row_id metadata columns)
          case "lineage" => table(name).lineageDF()
        }
        df.createOrReplaceTempView(view)
        view
      }
    })
    q = AsOfTime.replaceAllIn(q, m =>
      if (!tables.contains(m.group(1))) Regex.quoteReplacement(m.matched)
      else {
        i += 1; val view = s"__graft_asof_$i"
        table(m.group(1)).asOfTimestamp(parseTimestampMs("'" + m.group(2) + "'"))
          .createOrReplaceTempView(view)
        view
      })
    q = AsOfVersion.replaceAllIn(q, m =>
      if (!tables.contains(m.group(1))) Regex.quoteReplacement(m.matched)
      else {
        i += 1; val view = s"__graft_asof_$i"
        val t = table(m.group(1))
        val target = m.group(2)
        val df = if (target.forall(_.isDigit)) t.asOf(target.toLong) else t.asOfRef(target)
        df.createOrReplaceTempView(view)
        view
      })
    tables.keys.foreach { name =>
      if (("(?i)\\b" + name + "\\b").r.findFirstIn(q).isDefined)
        sizedView(name).createOrReplaceTempView(name)
    }
    externals.foreach { case (name, mk) =>
      if (("(?i)\\b" + name + "\\b").r.findFirstIn(q).isDefined)
        mk().createOrReplaceTempView(name)
    }
    spark.sql(q)
  }

  /** Table read for query planning. Since r9 the size signal rides the
    * frame itself: `toDF()` wraps every read in [[graft.plans.DeclaredStats]],
    * which serves the snapshot's live data-file bytes, record count and
    * persisted NDV to Catalyst as NATIVE relation statistics — the signal
    * Iceberg hands Spark via SupportsReportStatistics. JoinSelection's own
    * threshold compare then flips broadcast-vs-sort-merge (no hint), and
    * CBO join reorder sees the rowCount it requires on every view.
    */
  private def sizedView(name: String): DataFrame = table(name).toDF()

  /** Align a source dataframe to the table schema: by name when every
    * schema column is present (MERGE sources with extra/reordered columns),
    * positionally otherwise (SQL INSERT semantics — `SELECT k + 1, name`
    * feeds columns in order). `hidden` columns ride along after the
    * schema's.
    */
  private def conform(name: String, df: DataFrame,
      hidden: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = table(name).meta.schema
    val byName = schema.fieldNames.forall(n => df.columns.exists(_.equalsIgnoreCase(n)))
    val named =
      if (byName) df.select((schema.fieldNames ++ hidden).map(col): _*)
      else {
        require(df.columns.length == schema.fields.length,
          s"INSERT column count ${df.columns.length} != table arity ${schema.fields.length}")
        df.toDF(schema.fieldNames: _*)
      }
    named.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)) ++
      hidden.map(col): _*)
  }

  private def status(op: String, name: String): DataFrame = {
    import spark.implicits._
    Seq((op, name)).toDF("operation", "table")
  }

  private def stripParens(s: String): String = {
    val t = s.trim
    if (t.startsWith("(") && t.endsWith(")")) t.drop(1).dropRight(1) else t
  }

  /** Apply `f` to the parts of `stmt` OUTSIDE '…' / "…" / `…` quoted
    * regions (backslash escapes honored), leaving the quoted text intact.
    */
  private[sources] def mapUnquoted(stmt: String)(f: String => String): String = {
    val out = new StringBuilder
    val cur = new StringBuilder
    var quote: Char = 0
    var i = 0
    while (i < stmt.length) {
      val c = stmt.charAt(i)
      if (quote == 0) {
        if (c == '\'' || c == '"' || c == '`') {
          out.append(f(cur.toString)); cur.setLength(0)
          out.append(c); quote = c
        } else cur.append(c)
      } else {
        out.append(c)
        // Spark-default escape semantics: backslash escapes exist only in
        // '…'/"…" literals; backtick identifiers escape the delimiter by
        // DOUBLING (a backslash before a closing backtick is literal).
        // Doubled closing quotes ('it''s', `a``b`) stay inside the region.
        if (c == '\\' && quote != '`' && i + 1 < stmt.length) {
          out.append(stmt.charAt(i + 1)); i += 1
        } else if (c == quote) {
          if (i + 1 < stmt.length && stmt.charAt(i + 1) == quote) {
            out.append(quote); i += 1
          } else quote = 0
        }
      }
      i += 1
    }
    out.append(f(cur.toString))
    out.toString
  }

  /** Resolve a possibly catalog-/db-qualified procedure argument (these
    * arrive inside quotes, which the identifier rewrite leaves alone) to
    * the flat registry name: 'staging.t' / 'cat.staging.t' ->
    * 'staging__t' when staging is a known database; otherwise the bare
    * table name.
    */
  private[sources] def stripDb(s: String): String = {
    val parts = s.split('.')
    if (parts.length >= 2 && databases.contains(parts(parts.length - 2).toLowerCase))
      parts(parts.length - 2).toLowerCase + "__" + parts.last
    else parts.last
  }

  /** Equality keys from a MERGE ON clause: every `a.k = b.k`-shaped
    * conjunct contributes column k.
    */
  private[sources] def keysFromOn(on: String): Seq[String] =
    on.split("(?i)\\s+AND\\s+").toSeq.flatMap { conj =>
      conj.split("=", 2) match {
        case Array(l, r0) =>
          val ln = l.trim.split('.').last.trim
          val rn = r0.trim.split('.').last.trim
          if (ln.equalsIgnoreCase(rn) && ln.matches("\\w+")) Some(ln) else None
        case _ => None
      }
    }.distinct

  /** `a = expr, b = expr` → assignment map (top-level commas only). */
  /** Comma-split of an ADD COLUMNS declaration list — [[splitTopLevel]]
    * with angle brackets tracked too (`map<string,int>`,
    * `struct<a:int,b:string>` carry top-level commas inside `<>`).
    */
  private[sources] def splitColumnDecls(s: String): Seq[String] =
    splitTopLevel(s, trackAngles = true)

  /** Split one column declaration at its top-level `DEFAULT` keyword
    * (case-insensitive, whole word, outside quotes and brackets) —
    * `x STRING DEFAULT 'a' COMMENT 'n'` → (`x STRING COMMENT 'n'`,
    * Some(`'a'`)): the LITERAL is one quoted string (with `''`
    * doubling) or one unquoted token; any trailing clause rejoins the
    * declaration. A DEFAULT inside a quoted COMMENT never triggers; a
    * bare `DEFAULT` with no literal refuses loudly.
    */
  private[sources] def splitDefaultClause(decl: String): (String, Option[String]) = {
    var depth = 0; var quote: Char = 0
    var i = 0
    while (i < decl.length) {
      val c = decl.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '(' | '<' => depth += 1
        case ')' | '>' => depth -= 1
        case 'd' | 'D' if depth == 0 && i + 7 <= decl.length &&
            decl.substring(i, i + 7).equalsIgnoreCase("default") &&
            (i == 0 || decl.charAt(i - 1).isWhitespace) &&
            (i + 7 == decl.length || decl.charAt(i + 7).isWhitespace) =>
          val before = decl.substring(0, i).trim
          val tail = decl.substring(i + 7).trim
          if (tail.isEmpty) throw new IllegalArgumentException(
            s"DEFAULT with no literal in column declaration '$decl'")
          // one literal token: optional DATE/TIMESTAMP prefix + quoted
          // string (with '' doubling), or a bare token up to whitespace
          val prefixLen = "(?i)^(date|timestamp)\\s*(?=['\"])".r
            .findFirstIn(tail).map(_.length).getOrElse(0)
          val litEnd =
            if (prefixLen < tail.length &&
                (tail.charAt(prefixLen) == '\'' ||
                 tail.charAt(prefixLen) == '"')) {
              // Spark SQL accepts both '-quoted and "-quoted string
              // literals (with doubling); scan with whichever opened
              val q = tail.charAt(prefixLen)
              var j = prefixLen + 1
              var closed = -1
              while (closed < 0 && j < tail.length) {
                if (tail.charAt(j) == q) {
                  if (j + 1 < tail.length && tail.charAt(j + 1) == q) j += 2
                  else { closed = j + 1 }
                } else j += 1
              }
              if (closed < 0) throw new IllegalArgumentException(
                s"unterminated DEFAULT literal in '$decl'")
              closed
            } else {
              val w = tail.indexWhere(_.isWhitespace)
              if (w < 0) tail.length else w
            }
          val lit = tail.substring(0, litEnd)
          val rest = tail.substring(litEnd).trim
          return ((before + (if (rest.isEmpty) "" else " " + rest)).trim,
            Some(lit))
        case _ => ()
      }
      i += 1
    }
    (decl.trim, None)
  }

  /** SQL literal → typed column default ([[graft.tables.ColumnDefaults]]
    * vocabulary): quoted strings, int/long/float/double numerics,
    * true/false. Anything else refuses loudly.
    */
  private def stripQuotes(s: String): String =
    if (s.startsWith("'")) s.stripPrefix("'").stripSuffix("'")
      .replace("''", "'")
    else if (s.startsWith("\"")) s.stripPrefix("\"").stripSuffix("\"")
      .replace("\"\"", "\"")
    else s

  private[sources] def parseDefaultLiteral(s: String,
      t: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    val unquoted =
      if (s.startsWith("'") && s.endsWith("'") && s.length >= 2)
        s.substring(1, s.length - 1).replace("''", "'")
      else if (s.startsWith("\"") && s.endsWith("\"") && s.length >= 2)
        s.substring(1, s.length - 1).replace("\"\"", "\"")
      else s
    t match {
      case StringType  => unquoted
      case IntegerType => s.trim.toInt
      case LongType    => s.trim.toLong
      case FloatType   => s.trim.toFloat
      case DoubleType  => s.trim.toDouble
      case BooleanType => s.trim.toBoolean
      case DateType =>
        // accept DATE '...' in any case/spacing, or a bare quoted date
        val body = stripQuotes(
          "(?i)^date\\s*".r.replaceFirstIn(s.trim, ""))
        try java.time.LocalDate.parse(body)
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"unsupported DEFAULT literal '$s' for type DATE " +
              "(expected DATE 'YYYY-MM-DD')")
        }
      case TimestampNTZType =>
        // TIMESTAMP '2024-01-01 12:00:00' (space or T separator)
        val body = stripQuotes(
          "(?i)^timestamp\\s*".r.replaceFirstIn(s.trim, ""))
        try java.time.LocalDateTime.parse(body.replace(' ', 'T'))
        catch { case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"unsupported DEFAULT literal '$s' for type TIMESTAMP_NTZ " +
              "(expected TIMESTAMP 'YYYY-MM-DD HH:MM:SS')")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported DEFAULT literal '$s' for type $other")
    }
  }

  private[sources] def parseAssignments(sets: String): Map[String, String] =
    splitTopLevel(sets).map { a =>
      val Array(k, v) = a.split("=", 2)
      k.trim -> v.trim
    }.toMap

  /** Partition spec items: `col`, `years(col)`, `months(col)`, `days(col)`,
    * `hours(col)`, `bucket(n, col)`, `truncate(w, col)`.
    */
  private[sources] def parseSpec(spec: String): Seq[PartitionField] =
    if (spec == null || spec.trim.isEmpty) Nil
    else splitTopLevel(spec).map { item =>
      val FnArg = """(?i)(\w+)\s*\(\s*([^)]*)\s*\)""".r
      item.trim match {
        case FnArg(fn, args) =>
          val parts = args.split(",").map(_.trim)
          fn.toLowerCase match {
            case "bucket"   => PartitionField(parts(1), s"bucket[${parts(0)}]", s"${parts(1)}_bucket")
            case "truncate" => PartitionField(parts(1), s"truncate[${parts(0)}]", s"${parts(1)}_trunc")
            case t @ ("years" | "months" | "days" | "hours") =>
              PartitionField(parts(0), t, s"${parts(0)}_${t.dropRight(1)}")
            case t @ ("year" | "month" | "day" | "hour") =>
              PartitionField(parts(0), t + "s", s"${parts(0)}_$t")
            case other => throw new IllegalArgumentException(s"unknown transform: $other")
          }
        case col => PartitionField(col, "identity", col)
      }
    }

  /** `'k'='v', 'k2'='v2'` → property map. */
  private[sources] def parseProps(props: String): Map[String, String] =
    if (props == null || props.trim.isEmpty) Map.empty
    else splitTopLevel(props).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      def unq(s: String) = s.trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'")
      unq(k) -> unq(v)
    }.toMap

  /** Millis from `TIMESTAMP '...'`, a quoted timestamp, or a raw long. */
  private[sources] def parseTimestampMs(raw: String): Long = {
    val s = raw.trim.replaceAll("(?i)^TIMESTAMP\\s+", "")
      .stripPrefix("\"").stripSuffix("\"").stripPrefix("'").stripSuffix("'")
    if (s.matches("\\d+")) s.toLong
    else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
  }

  /** Split on commas that are not inside parentheses or quotes. */
  private def splitTopLevel(s: String, trackAngles: Boolean = false): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0; var quote: Char = 0
    s.foreach { c =>
      if (quote != 0) { cur += c; if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        // '<'/'>' are type brackets only in DDL declaration lists
        // (ADD COLUMNS); everywhere else they are comparison operators
        case '<' if trackAngles => depth += 1; cur += c
        case '>' if trackAngles => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _ => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
