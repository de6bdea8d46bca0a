package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.tables._
import java.nio.file.Files

/** SURVEY §2.2 continued — driver-gate queries for the table-layer
  * operators that round 2 covered only in ScalaTest: merge-on-read
  * position/equality delete files, the CDC upsert + changelog reads,
  * refs/WAP, clustering (range + z-order), manifest rewrite, and parquet
  * native bloom filters. Same contract as [[TableOps]]: deterministic
  * capped inputs (ORDER BY o_orderkey LIMIT n, mirrored in the oracle
  * SQL), outputs restricted to input-derivable values; file-level
  * semantics stay asserted in GraftTableSpec.
  */
object TableOpsExt {

  private def tmp(): String =
    Files.createTempDirectory("graft_topx").toString + "/t"

  private def orders(spark: SparkSession, sfDir: String, n: Int = 20000): DataFrame =
    Tables.orders(spark, sfDir).orderBy(col("o_orderkey")).limit(n)

  private def cappedSql(n: Int = 20000): String =
    s"(SELECT * FROM orders ORDER BY o_orderkey LIMIT $n)"

  /** The n lowest-keyed orders shifted to fresh keys (disjoint from base). */
  private def shifted(spark: SparkSession, sfDir: String, n: Int, off: Long): DataFrame =
    orders(spark, sfDir, n).withColumn("o_orderkey", col("o_orderkey") + off)

  // ---------------------------------------------------------------- t17

  /** t17: merge-on-read POSITION delete files (Iceberg v2): two stacked
    * position deletes are metadata-plus-delete-file commits (the data file
    * set never changes), reads stay exact as they accumulate, and
    * materialization clears them without changing visible rows.
    */
  def t17PositionDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir).repartition(8))
    val filesBefore = t.currentFiles().map(_.path).toSet
    t.deleteMergeOnReadPositions("o_orderstatus = 'F'")
    val rowsD1 = t.toDF().count()
    t.deleteMergeOnReadPositions("o_totalprice > 250000")
    val rowsD2 = t.toDF().count()
    val metadataOnly = t.currentFiles().map(_.path).toSet == filesBefore &&
      t.currentPositionDeletes().nonEmpty
    t.materializeDeletes()
    Seq((metadataOnly, rowsD1, rowsD2, t.toDF().count(),
        t.currentPositionDeletes().size.toLong))
      .toDF("mor_metadata_only", "rows_d1", "rows_d2", "rows_final", "pos_files_final")
  }

  val t17Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()})
       |SELECT TRUE AS mor_metadata_only,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F') AS rows_d1,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F' AND o_totalprice <= 250000) AS rows_d2,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F' AND o_totalprice <= 250000) AS rows_final,
       |  CAST(0 AS BIGINT) AS pos_files_final""".stripMargin

  // ---------------------------------------------------------------- t18

  /** t18: merge-on-read EQUALITY delete files: an O(|keys|) commit hides
    * matching rows without touching data files, and rows appended LATER
    * with the same keys survive it (sequence-number scoping — the property
    * that makes CDC upserts possible).
    */
  def t18EqualityDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir))
    val filesBefore = t.currentFiles().map(_.path).toSet
    t.deleteMergeOnReadEquality(orders(spark, sfDir, 100).select(col("o_orderkey")),
      Seq("o_orderkey"))
    val metadataOnly = t.currentFiles().map(_.path).toSet == filesBefore &&
      t.currentEqualityDeletes().size == 1
    val rowsAfterDelete = t.toDF().count()
    t.append(orders(spark, sfDir, 100))
    Seq((metadataOnly, rowsAfterDelete, t.toDF().count(),
        t.currentEqualityDeletes().size.toLong))
      .toDF("eq_metadata_only", "rows_after_delete", "rows_after_reappend", "eq_entries")
  }

  val t18Oracle: String =
    s"""SELECT TRUE AS eq_metadata_only,
       |  (SELECT COUNT(*) FROM ${cappedSql()}) - 100 AS rows_after_delete,
       |  (SELECT COUNT(*) FROM ${cappedSql()}) AS rows_after_reappend,
       |  CAST(1 AS BIGINT) AS eq_entries""".stripMargin

  // ---------------------------------------------------------------- t19

  /** t19: merge-on-read UPSERT — ONE commit (equality delete on the source
    * keys + append), no target file read or rewritten; old key versions
    * hidden, appended rows survive their own delete.
    */
  def t19UpsertMor(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir))
    val filesBefore = t.currentFiles().map(_.path).toSet
    val source = orders(spark, sfDir, 100).withColumn("o_orderpriority", lit("0-UPSERT"))
      .unionAll(shifted(spark, sfDir, 50, 900000000L)
        .withColumn("o_orderpriority", lit("0-NEW")))
    t.upsertMergeOnRead(source, Seq("o_orderkey"))
    val noRewrite = filesBefore.subsetOf(t.currentFiles().map(_.path).toSet)
    val oneCommit = t.meta.snapshots.size == 2
    // ONE pass for the three final counts (r21, guide §1.2)
    val r = t.toDF().agg(count(lit(1)),
      count(when(col("o_orderpriority") === "0-UPSERT", 1)),
      count(when(col("o_orderpriority") === "0-NEW", 1))).head()
    Seq((noRewrite, oneCommit, r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("no_rewrite", "one_commit", "n_rows", "n_upserted", "n_inserted")
  }

  val t19Oracle: String =
    s"""SELECT TRUE AS no_rewrite, TRUE AS one_commit,
       |  (SELECT COUNT(*) FROM ${cappedSql()}) + 50 AS n_rows,
       |  CAST(100 AS BIGINT) AS n_upserted, CAST(50 AS BIGINT) AS n_inserted""".stripMargin

  // ---------------------------------------------------------------- t20

  /** t20: row-level changelog (CDC read) between snapshots: an append
    * contributes 'insert' rows from its manifest diff, an equality-delete
    * commit contributes exactly the rows it hid as 'delete' — no full-table
    * diffing.
    */
  def t20ChangesBetween(spark: SparkSession, sfDir: String): DataFrame = {
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 5000))
    val s1 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 1000, 900000000L))
    t.deleteMergeOnReadEquality(orders(spark, sfDir, 100).select(col("o_orderkey")),
      Seq("o_orderkey"))
    val s3 = t.meta.currentSnapshotId.get
    t.changesBetween(s1, s3)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("o_orderkey")).as("n_keys"))
      .orderBy(col("_change_type"))
  }

  val t20Oracle: String =
    """SELECT * FROM (
      |  SELECT 'delete' AS _change_type, CAST(100 AS BIGINT) AS n, CAST(100 AS BIGINT) AS n_keys
      |  UNION ALL
      |  SELECT 'insert', 1000, 1000)
      |ORDER BY _change_type""".stripMargin

  // ---------------------------------------------------------------- t21

  /** t21: tags, branches, and the write-audit-publish flow: staged rows are
    * visible on the branch but not on main until publish fast-forwards it;
    * the tag keeps reading its creation-time snapshot throughout.
    */
  def t21RefsWap(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 5000))
    t.createTag("v1", t.meta.currentSnapshotId.get)
    t.createBranch("audit")
    t.appendToBranch(shifted(spark, sfDir, 500, 900000000L), "audit")
    val mainBefore = t.toDF().count()
    val branchRows = t.asOfRef("audit").count()
    t.publish("audit")
    Seq((mainBefore, branchRows, t.toDF().count(), t.asOfRef("v1").count()))
      .toDF("main_before", "branch_rows", "main_after", "tag_rows")
  }

  val t21Oracle: String =
    s"""WITH c AS (SELECT (SELECT COUNT(*) FROM ${cappedSql(5000)}) AS a,
       |  (SELECT COUNT(*) FROM ${cappedSql(500)}) AS b)
       |SELECT a AS main_before, a + b AS branch_rows, a + b AS main_after,
       |  a AS tag_rows FROM c""".stripMargin

  // ---------------------------------------------------------------- t22

  /** t22: rewrite_manifests — manifest consolidation keeps the data file
    * set byte-identical and round-trips merge-on-read delete state (hidden
    * rows stay hidden).
    */
  def t22RewriteManifests(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir).repartition(8))
    t.deleteMergeOnReadEquality(orders(spark, sfDir, 100).select(col("o_orderkey")),
      Seq("o_orderkey"))
    val filesBefore = t.currentFiles().map(_.path).toSet
    t.rewriteManifests()
    val same = t.currentFiles().map(_.path).toSet == filesBefore
    Seq((same, t.toDF().count())).toDF("files_identical", "n_rows")
  }

  val t22Oracle: String =
    s"""SELECT TRUE AS files_identical,
       |  (SELECT COUNT(*) FROM ${cappedSql()}) - 100 AS n_rows""".stripMargin

  // ---------------------------------------------------------------- t23

  /** t23: range clustering (rewrite with sort): before, every file spans
    * the whole key range so a key predicate scans all of them; after, files
    * hold disjoint ranges and min/max stats pruning skips most of the
    * table without any partition spec.
    */
  def t23Cluster(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir).repartition(8))
    val filter = "o_orderkey <= 1000"
    val allScanned = t.plannedFiles(filter).size == t.currentFiles().size
    t.cluster(Seq("o_orderkey"), nFiles = 8)
    val pruned = t.plannedFiles(filter).size < t.currentFiles().size
    Seq((allScanned, pruned, t.toDF(Some(filter)).count(), t.toDF().count()))
      .toDF("all_scanned_before", "pruned_after", "n_rows_filtered", "n_rows_total")
  }

  val t23Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()})
       |SELECT TRUE AS all_scanned_before, TRUE AS pruned_after,
       |  (SELECT COUNT(*) FROM base WHERE o_orderkey <= 1000) AS n_rows_filtered,
       |  (SELECT COUNT(*) FROM base) AS n_rows_total""".stripMargin

  // ---------------------------------------------------------------- t24

  /** t24: z-order clustering — one rewrite gives min/max pruning on BOTH
    * listed columns (what single-column range clustering can't), with
    * exact reads under each predicate.
    */
  def t24ClusterZOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir).repartition(8))
    t.clusterZOrder(Seq("o_custkey", "o_totalprice"), nFiles = 16)
    val total = t.currentFiles().size
    val fA = "o_custkey <= 100"
    val fB = "o_totalprice > 400000"
    Seq((t.plannedFiles(fA).size < total, t.toDF(Some(fA)).count(),
        t.plannedFiles(fB).size < total, t.toDF(Some(fB)).count()))
      .toDF("pruned_custkey", "n_custkey", "pruned_price", "n_price")
  }

  val t24Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()})
       |SELECT TRUE AS pruned_custkey,
       |  (SELECT COUNT(*) FROM base WHERE o_custkey <= 100) AS n_custkey,
       |  TRUE AS pruned_price,
       |  (SELECT COUNT(*) FROM base WHERE o_totalprice > 400000) AS n_price""".stripMargin

  // ---------------------------------------------------------------- t28

  /** t28: Hilbert-curve clustering — t24's gate shape on the Hilbert
    * rewrite: after clustering on (o_custkey, o_totalprice), stats
    * pruning skips files for predicates on EITHER column, and results
    * stay exact. The z-order-vs-Hilbert pruning comparison on a 3-column
    * mix lives in GraftTableSpec ("hilbert clustering prunes at least as
    * well as z-order on a 3-column mix").
    */
  def t28ClusterHilbert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir).repartition(8))
    t.clusterHilbert(Seq("o_custkey", "o_totalprice"), nFiles = 16)
    val total = t.currentFiles().size
    val fA = "o_custkey <= 100"
    val fB = "o_totalprice > 400000"
    Seq((t.plannedFiles(fA).size < total, t.toDF(Some(fA)).count(),
        t.plannedFiles(fB).size < total, t.toDF(Some(fB)).count()))
      .toDF("pruned_custkey", "n_custkey", "pruned_price", "n_price")
  }

  val t28Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()})
       |SELECT TRUE AS pruned_custkey,
       |  (SELECT COUNT(*) FROM base WHERE o_custkey <= 100) AS n_custkey,
       |  TRUE AS pruned_price,
       |  (SELECT COUNT(*) FROM base WHERE o_totalprice > 400000) AS n_price""".stripMargin

  // ---------------------------------------------------------------- t30

  /** t30: copy-on-write changelog recovery — CoW DELETE and UPDATE
    * commits rewrite whole touched files, but the row-level diff is
    * recovered from just the removed-vs-added file sets (unchanged
    * copied rows cancel in the multiset diff): the delete emits one
    * 'delete' per matching row, the update one 'delete' + one 'insert'
    * per truly-changed row.
    */
  def t30CowChangelog(spark: SparkSession, sfDir: String): DataFrame = {
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1000))
    val s0 = t.meta.currentSnapshotId.get
    t.delete("o_orderpriority = '1-URGENT'")
    t.update("o_totalprice > 200000", Map("o_orderpriority" -> "'9-COW'"))
    t.changesBetween(s0, t.meta.currentSnapshotId.get)
      .groupBy(col("_change_type"), col("o_orderpriority") === "9-COW")
      .agg(count(lit(1)).as("n"))
      .toDF("change_type", "is_cow_mark", "n")
      .orderBy(col("change_type"), col("is_cow_mark"))
  }

  val t30Oracle: String =
    """WITH base AS (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000),
      |live AS (SELECT * FROM base WHERE o_orderpriority <> '1-URGENT'),
      |touched AS (SELECT COUNT(*) AS n FROM live WHERE o_totalprice > 200000),
      |urgent AS (SELECT COUNT(*) AS n FROM base WHERE o_orderpriority = '1-URGENT')
      |SELECT change_type, is_cow_mark, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'delete' AS change_type, FALSE AS is_cow_mark,
      |    (SELECT n FROM urgent) + (SELECT n FROM touched) AS n
      |  UNION ALL
      |  SELECT 'insert', TRUE, (SELECT n FROM touched)
      |) ORDER BY change_type, is_cow_mark""".stripMargin

  // ---------------------------------------------------------------- t31

  /** t31: remove_orphan_files — a stray parquet under the table's data dir
    * (an aborted write) is deleted, every snapshot-referenced file
    * survives, and the table reads back unchanged. The recent-files guard
    * is exercised by a far-future cutoff (the spec covers the refusal
    * side).
    */
  def t31RemoveOrphans(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1000))
    orders(spark, sfDir, 10).coalesce(1)
      .write.mode("overwrite").parquet(t.location + "/data/stray")
    val strayCount = spark.read.parquet(t.location + "/data/stray").count()
    val removed = t.removeOrphanFiles(System.currentTimeMillis() + 60000L)
    Seq((removed.size.toLong, removed.forall(_.contains("/data/stray/")),
        strayCount, t.toDF().count()))
      .toDF("n_removed", "only_strays_removed", "stray_rows_seen", "n_rows_after")
  }

  val t31Oracle: String =
    """SELECT CAST(1 AS BIGINT) AS n_removed, TRUE AS only_strays_removed,
      |  (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 10)) AS stray_rows_seen,
      |  (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000)) AS n_rows_after""".stripMargin

  // ---------------------------------------------------------------- t25

  /** t25: incremental append-only read (addedBetween): each poll is a
    * manifest diff — only files added in the snapshot range are read.
    */
  def t25AddedBetween(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 5000))
    val s1 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 1000, 900000000L))
    val s2 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 200, 910000000L))
    val s3 = t.meta.currentSnapshotId.get
    Seq((t.addedBetween(s1, s3).count(), t.addedBetween(s2, s3).count(),
        t.addedBetween(s3, s3).count()))
      .toDF("added_1_3", "added_2_3", "added_3_3")
  }

  val t25Oracle: String =
    """SELECT CAST(1200 AS BIGINT) AS added_1_3, CAST(200 AS BIGINT) AS added_2_3,
      |  CAST(0 AS BIGINT) AS added_3_3""".stripMargin

  // ---------------------------------------------------------------- t26

  /** t26: parquet native bloom filters via `write.bloom-columns`: listed
    * columns carry a bloom filter in every row group, unlisted ones don't,
    * and point lookups combine manifest min/max pruning (one file survives
    * on range-disjoint files) with exact results.
    */
  def t26BloomFilters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(),
      orders(spark, sfDir).repartitionByRange(8, col("o_orderkey")),
      properties = Map(TableFormat.BloomColumns -> "o_orderkey"))
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(t.currentFiles().head.path), conf))
    val (keyBloom, otherNoBloom) =
      try {
        val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
        (cols.find(_.getPath.toDotString == "o_orderkey").exists(_.getBloomFilterOffset > 0),
          cols.find(_.getPath.toDotString == "o_custkey").forall(_.getBloomFilterOffset <= 0))
      } finally reader.close()
    val k = orders(spark, sfDir, 1).select(col("o_orderkey")).head().getLong(0)
    val prunedToOne = t.plannedFiles(s"o_orderkey = $k").size == 1
    Seq((keyBloom, otherNoBloom, prunedToOne, t.toDF(Some(s"o_orderkey = $k")).count()))
      .toDF("key_has_bloom", "other_no_bloom", "pruned_to_one", "n_point")
  }

  val t26Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()})
       |SELECT TRUE AS key_has_bloom, TRUE AS other_no_bloom, TRUE AS pruned_to_one,
       |  (SELECT COUNT(*) FROM base
       |   WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM base)) AS n_point""".stripMargin

  // ---------------------------------------------------------------- t27

  /** t27: metadata-file inspection + retention toggles (reference
    * README.md "Metadata files"): `.metadata_log_entries` lists the
    * version files on disk, and pruning requires BOTH properties — the
    * retention count alone deletes nothing until
    * `delete-after-commit.enabled` flips on. `.manifests` summarizes the
    * current snapshot's content groups from footers, no data scan.
    */
  def t27MetadataInspection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1000))
    t.append(shifted(spark, sfDir, 100, 900000000L))
    t.upsertMergeOnRead(orders(spark, sfDir, 50)
      .withColumn("o_orderpriority", lit("0-UPS")), Seq("o_orderkey"))
    val nMeta0 = t.metadataLogDf.count() // createAs (2 versions) + append + upsert = 4
    val man = t.manifestsDf.select(col("content"), col("file_count") > 0,
      col("record_count")).as[(String, Boolean, Long)].collect().sortBy(_._1)
    // retention count alone must not delete anything...
    t.setProperties(Map(TableFormat.PrevVersionsMax -> "1"))
    val nMeta1 = t.metadataLogDf.count()
    // ...until the distinct enable toggle flips on
    t.setProperties(Map(TableFormat.DeleteAfterCommit -> "true"))
    val nMeta2 = t.metadataLogDf.count()
    t.truncate()
    val nMeta3 = t.metadataLogDf.count()
    Seq((nMeta0, nMeta1, nMeta2, nMeta3,
        man.map(_._1).mkString(","), man.forall(_._2),
        man.find(_._1 == "data").map(_._3).getOrElse(-1L),
        man.find(_._1 == "equality-deletes").map(_._3).getOrElse(-1L)))
      .toDF("meta_initial", "meta_after_count_only", "meta_after_enable",
        "meta_after_commit", "manifest_contents", "manifest_files_nonzero",
        "data_records", "eq_delete_keys")
  }

  /** Version math: createAs writes create + append versions, then the
    * append and upsert commits make 4 version files; setting the count
    * alone commits v5 and deletes nothing; enabling deletion commits v6
    * and prunes to current + 1 previous (2 files); the truncate commit
    * keeps the window at 2. Data records = base 1000 + appended 100 +
    * upsert's 50 new versions; the eq-delete file carries the 50 keys.
    */
  val t27Oracle: String =
    """SELECT CAST(4 AS BIGINT) AS meta_initial,
      |  CAST(5 AS BIGINT) AS meta_after_count_only,
      |  CAST(2 AS BIGINT) AS meta_after_enable,
      |  CAST(2 AS BIGINT) AS meta_after_commit,
      |  'data,equality-deletes' AS manifest_contents,
      |  TRUE AS manifest_files_nonzero,
      |  (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 1000))
      |    + (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 100))
      |    + (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)) AS data_records,
      |  (SELECT COUNT(*) FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 50)) AS eq_delete_keys""".stripMargin

  // ---------------------------------------------------------------- t32

  /** t32: cherry-pick — the divergent-WAP publish. An audit branch stages
    * an append; main then advances with its own append, so fast-forward
    * publish (t21's path) correctly REFUSES; `cherryPick` re-applies the
    * staged files as a new commit on the moved head, metadata-only. A
    * second pick of the same snapshot refuses (files already referenced).
    */
  def t32CherryPick(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 5000))
    t.createBranch("audit")
    t.appendToBranch(shifted(spark, sfDir, 500, 900000000L), "audit")
    val staged = t.meta.refs("audit").snapshotId
    t.append(shifted(spark, sfDir, 300, 950000000L)) // main diverges
    val ffRefused =
      try { t.publish("audit"); false } catch { case _: IllegalArgumentException => true }
    t.cherryPick(staged)
    // ONE pass for both post-pick counts (r21, guide §1.2)
    val r = t.toDF().agg(count(lit(1)),
      count(when(col("o_orderkey").between(900000000L, 949999999L), 1))).head()
    val mainAfter = r.getLong(0)
    val stagedVisible = r.getLong(1)
    val dupRefused =
      try { t.cherryPick(staged); false } catch { case _: IllegalArgumentException => true }
    Seq((ffRefused, mainAfter, stagedVisible, dupRefused))
      .toDF("ff_refused", "main_after", "staged_visible", "dup_refused")
  }

  val t32Oracle: String =
    s"""SELECT TRUE AS ff_refused,
       |  (SELECT COUNT(*) FROM ${cappedSql(5000)})
       |    + (SELECT COUNT(*) FROM ${cappedSql(300)})
       |    + (SELECT COUNT(*) FROM ${cappedSql(500)}) AS main_after,
       |  (SELECT COUNT(*) FROM ${cappedSql(500)}) AS staged_visible,
       |  TRUE AS dup_refused""".stripMargin

  // ---------------------------------------------------------------- t33

  /** t33: CONCURRENT APPENDS through the commit CAS (r6) — four writers
    * race the same table head with disjoint key slices; every writer must
    * land (rebase-retry on a lost CAS, no data rewrite), history must stay
    * one linear ancestry, and no rows may be lost or duplicated. This is
    * the catalog-CAS behavior of the reference's engines
    * (Iceberg `commit.retry.num-retries`), exercised for real on the
    * file-based commit protocol.
    */
  def t33ConcurrentAppend(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val writers = 4
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 2000),
      properties = Map(TableFormat.CommitRetries -> "16"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      Await.result(Future.sequence((1 to writers).map { i =>
        Future {
          GraftTable.load(spark, t.location)
            .append(shifted(spark, sfDir, 250, 900000000L * i))
        }
      }), 300.seconds)
    } finally pool.shutdown()
    val m = t.meta
    val linear = m.currentAncestors.size == m.snapshots.size
    // ONE pass for both final counts (r21, guide §1.2)
    val r = t.toDF().agg(count(lit(1)), countDistinct(col("o_orderkey"))).head()
    Seq((m.snapshots.count(_.operation == "append").toLong,
      r.getLong(0), r.getLong(1), linear))
      .toDF("n_appends", "n_rows", "n_distinct_keys", "linear_history")
  }

  val t33Oracle: String =
    s"""SELECT CAST(5 AS BIGINT) AS n_appends,
       |  (SELECT COUNT(*) FROM ${cappedSql(2000)})
       |    + 4 * (SELECT COUNT(*) FROM ${cappedSql(250)}) AS n_rows,
       |  (SELECT COUNT(*) FROM ${cappedSql(2000)})
       |    + 4 * (SELECT COUNT(*) FROM ${cappedSql(250)}) AS n_distinct_keys,
       |  TRUE AS linear_history""".stripMargin

  // ---------------------------------------------------------------- t34

  /** t34: retention-aware snapshot expiration (Iceberg branch/tag
    * retention properties). Four snapshots; a bare tag pins s1 forever, a
    * tag with `max-ref-age-ms = 0` is itself dropped by the expire
    * (releasing s2), and a branch at s3 with `min-snapshots-to-keep = 1`
    * protects exactly its head. Expiring everything older than the
    * newest commit then leaves {s1, s3, s4}, drops the stale tag, and
    * both surviving refs still time-travel correctly.
    */
  def t34BranchRetention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1000))
    val s1 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 200, 900000000L))
    val s2 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 200, 1800000000L))
    val s3 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 200, 2700000000L))
    t.createTag("pin", s1)
    t.createTag("stale", s2)
    t.createBranch("dev", Some(s3))
    val asOf = t.meta.snapshots.map(_.timestampMs).max + 1
    t.expireSnapshots(asOf, Map(
      "stale" -> RefRetention(maxRefAgeMs = 0L),
      "dev"   -> RefRetention(minSnapshotsToKeep = 1, maxSnapshotAgeMs = 0L)), asOf)
    val m = t.meta
    Seq((m.snapshots.size.toLong, m.refs.size.toLong, m.refs.contains("stale"),
        t.asOfRef("pin").count(), t.asOfRef("dev").count(), t.toDF().count()))
      .toDF("n_snapshots", "n_refs", "stale_survives",
        "tag_rows", "branch_rows", "main_rows")
  }

  val t34Oracle: String =
    s"""WITH c AS (SELECT (SELECT COUNT(*) FROM ${cappedSql(1000)}) AS a,
       |  (SELECT COUNT(*) FROM ${cappedSql(200)}) AS b)
       |SELECT CAST(3 AS BIGINT) AS n_snapshots, CAST(2 AS BIGINT) AS n_refs,
       |  FALSE AS stale_survives, a AS tag_rows, a + 2 * b AS branch_rows,
       |  a + 3 * b AS main_rows FROM c""".stripMargin

  // ---------------------------------------------------------------- t35

  /** t35: runtime-filter join — the dim side's distinct keys prune the
    * fact table's files via min/max stats before the scan (Iceberg Spark
    * runtime filtering). The fact table is clustered by the join key so
    * key ranges per file are tight; the dim side is every 500th customer.
    * Correctness is oracle-checked (the join result must equal a plain
    * SQL join); the files-actually-skipped assertion lives in the spec —
    * file counts depend on write parallelism and stay out of gate output.
    */
  def t35RuntimeFilterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 5000).repartition(8))
    t.cluster(Seq("o_custkey"), nFiles = 8)
    val dim = Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 500 === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = t.joinPruned(dim, "o_custkey", "c_custkey")
    joined.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("n_keys"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .select(col("n_rows"), col("n_keys"), col("sum_price"))
  }

  val t35Oracle: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_keys,
       |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM ${cappedSql(5000)} o
       |JOIN (SELECT c_custkey FROM customer WHERE c_custkey % 500 = 0) c
       |  ON o.o_custkey = c.c_custkey""".stripMargin

  // ---------------------------------------------------------------- t36

  /** t36: FULL schema evolution (r6) — rename / drop / re-add / widen as
    * metadata-only commits over the logical→physical column mapping
    * ([[graft.tables.ColumnMapping]]; the Iceberg field-id model over
    * plain parquet). The gate proves: a rename rewrites no file and keeps
    * values queryable under the new name across old AND new files; a
    * widened int column sums as long across mixed-type files; a dropped
    * column re-added under the same name reads NULL from pre-drop files
    * (no byte resurrection) and real values from post-re-add writes.
    */
  def t36SchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = orders(spark, sfDir, 1000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        (col("o_orderkey") % 50).cast("int").as("qty"))
    val t = GraftTable.createAs(spark, tmp(), base)
    val filesBefore = t.currentFiles().map(_.path).toSet
    val s1 = t.meta.currentSnapshotId.get

    t.renameColumn("o_totalprice", "price")
    val metadataOnly = t.currentFiles().map(_.path).toSet == filesBefore
    t.widenColumn("qty", org.apache.spark.sql.types.LongType)
    t.dropColumn("o_orderstatus")
    t.addColumn("o_orderstatus", org.apache.spark.sql.types.StringType)

    t.append(orders(spark, sfDir, 200)
      .select((col("o_orderkey") + 900000000L).as("o_orderkey"),
        col("o_totalprice").as("price"),
        ((col("o_orderkey") + 900000000L) % 50).as("qty"),
        lit("NEW").as("o_orderstatus")))

    t.toDF().agg(
        count(lit(1)).as("n_rows"),
        sum(col("price").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        sum(col("qty")).as("sum_qty"),
        count(col("o_orderstatus")).as("n_status"))
      .withColumn("metadata_only", lit(metadataOnly))
      // snapshot-schema time travel: the pre-evolution snapshot still
      // reads under its own (original) column names and types
      .withColumn("old_snapshot_cols", lit(t.asOf(s1).columns.mkString(",")))
  }

  val t36Oracle: String =
    s"""WITH base AS (
       |  SELECT o_totalprice AS price, o_orderkey % 50 AS qty,
       |    CAST(NULL AS VARCHAR) AS status FROM ${cappedSql(1000)}
       |  UNION ALL
       |  SELECT o_totalprice AS price, (o_orderkey + 900000000) % 50 AS qty,
       |    'NEW' AS status FROM ${cappedSql(200)}
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
       |  COUNT(status) AS n_status,
       |  TRUE AS metadata_only,
       |  'o_orderkey,o_orderstatus,o_totalprice,qty' AS old_snapshot_cols
       |FROM base""".stripMargin

  // ---------------------------------------------------------------- t37

  /** t37: changelog-driven table REPLICATION (r6) — the consumer end of
    * CDC ([[graft.tables.TableReplicator]]): one sync folds the source's
    * row-level changelog since the cursor to its net change per key and
    * applies it as ONE mergeBatch, the head cursor riding that commit
    * (exactly-once per sync). The gate drives the source through append /
    * copy-on-write delete / merge-on-read upsert, syncs once, and emits
    * the REPLICA's aggregate plus the applied-commit count (the source
    * commits the sync covered) — DuckDB replays the same sequence
    * relationally.
    */
  def t37Replicate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 2000))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))

    src.append(shifted(spark, sfDir, 300, 900000000L))
    src.delete("o_orderkey % 9 = 0")
    src.upsertMergeOnRead(orders(spark, sfDir, 150)
      .withColumn("o_totalprice", lit(555.25)), Seq("o_orderkey"))
    val applied = TableReplicator.sync(spark, repLoc)

    GraftTable.load(spark, repLoc).toDF().agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .withColumn("commits_applied", lit(applied.toLong))
  }

  val t37Oracle: String =
    s"""WITH base0 AS (
       |  SELECT * FROM ${cappedSql(2000)}
       |  UNION ALL
       |  SELECT * REPLACE (o_orderkey + 900000000 AS o_orderkey)
       |  FROM ${cappedSql(300)}
       |), afterdel AS (
       |  SELECT * FROM base0 WHERE o_orderkey % 9 <> 0
       |), ups AS (
       |  SELECT * REPLACE (555.25 AS o_totalprice) FROM ${cappedSql(150)}
       |), final AS (
       |  SELECT * FROM afterdel
       |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ups)
       |  UNION ALL SELECT * FROM ups
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  CAST(3 AS BIGINT) AS commits_applied
       |FROM final""".stripMargin

  // ---------------------------------------------------------------- t38

  /** t38: `add_files` — register already-written parquet into a LIVE
    * table with zero rewrite (Iceberg's add_files procedure; the in-place
    * import path of t02 applied to an existing table). The gate stages a
    * parquet directory outside the table, adds it through the SQL facade,
    * and proves the table answers with the union while the staged file
    * paths entered the manifest verbatim (no copy).
    */
  def t38AddFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1500))
    val staged = Files.createTempDirectory("graft_t38_stage").toString + "/p"
    shifted(spark, sfDir, 400, 900000000L).write.parquet(staged)

    val sql = new graft.sources.GraftSql(spark,
      Files.createTempDirectory("graft_t38_db").toString)
    sql.register("t38t", t.location)
    sql.sql(s"CALL system.add_files('t38t', '$staged')")

    val reloaded = GraftTable.load(spark, t.location)
    val inPlace = reloaded.currentFiles().count(_.path.startsWith(staged))
    reloaded.toDF().agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .withColumn("staged_in_place", lit(inPlace > 0))
      .withColumn("pruned_added", lit(
        reloaded.plannedFiles("o_orderkey >= 900000000").forall(
          _.path.startsWith(staged))))
  }

  val t38Oracle: String =
    s"""WITH u AS (
       |  SELECT * FROM ${cappedSql(1500)}
       |  UNION ALL
       |  SELECT * REPLACE (o_orderkey + 900000000 AS o_orderkey)
       |  FROM ${cappedSql(400)}
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  TRUE AS staged_in_place, TRUE AS pruned_added
       |FROM u""".stripMargin

  // ---------------------------------------------------------------- t39

  /** t39: the FULL MERGE clause surface (r6) — conditional WHEN clauses,
    * DELETE actions, first-match-wins ordering, conditional NOT MATCHED
    * inserts — compiled to ONE copy-on-write `mergeApply` commit that
    * rewrites only files holding an affected key. Matched even keys
    * delete, remaining matched keys update, and only every 5th unmatched
    * source key inserts; rows no clause selects survive untouched.
    */
  def t39MergeClauses(spark: SparkSession, sfDir: String): DataFrame = {
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1000))
    val s = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 1600))
    val sql = new graft.sources.GraftSql(spark,
      Files.createTempDirectory("graft_t39_db").toString)
    sql.register("t39t", t.location)
    sql.register("t39s", s.location)
    sql.sql("""MERGE INTO t39t AS t USING (SELECT * FROM t39s) AS src
              |ON t.o_orderkey = src.o_orderkey
              |WHEN MATCHED AND src.o_orderkey % 2 = 0 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'UPD'
              |WHEN NOT MATCHED AND src.o_orderkey % 5 = 0 THEN INSERT *""".stripMargin)
    GraftTable.load(spark, t.location).toDF().agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_orderpriority") === "UPD", 1L).otherwise(0L)).as("n_updated"),
      sum(col("o_orderkey") % 2).as("n_odd"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
  }

  val t39Oracle: String =
    s"""WITH tgt AS (SELECT * FROM ${cappedSql(1000)}),
       |src AS (SELECT * FROM ${cappedSql(1600)}),
       |upd AS (SELECT * REPLACE ('UPD' AS o_orderpriority) FROM tgt
       |        WHERE o_orderkey % 2 <> 0),
       |ins AS (SELECT * FROM src
       |        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
       |          AND o_orderkey % 5 = 0),
       |final AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN o_orderpriority = 'UPD' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       |  CAST(SUM(o_orderkey % 2) AS BIGINT) AS n_odd,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |FROM final""".stripMargin

  // ---------------------------------------------------------------- t40

  /** t40: DYNAMIC partition overwrite (r6) — `INSERT OVERWRITE` on a
    * partitioned table with `write.overwrite-mode=dynamic` replaces
    * exactly the partitions the incoming rows touch (here: one
    * orderstatus) and keeps every other file byte-identical; the daily
    * re-run shape. The untouched partitions' FILES (not just rows) must
    * survive — pinned via the path set — and the changelog sees the swap
    * as a file-diff CoW commit.
    */
  def t40DynamicOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 2000),
      partitionFields = Seq(PartitionField("o_orderstatus", "identity", "o_orderstatus")),
      properties = Map("write.overwrite-mode" -> "dynamic"))
    val untouchedBefore = t.currentFiles()
      .filterNot(_.partitionValues.get("o_orderstatus").contains("F")).map(_.path).toSet

    val sql = new graft.sources.GraftSql(spark,
      Files.createTempDirectory("graft_t40_db").toString)
    sql.register("t40t", t.location)
    // replacement rows for partition F only: the 100 lowest F keys, price 1.0
    val repl = orders(spark, sfDir, 2000).filter(col("o_orderstatus") === "F")
      .orderBy(col("o_orderkey")).limit(100)
      .withColumn("o_totalprice", lit(1.0))
    repl.createOrReplaceTempView("t40_repl")
    sql.sql("INSERT OVERWRITE t40t SELECT * FROM t40_repl")

    val after = GraftTable.load(spark, t.location)
    val untouchedAfter = after.currentFiles()
      .filterNot(_.partitionValues.get("o_orderstatus").contains("F")).map(_.path).toSet
    after.toDF().agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .withColumn("other_files_untouched", lit(untouchedAfter == untouchedBefore))
  }

  val t40Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql(2000)}),
       |repl AS (
       |  SELECT * REPLACE (1.0 AS o_totalprice) FROM (
       |    SELECT * FROM base WHERE o_orderstatus = 'F'
       |    ORDER BY o_orderkey LIMIT 100)
       |), final AS (
       |  SELECT * FROM base WHERE o_orderstatus <> 'F'
       |  UNION ALL SELECT * FROM repl
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  TRUE AS other_files_untouched
       |FROM final""".stripMargin

  // ---------------------------------------------------------------- t41

  /** t41: metadata-only aggregates (r6; Iceberg aggregate pushdown) —
    * COUNT(*) from the snapshot's maintained record total and MIN/MAX
    * from manifest stats, zero data IO. The gate checks the values against
    * a real scan (DuckDB) AND that the unsafe states refuse: after a
    * merge-on-read delete lands, both must return None (the fallback),
    * and after materialization they answer again with the delete applied.
    */
  def t41FastAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 2500).repartition(6))
    val c0 = t.fastCount()
    val mm0 = t.fastMinMax("o_totalprice")
    val key0 = t.fastMinMax("o_orderkey")
    t.deleteMergeOnReadEquality(
      orders(spark, sfDir, 2500).orderBy(col("o_orderkey").desc).limit(1)
        .select(col("o_orderkey")), Seq("o_orderkey"))
    val refusedPending = t.fastCount().isEmpty && t.fastMinMax("o_orderkey").isEmpty
    t.materializeDeletes()
    val c1 = t.fastCount()
    val key1 = t.fastMinMax("o_orderkey")
    Seq((c0.getOrElse(-1L), mm0.map(_._1.asInstanceOf[Double]).getOrElse(-1.0),
        mm0.map(_._2.asInstanceOf[Double]).getOrElse(-1.0),
        key0.map(_._1.asInstanceOf[Long]).getOrElse(-1L),
        key0.map(_._2.asInstanceOf[Long]).getOrElse(-1L),
        refusedPending, c1.getOrElse(-1L),
        key1.map(_._2.asInstanceOf[Long]).getOrElse(-1L)))
      .toDF("n0", "min_price", "max_price", "min_key", "max_key",
        "refused_pending", "n1", "max_key_after")
  }

  val t41Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql(2500)})
       |SELECT (SELECT COUNT(*) FROM base) AS n0,
       |  (SELECT MIN(o_totalprice) FROM base) AS min_price,
       |  (SELECT MAX(o_totalprice) FROM base) AS max_price,
       |  (SELECT MIN(o_orderkey) FROM base) AS min_key,
       |  (SELECT MAX(o_orderkey) FROM base) AS max_key,
       |  TRUE AS refused_pending,
       |  (SELECT COUNT(*) FROM base) - 1 AS n1,
       |  (SELECT MAX(o_orderkey) FROM base
       |   WHERE o_orderkey <> (SELECT MAX(o_orderkey) FROM base)) AS max_key_after""".stripMargin

  // ---------------------------------------------------------------- t42

  /** t42: ANALYZE column statistics (r6, persistence r8 — the Iceberg
    * Puffin shape): one KMV pass computes per-column sketch BUFFERS,
    * persisted in a snapshot-stamped stats file. Cardinalities here are
    * far below the sketch's k, so NDVs are exact (the x14 contract) and
    * DuckDB recomputes them as COUNT(DISTINCT). The r8 contract is part
    * of the gate: an APPEND after ANALYZE folds the new rows' sketches
    * into the persisted buffers (mergeable set-union), so NDV stays LIVE
    * under ingest; a NULL-bearing column counts only non-NULL values
    * (NULLs are skipped before hashing); a row-REWRITING commit (CoW
    * delete) flips stats to stale — None, never silently wrong.
    */
  def t42Analyze(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 3000)
      .withColumn("maybe",
        when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority"))))
    val sql = new graft.sources.GraftSql(spark,
      Files.createTempDirectory("graft_t42_db").toString)
    sql.register("t42t", t.location)
    sql.sql("ANALYZE TABLE t42t COMPUTE STATISTICS FOR COLUMNS o_orderstatus, o_custkey, maybe")
    val ndv0 = Seq("o_orderstatus", "o_custkey", "maybe").map(t.columnNdv)
    t.append(shifted(spark, sfDir, 100, 900000000L)
      .withColumn("maybe", lit("EXTRA")))
    val liveAfterAppend = t.columnNdv("maybe").getOrElse(-1L)
    t.delete("o_orderkey % 97 = 0")
    val staleAfterRewrite = t.columnNdv("o_orderstatus").isEmpty
    t.analyze(Seq("o_orderkey"))
    Seq((ndv0(0).getOrElse(-1L), ndv0(1).getOrElse(-1L), ndv0(2).getOrElse(-1L),
        liveAfterAppend, staleAfterRewrite, t.columnNdv("o_orderkey").getOrElse(-1L)))
      .toDF("ndv_status", "ndv_cust", "ndv_maybe",
        "ndv_maybe_after_append", "stale_after_rewrite", "ndv_key_after")
  }

  val t42Oracle: String =
    s"""WITH base AS (
       |  SELECT *, CASE WHEN o_orderkey % 3 = 0 THEN NULL
       |    ELSE o_orderpriority END AS maybe FROM ${cappedSql(3000)}
       |), appended AS (
       |  SELECT o_orderkey + 900000000 AS o_orderkey, 'EXTRA' AS maybe
       |  FROM ${cappedSql(100)}
       |)
       |SELECT
       |  (SELECT COUNT(DISTINCT o_orderstatus) FROM base) AS ndv_status,
       |  (SELECT COUNT(DISTINCT o_custkey) FROM base) AS ndv_cust,
       |  (SELECT COUNT(DISTINCT maybe) FROM base) AS ndv_maybe,
       |  (SELECT COUNT(DISTINCT maybe) FROM (
       |     SELECT maybe FROM base UNION ALL SELECT maybe FROM appended))
       |    AS ndv_maybe_after_append,
       |  TRUE AS stale_after_rewrite,
       |  (SELECT COUNT(DISTINCT o_orderkey) FROM (
       |     SELECT o_orderkey FROM base UNION ALL
       |     SELECT o_orderkey FROM appended)
       |   WHERE o_orderkey % 97 <> 0) AS ndv_key_after""".stripMargin

  // ---------------------------------------------------------------- t43

  /** t43: CDC SCHEMA-EVOLUTION propagation (r8) — the replica survives
    * its source renaming the replication KEY, renaming a measure,
    * widening, and dropping a column MID-STREAM: `sync` detects the
    * schema-id change, replays the diff (keyed by physical name — the
    * field-id role) onto the replica as one metadata commit carrying the
    * schema cursor and the remapped key columns, then applies the row
    * commits' net change under the new schema. DuckDB replays the same sequence
    * relationally; the replica's column set is part of the gate.
    */
  def t43CdcSchemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val src = GraftTable.createAs(spark, tmp(),
      orders(spark, sfDir, 1200)
        .withColumn("qty", (col("o_orderkey") % 50).cast("int")))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    src.append(shifted(spark, sfDir, 200, 900000000L)
      .withColumn("qty", (col("o_orderkey") % 50).cast("int")))
    val pre = TableReplicator.sync(spark, repLoc)

    // mid-stream evolution: all metadata-only commits on the source
    src.renameColumn("o_orderkey", "okey")
    src.renameColumn("o_totalprice", "amount")
    src.widenColumn("qty", org.apache.spark.sql.types.LongType)
    src.dropColumn("o_orderpriority")

    def evolved(n: Int, off: Long): DataFrame =
      orders(spark, sfDir, n).withColumn("o_orderkey", col("o_orderkey") + off)
        .withColumn("qty", (col("o_orderkey") % 50).cast("long"))
        .withColumnRenamed("o_orderkey", "okey")
        .withColumnRenamed("o_totalprice", "amount")
        .drop("o_orderpriority")
    src.append(evolved(150, 950000000L))
    src.upsertMergeOnRead(evolved(100, 0L).withColumn("amount", lit(42.5)),
      Seq("okey"))
    val applied = TableReplicator.sync(spark, repLoc)

    val rep = GraftTable.load(spark, repLoc)
    rep.toDF().agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("okey")).as("n_keys"),
        sum(col("amount").cast(DecimalType(18, 2))).cast("double").as("sum_amount"),
        sum(col("qty")).as("sum_qty"))
      .withColumn("commits_applied", lit(pre.toLong + applied.toLong))
      .withColumn("replica_cols", lit(rep.meta.schema.fieldNames.sorted.mkString(",")))
  }

  val t43Oracle: String =
    s"""WITH base AS (
       |  SELECT o_orderkey AS okey, o_totalprice AS amount,
       |    o_orderkey % 50 AS qty FROM ${cappedSql(1200)}
       |), b2 AS (
       |  SELECT o_orderkey + 900000000 AS okey, o_totalprice AS amount,
       |    (o_orderkey + 900000000) % 50 AS qty FROM ${cappedSql(200)}
       |), b3 AS (
       |  SELECT o_orderkey + 950000000 AS okey, o_totalprice AS amount,
       |    (o_orderkey + 950000000) % 50 AS qty FROM ${cappedSql(150)}
       |), ups AS (
       |  SELECT o_orderkey AS okey, 42.5 AS amount, o_orderkey % 50 AS qty
       |  FROM ${cappedSql(100)}
       |), allr AS (
       |  SELECT * FROM base UNION ALL SELECT * FROM b2 UNION ALL SELECT * FROM b3
       |), final AS (
       |  SELECT * FROM allr WHERE okey NOT IN (SELECT okey FROM ups)
       |  UNION ALL SELECT * FROM ups
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_keys,
       |  CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount,
       |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
       |  CAST(3 AS BIGINT) AS commits_applied,
       |  'amount,o_custkey,o_orderdate,o_orderstatus,okey,qty' AS replica_cols
       |FROM final""".stripMargin

  // ---------------------------------------------------------------- t44

  /** t44: STATS-DRIVEN runtime-filter join (r8; the ANALYZE consumer) —
    * `joinPruned(dim: GraftTable)` reads the dim's persisted NDV and
    * picks the IN-list file-skipping path (small dim) instead of the
    * fixed maxKeys cliff. The gate pins the decision inputs (NDV served
    * from the stats file), the effect (fact files pruned on the
    * key-clustered table), and the join values vs a plain SQL join.
    */
  def t44StatsJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val fact = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 2000))
    fact.cluster(Seq("o_custkey"), nFiles = 8)
    val dim = GraftTable.createAs(spark, tmp(),
      orders(spark, sfDir, 2000).select(col("o_custkey").as("k"))
        .distinct().orderBy(col("k")).limit(5))
    dim.analyze(Seq("k"))
    val ndvServed = dim.columnNdv("k").contains(5L)
    val joined = fact.joinPruned(dim, "o_custkey", "k", maxKeys = 100)
    val keys = dim.toDF().orderBy(col("k")).collect().map(_.getLong(0))
    val pruned = fact.plannedFiles(
      s"o_custkey IN (${keys.mkString(",")})").size < fact.currentFiles().size
    joined.agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .withColumn("ndv_served", lit(ndvServed))
      .withColumn("files_pruned", lit(pruned))
  }

  val t44Oracle: String =
    s"""WITH f AS (SELECT * FROM ${cappedSql(2000)}),
       |d AS (SELECT DISTINCT o_custkey AS k FROM ${cappedSql(2000)}
       |      ORDER BY k LIMIT 5)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
       |  TRUE AS ndv_served, TRUE AS files_pruned
       |FROM f JOIN d ON f.o_custkey = d.k""".stripMargin

  // ---------------------------------------------------------------- t45

  /** t45: WRITE-TIME sort order (Iceberg SortOrder + distribution mode;
    * reference README.md "Predicate pushdown and file pruning" — the
    * unpartitioned pruning story, made durable): the table DECLARES
    * `write.sort-order`, then every append range-distributes + locally
    * sorts — files get tight, disjoint key ranges the moment rows land,
    * so stats pruning works with NO maintenance cluster() call anywhere.
    * The gate appends two UNSORTED batches and pins: multiple files per
    * append (a real layout, not one file), pruning on the sort key
    * (planned < total), and exact filtered values.
    */
  def t45SortOrder(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = orders(spark, sfDir, 4000)
    val t = GraftTable.createAs(spark, tmp(), base.limit(0))
    t.setSortOrder(Seq("o_orderkey"))
    // small target so gate-scale appends still land several files (at
    // production scale the same knob yields ~128MB files). Derived from
    // the CORPUS, not a constant: ~16 bytes/row per half-table append,
    // floored — at sf0.001's 1500-row cap a fixed 16384 made each append
    // ONE full-range file and pruning had nothing to drop (VERDICT r16
    // "what's wrong" #2)
    val target = math.max(2048L, base.count() * 16 / 4)
    t.setProperties(Map(TableFormat.TargetFileSize -> target.toString))
    // each unsorted batch spans the WHOLE key range (parity split), so
    // only the declared order — not arrival luck — can separate files
    t.append(base.filter(col("o_orderkey") % 2 === 0).repartition(4))
    t.append(base.filter(col("o_orderkey") % 2 === 1).repartition(4))
    val total = t.currentFiles().size
    val filter = "o_orderkey <= 400"
    val planned = t.plannedFiles(filter).size
    t.toDF(Some(filter)).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .withColumn("multi_file", lit(total > 2))
      .withColumn("files_pruned", lit(planned < total))
  }

  val t45Oracle: String =
    s"""SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  TRUE AS multi_file, TRUE AS files_pruned
       |FROM ${cappedSql(4000)} WHERE o_orderkey <= 400""".stripMargin

  /** t46: PERSISTED partition statistics (Iceberg's partition statistics
    * files; reference README.md "Metadata files" — metadata serving the
    * planner). `computePartitionStats()` stamps per-(spec, partition)
    * data-file/record/byte counters from manifests (metadata-only); the
    * APPEND then folds its own files' totals in — O(appended files),
    * never a manifest rescan — and re-stamps in the same commit, so
    * `.partitions` serves from the payload in O(partitions) with ZERO
    * manifest IO at any file count (the 10⁶-file serving path).
    * `from_stats` pins that the result really came from the persisted
    * payload, live across the append; per-partition values are
    * oracle-checked, and file_count = 2 pins the fold arithmetic (one
    * file per partition per write). Staleness honesty (non-append
    * commits flip to live recompute) is spec'd in StatsSpec.
    */
  def t46PartitionStats(spark: SparkSession, sfDir: String): DataFrame = {
    val base = orders(spark, sfDir)
    val t = GraftTable.createAs(spark, tmp(), base.filter(col("o_orderkey") % 2 === 0),
      Seq(PartitionField("o_orderstatus", "identity", "status")))
    t.computePartitionStats()
    t.append(base.filter(col("o_orderkey") % 2 === 1))
    t.partitionsDf
      .select(col("partition"), col("file_count"), col("record_count"))
      .withColumn("from_stats", lit(t.partitionStats.isDefined))
      .orderBy(col("partition"))
  }

  val t46Oracle: String =
    s"""SELECT 'status=' || o_orderstatus AS partition,
       |  CAST(2 AS BIGINT) AS file_count, COUNT(*) AS record_count,
       |  TRUE AS from_stats
       |FROM ${cappedSql()} GROUP BY o_orderstatus ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- t47

  /** t47: DELETION VECTORS — merge-on-read position deletes encoded as
    * ONE adaptive bitmap row per touched data file
    * ([[graft.functions.Bitmaps]]; the Iceberg-v3 / Delta DV shape)
    * instead of a row per deleted position. The gate pins the four
    * properties that make DVs the 100 TB position-delete format: the
    * commit is metadata+bitmap only (data files untouched), the delete
    * artifact is O(touched files) rows however many rows died (bounded
    * here by 2 commits × 8 files while thousands of rows are deleted),
    * stacked DVs read exactly, the changelog re-derives a DV commit's
    * deleted rows, and materialization clears the DVs without changing
    * visible rows. Facade dispatch (`write.delete.mode =
    * 'merge-on-read-dv'`, a graft extension of Iceberg's mode values) is
    * covered in GraftSqlSpec.
    */
  def t47DeletionVectors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir).repartition(8))
    val filesBefore = t.currentFiles().map(_.path).toSet
    t.deleteMergeOnReadDV("o_orderstatus = 'F'")
    val rowsD1 = t.toDF().count()
    t.deleteMergeOnReadDV("o_totalprice > 250000")
    val rowsD2 = t.toDF().count()
    val dvFiles = t.currentPositionDeletes()
    val metadataOnly = t.currentFiles().map(_.path).toSet == filesBefore &&
      dvFiles.nonEmpty
    // O(touched files), not O(deleted rows): ≤ 8 bitmap rows per commit
    // (readImmutable: write-once registered artifacts — no inference job)
    val dvRowsBounded = graft.sources.Pq.readImmutable(spark, dvFiles).count() <= 16
    val snaps = t.meta.snapshots
    val changelogDeletes = t.changesBetween(snaps(1).id, snaps(2).id)
      .filter(col("_change_type") === "delete").count()
    t.materializeDeletes()
    Seq((metadataOnly, rowsD1, rowsD2, dvRowsBounded, changelogDeletes,
        t.toDF().count(), t.currentPositionDeletes().size.toLong))
      .toDF("dv_metadata_only", "rows_d1", "rows_d2", "dv_rows_bounded",
        "n_changelog_deletes", "rows_final", "dv_files_final")
  }

  val t47Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()})
       |SELECT TRUE AS dv_metadata_only,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F') AS rows_d1,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F' AND o_totalprice <= 250000) AS rows_d2,
       |  TRUE AS dv_rows_bounded,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F' AND o_totalprice > 250000) AS n_changelog_deletes,
       |  (SELECT COUNT(*) FROM base WHERE o_orderstatus <> 'F' AND o_totalprice <= 250000) AS rows_final,
       |  CAST(0 AS BIGINT) AS dv_files_final""".stripMargin

  // ---------------------------------------------------------------- t48

  /** t48: REAL-Iceberg binary interop (r11) — export a partitioned,
    * multi-snapshot table as genuine v1 Avro manifests + manifest lists
    * (from-scratch codec, [[graft.formats.Avro]]), re-import the binary
    * artifact, and prove the round trip is exact: row-identical data,
    * partition pruning live through the translated specs (months values
    * shift Iceberg-epoch↔calendar on the way through), aggregates equal
    * to the source. Byte-level spec conformance is pinned in AvroSpec /
    * IcebergAvroInteropSpec; this gate pins the user-visible contract.
    */
  def t48AvroInterop(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // `years` partitioning (≈7 files/commit, not ~80 as months would
    // give): the same epoch-shift conversion path on the wire, a bench
    // cost proportional to what the gate actually proves. The months
    // variant stays pinned in IcebergAvroInteropSpec.
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 5000),
      partitionFields = Seq(PartitionField("o_orderdate", "years", "o_year")))
    t.append(shifted(spark, sfDir, 1000, 900000000L))
    val dir = Files.createTempDirectory("graft_avro_out").toString
    IcebergExport.exportBinary(t, dir)
    // ≥1 manifest list + ≥1 manifest, all genuinely Avro containers
    val avroFiles = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    val avroArtifacts = avroFiles.length >= 2 && avroFiles.forall { f =>
      val in = new java.io.FileInputStream(f)
      try {
        val magic = new Array[Byte](4)
        in.read(magic) == 4 && magic.sameElements(Array[Byte]('O', 'b', 'j', 1))
      } finally in.close()
    }
    val imp = IcebergImport.importMetadata(spark, s"$dir/metadata.json",
      Files.createTempDirectory("graft_avro_in").toString + "/t")
    // count + price fused into ONE pass (r21, guide §1.2); the 1995 count
    // stays a separate FILTERED read on purpose — it exercises the pruned
    // scan path over the imported avro manifest
    val r = imp.toDF().agg(count(lit(1)),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")).head()
    val rowsTotal = r.getLong(0)
    val rows95 = imp.toDF(Some(
      "o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'")).count()
    val sumPrice = r.getDouble(1)
    val roundtripExact = rowsTotal == t.toDF().count()
    Seq((avroArtifacts, roundtripExact, rowsTotal, rows95, sumPrice))
      .toDF("avro_artifacts", "roundtrip_exact", "rows_total", "rows_1995", "sum_price")
  }

  val t48Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql(5000)}),
       |shifted AS (SELECT * FROM ${cappedSql(1000)})
       |SELECT TRUE AS avro_artifacts, TRUE AS roundtrip_exact,
       |  (SELECT COUNT(*) FROM base) + (SELECT COUNT(*) FROM shifted)
       |    AS rows_total,
       |  (SELECT COUNT(*) FROM base
       |     WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01')
       |  + (SELECT COUNT(*) FROM shifted
       |     WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01')
       |    AS rows_1995,
       |  CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM base)
       |     + (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM shifted)
       |    AS DOUBLE) AS sum_price""".stripMargin

  // ---------------------------------------------------------------- t49

  /** t49: Iceberg v3 deletion-vector interop (r11) — delete merge-on-read
    * via DV bitmaps, export the table as a v3 artifact whose delete state
    * is genuine `deletion-vector-v1` Puffin blobs (portable Roaring
    * framed with magic + CRC, [[graft.tables.IcebergDV]]), re-import, and
    * prove the read is exact WITH the deletes applied — and that the
    * imported delete state is still bitmaps (the O(files-with-deletes)
    * read plan survives the foreign round trip; a v2 export must explode
    * to row-per-position files instead). Byte-level conformance is pinned
    * in RoaringSpec (cross-validated against the RoaringBitmap jar) and
    * IcebergDvInteropSpec; this gate pins the user-visible contract.
    */
  def t49DvInterop(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 4000))
    t.deleteMergeOnReadDV("o_orderkey % 7 = 0")
    val dir = Files.createTempDirectory("graft_dv3_out").toString
    IcebergExport.exportBinary(t, dir, formatVersion = 3)
    val files = new java.io.File(dir).listFiles()
    val puffinDeletes = files.exists(f => f.getName.startsWith("snap-") &&
      f.getName.endsWith("-deletes.puffin"))
    val imp = IcebergImport.importMetadata(spark, s"$dir/metadata.json",
      Files.createTempDirectory("graft_dv3_in").toString + "/t")
    val conf = spark.sparkContext.hadoopConfiguration
    val (_, _, pdf, _) = MetaIO.loadManifestListData(conf, imp.meta.location,
      imp.meta.currentSnapshot.get)
    val bitmapsSurvive = pdf.nonEmpty && pdf.forall(GraftTable.isDvFile)
    // ONE pass over the imported table (r21, guide §1.2)
    val r = imp.toDF().agg(count(lit(1)),
      count(when(col("o_orderstatus") === "F", 1)),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")).head()
    Seq((puffinDeletes, bitmapsSurvive, r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toDF("puffin_deletes", "bitmaps_survive", "rows_total", "rows_f", "sum_price")
  }

  val t49Oracle: String =
    s"""WITH live AS (SELECT * FROM ${cappedSql(4000)} WHERE o_orderkey % 7 <> 0)
       |SELECT TRUE AS puffin_deletes, TRUE AS bitmaps_survive,
       |  (SELECT COUNT(*) FROM live) AS rows_total,
       |  (SELECT COUNT(*) FROM live WHERE o_orderstatus = 'F') AS rows_f,
       |  CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM live)
       |    AS DOUBLE) AS sum_price""".stripMargin

  // ---------------------------------------------------------------- t50

  /** t50: column DEFAULT values (the Iceberg v3 `initial-default` model,
    * r11): add a column with a default through the SQL facade — pre-add
    * files read the default (not null), a later append carries real
    * values whose genuine nulls STAY null, filters and aggregates see the
    * filled values, and the v3 binary export→import round trip preserves
    * both the default and its fill boundary.
    */
  def t50ColumnDefaults(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 3000))
    t.evolveSchema(Seq(
      SchemaOp.Add("tier", org.apache.spark.sql.types.StringType, Some("bronze")),
      SchemaOp.Add("score", org.apache.spark.sql.types.LongType, Some(7L))))
    t.append(orders(spark, sfDir, 100)
      .withColumn("o_orderkey", col("o_orderkey") + 9000000L)
      .withColumn("tier", when(col("o_orderkey") % 2 === 0, lit("gold")))
      .withColumn("score", lit(100L)))
    val dir = Files.createTempDirectory("graft_def_out").toString
    IcebergExport.exportBinary(t, dir, formatVersion = 3)
    val imp = IcebergImport.importMetadata(spark, s"$dir/metadata.json",
      Files.createTempDirectory("graft_def_in").toString + "/t")
    // ONE pass over the imported table (r21, guide §1.2)
    val r = imp.toDF().agg(
      count(when(col("tier") === "bronze", 1)),
      count(when(col("tier") === "gold", 1)),
      count(when(col("tier").isNull, 1)),
      sum("score")).head()
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toDF("bronze_rows", "gold_rows", "null_rows", "sum_score")
  }

  val t50Oracle: String =
    s"""WITH late AS (SELECT o_orderkey + 9000000 AS k FROM ${cappedSql(100)})
       |SELECT (SELECT COUNT(*) FROM ${cappedSql(3000)}) AS bronze_rows,
       |  (SELECT COUNT(*) FROM late WHERE k % 2 = 0) AS gold_rows,
       |  (SELECT COUNT(*) FROM late WHERE k % 2 <> 0) AS null_rows,
       |  (SELECT COUNT(*) FROM ${cappedSql(3000)}) * 7 + 100 * 100 AS sum_score""".stripMargin

  // ---------------------------------------------------------------- t51

  /** t51: catalog-mediated table sharing (the Iceberg REST catalog
    * protocol — reference pyspark-iceberg/interoperability.md:5, the
    * "register a catalog" integration leg). A from-scratch REST catalog
    * server ([[graft.catalog.RestCatalogServer]]) arbitrates the table:
    * creation, discovery, and every commit go over HTTP as
    * requirements/updates proposals; four writers race their appends
    * through the catalog CAS (losers get 409, rebase, retry — t33's
    * semantics over the wire), and a fresh client handle discovers the
    * final state through `loadTable`.
    */
  def t51RestCatalog(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val writers = 4
    val srv = new RestCatalogServer(
      Files.createTempDirectory("graft_cat51").toString,
      spark.sparkContext.hadoopConfiguration)
    try {
      val c = new RestCatalogClient(srv.uri)
      c.createNamespace(Seq("lake"))
      val base = orders(spark, sfDir, 2000)
      c.createTable(Seq("lake"), "orders", base.schema,
        properties = Map(TableFormat.CommitRetries -> "16"))
      c.table(spark, Seq("lake"), "orders").append(base)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        Await.result(Future.sequence((1 to writers).map { i =>
          Future {
            c.table(spark, Seq("lake"), "orders")
              .append(shifted(spark, sfDir, 250, 900000000L * i))
          }
        }), 300.seconds)
      } finally pool.shutdown()
      val t = c.table(spark, Seq("lake"), "orders")
      val m = t.meta
      // ONE pass for both final counts (r21, guide §1.2)
      val r = t.toDF().agg(count(lit(1)), countDistinct(col("o_orderkey"))).head()
      Seq((m.snapshots.count(_.operation == "append").toLong,
        r.getLong(0), r.getLong(1),
        m.currentAncestors.size == m.snapshots.size,
        c.listTables(Seq("lake")).size.toLong))
        .toDF("n_appends", "n_rows", "n_distinct_keys", "linear_history",
          "n_tables")
    } finally srv.stop()
  }

  val t51Oracle: String =
    s"""SELECT CAST(5 AS BIGINT) AS n_appends,
       |  (SELECT COUNT(*) FROM ${cappedSql(2000)})
       |    + 4 * (SELECT COUNT(*) FROM ${cappedSql(250)}) AS n_rows,
       |  (SELECT COUNT(*) FROM ${cappedSql(2000)})
       |    + 4 * (SELECT COUNT(*) FROM ${cappedSql(250)}) AS n_distinct_keys,
       |  TRUE AS linear_history,
       |  CAST(1 AS BIGINT) AS n_tables""".stripMargin

  // ---------------------------------------------------------------- t52

  /** t52: v3 row lineage read surface (`_row_id` /
    * `_last_updated_sequence_number`, Iceberg v3 metadata columns). Two
    * single-file sorted appends make the inherited ids follow key rank,
    * so the ENTIRE per-row lineage is SQL-derivable: base rows take ids
    * 0..n−1 at sequence 1, the second append continues the range at
    * sequence 2, a lineage-preserving CoW delete removes rows without
    * renumbering the survivors, and a CoW update keeps `_row_id` while
    * moving only the HIT rows to the update commit's sequence number.
    * The oracle recomputes every (key, row id, last sequence) triple.
    */
  def t52RowLineage(spark: SparkSession, sfDir: String): DataFrame = {
    val base = orders(spark, sfDir, 2000)
      .coalesce(1).sortWithinPartitions("o_orderkey")
    val t = GraftTable.createAs(spark, tmp(), base,
      properties = Map(TableFormat.RowLineagePreserve -> "true"))
    t.append(shifted(spark, sfDir, 500, 90000000L)
      .coalesce(1).sortWithinPartitions("o_orderkey"))
    t.delete("o_orderkey % 10 = 3")
    t.update("o_orderkey % 100 = 7", Map("o_orderstatus" -> "'U'"))
    t.lineageDF()
      .select(col("o_orderkey"), col("o_orderstatus"),
        col(graft.tables.RowLineage.RowIdCol).as("row_id"),
        col(graft.tables.RowLineage.SeqCol).as("last_seq"))
      .orderBy(col("o_orderkey"))
  }

  val t52Oracle: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id,
       |    CAST(1 AS BIGINT) AS seq
       |  FROM ${cappedSql(2000)}
       |), extra AS (
       |  SELECT o_orderkey + 90000000 AS o_orderkey, o_orderstatus,
       |    (SELECT COUNT(*) FROM ${cappedSql(2000)})
       |      + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS row_id,
       |    CAST(2 AS BIGINT) AS seq
       |  FROM ${cappedSql(500)}
       |), unioned AS (
       |  SELECT * FROM base UNION ALL SELECT * FROM extra
       |), alive AS (
       |  SELECT * FROM unioned WHERE o_orderkey % 10 <> 3
       |)
       |SELECT o_orderkey,
       |  CASE WHEN o_orderkey % 100 = 7 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
       |  row_id,
       |  CASE WHEN o_orderkey % 100 = 7 THEN CAST(4 AS BIGINT) ELSE seq END AS last_seq
       |FROM alive ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- t55

  /** t55: RANGE changelog under SNAPSHOT SCHEMAS (VERDICT r14 #5): a CDC
    * consumer replays `(s0, head]` across a MID-RANGE rename with
    * [[GraftTable.changesBetweenBySnapshot]](underSnapshotSchema=true)
    * and gets each commit's rows in PERIOD-CORRECT column names — the
    * pre-rename append surfaces `o_totalprice`, the post-rename append
    * and the merge-on-read delete surface `amount`; nothing is renamed
    * retroactively. The gate folds each per-commit frame by reading the
    * measure BY ITS PERIOD NAME (the name itself is part of the output,
    * so a frame served under the wrong schema fails the hash). Reference
    * anchor: the workshop's time-travel + schema-evolution surface
    * (README.md "Time travel"; limitations.md ADD COLUMN) — Iceberg
    * changelog scans with `snapshot-schema` semantics.
    */
  def t55RangeChangelog(spark: SparkSession, sfDir: String): DataFrame = {
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 600))
    val s0 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 150, 900000000L))     // pre-rename names
    t.renameColumn("o_totalprice", "amount")             // metadata-only
    t.append(shifted(spark, sfDir, 120, 950000000L)
      .withColumnRenamed("o_totalprice", "amount"))      // post-rename names
    t.deleteMergeOnRead("amount > 100000.0 AND o_orderkey > 900000000")
    val frames = t.changesBetweenBySnapshot(s0, t.meta.currentSnapshotId.get,
      underSnapshotSchema = true)
    frames.zipWithIndex.map { case ((_, df), i) =>
      val priceCol = if (df.columns.contains("amount")) "amount" else "o_totalprice"
      df.groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col(priceCol).cast(DecimalType(18, 2))).cast("double").as("sum_price"))
        .select(lit((i + 1).toLong).as("commit_seq"), lit(priceCol).as("price_col"),
          col("change_type"), col("n_rows"), col("sum_price"))
    }.reduce(_ unionByName _).orderBy(col("commit_seq"), col("change_type"))
  }

  val t55Oracle: String =
    s"""WITH a AS (
       |  SELECT o_orderkey + 900000000 AS k, o_totalprice AS p FROM ${cappedSql(150)}
       |), b AS (
       |  SELECT o_orderkey + 950000000 AS k, o_totalprice AS p FROM ${cappedSql(120)}
       |), del AS (
       |  SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
       |  WHERE p > 100000.0 AND k > 900000000
       |)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS commit_seq, 'o_totalprice' AS price_col,
       |    'insert' AS change_type, COUNT(*) AS n_rows,
       |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM a
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'amount', 'insert', COUNT(*),
       |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) FROM b
       |  UNION ALL
       |  SELECT CAST(3 AS BIGINT), 'amount', 'delete', COUNT(*),
       |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) FROM del
       |) ORDER BY commit_seq, change_type""".stripMargin

  // ---------------------------------------------------------------- t56

  /** t56: `add_files` over ORC and AVRO directories (VERDICT r14 #7) —
    * the manifest records each entry's `file_format` (the Iceberg
    * per-file field; reference limitations.md manifest dumps) and the
    * scan reads every file with ITS OWN format in one frame. Pruning
    * stays REAL for ORC: its footers carry min/max/null stats
    * ([[graft.tables.ExternalFooters]]), so a key predicate skips the
    * out-of-range ORC file without reading it — the gate pins that (two
    * disjoint-key-range ORC files, exactly one survives planning). Avro
    * containers carry no column stats: exact record counts only,
    * partition-value pruning, conservative everywhere else. Graft's own
    * writes stay parquet; any rewrite migrates rows to parquet.
    */
  def t56AddFilesFormats(spark: SparkSession, sfDir: String): DataFrame = {
    val t = GraftTable.createAs(spark, tmp(), orders(spark, sfDir, 400))
    val orcDir = Files.createTempDirectory("graft_t56_orc").toString + "/o"
    // two single-file appends with DISJOINT key ranges: the pruning pin
    shifted(spark, sfDir, 150, 900000000L).coalesce(1)
      .write.mode("append").orc(orcDir)
    shifted(spark, sfDir, 100, 950000000L).coalesce(1)
      .write.mode("append").orc(orcDir)
    val avroDir = Files.createTempDirectory("graft_t56_avro").toString + "/a"
    // graft's own container codec — Spark's `avro` module is not shipped
    graft.sources.GraftAvro.write(
      shifted(spark, sfDir, 120, 980000000L).coalesce(1), avroDir)
    t.addFiles(orcDir, "orc")
    t.addFiles(avroDir, "avro")
    val reloaded = GraftTable.load(spark, t.location)
    val files = reloaded.currentFiles()
    val orcPlanned = reloaded.plannedFiles("o_orderkey >= 950000000")
      .count(_.fileFormat == "orc")
    reloaded.toDF().agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
      .withColumn("formats",
        lit(files.map(_.fileFormat).distinct.sorted.mkString(",")))
      .withColumn("n_orc_files",
        lit(files.count(_.fileFormat == "orc").toLong))
      .withColumn("n_orc_planned", lit(orcPlanned.toLong))
      .withColumn("n_avro_rows", lit(
        files.filter(_.fileFormat == "avro").map(_.recordCount).sum))
  }

  val t56Oracle: String =
    s"""WITH u AS (
       |  SELECT o_totalprice FROM ${cappedSql(400)}
       |  UNION ALL SELECT o_totalprice FROM ${cappedSql(150)}
       |  UNION ALL SELECT o_totalprice FROM ${cappedSql(100)}
       |  UNION ALL SELECT o_totalprice FROM ${cappedSql(120)}
       |)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       |  'avro,orc,parquet' AS formats,
       |  CAST(2 AS BIGINT) AS n_orc_files,
       |  CAST(1 AS BIGINT) AS n_orc_planned,
       |  (SELECT COUNT(*) FROM ${cappedSql(120)}) AS n_avro_rows
       |FROM u""".stripMargin

  // ---------------------------------------------------------------- t57

  /** t57: ZERO-COPY table snapshot (Iceberg's `snapshot` procedure —
    * completing the migration trio with t02 in-place migrate and
    * t38/t56 add_files): `GraftTable.snapshotOf` creates an independent
    * table whose first snapshot borrows the source's current files in
    * place, then both sides DIVERGE — a copy-on-write delete on the
    * snapshot rewrites ONLY the files holding affected keys (into the
    * snapshot's own location; the base-commit files stay borrowed,
    * pinned by `zero_copy`), and a later append on the source never
    * appears in the snapshot. Maintenance safety is structural: expire/
    * orphan sweeps delete only under a table's own dirs, so the
    * borrowed files can never be reclaimed by the copy.
    */
  def t57SnapshotTable(spark: SparkSession, sfDir: String): DataFrame = {
    val srcLoc = tmp()
    val src = GraftTable.createAs(spark, srcLoc, orders(spark, sfDir, 700))
    src.append(shifted(spark, sfDir, 100, 900000000L))
    val snap = GraftTable.snapshotOf(src, tmp())
    // diverge the copy: CoW delete touching only the second commit's files
    snap.delete("o_orderkey >= 900000000 AND o_orderkey % 2 = 0")
    // diverge the source: an append the copy must never see
    src.append(shifted(spark, sfDir, 150, 950000000L))
    val snapFiles = GraftTable.load(spark, snap.location).currentFiles()
    val srcAgg = GraftTable.load(spark, srcLoc).toDF().agg(
      count(lit(1)).as("src_rows"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("src_sum"))
    val snapAgg = GraftTable.load(spark, snap.location).toDF().agg(
      count(lit(1)).as("snap_rows"),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("snap_sum"))
    srcAgg.crossJoin(snapAgg)
      .withColumn("zero_copy",
        lit(snapFiles.exists(_.path.startsWith(srcLoc))))
      .withColumn("rewrites_own",
        lit(snapFiles.filterNot(_.path.startsWith(srcLoc))
          .forall(_.path.startsWith(snap.location))))
  }

  val t57Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql(700)}),
       |s1 AS (SELECT o_orderkey + 900000000 AS k, o_totalprice AS p FROM ${cappedSql(100)}),
       |s2 AS (SELECT o_orderkey + 950000000 AS k, o_totalprice AS p FROM ${cappedSql(150)}),
       |src AS (
       |  SELECT o_orderkey AS k, o_totalprice AS p FROM base
       |  UNION ALL SELECT * FROM s1 UNION ALL SELECT * FROM s2),
       |snp AS (
       |  SELECT o_orderkey AS k, o_totalprice AS p FROM base
       |  UNION ALL SELECT * FROM s1 WHERE NOT (k >= 900000000 AND k % 2 = 0))
       |SELECT
       |  (SELECT COUNT(*) FROM src) AS src_rows,
       |  (SELECT CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) FROM src) AS src_sum,
       |  (SELECT COUNT(*) FROM snp) AS snap_rows,
       |  (SELECT CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) FROM snp) AS snap_sum,
       |  TRUE AS zero_copy, TRUE AS rewrites_own""".stripMargin

  // ---------------------------------------------------------------- t58

  /** t58: MULTI-TABLE TRANSACTION through the REST catalog (the Iceberg
    * REST `/v1/transactions/commit` surface; extends t33/t51's
    * single-table racing-writer semantics ACROSS tables). Four writers
    * race; each one atomically (a) appends a 200-row batch to `orders`
    * and (b) appends that batch's audit mark (batch_id, n_rows) to
    * `audit` — both staged as metadata diffs first (the audit append is
    * captured via the commit delegate, never published on its own), then
    * published by ONE transaction or neither. Retry is a bounded
    * restage-from-fresh-base loop (CommitRetries=0 disables per-table
    * rebase so every conflict re-runs the CROSS-table protocol). The
    * gate pins zero lost updates in both directions: every batch's rows
    * are in `orders` IFF its mark is in `audit` (`marks_match_rows`
    * recomputes the shifted-row count against the audit marks), both
    * histories are linear, and no mark is duplicated. This is the
    * replicate/MV pair shape (source+view commit source-then-view today)
    * done atomically.
    */
  def t58MultiTableTx(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.catalog._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val writers = 4
    val srv = new RestCatalogServer(
      Files.createTempDirectory("graft_cat58").toString,
      spark.sparkContext.hadoopConfiguration)
    try {
      val c = new RestCatalogClient(srv.uri)
      val ns = Seq("lake")
      c.createNamespace(ns)
      val base = orders(spark, sfDir, 1000)
      c.createTable(ns, "orders", base.schema,
        properties = Map(TableFormat.CommitRetries -> "0"))
      c.table(spark, ns, "orders").append(base)
      val auditSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType)))
      c.createTable(ns, "audit", auditSchema,
        properties = Map(TableFormat.CommitRetries -> "0"))
      val conf = spark.sparkContext.hadoopConfiguration
      def baseOf(next: TableMeta): TableMeta = MetaIO.metaFromJson(
        MetaIO.readString(conf, MetaIO.metadataPath(next.location, next.version - 1)))

      def txAppend(i: Int): Unit = {
        val batch = shifted(spark, sfDir, 200, 900000000L * i)
        val n = batch.count()
        var attempts = 0
        var done = false
        while (!done) {
          attempts += 1
          try {
            // stage the audit mark against the current audit base: the
            // capture delegate writes the data file + builds the next
            // metadata but publishes NOTHING
            val auditT = c.table(spark, ns, "audit")
            var stagedAudit: TableMeta = null
            auditT.commitDelegate = Some(next => stagedAudit = next)
            auditT.append(Seq((i.toLong, n)).toDF("batch_id", "n_rows"))
            val auditBase = baseOf(stagedAudit)
            // route the orders append's publish through ONE transaction
            // carrying BOTH diffs
            val srcT = c.table(spark, ns, "orders")
            srcT.commitDelegate = Some { next =>
              c.commitTransaction(Seq(
                c.TxChange(ns, "orders", baseOf(next), Some(next)),
                c.TxChange(ns, "audit", auditBase, Some(stagedAudit))))
            }
            srcT.append(batch)
            done = true
          } catch {
            case e: java.util.ConcurrentModificationException =>
              if (attempts >= 32) throw e // bounded, like t33
          }
        }
      }

      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence((1 to writers).map(i => Future(txAppend(i)))),
        300.seconds)
      finally pool.shutdown()

      val src = c.table(spark, ns, "orders")
      val audit = c.table(spark, ns, "audit")
      val (sm, am) = (src.meta, audit.meta)
      // ONE pass per table (r21, guide §1.2): previously five separate
      // actions over the same two final states
      val a = audit.toDF().agg(sum(col("n_rows")),
        countDistinct(col("batch_id")), count(lit(1))).head()
      val s = src.toDF().agg(count(lit(1)),
        count(when(col("o_orderkey") >= 900000000L, 1))).head()
      val (markedRows, shiftedRows) = (a.getLong(0), s.getLong(1))
      Seq((s.getLong(0), a.getLong(1), a.getLong(2),
        sm.currentAncestors.size == sm.snapshots.size,
        am.currentAncestors.size == am.snapshots.size,
        markedRows == shiftedRows))
        .toDF("src_rows", "audit_batches", "audit_rows",
          "linear_src", "linear_audit", "marks_match_rows")
    } finally srv.stop()
  }

  val t58Oracle: String =
    s"""SELECT (SELECT COUNT(*) FROM ${cappedSql(1000)})
       |    + 4 * (SELECT COUNT(*) FROM ${cappedSql(200)}) AS src_rows,
       |  CAST(4 AS BIGINT) AS audit_batches,
       |  CAST(4 AS BIGINT) AS audit_rows,
       |  TRUE AS linear_src, TRUE AS linear_audit,
       |  TRUE AS marks_match_rows""".stripMargin

  // ---------------------------------------------------------------- t59

  /** t59: the CHANGELOG VIEW driven through SQL (VERDICT r16 #6 — t55
    * gates the API path; this gates `CALL system.create_changelog_view`
    * and the `<table>_changes` temp view it registers). Same commit
    * range as t55 — CoW append, metadata-only RENAME mid-range, append
    * under the new name, merge-on-read delete — then the whole readout
    * is SQL over the view: per-ordinal row counts and price sums,
    * grouped on Iceberg's `_change_ordinal` column. The view serves the
    * CURRENT schema (`amount` everywhere — the live-consumer half of the
    * changelog story; t55's per-snapshot frames are the auditor half),
    * the rename is a metadata-only version bump (no snapshot, so no
    * ordinal — the three row-changing commits take ordinals 0/1/2), and
    * the sums hash-match t55's frame aggregates exactly.
    */
  def t59ChangelogView(spark: SparkSession, sfDir: String): DataFrame = {
    val wh = Files.createTempDirectory("graft_t59").toString
    val t = GraftTable.createAs(spark, s"$wh/ord", orders(spark, sfDir, 600))
    val s0 = t.meta.currentSnapshotId.get
    t.append(shifted(spark, sfDir, 150, 900000000L))     // ordinal 0
    t.renameColumn("o_totalprice", "amount")             // ordinal 1 (no rows)
    t.append(shifted(spark, sfDir, 120, 950000000L)
      .withColumnRenamed("o_totalprice", "amount"))      // ordinal 2
    t.deleteMergeOnRead("amount > 100000.0 AND o_orderkey > 900000000") // ordinal 3
    val g = new graft.sources.GraftSql(spark, wh)
    g.register("ord", t.location)
    g.sql(s"CALL system.create_changelog_view('ord', $s0, ${t.meta.currentSnapshotId.get})")
    g.sql("""SELECT _change_ordinal AS commit_seq, _change_type AS change_type,
            |  COUNT(*) AS n_rows,
            |  CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            |FROM ord_changes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  val t59Oracle: String =
    s"""WITH a AS (
       |  SELECT o_orderkey + 900000000 AS k, o_totalprice AS p FROM ${cappedSql(150)}
       |), b AS (
       |  SELECT o_orderkey + 950000000 AS k, o_totalprice AS p FROM ${cappedSql(120)}
       |), del AS (
       |  SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
       |  WHERE p > 100000.0 AND k > 900000000
       |)
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS commit_seq, 'insert' AS change_type,
       |    COUNT(*) AS n_rows,
       |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM a
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), 'insert', COUNT(*),
       |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) FROM b
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), 'delete', COUNT(*),
       |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) FROM del
       |) ORDER BY commit_seq, change_type""".stripMargin

  // ---------------------------------------------------------------- t60

  /** t60: versioned SQL VIEWS through the REST catalog (Iceberg VIEW
    * spec, format-version 1 — apache/iceberg `view-spec`; the catalog
    * surface `/v1/namespaces/{ns}/views` from `rest-catalog-open-api
    * .yaml`): CREATE VIEW records an immutable version (SQL
    * representation + the definition's analyzed schema) in view metadata
    * published through the same CAS primitive as table commits; ALTER
    * VIEW appends version 2 and moves `current-version-id` under an
    * assert-view-uuid requirement — version 1 stays replayable from
    * metadata forever, the view-level face of time travel. The gate
    * stages a capped orders table, defines a per-status totals view,
    * redefines it with an urgency filter, then reads BOTH the current
    * definition and the version-1 replay through a SECOND SQL session
    * that discovers the view and its base table purely from the catalog
    * (nothing registered locally). Scale: a view is pure metadata —
    * O(definition bytes) per load, no data IO; the data-side plan is
    * whatever the definition's own query plans.
    */
  def t60CatalogViews(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.catalog._
    val srv = new RestCatalogServer(
      Files.createTempDirectory("graft_cat60").toString,
      spark.sparkContext.hadoopConfiguration)
    try {
      val c = new RestCatalogClient(srv.uri)
      c.createNamespace(Seq("lake"))
      val wh = Files.createTempDirectory("graft_t60").toString
      val t = GraftTable.createAs(spark, s"$wh/ord", orders(spark, sfDir, 2000))
      val g = new graft.sources.GraftSql(spark, wh, Some((c, Seq("lake"))))
      g.register("ord", t.location)
      g.sql("""CREATE VIEW status_totals AS SELECT o_orderstatus,
              |  COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              |FROM ord GROUP BY o_orderstatus""".stripMargin)
      g.sql("""ALTER VIEW status_totals AS SELECT o_orderstatus,
              |  COUNT(*) AS n,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
              |FROM ord WHERE o_orderpriority <> '1-URGENT'
              |GROUP BY o_orderstatus""".stripMargin)
      // a SECOND session resolves the view and its base table purely
      // through catalog discovery — the cross-session story the catalog
      // exists for
      val g2 = new graft.sources.GraftSql(spark, wh, Some((c, Seq("lake"))))
      val cur = g2.sql("SELECT * FROM status_totals")
      val meta = c.loadView(Seq("lake"), "status_totals").metadata
      val v1 = g2.sql(meta.versionAt(1).sqlFor("spark"))
      v1.withColumn("view_version", lit(1))
        .unionByName(cur.withColumn("view_version", lit(2)))
        .select(col("view_version"), col("o_orderstatus"), col("n"),
          col("sum_price"))
        .orderBy(col("view_version"), col("o_orderstatus"))
    } finally srv.stop()
  }

  val t60Oracle: String =
    s"""SELECT * FROM (
       |  SELECT 1 AS view_version, o_orderstatus, COUNT(*) AS n,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       |  FROM ${cappedSql(2000)} GROUP BY o_orderstatus
       |  UNION ALL
       |  SELECT 2, o_orderstatus, COUNT(*),
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
       |  FROM ${cappedSql(2000)} WHERE o_orderpriority <> '1-URGENT'
       |  GROUP BY o_orderstatus
       |) ORDER BY view_version, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- t61

  /** t61: DELETE-FILE COMPACTION (Iceberg's `rewrite_position_delete_files`
    * maintenance surface — [[GraftTable.compactDeleteFiles]], previously
    * spec-only): continuous MOR ingestion accretes one small delete file
    * per commit, so read fan-in grows O(commits) until maintenance folds
    * it back. Four position-delete commits plus two equality-delete
    * commits (distinct sequence numbers) accumulate six delete artifacts;
    * compaction folds the position stack into ONE deletion-vector file
    * (bitmap layout — O(touched data files) rows however many positions
    * died) while the equality entries keep their sequence numbers
    * (folding across seqs would widen older deletes onto files they must
    * not touch — upserted rows would vanish under their own delete). The
    * gate pins the whole contract: the accumulated position stack (≥4
    * files) folds to 1 with the DV bounded by the data-file count, data files byte-identical (path set
    * unchanged — this is delete-side-only maintenance), visible rows and
    * the price aggregate unchanged, the compaction snapshot reads as
    * row-preserving maintenance in the changelog (zero rows — a
    * changelog consumer must survive maintenance running between its
    * polls), and the folded state still materializes cleanly. At 100 TB
    * this is the steady-state companion to t13's data-file compaction:
    * the fold moves O(bitmap bytes) per touched file, never O(deleted
    * rows) through a shuffle. Reference: README.md "Table maintenance"
    * (compaction + cleanup), extended to the delete-file side.
    */
  def t61CompactDeleteFiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val base = orders(spark, sfDir)
    val t = GraftTable.createAs(spark, tmp(), base.repartition(8))
    val dataBefore = t.currentFiles().map(_.path).toSet
    t.deleteMergeOnReadPositions("o_orderkey % 5 = 0")
    t.deleteMergeOnReadPositions("o_orderkey % 7 = 1")
    t.deleteMergeOnReadPositions("o_orderkey % 11 = 2")
    t.deleteMergeOnReadPositions("o_orderkey % 13 = 3")
    t.deleteMergeOnReadEquality(
      base.filter(col("o_orderkey") % 17 === 4).select("o_orderkey"), Seq("o_orderkey"))
    t.deleteMergeOnReadEquality(
      base.filter(col("o_orderkey") % 19 === 5).select("o_orderkey"), Seq("o_orderkey"))
    val posBefore = t.currentPositionDeletes().size.toLong
    val eqSeqsBefore = t.currentEqualityDeletes().map(_.seq).sorted
    val rowsBefore = t.toDF().count()
    t.compactDeleteFiles()
    val posAfter = t.currentPositionDeletes().size.toLong
    // one bitmap row per touched data file, never one per deleted position
    // (readImmutable: the compacted DV is a write-once registered artifact,
    // so this read skips the schema-inference job)
    val dvBounded = graft.sources.Pq.readImmutable(spark, t.currentPositionDeletes())
      .count() <= dataBefore.size
    val dataUntouched = t.currentFiles().map(_.path).toSet == dataBefore
    val eqSeqsPreserved = t.currentEqualityDeletes().map(_.seq).sorted == eqSeqsBefore
    val rowsAfter = t.toDF().count()
    val snaps = t.meta.snapshots
    val changelogRows =
      t.changesBetween(snaps(snaps.size - 2).id, snaps.last.id).count()
    t.materializeDeletes()
    // ONE pass for the final count + price aggregate (r21, guide §1.2)
    val fin = t.toDF().agg(count(lit(1)),
      sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")).head()
    val rowsFinal = fin.getLong(0)
    val sumPrice = fin.getDouble(1)
    Seq((posBefore >= 4L, posAfter, dvBounded, dataUntouched, eqSeqsPreserved,
        rowsBefore, rowsAfter, changelogRows, rowsFinal, sumPrice))
      .toDF("pos_stack_accumulated", "pos_files_after", "dv_bounded",
        "data_files_untouched", "eq_seqs_preserved", "rows_before",
        "rows_after", "changelog_rows", "rows_final", "sum_price")
  }

  val t61Oracle: String =
    s"""WITH base AS (SELECT * FROM ${cappedSql()}),
       |live AS (
       |  SELECT * FROM base
       |  WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 1
       |    AND o_orderkey % 11 <> 2 AND o_orderkey % 13 <> 3
       |    AND o_orderkey % 17 <> 4 AND o_orderkey % 19 <> 5)
       |SELECT TRUE AS pos_stack_accumulated,
       |  CAST(1 AS BIGINT) AS pos_files_after,
       |  TRUE AS dv_bounded, TRUE AS data_files_untouched,
       |  TRUE AS eq_seqs_preserved,
       |  (SELECT COUNT(*) FROM live) AS rows_before,
       |  (SELECT COUNT(*) FROM live) AS rows_after,
       |  CAST(0 AS BIGINT) AS changelog_rows,
       |  (SELECT COUNT(*) FROM live) AS rows_final,
       |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM live) AS sum_price""".stripMargin

  val entries: Map[String, graft.Gate.Entry] = Map(
    "t61_compact_delete_files" -> graft.Gate(t61CompactDeleteFiles _, t61Oracle),
    "t60_catalog_views"        -> graft.Gate(t60CatalogViews _, t60Oracle),
    "t59_changelog_view"       -> graft.Gate(t59ChangelogView _, t59Oracle),
    "t58_multi_table_tx"       -> graft.Gate(t58MultiTableTx _, t58Oracle),
    "t57_snapshot_table"       -> graft.Gate(t57SnapshotTable _, t57Oracle),
    "t56_add_files_formats"    -> graft.Gate(t56AddFilesFormats _, t56Oracle),
    "t55_range_changelog"      -> graft.Gate(t55RangeChangelog _, t55Oracle),
    "t52_row_lineage"          -> graft.Gate(t52RowLineage _, t52Oracle),
    "t51_rest_catalog"         -> graft.Gate(t51RestCatalog _, t51Oracle),
    "t50_column_defaults"      -> graft.Gate(t50ColumnDefaults _, t50Oracle),
    "t49_dv_interop"           -> graft.Gate(t49DvInterop _, t49Oracle),
    "t48_avro_interop"         -> graft.Gate(t48AvroInterop _, t48Oracle),
    "t47_deletion_vectors"     -> graft.Gate(t47DeletionVectors _, t47Oracle),
    "t46_partition_stats"      -> graft.Gate(t46PartitionStats _, t46Oracle),
    "t45_sort_order"           -> graft.Gate(t45SortOrder _, t45Oracle),
    "t44_stats_join"           -> graft.Gate(t44StatsJoin _, t44Oracle),
    "t43_cdc_schema_evolution" -> graft.Gate(t43CdcSchemaEvolution _, t43Oracle),
    "t42_analyze"           -> graft.Gate(t42Analyze _, t42Oracle),
    "t41_fast_agg"          -> graft.Gate(t41FastAgg _, t41Oracle),
    "t40_dynamic_overwrite" -> graft.Gate(t40DynamicOverwrite _, t40Oracle),
    "t39_merge_clauses"     -> graft.Gate(t39MergeClauses _, t39Oracle),
    "t38_add_files"         -> graft.Gate(t38AddFiles _, t38Oracle),
    "t37_replicate"         -> graft.Gate(t37Replicate _, t37Oracle),
    "t36_schema_evolution"  -> graft.Gate(t36SchemaEvolution _, t36Oracle),
    "t33_concurrent_append" -> graft.Gate(t33ConcurrentAppend _, t33Oracle),
    "t34_branch_retention"  -> graft.Gate(t34BranchRetention _, t34Oracle),
    "t35_runtime_filter_join" -> graft.Gate(t35RuntimeFilterJoin _, t35Oracle),
    "t32_cherry_pick"       -> graft.Gate(t32CherryPick _, t32Oracle),
    "t27_metadata_inspection" -> graft.Gate(t27MetadataInspection _, t27Oracle),
    "t17_position_deletes"  -> graft.Gate(t17PositionDeletes _, t17Oracle),
    "t18_equality_deletes"  -> graft.Gate(t18EqualityDeletes _, t18Oracle),
    "t19_upsert_mor"        -> graft.Gate(t19UpsertMor _, t19Oracle),
    "t20_changes_between"   -> graft.Gate(t20ChangesBetween _, t20Oracle),
    "t21_refs_wap"          -> graft.Gate(t21RefsWap _, t21Oracle),
    "t22_rewrite_manifests" -> graft.Gate(t22RewriteManifests _, t22Oracle),
    "t23_cluster"           -> graft.Gate(t23Cluster _, t23Oracle),
    "t24_cluster_zorder"    -> graft.Gate(t24ClusterZOrder _, t24Oracle),
    "t28_cluster_hilbert"   -> graft.Gate(t28ClusterHilbert _, t28Oracle),
    "t30_cow_changelog"     -> graft.Gate(t30CowChangelog _, t30Oracle),
    "t31_remove_orphans"    -> graft.Gate(t31RemoveOrphans _, t31Oracle),
    "t25_added_between"     -> graft.Gate(t25AddedBetween _, t25Oracle),
    "t26_bloom_filters"     -> graft.Gate(t26BloomFilters _, t26Oracle),
  )
}
