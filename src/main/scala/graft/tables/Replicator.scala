package graft.tables

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TaskWrite

/** Changelog-driven table replication: keep a replica GraftTable in sync
  * with a source table by replaying the source's row-level changelog — the
  * consumer side of CDC (the reference's stack pairs Iceberg CDC reads
  * with a downstream writer; here both ends are native).
  *
  * `sync` reads the source's changelog from the replica's cursor to the
  * head ([[GraftTable.changelogView]], each row tagged with its commit's
  * `_change_ordinal`) and folds it to the NET change — Iceberg's
  * `net_changes`: for every key, only the rows of the last commit that
  * touched it. Those rows go to the replica in ONE Spark action and ONE
  * merge-on-read commit ([[GraftTable.applyBatch]]): 'insert' rows upsert,
  * 'delete' rows become equality-delete keys, and the head cursor advances
  * in the same metadata version — a crash replays the whole range, never
  * double-applies (exactly-once per sync). The fold is exact, not an
  * approximation of commit-by-commit replay: each replayed commit drops
  * a touched key's old rows before adding its own, so after replay a key
  * holds exactly its last toucher's inserts — a key updated in one commit
  * and deleted two commits later converges to deleted, one deleted and
  * re-inserted converges to the re-insert.
  *
  * Cost per sync is O(changed rows in the range) in a constant number of
  * Spark jobs and ONE replica commit, however many source commits it
  * covers — appends read as manifest diffs, merge-on-read upserts as
  * their delete keys + new files; the replica is never rescanned.
  * Row-preserving maintenance commits (compaction, clustering, delete
  * materialization) produce an empty changelog; a range of only those
  * advances the cursor with a metadata-only commit.
  *
  * SCHEMA EVOLUTION propagates: before reading anything, `sync` compares
  * the source's current schema id against the one it last applied
  * (`graft.replica.source-schema`) and replays the diff
  * ([[SchemaDiff.diff]], keyed by physical name — the field-id role) onto
  * the replica as ONE [[GraftTable.evolveSchema]] commit carrying the
  * schema cursor: renames/widens/adds/drops land metadata-only, a renamed
  * replication key updates the stored key columns in the same commit, and
  * a DROPPED key column refuses loudly (a replica cannot be maintained
  * without its identity). Evolving first is correct because
  * [[GraftTable.changesBetween]] emits every commit's rows under the
  * source's CURRENT schema — pre-evolution commits read with nulls/new
  * names exactly like the source's own files do.
  *
  * If the cursor's snapshot is UNREACHABLE (expired off the source, or a
  * rollback moved the head off its ancestry), the per-commit changelog is
  * gone and `sync` self-heals: it replaces the replica with the source's
  * current state in one overwrite commit carrying the cursor (idempotent,
  * at-least-once safe) and returns [[TableReplicator.FullResync]] (-1) so
  * callers can tell a full reconciliation from a changelog replay.
  */
object TableReplicator {
  private[tables] val SrcLocProp = "graft.replica.source-location"
  private[tables] val SrcSnapProp = "graft.replica.source-snapshot"
  private[tables] val SrcSchemaProp = "graft.replica.source-schema"
  private[tables] val SrcSpecProp = "graft.replica.source-spec"
  private[tables] val KeyColsProp = "graft.replica.key-cols"
  private[tables] val SrcRefProp = "graft.replica.source-ref"

  /** `sync` return value for the self-heal path: the replica was rebuilt
    * from the source's current state (rollback past the cursor, or cursor
    * snapshot expired), not replayed from the changelog.
    */
  val FullResync: Int = -1

  /** The source's current partition spec with sources mapped back to
    * LOGICAL names (specs store physical names; the replica allocates its
    * own physicals, so the spec must travel logically — same reason
    * [[SchemaDiff]] ops do). A spec source column can never be dropped
    * (evolution refuses on partition sources), so the lookup always hits.
    */
  private def logicalSpecFields(sm: TableMeta): Seq[PartitionField] =
    sm.currentSpec.fields.map { f =>
      val logical = sm.schema.fields
        .find(fd => ColumnMapping.physicalName(fd) == f.source)
        .map(_.name).getOrElse(f.source)
      f.copy(source = logical)
    }

  /** Bootstrap a replica from the source's current snapshot, MIRRORING
    * its partition spec — a replica that loses the source's partitioning
    * loses its pruning at scale.
    */
  def create(spark: SparkSession, location: String, source: GraftTable,
      keyCols: Seq[String]): GraftTable =
    create(spark, location, source, keyCols, None)

  /** Bootstrap a replica following `ref` when given (a source BRANCH —
    * the WAP audit-consumer shape: the replica tracks staged commits
    * before they publish; st06 follows branch heads the same way), or
    * the main head when not.
    */
  def create(spark: SparkSession, location: String, source: GraftTable,
      keyCols: Seq[String], ref: Option[String]): GraftTable = {
    require(keyCols.nonEmpty, "replication needs key columns")
    val sm = source.meta
    val snap = ref match {
      case Some(r) => sm.refs.getOrElse(r,
        throw new IllegalArgumentException(s"source has no ref '$r'")).snapshotId
      case None => sm.currentSnapshotId
        .getOrElse(throw new IllegalStateException("source table has no snapshot"))
    }
    val bootstrap = ref.map(source.asOfRef).getOrElse(source.toDF())
    GraftTable.createAs(spark, location, bootstrap,
      partitionFields = logicalSpecFields(sm),
      properties = Map(
        SrcLocProp -> source.location,
        SrcSnapProp -> snap.toString,
        SrcSchemaProp -> sm.currentSchemaId.toString,
        SrcSpecProp -> sm.currentSpecId.toString,
        KeyColsProp -> keyCols.mkString(",")) ++
        ref.map(SrcRefProp -> _))
  }

  /** Diff two schemas of DIFFERENT tables by logical name — the
    * full-resync fallback where [[SchemaDiff]]'s physical-name keying
    * cannot apply (each table allocates its own physicals). Renames are
    * indistinguishable from drop+add here; callers must only use this
    * where row data is about to be fully rewritten.
    */
  private def logicalDiff(from: org.apache.spark.sql.types.StructType,
      to: org.apache.spark.sql.types.StructType): Seq[SchemaOp] = {
    val toByName = to.fields.map(f => f.name -> f).toMap
    val fromNames = from.fields.map(_.name).toSet
    val drops = from.fields.toSeq
      .filterNot(f => toByName.contains(f.name)).map(f => SchemaOp.Drop(f.name))
    val widens = from.fields.toSeq.flatMap(of =>
      toByName.get(of.name).filter(_.dataType != of.dataType)
        .map(nf => SchemaOp.Widen(of.name, nf.dataType)))
    val adds = to.fields.toSeq
      .filterNot(f => fromNames.contains(f.name))
      // defaults travel; the replica assigns its own boundary at replay
      // time (in-order replay makes that the same pre-add population)
      .map(f => SchemaOp.Add(f.name, f.dataType,
        ColumnDefaults.of(f).map(_._1)))
    drops ++ widens ++ adds
  }

  /** Replay source schema evolution since the last-applied schema id onto
    * the replica (one metadata commit riding the schema cursor + any key
    * rename). Returns the key columns under the CURRENT source schema.
    */
  private def reconcileSchema(replica: GraftTable, sm: TableMeta,
      keyCols: Seq[String], lastSchemaId: Int): Seq[String] = {
    if (lastSchemaId == sm.currentSchemaId) return keyCols
    val ops = SchemaDiff.diff(sm.schemaAt(lastSchemaId), sm.schema)
    ops.foreach {
      case SchemaOp.Drop(c) if keyCols.contains(c) =>
        throw new IllegalStateException(
          s"source dropped replication key column '$c'; the replica cannot " +
            "be maintained — recreate it with the new key columns")
      case _ => ()
    }
    val renames = ops.collect { case SchemaOp.Rename(f, t) => f -> t }.toMap
    val newKeys = keyCols.map(c => renames.getOrElse(c, c))
    // pending equality-delete files carry pre-evolution column names;
    // non-add evolution refuses under them, so settle the debt first
    if (ops.exists(!_.isInstanceOf[SchemaOp.Add])) { replica.materializeDeletes(); () }
    replica.evolveSchema(ops, extraProperties = Map(
      SrcSchemaProp -> sm.currentSchemaId.toString,
      KeyColsProp -> newKeys.mkString(",")))
    newKeys
  }

  /** Apply all source commits since the replica's cursor. Returns the
    * number of source commits applied (0 = already in sync), or
    * [[FullResync]] (-1) when the cursor was unreachable and the replica
    * was rebuilt from the source's current state instead. The net change
    * of the range is applied by ONE Spark action and one replica commit:
    * the action writes the upserted rows and the delete keys together and
    * reports whether the range changed anything, so nothing is cached or
    * probed first; a range that only holds maintenance commits advances
    * the cursor without a job.
    */
  def sync(spark: SparkSession, replicaLocation: String): Int =
    syncImpl(spark, GraftTable.load(spark, replicaLocation))

  /** [[sync]], but every replica commit rides a CATALOG TRANSACTION
    * (`/v1/transactions/commit`) that also asserts the SOURCE is still at
    * the state observed when the sync began: if any out-of-band writer
    * moves the source mid-replay, the transaction refuses (409 →
    * ConcurrentModificationException) and the replica is untouched —
    * cross-table consistency the per-table CAS alone cannot express.
    * Both tables must be registered in the catalog.
    */
  def syncTransactional(spark: SparkSession, replicaLocation: String,
      client: graft.catalog.RestCatalogClient,
      sourceNs: Seq[String], sourceName: String,
      replicaNs: Seq[String], replicaName: String): Int = {
    val replica = GraftTable.load(spark, replicaLocation)
    val srcBase = client.loadTable(sourceNs, sourceName).metadata
    val conf = spark.sparkContext.hadoopConfiguration
    replica.commitDelegate = Some { next =>
      val base = MetaIO.metaFromJson(MetaIO.readString(conf,
        MetaIO.metadataPath(next.location, next.version - 1)))
      client.commitTransaction(Seq(
        client.TxChange(sourceNs, sourceName, srcBase, None),
        client.TxChange(replicaNs, replicaName, base, Some(next))))
    }
    syncImpl(spark, replica)
  }

  private def syncImpl(spark: SparkSession, replica: GraftTable): Int = {
    val props = replica.meta.properties
    val source = GraftTable.load(spark, props(SrcLocProp))
    val sm = source.meta
    val last = props(SrcSnapProp).toLong
    // a ref-following replica syncs to the BRANCH head; when the ref is
    // gone (dropped after publish) it falls back to main — the staged
    // commits it already applied are in main's ancestry after the
    // fast-forward, so the changelog walk continues seamlessly
    val head = props.get(SrcRefProp).flatMap(sm.refs.get).map(_.snapshotId)
      .orElse(sm.currentSnapshotId)
      .getOrElse(throw new IllegalStateException("source table has no snapshot"))

    // schema first: changelogView (and the resync read) emit the source's
    // CURRENT schema, so the replica must match before any row lands.
    // Pre-evolution replicas carry no schema cursor — derive it from the
    // cursor snapshot's stamped schema id.
    val lastSchemaId = props.get(SrcSchemaProp).map(_.toInt)
      .orElse(sm.snapshot(last).map(_.schemaId))
      .getOrElse(sm.currentSchemaId)
    val keyCols = reconcileSchema(replica, sm,
      props(KeyColsProp).split(",").toSeq, lastSchemaId)

    // partition-spec evolution mirrors too (after schema reconcile so the
    // spec's logical source names resolve): replica writes from here on
    // partition like the source's; existing files keep their old spec,
    // exactly as on the source. Pre-r8 replicas default to "in sync".
    val lastSpecId = props.get(SrcSpecProp).map(_.toInt).getOrElse(sm.currentSpecId)
    if (lastSpecId != sm.currentSpecId)
      replica.setPartitionSpec(logicalSpecFields(sm),
        extraProperties = Map(SrcSpecProp -> sm.currentSpecId.toString))

    if (head == last) return 0

    // ancestry walk: last .. head, oldest first
    var chain = List.empty[Snapshot]
    var cur = sm.snapshot(head)
    while (cur.isDefined && cur.get.id != last) {
      chain = cur.get :: chain
      cur = cur.get.parentId.flatMap(sm.snapshot)
    }
    if (cur.isEmpty) {
      // the cursor's snapshot is unreachable (expired off the source, or
      // a rollback moved the head off its ancestry): the per-commit
      // changelog is gone, so self-heal by replacing the replica with the
      // source's CURRENT state in one commit carrying the cursor —
      // idempotent, so an at-least-once redo after a crash is safe.
      //
      // A legacy replica (no schema cursor) whose cursor snapshot expired
      // got NO schema reconcile above (the lastSchemaId fallback had to
      // assume "current"): if the source also evolved, the replica's
      // schema is stale and the overwrite below would refuse. Diff the
      // replica's OWN schema against the source's current one BY LOGICAL
      // NAME — no physical correspondence exists across tables, so
      // renames degrade to drop+add, which is harmless here because
      // every row is rewritten anyway. No-op when already reconciled.
      val ops = logicalDiff(replica.meta.schema, sm.schema)
      ops.collect { case SchemaOp.Drop(c) if keyCols.contains(c) =>
        throw new IllegalStateException(
          s"replication key column '$c' is gone from the source schema " +
            "(dropped, or renamed past an expired cursor); the replica " +
            "cannot be maintained — recreate it with the new key columns")
      }
      if (ops.nonEmpty) {
        if (ops.exists(!_.isInstanceOf[SchemaOp.Add])) {
          replica.materializeDeletes(); ()
        }
        replica.evolveSchema(ops)
      }
      replica.overwrite(source.toDF(), extraProperties = Map(
        SrcSnapProp -> head.toString,
        SrcSchemaProp -> sm.currentSchemaId.toString))
      return FullResync
    }

    // ONE replica commit for the whole chain, carrying the head cursor.
    // Per-commit replay leaves each touched key holding exactly the rows
    // of the LAST commit that touched it (every commit's merge drops the
    // key's old rows before adding its own inserts), so the chain folds
    // to the net change Iceberg's changelog view calls `net_changes`:
    // per key, keep the rows of the highest `_change_ordinal` — its
    // inserts upsert, its deletes become equality-delete keys.
    val cursor = Map(SrcSnapProp -> head.toString)
    val dataCommits = chain.filterNot(s => GraftTable.RowPreservingOps(s.operation))
    // 'replace'/'rewrite-deletes' contribute an EMPTY changelog by
    // construction, so a maintenance-only chain just advances the cursor.
    if (dataCommits.isEmpty) {
      replica.setProperties(cursor)
      return chain.size
    }
    // ONE Spark action applies the net change: its inserts go to data
    // files and their keys to the delete-key file, its deletes to the key
    // file only. A range whose net change is empty (pure equality deletes
    // of absent keys, an update that changed nothing) writes no rows, and
    // the apply then commits the cursor alone.
    val lastTouch = max(col("_change_ordinal"))
      .over(Window.partitionBy(keyCols.map(col): _*))
    val net = source.changelogView(last, head)
      .withColumn("__last_touch", lastTouch)
      // `>=`, not `===`: equal to the key's max, but an attribute
      // equality lets Spark infer `__last_touch IN (every ordinal of the
      // range)` as an extra filter, whose generated code grows with the
      // range length
      .filter(col("_change_ordinal") >= col("__last_touch"))
      .withColumn(TaskWrite.RouteCol, col("_change_type") === "insert")
      .drop("__last_touch", "_change_ordinal", "_commit_snapshot_id", "_change_type")
    // the window partitions rows by key: equal keys already share a task
    replica.applyBatch(net, keyCols, extraProperties = cursor, keysColocated = true,
      commitEmpty = false)
    chain.size
  }
}
