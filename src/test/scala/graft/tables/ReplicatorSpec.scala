package graft.tables

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Changelog-driven replication (t37): each sync's net change, applied
  * through one mergeBatch, keeps a replica row-identical to the source,
  * exactly-once.
  */
class ReplicatorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_rep").toString + "/t"

  private def orders(n: Int): DataFrame =
    Tables.orders(spark, sf).orderBy(col("o_orderkey")).limit(n)

  private def assertIdentical(a: GraftTable, b: GraftTable): Unit = {
    val (da, db) = (a.toDF(), b.toDF())
    assert(da.count() == db.count())
    assert(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty,
      "replica diverged from source")
  }

  test("replica tracks append, CoW delete/update, MOR upsert, truncate") {
    val src = GraftTable.createAs(spark, tmp(), orders(500))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    assertIdentical(src, GraftTable.load(spark, repLoc))

    src.append(orders(100).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    src.delete("o_orderkey % 4 = 0")
    src.update("o_orderkey = 1", Map("o_totalprice" -> "42.0"))
    src.upsertMergeOnRead(
      orders(50).withColumn("o_totalprice", lit(7.5)), Seq("o_orderkey"))
    assert(TableReplicator.sync(spark, repLoc) == 4)
    assertIdentical(src, GraftTable.load(spark, repLoc))

    src.truncate()
    TableReplicator.sync(spark, repLoc)
    assert(GraftTable.load(spark, repLoc).toDF().count() == 0)
  }

  test("sync is idempotent and exactly-once per commit") {
    val src = GraftTable.createAs(spark, tmp(), orders(200))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    src.append(orders(30).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    assert(TableReplicator.sync(spark, repLoc) == 1)
    assert(TableReplicator.sync(spark, repLoc) == 0)
    assert(GraftTable.load(spark, repLoc).toDF().count() == 230)
  }

  test("row-preserving maintenance advances the cursor without data churn") {
    val src = GraftTable.createAs(spark, tmp(), orders(300).repartition(6))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    src.compact()
    val repBefore = GraftTable.load(spark, repLoc)
    val snapBefore = repBefore.meta.currentSnapshotId
    assert(TableReplicator.sync(spark, repLoc) == 1)
    val rep = GraftTable.load(spark, repLoc)
    // cursor advanced, but no data commit happened on the replica
    assert(rep.meta.currentSnapshotId == snapBefore)
    assert(rep.meta.properties(TableReplicator.SrcSnapProp).toLong ==
      src.meta.currentSnapshotId.get)
  }

  test("a source rollback (or expired cursor) reconciles to current state") {
    val src = GraftTable.createAs(spark, tmp(), orders(100))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    val s1 = src.meta.currentSnapshotId.get
    src.append(orders(10).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    assert(TableReplicator.sync(spark, repLoc) == 1)
    // rollback abandons the synced commit: the cursor is off the ancestry,
    // so sync self-heals by replacing the replica with the current state —
    // and says so (FullResync, not a per-commit count)
    src.rollback(s1)
    src.append(orders(20).withColumn("o_orderkey", col("o_orderkey") + 2000000L))
    assert(TableReplicator.sync(spark, repLoc) == TableReplicator.FullResync)
    assertIdentical(src, GraftTable.load(spark, repLoc))
    // back on the ancestry: subsequent syncs are incremental again
    src.append(orders(5).withColumn("o_orderkey", col("o_orderkey") + 3000000L))
    assert(TableReplicator.sync(spark, repLoc) == 1)
    assertIdentical(src, GraftTable.load(spark, repLoc))

    // expiration past the cursor heals the same way
    val src2 = GraftTable.createAs(spark, tmp(), orders(80))
    val rep2 = tmp()
    TableReplicator.create(spark, rep2, src2, Seq("o_orderkey"))
    src2.append(orders(10).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    src2.delete("o_orderkey % 3 = 0")
    src2.expireSnapshots(System.currentTimeMillis() + 1000L)
    assert(TableReplicator.sync(spark, rep2) == TableReplicator.FullResync)
    assertIdentical(src2, GraftTable.load(spark, rep2))
  }

  // ------------------------------------------------ schema evolution (t43)

  test("replica survives mid-stream rename/widen/drop/add, including the key") {
    val src = GraftTable.createAs(spark, tmp(),
      orders(300).withColumn("qty", (col("o_orderkey") % 50).cast("int")))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))

    // evolution between syncs: rename the KEY, rename a value column,
    // widen, drop, add — all metadata-only commits on the source
    src.renameColumn("o_orderkey", "okey")
    src.renameColumn("o_totalprice", "amount")
    src.widenColumn("qty", org.apache.spark.sql.types.LongType)
    src.dropColumn("o_orderpriority")
    src.addColumn("note", org.apache.spark.sql.types.StringType)
    // commits under the NEW schema
    val b2 = orders(40).withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumnRenamed("o_orderkey", "okey")
      .withColumnRenamed("o_totalprice", "amount")
      .withColumn("qty", (col("okey") % 50).cast("long"))
      .drop("o_orderpriority").withColumn("note", lit("new"))
    src.append(b2)
    src.upsertMergeOnRead(b2.limit(10).withColumn("amount", lit(9.5)), Seq("okey"))
    assert(TableReplicator.sync(spark, repLoc) == 2)

    val rep = GraftTable.load(spark, repLoc)
    assert(rep.meta.schema.fieldNames.toSeq ==
      src.meta.schema.fieldNames.toSeq)
    assert(rep.meta.properties(TableReplicator.KeyColsProp) == "okey")
    assertIdentical(src, rep)

    // sync is still incremental afterwards, keyed on the renamed column
    src.upsertMergeOnRead(b2.limit(5).withColumn("amount", lit(1.25)), Seq("okey"))
    assert(TableReplicator.sync(spark, repLoc) == 1)
    assertIdentical(src, GraftTable.load(spark, repLoc))
  }

  test("schema-only evolution converges the replica even with no row commits") {
    val src = GraftTable.createAs(spark, tmp(), orders(50))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    src.renameColumn("o_totalprice", "amount")
    assert(TableReplicator.sync(spark, repLoc) == 0)
    val rep = GraftTable.load(spark, repLoc)
    assert(rep.meta.schema.fieldNames.contains("amount"))
    assertIdentical(src, rep)
    // idempotent: a second sync applies nothing
    assert(TableReplicator.sync(spark, repLoc) == 0)
  }

  test("evolution with pending replica MOR state materializes first") {
    val src = GraftTable.createAs(spark, tmp(), orders(120))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    // leave equality-delete debt on the replica via an upsert replay
    src.upsertMergeOnRead(orders(20).withColumn("o_totalprice", lit(3.5)),
      Seq("o_orderkey"))
    assert(TableReplicator.sync(spark, repLoc) == 1)
    assert(GraftTable.load(spark, repLoc).currentEqualityDeletes().nonEmpty)
    // the SOURCE settles its own MOR debt before evolving (documented
    // requirement); the replica's pending eq-deletes are sync's problem
    src.materializeDeletes()
    src.renameColumn("o_totalprice", "amount")
    src.append(orders(10).withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumnRenamed("o_totalprice", "amount"))
    // two source commits since the cursor: the maintenance rewrite
    // (empty changelog, cursor advance) and the append
    assert(TableReplicator.sync(spark, repLoc) == 2)
    assertIdentical(src, GraftTable.load(spark, repLoc))
  }

  test("replica mirrors the source's partition spec and its evolution") {
    val src = GraftTable.createAs(spark, tmp(), orders(200),
      partitionFields = Seq(PartitionField("o_orderstatus", "identity", "st")))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    val rep = GraftTable.load(spark, repLoc)
    assert(rep.meta.currentSpec.fields.map(f => (f.source, f.transform)) ==
      Seq(("o_orderstatus", "identity")), "bootstrap must mirror the spec")
    assert(rep.currentFiles().forall(_.partitionValues.contains("st")))
    // spec evolution mid-stream: replayed batches land under the NEW spec
    src.setPartitionSpec(Seq(PartitionField("o_orderkey", "bucket[4]", "kb")))
    src.append(orders(50).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    assert(TableReplicator.sync(spark, repLoc) == 1)
    val rep2 = GraftTable.load(spark, repLoc)
    assert(rep2.meta.currentSpec.fields.map(_.name) == Seq("kb"))
    assert(rep2.currentFiles().exists(_.partitionValues.contains("kb")))
    assertIdentical(src, rep2)
  }

  test("branch-scoped replica follows staged commits, converges with main on publish (r9)") {
    val src = GraftTable.createAs(spark, tmp(), orders(300))
    src.createBranch("audit")
    // two commits STAGED on the branch — main does not see them
    src.appendToBranch(
      orders(40).withColumn("o_orderkey", col("o_orderkey") + 1000000L), "audit")
    src.appendToBranch(
      orders(20).withColumn("o_orderkey", col("o_orderkey") + 2000000L), "audit")
    val repLoc = tmp()
    // bootstrap mid-stage: the replica starts from the branch head
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"), Some("audit"))
    assert(GraftTable.load(spark, repLoc).toDF().count() == 360)
    assert(src.toDF().count() == 300, "main must not see staged rows")

    // more staged work replays per commit against the BRANCH head
    src.appendToBranch(
      orders(10).withColumn("o_orderkey", col("o_orderkey") + 3000000L), "audit")
    assert(TableReplicator.sync(spark, repLoc) == 1)
    assert(GraftTable.load(spark, repLoc).toDF().count() == 370)

    // publish fast-forwards main onto the branch head: the replica is
    // already converged with main, and further MAIN commits keep syncing
    src.publish("audit")
    assert(TableReplicator.sync(spark, repLoc) == 0)
    assertIdentical(src, GraftTable.load(spark, repLoc))
    src.append(orders(5).withColumn("o_orderkey", col("o_orderkey") + 4000000L))
    // the audit branch still points at the pre-append head; after the ref
    // is dropped the replica follows main seamlessly (same ancestry)
    src.dropRef("audit")
    assert(TableReplicator.sync(spark, repLoc) == 1)
    assertIdentical(src, GraftTable.load(spark, repLoc))
  }

  test("a dropped replication key column refuses loudly") {
    val src = GraftTable.createAs(spark, tmp(), orders(30))
    val repLoc = tmp()
    TableReplicator.create(spark, repLoc, src, Seq("o_orderkey"))
    src.dropColumn("o_orderkey")
    val e = intercept[IllegalStateException](TableReplicator.sync(spark, repLoc))
    assert(e.getMessage.contains("replication key column"))
  }
}
