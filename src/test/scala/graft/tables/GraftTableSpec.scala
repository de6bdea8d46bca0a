package graft.tables

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_tbl").toString + "/t"

  private def ordersDf = spark.read.parquet(s"$sf/orders.parquet")

  test("snapshotOf: zero-copy, pending MOR deletes carry, maintenance never reclaims borrowed files (r16)") {
    val srcLoc = tmp()
    val src = GraftTable.createAs(spark, srcLoc,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)).toDF("id", "v"))
    src.deleteMergeOnReadPositions("id = 2") // pending MOR state at snapshot time
    val snap = GraftTable.snapshotOf(src, tmp())
    // the copy reads exactly what the source reads, borrowing its files
    assert(snap.toDF().select(col("id")).as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    assert(snap.currentFiles().forall(_.path.startsWith(srcLoc)), "zero copy")
    assert(snap.meta.properties(TableFormat.SnapshotSource) == src.meta.location)
    // divergence: a write on the copy never touches the source
    snap.append(Seq((9L, 90.0)).toDF("id", "v"))
    assert(src.toDF().count() == 3 && snap.toDF().count() == 4)
    // maintenance on the copy can never delete the source's files: expire
    // everything expirable, then orphan-sweep with no age guard
    snap.expireSnapshots(System.currentTimeMillis() + 1000000L)
    val swept = GraftTable.load(spark, snap.location)
      .removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000000L)
    assert(swept.forall(!_.startsWith(srcLoc)), "borrowed files reclaimed")
    assert(src.toDF().count() == 3, "source survives the copy's maintenance")
    // a second snapshot at an occupied location refuses
    intercept[IllegalArgumentException] {
      GraftTable.snapshotOf(src, snap.location)
    }
  }

  test("eq-delete key-range stats confine the anti-join to overlapping files (r8)") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val nRows = ordersDf.limit(2000).count()
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(2000))
    t.cluster(Seq("o_orderkey"), nFiles = 8)
    // point upsert touching only the lowest keys
    t.upsertMergeOnRead(
      ordersDf.orderBy($"o_orderkey").limit(5).withColumn("o_totalprice", lit(1.25)),
      Seq("o_orderkey"))
    // bounds survive commit + reload (JSON round-trip)
    val reloaded = GraftTable.load(spark, t.location)
    val e = reloaded.currentEqualityDeletes().head
    assert(e.stats.get("o_orderkey").exists(s => s.min.nonEmpty && s.max.nonEmpty),
      "delete-file key bounds must be collected at commit")

    // plan shape: the LeftAnti applies to the files the key range can hit,
    // not to all 8 clustered files
    val plan = reloaded.toDF().queryExecution.sparkPlan
    def dataFiles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collectLeaves().collect { case f: FileSourceScanExec =>
        f.relation.location.inputFiles.count(!_.contains("/deletes/")) }.sum
    val antiScanned = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => dataFiles(j.left)
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => dataFiles(j.left)
      case j: SortMergeJoinExec if j.joinType == LeftAnti => dataFiles(j.left)
    }
    assert(antiScanned.nonEmpty, "expected an anti-join in the MOR read")
    assert(antiScanned.sum <= 2,
      s"anti-join should scan only key-overlapping files, scanned $antiScanned of 8")

    // correctness unchanged: upserted rows visible once, with the new value
    val low = reloaded.toDF().orderBy($"o_orderkey").limit(5).collect()
    assert(low.forall(_.getAs[Double]("o_totalprice") == 1.25))
    assert(reloaded.toDF().count() == nRows)

    // a NULL-keyed delete never prunes against NULL-keyed data
    val tn = GraftTable.createAs(spark, tmp(),
      Seq((Option(1L), "a"), (Option.empty[Long], "b"), (Option(9L), "c"))
        .toDF("k", "v"))
    tn.deleteMergeOnReadEquality(
      Seq(Option.empty[Long]).toDF("k"), Seq("k"))
    assert(tn.toDF().select("v").as[String].collect().sorted.toSeq == Seq("a", "c"),
      "null-keyed row must still be deleted (null-safe match, no false prune)")
  }

  test("position-delete path bounds confine the anti-join to referenced files (r8)") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val n = ordersDf.count()
    val minKey = ordersDf.agg(min($"o_orderkey")).head().getLong(0)
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(8))
    assert(t.currentFiles().size == 8)
    // point position-delete: references exactly one data file
    t.deleteMergeOnReadPositions(s"o_orderkey = $minKey")
    // rows appended AFTER the delete can never be referenced by it
    t.append(ordersDf.limit(10).withColumn("o_orderkey", $"o_orderkey" + 1000000L))
    assert(t.toDF().count() == n - 1 + 10)

    val plan = t.toDF().queryExecution.sparkPlan
    def dataFiles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collectLeaves().collect { case f: FileSourceScanExec =>
        f.relation.location.inputFiles.count(!_.contains("/deletes/")) }.sum
    val antiScanned = plan.collect {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => dataFiles(j.left)
      case j: ShuffledHashJoinExec if j.joinType == LeftAnti => dataFiles(j.left)
      case j: SortMergeJoinExec if j.joinType == LeftAnti => dataFiles(j.left)
    }
    assert(antiScanned.nonEmpty, "expected the position-delete anti-join")
    assert(antiScanned.sum == 1,
      s"anti-join should scan only the referenced file, scanned $antiScanned of 9")
  }

  test("interleaved pos/eq deletes, upserts, appends read exactly under group-split pruning") {
    def rows(t: GraftTable): Set[(Long, Long)] =
      t.toDF().as[(Long, Long)].collect().toSet
    val t = GraftTable.createAs(spark, tmp(),
      (1L to 200L).map(k => (k, k)).toDF("k", "v").repartition(4))
    // position delete (file-anchored, seq 2)
    t.deleteMergeOnReadPositions("k % 7 = 0")
    // append AFTER the pos delete: its k%7==0 rows must survive (seq 3)
    t.append((201L to 250L).map(k => (k, k)).toDF("k", "v").repartition(2))
    // MOR upsert (eq-delete seq 4 scoped to older files + new rows)
    t.upsertMergeOnRead((50L to 60L).map(k => (k, -1L)).toDF("k", "v"), Seq("k"))
    // standalone equality delete (seq 5) — hits older files incl. upserts
    t.deleteMergeOnReadEquality((10L to 20L).map(Tuple1(_)).toDF("k"), Seq("k"))
    t.append((300L to 310L).map(k => (k, k)).toDF("k", "v"))

    var model = (1L to 200L).filterNot(_ % 7 == 0).map(k => (k, k)).toSet
    model ++= (201L to 250L).map(k => (k, k))
    model = model.filterNot { case (k, _) => (50L to 60L).contains(k) } ++
      (50L to 60L).map(k => (k, -1L))
    model = model.filterNot { case (k, _) => (10L to 20L).contains(k) }
    model ++= (300L to 310L).map(k => (k, k))

    assert(rows(t) == model, "merge-on-read read must equal the model")
    // row-preserving maintenance must not change visible rows
    t.compactDeleteFiles()
    assert(rows(t) == model, "delete-file folding changed rows")
    t.materializeDeletes()
    assert(rows(t) == model, "materialization changed rows")
    assert(t.currentPositionDeletes().isEmpty && t.currentEqualityDeletes().isEmpty)
  }

  test("t01 CTAS + read back") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf)
    assert(t.toDF().count() == ordersDf.count())
    assert(t.meta.currentSnapshot.get.operation == "append")
  }

  test("t02 in-place migration references original files") {
    val srcDir = Files.createTempDirectory("graft_src").toString + "/orders"
    ordersDf.write.parquet(srcDir)
    val t = GraftTable.migrateInPlace(spark, tmp(), srcDir)
    assert(t.toDF().count() == ordersDf.count())
    assert(t.currentFiles().forall(_.path.startsWith(srcDir)), "files must stay in place")
    assert(t.meta.currentSnapshot.get.operation == "migrate")
  }

  test("t03/t04/t05 snapshots, time travel, rollback") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.limit(100))
    val snap1 = t.meta.currentSnapshotId.get
    t.append(ordersDf.limit(50).withColumn("o_orderkey", col("o_orderkey") + 1000000L))
    val snap2 = t.meta.currentSnapshotId.get
    assert(t.toDF().count() == 150)
    assert(t.asOf(snap1).count() == 100)       // FOR SYSTEM_TIME AS OF
    val h = t.history.collect()
    assert(h.length == 2 && h.forall(_.getBoolean(3)))
    t.rollback(snap1)
    assert(t.toDF().count() == 100)
    assert(t.meta.currentSnapshot.get.operation == "rollback")
    // snap2 is no longer a current ancestor
    val h2 = t.history.as[(java.sql.Timestamp, Long, Option[Long], Boolean)].collect()
    assert(h2.find(_._2 == snap2).exists(!_._4))
  }

  test("t34 branch retention protects min-snapshots and age-window ancestors; branch still reads") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))   // s1
    t.append(ordersDf.limit(10))                                      // s2
    t.append(ordersDf.limit(10))                                      // s3
    t.append(ordersDf.limit(10))                                      // s4 (current)
    val ids = t.meta.snapshots.map(_.id)
    val Seq(s1, s2, s3, s4) = ids
    t.createBranch("dev", Some(s3))
    val asOf = t.meta.snapshots.map(_.timestampMs).max + 1
    // min-snapshots-to-keep=2 on dev protects s3 (head) AND s2 (ancestor);
    // only s1 expires
    t.expireSnapshots(asOf, Map("dev" -> RefRetention(minSnapshotsToKeep = 2,
      maxSnapshotAgeMs = 0L)), asOf)
    assert(t.meta.snapshots.map(_.id).toSet == Set(s2, s3, s4))
    // the branch must still time-travel to both protected snapshots
    assert(t.asOfRef("dev").count() == 120)
    assert(t.asOf(s2).count() == 110)

    // a generous age window protects the whole chain even with min=1
    val t2 = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    t2.append(ordersDf.limit(10))
    t2.append(ordersDf.limit(10))
    t2.createBranch("dev", None)
    val asOf2 = t2.meta.snapshots.map(_.timestampMs).max + 1
    t2.expireSnapshots(asOf2, Map("dev" -> RefRetention(minSnapshotsToKeep = 1,
      maxSnapshotAgeMs = Long.MaxValue)), asOf2)
    assert(t2.meta.snapshots.size == 3, "age window must protect all ancestors")

    // a tag past max-ref-age is dropped and releases its snapshot
    val t3 = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    val p1 = t3.meta.currentSnapshotId.get
    t3.append(ordersDf.limit(10))
    t3.createTag("stale", p1)
    val asOf3 = t3.meta.snapshots.map(_.timestampMs).max + 1
    t3.expireSnapshots(asOf3, Map("stale" -> RefRetention(maxRefAgeMs = 0L)), asOf3)
    assert(!t3.meta.refs.contains("stale"))
    assert(t3.meta.snapshots.size == 1)
  }

  test("t35 runtime-filter join skips fact files and matches the plain join") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(8))
    t.cluster(Seq("o_custkey"), nFiles = 8)
    val dim = ordersDf.select($"o_custkey".as("k")).distinct().orderBy($"k").limit(3)
    val keys = dim.as[Long].collect()
    // the IN-list must actually skip files on a key-clustered table
    val planned = t.plannedFiles(s"o_custkey IN (${keys.mkString(",")})")
    assert(planned.size < t.currentFiles().size,
      s"expected file skipping, planned ${planned.size} of ${t.currentFiles().size}")
    // and the join result must be identical to the unpruned join
    val pruned = t.joinPruned(dim, "o_custkey", "k")
      .select($"o_orderkey").as[Long].collect().sorted
    val full = t.toDF()
    val plain = full.join(dim, full("o_custkey") === dim("k"))
      .select($"o_orderkey").as[Long].collect().sorted
    assert(pruned.sameElements(plain))
    assert(plain.nonEmpty)
    // empty dim side -> empty result, no scan blow-up
    assert(t.joinPruned(dim.filter(lit(false)), "o_custkey", "k").count() == 0)
  }

  test("t06 expire snapshots deletes orphaned data files") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.limit(100))
    t.truncate()
    t.append(ordersDf.limit(10))
    val before = t.meta.snapshots.size
    assert(before == 3)
    Thread.sleep(5)
    t.expireSnapshots(System.currentTimeMillis())
    assert(t.meta.snapshots.size == 1)
    assert(t.toDF().count() == 10)
    // the first commit's files are orphans and must be gone from disk
    val dataFiles = {
      val fsys = MetaIO.fs(spark.sparkContext.hadoopConfiguration, loc)
      val it = fsys.listFiles(new org.apache.hadoop.fs.Path(s"$loc/data"), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    assert(dataFiles == t.currentFiles().size, "orphaned files should be deleted")
  }

  test("t07 merge: matched rows replaced, unmatched inserted, untouched files kept") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf)
    val nFilesBefore = t.currentFiles().size
    val source = ordersDf.limit(5)
      .withColumn("o_orderpriority", lit("MERGED"))
      .unionAll(ordersDf.limit(3)
        .withColumn("o_orderkey", col("o_orderkey") + 900000000L)
        .withColumn("o_orderpriority", lit("INSERTED")))
    t.mergeInto(source, Seq("o_orderkey"))
    val out = t.toDF()
    assert(out.count() == ordersDf.count() + 3)
    assert(out.filter($"o_orderpriority" === "MERGED").count() == 5)
    assert(out.filter($"o_orderpriority" === "INSERTED").count() == 3)
    assert(t.meta.currentSnapshot.get.operation == "merge")
  }

  test("t08 delete / update / truncate (copy-on-write)") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf)
    val n = ordersDf.count()
    val nStatusO = ordersDf.filter($"o_orderstatus" === "O").count()
    t.delete("o_orderstatus = 'O'")
    assert(t.toDF().count() == n - nStatusO)
    assert(t.toDF().filter($"o_orderstatus" === "O").count() == 0)

    t.update("o_totalprice > 100000", Map("o_orderpriority" -> "'5-HIGH-VALUE'"))
    val updated = t.toDF().filter($"o_totalprice" > 100000)
    assert(updated.count() > 0)
    assert(updated.filter($"o_orderpriority" =!= "5-HIGH-VALUE").count() == 0)

    t.truncate()
    assert(t.toDF().count() == 0)
  }

  test("update: condition and assignments read the ORIGINAL row (review finding)") {
    // SQL UPDATE semantics: SET status='B', note='hit' WHERE status='A'
    // must set BOTH columns on A-rows — a per-column fold would mutate
    // status first and the note assignment's condition would match nothing
    val t = GraftTable.createAs(spark, tmp(),
      Seq((1, "A", "x"), (2, "A", "y"), (3, "C", "z"))
        .toDF("id", "status", "note"))
    t.update("status = 'A'", Map("status" -> "'B'", "note" -> "'hit'"))
    val got = t.toDF().collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1) == ("B", "hit") && got(2) == ("B", "hit"))
    assert(got(3) == ("C", "z"))
    // simultaneous swap: SET a=b, b=a reads both RHS from the old row
    val s = GraftTable.createAs(spark, tmp(),
      Seq((1, 10L, 20L)).toDF("id", "a", "b"))
    s.update("id = 1", Map("a" -> "b", "b" -> "a"))
    val row = s.toDF().head
    assert(row.getLong(1) == 20L && row.getLong(2) == 10L,
      "swap must not read a half-assigned row")
  }

  test("t09 identity partitioning produces partition dirs and prunes by value") {
    val loc = tmp()
    val df = ordersDf.withColumn("status", col("o_orderstatus"))
    val t = GraftTable.createAs(spark, loc, df,
      Seq(PartitionField("o_orderstatus", "identity", "status_p")))
    val all = t.currentFiles()
    assert(all.forall(_.partitionValues.contains("status_p")))
    val planned = t.plannedFiles("o_orderstatus = 'F'")
    assert(planned.nonEmpty && planned.size < all.size, s"pruned ${planned.size}/${all.size}")
    assert(planned.forall(_.partitionValues("status_p") == "F"))
    // results identical with and without pruning
    assert(t.toDF(Some("o_orderstatus = 'F'")).count() ==
      ordersDf.filter($"o_orderstatus" === "F").count())
  }

  test("t10 transform partitioning (years) prunes time-derivative queries") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf,
      Seq(PartitionField("o_orderdate", "years", "order_year")))
    val all = t.currentFiles()
    val planned = t.plannedFiles("o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'")
    assert(planned.nonEmpty && planned.size < all.size, s"pruned ${planned.size}/${all.size}")
    assert(planned.forall(f => f.partitionValues("order_year").toInt >= 1995 &&
      f.partitionValues("order_year").toInt <= 1996))
    val expected = ordersDf.filter($"o_orderdate" >= "1996-01-01" && $"o_orderdate" < "1997-01-01").count()
    assert(t.toDF(Some("o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'")).count() == expected)
  }

  test("t11 partition evolution: new writes under new spec, queries span both") {
    val loc = tmp()
    val half1 = ordersDf.filter($"o_orderkey" % 2 === 0)
    val half2 = ordersDf.filter($"o_orderkey" % 2 === 1)
    val t = GraftTable.createAs(spark, loc, half1) // unpartitioned spec 0
    t.setPartitionSpec(Seq(PartitionField("o_orderdate", "years", "order_year")))
    t.append(half2) // spec 1
    val files = t.currentFiles()
    assert(files.exists(_.specId == 0) && files.exists(_.specId == 1))
    assert(t.toDF().count() == ordersDf.count())
    // pruning applies per-file spec: spec-1 files prune by year, spec-0 by stats
    val planned = t.plannedFiles("o_orderdate >= TIMESTAMP '2001-01-01'")
    assert(planned.size < files.size)
  }

  test("t12 stats-based file skipping without partitioning") {
    val loc = tmp()
    // write sorted by orderkey so files have disjoint key ranges
    val t = GraftTable.createAs(spark, loc,
      ordersDf.repartitionByRange(8, $"o_orderkey"))
    val all = t.currentFiles()
    assert(all.size >= 8)
    val planned = t.plannedFiles("o_orderkey <= 100")
    assert(planned.size < all.size, s"stats should skip files: ${planned.size}/${all.size}")
    assert(t.toDF(Some("o_orderkey <= 100")).count() ==
      ordersDf.filter($"o_orderkey" <= 100).count())
  }

  test("t13 compaction bin-packs small files without changing contents") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.repartition(16))
    val before = t.currentFiles().size
    assert(before >= 16)
    // decimal sum: order-independent, so contents-equality survives the rewrite
    def checksum() = t.toDF()
      .agg(sum($"o_totalprice".cast("decimal(18,2)"))).as[java.math.BigDecimal].head()
    val sumBefore = checksum()
    t.compact(64L << 20)
    val after = t.currentFiles().size
    assert(after < before, s"compaction should reduce files: $after < $before")
    assert(t.meta.currentSnapshot.get.operation == "replace")
    assert(t.toDF().count() == ordersDf.count())
    assert(checksum() == sumBefore)
  }

  test("t14 schema evolution + metadata retention") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.limit(100),
      properties = Map(TableFormat.PrevVersionsMax -> "2",
        TableFormat.DeleteAfterCommit -> "true"))
    t.addColumn("discount_pct", DoubleType)
    // old files read back with nulls in the new column
    val df = t.toDF()
    assert(df.schema.fieldNames.contains("discount_pct"))
    assert(df.filter($"discount_pct".isNotNull).count() == 0)
    // new writes carry the column; filter on it works across old+new files
    t.append(df.limit(10).withColumn("discount_pct", lit(5.0)))
    assert(t.toDF().filter($"discount_pct" === 5.0).count() == 10)
    // metadata retention: only the last `max`+current versions remain
    val conf = spark.sparkContext.hadoopConfiguration
    val v = t.meta.version
    assert(!MetaIO.exists(conf, MetaIO.metadataPath(loc, v - 3)))
    assert(MetaIO.exists(conf, MetaIO.metadataPath(loc, v)))
  }

  test("merge-on-read delete: O(metadata) commit, correct reads, materialization") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf)
    val filesBefore = t.currentFiles().map(_.path).toSet
    val n = ordersDf.count()
    val nO = ordersDf.filter($"o_orderstatus" === "O").count()

    t.deleteMergeOnRead("o_orderstatus = 'O'")
    // no data file was touched, but reads exclude the deleted rows
    assert(t.currentFiles().map(_.path).toSet == filesBefore)
    assert(t.meta.currentSnapshot.get.operation == "delete-mor")
    assert(t.toDF().count() == n - nO)
    assert(t.toDF().filter($"o_orderstatus" === "O").count() == 0)
    // time travel before the delete still sees everything
    assert(t.asOf(t.meta.snapshots.head.id).count() == n)

    // stacking a second predicate
    val nP = ordersDf.filter($"o_orderstatus" === "P").count()
    t.deleteMergeOnRead("o_orderstatus = 'P'")
    assert(t.toDF().count() == n - nO - nP)

    // materialization clears predicates, rewrites hit files, keeps results
    t.materializeDeletes()
    assert(t.currentDeletes().isEmpty)
    assert(t.meta.currentSnapshot.get.operation == "rewrite-deletes")
    assert(t.toDF().count() == n - nO - nP)

    // appends after MoR deletes are not hit by older predicates
    val t2 = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    t2.deleteMergeOnRead("o_orderkey >= 0") // deletes everything
    assert(t2.toDF().count() == 0)
    t2.append(ordersDf.limit(10))
    assert(t2.toDF().count() == 10, "new rows must survive older delete predicates")
  }

  test("position-delete merge-on-read: metadata commit, reads, time travel, rollback, materialize") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(4))
    val total = ordersDf.count()
    val nO = ordersDf.filter($"o_orderstatus" === "O").count()
    val filesBefore = t.currentFiles().map(_.path).toSet

    t.deleteMergeOnReadPositions("o_orderstatus = 'O'")
    assert(t.currentFiles().map(_.path).toSet == filesBefore, "no data file rewritten")
    assert(t.meta.currentSnapshot.get.operation == "delete-mor-pos")
    assert(t.currentPositionDeletes().nonEmpty)
    assert(t.toDF().count() == total - nO)
    assert(t.toDF().filter($"o_orderstatus" === "O").count() == 0)
    // a filter that prunes EVERY file must return empty, not crash on the
    // position-delete anti-join against a metadata-less empty relation
    assert(t.toDF(Some("o_orderkey < -1")).count() == 0)

    // stacking a second position delete only records still-live rows
    val nHigh = ordersDf.filter($"o_orderstatus" =!= "O")
      .filter($"o_totalprice" > 300000).count()
    t.deleteMergeOnReadPositions("o_totalprice > 300000")
    assert(t.toDF().count() == total - nO - nHigh)

    // time travel across both deletes
    assert(t.asOf(1).count() == total)
    assert(t.asOf(2).count() == total - nO)

    // rollback carries the target's position deletes
    t.rollback(2)
    assert(t.toDF().count() == total - nO)

    // appends carry file-anchored position deletes — no forced rewrite
    t.append(ordersDf.filter($"o_orderstatus" =!= "O").limit(10)
      .withColumn("o_orderkey", $"o_orderkey" + 999000L))
    assert(t.currentPositionDeletes().nonEmpty, "append must not materialize position deletes")
    assert(t.toDF().count() == total - nO + 10)

    // materialization rewrites only hit files and clears the delete files
    t.materializeDeletes()
    assert(t.currentPositionDeletes().isEmpty)
    assert(t.toDF().count() == total - nO + 10)
    assert(t.toDF().filter($"o_orderstatus" === "O").count() == 0)
  }

  test("equality-delete merge-on-read: key-file commit, reads, changelog, materialize") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(4))
    val total = ordersDf.count()
    val delKeys = ordersDf.filter($"o_orderkey" % 7 === 0)
      .select($"o_orderkey")
    val nDel = delKeys.count()
    val filesBefore = t.currentFiles().map(_.path).toSet

    t.deleteMergeOnReadEquality(delKeys, Seq("o_orderkey"))
    assert(t.currentFiles().map(_.path).toSet == filesBefore, "no data file rewritten")
    assert(t.meta.currentSnapshot.get.operation == "delete-mor-eq")
    assert(t.toDF().count() == total - nDel)
    assert(t.toDF().filter($"o_orderkey" % 7 === 0).count() == 0)

    // changelog reports exactly the deleted keys
    val ch = t.changesBetween(1, t.meta.currentSnapshotId.get)
    assert(ch.filter($"_change_type" === "delete").count() == nDel)

    // time travel + materialization
    assert(t.asOf(1).count() == total)
    t.materializeDeletes()
    assert(t.currentEqualityDeletes().isEmpty)
    assert(t.toDF().count() == total - nDel)
  }

  test("predicate and position deletes compose at read time") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf)
    val total = ordersDf.count()
    val nO = ordersDf.filter($"o_orderstatus" === "O").count()
    val nPHigh = ordersDf.filter($"o_orderstatus" === "P")
      .filter($"o_totalprice" > 200000).count()
    t.deleteMergeOnRead("o_orderstatus = 'O'")
    t.deleteMergeOnReadPositions("o_totalprice > 200000 AND o_orderstatus = 'P'")
    assert(t.toDF().count() == total - nO - nPHigh)
    t.materializeDeletes()
    assert(t.currentDeletes().isEmpty && t.currentPositionDeletes().isEmpty)
    assert(t.toDF().count() == total - nO - nPHigh)
  }

  test("write.bloom-columns enables parquet native bloom filters on data files") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val t = GraftTable.createAs(spark, tmp(), ordersDf,
      properties = Map(TableFormat.BloomColumns -> "o_orderkey"))
    val conf = spark.sparkContext.hadoopConfiguration
    val file = t.currentFiles().head.path
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val keyCol = rg.getColumns.asScala.find(_.getPath.toDotString == "o_orderkey").get
      assert(keyCol.getBloomFilterOffset > 0, "o_orderkey must carry a bloom filter")
      val otherCol = rg.getColumns.asScala.find(_.getPath.toDotString == "o_custkey").get
      assert(otherCol.getBloomFilterOffset <= 0, "unlisted columns stay bloom-free")
    } finally reader.close()
    // point lookups stay correct with the filters in play
    val k = ordersDf.select($"o_orderkey").head().getLong(0)
    assert(t.toDF(Some(s"o_orderkey = $k")).count() ==
      ordersDf.filter($"o_orderkey" === k).count())
  }

  test("n-column z-order clusters three columns at once") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(8))
    t.clusterZOrder(Seq("o_orderkey", "o_custkey", "o_totalprice"), nFiles = 8)
    assert(t.toDF().count() == ordersDf.count())
    // every axis prunes to a strict subset of the files
    for (pred <- Seq("o_orderkey <= 50", "o_custkey <= 20", "o_totalprice <= 30000")) {
      val planned = t.plannedFiles(pred).size
      assert(planned < t.currentFiles().size, s"$pred should prune, planned=$planned")
    }
  }

  test("hilbert clustering prunes at least as well as z-order on a 3-column mix") {
    def plannedSum(t: GraftTable, preds: Seq[String]): Int =
      preds.map(p => t.plannedFiles(p).size).sum
    val preds = Seq("o_orderkey <= 50", "o_custkey <= 20", "o_totalprice <= 30000",
      "o_orderkey <= 50 AND o_custkey <= 60", "o_custkey <= 60 AND o_totalprice <= 90000")
    val tz = GraftTable.createAs(spark, tmp(), ordersDf.repartition(8))
    tz.clusterZOrder(Seq("o_orderkey", "o_custkey", "o_totalprice"), nFiles = 8)
    val th = GraftTable.createAs(spark, tmp(), ordersDf.repartition(8))
    th.clusterHilbert(Seq("o_orderkey", "o_custkey", "o_totalprice"), nFiles = 8)
    val (zn, hn) = (plannedSum(tz, preds), plannedSum(th, preds))
    assert(hn <= zn, s"hilbert planned $hn files vs z-order $zn over ${preds.size} predicates")
    // every axis still prunes, and results stay exact
    for (pred <- Seq("o_orderkey <= 50", "o_custkey <= 20", "o_totalprice <= 30000")) {
      assert(th.plannedFiles(pred).size < th.currentFiles().size, s"$pred should prune")
    }
    assert(th.toDF(Some("o_custkey <= 20")).count() ==
      ordersDf.filter($"o_custkey" <= 20).count())
  }

  test("cluster() makes stats pruning near-exact on the sort column") {
    val loc = tmp()
    // random layout: every file spans the whole key range -> no pruning
    val t = GraftTable.createAs(spark, loc, ordersDf.repartition(8))
    val unclustered = t.plannedFiles("o_orderkey <= 100").size
    assert(unclustered == t.currentFiles().size, "random layout should not prune")
    t.cluster(Seq("o_orderkey"), nFiles = 8)
    val clustered = t.plannedFiles("o_orderkey <= 100")
    assert(clustered.size <= 2, s"clustered layout should prune to ~1 file, got ${clustered.size}")
    assert(t.toDF(Some("o_orderkey <= 100")).count() ==
      ordersDf.filter($"o_orderkey" <= 100).count())
  }

  test("incremental read returns exactly the rows appended between snapshots") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.limit(100))
    val s1 = t.meta.currentSnapshotId.get
    t.append(ordersDf.limit(150).filter($"o_orderkey" > 400))
    val s2 = t.meta.currentSnapshotId.get
    t.append(ordersDf.limit(10).withColumn("o_orderkey", $"o_orderkey" + 777000L))
    val s3 = t.meta.currentSnapshotId.get
    val batch1 = t.addedBetween(s1, s2)
    val batch2 = t.addedBetween(s2, s3)
    assert(batch1.count() == ordersDf.limit(150).filter($"o_orderkey" > 400).count())
    assert(batch2.count() == 10)
    assert(batch2.filter($"o_orderkey" >= 777000L).count() == 10)
    assert(t.addedBetween(s1, s3).count() == batch1.count() + batch2.count())
  }

  test("changesBetween emits inserts for appends and deletes for MOR commits") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    val s1 = t.meta.currentSnapshotId.get
    t.append(ordersDf.limit(20).withColumn("o_orderkey", $"o_orderkey" + 555000L))
    val s2 = t.meta.currentSnapshotId.get
    t.deleteMergeOnRead("o_orderkey >= 555000")
    val s3 = t.meta.currentSnapshotId.get
    t.deleteMergeOnReadPositions("o_orderstatus = 'F'")
    val s4 = t.meta.currentSnapshotId.get

    val ins = t.changesBetween(s1, s2)
    assert(ins.count() == 20)
    assert(ins.select($"_change_type").distinct().collect().map(_.getString(0)).toSeq == Seq("insert"))

    val del = t.changesBetween(s2, s3)
    assert(del.count() == 20)
    assert(del.filter($"_change_type" === "delete").count() == 20)

    // position-delete commit: deleted = still-live F rows at s3
    val delPos = t.changesBetween(s3, s4)
    val expected = t.asOf(s3).filter($"o_orderstatus" === "F").count()
    assert(delPos.count() == expected && expected > 0)

    // whole range = all three commits' changes
    assert(t.changesBetween(s1, s4).count() == 40 + expected)

    // row-preserving maintenance emits nothing (Iceberg changelog scans
    // skip replace snapshots)
    t.materializeDeletes()
    val s5 = t.meta.currentSnapshotId.get
    assert(t.changesBetween(s4, s5).count() == 0)
    assert(t.changesBetween(s1, s5).count() == 40 + expected)
    // copy-on-write commits recover the row diff from the rewritten files
    val liveO = t.toDF().filter($"o_orderstatus" === "O").count()
    t.delete("o_orderstatus = 'O'")
    val s6 = t.meta.currentSnapshotId.get
    val cowDiff = t.changesBetween(s5, s6)
    assert(cowDiff.filter($"_change_type" === "delete").count() == liveO)
    assert(cowDiff.filter($"_change_type" === "insert").count() == 0)
    // CoW UPDATE: one delete + one insert per truly-changed row, even
    // though whole files were rewritten
    val touched = t.toDF().filter($"o_totalprice" > 200000).count()
    t.update("o_totalprice > 200000", Map("o_orderpriority" -> "'9-COW'"))
    val s7 = t.meta.currentSnapshotId.get
    val upDiff = t.changesBetween(s6, s7)
    assert(upDiff.filter($"_change_type" === "delete").count() == touched)
    assert(upDiff.filter($"_change_type" === "insert").count() == touched)
    assert(upDiff.filter($"_change_type" === "insert")
      .filter($"o_orderpriority" === "9-COW").count() == touched)
  }

  test("upsertMergeOnRead: one O(batch) commit updates keys and inserts rows") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(4))
    val total = ordersDf.count()
    val filesBefore = t.currentFiles().map(_.path).toSet
    val updates = ordersDf.orderBy($"o_orderkey").limit(50)
      .withColumn("o_orderpriority", lit("0-UPSERTED"))
    val inserts = ordersDf.orderBy($"o_orderkey").limit(20)
      .withColumn("o_orderkey", $"o_orderkey" + 444000L)
      .withColumn("o_orderpriority", lit("0-NEW"))
    t.upsertMergeOnRead(updates.unionAll(inserts), Seq("o_orderkey"))

    assert(filesBefore.subsetOf(t.currentFiles().map(_.path).toSet),
      "no target file read or rewritten")
    assert(t.toDF().count() == total + 20)
    assert(t.toDF().filter($"o_orderpriority" === "0-UPSERTED").count() == 50,
      "appended rows must survive their own commit's equality delete (seq scoping)")
    assert(t.toDF().filter($"o_orderpriority" === "0-NEW").count() == 20)

    // changelog: old versions deleted, all source rows inserted
    val ch = t.changesBetween(1, t.meta.currentSnapshotId.get)
    assert(ch.filter($"_change_type" === "delete").count() == 50)
    assert(ch.filter($"_change_type" === "insert").count() == 70)

    // a second upsert re-hides only older versions of its keys
    t.upsertMergeOnRead(updates.limit(10).withColumn("o_orderpriority", lit("0-AGAIN")),
      Seq("o_orderkey"))
    assert(t.toDF().filter($"o_orderpriority" === "0-AGAIN").count() == 10)
    assert(t.toDF().filter($"o_orderpriority" === "0-UPSERTED").count() == 40)
    assert(t.toDF().count() == total + 20)

    // materialization collapses the stacked upserts
    t.materializeDeletes()
    assert(t.currentEqualityDeletes().isEmpty)
    assert(t.toDF().count() == total + 20)
    assert(t.toDF().filter($"o_orderpriority" === "0-AGAIN").count() == 10)
  }

  test("compactDeleteFiles folds delete files without changing visible rows") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.repartition(4))
    t.deleteMergeOnReadPositions("o_orderkey % 5 = 0")
    t.deleteMergeOnReadPositions("o_orderkey % 7 = 1")
    t.deleteMergeOnReadEquality(ordersDf.filter($"o_orderkey" % 11 === 2).select($"o_orderkey"), Seq("o_orderkey"))
    t.deleteMergeOnReadEquality(ordersDf.filter($"o_orderkey" % 13 === 3).select($"o_orderkey"), Seq("o_orderkey"))
    val before = t.toDF().count()
    val posBefore = t.currentPositionDeletes().size
    assert(posBefore > 1 && t.currentEqualityDeletes().size == 2)
    t.compactDeleteFiles()
    assert(t.currentPositionDeletes().size == 1)
    // the two equality deletes landed at different sequence numbers, so they
    // must NOT merge into one entry (that would widen the older delete onto
    // files it may not touch) — but each entry folds to one file
    assert(t.currentEqualityDeletes().size == 2 &&
      t.currentEqualityDeletes().forall(_.files.size == 1))
    assert(t.toDF().count() == before)
    // and the folded state still materializes cleanly
    t.materializeDeletes()
    assert(t.toDF().count() == before)
  }

  test("compactDeleteFiles preserves equality-delete seq: upserted rows survive") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    val up = ordersDf.orderBy($"o_orderkey").limit(20)
    t.upsertMergeOnRead(up.withColumn("o_orderpriority", lit("0-V1")), Seq("o_orderkey"))
    t.upsertMergeOnRead(up.withColumn("o_orderpriority", lit("0-V2")), Seq("o_orderkey"))
    val before = t.toDF().count()
    assert(t.toDF().filter($"o_orderpriority" === "0-V2").count() == 20)
    val seqsBefore = t.currentEqualityDeletes().map(_.seq).sorted
    t.compactDeleteFiles()
    assert(t.currentEqualityDeletes().map(_.seq).sorted == seqsBefore,
      "delete-file compaction must not change sequence numbers")
    assert(t.toDF().count() == before)
    assert(t.toDF().filter($"o_orderpriority" === "0-V2").count() == 20,
      "current key versions must survive compaction (seq-scoping preserved)")
  }

  test("upsertMergeOnRead materializes older predicate deletes first") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    t.deleteMergeOnRead("o_orderstatus = 'O'")
    val liveAfterDelete = t.toDF().count()
    // upsert rows that MATCH the older predicate — they must survive it
    val up = ordersDf.orderBy($"o_orderkey").limit(15)
      .withColumn("o_orderstatus", lit("O"))
      .withColumn("o_orderpriority", lit("0-UPSERT-O"))
    // some upserted keys may still be live (their row wasn't status='O'):
    // those are replaced, the rest are pure inserts
    val liveMatching = t.toDF()
      .join(up.select($"o_orderkey"), "o_orderkey").count()
    t.upsertMergeOnRead(up, Seq("o_orderkey"))
    assert(t.currentDeletes().isEmpty,
      "predicate deletes must be materialized before the upsert commit")
    assert(t.toDF().filter($"o_orderpriority" === "0-UPSERT-O").count() == 15,
      "upserted rows matching an older predicate delete must not be hidden")
    assert(t.toDF().count() == liveAfterDelete - liveMatching + 15)
  }

  test("publish refuses to discard commits that landed on main after branching") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    t.createBranch("wap")
    t.appendToBranch(ordersDf.limit(10)
      .withColumn("o_orderkey", $"o_orderkey" + 777000L), "wap")
    // main moves on independently -> branch head no longer descends from it
    t.append(ordersDf.limit(5).withColumn("o_orderkey", $"o_orderkey" + 999000L))
    intercept[IllegalArgumentException] { t.publish("wap") }
    assert(t.toDF().filter($"o_orderkey" >= 999000L).count() == 5,
      "diverged publish must not silently drop main's commits")
  }

  test("cherry-pick applies staged append onto a diverged main; seq protects picked rows") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    t.createBranch("wap")
    t.appendToBranch(ordersDf.limit(10)
      .withColumn("o_orderkey", $"o_orderkey" + 777000L), "wap")
    val staged = t.meta.refs("wap").snapshotId
    // main diverges: an append AND an equality delete that names some
    // staged keys — committed before the pick, so it must NOT hit them
    t.append(ordersDf.limit(5).withColumn("o_orderkey", $"o_orderkey" + 999000L))
    t.deleteMergeOnReadEquality(
      ordersDf.limit(10).select(($"o_orderkey" + 777000L).as("o_orderkey")),
      Seq("o_orderkey"))
    intercept[IllegalArgumentException] { t.publish("wap") }
    t.cherryPick(staged)
    assert(t.toDF().count() == 115, "100 base + 5 main append + 10 picked")
    assert(t.toDF().filter($"o_orderkey" >= 777000L && $"o_orderkey" < 999000L).count() == 10,
      "older equality deletes must not hit rows made visible by the pick")
    assert(t.toDF().filter($"o_orderkey" >= 999000L).count() == 5,
      "main's own commits survive the pick")
    // replays of non-append snapshots are ambiguous -> refused
    t.delete("o_orderkey >= 999000")
    val del = t.meta.currentSnapshotId.get
    intercept[IllegalArgumentException] { t.cherryPick(del) }
    // a second pick of the same snapshot refuses: files already referenced
    intercept[IllegalArgumentException] { t.cherryPick(staged) }
  }

  test("refs: tags, branches, and the write-audit-publish flow") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(100))
    val base = t.meta.currentSnapshotId.get
    t.createTag("v1", base)

    // write: staged rows land on the branch only
    t.createBranch("audit")
    t.appendToBranch(ordersDf.limit(30).withColumn("o_orderkey", $"o_orderkey" + 888000L), "audit")
    assert(t.toDF().count() == 100, "main is unaffected before publish")
    assert(t.asOfRef("audit").count() == 130, "auditors read the branch")
    assert(t.asOfRef("v1").count() == 100)

    // audit passed -> publish fast-forwards main to the branch head
    t.publish("audit")
    assert(t.toDF().count() == 130)
    assert(t.toDF().filter($"o_orderkey" >= 888000L).count() == 30)

    // tagged snapshots survive expiration
    t.expireSnapshots(System.currentTimeMillis() + 100000)
    assert(t.asOfRef("v1").count() == 100)
    t.dropRef("v1")
    intercept[IllegalArgumentException] { t.asOfRef("v1") }
  }

  test("z-order clustering prunes on BOTH columns") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.repartition(8))
    t.clusterZOrder("o_custkey", "o_orderkey", nFiles = 16)
    val all = t.currentFiles().size
    assert(all >= 8)
    val byCust = t.plannedFiles("o_custkey <= 15").size
    val byOrder = t.plannedFiles("o_orderkey <= 150").size
    assert(byCust < all, s"custkey pruning: $byCust/$all")
    assert(byOrder < all, s"orderkey pruning: $byOrder/$all")
    // results stay exact on both dimensions
    assert(t.toDF(Some("o_custkey <= 15")).count() ==
      ordersDf.filter($"o_custkey" <= 15).count())
    assert(t.toDF(Some("o_orderkey <= 150")).count() ==
      ordersDf.filter($"o_orderkey" <= 150).count())
  }

  test("remove_orphan_files deletes strays, honors the recency guard, spares referenced files") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(500))
    ordersDf.limit(5).coalesce(1).write.parquet(t.location + "/data/stray")
    // recency guard: a cutoff in the past refuses the fresh stray
    assert(t.removeOrphanFiles(System.currentTimeMillis() - 3600000L).isEmpty)
    val removed = t.removeOrphanFiles(System.currentTimeMillis() + 60000L)
    assert(removed.size == 1 && removed.head.contains("/data/stray/"))
    assert(t.toDF().count() == 500)
    // idempotent: nothing left to remove
    assert(t.removeOrphanFiles(System.currentTimeMillis() + 60000L).isEmpty)
  }

  test("diffSnapshots reconciles across MOR-delete differences (files unchanged)") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(200))
    val s1 = t.meta.currentSnapshotId.get
    val hit = t.toDF().filter($"o_orderstatus" === "F").count()
    t.deleteMergeOnRead("o_orderstatus = 'F'")
    val s2 = t.meta.currentSnapshotId.get
    assert(hit > 0)
    // forward: the MOR delete's rows disappear; backward: they come back
    val fwd = t.diffSnapshots(s1, s2)
    assert(fwd.filter($"_change_type" === "delete").count() == hit)
    assert(fwd.filter($"_change_type" === "insert").count() == 0)
    val back = t.diffSnapshots(s2, s1)
    assert(back.filter($"_change_type" === "insert").count() == hit)
  }

  test("rewrite_manifests keeps the file set identical") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.limit(1000))
    val before = t.currentFiles().map(_.path).toSet
    t.rewriteManifests()
    assert(t.currentFiles().map(_.path).toSet == before)
    assert(t.toDF().count() == 1000)
  }

  test("csv staging -> CTAS import (the workshop's airlines path)") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/airlines.csv"),
      "code,description\nAA,American Airlines\nDL,Delta\nABC,Real Fake Airlines\n")
    val schema = StructType(Seq(
      StructField("code", StringType), StructField("description", StringType)))
    val staged = graft.sources.Tables.importCsv(spark, s"$dir/airlines.csv", schema)
    val t = GraftTable.createAs(spark, tmp(), staged)
    assert(t.toDF().count() == 3)
    assert(t.toDF().filter($"code" === "ABC").count() == 1)
  }

  test("metadata tables: snapshots and files") {
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, ordersDf.limit(100))
    t.append(ordersDf.limit(20))
    val snaps = t.snapshotsDf.collect()
    assert(snaps.length == 2)
    assert(t.filesDf.count() == t.currentFiles().size)
    assert(t.snapshotsDf.agg(max($"total_records")).as[Long].head() == 120)
  }

  // r5 regression: overwrite across pending equality deletes must not emit
  // changelog 'delete' rows for versions the equality deletes already
  // killed (the double-delete bug), and must not need a physical
  // materialization rewrite to avoid it.
  test("changelog across overwrite with pending equality deletes is MOR-aware") {
    val t = GraftTable.createAs(spark, tmp(),
      Seq((1L, "v1"), (2L, "v1"), (3L, "v1")).toDF("k", "v"))
    t.upsertMergeOnRead(Seq((1L, "v2")).toDF("k", "v"), Seq("k"))
    val parent = t.meta.currentSnapshotId.get
    t.overwrite(Seq((9L, "x")).toDF("k", "v"))
    val head = t.meta.currentSnapshotId.get
    // exactly create + upsert + overwrite: no interposed rewrite commit
    assert(t.meta.snapshots.map(_.operation) == Seq("append", "upsert-mor", "overwrite"))
    val ch = t.changesBetween(parent, head)
      .as[(Long, String, String)].collect().toSet
    assert(ch == Set((1L, "v2", "delete"), (2L, "v1", "delete"),
      (3L, "v1", "delete"), (9L, "x", "insert")))
  }

  // r5/r6 regression: truncate is O(metadata) — no thrown-away rewrite of
  // the parent's data files — and its changelog still sees only live rows.
  test("truncate with pending equality deletes is O(metadata) and changelog-exact") {
    val t = GraftTable.createAs(spark, tmp(),
      Seq((1L, "v1"), (2L, "v1")).toDF("k", "v"))
    t.upsertMergeOnRead(Seq((1L, "v2")).toDF("k", "v"), Seq("k"))
    val parent = t.meta.currentSnapshotId.get
    val parentFiles = t.currentFiles().map(_.path).toSet
    t.truncate()
    // parent snapshot's manifest still references the SAME physical files
    // (nothing was rewritten just to serve the changelog)
    val parentMdFiles = t.meta.snapshot(parent)
      .map(s => MetaIO.loadManifest(spark.sparkContext.hadoopConfiguration,
        t.location, s)).get.map(_.path).toSet
    assert(parentMdFiles == parentFiles)
    assert(t.meta.snapshots.map(_.operation) == Seq("append", "upsert-mor", "delete"))
    assert(t.toDF().count() == 0)
    val ch = t.changesBetween(parent, t.meta.currentSnapshotId.get)
      .as[(Long, String, String)].collect().toSet
    assert(ch == Set((1L, "v2", "delete"), (2L, "v1", "delete")))
  }

  test("fastCount/fastMinMax answer from metadata and refuse when stats can't be exact") {
    val t = GraftTable.createAs(spark, tmp(),
      Seq((5L, "b", 2.5), (1L, "a", 9.0), (9L, "c", 1.25))
        .toDF("k", "s", "v").repartition(3))
    assert(t.fastCount().contains(3L))
    assert(t.fastMinMax("k").contains((1L, 9L)))
    assert(t.fastMinMax("v").contains((1.25, 9.0)))
    assert(t.fastMinMax("s").contains(("a", "c")))
    // pending MOR deletes make stats bounds unsafe -> scan fallback
    t.deleteMergeOnReadEquality(Seq(Tuple1(9L)).toDF("k"), Seq("k"))
    assert(t.fastCount().isEmpty && t.fastMinMax("k").isEmpty)
    t.materializeDeletes()
    assert(t.fastCount().contains(2L))
    assert(t.fastMinMax("k").contains((1L, 5L)))
    // rename keeps the metadata path working (stats live physical)
    t.renameColumn("k", "key")
    assert(t.fastMinMax("key").contains((1L, 5L)))
  }

  test("dynamic partition overwrite replaces touched partitions only") {
    val t = GraftTable.createAs(spark, tmp(),
      Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 3.0), (4L, "C", 4.0))
        .toDF("k", "p", "v"),
      partitionFields = Seq(PartitionField("p", "identity", "p")))
    val keepFiles = t.currentFiles()
      .filterNot(_.partitionValues.get("p").contains("A")).map(_.path).toSet
    val s0 = t.meta.currentSnapshotId.get
    t.overwritePartitions(Seq((10L, "A", 10.0)).toDF("k", "p", "v"))
    // A replaced wholesale; B and C files untouched (same physical paths)
    assert(t.toDF().filter(col("p") === "A").as[(Long, String, Double)]
      .collect().toSet == Set((10L, "A", 10.0)))
    assert(t.toDF().count() == 3)
    assert(t.currentFiles()
      .filterNot(_.partitionValues.get("p").contains("A")).map(_.path).toSet == keepFiles)
    // changelog recovers the row-level swap from the file diff
    val ch = t.changesBetween(s0, t.meta.currentSnapshotId.get)
      .as[(Long, String, Double, String)].collect().toSet
    assert(ch == Set((1L, "A", 1.0, "delete"), (2L, "A", 2.0, "delete"),
      (10L, "A", 10.0, "insert")))
    // kept partitions' MOR deletes survive the partial overwrite
    t.deleteMergeOnReadEquality(Seq(Tuple1(3L)).toDF("k"), Seq("k"))
    t.overwritePartitions(Seq((11L, "A", 11.0)).toDF("k", "p", "v"))
    assert(t.toDF().filter(col("k") === 3L).count() == 0,
      "equality delete on a kept partition was dropped by the overwrite")
    // unpartitioned tables refuse (overwrite() is the right call)
    val u = GraftTable.createAs(spark, tmp(), Seq((1L, "x")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      u.overwritePartitions(Seq((2L, "y")).toDF("k", "v")))
  }

  test("add_files registers files in place; older equality deletes can't hit them") {
    val t = GraftTable.createAs(spark, tmp(),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // pending equality delete on k=3 BEFORE the files are added
    t.deleteMergeOnReadEquality(Seq(Tuple1(3L)).toDF("k"), Seq("k"))
    val staged = java.nio.file.Files.createTempDirectory("graft_addf").toString + "/p"
    Seq((3L, "staged"), (4L, "staged")).toDF("k", "v").write.parquet(staged)
    t.addFiles(staged)
    // the added files carry this commit's sequence number — the older
    // delete is scoped to earlier files and must NOT swallow the new k=3
    assert(t.toDF().count() == 4)
    assert(t.toDF().filter(col("k") === 3L).count() == 1)
    // registered, not copied
    assert(t.currentFiles().exists(_.path.startsWith(staged)))
    // schema mismatch refuses loudly
    val bad = java.nio.file.Files.createTempDirectory("graft_addf_bad").toString + "/p"
    Seq(Tuple1(9L)).toDF("k").write.parquet(bad)
    intercept[IllegalArgumentException](t.addFiles(bad))
  }

  test("write-time sort order: appends land range-separated and locally sorted (r9)") {
    val base = ordersDf.limit(2000)
    val t = GraftTable.createAs(spark, tmp(), base.limit(0))
    t.setSortOrder(Seq("o_orderkey"))
    t.setProperties(Map(TableFormat.TargetFileSize -> "16384"))
    // one UNSORTED append spanning the whole key range — no cluster() call
    t.append(base.repartition(4))
    // the empty-create seed file is 0-row residue with no stats — skip it
    val files = t.currentFiles().filter(_.recordCount > 0)
    assert(files.size > 1, s"target-file-size must split the append, got ${files.size}")
    // disjoint per-file key ranges (range distribution)
    val ranges = files.flatMap(f => f.stats.get("o_orderkey").flatMap(s =>
      for { mn <- s.min; mx <- s.max } yield (mn.toString.toLong, mx.toString.toLong)))
    assert(ranges.size == files.size, "every file must carry sort-key bounds")
    val sortedR = ranges.sortBy(_._1)
    sortedR.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges must be disjoint: $sortedR")
      case _ => ()
    }
    // locally sorted inside each file
    val one = spark.read.parquet(files.head.path)
      .select("o_orderkey").collect().map(_.getLong(0))
    assert(one.sameElements(one.sorted), "rows inside a file must follow the order")
    // the point of it all: pruning on the sort key, straight off the append
    assert(t.plannedFiles("o_orderkey <= 100").size < t.currentFiles().size)
    assert(t.toDF().count() == base.count())

    // evolution: a later order change affects NEW writes only
    t.setSortOrder(Seq("o_custkey"))
    val before = t.currentFiles().map(_.path).toSet
    t.append(base.withColumn("o_orderkey", col("o_orderkey") + 1000000).repartition(4))
    val newFiles = t.currentFiles().filterNot(f => before.contains(f.path))
      .filter(_.recordCount > 0)
    assert(t.currentFiles().map(_.path).toSet.intersect(before) == before,
      "old files keep their layout — the order change is metadata-only")
    val custRanges = newFiles.flatMap(f => f.stats.get("o_custkey").flatMap(s =>
      for { mn <- s.min; mx <- s.max } yield (mn.toString.toLong, mx.toString.toLong)))
      .sortBy(_._1)
    custRanges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"new files must range-separate on the NEW order: $custRanges")
      case _ => ()
    }
  }

  test("a table deleted and re-created at its location is never served the old metadata") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = tmp()
    def create(c: String): GraftTable = GraftTable.createEmpty(spark, dir,
      StructType(Seq(StructField(c, LongType))))
    assert(create("a").meta.schema.fieldNames.toSeq == Seq("a")) // cached
    val v1 = new java.io.File(MetaIO.metadataPath(dir, 1)) // a local path
    val (mtime, len) = (v1.lastModified, v1.length)
    MetaIO.delete(conf, dir)
    create("b")
    // the re-created first metadata file matches the cached entry's
    // (location, version, mtime, length) identity
    assert(v1.length == len, "same-length metadata: the case under test")
    assert(v1.setLastModified(mtime))
    assert(GraftTable.load(spark, dir).meta.schema.fieldNames.toSeq == Seq("b"))
  }
}
