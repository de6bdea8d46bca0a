package graft.tables

import graft.{Bench, Cost, SparkSpec}
import graft.sources.{GraftSql, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pinned Spark job, compile and file-system call budgets for the commit
  * primitives, the changelog consumers and copy-on-write DML.
  * Counts, never times: on a fixed small fixture (and the suite's fixed
  * `local[4]` session) the number of jobs an operation launches, and the
  * generated classes it has to compile once its plan shapes have run, are
  * deterministic, so a change that adds a job, slides back to 32-task
  * stages over a few KB of changelog, or writes per-commit values into
  * generated code fails here however noisy the machine is.
  */
class JobBudgetSpec extends SparkSpec {
  private def tmp(): String = Files.createTempDirectory("graft_budget").toString + "/t"

  private def orders(n: Int): DataFrame =
    Tables.orders(spark, sf).orderBy(col("o_orderkey")).limit(n)

  private def cost[A](body: => A): (A, Cost) = Cost.of(spark)(body)

  // File-system calls per operation, as `FsCalls.toString` (the suite's
  // core-site.xml routes file: paths through the counting file system).
  private val FsPins: Map[String, String] = Map(
    "append" -> "create=4 mkdirs=4 rename=0 delete=1 list=1 getFileStatus=21 setPermission=0",
    "upsert" -> "create=5 mkdirs=5 rename=0 delete=1 list=1 getFileStatus=24 setPermission=0",
    "merge" -> "create=5 mkdirs=5 rename=0 delete=1 list=2 getFileStatus=30 setPermission=0",
    "refresh" -> "create=5 mkdirs=5 rename=0 delete=1 list=18 getFileStatus=155 setPermission=0",
    "sync" -> "create=5 mkdirs=5 rename=0 delete=1 list=15 getFileStatus=110 setPermission=0",
    "sql DELETE" -> "create=6 mkdirs=6 rename=0 delete=1 list=6 getFileStatus=54 setPermission=0",
    "sql MERGE SET * INSERT *" ->
      "create=5 mkdirs=5 rename=0 delete=1 list=8 getFileStatus=90 setPermission=0")

  private def assertFsPin(name: String, c: Cost): Unit =
    assert(c.fs.toString == FsPins(name), s"$name file-system calls moved: ${c.fs}")

  /** A fixture whose refresh and sync have run every plan shape of a
    * steady cycle. Each of the first three cycles meets shapes for the
    * first time (the first has no upsert to materialize; the third's
    * refresh still compiled two classes, for a broadcast anti-join it
    * plans for the first time); later cycles repeat them.
    */
  private def warmFixture(): Fixture = {
    val f = new Fixture
    for (_ <- 1 to 3) {
      f.cycle(); f.view.refresh(); TableReplicator.sync(spark, f.replicaLoc)
    }
    f
  }

  /** Source with a 3-group view and a replica; each `cycle` appends,
    * deletes copy-on-write and upserts merge-on-read on the source.
    */
  private final class Fixture {
    val base: GraftTable = GraftTable.createAs(spark, tmp(), orders(400))
    val view: IncrementalAggView = IncrementalAggView.create(spark, tmp(), base,
      Seq("o_orderstatus"), Seq("o_totalprice"))
    val replicaLoc: String = tmp()
    TableReplicator.create(spark, replicaLoc, base, Seq("o_orderkey"))
    private var round = 0

    def cycle(): Unit = {
      round += 1
      base.append(orders(60)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L * round))
      base.delete(s"o_orderkey % 11 = ${round % 11}")
      base.upsertMergeOnRead(orders(20 * round)
        .withColumn("o_totalprice", lit(round + 0.25)), Seq("o_orderkey"))
      ()
    }
  }

  // Pins, measured on this fixture. A change that moves one must say why.
  private val RefreshJobs = 6
  private val RefreshTaskCeiling = 24
  private val SyncJobs = 4
  private val SyncTaskCeiling = 20

  test("refresh and sync stay within their pinned job and task budgets") {
    val f = new Fixture
    // one untimed cycle first: fixture-level one-time work (stats
    // strategy install, first-read caches) stays out of the counts
    f.cycle(); f.view.refresh(); TableReplicator.sync(spark, f.replicaLoc)
    f.cycle()
    val (_, refresh) = cost(f.view.refresh())
    val snaps0 = GraftTable.load(spark, f.replicaLoc).meta.snapshots.size
    val (applied, sync) = cost(TableReplicator.sync(spark, f.replicaLoc))
    info(s"refresh: $refresh, sync: $sync")
    // the CoW delete materializes the previous upsert's equality delete
    // first: four source commits (rewrite-deletes, delete, append, upsert)
    assert(applied == 4)
    assert(refresh.jobs == RefreshJobs, s"refresh job count moved: $refresh")
    assert(refresh.tasks <= RefreshTaskCeiling,
      s"refresh of a 3-group view ran $refresh; 32-task stages are back?")
    assert(sync.jobs == SyncJobs, s"sync job count moved: $sync")
    assert(sync.tasks <= SyncTaskCeiling, s"sync ran $sync")
    assertFsPin("refresh", refresh)
    assertFsPin("sync", sync)
    // one replica commit for all four source commits
    assert(GraftTable.load(spark, f.replicaLoc).meta.snapshots.size == snaps0 + 1)
  }

  // Commit primitives on the same fixture: the append is one write job;
  // each merge writes its data and delete-key files in one job after the
  // shuffle that co-locates equal keys. One task a job.
  private val AppendJobs = 1
  private val AppendTaskCeiling = 1
  private val UpsertJobs = 2
  private val UpsertTaskCeiling = 2
  private val MergeJobs = 2
  private val MergeTaskCeiling = 2

  test("append, upsert and a CDC merge stay within their pinned job and task budgets") {
    val f = new Fixture
    f.cycle(); f.view.refresh(); TableReplicator.sync(spark, f.replicaLoc)
    f.cycle()
    val (_, append) = cost(f.base.append(orders(60)
      .withColumn("o_orderkey", col("o_orderkey") + 7000000L)))
    val (_, upsert) = cost(f.base.upsertMergeOnRead(orders(40)
      .withColumn("o_totalprice", lit(7.25)), Seq("o_orderkey")))
    val (_, merge) = cost(f.base.mergeBatch(
      orders(20).withColumn("o_totalprice", lit(8.25)),
      Some(orders(60).filter(col("o_orderkey") % 3 === 0)
        .select((col("o_orderkey") + 7000000L).as("o_orderkey"))),
      Seq("o_orderkey")))
    info(s"append: $append, upsert: $upsert, merge: $merge")
    assert(append.jobs == AppendJobs, s"append job count moved: $append")
    assert(append.tasks <= AppendTaskCeiling, s"append ran $append")
    assert(upsert.jobs == UpsertJobs, s"upsert job count moved: $upsert")
    assert(upsert.tasks <= UpsertTaskCeiling, s"upsert ran $upsert")
    assert(merge.jobs == MergeJobs, s"merge job count moved: $merge")
    assert(merge.tasks <= MergeTaskCeiling, s"merge ran $merge")
    assertFsPin("append", append)
    assertFsPin("upsert", upsert)
    assertFsPin("merge", merge)
  }

  /** A three-file table (one create, two appends) registered in a fresh
    * [[GraftSql]] as `dml`, with a 600-row `src` table beside it whose
    * keys cover the first 400 of the target's and 200 more.
    */
  private def dmlTables(): (GraftTable, GraftSql) = {
    val t = GraftTable.createAs(spark, tmp(), orders(400))
    for (i <- 1 to 2) t.append(orders(60)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L * i))
    val g = new GraftSql(spark, Files.createTempDirectory("graft_budget_sql").toString)
    g.register("dml", t.location)
    g.register("src", GraftTable.createAs(spark, tmp(), orders(600)).location)
    (t, g)
  }

  // Copy-on-write DML and maintenance on `dmlTables`, through the table
  // API and through GraftSql: name -> (jobs, task ceiling). Each rewrite
  // runs its touched-files job, then its data write.
  private val DmlPins: Map[String, (Int, Int)] = Map(
    "delete" -> (3, 7),
    "update" -> (3, 7),
    "mergeInto" -> (7, 13),
    "sql DELETE" -> (3, 7),
    "sql MERGE SET * INSERT *" -> (7, 12),
    "sql MERGE clause list" -> (14, 28),
    "materializeDeletes" -> (5, 5),
    "compact" -> (2, 4))

  private def sqlMerge(g: GraftSql, whenClauses: String): Unit = {
    g.sql(s"MERGE INTO dml AS t USING (SELECT * FROM src) AS s " +
      s"ON t.o_orderkey = s.o_orderkey $whenClauses")
    ()
  }

  // name, untimed preparation, timed operation
  private val dmlOps: Seq[(String, GraftTable => Any, (GraftTable, GraftSql) => Any)] = Seq(
    ("delete", _ => (), (t, _) => t.delete("o_orderkey % 7 = 3")),
    ("update", _ => (), (t, _) =>
      t.update("o_orderkey % 7 = 4", Map("o_orderpriority" -> "'UPD'"))),
    ("mergeInto", _ => (), (t, _) => t.mergeInto(
      orders(40).withColumn("o_orderpriority", lit("M"))
        .unionAll(orders(20).withColumn("o_orderkey", col("o_orderkey") + 5000000L)),
      Seq("o_orderkey"))),
    ("sql DELETE", _ => (), (_, g) => g.sql("DELETE FROM dml WHERE o_orderkey % 7 = 3")),
    ("sql MERGE SET * INSERT *", _ => (), (_, g) => sqlMerge(g,
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")),
    // the t39 gate's clause list
    ("sql MERGE clause list", _ => (), (_, g) => sqlMerge(g,
      """WHEN MATCHED AND s.o_orderkey % 2 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET o_orderpriority = 'UPD'
        |WHEN NOT MATCHED AND s.o_orderkey % 5 = 0 THEN INSERT *""".stripMargin)),
    ("materializeDeletes",
      t => t.upsertMergeOnRead(orders(30).withColumn("o_totalprice", lit(2.5)),
        Seq("o_orderkey")),
      (t, _) => t.materializeDeletes()),
    ("compact", _ => (), (t, _) => t.compact()))

  test("copy-on-write DML, SQL MERGE and DELETE, and maintenance stay within their pinned budgets") {
    val costs = dmlOps.map { case (name, prep, op) =>
      // a first run on tables of its own keeps one-time work out of the count
      for (_ <- 1 to 2) yield {
        val (t, g) = dmlTables()
        prep(t)
        cost(op(t, g))._2
      }
    }.map(_.last)
    val named = dmlOps.map(_._1).zip(costs)
    info(named.map { case (n, c) => s"$n: $c" }.mkString(", "))
    named.foreach { case (name, c) =>
      val (jobs, taskCeiling) = DmlPins(name)
      assert(c.jobs == jobs, s"$name job count moved: $c")
      assert(c.tasks <= taskCeiling, s"$name ran $c")
      if (FsPins.contains(name)) assertFsPin(name, c)
    }
  }

  // A table create and three hot table gates, each gate run as Bench
  // times it (its frame built and its hash consumed): name -> (jobs, task
  // ceiling), on the second of two runs.
  private val GatePins: Map[String, (Int, Int)] = Map(
    "createAs" -> (1, 1),
    "t37_replicate" -> (16, 26),
    "t43_cdc_schema_evolution" -> (19, 25),
    "mv01_incremental_agg" -> (28, 45))

  test("createAs and the t37, t43 and mv01 gates stay within their pinned job and task budgets") {
    def second(c: => Cost): Cost = { c; c }
    val create = second(cost(GraftTable.createAs(spark, tmp(), orders(400)))._2)
    val gates = GatePins.keySet - "createAs"
    val named = ("createAs" -> create) +:
      gates.toSeq.sorted.map(g => g -> second(Bench.timeGate(spark, sf, g)._1.cost))
    info(named.map { case (n, c) => s"$n: $c" }.mkString(", "))
    named.foreach { case (name, c) =>
      val (jobs, taskCeiling) = GatePins(name)
      assert(c.jobs == jobs, s"$name job count moved: $c")
      assert(c.tasks <= taskCeiling, s"$name ran $c")
    }
  }

  test("a sync over N source commits adds exactly one replica snapshot") {
    val f = new Fixture
    for (n <- Seq(1, 3, 6)) {
      (1 to n).foreach(i => f.base.append(orders(5)
        .withColumn("o_orderkey", col("o_orderkey") + 5000000L * n + 10000L * i)))
      val snaps0 = GraftTable.load(spark, f.replicaLoc).meta.snapshots.size
      assert(TableReplicator.sync(spark, f.replicaLoc) == n)
      assert(GraftTable.load(spark, f.replicaLoc).meta.snapshots.size == snaps0 + 1,
        s"sync over $n commits")
    }
    val (src, rep) = (f.base.toDF(), GraftTable.load(spark, f.replicaLoc).toDF())
    assert(src.exceptAll(rep).isEmpty && rep.exceptAll(src).isEmpty)
  }

  test("a warm same-shape refresh and sync compile no generated code") {
    val f = warmFixture()
    f.cycle()
    val (_, refresh) = cost(f.view.refresh())
    val (_, sync) = cost(TableReplicator.sync(spark, f.replicaLoc))
    info(s"refresh: $refresh, sync: $sync")
    assert(refresh.compiles.count == 0, s"refresh recompiled: $refresh")
    assert(sync.compiles.count == 0, s"sync recompiled: $sync")
  }

  test("a warm refresh whose range holds a compaction compiles no generated code") {
    val f = warmFixture()
    // maintenance commits carry no rows: they add no changelog branch, so
    // the range plans like a warm cycle's
    f.base.compact()
    f.cycle()
    val (_, refresh) = cost(f.view.refresh())
    info(s"refresh: $refresh")
    assert(refresh.compiles.count == 0, s"refresh recompiled: $refresh")
  }

  test("a warmed target-size append compiles no generated code on its session clone") {
    val t = GraftTable.createAs(spark, tmp(), orders(100))
    t.setProperties(Map(TableFormat.TargetFileSize -> "16384"))
    def batch(i: Int): DataFrame =
      orders(60).withColumn("o_orderkey", col("o_orderkey") + 1000000L * i)
    // each target-size write plans on a fresh clone of the session
    t.append(batch(1))
    val (_, append) = cost(t.append(batch(2)))
    info(s"target-size append: $append")
    assert(append.compiles.count == 0, s"target-size append recompiled: $append")
  }

  test("a sync over the same commit kinds at shifted ordinals compiles no generated code") {
    val f = warmFixture()
    // a compaction ahead of the cycle moves each data commit one ordinal
    // (and every commit has a new snapshot id)
    f.base.compact()
    f.cycle()
    f.view.refresh()
    val (applied, sync) = cost(TableReplicator.sync(spark, f.replicaLoc))
    info(s"sync: $sync")
    assert(applied == 5)
    assert(sync.compiles.count == 0, s"sync recompiled: $sync")
  }
}
