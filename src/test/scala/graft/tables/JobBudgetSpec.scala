package graft.tables

import graft.{Compiles, SparkSpec}
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pinned Spark job and compile budgets for the changelog consumers.
  * Counts, never times: on a fixed small fixture (and the suite's fixed
  * `local[4]` session) the number of jobs an operation launches, and the
  * generated classes it has to compile once its plan shapes have run, are
  * deterministic, so a change that adds a job, slides back to 32-task
  * stages over a few KB of changelog, or writes per-commit values into
  * generated code fails here however noisy the machine is.
  */
class JobBudgetSpec extends SparkSpec {
  import JobBudgetSpec.Cost

  private def tmp(): String = Files.createTempDirectory("graft_budget").toString + "/t"

  private def orders(n: Int): DataFrame =
    Tables.orders(spark, sf).orderBy(col("o_orderkey")).limit(n)

  private val jobs = new AtomicInteger
  private val tasks = new AtomicInteger
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Jobs and tasks `body` launches, every listener event delivered, and
    * the classes it compiles.
    */
  private def cost[A](body: => A): (A, Cost) = {
    listener
    Bridge.drainListenerBus(spark)
    val (j0, t0) = (jobs.get, tasks.get)
    val (r, c) = Compiles.during(body)
    Bridge.drainListenerBus(spark)
    (r, Cost(jobs.get - j0, tasks.get - t0, c.count))
  }

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
  private val RefreshJobs = 13
  private val RefreshTaskCeiling = 40
  private val SyncJobs = 8
  private val SyncTaskCeiling = 32

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
    // one replica commit for all four source commits
    assert(GraftTable.load(spark, f.replicaLoc).meta.snapshots.size == snaps0 + 1)
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
    assert(refresh.compiles == 0, s"refresh recompiled: $refresh")
    assert(sync.compiles == 0, s"sync recompiled: $sync")
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
    assert(sync.compiles == 0, s"sync recompiled: $sync")
  }
}

object JobBudgetSpec {
  private final case class Cost(jobs: Int, tasks: Int, compiles: Long)
}
