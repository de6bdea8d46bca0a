package graft.tables

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pinned Spark job budgets for the changelog consumers. Counts, never
  * times: on a fixed small fixture (and the suite's fixed `local[4]`
  * session) the number of jobs an operation launches is deterministic, so
  * a change that adds a job — or slides back to 32-task stages over a few
  * KB of changelog — fails here however noisy the machine is.
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

  /** Jobs and tasks `body` launches, every listener event delivered. */
  private def cost[A](body: => A): (A, Cost) = {
    listener
    Bridge.drainListenerBus(spark)
    val (j0, t0) = (jobs.get, tasks.get)
    val r = body
    Bridge.drainListenerBus(spark)
    (r, Cost(jobs.get - j0, tasks.get - t0))
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
}

object JobBudgetSpec {
  private final case class Cost(jobs: Int, tasks: Int)
}
