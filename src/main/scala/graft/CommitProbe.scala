package graft

import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.Bridge

/** Commit-primitive probe (a diagnostic main; Verify and Bench never run
  * it): times each GraftTable commit primitive and the two changelog
  * consumers (`IncrementalAggView.refresh`, `TableReplicator.sync`) — the
  * shared machinery under the t/mv families and the table-backed st gates
  * — with per-phase wall, Spark job and task counts and the generated
  * classes each phase compiled ([[Compiles]]) and the file-system calls
  * it made ([[FsCalls]]; the probe routes `file:` paths through the
  * counting file system), over
  * `SPARK_GRAFT_PROBE_REPS` reps (default 3; rep 1 runs cold). The phase
  * split tells which primitive carries the per-commit fixed cost the hot
  * gates pay 3-10× each. Runs on `local[SPARK_GRAFT_CPUS]` (default: the
  * core count), like Bench.
  */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.props("spark.hadoop.fs.file.impl") = classOf[CountingLocalFileSystem].getName
    val spark = GraftSession.harness()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    @volatile var jobs = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        if (sys.env.contains("SPARK_GRAFT_PROF_JOBS")) {
          val cs = js.stageInfos.lastOption.map(_.name).getOrElse("?")
          println(s"[probejob] stages=${js.stageInfos.size} $cs")
        }
        ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = tasks += 1
    })
    def phase[A](rep: Int, name: String)(body: => A): A = {
      Bridge.drainListenerBus(spark)
      val (j0, k0) = (jobs, tasks)
      val t0 = System.nanoTime()
      val ((r, c), fs) = FsCalls.during(Compiles.during(body))
      val sec = (System.nanoTime() - t0) / 1e9
      // the bus is async: deliver the phase's events before counting them
      Bridge.drainListenerBus(spark)
      println(f"[commitprobe] rep$rep $name%-22s $sec%7.3f s  jobs=${jobs - j0}  " +
        f"tasks=${tasks - k0}  compiles=${c.count}  compileMs=${c.ms}%.0f  fs: $fs")
      r
    }

    // floor probes: what a minimal job / tiny read / tiny write costs on
    // this box — the irreducible unit the per-commit job counts multiply
    if (sys.env.contains("SPARK_GRAFT_PROBE_FLOOR")) {
      val floorDir = TempDirs.create("graft_probe_floor").toString
      spark.range(1000).count()
      for (rep <- 1 to 3) {
        phase(rep, "range.count")(spark.range(1000).count())
        phase(rep, "range.write") {
          spark.range(1000).coalesce(1).write.mode("overwrite")
            .parquet(s"$floorDir/w$rep")
        }
        phase(rep, "tiny.read.count")(spark.read.parquet(s"$floorDir/w$rep").count())
        phase(rep, "tiny.read.agg") {
          spark.read.parquet(s"$floorDir/w$rep")
            .groupBy(col("id") % 3).count().count()
        }
        phase(rep, "range1.count")(spark.range(0, 1000, 1, 1).count())
        phase(rep, "agg.sp1") {
          GraftSession.withExecConfs(spark,
            Map("spark.sql.shuffle.partitions" -> "1",
              "spark.sql.adaptive.enabled" -> "false")) {
            spark.read.parquet(s"$floorDir/w$rep")
              .groupBy(col("id") % 3).count().count()
          }
        }
        phase(rep, "noop.empty") {
          spark.range(0, 1, 1, 1).filter(col("id") < 0).count()
        }
      }
      spark.stop(); return
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .orderBy(col("o_orderkey")).limit(3000)
    orders.count() // warm the source plan

    for (rep <- 1 to reps) {
      import graft.tables.{GraftTable, IncrementalAggView, TableReplicator}
      def tmp(p: String): String = TempDirs.create(p).toString + "/t"
      val t0all = System.nanoTime()
      val base = phase(rep, "createAs(3000)") {
        GraftTable.createAs(spark, tmp("graft_probe_b"), orders)
      }
      val view = phase(rep, "mvCreate") {
        IncrementalAggView.create(spark, tmp("graft_probe_v"), base,
          Seq("o_orderstatus"), Seq("o_totalprice"))
      }
      val replica = tmp("graft_probe_r")
      phase(rep, "replicaCreate") {
        TableReplicator.create(spark, replica, base, Seq("o_orderkey"))
      }
      phase(rep, "append(500)") {
        base.append(orders.limit(500)
          .withColumn("o_orderkey", col("o_orderkey") + 900000000L))
      }
      phase(rep, "refresh(append)") { view.refresh() }
      phase(rep, "delete(cow)") { base.delete("o_orderkey % 7 = 0") }
      phase(rep, "refresh(delete)") { view.refresh() }
      phase(rep, "upsertMor(200)") {
        base.upsertMergeOnRead(orders.limit(200)
          .withColumn("o_totalprice", lit(1111.5)), Seq("o_orderkey"))
      }
      phase(rep, "refresh(upsert)") { view.refresh() }
      // one sync over the three source commits above
      phase(rep, "sync(3 commits)") { TableReplicator.sync(spark, replica) }
      phase(rep, "finalRead") { view.toDF().collect() }
      println(f"[commitprobe] rep$rep TOTAL ${(System.nanoTime() - t0all) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
