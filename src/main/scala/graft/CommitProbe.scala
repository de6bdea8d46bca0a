package graft

import org.apache.spark.sql.functions._

/** Commit-primitive probe (a diagnostic main; Verify and Bench never run
  * it): times each GraftTable commit primitive and the two changelog
  * consumers (`IncrementalAggView.refresh`, `TableReplicator.sync`) — the
  * shared machinery under the t/mv families and the table-backed st gates
  * — printing each phase's [[Cost]] (the probe routes `file:` paths
  * through the counting file system, so its [[FsCalls]] are counted),
  * over `SPARK_GRAFT_BENCH_REPS` reps (default 3; rep 1 runs cold). The phase
  * split tells which primitive carries the per-commit fixed cost the hot
  * gates pay 3-10× each. Runs on `local[SPARK_GRAFT_CPUS]` (default: the
  * core count), like Bench.
  */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.props("spark.hadoop.fs.file.impl") = classOf[CountingLocalFileSystem].getName
    val spark = GraftSession.local()
    spark.read.parquet(s"$sfDir/region.parquet").count()

    def phase[A](rep: Int, name: String)(body: => A): A = {
      val (r, c) = Cost.of(spark)(body)
      println(f"[commitprobe] rep$rep $name%-22s $c")
      r
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .orderBy(col("o_orderkey")).limit(3000)
    orders.count() // warm the source plan

    for (rep <- 1 to reps) phase(rep, "TOTAL") {
      import graft.tables.{GraftTable, IncrementalAggView, TableReplicator}
      def tmp(p: String): String = TempDirs.create(p).toString + "/t"
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
    }
    spark.stop()
  }
}
