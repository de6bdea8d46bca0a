package graft.plans

import graft.SparkSpec
import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Catalyst sees graft-table metadata as NATIVE relation statistics:
  * broadcast decisions flip on snapshot truth, filters/columns still reach
  * the parquet scans through the stats node, and CBO join reorder plans
  * against metadata row counts + persisted NDV.
  */
class DeclaredStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_stats").toString + "/t"
  private def ordersDf = spark.read.parquet(s"$sf/orders.parquet")
  private def lineitemDf = spark.read.parquet(s"$sf/lineitem.parquet")

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("snapshot metadata serves optimizer stats: rowCount, size, NDV") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(500))
      .analyze(Seq("o_custkey"))
    val stats = t.toDF().queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(500)),
      s"metadata row count must reach the optimizer, got ${stats.rowCount}")
    assert(stats.sizeInBytes == BigInt(t.liveDataBytes()),
      "sizeInBytes must be the snapshot's live data-file bytes")
    val ndv = stats.attributeStats.find(_._1.name == "o_custkey")
      .flatMap(_._2.distinctCount)
    val exact = t.toDF().select("o_custkey").distinct().count()
    assert(ndv.contains(BigInt(exact)),
      s"persisted NDV must reach the optimizer as a ColumnStat, got $ndv vs $exact")
  }

  test("MoR frame flips to broadcast on metadata size, SMJ when it doesn't fit") {
    val nRows = ordersDf.limit(2000).count()
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(2000))
    // pending equality delete: the read frame is now a scan + anti-join,
    // whose size-only estimate (a join PRODUCT) dwarfs any threshold
    t.deleteMergeOnReadEquality(
      ordersDf.limit(5).select($"o_orderkey"), Seq("o_orderkey"))
    val frame = GraftTable.load(spark, t.location).toDF()
    def innerJoins(df: DataFrame) = df.queryExecution.sparkPlan.collect {
      case j: BroadcastHashJoinExec if j.joinType == Inner => "broadcast"
      case j: SortMergeJoinExec if j.joinType == Inner => "smj"
      case j: ShuffledHashJoinExec if j.joinType == Inner => "shuffled"
    }
    val joined = lineitemDf.join(frame, $"l_orderkey" === $"o_orderkey")
    assert(innerJoins(joined) == Seq("broadcast"),
      s"metadata-small MoR frame must broadcast, got ${innerJoins(joined)}")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1024") {
      val again = lineitemDf.join(GraftTable.load(spark, t.location).toDF(),
        $"l_orderkey" === $"o_orderkey")
      assert(!innerJoins(again).contains("broadcast"),
        s"over-threshold table must NOT broadcast, got ${innerJoins(again)}")
    }
    // semantics unchanged by the planner node
    assert(frame.count() == nRows - 5)
  }

  test("filters and column pruning pass through the stats node to the scan") {
    val t = GraftTable.createAs(spark, tmp(), ordersDf.limit(2000))
    t.deleteMergeOnReadEquality(
      ordersDf.limit(3).select($"o_orderkey"), Seq("o_orderkey"))
    val df = GraftTable.load(spark, t.location).toDF()
      .filter($"o_totalprice" > 1000.0)
      .select("o_orderkey", "o_totalprice")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"),
      s"filter must reach the parquet scan through the stats node:\n$plan")
    assert(!plan.contains("o_comment"),
      "unreferenced wide column must be pruned from the read schema")
  }

  test("footer min/max/nullCount reach the optimizer as ColumnStats — no ANALYZE") {
    val t = GraftTable.createAs(spark, tmp(),
      spark.range(1000).select($"id", ($"id" % 10).cast("int").as("bucket")))
    val stats = t.toDF().queryExecution.optimizedPlan.stats
    val byName = stats.attributeStats.map { case (a, cs) => a.name -> cs }
    val idStat = byName("id")
    assert(idStat.min.contains(0L) && idStat.max.contains(999L),
      s"live footer bounds must serve as ColumnStat min/max, got $idStat")
    assert(idStat.nullCount.contains(BigInt(0)))
    val bucketStat = byName("bucket")
    assert(bucketStat.min.contains(0) && bucketStat.max.contains(9),
      s"int column bounds must convert to Catalyst Int values, got $bucketStat")
  }

  test("CBO filter estimation runs on live bounds: range selectivity, not size-only") {
    // ANALYZE supplies the NDV FilterEstimation requires alongside the
    // footer min/max (same contract as Spark catalog stats + CBO)
    val t = GraftTable.createAs(spark, tmp(),
      spark.range(10000).select($"id", ($"id" * 2).as("v")))
      .analyze(Seq("id", "v"))
    def estimatedRows(df: DataFrame): Option[BigInt] =
      df.queryExecution.optimizedPlan.stats.rowCount
    // quarter-range predicate: interval overlap must discount the
    // estimate to ~25% (size-only estimation would keep all 10k rows)
    val quarter = estimatedRows(t.toDF().filter($"id" < 2500))
    assert(quarter.exists(n => n > 1000 && n < 5000),
      s"range selectivity must reflect min/max, estimated $quarter of 10000")
    // out-of-range predicate: estimate collapses to ~0
    val none = estimatedRows(t.toDF().filter($"id" > 1000000))
    assert(none.exists(_ < 100), s"out-of-range filter must estimate ~0, got $none")
    // the estimate is planning-only: results are exact either way
    assert(t.toDF().filter($"id" < 2500).count() == 2500)
  }

  test("filters on a timestamp_ntz column plan under CBO: SQL WHERE and DataFrame") {
    import graft.sources.GraftSql
    // FilterEstimation has no timestamp_ntz case (MatchError under CBO);
    // such a filter must plan with the stats kept as the sound upper bound
    val loc = tmp()
    val t = GraftTable.createAs(spark, loc, spark.range(100).select($"id",
      (lit("2024-01-01 00:00:00").cast("timestamp_ntz") +
        expr("make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)")).as("ts")))
    val g = new GraftSql(spark, Files.createTempDirectory("graft_ntz").toString)
    g.register("ev", loc)
    val lo = "TIMESTAMP_NTZ '2024-01-01 10:00:00'"
    val hi = "TIMESTAMP_NTZ '2024-01-01 19:00:00'"
    def checkBoth(): Unit = {
      assert(g.sql(s"SELECT COUNT(*) AS n FROM ev WHERE ts BETWEEN $lo AND $hi")
        .head().getLong(0) == 10)
      val filtered = GraftTable.load(spark, loc).toDF()
        .filter($"ts" >= expr(lo) && $"ts" <= expr(hi))
      assert(filtered.count() == 10)
      assert(filtered.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(100)),
        "an unestimated filter keeps the declared row count as its bound")
    }
    checkBoth() // footer min/max only
    t.analyze(Seq("id", "ts"))
    checkBoth() // with persisted NDV too
  }

  test("CBO join reorder is observable on a 3-table facade query") {
    import graft.sources.GraftSql
    // fact(10k rows), mid(2k rows), tiny(10 rows) — but only 2 of the 10
    // fact.k2 values exist in tiny, so fact⋈tiny (2k rows) beats the
    // syntactic fact⋈mid (10k rows) as the first join
    val wh = Files.createTempDirectory("graft_cbo").toString
    val fact = GraftTable.createAs(spark, s"$wh/fact",
      spark.range(10000).select($"id" % 2000 as "k1", $"id" % 10 as "k2",
        $"id" as "payload")).analyze(Seq("k1", "k2"))
    val mid = GraftTable.createAs(spark, s"$wh/mid",
      spark.range(2000).select($"id" as "k", lit("m") as "mv"))
      .analyze(Seq("k"))
    val tiny = GraftTable.createAs(spark, s"$wh/tiny",
      spark.range(2).select($"id" as "k", lit("t") as "tv"))
      .analyze(Seq("k"))
    val g = new GraftSql(spark, wh)
    g.register("fact", fact.location)
    g.register("mid", mid.location)
    g.register("tiny", tiny.location)
    val q = """SELECT count(*) AS n FROM fact
               JOIN mid ON fact.k1 = mid.k
               JOIN tiny ON fact.k2 = tiny.k"""
    // the bottom-most join's equi-condition names which dim joined first:
    // {k1, k} = mid, {k2, k} = tiny (count(*) prunes all other columns)
    def bottomJoinKeys(plan: LogicalPlan): Set[String] = {
      val bottom = plan.collect {
        case j: Join if j.joinType == Inner &&
          j.children.forall(c => c.collect { case jj: Join => jj }.isEmpty) => j
      }
      assert(bottom.nonEmpty, s"no leaf-level join in:\n$plan")
      bottom.head.condition.toSeq.flatMap(_.references.map(_.name)).toSet
    }
    // CBO + join reorder are graft session defaults (GraftSession.tune)
    val reordered = bottomJoinKeys(g.sql(q).queryExecution.optimizedPlan)
    assert(reordered.contains("k2"),
      s"CBO must join the selective tiny dim first, joined on $reordered first")
    assert(g.sql(q).head().getLong(0) == 2000L)
    // without CBO the syntactic order survives — the reorder above was
    // a stats-driven decision, not an accident of the query shape
    withConf("spark.sql.cbo.enabled" -> "false",
        "spark.sql.cbo.joinReorder.enabled" -> "false") {
      val syntactic = bottomJoinKeys(g.sql(q).queryExecution.optimizedPlan)
      assert(syntactic.contains("k1"),
        s"without CBO the written order must hold, joined on $syntactic first")
    }
  }
}
