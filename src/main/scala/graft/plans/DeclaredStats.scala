package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, NamedExpression}
import org.apache.spark.sql.catalyst.optimizer.{CollapseProject, ColumnPruning, PushDownPredicates}
import org.apache.spark.sql.catalyst.plans.logical.{ColumnStat, Filter, LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.FilterEstimation
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.TimestampNTZType
import org.apache.spark.sql.graftbridge.Bridge

/** Table-metadata statistics served to Catalyst as NATIVE relation stats —
  * the signal Iceberg hands Spark via `SupportsReportStatistics`
  * (reference README.md "Metadata files": metadata serving the planner),
  * re-expressed for graft's composed read frames.
  *
  * A merge-on-read table's frame is a union/anti-join tree; Spark's
  * size-only estimator propagates JOIN sizes multiplicatively, so a
  * 10k-row table with one pending delete looks multi-GB and every join
  * against it falls back to sort-merge. This node sits at the top of the
  * frame and answers `stats` from the snapshot's own metadata instead:
  *
  *  - `sizeInBytes` = Σ live data-file bytes of the planned files (the
  *    same signal Spark's HadoopFsRelation serves for plain scans; a true
  *    upper bound — MoR deletes only shrink the live rows),
  *  - `rowCount`   = Σ planned-file record counts (footer-exact, upper
  *    bound under pending deletes),
  *  - per-column [[ColumnStat]]s keyed by LOGICAL name so schema renames
  *    don't detach them: NDV from the persisted ANALYZE sketches (t42),
  *    and min/max/nullCount aggregated LIVE from the planned files'
  *    footer stats (r9) — the same numbers the scan planner prunes with,
  *    so they exist without any ANALYZE and stay current under appends.
  *
  * With these, broadcast-vs-sort-merge flips on metadata truth
  * (JoinSelection compares `stats.sizeInBytes`), CBO join reorder
  * (`spark.sql.cbo.joinReorder.enabled`) sees the `rowCount` it requires
  * on every graft relation, and CBO filter estimation turns range/equality
  * predicates into real selectivities (interval overlap over min/max,
  * 1/NDV for equality; Spark requires NDV alongside bounds, so this arms
  * fully on ANALYZEd tables) instead of the size-only "filters are free"
  * guess — decisions Spark cannot make from file sizes it can't even see
  * behind the MoR frame.
  *
  * The node is planning-transparent: [[DeclaredStats.PushThrough]] swaps
  * deterministic Filter/Project inside it (so FileSourceStrategy still
  * sees them adjacent to the parquet relations → `PushedFilters` /
  * `ReadSchema` pruning is unchanged), and [[DeclaredStats.Planning]]
  * erases it at physical planning. Declared stats stay constant under a
  * pushed Filter (a sound upper bound, matching Spark's own size-only
  * Filter estimate) and scale by column width under a pushed Project.
  */
case class DeclaredStats(
    child: LogicalPlan,
    declaredSize: BigInt,
    declaredRows: Option[BigInt],
    colStatsByName: Map[String, ColumnStat],
    // Σ file record counts at attach time: a TRUE upper bound on emitted
    // rows, NEVER rescaled. declaredRows becomes an estimate once a
    // pushed filter discounts it — fine for cost decisions, but maxRows
    // feeds correctness-bearing rewrites (limit elimination), which must
    // only ever see the sound bound.
    boundRows: Option[BigInt]) extends UnaryNode {

  override def output: Seq[Attribute] = child.output

  override def maxRows: Option[Long] =
    boundRows.filter(_.isValidLong).map(_.toLong)
      .orElse(child.maxRows)

  override def stats: Statistics = {
    val colStats = output.flatMap(a =>
      colStatsByName.get(a.name).map(a -> _))
    Statistics(declaredSize.max(1), declaredRows, AttributeMap(colStats))
  }

  override protected def withNewChildInternal(newChild: LogicalPlan): DeclaredStats =
    copy(child = newChild)
}

object DeclaredStats {

  /** Moves deterministic Filter/Project THROUGH the stats node so that,
    * by planning time, they sit directly on the parquet relations where
    * FileSourceStrategy's `PhysicalOperation` collects them (pushed
    * filters, pruned read schema). Runs in the user-optimizer batch
    * together with Spark's own [[PushDownPredicates]]/[[ColumnPruning]]
    * (the batch is fixed-point, so a swapped-in Filter keeps sinking
    * through the MoR union/anti-join tree below).
    */
  object PushThrough extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
      case f @ Filter(cond, ds: DeclaredStats) if cond.deterministic =>
        // under CBO, rescale the declared stats by the filter's estimated
        // selectivity (Catalyst's own FilterEstimation over the declared
        // ColumnStats: interval overlap on min/max, 1/NDV equality) so the
        // discount SURVIVES the push-through and reaches join planning —
        // a selective filter on a big table broadcasts where the
        // unfiltered table wouldn't. Non-estimable predicates (or CBO
        // off) keep the stats as a sound upper bound, exactly Spark's
        // size-only behavior. FilterEstimation has no case for
        // timestamp_ntz (it throws MatchError on such a comparison), so a
        // condition touching one is not estimated at all.
        val rescaled =
          if (!conf.cboEnabled || cond.references.exists(_.dataType == TimestampNTZType)) None
          else FilterEstimation(f).estimate
        rescaled match {
          case Some(est) =>
            DeclaredStats(Filter(cond, ds.child), est.sizeInBytes,
              est.rowCount,
              est.attributeStats.map { case (a, c) => a.name -> c }.toMap,
              ds.boundRows)
          case None => ds.copy(child = Filter(cond, ds.child))
        }
      case Project(list, ds: DeclaredStats) if list.forall(_.deterministic) =>
        DeclaredStats(Project(list, ds.child),
          scaleByWidth(ds.declaredSize, ds.child.output, list),
          ds.declaredRows, ds.colStatsByName, ds.boundRows)
    }

    private def scaleByWidth(size: BigInt, in: Seq[Attribute],
        out: Seq[NamedExpression]): BigInt = {
      // mirror Spark's visitUnaryNode: row-size ratio with an 8-byte base
      val inW = in.map(_.dataType.defaultSize.toLong).sum + 8
      val outW = out.map(_.dataType.defaultSize.toLong).sum + 8
      if (inW <= 0) size else size * outW / inW
    }
  }

  /** Physical planning erases the node: its child plans as usual. */
  object Planning extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case DeclaredStats(child, _, _, _, _) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** Idempotently register the strategy + push-through rules on a live
    * session (`spark.experimental` — works on driver-built sessions, no
    * build-time extensions hook required).
    */
  def install(spark: SparkSession): Unit = synchronized {
    val em = spark.experimental
    if (!em.extraStrategies.contains(Planning))
      em.extraStrategies = em.extraStrategies :+ Planning
    if (!em.extraOptimizations.contains(PushThrough))
      em.extraOptimizations = em.extraOptimizations ++
        Seq(PushThrough, PushDownPredicates, ColumnPruning, CollapseProject)
  }

  /** Wrap `df` so Catalyst plans it under the declared statistics. */
  def attach(df: DataFrame, sizeBytes: Long, rows: Option[Long],
      colStatsByName: Map[String, ColumnStat]): DataFrame = {
    install(df.sparkSession)
    val r = rows.map(BigInt(_))
    Bridge.ofRows(df.sparkSession,
      DeclaredStats(Bridge.analyzed(df), BigInt(sizeBytes), r,
        colStatsByName, boundRows = r))
  }
}
