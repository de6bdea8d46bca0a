package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TaskWrite
import org.apache.spark.sql.types.DecimalType

/** Incremental materialized-view maintenance over a [[GraftTable]]: a
  * grouped COUNT(*) + SUM(measure…) aggregate kept up to date from the
  * base table's row-level changelog ([[GraftTable.changesBetween]])
  * instead of recomputation — the Iceberg-plus-Flink "incremental refresh"
  * pattern (the reference's engines get this from a streaming runtime; the
  * capability re-expressed here is batch-incremental).
  *
  * Refresh cost is O(changed rows + touched groups), never O(base table):
  * the changelog delta aggregates to per-group (count, sum) adjustments
  * with sign +1 for 'insert' rows and -1 for 'delete' rows; the current
  * values of the touched groups join in through one outer join from the
  * delta to the view; groups whose count reaches zero are deleted. The apply is ONE Spark action and ONE
  * merge-on-read commit whose equality delete covers both replaced and
  * vanished groups, and the progress cursor (`graft.mv.base-snapshot`)
  * rides the same metadata version — refresh is exactly-once by construction: either the
  * delta and the cursor both land or neither does.
  *
  * Measures are summed as DECIMAL(28,6) of the source column: decimal
  * addition is associative, so incremental accumulation is bit-identical
  * to a full recompute regardless of commit order — a float sum would
  * drift. A group whose rows all carry NULL measures sums to 0, not NULL
  * (the count column is the NULL-discriminating signal).
  *
  * 100 TB posture: the view is an aggregate, orders of magnitude smaller
  * than the base, and each refresh reads it once. The changelog side
  * reads only the files each commit added/removed (manifest diff), never
  * the base table.
  */
final class IncrementalAggView private (
    val spark: SparkSession, val table: GraftTable) {

  import IncrementalAggView._

  private def props: Map[String, String] = table.meta.properties

  def groupCols: Seq[String] = props(GroupColsProp).split(",").toSeq
  def sumCols: Seq[String] =
    props(SumColsProp).split(",").toSeq.filter(_.nonEmpty)
  def baseLocation: String = props(BaseLocProp)
  def baseSnapshot: Long = props(BaseSnapProp).toLong
  /** Optional row predicate (SQL over base columns) the view maintains
    * under. The changelog delta filters insert and delete rows
    * IDENTICALLY, so a row UPDATEd into (out of) the predicate set is a
    * bare +1 (−1) adjustment — incremental maintenance stays exact.
    */
  def filterSql: Option[String] = props.get(FilterProp).filter(_.nonEmpty)

  def toDF(): DataFrame = table.toDF()

  /** Replay base-table schema evolution since the last refresh onto the
    * view: a renamed group/measure column renames the matching view column
    * and the tracked column lists (one [[GraftTable.evolveSchema]] commit
    * carrying them + the schema cursor); a widened group column widens the
    * view's; a DROPPED group or measure column refuses loudly — the view's
    * grouping identity (or a sum whose source vanished) cannot be
    * maintained, recreate the view. Renames/drops/adds of columns the view
    * doesn't track are no-ops. Must run BEFORE the changelog read:
    * [[GraftTable.changesBetween]] emits the base's CURRENT names.
    */
  private def reconcileSchema(base: GraftTable): Unit = {
    val bm = base.meta
    val lastId = props.get(BaseSchemaProp).map(_.toInt).getOrElse(bm.currentSchemaId)
    if (lastId == bm.currentSchemaId) {
      if (props.get(BaseSchemaProp).isEmpty)
        { table.setProperties(Map(BaseSchemaProp -> lastId.toString)); () }
      return
    }
    val gcols = groupCols
    val scols = sumCols
    val filterAttrs: Set[String] = filterSql.toSeq.flatMap { f =>
      spark.sessionState.sqlParser.parseExpression(f).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }
    }.toSet
    val ops = SchemaDiff.diff(bm.schemaAt(lastId), bm.schema)
    ops.foreach {
      case SchemaOp.Drop(c)
          if gcols.contains(c) || scols.contains(c) || filterAttrs.contains(c) =>
        throw new IllegalStateException(
          s"base table dropped column '$c' that the view groups, sums, or " +
            "filters by; the aggregate cannot be maintained — recreate the view")
      case _ => ()
    }
    val renames = ops.collect { case SchemaOp.Rename(f, t) => f -> t }.toMap
    // a renamed filter column rewrites the stored predicate (parse →
    // rename attributes → regenerate), so the filter keeps matching the
    // changelog's CURRENT column names
    val newFilter = filterSql.map { f =>
      if (renames.keySet.intersect(filterAttrs).isEmpty) f
      else spark.sessionState.sqlParser.parseExpression(f).transform {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 && renames.contains(a.name) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(renames(a.name)))
      }.sql
    }
    val viewOps = ops.flatMap {
      case SchemaOp.Rename(f, t) if gcols.contains(f) =>
        Some(SchemaOp.Rename(f, t))
      case SchemaOp.Rename(f, t) if scols.contains(f) =>
        Some(SchemaOp.Rename(sumCol(f), sumCol(t)))
      case SchemaOp.Widen(f, to) if gcols.contains(f) =>
        Some(SchemaOp.Widen(f, to))
      // measure widens are absorbed (sums accumulate as DECIMAL anyway);
      // everything else doesn't touch the view's columns
      case _ => None
    }
    if (viewOps.exists(!_.isInstanceOf[SchemaOp.Add])) { table.materializeDeletes(); () }
    table.evolveSchema(viewOps, extraProperties = Map(
      BaseSchemaProp -> bm.currentSchemaId.toString,
      GroupColsProp -> gcols.map(c => renames.getOrElse(c, c)).mkString(","),
      SumColsProp -> scols.map(c => renames.getOrElse(c, c)).mkString(",")) ++
      newFilter.map(FilterProp -> _))
    ()
  }

  /** Fold the base table's commits since the last refresh into the view.
    * Returns the number of changelog rows processed (0 = already current,
    * no data commit made). The delta aggregate, the touched view groups
    * and the apply run as ONE Spark action that writes the new group rows
    * and the delete keys together and reports the changelog row count
    * ([[GraftTable.applyBatch]]); nothing is cached or probed first. A
    * range of maintenance commits only advances the cursor, no job run.
    * If the cursor's snapshot has EXPIRED off the base table (or a
    * rollback moved the head off its ancestry), the changelog is
    * unreachable — refresh self-heals with a FULL recompute instead of
    * failing forever: the recompute is idempotent, so the overwrite +
    * cursor (one atomic commit) is safe even if a crash forces a redo.
    */
  def refresh(): Long = {
    val base = GraftTable.load(spark, baseLocation)
    reconcileSchema(base)
    val bm = base.meta
    val cur = bm.currentSnapshotId
      .getOrElse(throw new IllegalStateException("base table has no snapshot"))
    val last = baseSnapshot
    if (cur == last) return 0L

    val cursor = Map(BaseSnapProp -> cur.toString)
    val gcols = groupCols
    val scols = sumCols
    val changes0 = (try {
        // commits happened but none can carry rows (maintenance): advance
        // the cursor so the next refresh's changelog walk starts here
        if (base.rowChangingCommits(bm, last, cur).isEmpty) {
          table.setProperties(cursor)
          return 0L
        }
        base.changesBetween(last, cur)
      } catch {
        case _: IllegalArgumentException => return fullRefresh(base, cur)
      })
    val changes = filterSql.map(f => changes0.filter(expr(f))).getOrElse(changes0)
      .select((gcols ++ scols).map(col) :+ col("_change_type"): _*)
    // ONE pass over the changelog (r21, guide §1.2/§2.3): aggregate it
    // straight to the per-group delta, carrying a gross per-group row
    // count that the apply sums into nChanges. Everything downstream
    // reuses the O(touched groups) delta.
    val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val delta = changes.groupBy(gcols.map(col): _*).agg(
      count(lit(1)).as(GrossCnt),
      sum(sign).as(DeltaCnt) +:
        scols.map(c => sum(sign.cast(SumType) *
          coalesce(col(c).cast(SumType), lit(0).cast(SumType))).as(deltaSum(c))): _*)

    // each delta group meets its current view row (one per group) in an
    // outer join that reads `delta` once; Spark picks the join strategy
    // from the two sides' sizes. Null-safe throughout: a NULL group key is
    // a real group (the upsert's equality delete is null-safe too — a
    // plain `=` here would drop the old NULL-group row without folding it in)
    val view = table.toDF()
    val merged = delta.join(view,
      gcols.map(c => delta(c) <=> view(c)).reduce(_ && _), "left_outer")
    val newCnt = coalesce(view(CntCol), lit(0L)) + delta(DeltaCnt)
    val newSums = scols.map(c =>
      (coalesce(view(sumCol(c)), lit(0).cast(SumType)).cast(SumType) +
        delta(deltaSum(c))).cast(SumType).as(sumCol(c)))
    // one row per touched group, applied in ONE action: a group still
    // counting rows upserts its new aggregate, an emptied group's key is
    // deleted. The keys are one groupBy's output, distinct by
    // construction, so the apply keeps this layout (no key exchange), and
    // the gross changelog count rides along for the tasks to sum.
    val rows = merged.select(
      (gcols.map(c => delta(c).as(c)) :+ newCnt.as(CntCol)) ++ newSums ++ Seq(
        (newCnt > 0).as(TaskWrite.RouteCol), delta(GrossCnt).as(TaskWrite.TallyCol)): _*)
    // no changelog rows at all: nothing to apply, the cursor still moves
    table.applyBatch(rows, gcols, extraProperties = cursor, keysDistinct = true,
      commitEmpty = false).tally
  }

  /** Recompute the aggregate from the base's current state and replace
    * the view contents in ONE commit carrying the cursor. Returns the
    * number of base rows aggregated (the work actually done).
    */
  private def fullRefresh(base: GraftTable, cur: Long): Long = {
    val gcols = groupCols
    val scols = sumCols
    val src = filterSql.map(f => base.toDF().filter(expr(f)))
      .getOrElse(base.toDF())
    // ONE pass over the base (r21): cache the O(groups) aggregate, not the
    // O(base) source — the row count falls out of the aggregate's counts
    val agg = src.groupBy(gcols.map(col): _*).agg(
      count(lit(1)).as(CntCol),
      scols.map(c =>
        sum(coalesce(col(c).cast(SumType), lit(0).cast(SumType)))
          .cast(SumType).as(s"sum_$c")): _*)
      .cache()
    try {
      val n = agg.agg(coalesce(sum(col(CntCol)), lit(0L))).head().getLong(0)
      table.overwrite(agg, extraProperties = Map(BaseSnapProp -> cur.toString))
      n
    } finally {
      agg.unpersist()
      ()
    }
  }
}

object IncrementalAggView {
  private[tables] val BaseLocProp = "graft.mv.base-location"
  private[tables] val BaseSnapProp = "graft.mv.base-snapshot"
  private[tables] val BaseSchemaProp = "graft.mv.base-schema"
  private[tables] val FilterProp = "graft.mv.filter"
  private[tables] val GroupColsProp = "graft.mv.group-cols"
  private[tables] val SumColsProp = "graft.mv.sum-cols"
  private[tables] val CntCol = "cnt"
  private[tables] val DeltaCnt = "__d_cnt"
  private[tables] val GrossCnt = "__d_gross"
  private[tables] val SumType = DecimalType(28, 6)

  private def sumCol(c: String) = s"sum_$c"
  private def deltaSum(c: String) = s"__d_sum_$c"

  /** Full initial aggregate of `base` at its current snapshot, stored as a
    * GraftTable at `location` with the maintenance metadata.
    */
  def create(spark: SparkSession, location: String, base: GraftTable,
      groupCols: Seq[String], sumCols: Seq[String],
      filter: Option[String] = None): IncrementalAggView = {
    require(groupCols.nonEmpty, "view needs group columns")
    val snap = base.meta.currentSnapshotId
      .getOrElse(throw new IllegalStateException("base table has no snapshot"))
    val src = filter.map(f => base.toDF().filter(expr(f))).getOrElse(base.toDF())
    val agg = src.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as(CntCol),
      sumCols.map(c =>
        sum(coalesce(col(c).cast(SumType), lit(0).cast(SumType)))
          .cast(SumType).as(sumCol(c))): _*)
    val t = GraftTable.createAs(spark, location, agg, properties = Map(
      BaseLocProp -> base.location,
      BaseSnapProp -> snap.toString,
      BaseSchemaProp -> base.meta.currentSchemaId.toString,
      GroupColsProp -> groupCols.mkString(","),
      SumColsProp -> sumCols.mkString(",")) ++
      filter.map(FilterProp -> _))
    new IncrementalAggView(spark, t)
  }

  def load(spark: SparkSession, location: String): IncrementalAggView = {
    val t = GraftTable.load(spark, location)
    require(t.meta.properties.contains(BaseLocProp),
      s"$location is not an incremental view")
    new IncrementalAggView(spark, t)
  }
}
