package graft.plans

import graft.sinks.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types.{BooleanType, DataType, DateType,
  NumericType, StringType}

/** Metadata aggregate pushdown: a global `COUNT(*)` / `MIN(x)` / `MAX(x)`
  * over an UNFILTERED [[LakeTable.scan]] relation is answered from the
  * manifest + zone-map sidecar alone — the plan's scan disappears
  * entirely (a LocalRelation of one precomputed row), so
  * `SELECT COUNT(*) FROM lake_view` over 100 TB opens zero data files.
  * The SQL-visible twin of [[LakeTable.fastCount]]/[[LakeTable.fastMinMax]],
  * with the same exactness discipline: answer exactly or not at all.
  *
  * The rule fires only when ALL of:
  *  - the child is a [[LakeTable.scan]] relation (tagged with the root
  *    and the SNAPSHOT VERSION it pinned at construction — the rule must
  *    answer for that snapshot, not whatever the head is at optimize
  *    time), reached directly or through a pure-attribute Project;
  *  - grouping is empty and every aggregate is COUNT(non-null literal)
  *    (no DISTINCT, no FILTER) or MIN/MAX of a bare stats column whose
  *    type round-trips exactly through the sidecar's string rendering
  *    (numeric, string, date, boolean — TIMESTAMP stays on the scan);
  *  - the metadata can answer exactly: [[LakeTable.fastCount]] /
  *    [[LakeTable.fastMinMax]] decline under deletion vectors, sidecar
  *    gaps, or beyond-double-precision ties, and this rule declines with
  *    them.
  *
  * Any WHERE clause sits as a Filter node above the relation at this
  * point in optimization (v1 relations push filters at PHYSICAL
  * planning), so a filtered query never matches the shape — it falls
  * through to the [[LakeTable]] SidecarFileIndex file-pruned scan.
  * Deletion vectors never reach this rule either: [[LakeTable.scan]]
  * interposes the MoR anti-join, which breaks the Aggregate-over-
  * Relation shape, and fastCount/fastMinMax decline anyway.
  */
case class LakeMetadataAggs(spark: SparkSession) extends Rule[LogicalPlan] {

  private def roundTrips(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | BooleanType => true
    case _ => false
  }

  /** The (root, version) tag of a LakeTable.scan relation. */
  private def lakeTag(plan: LogicalPlan): Option[(String, Long)] = plan match {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation =>
        for {
          root <- r.options.get("graft.lake.root")
          v <- r.options.get("graft.lake.version")
          vl <- v.toLongOption
        } yield (root, vl)
      case _ => None
    }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      lakeTag(child)
    case _ => None
  }

  /** Evaluate one aggregate from metadata; None = can't answer exactly.
    * `minMax` answers a column's (min, max) pair, once per column.
    */
  private def answer(e: AggregateExpression, count: => Option[Long],
      minMax: String => Option[(Option[String], Option[String])]): Option[Any] = {
    if (e.isDistinct || e.filter.isDefined) return None
    e.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null => count
      case Min(a: AttributeReference) if roundTrips(a.dataType) =>
        minMax(a.name).map(mm => back(mm._1, a.dataType))
      case Max(a: AttributeReference) if roundTrips(a.dataType) =>
        minMax(a.name).map(mm => back(mm._2, a.dataType))
      case _ => None
    }
  }

  /** Sidecar string → the column type's INTERNAL value (NULL for an
    * all-NULL column — min/max of zero non-null values is NULL, exactly
    * what the scan would have aggregated).
    */
  private def back(s: Option[String], dt: DataType): Any =
    s.map(v => Cast(Literal(v), dt,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)).orNull

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      lakeTag(child) match {
        case Some((root, version)) =>
          // one snapshot resolution serves every aggregate of the node
          lazy val m = LakeTable.manifest(spark, root, Some(version))
          lazy val count = LakeTable.fastCount(spark, root, m)
          val minMax = scala.collection.mutable.Map
            .empty[String, Option[(Option[String], Option[String])]]
          def minMaxOf(c: String) =
            minMax.getOrElseUpdate(c, LakeTable.fastMinMax(spark, root, m, c))
          // every output must be answerable (an Alias over ONE aggregate,
          // or a literal) or the whole rewrite is off
          val answered: Option[Seq[Any]] =
            aggExprs.foldLeft(Option(Vector.empty[Any])) {
              case (None, _) => None
              case (Some(acc), ne) => ne match {
                case Alias(ae: AggregateExpression, _) =>
                  answer(ae, count, minMaxOf).map(acc :+ _)
                case Alias(l: Literal, _) => Some(acc :+ l.value)
                case _ => None
              }
            }
          answered match {
            case Some(values) =>
              LocalRelation(aggExprs.map(_.toAttribute),
                Seq(InternalRow.fromSeq(values)))
            case None => agg
          }
        case None => agg
      }
  }
}

object LakeMetadataAggs {
  /** Idempotently register the rule on `spark` — [[LakeTable.scan]] calls
    * this, so any session that reads through the index gets the pushdown.
    */
  def register(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[LakeMetadataAggs]))
      spark.experimental.extraOptimizations = cur :+ LakeMetadataAggs(spark)
  }
}
