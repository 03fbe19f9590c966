package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DateType, TimestampNTZType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.openmeteo.{OpenMeteoTable, OpenMeteoOptions}
import graft.weather.WeatherSchemas

/** Aggregate pushdown rule (SURVEY.md §4): the reference never computes
  * daily rollups locally — it asks the source for the pre-aggregated
  * `daily` block (`server.py:219-223`). This rule gives Catalyst the same
  * move: an `Aggregate` over an `openmeteo` HOURLY scan whose grouping is
  * exactly (latitude, longitude, to_date(ts_local)) and whose aggregate
  * expressions are all recognizable daily-catalog definitions (max/min,
  * round(sum, 2)) is rewritten to a DAILY-granularity scan of the same
  * source — the per-hour rows are never fetched at all.
  *
  * The rewrite is correctness-gated by the golden test asserting pushed ≡
  * native per daily variable (OpenMeteoSourceSpec). Conservative bail-outs
  * (rule leaves the plan untouched) whenever:
  *  - any aggregate expression is not in the recognized catalog
  *    (`avg`, `sum` without the canonical rounding, filters, DISTINCT …)
  *  - a Filter sits between the Aggregate and the scan whose predicate is
  *    not DAY-ALIGNED. Day-aligned conjuncts DO rewrite — a comparison on
  *    `to_date(ts_local)` against a date literal, or `ts_local >= / <` a
  *    midnight timestamp — because selecting whole days of hourly rows
  *    commutes with the per-day rollup; they are translated onto the
  *    daily relation's `date` column, where the source's date-range
  *    pushdown (S2) picks them up. Any other predicate (mid-day ts
  *    bound, non-time column) still bails.
  *  - grouping is not exactly the (lat, lon, day) key
  *
  * Registered via [[graft.GraftExtensions]] (injectOptimizerRule), so any
  * session with the extensions gets it; it runs in the operator-
  * optimization batch, before V2ScanRelationPushDown turns the relation
  * into a scan.
  */
object DailyRollupPushdown extends Rule[LogicalPlan] {

  /** hourly source column -> daily variable names for each supported agg. */
  private val maxVars = Map(
    "temperature_2m" -> "temperature_2m_max",
    "apparent_temperature" -> "apparent_temperature_max",
    "uv_index" -> "uv_index_max",
    "wind_speed_10m" -> "wind_speed_10m_max",
    "wind_gusts_10m" -> "wind_gusts_10m_max")
  private val minVars = Map(
    "temperature_2m" -> "temperature_2m_min",
    "apparent_temperature" -> "apparent_temperature_min")
  private val sumVars = Map(
    "precipitation" -> "precipitation_sum",
    "rain" -> "rain_sum",
    "snowfall" -> "snowfall_sum")
  // A7: `mode() WITHIN GROUP (ORDER BY weather_code)` — the ASC
  // within-group form resolves to Mode(child, _, _, Some(true)) and
  // returns the SMALLEST value among the most frequent, which is exactly
  // the deterministic dominant-code rule of the native rollup (which
  // WeatherOps.dailyRollup computes with this same expression). Plain
  // `mode(col)` (reverseOpt = None) breaks ties nondeterministically and
  // must NOT ride the rewrite: pushed ≡ native only holds for the ASC form.
  private val modeVars = Map("weather_code" -> "weather_code")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(groupingExprs, aggExprs, child, _) =>
      rewrite(agg, groupingExprs, aggExprs, child).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, groupingExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    // Accept the relation directly, under pure attribute/alias Projects
    // (CollapseProject usually inlines them, but don't depend on batch
    // order), and/or under at most one Filter — whose predicate must then
    // prove day-aligned below.
    def peel(p: LogicalPlan, subs: Map[ExprId, Expression],
        cond: Option[Expression])
        : Option[(DataSourceV2Relation, Map[ExprId, Expression], Option[Expression])] =
      p match {
        case r: DataSourceV2Relation => Some((r, subs, cond))
        case Project(projectList, ch)
            if projectList.forall {
              case _: AttributeReference => true
              case Alias(_, _) => true
              case _ => false
            } =>
          peel(ch, subs ++ projectList.collect {
            case a @ Alias(e, _) => a.exprId -> e
          }, cond)
        case Filter(c, ch) if cond.isEmpty => peel(ch, subs, Some(c))
        case _ => None
      }
    val (relation, substitutions, filterCond) =
      peel(child, Map.empty, None).getOrElse(return None)
    val hourlyOpts: OpenMeteoOptions = relation.table match {
      case t: OpenMeteoTable
          if t.opts.granKey == WeatherSchemas.GranHourly => t.opts
      case _ => return None
    }

    def inline(e: Expression): Expression = e.transform {
      case a: AttributeReference if substitutions.contains(a.exprId) =>
        inline(substitutions(a.exprId))
    }
    def stripAlias(e: Expression): Expression = e match {
      case Alias(child, _) => stripAlias(child)
      case other => other
    }
    def isDayOf(e: Expression): Boolean = stripAlias(inline(e)) match {
      case Cast(a: AttributeReference, DateType, _, _) => a.name == "ts_local"
      case _ => false
    }
    def isAttr(e: Expression, name: String): Boolean = stripAlias(inline(e)) match {
      case a: AttributeReference => a.name == name
      case _ => false
    }

    // Grouping must be exactly the (latitude, longitude, day) key.
    val groupingOk = groupingExprs.size == 3 &&
      groupingExprs.exists(isAttr(_, "latitude")) &&
      groupingExprs.exists(isAttr(_, "longitude")) &&
      groupingExprs.exists(isDayOf)
    if (!groupingOk) return None

    // An intermediate Filter rewrites only when EVERY conjunct is
    // day-aligned on ts_local — whole-day selection commutes with the
    // per-day rollup. Each recognized conjunct becomes a builder applied
    // to the daily relation's `date` attribute.
    val MicrosPerDay = 86400000000L
    def isTsLocal(e: Expression): Boolean = isAttr(e, "ts_local")
    // midnight NTZ literal → its DateType literal (whole-day boundary)
    def midnightDay(e: Expression): Option[Literal] = e match {
      case Literal(micros: Long, TimestampNTZType)
          if micros % MicrosPerDay == 0 =>
        Some(Literal((micros / MicrosPerDay).toInt, DateType))
      case _ => None
    }
    def dayConjunct(c: Expression): Option[Attribute => Expression] = c match {
      // to_date(ts_local) cmp date-literal: already day-granular
      case cmp: BinaryComparison if isDayOf(cmp.left) =>
        cmp.right match {
          case d @ Literal(_, DateType) =>
            Some(a => cmp.withNewChildren(Seq(a, d)))
          case _ => None
        }
      case cmp: BinaryComparison if isDayOf(cmp.right) =>
        cmp.left match {
          case d @ Literal(_, DateType) =>
            Some(a => cmp.withNewChildren(Seq(d, a)))
          case _ => None
        }
      // raw ts_local bounds: only >= / < at exact midnight select whole
      // days (>, <=, = at midnight split a day — bail)
      case GreaterThanOrEqual(t, l) if isTsLocal(t) =>
        midnightDay(inline(l)).map(d => a => GreaterThanOrEqual(a, d))
      case LessThan(t, l) if isTsLocal(t) =>
        midnightDay(inline(l)).map(d => a => LessThan(a, d))
      case LessThanOrEqual(l, t) if isTsLocal(t) =>
        midnightDay(inline(l)).map(d => a => LessThanOrEqual(d, a))
      case GreaterThan(l, t) if isTsLocal(t) =>
        midnightDay(inline(l)).map(d => a => GreaterThan(d, a))
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val dayFilterBuilders: Seq[Attribute => Expression] =
      filterCond.map(c => conjuncts(inline(c)).map(dayConjunct)) match {
        case None => Seq.empty
        case Some(bs) if bs.forall(_.isDefined) => bs.flatten
        case _ => return None // some conjunct is not day-aligned
      }

    // Map every output expression to a column of the daily scan; any
    // unrecognized expression aborts the whole rewrite.
    def stripCasts(e: Expression): Expression = e match {
      case Cast(c, _, _, _) => stripCasts(c)
      case other => other
    }
    def numLit(e: Expression): Option[Double] = stripCasts(e) match {
      case Literal(v: Int, _)    => Some(v.toDouble)
      case Literal(v: Long, _)   => Some(v.toDouble)
      case Literal(v: Double, _) => Some(v)
      case Literal(v: Float, _)  => Some(v.toDouble)
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
      case _ => None
    }
    // sum(when(attr > threshold, thenV).otherwise(elseV)) →
    // (attr name, threshold, thenV, elseV)
    def sumOfCase(e: Expression): Option[(String, Double, Double, Double)] =
      stripCasts(e) match {
        case AggregateExpression(Sum(c, _), _, false, None, _) =>
          stripCasts(c) match {
            case CaseWhen(Seq((GreaterThan(a, thr), thenE)), Some(elseE)) =>
              (stripCasts(a), numLit(thr), numLit(thenE), numLit(elseE)) match {
                case (attr: AttributeReference, Some(t), Some(v1), Some(v0)) =>
                  Some((attr.name, t, v1, v0))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    def dailyVarFor(e: Expression): Option[String] = stripCasts(inline(e)) match {
      case AggregateExpression(Max(a: AttributeReference), _, false, None, _) =>
        maxVars.get(a.name)
      case AggregateExpression(Min(a: AttributeReference), _, false, None, _) =>
        minVars.get(a.name)
      case AggregateExpression(Mode(a: AttributeReference, _, _, Some(true)),
          _, false, None, _) =>
        modeVars.get(a.name)
      case r: Round => ((r.child, r.scale) match {
        case (AggregateExpression(Sum(a: AttributeReference, _), _, false, None, _),
            Literal(2, _)) => sumVars.get(a.name)
        case _ => None
      }).orElse((sumOfCase(r.child), numLit(r.scale)) match {
        // A6: round(sum(when(shortwave_radiation > 120, 3600).otherwise(0)), 1)
        case (Some(("shortwave_radiation", 120.0, 3600.0, 0.0)), Some(1.0)) =>
          Some("sunshine_duration")
        case _ => None
      })
      // A4: sum(when(precipitation > 0, 1).otherwise(0)) * 1.0 — hourly
      // cadence only (any other slot multiplier bails)
      case m: Multiply =>
        val sides = Seq((m.left, m.right), (m.right, m.left))
        sides.collectFirst {
          case (factor, sumSide)
              if numLit(factor).contains(1.0) &&
                sumOfCase(sumSide).contains(("precipitation", 0.0, 1.0, 0.0)) =>
            "precipitation_hours"
        }
      case other => sumOfCase(other) match {
        // bare slot-count sum (multiplier folded away entirely)
        case Some(("precipitation", 0.0, 1.0, 0.0)) => Some("precipitation_hours")
        case _ => None
      }
    }

    sealed trait Target
    case object LatT extends Target
    case object LonT extends Target
    case object DateT extends Target
    final case class VarT(name: String) extends Target

    val targets: Seq[Option[(NamedExpression, Target)]] = aggExprs.map {
      case ne if isAttr(ne, "latitude") => Some(ne -> LatT)
      case ne if isAttr(ne, "longitude") => Some(ne -> LonT)
      case a @ Alias(e, _) if isDayOf(e) => Some(a -> DateT)
      case a @ Alias(e, _) => dailyVarFor(e).map(v => a -> VarT(v))
      case _ => None
    }
    if (targets.exists(_.isEmpty)) return None
    val resolved = targets.flatten

    val neededVars = resolved.collect { case (_, VarT(v)) => v }
    if (neededVars.isEmpty) return None

    // Build the daily-granularity relation of the same source.
    val dailyOpts = hourlyOpts.copy(
      granKey = WeatherSchemas.GranDaily, variables = neededVars.distinct)
    val dailyRelation = DataSourceV2Relation.create(
      new OpenMeteoTable(dailyOpts), None, None, CaseInsensitiveStringMap.empty())
    def dailyAttr(name: String): Option[Attribute] =
      dailyRelation.output.find(_.name == name)

    // Re-alias daily columns to the aggregate's original output exprIds so
    // every parent reference keeps resolving. Type equality is required —
    // cast-stripping during recognition must never change the output type.
    def aliased(attrName: String, ne: NamedExpression): Option[NamedExpression] =
      dailyAttr(attrName).filter(_.dataType == ne.dataType)
        .map(Alias(_, ne.name)(ne.exprId))
    val projectList: Seq[Option[NamedExpression]] = resolved.map {
      case (ne, LatT)    => aliased("latitude", ne)
      case (ne, LonT)    => aliased("longitude", ne)
      case (ne, DateT)   => aliased("date", ne)
      case (ne, VarT(v)) => aliased(v, ne)
    }
    if (projectList.exists(_.isEmpty)) None
    else {
      val scan: LogicalPlan = dayFilterBuilders match {
        case Seq() => dailyRelation
        case bs =>
          val dateAttr = dailyAttr("date").getOrElse(return None)
          Filter(bs.map(_(dateAttr)).reduce(And), dailyRelation)
      }
      Some(Project(projectList.flatten, scan))
    }
  }
}
