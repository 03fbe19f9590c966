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
  * move for an `Aggregate` over an `openmeteo` HOURLY scan, in two shapes:
  *  - grouped by exactly (latitude, longitude, to_date(ts_local)), with
  *    every aggregate a recognizable daily-catalog definition (max/min,
  *    round(sum, 2), the sum-of-case slot counts, mode within group):
  *    each output row IS one daily row, so the Aggregate becomes a
  *    Project over a DAILY-granularity scan of the same source;
  *  - grouped by a subset of {latitude, longitude} (none for a global
  *    aggregate), with every aggregate re-combinable across days EXACTLY:
  *    `max` of each `*_max`, `min` of each `*_min`, and `sum` of the two
  *    integral daily counts — precipitation_hours (hourly slots with
  *    precipitation) and sunshine_duration (multiples of 3600 s) — from
  *    their unrounded sum-of-case forms. The Aggregate stays and reads
  *    the daily scan instead. Rounded daily sums and the daily mode do
  *    not re-combine across days, so those bail.
  * Either way the per-hour rows are never fetched at all.
  *
  * The rewrite is correctness-gated by golden tests asserting pushed ≡
  * native per daily variable (DailyRollupPushdownSpec). Conservative
  * bail-outs (rule leaves the plan untouched) whenever:
  *  - any aggregate expression is not in its shape's catalog (`avg`,
  *    `sum` without the canonical form, filters, DISTINCT, a 15-minute
  *    slot multiplier …)
  *  - an output's type would change (cast-stripping during recognition
  *    must never change it)
  *  - a Filter sits between the Aggregate and the scan whose predicate is
  *    not DAY-ALIGNED. Day-aligned conjuncts DO rewrite — a comparison on
  *    `to_date(ts_local)` against a date literal, or `ts_local >= / <` a
  *    midnight timestamp — because selecting whole days of hourly rows
  *    commutes with the per-day rollup; they are translated onto the
  *    daily relation's `date` column, which the source takes as its
  *    pushed window (the remote's `start_date`/`end_date`). Any other
  *    predicate (mid-day ts bound, non-time column) still bails.
  *  - grouping is neither shape
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

  private val LocationCols = Set("latitude", "longitude")

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

    // Grouping is exactly the (latitude, longitude, day) key (one output
    // row per daily row), or a subset of the location (re-aggregated
    // across days).
    val perDay = groupingExprs.size == 3 &&
      groupingExprs.exists(isAttr(_, "latitude")) &&
      groupingExprs.exists(isAttr(_, "longitude")) &&
      groupingExprs.exists(isDayOf)
    def locationCol(e: Expression): Option[String] =
      LocationCols.find(isAttr(e, _))
    val groupCols = groupingExprs.map(locationCol)
    if (!perDay && groupCols.exists(_.isEmpty)) return None

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
            // the column itself uncast: a cast (say to int) would
            // compare other values than the daily count's
            case CaseWhen(Seq((GreaterThan(a, thr), thenE)), Some(elseE)) =>
              (a, numLit(thr), numLit(thenE), numLit(elseE)) match {
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

    // Across days: the daily variable whose per-day values re-combine
    // exactly into the hourly aggregate, and the aggregate that does it.
    def acrossDaysVarFor(e: Expression): Option[String] = stripCasts(inline(e)) match {
      case AggregateExpression(_: Max | _: Min, _, _, _, _) => dailyVarFor(e)
      case other => sumOfCase(other).collect {
        case ("precipitation", 0.0, 1.0, 0.0) => "precipitation_hours"
        case ("shortwave_radiation", 120.0, 3600.0, 0.0) => "sunshine_duration"
      }
    }
    def reaggregate(dailyVar: String, a: Attribute): Expression =
      (if (dailyVar.endsWith("_max")) Max(a)
       else if (dailyVar.endsWith("_min")) Min(a)
       else Sum(a)).toAggregateExpression()

    // Each output → the daily column it reads.
    val targets: Seq[Option[(NamedExpression, String)]] = aggExprs.map {
      case ne if locationCol(ne).isDefined => locationCol(ne).map(ne -> _)
      case a @ Alias(e, _) if perDay && isDayOf(e) => Some(a -> "date")
      case a @ Alias(e, _) if perDay => dailyVarFor(e).map(a -> _)
      case a @ Alias(e, _) => acrossDaysVarFor(e).map(a -> _)
      case _ => None
    }
    if (targets.exists(_.isEmpty)) return None
    val resolved = targets.flatten

    def isVar(c: String) = !LocationCols(c) && c != "date"
    val neededVars = resolved.map(_._2).filter(isVar)
    if (neededVars.isEmpty) return None

    // Build the daily-granularity relation of the same source.
    val dailyOpts = hourlyOpts.copy(
      granKey = WeatherSchemas.GranDaily, variables = neededVars.distinct)
    val dailyRelation = DataSourceV2Relation.create(
      new OpenMeteoTable(dailyOpts), None, None, CaseInsensitiveStringMap.empty())
    def dailyAttr(name: String): Option[Attribute] =
      dailyRelation.output.find(_.name == name)

    // Re-alias the daily expressions to the aggregate's original output
    // exprIds so every parent reference keeps resolving. Type equality is
    // required — cast-stripping during recognition must never change the
    // output type.
    val outputs: Seq[Option[NamedExpression]] = resolved.map { case (ne, c) =>
      dailyAttr(c)
        .map(a => if (perDay || !isVar(c)) a else reaggregate(c, a))
        .filter(_.dataType == ne.dataType)
        .map(Alias(_, ne.name)(ne.exprId))
    }
    if (outputs.exists(_.isEmpty)) return None
    val scan: LogicalPlan = dayFilterBuilders match {
      case Seq() => dailyRelation
      case bs =>
        val dateAttr = dailyAttr("date").getOrElse(return None)
        Filter(bs.map(_(dateAttr)).reduce(And), dailyRelation)
    }
    if (perDay) Some(Project(outputs.flatten, scan))
    else Some(agg.copy(groupingExpressions = groupCols.flatten.flatMap(dailyAttr),
      aggregateExpressions = outputs.flatten, child = scan))
  }
}
