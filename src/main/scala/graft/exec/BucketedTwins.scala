package graft.exec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.Shims

import IncrementalAggExecutor._

/** The (grain bucket × keys) twin behind the no-group dynamic bound and
  * the temporal twin. */
private[exec] trait BucketedTwins { this: IncrementalAggExecutor =>

  /** Reference README.md:130-132's LAST unimplemented roadmap item: an
    * aggregation with NO GROUP BY under a DYNAMIC lower bound
    * (`SELECT count(*), sum(v) FROM t WHERE ts >= now() - INTERVAL 1
    * DAY`). The reference sketches the fix itself — "rewrite the
    * aggregation to include a group_by clause, then filter, then
    * aggregate again" — and that is exactly this rewrite: an internal
    * hourly bucket group (`NoGroupGrain`) over the bound's
    * temporal column turns the query into the SUPPORTED grouped
    * dynamic-bound shape (state cached unbounded, frozen bound
    * re-applied over bucket starts at answer time), and a final
    * no-group aggregate folds the surviving buckets back into the
    * original single row. Bound semantics are therefore
    * bucket-granularity at the internal grain — the same contract the
    * grouped path defines, one grain instead of one per query.
    *
    * Measures: count/sum/min/max re-aggregate from their bucket
    * finalizes directly (count via sum, empty-result coalesce to 0);
    * avg splits into sum+count bucket columns and divides with vanilla
    * Average's exact typing (decimal p+10 / LongDecimal). Row-level
    * FILTER clauses commute into the buckets unchanged. DISTINCT
    * aggregates bail (their bucket finalizes don't re-aggregate).
    *
    * GROUPED queries take the same road when the user opted into
    * grouped twins (config.temporalTwinGrain): a dynamic bound over
    * `GROUP BY event_type` — which decide() rejects for want of a
    * temporal bucket — twins as (grain-bucket × keys) and folds back
    * per key, with the twin grain doubling as the bound's bucket
    * granularity. */
  private[exec] def dynNoGroupRewrite(spark: SparkSession,
      analyzed: LogicalPlan): Option[LogicalPlan] = {
    val aggs = analyzed.collect { case a: Aggregate => a }
    if (aggs.size != 1) return None
    val agg = aggs.head
    // grouped queries reach here only when decide() bailed (a dynamic
    // bound with no temporal bucket among the keys) AND the user opted
    // into grouped twins — the twin grain doubles as the bound's bucket
    // granularity then. No-group queries bucket at NoGroupGrain.
    val grouped = agg.groupingExpressions.nonEmpty
    // sessions cannot re-aggregate from bucket finalizes: a session
    // spanning a bucket edge would split into two twin rows (the same
    // guard bucketTwinRewrite carries)
    if (grouped && sessionGroupIdx(agg).isDefined) return None
    val grain =
      (if (grouped) config.temporalTwinGrain
       else Some(NoGroupGrain)).getOrElse(return None)
    val fp = fingerprint(agg) + fpSuffix
    def bail(msg: String): Option[LogicalPlan] = {
      info(fp, s"no-group dynamic bound bail: $msg")
      None
    }
    if (!agg.expressions.forall(_.deterministic) || hasSubquery(agg.expressions))
      return None
    // the filter chain must contain exactly one dynamic lower bound (and
    // nothing unstable) — otherwise this rewrite has no reason to exist
    // (no bound) or no soundness story (unstable filters)
    val needles = temporalNeedles
    var found: Option[Expression] = None
    var ok = true
    def walk(p: LogicalPlan): Unit = if (ok) p match {
      case Filter(cond, ch) =>
        graft.analysis.Stability.find(cond, needles) match {
          case graft.analysis.Stability.Found(b) =>
            if (found.isEmpty) { found = Some(b); walk(ch) } else ok = false
          case graft.analysis.Stability.Stable => walk(ch)
          case _ => ok = false
        }
      case Project(es, ch) if es.forall(_.deterministic) && !hasSubquery(es) =>
        walk(ch)
      case SubqueryAlias(_, ch) => walk(ch)
      case v: View => walk(v.child)
      case _ => ()
    }
    walk(agg.child)
    if (!ok) return None
    val bound = found.getOrElse(return None)
    // the bound's unique temporal column, present on the aggregate input
    val tAttr = bound.references.toSeq
      .filter(a => needles.contains(a.name.toLowerCase)) match {
      case Seq(one) => one
      case _ => return bail("bound references no unique temporal column")
    }
    if (!agg.child.outputSet.contains(tAttr))
      return bail(s"temporal column ${tAttr.name} pruned below the aggregate")

    // the internal-grain twin IS the supported grouped dynamic-bound
    // shape — hand it to the normal machinery (cache, watermark, answer-
    // time bound over bucket starts, every subsumption)
    bucketedTwin(spark, analyzed, agg, distinctAggExprs(agg.aggregateExpressions),
      agg.child, tAttr, grain, "_dynb", bail,
      "internal-grain twin rewrite declined",
      (if (grouped) "keys-only dynamic bound" else "no-group dynamic bound") +
        s": answered via the internal $grain-grain bucketed twin")
  }

  /** The bucket grain of a no-group aggregate's internal twin under a
    * dynamic bound, and so that bound's granularity. */
  private val NoGroupGrain = "hour"

  /** The (date_trunc(grain, tAttr) × agg's keys) twin over `child`, its
    * measures the re-aggregable parts of `aggExprs` ([[reaggMeasures]]),
    * handed to [[rewritePlan]] and re-aggregated per original key into
    * `agg`'s answer. Shared by the no-group dynamic bound and the
    * temporal twin; None (with `bail` told why) when a measure does not
    * re-aggregate or the twin's own rewrite declines. */
  private def bucketedTwin(spark: SparkSession, analyzed: LogicalPlan,
      agg: Aggregate, aggExprs: Seq[AggregateExpression], child: LogicalPlan,
      tAttr: Attribute, grain: String, bucketName: String,
      bail: String => Option[LogicalPlan], declined: String,
      answered: String): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val rms = reaggMeasures(aggExprs, bail).getOrElse(return None)
    val keyCols = agg.groupingExpressions.zipWithIndex.map {
      case (e, j) => Shims.column(e).as(s"_k$j")
    }
    val twinAggCols = rms.flatMap(_.twinCols).map { case (n, cc) => cc.as(n) }
    val twinDF = Shims.ofRows(spark, child)
      .groupBy(org.apache.spark.sql.functions.date_trunc(grain,
        Shims.column(tAttr)).as(bucketName) +: keyCols: _*)
      .agg(twinAggCols.head, twinAggCols.tail: _*)
    val twinAns = rewritePlan(spark, Shims.queryExecution(twinDF).analyzed)
      .map(Shims.ofRows(spark, _)).getOrElse(return bail(declined))
    val combineCols = rms.zipWithIndex.map { case (r, i) => r.combine.as(s"_r$i") }
    val resultDF = twinAns
      .groupBy(agg.groupingExpressions.indices.map(j => col(s"_k$j")): _*)
      .agg(combineCols.head, combineCols.tail: _*)
    val out = spliceAnswer(analyzed, agg, aggExprs, resultDF, j => s"_k$j") {
      (ae, i) => Cast(UnresolvedAttribute(Seq(s"_r$i")), ae.dataType)
    }
    info(fingerprint(agg) + fpSuffix, answered)
    Some(out)
  }

  private def reaggMeasures(aggExprs: Seq[AggregateExpression],
      bail: String => Any): Option[Seq[ReAggMeasure]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Average, Count, Max, Min, Sum}
    import org.apache.spark.sql.functions.{coalesce, count => fcount,
      max => fmax, min => fmin, sum => fsum, when}
    Some(aggExprs.zipWithIndex.map { case (ae, i) =>
      if (ae.isDistinct) {
        bail(s"DISTINCT aggregate does not re-aggregate: ${ae.sql}")
        return None
      }
      if (ae.filter.exists(p => !p.deterministic || hasSubquery(Seq(p)))) {
        bail(s"non-deterministic or subquery FILTER: ${ae.sql}")
        return None
      }
      ae.aggregateFunction match {
        case _: Count =>
          ReAggMeasure(Seq(s"_m$i" -> Shims.column(ae)),
            coalesce(fsum(col(s"_m$i")), lit(0L)))
        case _: Sum =>
          ReAggMeasure(Seq(s"_m$i" -> Shims.column(ae)), fsum(col(s"_m$i")))
        case _: Min =>
          ReAggMeasure(Seq(s"_m$i" -> Shims.column(ae)), fmin(col(s"_m$i")))
        case _: Max =>
          ReAggMeasure(Seq(s"_m$i" -> Shims.column(ae)), fmax(col(s"_m$i")))
        case a: Average =>
          val (sn, cn) = (s"_s$i", s"_c$i")
          val childC = ae.filter match {
            case Some(p) => when(Shims.column(p), Shims.column(a.child))
            case None => Shims.column(a.child)
          }
          ReAggMeasure(Seq(sn -> fsum(childC), cn -> fcount(childC)),
            avgOf(a.child.dataType, fsum(col(sn)), fsum(col(cn))))
        case other =>
          bail(s"measure does not re-aggregate from bucket " +
            s"finalizes: ${other.sql} (count/sum/min/max/avg only)")
          return None
      }
    })
  }

  /** Opt-in TEMPORAL TWIN (config.temporalTwinGrain) for grouped
    * aggregates WITHOUT a temporal bucket key (`GROUP BY event_type`):
    * keys-only state has no time slice to drop, so a declared repair
    * range rebuilds it loudly, a late re-scan band cannot apply, and a
    * dynamic lower bound has no bucket starts to qualify. The twin
    * inserts `date_trunc(grain, ts)` as an extra grouping column and
    * hands that plan — the fully SUPPORTED grouped shape — to the
    * normal machinery (cache, watermark, bucket-grain repairs, late
    * bands, dynamic bounds, O(append) chains, every subsumption); a
    * final re-aggregation merges the buckets away per original key.
    * Exact for measures that re-aggregate from their bucket finalizes
    * ([[reaggMeasures]]); anything else falls back to the plain
    * keys-only path (None — the caller then runs execute()).
    * State costs ×(active buckets at the grain) — the config knob's
    * documented trade. */
  private[exec] def bucketTwinRewrite(spark: SparkSession,
      analyzed: LogicalPlan, c: Cacheable): Option[LogicalPlan] = {
    val grain = config.temporalTwinGrain.getOrElse(return None)
    if (c.temporalGroupIdx.isDefined) return None // already bucket-keyed
    if (c.agg.groupingExpressions.isEmpty) return None // dynNoGroup's turf
    if (sessionGroupIdx(c.agg).isDefined) return None
    // tumbling windows carry temporalGroupIdx = None by design but have
    // their own richer machinery (rehop/retumble subsumption, window
    // repairSpans) — never reroute them through the twin
    if (tumblingShape(c).isDefined) return None
    if (c.agg.child.exists(_.isInstanceOf[Expand])) return None
    val fp = c.fingerprint
    def bail(msg: String): Option[LogicalPlan] = {
      info(fp, s"temporal twin bail (plain keys-only state): $msg")
      None
    }
    // build the twin from the ORIGINAL (widened) chain: a dynamic bound
    // stays IN the twin plan, whose own decide() handles it through the
    // grouped bucket-granularity machinery
    bucketedTwin(spark, analyzed, c.agg, c.aggExprs, c.child, c.temporalAttr,
      grain, "_ttb", bail, "twin rewrite declined",
      s"temporal twin: answered via the internal " +
        s"$grain × keys bucketed twin (bucket-grain repairs/bands apply)")
  }
}
