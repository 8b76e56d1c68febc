package graft.exec

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.Shims

import IncrementalAggExecutor._

/** The factorized join: two growing join sides as two per-side twins. */
private[exec] trait FactorizedJoin { this: IncrementalAggExecutor =>

  // ------------------------------------- factorized two-fact join

  /** An aggregate over an inner equi-join of two GROWING tables — the
    * shape the single-state path must reject (appends to either side
    * invalidate a state keyed on the join output). Factorization makes it
    * incremental anyway: push the aggregate to BOTH sides (eager
    * aggregation, Yan & Larson VLDB'95 — the same commute rejoinTwins
    * uses one-sided; as two-sided delta avoidance it is the factorized
    * incremental-view-maintenance idea of DBToaster, Koch et al.):
    *
    *   twinA = A grouped by (join key, A-pure groups):
    *             count(*) + A-side measures
    *   twinB = B grouped by (join key, B-pure groups):
    *             count(*) + B-side measures
    *   answer = twinA ⋈ twinB on key, grouped by the original groups,
    *            each A measure scaled by B's row count and vice versa
    *            (count* = Σ cntA·cntB, sum(a.x) = Σ sumA·cntB,
    *             min/max pass through, avg = scaled sum / scaled count)
    *
    * Each twin is a plain single-table aggregate, so it is handed
    * straight back to [[rewritePlan]]: it gets its own fingerprint,
    * watermark, durable-cache entry, and every subsumption — an append
    * to EITHER table is absorbed by that side's normal delta scan, and
    * the fact tables are never rescanned. The combine join is
    * state-sized (|keys × A-groups| ⋈ |keys × B-groups|), exact for any
    * multiplicity, and NULL join keys drop on both the vanilla and the
    * factorized path (inner equi-join semantics).
    *
    * Guardrails (anything else runs vanilla, reason logged): attr=attr
    * equi-joins only (inner, left-semi/anti, and LEFT/RIGHT/FULL OUTER —
    * the combine join carries the outer type, a missing partner's count
    * coalesces to multiplicity 1, and the NULL state columns reproduce
    * the vanilla null-extension); filters, grouping expressions and
    * measures side-pure; measures limited to count/sum/min/max and
    * non-decimal avg; no DISTINCT (except count(DISTINCT col)), no
    * FILTER clauses, no subqueries. A null-extendable side additionally
    * requires bare-column grouping/measures and no filters (state-grain
    * null-extension must equal row-grain null-extension). Both twins
    * must individually pass the cacheability decision BEFORE either
    * executes, so a half-cacheable query never pays a one-sided state
    * job.
    *
    * Join TREES recurse: a twin over A ⋈ B is itself an aggregate over
    * an inner equi-join, whose rewrite re-enters this factorization one
    * level down — a three-table join decomposes into three leaf states
    * and two state-sized combines (pinned in IncrementalAggSpec). */
  private[exec] def factorizedJoinRewrite(spark: SparkSession,
      analyzed: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Average, Count, Max, Min, Sum}
    import org.apache.spark.sql.functions.{coalesce, when, count => fcount,
      max => fmax, min => fmin, sum => fsum}

    val aggs = analyzed.collect { case a: Aggregate => a }
    if (aggs.size != 1) return None
    val agg = aggs.head
    val fp = fingerprint(agg) + fpSuffix
    def bail(msg: String): Option[LogicalPlan] = {
      info(fp, s"factorized join bail: $msg")
      None
    }

    // peel Filter / Project wrappers down to the join. Alias-bearing
    // Projects (the optimizer pulls grouping expressions out as
    // `_groupingexpression` aliases; users compute columns before
    // grouping) are INLINED: their definitions substitute into the
    // aggregate's expressions below, so classification and the twins see
    // expressions over the join sides' own attributes.
    val filterConjs = ArrayBuffer.empty[Expression]
    val aliasMaps = ArrayBuffer.empty[
      Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression]]
    def peel(p: LogicalPlan): Option[Join] = p match {
      case Filter(cnd, ch) => filterConjs ++= splitConj(cnd); peel(ch)
      case SubqueryAlias(_, ch) => peel(ch)
      case v: View => peel(v.child)
      case Project(list, ch)
          if list.forall(ne => ne.isInstanceOf[Attribute] ||
            ne.isInstanceOf[Alias]) =>
        val m = list.collect { case al: Alias => al.exprId -> al.child }.toMap
        if (m.nonEmpty) aliasMaps += m
        peel(ch)
      case join: Join => Some(join)
      case _ => None
    }
    val j = peel(agg.child).getOrElse(return None)
    // top-down alias application: an upper project's aliases may reference
    // a lower project's output, so each map applies in peel order
    def inline(e: Expression): Expression =
      aliasMaps.foldLeft(e)((ex, m) => ex.transformUp {
        case a: Attribute if m.contains(a.exprId) => m(a.exprId)
      })
    if (!agg.expressions.forall(_.deterministic) || hasSubquery(agg.expressions))
      return bail("non-deterministic or subquery aggregate expression")
    if (!j.condition.forall(_.deterministic) || hasSubquery(j.condition.toSeq) ||
        j.condition.exists(graft.analysis.NowBounds.containsNow))
      return bail("join condition not run-stable")
    if (filterConjs.exists(c => !c.deterministic || hasSubquery(Seq(c))))
      return bail("non-deterministic or subquery filter")

    val leftOut = j.left.outputSet
    val rightOut = j.right.outputSet
    // constant-fold `e` with every one of that side's columns replaced by
    // NULL — the value a null-extended row would feed it. None when the
    // substituted form doesn't fold (conservative: nothing is proven).
    def nullSubstituted(e: Expression, left: Boolean): Option[Any] = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      val side = if (left) leftOut else rightOut
      try {
        val nulled = e.transform {
          case a: Attribute if side.contains(a) => Literal(null, a.dataType)
        }
        if (nulled.foldable) Some(nulled.eval()) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    // proof that a side-pure predicate cannot pass on a NULL-extended row:
    // if the null-substituted fold is provably not TRUE (false or NULL
    // under three-valued logic), null-extended rows contribute nothing on
    // both the vanilla and the factorized path. Catalyst's
    // EliminateOuterJoin uses the same null-substitution test (public
    // Spark optimizer rule); a form that fails to fold is NOT proven.
    def nullRejecting(p: Expression, left: Boolean): Boolean =
      nullSubstituted(p, left).exists(_ != true)
    val pairs: Seq[(Attribute, Attribute)] =
      splitConj(j.condition.getOrElse(return bail("join without condition")))
        .map {
          case EqualTo(l: Attribute, r: Attribute)
              if leftOut.contains(l) && rightOut.contains(r) => (l, r)
          case EqualTo(l: Attribute, r: Attribute)
              if leftOut.contains(r) && rightOut.contains(l) => (r, l)
          case other => return bail(s"non-equi join conjunct: ${other.sql}")
        }

    // side-pure classification on the INLINED forms: filters push into
    // the twins, grouping expressions evaluate inside them
    val inlFilters = filterConjs.map(inline)
    val inlGroups = agg.groupingExpressions.map(inline)
    val (lFilters, rest) = inlFilters.partition(_.references.subsetOf(leftOut))
    val (rFilters, cross) = rest.partition(_.references.subsetOf(rightOut))
    if (cross.nonEmpty)
      return bail(s"cross-side filter conjunct: ${cross.head.sql}")
    // OUTER-JOIN DEMOTION (Catalyst's EliminateOuterJoin, applied here
    // because the rewrite sees the ANALYZED plan): a null-REJECTING WHERE
    // conjunct on a null-extended side drops every row that side was
    // null-extended into, so the outer join degenerates — left/right
    // lose their outer-ness entirely, full outer loses the rejected
    // side's null-extension. Everything below (twin construction,
    // nullability guardrails, the combine join) uses the demoted type.
    val effJoinType: org.apache.spark.sql.catalyst.plans.JoinType = {
      import org.apache.spark.sql.catalyst.plans._
      def rejL = lFilters.exists(nullRejecting(_, left = true))
      def rejR = rFilters.exists(nullRejecting(_, left = false))
      val eff = j.joinType match {
        case LeftOuter if rejR => Inner
        case RightOuter if rejL => Inner
        case FullOuter if rejL && rejR => Inner
        case FullOuter if rejL => LeftOuter
        case FullOuter if rejR => RightOuter
        case other => other
      }
      if (eff != j.joinType)
        info(fp, s"factorized join: ${j.joinType.sql} demoted " +
          s"to ${eff.sql} (null-rejecting filter on the null-extended side)")
      eff
    }
    // inner joins scale each side by the other's multiplicity; semi/anti
    // joins are multiplicity-FREE (every A row appears 0 or 1 times), so
    // measures pass through unscaled and twin B is pure key membership.
    // OUTER joins factorize too: the combine join carries the SAME outer
    // type, so a state row without a partner survives null-extended with
    // the other side's count column NULL — exactly one preserved row per
    // underlying preserved fact row once that side's count coalesces to 1
    // (an unmatched A key's cntA rows each appear once). aNullable /
    // bNullable record which side's state columns can be NULL-extended
    // in the combine — those sides get extra guardrails below, because
    // null-extension happens at STATE grain here but at ROW grain in the
    // vanilla plan (sound only when the per-row value under a missing
    // partner is NULL on both paths).
    val (scaled, aNullable, bNullable) = effJoinType match {
      case org.apache.spark.sql.catalyst.plans.Inner => (true, false, false)
      case org.apache.spark.sql.catalyst.plans.LeftOuter => (true, false, true)
      case org.apache.spark.sql.catalyst.plans.RightOuter => (true, true, false)
      case org.apache.spark.sql.catalyst.plans.FullOuter => (true, true, true)
      case org.apache.spark.sql.catalyst.plans.LeftSemi |
          org.apache.spark.sql.catalyst.plans.LeftAnti => (false, false, false)
      case jt =>
        return bail(s"${jt.sql} join — factorization covers " +
          "inner/semi/anti/left/right/full equi-joins")
    }
    // a WHERE conjunct on a (post-demotion) null-extendable side does NOT
    // commute into that side's twin: the vanilla plan applies it AFTER
    // null-extension (dropping preserved rows whose nulls fail it), while
    // the twin would apply it BEFORE the join (turning previously-matched
    // keys into null-extended survivors). Either direction changes the
    // answer — and a conjunct that WOULD have collapsed the extension was
    // already consumed by the demotion above, so what bails here is the
    // genuinely null-tolerant residue (IS NULL shapes, coalesce guards).
    if (aNullable && lFilters.nonEmpty)
      return bail("filter on the null-extended left side of an outer join")
    if (bNullable && rFilters.nonEmpty)
      return bail("filter on the null-extended right side of an outer join")
    val groupSide: Seq[Boolean] = inlGroups.map { g =>
      if (g.references.subsetOf(leftOut)) true
      else if (g.references.subsetOf(rightOut)) false
      else return bail(s"cross-side grouping expression: ${g.sql}")
    }
    // on a null-extendable side, state-grain null-extension must equal
    // row-grain null-extension: a bare attribute is NULL on both paths
    // for a missing partner, but an expression may not be (e.g.
    // coalesce(b.x, 0) evaluates to 0 per row in the vanilla plan while
    // the combine's NULL state column yields NULL) — require bare attrs.
    def nullFaithful(e: Expression, left: Boolean): Boolean =
      !(if (left) aNullable else bNullable) || e.isInstanceOf[Attribute] ||
        // null-ANNIHILATING expression (CAST(x), date_trunc(x), x + 1, …):
        // a missing partner's row-grain value is NULL, matching the
        // combine's state-grain NULL-extension — same proof style as
        // Catalyst's EliminateOuterJoin null substitution
        nullSubstituted(e, left).contains(null)
    inlGroups.zip(groupSide).foreach { case (g, sd) =>
      if (!nullFaithful(g, sd))
        return bail(s"grouping expression on the null-extended side " +
          s"of an outer join (NULL-faithful expressions only): ${g.sql}")
    }

    // measures: what each twin must carry, and how the combine
    // reconstitutes the original aggregate from state × the other
    // side's multiplicity
    final case class FM(left: Boolean, twinCols: Seq[(String, Column)],
        combine: Column,
        /** columns this measure needs on the OPPOSITE side's twin (the
          * filtered-multiplicity column of a cross-side FILTER) */
        otherCols: Seq[(String, Column)] = Nil)
    def sideOf(e: Expression): Option[Boolean] =
      if (e.references.subsetOf(leftOut)) Some(true)
      else if (e.references.subsetOf(rightOut)) Some(false)
      else None
    def pfx(left: Boolean) = if (left) "_a" else "_b"
    // a side's count column, coalesced to 1 when an outer combine can
    // NULL-extend it: a preserved state row without a partner stands for
    // its own rows appearing exactly ONCE each (multiplicity 1), and a
    // missing side contributes multiplicity 1 to count(*)
    def cntOf(left: Boolean): Column = {
      val cc = col(if (left) "_acnt" else "_bcnt")
      if (if (left) aNullable else bNullable) coalesce(cc, lit(1L)) else cc
    }
    def cntOther(left: Boolean) = cntOf(!left)
    // inner/outer joins scale by the other side's row count (missing
    // partner ⇒ 1, and the measure column itself is NULL on rows where
    // its OWN side is the missing partner — sum/min/max/count skip it,
    // matching the vanilla NULLs); semi/anti pass state through untouched
    // (multiplicity 0/1 — and the 0 case is the combine join's own
    // filtering)
    def scale(cc: Column, left: Boolean): Column =
      if (scaled) cc * cntOther(left) else cc
    val aggExprs = distinctAggExprs(agg.aggregateExpressions)
    val inlAggExprs = aggExprs.map(ae =>
      inline(ae).asInstanceOf[AggregateExpression])
    val fms: Seq[FM] = inlAggExprs.zipWithIndex.map { case (ae, i) =>
      // FILTER clause: a side-pure predicate on the MEASURE'S OWN side
      // commutes into that side's twin exactly like a WHERE conjunct —
      // the twin's aggregate carries the FILTER itself (`sum(x) FILTER
      // (WHERE p)` per key × group) and the combine scales as usual.
      // Like WHERE conjuncts it must not sit on a null-extendable side:
      // vanilla evaluates it AFTER null-extension, so an `IS NULL`-shaped
      // predicate would match null-extended rows the twin never saw.
      // A CROSS-pairing (`sum(a.x) FILTER (WHERE p(b))`) factorizes
      // through a dedicated FILTERED-MULTIPLICITY column on the
      // predicate's side (fn = count of that side's rows passing p,
      // per key × group): every joined row pairs one X row with one Y
      // row, so Σ_rows x·[p(y)] = Σ_keys sumX_k(x)·cntYp_k, min/max
      // qualify where fn > 0, and avg divides the fn-scaled sums.
      // OUTER joins compose too — the combine's fn column NULL-extends
      // exactly where vanilla's partner rows are missing:
      //  · missing PREDICATE side ⇒ fn IS NULL ⇒ every `fn > 0` gate and
      //    `· fn` product is NULL ⇒ the key contributes nothing — which
      //    matches vanilla iff the predicate cannot pass on a null-
      //    extended row, so a filter on a null-extendable side requires a
      //    PROVEN NULL-INTOLERANT predicate (all that side's columns
      //    nulled ⇒ not TRUE; vanilla evaluates FILTER after
      //    null-extension, reference has no FILTER-over-join caching);
      //  · missing MEASURE side ⇒ the measure state column is NULL ⇒
      //    sum/min/max/count(x) skip it, matching vanilla's per-row NULL
      //    measure values (count(*) never lands here: its value column
      //    rides the predicate's own side).
      // Semi/anti bail (no multiplicity to filter).
      val filtSide: Option[Boolean] = ae.filter match {
        case None => None
        case Some(p) =>
          if (!p.deterministic || hasSubquery(Seq(p)))
            return bail(s"non-deterministic or subquery FILTER: ${ae.sql}")
          val sd = sideOf(p).getOrElse(
            return bail(s"FILTER predicate references both sides: ${ae.sql}"))
          if ((if (sd) aNullable else bNullable) && !nullRejecting(p, sd))
            return bail(
              "FILTER on the null-extended side of an outer join is sound " +
                s"only for provably null-intolerant predicates: ${ae.sql}")
          Some(sd)
      }
      // cross = predicate on the OPPOSITE side of the measure
      val crossOf: Boolean => Boolean = mSide => filtSide.exists(_ != mSide)
      // the filtered-multiplicity column on the predicate's side
      def fnSpec: (String, Column) = (s"${pfx(filtSide.get)}f$i",
        fcount(when(Shims.column(ae.filter.get), lit(1))))
      // the side a single-sided measure rides on, or why it does not
      // factorize
      def measureSide(f: Expression): Either[String, Boolean] =
        sideOf(f).toRight(s"cross-side measure: ${ae.sql}").filterOrElse(
          sd => f.children.forall(nullFaithful(_, sd)),
          s"measure expression on the null-extended side of an outer " +
            s"join (NULL-faithful expressions only): ${ae.sql}")
      ae.aggregateFunction match {
        // count/sum/avg(DISTINCT x): multiplicity-FREE like min/max, so
        // the twin keeps the distinct set per (key × group) — the same
        // set-union state the single-table exact-distinct path uses —
        // and the combine finalizes over the UNION of the group's
        // matched keys' sets: count = its size, sum/avg = the
        // single-table path's guarded fold (started/value struct, every
        // step re-cast to the sum type — empty union finalizes NULL like
        // the vanilla aggregate, a mid-fold decimal overflow stays NULL)
        case f if ae.isDistinct && f.children.size == 1 &&
            (f.isInstanceOf[Count] || f.isInstanceOf[Sum] ||
              f.isInstanceOf[Average]) =>
          import org.apache.spark.sql.functions.{aggregate => ffold,
            array_distinct, collect_list, collect_set, flatten,
            size => fsize, struct => fstruct}
          def sumOfUnion(arr: Column,
              sumT: org.apache.spark.sql.types.DataType): Column =
            ffold(arr,
              fstruct(lit(false).as("s"), lit(null).cast(sumT).as("v")),
              (acc, x) => fstruct(lit(true).as("s"),
                when(acc.getField("s"),
                    (acc.getField("v") + x.cast(sumT)).cast(sumT))
                  .otherwise(x.cast(sumT)).as("v")),
              acc => acc.getField("v"))
          val finOf: Column => Column = f match {
            case _: Count => arr => fsize(arr)
            case _: Sum => arr => sumOfUnion(arr, ae.dataType)
            case av: Average =>
              // decimal avg(DISTINCT) bails: vanilla Average's decimal
              // division typing is not reproduced on this path
              if (av.child.dataType
                  .isInstanceOf[org.apache.spark.sql.types.DecimalType])
                return bail("avg(DISTINCT <decimal>) not factorizable " +
                  s"(vanilla decimal Average typing): ${ae.sql}")
              arr => when(fsize(arr) === 0,
                  lit(null).cast(org.apache.spark.sql.types.DoubleType))
                .otherwise(sumOfUnion(arr,
                  org.apache.spark.sql.types.DoubleType) / fsize(arr))
          }
          val e0 = f.children.head
          val sd = sideOf(e0).getOrElse(
            return bail(s"cross-side measure: ${ae.sql}"))
          if (crossOf(sd)) {
            // cross-side FILTER: keep the full per-key distinct set on
            // the measure's side; the combine only unions sets of keys
            // whose partner has fn > 0 rows passing the predicate
            val n = s"${pfx(sd)}d$i"
            FM(sd, Seq(n -> collect_set(Shims.column(e0))),
              finOf(array_distinct(flatten(collect_list(
                when(col(fnSpec._1) > 0, col(n)))))),
              otherCols = Seq(fnSpec))
          } else {
            // same-side FILTER folds into the collected value: when(p, e)
            // is NULL on rejected rows and collect_set skips NULLs — the
            // set is exactly the distinct e over rows passing p
            val e = ae.filter match {
              case Some(p) => org.apache.spark.sql.catalyst.expressions.If(
                p, e0, org.apache.spark.sql.catalyst.expressions.Literal(
                  null, e0.dataType))
              case None => e0
            }
            if (!nullFaithful(e, sd)) return bail(
              s"measure expression on the null-extended side of an outer " +
                s"join (NULL-faithful expressions only): ${ae.sql}")
            val n = s"${pfx(sd)}d$i"
            FM(sd, Seq(n -> collect_set(Shims.column(e))),
              finOf(array_distinct(flatten(collect_list(col(n))))))
          }
        case _ if ae.isDistinct =>
          return bail(s"DISTINCT aggregate not factorizable: ${ae.sql}")
        // count(*): matched keys contribute cntA·cntB rows; a preserved
        // state row whose partner is missing contributes its own count
        // once (the missing side coalesces to multiplicity 1)
        case c: Count if c.children.forall(_.references.isEmpty) =>
          filtSide match {
            case None =>
              FM(left = true, Nil,
                coalesce(fsum(
                  if (scaled) cntOf(left = true) * cntOf(left = false)
                  else col("_acnt")), lit(0L)))
            case Some(sd) =>
              // count(*) FILTER (WHERE p): the predicate's side carries a
              // dedicated filtered-count column (the twin aggregate keeps
              // the FILTER), scaled by the other side's multiplicity like
              // any side-pure count
              FM(sd, Seq(s"${pfx(sd)}m$i" -> Shims.column(ae)),
                coalesce(fsum(scale(col(s"${pfx(sd)}m$i"), sd)), lit(0L)))
          }
        case f @ (_: Count | _: Sum | _: Min | _: Max) =>
          val sd = measureSide(f).fold(why => return bail(why), identity)
          val mName = s"${pfx(sd)}m$i"
          val m = col(mName)
          if (crossOf(sd)) {
            // FILTER p(other side): per key, the measure's rows each pair
            // with exactly fn partner rows passing p. fn = 0 keys must
            // contribute NOTHING (not 0) to a sum: a group whose every
            // partner fails the predicate sums over no rows, which is
            // NULL — gate with when(fn > 0, ...) so fsum skips them.
            // min/max are multiplicity-free: a key's value qualifies iff
            // ANY partner row passes the predicate
            val fn = col(fnSpec._1)
            FM(sd, Seq(mName -> Shims.column(ae.copy(filter = None))), f match {
              case _: Count => coalesce(fsum(m * fn), lit(0L))
              case _: Sum => fsum(when(fn > 0, m * fn))
              case _: Min => fmin(when(fn > 0, m))
              case _ => fmax(when(fn > 0, m))
            }, otherCols = Seq(fnSpec))
          } else FM(sd, Seq(mName -> Shims.column(ae)), f match {
            case _: Count => coalesce(fsum(scale(m, sd)), lit(0L))
            case _: Sum => fsum(scale(m, sd))
            case _: Min => fmin(m)
            case _ => fmax(m)
          })
        case a: Average =>
          val sd = measureSide(a).fold(why => return bail(why), identity)
          val (sn, cn) = (s"${pfx(sd)}s$i", s"${pfx(sd)}c$i")
          val cross = crossOf(sd)
          // a same-side FILTER folds into the summed/counted value:
          // when(p, child) is NULL on rejected rows and sum/count skip
          // NULLs. A cross-side FILTER keeps the twin sums unfiltered
          // and weights them by fn in the combine.
          // Decimal input keeps the exact decimal sum (same contract as
          // the single-table path, rewrite/Decompose Average case); the
          // combine's division result is cast back to the original avg
          // type by rewriteOut's Cast, so precision/scale match vanilla.
          val childC = ae.filter match {
            case Some(p) if !cross =>
              when(Shims.column(p), Shims.column(a.child))
            case _ => Shims.column(a.child)
          }
          def weigh(cc: Column): Column =
            if (cross) cc * col(fnSpec._1) else scale(cc, sd)
          // type-controlled exact division: the multiplicity scaling
          // widened a decimal numerator to decimal(38, s), and an
          // unconstrained division by a long would overflow 38 digits so
          // Spark's precision-loss rule cuts the result scale to 6 — BELOW
          // the s+4 scale the avg type needs, silently rounding the answer
          // (caught by the differential spec)
          val combine = avgOf(a.child.dataType, fsum(weigh(col(sn))),
            fsum(weigh(col(cn))))
          FM(sd, Seq(sn -> fsum(childC), cn -> fcount(childC)), combine,
            otherCols = if (cross) Seq(fnSpec) else Nil)
        case other =>
          return bail(s"measure not factorizable over a join: ${other.sql}" +
            " (count/sum/min/max/avg only)")
      }
    }

    // per-side twin aggregates at (join key × side-pure groups) grain:
    // its row count, its own measures' columns and the other side's
    // filtered-multiplicity columns
    def twinDF(left: Boolean): DataFrame = {
      val (side, fs, p) =
        if (left) (j.left, lFilters, "a") else (j.right, rFilters, "b")
      val keyCols = pairs.zipWithIndex.map { case ((l, r), i) =>
        Shims.column(if (left) l else r).as(s"_k$p$i") }
      val gCols = inlGroups.zipWithIndex.collect {
        case (g, jx) if groupSide(jx) == left => Shims.column(g).as(s"_g$p$jx") }
      val aggCols = ((s"_${p}cnt" -> fcount(lit(1))) +:
        (fms.filter(_.left == left).flatMap(_.twinCols) ++
          fms.filter(_.left != left).flatMap(_.otherCols)))
        .map { case (n, c) => c.as(n) }
      fs.foldLeft(Shims.ofRows(spark, side))((d, f) => d.filter(Shims.column(f)))
        .groupBy((keyCols ++ gCols): _*).agg(aggCols.head, aggCols.tail: _*)
    }

    // both twins must pass the decision BEFORE either executes — a
    // one-sided state job for a query that then runs vanilla is pure
    // waste. A twin that is ITSELF an aggregate over an inner equi-join
    // (the query joined three growing tables) is accepted too: its
    // rewrite re-enters this factorization one level down, so join TREES
    // decompose recursively into per-leaf states (strictly smaller side
    // subtrees each level — termination by construction).
    def factorizableShape(p: LogicalPlan): Boolean = p.collectFirst {
      case a: Aggregate => a
    }.exists { a =>
      var ok = true
      def walk(n: LogicalPlan): Option[Join] = n match {
        case Filter(_, ch) => walk(ch)
        case SubqueryAlias(_, ch) => walk(ch)
        case v: View => walk(v.child)
        case Project(list, ch) if list.forall(_.isInstanceOf[Attribute]) =>
          walk(ch)
        case join: Join => Some(join)
        case _ => None
      }
      walk(a.child).exists { jj =>
        ok = (jj.joinType match {
          case org.apache.spark.sql.catalyst.plans.Inner |
              org.apache.spark.sql.catalyst.plans.LeftOuter |
              org.apache.spark.sql.catalyst.plans.RightOuter |
              org.apache.spark.sql.catalyst.plans.FullOuter => true
          case _ => false
        }) &&
          jj.condition.exists(cnd => splitConj(cnd).forall {
            case EqualTo(_: Attribute, _: Attribute) => true
            case _ => false
          })
        ok
      }
    }
    val twins = Seq("left" -> true, "right" -> false).map { case (name, left) =>
      (name, Shims.queryExecution(twinDF(left)).analyzed)
    }
    twins.foreach { case (name, p) =>
      decide(p) match {
        case Left((_, _, reason)) if !factorizableShape(p) =>
          return bail(s"$name twin not cacheable: $reason")
        case _ => ()
      }
    }
    val Seq(aAns, bAns) = twins.map { case (name, p) =>
      rewritePlan(spark, p).map(Shims.ofRows(spark, _))
        .getOrElse(return bail(s"$name twin rewrite declined"))
    }

    // state-sized combine: join the twins on the key, regroup on the
    // original grouping expressions' twin columns, scale measures
    val cond = pairs.indices.map(i => aAns(s"_ka$i") === bAns(s"_kb$i"))
      .reduce(_ && _)
    val joined = aAns.join(bAns, cond,
      effJoinType.sql.toLowerCase.replace(" ", "_"))
    val finalGroupCols = agg.groupingExpressions.indices.map(jx =>
      col(if (groupSide(jx)) s"_ga$jx" else s"_gb$jx"))
    val combineCols = fms.zipWithIndex.map { case (f, i) => f.combine.as(s"_r$i") }
    val resultDF =
      joined.groupBy(finalGroupCols: _*).agg(combineCols.head, combineCols.tail: _*)

    // original output expressions over the combine's columns
    val answered = spliceAnswer(analyzed, agg, aggExprs, resultDF,
      jx => if (groupSide(jx)) s"_ga$jx" else s"_gb$jx") { (ae, i) =>
      Cast(UnresolvedAttribute(Seq(s"_r$i")), ae.dataType)
    }
    info(fp, "factorized join: answered from two per-side twin " +
      "states combined at join-key grain")
    Some(answered)
  }
}
