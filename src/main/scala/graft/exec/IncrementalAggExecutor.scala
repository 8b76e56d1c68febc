package graft.exec

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.QueryCacheConfig
import graft.analysis.{Fingerprint, Stability, TemporalGroupBy}
import graft.cache.CacheCapacityExceeded
import graft.plans.RunBound
import graft.rewrite.Decompose
import graft.rewrite.Decompose.Decomposed

/** Driver-side incremental aggregation executor — the Spark-native port of
  * the reference's planner hook + custom execs
  * (QCAggregateExecPlanner src/aggregate.rs:317-411,
  * CacheUpdateAggregateExec :499-601, CachedAggregateExec :603-688),
  * done with public DataFrame ops per SURVEY §7.1(A):
  *
  *   final agg        -> merge aggregation over state columns
  *   CacheUpdate      -> cache.put(fingerprint, now, mergedState)
  *   Union            -> cachedState.unionByName(newPartialState)
  *   partial agg      -> groupBy(group cols).agg(decomposed state cols)
  *   watermark filter -> childDF.filter(ts >= lastRunTime)
  *
  * Execution properties at scale: the partial aggregation over appended
  * rows keeps Spark's map-side combine and whole-stage codegen; the merge
  * aggregation shuffles only state rows (≤ one per group). A Parquet
  * cache reads state distributed. It commits small state (input scan and
  * collected rows both within `ParquetQueryCache.driverStateMaxBytes`)
  * by collecting it to the driver and writing one file from there, and
  * larger state by a distributed write (the reference always coalesces
  * to 1 partition, src/aggregate.rs:392 — its state is equally tiny).
  *
  * A query that fails any decision branch runs vanilla, with the reason
  * logged (reference decision points, src/aggregate.rs:97-203).
  */
final class IncrementalAggExecutor(val config: QueryCacheConfig) {

  /** Capture-mode fingerprint suffix, shared by the direct lookup and
    * every subsumption twin: strict-mode state covers a different band
    * (see decide), and exact-percentile mode (percentileSketchState=off)
    * must never warm-merge sketch-mode state — the two states share a
    * schema, so only the key can keep them apart. */
  private def fpSuffix: String =
    (if (config.strictUpperBound) ":s1" else "") +
      (if (config.percentileSketchState) "" else ":px0")

  /** Everything decided statically before touching the cache.
    * `dynamicBound` is a `ts >(=) f(now())` predicate to strip from the
    * scan and re-apply at bucket granularity over the merged state. */
  private final case class Cacheable(
      agg: Aggregate,
      fingerprint: String,
      temporalAttr: Attribute,
      aggExprs: Seq[AggregateExpression],
      decomps: Seq[Decomposed],
      dynamicBound: Option[Expression],
      temporalGroupIdx: Option[Int],
      /** agg.child, possibly projection-widened to re-expose the pruned
        * temporal column (reference src/aggregate.rs:136-181) */
      child: LogicalPlan,
      /** attributes sourced from declared-static join sides — the warm
        * path must never apply fact-side delta predicates to these */
      staticOuts: org.apache.spark.sql.catalyst.expressions.AttributeSet,
      /** declared-static Union branches (by reference into `child`): with
        * no strict upper bound, the warm delta replaces them with empty
        * relations — their rows are fully captured by the cold state */
      staticUnionBranches: Seq[LogicalPlan])

  /** dev-only phase timing (SPARK_GRAFT_TIMING=1): attributes warm-path
    * wall-clock to decide/schema/put/splice without a profiler attached */
  private def phase[A](tag: String)(f: => A): A = graft.util.Timing.phase(tag)(f)

  def run(df: DataFrame): DataFrame = {
    val analyzed = Shims.queryExecution(df).analyzed
    rewritePlan(df.sparkSession, analyzed) match {
      case Some(newPlan) => Shims.ofRows(df.sparkSession, newPlan)
      case None => df
    }
  }

  /** Plan-level entry (shared by the facade and the transparent optimizer
    * rule): Some(replacement plan) when the query was cache-rewritten,
    * None to run vanilla. */
  def rewritePlan(spark: SparkSession, analyzed: LogicalPlan): Option[LogicalPlan] = {
    phase("decide")(decide(analyzed)) match {
      case Left((fp, reason)) =>
        // two-fact join aggregates: after the single-state decision bails,
        // try the factorized decomposition (two per-side twin states plus
        // a state-sized combine — see factorizedJoinRewrite)
        val factorized =
          if (config.factorizedJoinState)
            try phase("factorized")(factorizedJoinRewrite(spark, analyzed))
            catch {
              case scala.util.control.NonFatal(e) =>
                config.log.warn(fp,
                  s"factorized join rewrite failed, running uncached: ${e.getMessage}")
                None
            }
          else None
        // no-GROUP-BY aggregate under a dynamic lower bound (reference
        // README.md:132 TODO): bucket internally, bound over bucket
        // starts, re-aggregate — see dynNoGroupRewrite
        val dynNoGroup =
          if (factorized.isEmpty && config.dynamicBoundBucketGranularity)
            try phase("dyn-nogroup")(dynNoGroupRewrite(spark, analyzed))
            catch {
              case scala.util.control.NonFatal(e) =>
                config.log.warn(fp,
                  s"no-group dynamic bound rewrite failed, running uncached: ${e.getMessage}")
                None
            }
          else None
        // simple filter queries (reference README.md:130 TODO): cache
        // the row result itself as an incremental materialized view
        val filterRows =
          if (factorized.isEmpty && dynNoGroup.isEmpty)
            try phase("filter-rows")(filterQueryRewrite(spark, analyzed))
            catch {
              case e: CacheCapacityExceeded =>
                config.log.warn(fp,
                  s"row state too large, running uncached: ${e.getMessage}")
                None
              case scala.util.control.NonFatal(e) =>
                config.log.warn(fp,
                  s"filter-query rewrite failed, running uncached: ${e.getMessage}")
                None
            }
          else None
        val alt = factorized.orElse(dynNoGroup).orElse(filterRows)
        if (alt.isEmpty) config.log.info(fp, s"not caching: $reason")
        alt
      case Right(c) =>
        config.log.info(c.fingerprint,
          s"query valid for caching, temporal column ${c.temporalAttr.name}")
        // opt-in temporal twin: grouped queries WITHOUT a temporal bucket
        // key route through a (grain-bucket × keys) twin so bucket-grain
        // repairs / late bands / dynamic bounds apply; a declined twin
        // falls through to the plain keys-only path
        try {
          val twin =
            if (config.temporalTwinGrain.isDefined)
              phase("bucket-twin")(bucketTwinRewrite(spark, analyzed, c))
            else None
          twin.orElse(Some(execute(spark, analyzed, c)))
        }
        catch {
          case e: CacheCapacityExceeded =>
            config.log.warn(c.fingerprint, s"state too large, running uncached: ${e.getMessage}")
            None
          case scala.util.control.NonFatal(e) =>
            // the cache layer must never break a query: fall back to the
            // vanilla plan (if the query itself is broken, vanilla
            // execution raises the real error to the caller)
            config.log.warn(c.fingerprint,
              s"cache rewrite failed, running uncached: ${e.getMessage}")
            None
        }
    }
  }

  // ---------------------------------------------------------------- decide

  private def decide(analyzed: LogicalPlan): Either[(String, String), Cacheable] = {
    val aggs = analyzed.collect { case a: Aggregate => a }
    if (aggs.isEmpty) return Left(("-", "no aggregate in plan"))
    if (aggs.size > 1) return Left(("-", "nested aggregates not supported"))
    val agg = aggs.head
    // the capture mode is part of the state's identity: strict-mode state
    // covers [-inf, capture_now) while default-mode state covers every row
    // present at capture (including future-dated ones), and the static-
    // union replay prunes branches only in default mode. Re-using one
    // mode's state under the other double-counts (OFF state + ON delta
    // re-reads rows in [wm, now); ON state + OFF pruned static branch
    // loses static rows >= wm) — so a flipped flag must be a cache MISS,
    // not a hit with the wrong band.
    val fp = Fingerprint.of(agg) + fpSuffix
    def bail(msg: String) = {
      config.cache.stats.recordBail()
      Left((fp, msg))
    }

    // subqueries anywhere in the cached subtree's expressions make the
    // entry unsound: a PlanExpression's deterministic flag ignores the
    // nested plan's DATA, and its source tables are absent from the
    // fingerprint — the watermark would never rescan them (parents ABOVE
    // the aggregate are spliced back on top and re-run, so subqueries
    // there remain fine)
    def hasSubquery(es: Seq[Expression]): Boolean =
      es.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    if (hasSubquery(agg.aggregateExpressions) || hasSubquery(agg.groupingExpressions))
      return bail("subquery inside aggregate — not cacheable")

    // temporal group-bys: at most one (reference src/aggregate.rs:97-104).
    // Optimizer-stage plans hide the bucket behind a pulled-out
    // `_groupingexpression` attribute — resolve through the child Project.
    val effectiveGroupExprs = agg.groupingExpressions.map(
      TemporalGroupBy.resolveThroughChild(_, agg.child))
    val temporalGroups = TemporalGroupBy.findAll(effectiveGroupExprs, config)
    if (temporalGroups.size > 1)
      return bail(s"multiple temporal group-bys: ${temporalGroups.map(_.name).mkString(", ")}")
    if (!agg.groupingExpressions.forall(_.deterministic))
      return bail("non-deterministic group expression")

    val needles: Set[String] = temporalGroups.headOption
      .map(a => Set(a.name.toLowerCase))
      .getOrElse(config.temporalColumns.map(_.toLowerCase) +
        config.defaultTemporalColumn.toLowerCase)

    // input shape: Filter/Project chain over a scan leaf, every filter
    // stable (reference src/aggregate.rs:106-135). Joins are accepted ONLY
    // when every non-fact side reads tables the user DECLARED static
    // (config.staticDimensionTables): appended fact rows then join the
    // unchanged dims and merge like bare fact rows. Without the opt-in we
    // reject joins outright — appending fact rows says nothing about
    // dimension-side changes (the reference wraps joins blindly,
    // src/aggregate.rs:130-135).
    var shapeErr: Option[String] = None
    var dynamicBound: Option[Expression] = None
    var staticOutputs = org.apache.spark.sql.catalyst.expressions.AttributeSet.empty
    val staticUnionBranches = ArrayBuffer.empty[LogicalPlan]
    // a declared-static side: every leaf is a LocalRelation (immutable,
    // content-fingerprinted) or a scan over declared tables, and every
    // expression in the subtree is deterministic, subquery-free and free
    // of now() leaves (a dim filtered by now() re-evaluates differently
    // on the next run — not static in the sense the state needs)
    def isStaticSide(side: LogicalPlan): Boolean = {
      val leavesOk = side.collectLeaves().forall {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case l if Shims.isScanLeaf(l) =>
          config.isDeclaredStatic(Shims.sourcePaths(l))
        case _ => false
      }
      leavesOk && side.collect { case n => n }.forall(_.expressions.forall(e =>
        e.deterministic && !hasSubquery(Seq(e)) &&
          !graft.analysis.NowBounds.containsNow(e)))
    }
    def walk(p: LogicalPlan): Unit = if (shapeErr.isEmpty) p match {
      case Filter(cond, child) =>
        Stability.find(cond, needles) match {
          case Stability.Abandon =>
            shapeErr = Some(s"filter expression is not stable: ${cond.sql}")
          case Stability.Found(b) =>
            if (config.dynamicBoundBucketGranularity && temporalGroups.nonEmpty &&
                dynamicBound.isEmpty)
              { dynamicBound = Some(b); walk(child) }
            else if (config.dynamicBoundBucketGranularity && temporalGroups.isEmpty)
              shapeErr = Some("dynamic lower bound requires a temporal group-by bucket")
            else
              shapeErr = Some(s"dynamic lower bound not yet supported: ${b.sql}" +
                " (enable dynamicBoundBucketGranularity)")
          case Stability.FoundNow =>
            shapeErr = Some(s"now() inside filter not yet supported: ${cond.sql}")
          case Stability.Stable => walk(child)
        }
      case Project(exprs, child) =>
        if (!exprs.forall(_.deterministic))
          shapeErr = Some("non-deterministic projection under aggregate")
        else if (hasSubquery(exprs))
          shapeErr = Some("subquery in projection under aggregate — not cacheable")
        else walk(child)
      case SubqueryAlias(_, child) => walk(child)
      case v: View => walk(v.child)
      // grouping sets (cube/rollup): Expand replicates each input row per
      // grouping set, nulling only the GROUP-EXPRESSION slots — the raw
      // temporal column rides through every projection unchanged, so the
      // watermark filter applied above Expand is equivalent to applying
      // it on the scan. State = one row per (grouping set × key), merged
      // like any other group.
      case e: Expand =>
        if (!e.projections.forall(_.forall(_.deterministic)))
          shapeErr = Some("non-deterministic expand projection")
        else walk(e.child)
      case j: Join =>
        if (config.staticDimensionTables.isEmpty)
          shapeErr = Some("join under aggregate — not cacheable (declare " +
            "staticDimensionTables to cache aggregates over static-dimension joins)")
        else if (!j.condition.forall(_.deterministic) || hasSubquery(j.condition.toSeq))
          shapeErr = Some("non-deterministic or subquery join condition — not cacheable")
        // Catalyst marks now()/current_date deterministic (frozen per
        // query) but per RUN they vary: a now()-dependent join condition
        // would make cached state run-time-dependent while fingerprinting
        // identically — the same hazard Stability.FoundNow bails on for
        // filters
        else if (j.condition.exists(graft.analysis.NowBounds.containsNow))
          shapeErr = Some("now() inside join condition — not cacheable")
        else {
          val leftStatic = isStaticSide(j.left)
          val rightStatic = isStaticSide(j.right)
          // merge-safety per join type: an appended FACT row may only ADD
          // output rows. That holds when the fact side is the streamed/
          // outer side and the static dim is the inner side (inner, fact-
          // outer LEFT/RIGHT, semi, anti). A dim on the OUTER side is
          // unsound: an appended fact row can match a previously
          // UNMATCHED dim row, retracting its null-extended output.
          import org.apache.spark.sql.catalyst.plans._
          def accept(static: LogicalPlan, fact: LogicalPlan): Unit = {
            // leaf outputs too, not just the subtree's (possibly pruned)
            // root output: the temporal-column fallback searches LEAVES
            // and widen() could re-expose a dim-side ts a static-side
            // Project had pruned — the later from-static-side bail must
            // see those attributes as static as well
            staticOutputs ++= static.outputSet
            staticOutputs ++= org.apache.spark.sql.catalyst.expressions
              .AttributeSet(static.collectLeaves().flatMap(_.output))
            walk(fact)
          }
          if (leftStatic && rightStatic)
            shapeErr = Some("every join side is a declared-static table — " +
              "nothing to watermark (cache is for append-mostly fact inputs)")
          else if (!leftStatic && !rightStatic)
            shapeErr = Some("join side reads tables not declared static — not cacheable")
          else (j.joinType, leftStatic) match {
            case (Inner, true) => accept(j.left, j.right)
            case (Inner, false) => accept(j.right, j.left)
            case (LeftOuter | LeftSemi | LeftAnti, false) => accept(j.right, j.left)
            case (RightOuter, true) => accept(j.left, j.right)
            case (jt, _) =>
              shapeErr = Some(s"${jt.sql} join with the static table on the " +
                "outer side not supported — inner only there (an appended fact " +
                "row could retract a previously emitted null-extended dim row)")
          }
        }
      // UNION ALL with declared-static branches: a union of the appending
      // fact input with append-free backfill/snapshot tables. Union is
      // merge-safe by construction (appended rows only ADD output rows);
      // the declaration is needed so rows below the watermark provably
      // never change. Semantics per strictUpperBound (see execute()):
      //  - strict ON: no special handling — the S1 contract applies
      //    uniformly (any branch's rows with ts >= run-now are excluded
      //    from that run's state and picked up by the next delta scan);
      //  - strict OFF: the cold state captured static branches IN FULL
      //    (no upper bound), so the warm delta must replace them with
      //    empty relations or any static row at/above the watermark
      //    would be double-counted.
      case u: Union =>
        if (config.staticDimensionTables.isEmpty)
          shapeErr = Some("union under aggregate — not cacheable (declare " +
            "staticDimensionTables to cache aggregates over static-branch unions)")
        else if (u.byName)
          shapeErr = Some("by-name union not resolved positionally — not cacheable")
        else {
          val (staticCh, factCh) = u.children.partition(isStaticSide)
          if (factCh.isEmpty)
            shapeErr = Some("every union branch is a declared-static table — " +
              "nothing to watermark (cache is for append-mostly fact inputs)")
          else if (factCh.size > 1)
            shapeErr = Some("more than one union branch reads non-declared-static " +
              "tables — the watermark can only bound a single appending input")
          else {
            // NOTE: union outputs are NOT added to staticOutputs — a
            // union-output temporal column spans every branch positionally,
            // so filtering it is sound for all branches (unlike a join's
            // dim-side column). widen() has no Union case, so a temporal
            // column found only inside a branch bails naturally.
            staticUnionBranches ++= staticCh
            walk(factCh.head)
          }
        }
      case leaf if Shims.isScanLeaf(leaf) => ()
      case other =>
        shapeErr = Some(s"input ${other.nodeName} beyond scan/filter/project — not cacheable")
    }
    walk(agg.child)
    shapeErr.foreach(e => return bail(e))

    // temporal column: the group-by one, else the configured default in
    // the aggregate input — re-exposed through pruned projections when
    // the optimizer dropped it (reference widens the scan projection the
    // same way, src/aggregate.rs:136-181)
    var child: LogicalPlan = agg.child
    val temporalAttr: Attribute = temporalGroups.headOption.orElse {
      agg.child.output.find(a => config.allowTemporalColumn(a.name))
    }.orElse {
      agg.child.collectLeaves().flatMap(_.output)
        .find(a => config.allowTemporalColumn(a.name) &&
          a.dataType == TimestampType)
        .flatMap { leafAttr =>
          widen(agg.child, leafAttr).map { widened =>
            child = widened
            leafAttr
          }
        }
    } match {
      case Some(a) => a
      case None =>
        return bail(s"temporal column ${config.defaultTemporalColumn} not found in input")
    }
    if (temporalAttr.dataType != TimestampType)
      return bail(s"temporal column ${temporalAttr.name} is ${temporalAttr.dataType.simpleString}, not timestamp")
    // static-join mode: the watermark must bound the FACT side — a
    // temporal column sourced from a declared-static dimension would
    // filter the unchanged dim instead of the appended rows
    if (staticOutputs.contains(temporalAttr))
      return bail(s"temporal column ${temporalAttr.name} comes from a " +
        "declared-static dimension side — the watermark must bound the fact side")
    // a group-by bucket's underlying column can be pruned from the
    // aggregate input (it only feeds the pulled-out bucket projection) —
    // the watermark filter needs it exposed
    if (!child.outputSet.contains(temporalAttr))
      widen(child, temporalAttr) match {
        case Some(w) => child = w
        case None =>
          return bail(s"temporal column ${temporalAttr.name} not exposable through input chain")
      }

    // grouping sets: the watermark filter sits ABOVE Expand, so the
    // temporal attr must be a pass-through slot (identical attribute in
    // every projection). A grouping-set slot is NULLED in subtotal
    // projections — filtering on it would silently drop appended rows
    // from the subtotal/grand-total state.
    val expandNodes = agg.child.collect { case e: Expand => e }
    val temporalNulledByExpand = expandNodes.exists { e =>
      val idx = e.output.indexWhere(_.semanticEquals(temporalAttr))
      idx >= 0 && !e.projections.forall { proj =>
        proj(idx).isInstanceOf[Attribute]
      }
    }
    if (temporalNulledByExpand)
      return bail(s"temporal column ${temporalAttr.name} is a grouping-set slot (nulled per set) — not cacheable")

    // aggregate whitelist (SURVEY §7.1A; the reference instead inherits
    // DataFusion's generic partial state, README.md:34)
    val aggExprs = distinctAggExprs(agg.aggregateExpressions)
    val decomps = new ArrayBuffer[Decomposed]
    aggExprs.zipWithIndex.foreach { case (ae, i) =>
      Decompose.decompose(i, ae, config.percentileSketchState) match {
        case Some(d) => decomps += d
        case None =>
          return bail(s"aggregate not incrementally mergeable: ${ae.sql}")
      }
    }
    if (!agg.aggregateExpressions.forall(_.deterministic))
      return bail("non-deterministic output expression")

    val temporalGroupIdx = temporalGroups.headOption.map { a =>
      effectiveGroupExprs.indexWhere(_.references.toSeq == Seq(a))
    }.filter(_ >= 0).orElse {
      // fall back: index of the group expression referencing the temporal col
      temporalGroups.headOption.map { a =>
        effectiveGroupExprs.indexWhere(_.references.exists(_.semanticEquals(a)))
      }.filter(_ >= 0)
    }

    Right(Cacheable(agg, fp, temporalAttr, aggExprs, decomps.toSeq,
      dynamicBound, temporalGroupIdx, child, staticOutputs,
      staticUnionBranches.toSeq))
  }

  /** Rebuild the Filter/Project chain so `attr` (present on a scan leaf)
    * survives up to the aggregate input. None if the chain is something
    * we can't widen. */
  private def widen(plan: LogicalPlan, attr: Attribute): Option[LogicalPlan] =
    plan match {
      case p @ Project(list, ch) =>
        if (p.outputSet.contains(attr)) Some(p)
        else widen(ch, attr).map(nc => Project(list :+ attr, nc))
      case Filter(cond, ch) => widen(ch, attr).map(nc => Filter(cond, nc))
      case SubqueryAlias(id, ch) => widen(ch, attr).map(nc => SubqueryAlias(id, nc))
      case v: View => widen(v.child, attr)
      case leaf if leaf.outputSet.contains(attr) => Some(leaf)
      // static-join mode: re-expose through whichever join side holds the
      // attribute (join output = left.output ++ right.output, so a widened
      // side widens the join output automatically)
      case j: Join if j.left.collectLeaves().exists(_.outputSet.contains(attr)) =>
        widen(j.left, attr).map(nl => j.copy(left = nl))
      case j: Join if j.right.collectLeaves().exists(_.outputSet.contains(attr)) =>
        widen(j.right, attr).map(nr => j.copy(right = nr))
      case _ => None
    }

  private def distinctAggExprs(outputs: Seq[NamedExpression]): Seq[AggregateExpression] = {
    val found = ArrayBuffer.empty[AggregateExpression]
    outputs.foreach(_.foreach {
      case ae: AggregateExpression =>
        if (!found.exists(_.semanticEquals(ae))) found += ae
      case _ => ()
    })
    found.toSeq
  }

  // --------------------------------------------------------------- execute

  private def execute(spark: SparkSession, analyzed: LogicalPlan,
      c: Cacheable): LogicalPlan = {
    val now = config.nowMicros()
    val tsCol = Shims.column(c.temporalAttr)
    // dynamic bound: state is computed UNBOUNDED (stripped scan) and the
    // bound is re-applied over bucket starts at answer time (README.md:131)
    val effectiveChild = c.dynamicBound match {
      case Some(b) => stripConjunct(c.child, b)
      case None => c.child
    }
    val childDF0 = Shims.ofRows(spark, effectiveChild)
    // S1 strict mode: bound the caching scan above by `now` so future-dated
    // rows can't be double-counted on the next run (SURVEY §2.4 S1)
    val childDF =
      if (config.strictUpperBound) childDF0.filter(tsCol < RunBound.timestamp(now))
      else childDF0

    val groupCols = c.agg.groupingExpressions.zipWithIndex.map {
      case (e, j) => Shims.column(e).as(s"_g$j")
    }
    val stateSpecs = c.decomps.flatMap(_.state)
    val partialCols = stateSpecs.map(s => s.partial.as(s.name))

    def partialState(src: DataFrame): DataFrame =
      if (groupCols.isEmpty) src.agg(partialCols.head, partialCols.tail: _*)
      else src.groupBy(groupCols: _*).agg(partialCols.head, partialCols.tail: _*)

    // analysis-only: the state schema this plan produces (validates cached
    // state; mirrors CachedAggregateExec taking the partial plan's schema,
    // src/aggregate.rs:616-623)
    val stateSchema = phase("stateSchema")(IncrementalAggExecutor.memoGet(
      c.fingerprint, partialState(childDF0.limit(0)).schema))

    val direct = config.cache.get(c.fingerprint) match {
      case Some(cs) if !schemaCompatible(cs.schema, stateSchema) =>
        config.log.warn(c.fingerprint,
          "cached state schema mismatch — treating as miss")
        None
      case other => other
    }
    // SUBSUMPTION: on an exact-fingerprint miss, a warm twin's state
    // adapted to this query (see subsume); the put then stores it under
    // THIS fingerprint, so the next run hits directly
    val entry = direct.orElse(subsume(c, stateSchema))

    // ---- late re-scan band (closes S1's late-data miss within a declared
    // tolerance; see QueryCacheConfig.lateRescanBandMicros): lower the
    // effective watermark to the bucket FLOOR of (wm − band), DROP state
    // buckets at/after it, and let the normal delta scan re-read them —
    // bucket-grain replacement, exact for every measure because a dropped
    // bucket's rows then come only from the re-scan (the same argument as
    // range slicing). The floor is bucket-aligned by construction, so
    // `bucket(ts) >= floor ⟺ ts >= floor` and the delta scan's pushed
    // `ts >= floor` bound re-reads exactly the dropped buckets' rows.
    // NULL-bucket state rows (NULL event time) are kept — no event time,
    // no lateness notion, and the delta never re-reads them. Grouping
    // sets bail (Expand NULLs the bucket slot for subtotal rows, so a
    // bucket comparison would drop subtotal state).
    // set when the band floor cuts on a timestamp bucket column — plain
    // date_trunc ("_gN") or a tumbling-window struct's start
    // ("_gN.start"): (state column path, floor micros). A chain-aware
    // cache then commits the banded refresh at SEGMENT grain
    // (refreshBand) instead of a full state rewrite. Sessions and
    // grouping sets keep the full put.
    var bandRefreshKey: Option[(String, Long)] = None
    val banded = (entry, config.lateRescanBandMicros) match {
      case (Some(cs), Some(band)) if band > 0 =>
        import org.apache.spark.sql.catalyst.expressions.Literal
        val tDt = c.temporalAttr.dataType
        // shape dispatch, most specific first: grouping sets band on the
        // full-grain slot and re-expand; session windows derive their
        // floor from the state's own intervals; plain date_trunc /
        // tumbling buckets floor arithmetically.
        val bandedOpt: Option[graft.cache.CachedState] =
          if (c.agg.child.isInstanceOf[Expand])
            expandLateBand(spark, c, cs, band)
          else sessionGroupIdx(c) match {
            case Some(sIdx) => sessionLateBand(spark, c, cs, band, sIdx)
            case None =>
              // (group index, bucket floor of wm − band, window-struct?):
              // date_trunc keys floor through the trunc expression itself;
              // tumbling-window keys floor with the window arithmetic
              // (t − ((t − start) mod D)), any anchor.
              val floorOpt = temporalBucketTrunc(c).flatMap {
                case (gIdx, trunc) =>
                  Option(trunc.copy(timestamp =
                    Literal(cs.timestampMicros - band, tDt)).eval())
                    .collect { case b: Long => (gIdx, b, false) }
              }.orElse(tumblingShape(c).map { sh =>
                val t = cs.timestampMicros - band
                val m0 = (t - sh.startUs) % sh.durationUs
                val m = if (m0 < 0) m0 + sh.durationUs else m0
                (sh.gIdx, t - m, true)
              })
              floorOpt.collect {
                case (gIdx, b, isStruct) if b < cs.timestampMicros =>
                  val gName = s"_g$gIdx"
                  bandRefreshKey =
                    Some((if (isStruct) s"$gName.start" else gName, b))
                  val keyCol =
                    if (isStruct) col(s"$gName.start") else col(gName)
                  graft.cache.CachedState(b, cs.schema, s =>
                    cs.read(s).filter(
                      keyCol < Shims.column(new RunBound(b, tDt)) ||
                        keyCol.isNull))
              }
          }
        bandedOpt match {
          case Some(cs2) =>
            config.log.info(c.fingerprint,
              s"late re-scan band: effective watermark ${cs.timestampMicros} " +
                s"-> ${cs2.timestampMicros} (band state dropped and re-scanned)")
            Some(cs2)
          case None =>
            config.log.warn(c.fingerprint,
              "lateRescanBand declared but the query shape supports no " +
                "band floor (needs a date_trunc/tumbling bucket, a " +
                "session window, or grouping sets containing the full " +
                "grain) — band skipped, normal watermark used")
            entry
        }
      case _ => entry
    }
    // an ACTIVE band must also re-read declared-static union branches over
    // the band (their contributions to the dropped buckets left the state
    // like everyone else's) — so branch pruning is disabled for this run
    val bandActive = (banded, entry) match {
      case (Some(b2), Some(e)) => b2.timestampMicros < e.timestampMicros
      case _ => false
    }

    // ---- REPAIR RANGES (cache.repairRange — declared historical
    // rewrites): the table owner rewrote rows with event time in
    // [lo, hi), so the state's copy of the covering buckets is stale.
    // With a plain date_trunc or tumbling bucket key, drop EXACTLY those
    // buckets and re-scan just the covering windows from the source
    // (both ends pushed to parquet as raw ts bounds — exact for every
    // measure, the late-band argument: a dropped bucket's rows come only
    // from the re-scan). Grouping sets drop the full-grain set's
    // covering buckets and re-expand the kept state (expandRepair);
    // session windows drop whole sessions between state-derived cuts
    // (sessionRepair). No-bucket grouping REBUILDS loudly — the
    // cost invalidateForTable always paid, now automatic. Ranges
    // at/after the effective
    // watermark are free: the delta scan re-reads them anyway. Repaired
    // runs never chain (old segments would resurrect dropped buckets)
    // and always commit a full put.
    val pendingRep = config.cache.pendingRepairs(c.fingerprint)
    var repairScanRanges: Seq[(Long, Long)] = Nil
    val afterRepair: Option[graft.cache.CachedState] =
      if (pendingRep.isEmpty) banded
      else banded match {
        case None => None // entry gone/mismatched: the cold rebuild consumes
        case Some(cs) =>
          import org.apache.spark.sql.catalyst.expressions.Literal
          val effWm = cs.timestampMicros
          val ranges = IncrementalAggExecutor.mergeRanges(pendingRep.map(r =>
            (r.loMicros, math.min(r.hiMicros, effWm))))
          if (ranges.isEmpty) banded // all at/after the watermark
          else repairSpans(c, ranges, effWm) match {
            case Some((keyPath, spans0)) =>
              val spans = IncrementalAggExecutor.mergeRanges(spans0)
              config.log.info(c.fingerprint, s"repairing ${spans.size} " +
                s"declared rewrite range(s) at bucket grain: dropping " +
                s"state buckets + re-scanning " +
                spans.map(s => s"[${s._1}, ${s._2})").mkString(", "))
              repairScanRanges = spans
              val tDt = c.temporalAttr.dataType
              Some(graft.cache.CachedState(effWm, cs.schema, s => {
                val k = col(keyPath)
                val dropped = spans.map { case (lo, hi) =>
                  k >= Shims.column(Literal(lo, tDt)) &&
                    k < Shims.column(Literal(hi, tDt))
                }.reduce(_ || _)
                cs.read(s).filter(k.isNull || !dropped)
              }))
            case None => expandRepair(c, cs, ranges, effWm) match {
              case Some((spans, st)) =>
                config.log.info(c.fingerprint, s"repairing ${spans.size} " +
                  s"declared rewrite range(s) through the grouping-set " +
                  s"full grain: dropping its covering buckets, " +
                  s"re-expanding kept state, re-scanning " +
                  spans.map(sp => s"[${sp._1}, ${sp._2})").mkString(", "))
                repairScanRanges = spans
                Some(st)
              case None => sessionGroupIdx(c).flatMap(
                  sessionRepair(spark, c, cs, ranges, effWm, _)) match {
                case Some((windows, st)) =>
                  config.log.info(c.fingerprint,
                    s"repairing ${windows.size} declared rewrite " +
                      s"range(s) at session grain: dropping state " +
                      s"sessions inside cut window(s) " +
                      windows.map(w => s"[${w._1}, ${w._2})")
                        .mkString(", ") + " and re-scanning them")
                  repairScanRanges = windows
                  Some(st)
                case None =>
                  config.log.warn(c.fingerprint, "repair ranges pending " +
                    "but the query shape has no droppable bucket key " +
                    "(needs a date_trunc or tumbling-window group, " +
                    "grouping sets with a full grain, or a static-gap " +
                    "session window) — rebuilding state from scratch")
                  None
              }
            }
          }
      }
    val repairActive = repairScanRanges.nonEmpty

    // (merged state, delta partials when the warm commit may CHAIN):
    // `merged` builds the full answer state (for the full put only);
    // `deltaPartials` is just this run's append in state form — a
    // putAppend-capable cache commits it as an O(append) segment instead
    // of rewriting O(groups) state, and the answer merges the chain
    // (the same merge the hit path already runs over state ∪ delta, so
    // chains are sound for every whitelisted state). Banded runs never
    // chain: the band DROPPED buckets from the effective state, and old
    // chain segments would resurrect them.
    val (merged, deltaPartials) = afterRepair match {
      case Some(cs) =>
        config.cache.stats.recordHit()
        config.log.info(c.fingerprint, s"cache hit, watermark=${cs.timestampMicros}")
        // static union branches were captured IN FULL by the cold state
        // when no strict upper bound trimmed them — replace them with
        // empty relations in the delta scan (same output attributes, so
        // the union shape and exprIds are untouched). Under strict mode
        // they stay: the S1 ts-band contract covers every branch equally,
        // and parquet stats prune an all-historical static branch to zero
        // row groups anyway.
        val deltaDF =
          if (c.staticUnionBranches.nonEmpty && !config.strictUpperBound &&
              !bandActive && !repairActive) {
            val pruned = effectiveChild.transformUp {
              case u: Union if u.children.exists(ch =>
                  c.staticUnionBranches.exists(_ eq ch)) =>
                u.withNewChildren(u.children.map(ch =>
                  if (c.staticUnionBranches.exists(_ eq ch))
                    LocalRelation(ch.output)
                  else ch))
            }
            Shims.ofRows(spark, pruned)
          } else childDF
        // dashboard refresh cycles share ONE persisted delta scan per
        // fact table across all views refreshing together (SharedDelta);
        // a repair-pending run keeps the private `deltaDF` ENTIRELY —
        // the repair re-read below needs rows below the watermark the
        // shared scan excludes, and it unions against this append scan,
        // so the two must stay the same (full leaf) width
        val deltaForAppend =
          if (!SharedDelta.cycleActive || repairActive) deltaDF
          else SharedDelta.substituteAppendScan(spark, deltaDF,
            c.temporalAttr, cs.timestampMicros,
            config.temporalPartitionColumn, config.log, c.fingerprint,
            // the consumed root columns: only what the grouping and
            // state expressions read (the analyzed child outputs the
            // full leaf width — registering at that width would read
            // every column of a wide fact table)
            // resolved THROUGH THE ANALYZER over the real partial-state
            // projection: raw `.references` on the spec Columns is empty
            // for DSL-built expressions (unresolved function nodes — the
            // avg/when/cast shapes), which silently pruned their input
            // columns out of the shared scan; the consuming view's
            // rewrite then failed MISSING_ATTRIBUTES and fell back to a
            // FULL UNCACHED SCAN — the shared leg measured 7× SLOWER
            // than private scans (BENCH r13 baseline,
            // shared_delta_speedup_1pct 0.135). Analyzing the projection
            // the warm path actually runs yields the true leaf-attribute
            // set for any spec shape.
            rootNeeded = Some(Shims.queryExecution(partialState(childDF))
              .analyzed.collect {
                // leaf relations excluded: their `expressions` are their
                // own full output, which would widen the shared scan to
                // every column of the fact table (payload included)
                case n if !n.isInstanceOf[
                    org.apache.spark.sql.catalyst.plans.logical.LeafNode] =>
                  n.expressions.flatMap(_.references)
              }.flatten.toSeq))
        // the watermark is a RunBound: it changes on every refresh, and
        // inlined as a plain literal it made the delta-scan stage's
        // generated code new on every refresh (a compile per refresh on
        // the driver and on every executor)
        val wmBound = RunBound.timestamp(cs.timestampMicros)
        val newData0 = deltaForAppend.filter(tsCol >= wmBound)
        // derived partition predicate: with a declared DATE partition
        // column (= CAST(ts AS DATE), see Layouts.writeTimeSeriesPartitioned)
        // the watermark bound implies part >= date(wm) — date() is monotone
        // — which Catalyst turns into directory-level partition pruning, so
        // planning never even lists the history files' splits. Skipped when
        // a projection pruned the column (correct, just less prunable).
        // resolve the partition column to a concrete FACT-side attribute:
        // by-name col(pc) could bind to (or be ambiguous with) a declared-
        // static dim column of the same name, silently filtering the dim
        // side of the delta instead of the appended fact rows
        val pcAttrOpt = config.temporalPartitionColumn.flatMap { pc =>
          effectiveChild.output.find(a => a.name.equalsIgnoreCase(pc) &&
            !c.staticOuts.contains(a))
        }
        val newData = pcAttrOpt match {
          case Some(pcAttr) =>
            newData0.filter(Shims.column(pcAttr) >=
              org.apache.spark.sql.functions.to_date(wmBound))
          case None => newData0
        }
        // repair re-scan: the covering bucket windows JOIN the append
        // bound in one OR'd filter over ONE delta scan — strictly below
        // the effective watermark by construction, so no row is read
        // twice. The OR of raw ts ranges pushes to parquet row-group
        // stats as one Or predicate; each disjunct pairs its range with
        // the derived partition conjunct (part BETWEEN date(lo) AND
        // date(hi−1µs), date() monotone, hi's bound inclusive because
        // ts < hi rows can share hi's date), and partition pruning
        // derives the weaker partition-only OR from the mixed condition.
        // One filtered scan, NOT a unioned second branch: Dataset.union
        // re-ids the right branch's Expand output attributes, and the
        // Expand pushdown rule only moves filters whose references are
        // child passthrough attributes — a unioned grouping-set repair
        // branch would silently re-scan the whole history.
        // Lazy, like `state` and `mergedState` below: only the full put
        // runs the merged state, so a chained commit never lists the
        // chain for it nor analyzes its plan.
        lazy val newDataR =
          if (!repairActive) newData
          else {
            import org.apache.spark.sql.functions.to_date
            val appendCond = {
              val raw = tsCol >= wmBound
              pcAttrOpt match {
                case Some(pcAttr) =>
                  raw && Shims.column(pcAttr) >= to_date(wmBound)
                case None => raw
              }
            }
            deltaDF.filter(repairScanRanges.map { case (lo, hi) =>
              val raw = tsCol >= RunBound.timestamp(lo) &&
                tsCol < RunBound.timestamp(hi)
              pcAttrOpt match {
                case Some(pcAttr) =>
                  raw &&
                    Shims.column(pcAttr) >=
                      to_date(timestamp_micros(lit(lo))) &&
                    Shims.column(pcAttr) <=
                      to_date(timestamp_micros(lit(hi - 1)))
                case None => raw
              }
            }.foldLeft(appendCond)(_ || _))
          }
        // when every state column has a per-row unit form, appended rows
        // feed the merge aggregation DIRECTLY (projected to state shape),
        // skipping the separate partial-aggregate exchange+stage; merge
        // over units equals merge over partials by the StateSpec.unit
        // contract. HLL states have no unit form and take the 2-agg path.
        lazy val state =
          if (stateSpecs.forall(_.unit.isDefined)) {
            val unitCols = groupCols ++ stateSpecs.map(s =>
              s.unit.get.cast(Decompose.nullTolerant(
                stateSchema(s.name).dataType)).as(s.name))
            cs.read(spark).unionByName(newDataR.select(unitCols: _*))
          } else cs.read(spark).unionByName(partialState(newDataR))
        val mergeCols = stateSpecs.map(s => Decompose.mergeColumn(s, stateSchema))
        lazy val mergedState =
          if (groupCols.isEmpty) state.agg(mergeCols.head, mergeCols.tail: _*)
          else state.groupBy(groupCols.indices.map(j => col(s"_g$j")): _*)
            .agg(mergeCols.head, mergeCols.tail: _*)
        // the chained segment is GROUP-GRAINED partial state (one row per
        // group present in the append), never per-row units — a unit
        // segment would persist the raw append. `merged` stays lazy and
        // never executes when the chain commit SUCCEEDS, so the common
        // chained run scans the delta exactly once. A FRACTION-DECLINED
        // commit (a ≥25%-of-chain delta) pays the delta twice — once for
        // the discarded segment write, once inside the full put — an
        // accepted amortized cost: it happens at most once per
        // compaction cycle, on runs whose full state merge dominates the
        // extra delta scan anyway. A banded run's delta partials are
        // offered too, but ONLY when the floor cuts on a bucket column
        // (bandRefreshKey) — they then go through refreshBand, never
        // putAppend (appending a re-read band would duplicate it).
        (() => mergedState,
          if (!config.aggregateStateAppend) None
          else if (repairActive) None // old segments would resurrect buckets
          else if (bandActive && bandRefreshKey.isEmpty) None
          else Some(partialState(newData)))
      case None =>
        config.cache.stats.recordMiss()
        config.log.info(c.fingerprint, "cache miss")
        // MV → AGGREGATE subsumption: a COLD aggregate whose input chain
        // was materialized as a row view (the filter-query cache) builds
        // its first state from (view replay ∪ the view's own delta)
        // instead of scanning history — the view's rows ARE the chain's
        // rows below its watermark, so partial-aggregating replay ∪ delta
        // equals partial-aggregating the full chain, for EVERY measure
        // (row-grain identity, no decomposability argument needed). The
        // replay re-aliases the view's columns back to the chain's
        // original exprIds so group/measure expressions resolve
        // unchanged. Capture modes align by construction (the row fp
        // carries the same fpSuffix), so strict-band semantics and the
        // S1 future-row contract are exactly the view's own. Dynamic
        // bounds and static union branches keep the plain cold scan
        // (their chain shape is not what the view stored).
        val mvSrc: Option[DataFrame] =
          if (config.filterQueryState && c.dynamicBound.isEmpty &&
              c.staticUnionBranches.isEmpty) {
            // rowViewLookup probes the exact row fingerprint AND the
            // refilter lattice: a cold aggregate whose chain adds a
            // conjunct absent from the warm view still cold-starts from
            // the wider view re-filtered — row-grain identity holds for
            // the re-filtered replay exactly as for the exact view
            rowViewLookup(c.child, c.fingerprint).filter { rcs =>
              rcs.schema.length == c.child.output.length &&
                rcs.schema.fields.zip(c.child.output).forall { case (f, a) =>
                  f.name == a.name && f.dataType == a.dataType }
            }.map { rcs =>
              config.log.info(c.fingerprint, "cold state from materialized " +
                s"row view (view wm=${rcs.timestampMicros}) — history " +
                "scan skipped")
              val readPlan = Shims.queryExecution(rcs.read(spark)).analyzed
              val aligned = Project(
                c.child.output.zip(readPlan.output).map { case (oo, na) =>
                  Alias(na, oo.name)(exprId = oo.exprId) }, readPlan)
              Shims.ofRows(spark, aligned).unionByName(
                childDF.filter(tsCol >= RunBound.timestamp(rcs.timestampMicros)))
            }
          } else None
        // the partial aggregation already yields exactly one state row per
        // group, and every merge op is identity on a single row — the
        // miss path skips the merge exchange+aggregation entirely
        (() => partialState(mvSrc.getOrElse(childDF)), None)
    }

    // store merged state stamped with this run's start time — hit or miss
    // (reference src/aggregate.rs:397-399); the returned frame replays
    // exactly what was stored, so the final answer is computed once from
    // the stored state (CachedAggregateExec replay, src/aggregate.rs:680-688).
    // WARM-run state-job latency tuning (cold runs scan the full history
    // and keep every session default): AQE's per-shuffle-stage sub-jobs
    // only add scheduling latency to a job whose output is ≤ one row per
    // group, and tiny files pack together when not padded apart
    // (openCost=0). maxPartitionBytes is LOWERED for the warm scan: after
    // partition/row-group pruning the live bytes are ~the append, which
    // often sits in a handful of files — 32 MB splits keep its decode
    // parallel instead of serializing 1% of the table onto 1-2 tasks.
    val stateConfs =
      if (afterRepair.isDefined)
        Seq(
          "spark.sql.adaptive.enabled" -> "false",
          // ONE split per append file, not one split per append: with
          // openCost=0 every small append file bin-packs into a single
          // split whose lone task OPENS THEM SEQUENTIALLY — cold-read
          // open+footer latency × files was the measured bulk of the warm
          // fixed cost. The default 4 MB open padding keeps small files in
          // separate splits (parallel opens) while minPartitionNum floors
          // the split size so a multi-MB append still fans out; 32 MB max
          // keeps a big backfill append from under-parallelizing.
          "spark.sql.files.minPartitionNum" ->
            spark.sparkContext.defaultParallelism.toString,
          "spark.sql.files.maxPartitionBytes" -> (32L << 20).toString,
          // the merge exchange carries AT MOST one partial-state row per
          // group — session-default reducer counts (one per core) are pure
          // scheduling latency on a near-empty shuffle. Scaled, not flat:
          // a 1000-executor cluster still fans its (bigger) state out.
          "spark.sql.shuffle.partitions" ->
            math.max(4, spark.sparkContext.defaultParallelism / 8).toString)
      else Seq.empty
    // measure-index row recorded BEFORE the put so a durable cache can
    // persist it in the same meta commit (ParquetQueryCache reads the
    // recorded row inside put)
    phase("put.recordMeasures")(
      config.cache.recordMeasures(c.fingerprint, baseFingerprint(c.agg),
        measureRows(c)))
    // confs go on a CLONED session (never mutate the user's session —
    // a save/restore races concurrent queries); rebind the state plan.
    // WARM commits try the O(append) CHAIN first: a putAppend-capable
    // cache writes only this run's group-grained delta partials as a new
    // segment (the full merged state is never read OR written), and the
    // answer below merges the replayed chain — the same merge the hit
    // path runs, so chained and merged entries are interchangeable (no
    // fingerprint split; flipping aggregateStateAppend against a live
    // cache is safe). The cache declines (→ full put, which compacts)
    // when the chain is at its cap or the delta is a large fraction of
    // the chain — a 10%-of-table append re-merges about as cheaply as it
    // chains, and chaining it would multiply answer-time state reads.
    val chained: Option[DataFrame] = deltaPartials.flatMap { dp =>
      phase("cache.putAppend")(
        Shims.withIsolatedConf(spark, stateConfs: _*) { s =>
          val d = phase("put.rebind")(
            if (s eq spark) dp
            else Shims.ofRows(s, Shims.queryExecution(dp).analyzed))
          if (bandActive)
            // banded refresh at segment grain: segments wholly below the
            // bucket floor are kept verbatim, straddlers settle their
            // below-floor partials, the band re-read is the new head —
            // a banded dashboard writes O(band + append), not O(state)
            bandRefreshKey.flatMap { case (gName, floor) =>
              config.cache.refreshBand(c.fingerprint, now, gName, floor, d)
            }
          else config.cache.putAppend(c.fingerprint, now, d,
            compactIfDeltaFraction = Some(0.25))
        })
    }
    val stored = chained match {
      case Some(chain) =>
        // multi-row-per-group partial state: one merge at answer time
        val mergeCols = stateSpecs.map(s => Decompose.mergeColumn(s, stateSchema))
        if (groupCols.isEmpty) chain.agg(mergeCols.head, mergeCols.tail: _*)
        else chain.groupBy(groupCols.indices.map(j => col(s"_g$j")): _*)
          .agg(mergeCols.head, mergeCols.tail: _*)
      case None => phase("cache.put")(
        Shims.withIsolatedConf(spark, stateConfs: _*) { s =>
          val state = phase("put.rebind") {
            val m = merged()
            if (s eq spark) m
            else Shims.ofRows(s, Shims.queryExecution(m).analyzed)
          }
          phase("put.store")(config.cache.put(c.fingerprint, now, state))
        })
    }
    // repairs consumed: the committed state either bucket-repaired the
    // declared ranges or was rebuilt from the post-rewrite table (also
    // covers ranges wholly at/after the watermark — the delta re-read
    // them). Token-scoped: a repair declared DURING this run keeps its
    // own token and survives for the next one. Placed after the put so a
    // CacheCapacityExceeded abort (vanilla fallback) never consumes.
    if (pendingRep.nonEmpty)
      config.cache.clearRepairs(c.fingerprint, pendingRep.map(_.token))
    // index the entry by its source tables — the cache SPI's
    // invalidateForTable(path) remedy for declared-static dims that DID
    // change (recorded only after a successful put; a capacity-rejected
    // state leaves no entry to invalidate)
    config.cache.recordSourcePaths(c.fingerprint, Shims.sourcePaths(c.child))
    graft.plans.CacheReplayStrategy.register(spark)

    // finalize: original output expressions with aggregate functions
    // replaced by their finalize form over state columns, and group
    // expressions replaced by their state column
    val finalizers: Seq[Expression] = c.decomps.map(Decompose.finalizeExpr)
    def rewrite(e: Expression): Expression = {
      val gIdx = c.agg.groupingExpressions.indexWhere(_.semanticEquals(e))
      if (gIdx >= 0) UnresolvedAttribute(Seq(s"_g$gIdx"))
      else e match {
        case ae: AggregateExpression =>
          val i = c.aggExprs.indexWhere(_.semanticEquals(ae))
          require(i >= 0, s"unmapped aggregate ${ae.sql}")
          finalizers(i)
        case _ => e.withNewChildren(e.children.map(rewrite))
      }
    }
    val outCols: Seq[Column] = c.agg.aggregateExpressions.map { o =>
      val core = o match {
        case Alias(child, _) => child
        case other => other
      }
      Shims.column(rewrite(core)).as(o.name)
    }
    // answer-time dynamic bound: temporal col -> its bucket column, now()
    // leaves -> this run's frozen timestamp (Catalyst's ComputeCurrentTime
    // trick applied by hand). Bucket-granularity semantics: a bucket
    // qualifies iff its START satisfies the bound.
    val bounded = c.dynamicBound match {
      case Some(b) =>
        val gName = s"_g${c.temporalGroupIdx.get}"
        // freeze now() leaves the way ComputeCurrentTime does (session-
        // timezone wall clock for current_date/localtimestamp); transparent
        // mode's pre-freeze wrappers carry their payload through here
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val rewrittenBound = graft.analysis.NowBounds.freeze(
          b.transform {
            case a: Attribute if a.semanticEquals(c.temporalAttr) =>
              UnresolvedAttribute(Seq(gName))
            case fb: graft.analysis.FrozenNowBound =>
              graft.analysis.NowBounds.freezeFold(fb.orig, now, tz)
          }, now, tz)
        stored.filter(Shims.column(rewrittenBound))
      case None => stored
    }
    val finalCore = bounded.select(outCols: _*)

    // splice back under whatever sat above the aggregate, preserving the
    // original output exprIds so parents (HAVING/ORDER BY/projections)
    // resolve unchanged
    val finalPlan = phase("splice-analyze")(Shims.queryExecution(finalCore).analyzed)
    val aligned = Project(
      finalPlan.output.zip(c.agg.output).map { case (na, oo) =>
        Alias(na, oo.name)(exprId = oo.exprId)
      }, finalPlan)
    // EXPLAIN/metrics visibility (reference DisplayAs + BaselineMetrics,
    // src/aggregate.rs:530-537,583-585): the whole cache-answered subtree
    // is wrapped in a marker node so df.explain() names the cache, its
    // hit/miss status and watermark, and an SQLMetric counts answered
    // rows. The marker sits ON TOP of the finalize projection: everything
    // under it is Project/Filter over the stored state, which — for a
    // driver-held state (LocalRelation) — ConvertToLocalRelation folds to
    // a LocalRelation at optimization time, and CacheReplayExec then
    // answers collect() without launching a Spark job at all.
    val marked = graft.plans.CacheReplayMarker(aligned, c.fingerprint,
      hit = afterRepair.isDefined,
      watermarkMicros = afterRepair.map(_.timestampMicros))
    analyzed.transformUp {
      case n if n eq c.agg => marked
    }
  }

  // ------------------------------------------------ subsumption search

  /** A plan whose warm state answers the probing query once `adapt` has
    * turned it into the prober's state. `c` keeps the probing query's
    * fingerprint (every log line stays keyed by the query being
    * answered); `fp` is the twin's own, `schema` its state layout and
    * `hit` the line logged when its state serves. */
  private class Twin(val c: Cacheable, val schema: StructType,
      val fp: String, val hit: String,
      val adapt: graft.cache.CachedState => graft.cache.CachedState) {
    /** whether a stored state of this twin has the expected layout */
    def fits(stored: StructType): Boolean = schemaCompatible(stored, schema)
  }

  /** One subsumption rule: the twins of a query with a given state
    * schema, in the order they are tried. */
  private final class Probe(val name: String,
      val twins: (Cacheable, StructType) => Iterator[Twin])

  private val regrain = new Probe("regrain", regrainTwins)
  private val redim = new Probe("redim", redimTwins)
  private val refilter = new Probe("refilter", refilterTwins)
  private val rerange = new Probe("rerange", rerangeTwins)
  private val rehop = new Probe("rehop", rehopTwins)
  private val retumble = new Probe("retumble", retumbleTwins)
  private val rewindow = new Probe("rewindow", rewindowTwins)
  private val regroup = new Probe("regroup", regroupTwins)
  private val rejoin = new Probe("rejoin", rejoinTwins)
  private val remeasure = new Probe("remeasure", remeasureTwins)

  /** The composition graph: the probes tried on a query ("top") and, in
    * the row of the probe that derived it, on each twin, in order. A new
    * edge changes which states a miss searches. */
  private val follows: Map[String, Seq[Probe]] = Map(
    "top" -> Seq(regrain, rerange, rehop, retumble, rewindow, regroup,
      redim, refilter, rejoin, remeasure),
    "regrain" -> Seq(remeasure),
    "redim" -> Seq(regrain, redim, rerange, remeasure),
    "refilter" -> Seq(regrain, redim, refilter, rerange, remeasure),
    "rerange" -> Seq(regrain, redim, refilter, remeasure),
    "rehop" -> Seq(redim, refilter, remeasure, retumble),
    "retumble" -> Seq(redim, refilter, remeasure),
    "rewindow" -> Seq(regrain, redim, refilter, remeasure),
    "regroup" -> Seq(redim, refilter, remeasure),
    "rejoin" -> Seq(remeasure),
    "remeasure" -> Nil)

  /** The most probe steps between a query and the twin whose state
    * serves it: three dimension, filter or range steps, then regrain,
    * then remeasure. Each redim/refilter step multiplies the twins by the
    * declared dimensions, so the bound keeps a miss cheap under a large
    * declaration. */
  private val MaxProbeDepth = 5

  /** On an exact-fingerprint miss: a depth-first search of the twins the
    * probes derive, in `follows` order, for the first with warm state;
    * that state is adapted back through every step of the path. Each
    * step is exact on its own (see the probe), so every path is. A twin
    * with pending repair ranges counts as absent ([[twinState]]); the
    * memo looks each twin fingerprint up once per query, however many
    * paths reach it. */
  private def subsume(c0: Cacheable,
      stateSchema: StructType): Option[graft.cache.CachedState] = {
    val memo = scala.collection.mutable.HashMap
      .empty[String, Option[graft.cache.CachedState]]
    def search(c: Cacheable, schema: StructType, row: String, depth: Int)
        : Option[(graft.cache.CachedState, List[String])] =
      if (depth > MaxProbeDepth) None
      else follows(row).iterator.flatMap { p =>
        p.twins(c, schema).flatMap { t =>
          memo.getOrElseUpdate(t.fp, twinState(t.fp))
            .filter(cs => t.fits(cs.schema)).map((_, List.empty[String]))
            .orElse(search(t.c, t.schema, p.name, depth + 1))
            .map { case (cs, path) =>
              config.log.info(c0.fingerprint, t.hit)
              (t.adapt(cs), p.name :: path)
            }
        }
      }.nextOption()
    search(c0, stateSchema, "top", 1).map { case (cs, path) =>
      config.log.info(c0.fingerprint, s"probe path: ${path.mkString(" > ")}")
      cs
    }
  }

  // ------------------------------------------------ grain subsumption

  /** date_trunc format aliases → canonical grain */
  private val grainAliases = Map(
    "YEAR" -> "YEAR", "YYYY" -> "YEAR", "YY" -> "YEAR",
    "QUARTER" -> "QUARTER",
    "MONTH" -> "MONTH", "MON" -> "MONTH", "MM" -> "MONTH",
    "WEEK" -> "WEEK", "DAY" -> "DAY", "DD" -> "DAY",
    "HOUR" -> "HOUR", "MINUTE" -> "MINUTE", "SECOND" -> "SECOND")

  /** grains whose buckets nest EXACTLY inside the key's buckets in UTC
    * (closest first — the least state to re-aggregate). WEEK only nests
    * days/hours (weeks straddle month boundaries); MONTH does not nest
    * weeks for the same reason. */
  private val finerGrains = Map(
    "MINUTE" -> Seq("second"),
    "HOUR" -> Seq("minute", "second"),
    "DAY" -> Seq("hour", "minute", "second"),
    "WEEK" -> Seq("day", "hour"),
    "MONTH" -> Seq("day", "hour"),
    "QUARTER" -> Seq("month", "day"),
    "YEAR" -> Seq("quarter", "month", "day"))

  /** On an exact-fingerprint miss: look for warm state cached by the
    * SAME query at a finer `date_trunc` grain, and hand it back with the
    * bucket column re-truncated to this query's grain — the merge
    * aggregation then folds finer buckets into coarse ones exactly like
    * any other state re-aggregation. Tries each nesting grain in both
    * common literal casings (the literal's text is part of the
    * fingerprint; canonicalization does not fold it). */
  private def regrainTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, TruncTimestamp}
    val gIdx = c.temporalGroupIdx.getOrElse(return Iterator.empty)
    val groupKey = c.agg.groupingExpressions(gIdx)
    val groupExpr = TemporalGroupBy.resolveThroughChild(groupKey, c.agg.child)
    val f = (groupExpr match {
      case t: TruncTimestamp if t.format.foldable =>
        Option(t.format.eval()).map(_.toString)
      case _ => None
    }).getOrElse(return Iterator.empty)
    val coarse = grainAliases.get(f.toUpperCase(java.util.Locale.ROOT))
      .getOrElse(return Iterator.empty)
    def isMatch(e: Expression): Boolean = e match {
      case t: TruncTimestamp => t.format.foldable &&
        Option(t.format.eval()).exists(v => grainAliases
          .get(v.toString.toUpperCase(java.util.Locale.ROOT))
          .contains(coarse)) &&
        t.timestamp.references.exists(_.semanticEquals(c.temporalAttr))
      case _ => false
    }
    def matchesIn(e: Expression): Int = {
      var n = 0; e.foreach(x => if (isMatch(x)) n += 1); n
    }
    // The grain substitution is only sound at sites the replay later
    // COMPENSATES by re-truncating _g$gIdx: the gIdx grouping key itself
    // (or, for a pulled-out `_groupingexpression` attribute, its defining
    // alias in the child Project) and output subtrees semantically equal
    // to that key — exactly the subtrees `rewrite` maps to _g$gIdx at
    // finalize time. A coarse trunc ANYWHERE else (a filter below the
    // aggregate, inside an aggregate function, inside another grouping
    // key) means the finer twin computed something semantically DIFFERENT
    // at that site, so regrain must bail to a plain miss rather than
    // silently change answers.
    var total = 0
    c.agg.foreach(node => node.expressions.foreach(e => total += matchesIn(e)))
    def safeInOutput(e: Expression): Int =
      if (e.semanticEquals(groupKey)) matchesIn(e)
      else e match {
        // replay maps a whole AggregateExpression to a finalizer over
        // stored state — a trunc INSIDE one is never re-truncated
        case _: AggregateExpression => 0
        case _ => e.children.map(safeInOutput).sum
      }
    var safe = matchesIn(groupKey)
    c.agg.aggregateExpressions.foreach { o =>
      val core = o match { case Alias(ch, _) => ch; case x => x }
      safe += safeInOutput(core)
    }
    var attrLeak = false
    groupKey match {
      case a: Attribute if !(groupExpr eq groupKey) =>
        // pulled-out grouping attribute (transparent mode): its defining
        // alias is the one compensated child site; the attribute itself
        // must not leak into measures or other grouping keys — the finer
        // twin's DEFINITION changed underneath every such use and replay
        // does not re-truncate them.
        safe += matchesIn(groupExpr)
        var attrTotal = 0
        c.agg.expressions.foreach(_.foreach {
          case x: Attribute if x.semanticEquals(a) => attrTotal += 1
          case _ => ()
        })
        def attrIn(e: Expression): Int = {
          var n = 0
          e.foreach { case x: Attribute if x.semanticEquals(a) => n += 1; case _ => () }
          n
        }
        def attrSafeInOutput(e: Expression): Int =
          if (e.semanticEquals(groupKey)) attrIn(e)
          else e match {
            case _: AggregateExpression => 0
            case _ => e.children.map(attrSafeInOutput).sum
          }
        var attrSafe = attrIn(groupKey) // the grouping-list occurrence
        c.agg.aggregateExpressions.foreach { o =>
          val core = o match { case Alias(ch, _) => ch; case x => x }
          attrSafe += attrSafeInOutput(core)
        }
        attrLeak = attrTotal != attrSafe
      case _ => ()
    }
    if (total != safe || safe == 0 || attrLeak) {
      if (total != safe || attrLeak) config.log.info(c.fingerprint,
        s"regrain bail: grain literal used outside the temporal group key " +
          s"($total sites, $safe compensated)")
      return Iterator.empty
    }
    val candidates = for {
      finer <- finerGrains.getOrElse(coarse, Seq.empty)
      lit <- Seq(finer, finer.toUpperCase(java.util.Locale.ROOT),
        finer.capitalize).distinct
    } yield (finer, lit)
    val gName = s"_g$gIdx"
    candidates.iterator.flatMap { case (finer, litText) =>
      var changed = false
      val subAgg = c.agg.transformAllExpressions {
        case t: TruncTimestamp if isMatch(t) =>
          changed = true
          t.copy(format = Literal(litText))
      }
      Option.when(changed) {
        val fp2 = Fingerprint.of(subAgg) + fpSuffix
        new Twin(c.copy(agg = subAgg), stateSchema, fp2,
          s"regrain hit: replaying $finer-grain state " +
            s"${fp2.take(12)} re-truncated to $coarse",
          cs => graft.cache.CachedState(cs.timestampMicros, cs.schema,
            s => cs.read(s).withColumn(gName,
              org.apache.spark.sql.functions.date_trunc(f, col(gName)))))
      }
    }
  }

  // ------------------------------------------- dimension subsumption

  /** On an exact-fingerprint miss: look for warm state cached by the
    * SAME plan grouped by a SUPERSET of this query's keys — the grouping
    * plus one declared dimension column — and hand it back with the
    * extra key column dropped; the merge aggregation then folds the
    * dimension's groups into this query's groups, the same
    * re-aggregation every warm merge performs. The twin is built by pure
    * INSERTION (grouping list + the canonical output position right
    * after the grouping outputs), so unlike grain substitution no other
    * plan site can change meaning: the probe either finds state captured
    * by exactly that superset query or misses. Each twin inserts one
    * dimension; a deeper drill-down is reached by redim following redim,
    * each level merging one key away. */
  private def redimTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    if (config.redimDimensionColumns.isEmpty) return Iterator.empty
    val dims = c.agg.child.output.filter(a =>
      config.redimDimensionColumns.exists(_.equalsIgnoreCase(a.name)) &&
        !c.agg.groupingExpressions.exists(_.references.contains(a)))
    dims.iterator.map(attr =>
      keyedTwin(c, stateSchema, attr, c.agg.child, Nil)(fp =>
        s"redim hit: replaying (${attr.name})-keyed superset state $fp " +
          "merged down"))
  }

  /** The twin of `c` over `child` with `attr` as one more grouping key,
    * its output right after the grouping outputs (the canonical
    * groupBy().agg() shape), shared by redim and refilter. Its state is
    * this plan's with that key inserted after the group columns; the
    * adapter keeps the rows whose key is in `slice` (all when empty) and
    * drops the key, so the merge folds its groups together. */
  private def keyedTwin(c: Cacheable, stateSchema: StructType,
      attr: Attribute, child: LogicalPlan,
      slice: Seq[org.apache.spark.sql.catalyst.expressions.Literal])(
      hit: String => String): Twin = {
    val prefix = c.agg.aggregateExpressions.takeWhile { o =>
      val core = o match { case Alias(ch, _) => ch; case x => x }
      c.agg.groupingExpressions.exists(_.semanticEquals(core))
    }.length
    val nGroup = c.agg.groupingExpressions.length
    val gExtra = s"_g$nGroup"
    val twin = c.agg.copy(
      groupingExpressions = c.agg.groupingExpressions :+ attr,
      aggregateExpressions = (c.agg.aggregateExpressions.take(prefix) :+ attr) ++
        c.agg.aggregateExpressions.drop(prefix),
      child = child)
    val fp2 = Fingerprint.of(twin) + fpSuffix
    val twinSchema = StructType(
      (stateSchema.take(nGroup) :+
        org.apache.spark.sql.types.StructField(gExtra, attr.dataType)) ++
        stateSchema.drop(nGroup))
    new Twin(c.copy(agg = twin), twinSchema, fp2, hit(fp2.take(12)),
      cs => graft.cache.CachedState(cs.timestampMicros,
        StructType(cs.schema.filterNot(_.name == gExtra)), { s =>
          val df = cs.read(s)
          (if (slice.isEmpty) df
           else df.filter(slice.map(v => col(gExtra) === Shims.column(v))
             .reduce(_ || _))).drop(gExtra)
        }))
  }

  /** On an exact-fingerprint miss: a query whose filter carries an
    * equality (or IN-list) conjunct on a declared dimension column can be
    * answered from the warm state of the same plan WITHOUT that conjunct
    * but WITH the dimension as an extra grouping key — the drill-down's
    * state rows whose dim key passes the predicate are, group for group,
    * the partial state this query would have computed (every other state
    * row aggregates only rows the predicate excludes). The replay filters
    * the state on the key and merges the key away; the put then stores
    * sliced state under THIS fingerprint.
    *
    * Soundness: a conjunct referencing one dimension attribute commutes
    * with the aggregate's grouping because the twin keys state BY that
    * attribute. The one shape where stripping the conjunct is NOT
    * row-equivalent is a dim-side filter BELOW an outer join (stripping
    * changes which fact rows get NULL-extended, not just which dim rows
    * match), so candidates sourced from a declared-static side are
    * skipped whenever the plan contains an outer join. */
  private def refilterTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.{
      EqualNullSafe, EqualTo, In, Literal}
    import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftSemi}
    if (config.redimDimensionColumns.isEmpty) return Iterator.empty
    val hasOuterJoin = c.agg.child.exists {
      case j: Join => j.joinType match {
        case Inner | Cross | LeftSemi | LeftAnti => false
        case _ => true
      }
      case _ => false
    }
    def asDim(e: Expression): Option[Attribute] = e match {
      case a: Attribute
        if config.redimDimensionColumns.exists(_.equalsIgnoreCase(a.name)) &&
          c.agg.child.outputSet.contains(a) &&
          !c.agg.groupingExpressions.exists(_.references.contains(a)) &&
          !a.semanticEquals(c.temporalAttr) &&
          !(hasOuterJoin && c.staticOuts.contains(a)) => Some(a)
      case _ => None
    }
    def lits(es: Seq[Expression]): Option[Seq[Literal]] = {
      val ls = es.collect { case l: Literal if l.value != null => l }
      if (ls.length == es.length) Some(ls) else None
    }
    // candidate conjuncts, in filter order: (conjunct, dim attr, values)
    val cands = ArrayBuffer.empty[(Expression, Attribute, Seq[Literal])]
    c.agg.child.foreach {
      case Filter(cond, _) => splitConj(cond).foreach { cj =>
        (cj match {
          case EqualTo(a, v) => asDim(a).flatMap(d => lits(Seq(v)).map((d, _)))
          case EqualTo(v, a) => asDim(a).flatMap(d => lits(Seq(v)).map((d, _)))
          case EqualNullSafe(a, v: Literal) if v.value != null =>
            asDim(a).map((_, Seq(v)))
          case EqualNullSafe(v: Literal, a) if v.value != null =>
            asDim(a).map((_, Seq(v)))
          case In(a, vs) => asDim(a).flatMap(d => lits(vs).map((d, _)))
          case _ => None
        }).foreach { case (d, vs) => cands += ((cj, d, vs)) }
      }
      case _ => ()
    }
    cands.iterator.map { case (cj, attr, vals) =>
      keyedTwin(c, stateSchema, attr, stripConjunct(c.agg.child, cj), vals)(
        fp => s"refilter hit: replaying (${attr.name})-keyed unfiltered " +
          s"state $fp sliced to ${vals.length} value(s)")
    }
  }

  // ----------------------------------------------- range subsumption

  /** The temporal group key resolved to `date_trunc(grain, temporalAttr)`
    * when it has exactly that shape — shared by range subsumption and the
    * late re-scan band (both need to evaluate bucket floors). */
  private def temporalBucketTrunc(c: Cacheable): Option[(Int,
      org.apache.spark.sql.catalyst.expressions.TruncTimestamp)] = {
    import org.apache.spark.sql.catalyst.expressions.TruncTimestamp
    val gIdx = c.temporalGroupIdx.getOrElse(return None)
    val groupKey = c.agg.groupingExpressions(gIdx)
    TemporalGroupBy.resolveThroughChild(groupKey, c.agg.child) match {
      case t: TruncTimestamp if t.format.foldable && (t.timestamp match {
        case a: Attribute => a.semanticEquals(c.temporalAttr)
        case _ => false
      }) => Some((gIdx, t))
      case _ => None
    }
  }

  /** Twin-state fetch for subsumption probes: an entry with PENDING
    * repair ranges (cache.repairRange — a declared historical rewrite)
    * still holds pre-rewrite rows. Only its own exact-fingerprint run may
    * replay it, because that run applies the repair in-flight; a probe
    * replaying it into ANOTHER query's state would bake the stale rows
    * in. Probes therefore treat it as absent (the repair check runs only
    * after the state exists — most probes miss and pay nothing). */
  private def twinState(fp2: String): Option[graft.cache.CachedState] =
    config.cache.get(fp2).filter(_ =>
      config.cache.pendingRepairs(fp2).isEmpty)

  /** Bucket-aligned repair spans for a set of declared rewrite ranges:
    * (state bucket-key path, per-range [dropLo, scanHi) in micros), both
    * ends bucket-aligned so a dropped bucket's rows come ONLY from the
    * re-scan — the same exactness argument as the late re-scan band. The
    * scan upper bound is the bucket AFTER the range's last bucket
    * (clamped to the effective watermark: rows at/after it re-read via
    * the delta scan anyway), so the source re-scan is a raw `ts` range
    * pushed to parquet at both ends. None = the shape has no droppable
    * bucket key (sessions, grouping sets, no-bucket grouping, an
    * unmappable trunc grain) — the caller then tries [[expandRepair]]
    * for grouping sets and rebuilds loudly otherwise. */
  private def repairSpans(c: Cacheable, ranges: Seq[(Long, Long)],
      effWm: Long): Option[(String, Seq[(Long, Long)])] = {
    val tDt = c.temporalAttr.dataType
    if (c.agg.child.isInstanceOf[Expand]) return None
    if (sessionGroupIdx(c).isDefined) return None
    temporalBucketTrunc(c).flatMap { case (gIdx, trunc) =>
      truncRepairSpans(trunc, tDt, ranges, effWm)
        .map(spans => (s"_g$gIdx", spans))
    }.orElse(tumblingShape(c).map { sh =>
      def floor(t: Long) = {
        val m0 = (t - sh.startUs) % sh.durationUs
        val m = if (m0 < 0) m0 + sh.durationUs else m0
        t - m
      }
      (s"_g${sh.gIdx}.start", ranges.map { case (lo, hi) =>
        (floor(lo), math.min(floor(hi - 1) + sh.durationUs, effWm))
      })
    })
  }

  /** Bucket-align declared rewrite ranges through a date_trunc: each
    * [lo, hi) covers [trunc(lo), trunc(hi−1) + 1 unit), clamped to the
    * effective watermark (rows at/after it re-read via the delta scan
    * anyway). None = un-evaluable trunc or an unmapped grain format. */
  private def truncRepairSpans(
      trunc: org.apache.spark.sql.catalyst.expressions.TruncTimestamp,
      tDt: org.apache.spark.sql.types.DataType,
      ranges: Seq[(Long, Long)], effWm: Long): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, TimestampAdd}
    IncrementalAggExecutor.truncAddUnit(trunc.format.eval() match {
      case null => ""
      case f => f.toString
    }).flatMap { unit =>
      val zid = trunc.timeZoneId.orElse(Some(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
      val spans = ranges.map { case (lo, hi) =>
        for {
          tLo <- Option(trunc.copy(timestamp = Literal(lo, tDt)).eval())
            .collect { case v: Long => v }
          tHi <- Option(trunc.copy(timestamp = Literal(hi - 1, tDt)).eval())
            .collect { case v: Long => v }
          next <- Option(TimestampAdd(unit, Literal(1L),
            Literal(tHi, tDt), zid).eval())
            .collect { case v: Long => v }
        } yield (tLo, math.min(next, effWm))
      }
      if (spans.forall(_.isDefined)) Some(spans.map(_.get)) else None
    }
  }

  /** group index of the session_window key, if the query groups by one —
    * the analyzer marks its attribute with `spark.sessionWindow` metadata
    * (the same marker that makes the merge aggregations plan
    * MergingSessions) */
  private def sessionGroupIdx(c: Cacheable): Option[Int] = {
    val i = c.agg.groupingExpressions.indexWhere {
      case a: Attribute => a.metadata.contains("spark.sessionWindow")
      case _ => false
    }
    if (i >= 0) Some(i) else None
  }

  /** Late re-scan band for SESSION-WINDOW aggregates — the floor is
    * STATE-DERIVED, not arithmetic: a fixed floor at wm − band is unsound
    * because a session ending inside the band may have STARTED before it,
    * and dropping that session while re-scanning only `ts ≥ floor` would
    * lose its early rows. Instead the cut point Q is the largest instant
    * ≤ (wm − band) that lies strictly inside NO state session (any key):
    * sessions of one key never chain across such a point (they would
    * have merged), so every session with `end > Q` has `start ≥ Q` —
    * dropping exactly those and re-scanning `ts ≥ Q` re-reads exactly
    * their rows, while kept sessions (`end ≤ Q`) have all rows at
    * `ts ≤ end − gap < Q` and are never re-read. Exact for every
    * measure; the usual bucket-replacement argument with sessions as
    * the buckets and Q as the boundary. Q is a prefix-max computation over
    * start-ordered candidates (session starts + the band floor itself,
    * valid when the running max of earlier ends does not cross),
    * computed SCALABLY: per-day-bucket end maxima, a driver-side running
    * max across the ordered buckets (one row per day of state span), and
    * a bucket-partitioned window for the within-bucket remainder — no
    * global single-partition sort. Continuously-active keys regress Q to
    * their open session's start — inherent, those rows genuinely must
    * re-merge — and the whole computation is state-sized, not
    * fact-sized. */
  private def sessionLateBand(spark: SparkSession, c: Cacheable,
      cs: graft.cache.CachedState, band: Long, sIdx: Int)
      : Option[graft.cache.CachedState] = {
    import org.apache.spark.sql.functions.unix_micros
    val g = s"_g$sIdx"
    val q = sessionCutAtMost(spark, sessionIntervals(spark, cs, sIdx),
      cs.timestampMicros - band).getOrElse(return None)
    if (q >= cs.timestampMicros) return None
    Some(graft.cache.CachedState(q, cs.schema, s =>
      cs.read(s).filter(col(g).isNull ||
        unix_micros(col(s"$g.end")) <= lit(q))))
  }

  /** Prefix-max session-cut validity over the state's (start, end)
    * intervals, shared by the descending ([[sessionCutAtMost]]) and
    * ascending ([[sessionCutAtLeast]]) searches: a candidate instant c
    * is a valid cut iff max end among sessions with start < c is ≤ c —
    * then no session (any key) strictly contains c. Computed SCALABLY:
    * per-day-bucket end maxima, a driver-side running max across the
    * ordered buckets (one row per day of state span — bounded and
    * tiny), and a bucket-partitioned window for the strictly-within-
    * bucket remainder — no global single-partition sort. Ties on s
    * exclude each other on both paths (strict-inequality frame).
    * `contrib` feeds the prefix max; `synthetic` adds one candidate
    * whose own end never suppresses others relevant to the search. */
  /** the state's session intervals as (s, e) epoch micros — the input
    * every cut computation shares (cache it when computing several) */
  private def sessionIntervals(spark: SparkSession,
      cs: graft.cache.CachedState, sIdx: Int): DataFrame = {
    import org.apache.spark.sql.functions.unix_micros
    val g = s"_g$sIdx"
    cs.read(spark).filter(col(g).isNotNull)
      .select(unix_micros(col(s"$g.start")).as("s"),
        unix_micros(col(s"$g.end")).as("e"))
  }

  private def sessionCutCandidates(spark: SparkSession, base: DataFrame,
      contribFilter: Column => Column, synthetic: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, max}
    val st = base.filter(contribFilter(col("s")))
    // integer DIV, not double division+floor: session starts are
    // positive epoch micros and s/W as doubles could round at exact
    // bucket boundaries near 2^53
    val cand = st.unionByName(spark.range(1)
      .select(lit(synthetic).as("s"), lit(synthetic).as("e")))
      .withColumn("b", org.apache.spark.sql.functions.expr(
        "s DIV 86400000000"))
    val bucketRows = cand.groupBy(col("b"))
      .agg(max(col("e")).as("bmax"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var run = Long.MinValue
    val prefixRows = bucketRows.map { case (b, bmax) =>
      val before = run
      run = math.max(run, bmax)
      (b, before)
    }.filter(_._2 != Long.MinValue).toSeq
    import spark.implicits._
    val prefixDF = broadcast(prefixRows.toDF("b", "pbefore"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("s"))
      .rangeBetween(Window.unboundedPreceding, -1)
    cand.join(prefixDF, Seq("b"), "left_outer")
      .withColumn("pin", max(col("e")).over(wIn))
      .withColumn("pmax", org.apache.spark.sql.functions.greatest(
        col("pin"), col("pbefore")))
      .filter(col("pmax").isNull || col("pmax") <= col("s"))
  }

  /** Largest valid session cut ≤ atMost. Sessions starting after atMost
    * can neither be candidates nor contribute to any candidate's prefix
    * max, so they are filtered from the contribution set; the synthetic
    * candidate is atMost itself (qualifying exactly when no session
    * spans it). */
  private def sessionCutAtMost(spark: SparkSession, base: DataFrame,
      atMost: Long): Option[Long] = {
    import org.apache.spark.sql.functions.max
    val row = sessionCutCandidates(spark, base, _ <= lit(atMost), atMost)
      .agg(max(col("s"))).first()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Smallest valid session cut ≥ atLeast. ALL sessions contribute to
    * the prefix max (earlier sessions can straddle a late candidate);
    * candidates are session starts ≥ atLeast plus atLeast itself (its
    * synthetic end = itself never suppresses later candidates: their
    * starts are ≥ it already). None = every candidate is straddled —
    * the caller falls back to the effective watermark, which is always
    * a sound upper cut (no state session starts at/after it, so the
    * window simply extends to the delta boundary). */
  private def sessionCutAtLeast(spark: SparkSession, base: DataFrame,
      atLeast: Long): Option[Long] = {
    import org.apache.spark.sql.functions.min
    val row = sessionCutCandidates(spark, base, _ => lit(true), atLeast)
      .filter(col("s") >= lit(atLeast))
      .agg(min(col("s"))).first()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Session gap duration in micros, recovered by evaluating the session
    * struct's defining expression at a pinned timestamp: the analyzer's
    * SessionWindowing rule projects session_window = struct(start = ts,
    * end = ts + gap), so end − start at any literal ts IS the gap.
    * None = dynamic gap or an unexpected defining shape — the caller
    * bails to the loud rebuild. */
  private def sessionGap(c: Cacheable, sIdx: Int): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val sAttr = c.agg.groupingExpressions(sIdx) match {
      case a: Attribute => a
      case _ => return None
    }
    val defExpr = c.agg.child.collect { case p: Project => p.projectList }
      .flatten.collectFirst {
        case al: Alias if al.exprId == sAttr.exprId => al.child
      }.getOrElse(return None)
    val sub = defExpr.transform {
      case a: Attribute if a.semanticEquals(c.temporalAttr) =>
        Literal(1700000000000000L, c.temporalAttr.dataType)
    }
    if (sub.references.nonEmpty) return None
    try sub.eval() match {
      case r: org.apache.spark.sql.catalyst.InternalRow if r.numFields >= 2 =>
        val gap = r.getLong(1) - r.getLong(0)
        if (gap > 0) Some(gap) else None
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Repair for SESSION-WINDOW aggregates (cache.repairRange): per
    * declared range [lo, hi), the re-scan window is [Q, C) where
    * Q = largest valid cut ≤ lo and C = smallest valid cut ≥ hi + gap
    * (falling back to the effective watermark when none exists below
    * it). Q is safe on the left because rows < Q are untouched by the
    * rewrite (Q ≤ lo) and the cut property leaves no row in (Q−gap, Q)
    * in either vintage; C needs the extra gap margin: a rewritten row
    * just below hi could chain across any instant closer than hi + gap.
    * State sessions strictly inside a window are dropped (no session
    * straddles a valid cut, so "intersects" = "is contained") and their
    * rows re-read; kept sessions' rows all fall outside the windows.
    * Exact for every measure — the session late band's replacement
    * argument applied to interior windows. */
  private def sessionRepair(spark: SparkSession, c: Cacheable,
      cs: graft.cache.CachedState, ranges: Seq[(Long, Long)], effWm: Long,
      sIdx: Int): Option[(Seq[(Long, Long)], graft.cache.CachedState)] = {
    import org.apache.spark.sql.functions.unix_micros
    val gap = sessionGap(c, sIdx).getOrElse(return None)
    val g = s"_g$sIdx"
    // one cached interval projection serves every cut computation (two
    // jobs each): without it, R ranges re-read the session state ~4R
    // times before the repair scan even starts
    val base = sessionIntervals(spark, cs, sIdx).cache()
    val windows0 =
      try ranges.map { case (lo, hi) =>
        val q = sessionCutAtMost(spark, base, lo).getOrElse(return None)
        val cUp = math.min(effWm,
          sessionCutAtLeast(spark, base, hi + gap).getOrElse(effWm))
        (q, cUp)
      } finally base.unpersist()
    val windows = IncrementalAggExecutor.mergeRanges(windows0)
    Some((windows, graft.cache.CachedState(effWm, cs.schema, s => {
      val sCol = unix_micros(col(s"$g.start"))
      val eCol = unix_micros(col(s"$g.end"))
      cs.read(s).filter(col(g).isNull || !windows.map { case (lo, hi) =>
        eCol > lit(lo) && sCol < lit(hi)
      }.reduce(_ || _))
    })))
  }

  /** Late re-scan band for GROUPING-SET aggregates (rollup/cube/GROUPING
    * SETS containing the full grain). Expand NULLs the bucket slot in
    * subtotal projections, so subtotal state rows cannot be
    * bucket-dropped directly — but the FULL-GRAIN set's rows are keyed by
    * the real bucket, and every other set is a merge-away of the full
    * grain (the regroup contract). So the band: keep only full-grain
    * state rows below the bucket floor, RE-EXPAND them into every
    * projection (absent keys nulled, that set's grouping-id literal) and
    * discard all other state rows; the delta scan from the floor flows
    * through the query's own Expand and regenerates every set's partials
    * for the re-read rows. Exact per set: the kept/re-scanned split
    * partitions raw rows by bucket, and each set's aggregate is a merge
    * over that partition. Requires exactly one full-grain projection
    * (rollup and cube always have one) and a date_trunc temporal bucket
    * among the key slots; anything else returns None → loud skip. */
  private def expandLateBand(spark: SparkSession, c: Cacheable,
      cs: graft.cache.CachedState, band: Long)
      : Option[graft.cache.CachedState] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val sh = expandShape(c).getOrElse(return None)
    val tDt = c.temporalAttr.dataType
    val b = Option(sh.trunc.copy(timestamp =
      Literal(cs.timestampMicros - band, tDt)).eval())
      .collect { case v: Long => v }.getOrElse(return None)
    if (b >= cs.timestampMicros) return None
    // full-grain rows below the floor (NULL buckets = NULL event time
    // rows: kept, never re-read), re-expanded into every set
    Some(graft.cache.CachedState(b, cs.schema, s =>
      expandStateRead(c, cs, sh, k =>
        k < Shims.column(Literal(b, tDt)) || k.isNull)(s)))
  }

  /** Repair for GROUPING-SET aggregates (cache.repairRange): the same
    * full-grain re-expansion as the late band, but dropping only the
    * declared ranges' covering buckets instead of a floor suffix. Kept =
    * full-grain rows whose bucket is NULL (no event time — a ts-range
    * rewrite cannot touch them) or outside every span; the span windows
    * union into the delta re-scan, flow through the query's own Expand,
    * and regenerate every set's partials for the re-read rows. Exact per
    * set by the band's partition argument: kept vs re-scanned splits raw
    * rows by full-grain bucket, and every set is a merge-away of the
    * full grain. Returns (bucket-aligned re-scan spans, state). */
  private def expandRepair(c: Cacheable, cs: graft.cache.CachedState,
      ranges: Seq[(Long, Long)], effWm: Long)
      : Option[(Seq[(Long, Long)], graft.cache.CachedState)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val sh = expandShape(c).getOrElse(return None)
    val tDt = c.temporalAttr.dataType
    val spans0 = truncRepairSpans(sh.trunc, tDt, ranges, effWm)
      .getOrElse(return None)
    val spans = IncrementalAggExecutor.mergeRanges(spans0)
    Some((spans, graft.cache.CachedState(effWm, cs.schema, s =>
      expandStateRead(c, cs, sh, k =>
        k.isNull || !spans.map { case (lo, hi) =>
          k >= Shims.column(Literal(lo, tDt)) &&
            k < Shims.column(Literal(hi, tDt))
        }.reduce(_ || _))(s))))
  }

  /** Slot analysis of a grouping-set aggregate (rollup / cube / GROUPING
    * SETS containing the full grain), shared by the late band and the
    * repair path: the grouping-id slot's per-projection literals, the
    * single full-grain projection, each projection's live key set, and
    * the temporal date_trunc bucket slot. None = any shape surprise
    * (computed key slots, no/duplicate full-grain set, no trunc bucket
    * among the keys). */
  private final case class ExpandShape(
      ex: Expand, gidIdx: Int,
      gidLits: Seq[org.apache.spark.sql.catalyst.expressions.Literal],
      fullProj: Int, liveOf: Seq[Set[Int]], bIdx: Int,
      trunc: org.apache.spark.sql.catalyst.expressions.TruncTimestamp)

  private def expandShape(c: Cacheable): Option[ExpandShape] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, TruncTimestamp}
    val ExpandSlots(ex, _, gidIdx, gidSlot, keyGroups, defAttr, projAliases) =
      c.agg.child match {
        case e: Expand => expandSlots(c, e).getOrElse(return None)
        case _ => return None
      }
    val liveOf: Seq[Set[Int]] = ex.projections.map(p =>
      keyGroups.collect {
        case (j, s0) if p(s0).isInstanceOf[Attribute] => j }.toSet)
    val fullProj = liveOf.zipWithIndex.collect {
      case (l, i) if l.size == keyGroups.size => i
    } match {
      case Seq(one) => one
      case _ => return None // no (or duplicate) full-grain set
    }
    val (bIdx, trunc) = keyGroups.flatMap { case (j, _) =>
      projAliases.getOrElse(defAttr(j).exprId, defAttr(j)) match {
        case t: TruncTimestamp if t.format.foldable && (t.timestamp match {
          case a: Attribute => a.semanticEquals(c.temporalAttr)
          case _ => false
        }) => Some((j, t))
        case _ => None
      }
    } match {
      case Seq(one) => one
      case _ => return None
    }
    val gidLits: Seq[Literal] =
      ex.projections.map(_(gidSlot).asInstanceOf[Literal])
    Some(ExpandShape(ex, gidIdx, gidLits, fullProj, liveOf, bIdx, trunc))
  }

  /** The slots of an aggregate over Expand, shared by regroup and
    * [[expandShape]]: each grouping expression's Expand slot, the one
    * grouping-id slot (a literal in every projection), each key slot's
    * defining attribute (a null literal in the sets that leave it out)
    * and the aliases of the Project under Expand. Left = why the plan
    * does not have that shape. */
  private final case class ExpandSlots(ex: Expand,
      groupSlots: Seq[(Int, Int)], gidIdx: Int, gidSlot: Int,
      keyGroups: Seq[(Int, Int)], defAttr: Map[Int, Attribute],
      projAliases: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
        Expression])

  private def expandSlots(c: Cacheable,
      ex: Expand): Either[String, ExpandSlots] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val groupSlots: Seq[(Int, Int)] =
      c.agg.groupingExpressions.zipWithIndex.map { case (g, j) =>
        g match {
          case a: Attribute =>
            val s = ex.output.indexWhere(_.semanticEquals(a))
            if (s < 0) return Left(s"group expression is not an Expand slot: ${g.sql}")
            (j, s)
          case _ =>
            return Left(s"group expression is not an Expand output attribute: ${g.sql}")
        }
      }
    val (gidGroups, keyGroups) = groupSlots.partition { case (_, s) =>
      ex.projections.forall(_(s).isInstanceOf[Literal])
    }
    val (gidIdx, gidSlot) = gidGroups match {
      case Seq(one) => one
      case other => return Left(
        s"expected exactly one grouping-id slot, found ${other.size}")
    }
    val defAttr: Map[Int, Attribute] = keyGroups.map { case (j, s) =>
      val vals = ex.projections.map(_(s))
      val attrs = vals.collect { case a: Attribute => a }.distinct
      if (attrs.size != 1 || !vals.forall {
        case _: Attribute => true
        case l: Literal => l.value == null
        case _ => false
      }) return Left(s"group slot $s is not attr-or-null with one defining attribute")
      j -> attrs.head
    }.toMap
    val projAliases = ex.child match {
      case Project(list, _) =>
        list.collect { case al: Alias => al.exprId -> al.child }.toMap
      case _ => Map.empty[
        org.apache.spark.sql.catalyst.expressions.ExprId, Expression]
    }
    Right(ExpandSlots(ex, groupSlots, gidIdx, gidSlot, keyGroups, defAttr,
      projAliases))
  }

  /** Re-expanded state read shared by the grouping-set band and repair:
    * full-grain state rows passing `keep` (a predicate on the bucket
    * column) re-expand into every projection (absent keys nulled, that
    * set's grouping-id literal); all other state rows are discarded —
    * each set's aggregate is a merge of full-grain buckets, and dropped
    * buckets' rows re-enter via the re-scan. */
  private def expandStateRead(c: Cacheable, cs: graft.cache.CachedState,
      sh: ExpandShape, keep: Column => Column)(s: SparkSession): DataFrame = {
    val stateCols = cs.schema.fields.map(_.name)
      .filterNot(_.startsWith("_g")).toSeq
    val fullRows = cs.read(s)
      .filter(col(s"_g${sh.gidIdx}") ===
        Shims.column(sh.gidLits(sh.fullProj)))
      .filter(keep(col(s"_g${sh.bIdx}")))
    sh.ex.projections.indices.map { p =>
      fullRows.select((c.agg.groupingExpressions.indices.map { j =>
        val cc =
          if (j == sh.gidIdx) Shims.column(sh.gidLits(p))
          else if (sh.liveOf(p)(j)) col(s"_g$j")
          else lit(null).cast(cs.schema(s"_g$j").dataType)
        cc.as(s"_g$j")
      } ++ stateCols.map(col)): _*)
    }.reduce(_ unionByName _)
  }

  /** On an exact-fingerprint miss: a query whose filter carries
    * bucket-ALIGNED range conjuncts on the raw temporal column can be
    * answered from the warm state of the same plan WITHOUT those
    * conjuncts, sliced on the temporal bucket key (the "show me June" /
    * "this week" dashboard slice — one unbounded warm entry serves every
    * aligned window).
    *
    * Soundness: an aligned range is a union of COMPLETE buckets, so for
    * every retained group the multiset of contributing rows is identical
    * between "filter the fact rows by the range" and "keep the whole
    * bucket" — wherever the Filter sits among the accepted shapes
    * (Filter/Project/Join chains; rows added by stripping carry an
    * out-of-range or NULL bucket and are sliced away, and no accepted
    * operator lets an added row affect a retained row). That makes the
    * slice exact for EVERY measure, including measures over the temporal
    * column itself — no confinement analysis needed, unlike regrain. At
    * micros resolution every comparison has an aligned normal form
    * (`ts > v` ≡ `ts >= v+1µs`, `ts <= v` ≡ `ts < v+1µs`), so BETWEEN
    * slices too.
    *
    * UNALIGNED bounds: a bound inside a bucket splits the window into
    * complete INTERIOR buckets — answered from the sliced state as
    * above — plus at most two partial EDGE SLIVERS, answered by a
    * bounded compensation scan: the original child filtered to the
    * sliver range (and below the twin's watermark), partially
    * aggregated, and unioned into the
    * replayed state. The edge bucket's group key truncates sliver rows
    * onto itself and the interior slice excludes that bucket, so the
    * merge re-aggregates the sliver partial with only this run's delta —
    * exactly the rows the vanilla filter keeps there. At 100 TB the warm
    * scan is ≤ 2 bucket-widths of fact (parquet min/max row-group
    * pruning applies — the sliver predicate is a pushed ts range)
    * instead of the whole window. Fixed-width grains only
    * (second/minute/hour/day/week; day/week step through trunc itself so
    * DST-variable widths stay correct); month+ slivers run vanilla.
    *
    * Bails: non-date_trunc temporal bucket (window buckets carry their
    * own alignment), grouping sets (Expand NULLs the bucket slot for
    * subtotal rows, so a bucket slice would drop subtotals),
    * non-foldable bounds, conjuncts whose attribute is not the
    * fact-side temporal attribute, windows inside < 2 complete buckets
    * (no state value — plain miss). */
  private def rerangeTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.{
      GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
    val (gIdx, trunc) = temporalBucketTrunc(c).getOrElse(return Iterator.empty)
    if (c.agg.child.exists(_.isInstanceOf[Expand])) return Iterator.empty
    val tDt = c.temporalAttr.dataType
    def truncOf(m: Long): Option[Long] =
      Option(trunc.copy(timestamp = Literal(m, tDt)).eval())
        .collect { case v: Long => v }
    def aligned(micros: Long): Boolean = truncOf(micros).contains(micros)
    def litMicros(e: Expression): Option[Long] = e match {
      // now() leaves are foldable yet UNEVALUABLE pre-optimization
      // (ComputeCurrentTime has not run on an analyzed plan) — a facade-
      // mode dynamic conjunct reaching this eval would throw, so exclude
      // them: the dynamic bound is never a static range candidate, it is
      // re-applied over bucket starts at answer time
      case l if l.foldable && l.dataType == tDt && l.references.isEmpty &&
          !graft.analysis.NowBounds.containsNow(l) =>
        Option(l.eval()).collect { case v: Long => v }
      case _ => None
    }
    def isT(e: Expression): Boolean = e match {
      case a: Attribute =>
        a.semanticEquals(c.temporalAttr) && !c.staticOuts.contains(a)
      case _ => false
    }
    def plus1(m: Long): Option[Long] =
      if (m < Long.MaxValue) Some(m + 1) else None
    // conjunct → raw ROW-level inclusive-lower (Left) / exclusive-upper
    // (Right) bound in micros (µs normal forms make every comparison
    // half-open; alignment is judged on the COMBINED window below)
    def bound(cj: Expression): Option[Either[Long, Long]] = cj match {
      case GreaterThanOrEqual(t, v) if isT(t) => litMicros(v).map(Left(_))
      case LessThanOrEqual(v, t) if isT(t) => litMicros(v).map(Left(_))
      case GreaterThan(t, v) if isT(t) =>
        litMicros(v).flatMap(plus1).map(Left(_))
      case LessThan(v, t) if isT(t) =>
        litMicros(v).flatMap(plus1).map(Left(_))
      case LessThan(t, v) if isT(t) => litMicros(v).map(Right(_))
      case GreaterThan(v, t) if isT(t) => litMicros(v).map(Right(_))
      case LessThanOrEqual(t, v) if isT(t) =>
        litMicros(v).flatMap(plus1).map(Right(_))
      case GreaterThanOrEqual(v, t) if isT(t) =>
        litMicros(v).flatMap(plus1).map(Right(_))
      case _ => None
    }
    val cands = ArrayBuffer.empty[(Expression, Either[Long, Long])]
    c.agg.child.foreach {
      case Filter(cond, _) =>
        splitConj(cond).foreach(cj => bound(cj).foreach(b => cands += ((cj, b))))
      case _ => ()
    }
    if (cands.isEmpty) return Iterator.empty
    // the conjuncts' intersection as one half-open row window [rowL, rowU)
    val lowers = cands.collect { case (_, Left(l)) => l }
    val uppers = cands.collect { case (_, Right(u)) => u }
    val rowL: Option[Long] = if (lowers.isEmpty) None else Some(lowers.max)
    val rowU: Option[Long] = if (uppers.isEmpty) None else Some(uppers.min)
    if (rowL.exists(l => rowU.exists(_ <= l))) return Iterator.empty // empty window
    // fixed-width grains support sliver compensation; the step loop
    // walks through trunc itself so a DST-variable day/week still lands
    // on the true next bucket start
    val widthOpt: Option[Long] =
      Option(trunc.format.eval()).map(_.toString.toLowerCase).collect {
        case "second" => 1000000L
        case "minute" => 60L * 1000000L
        case "hour" => 3600L * 1000000L
        case "day" | "dd" => 86400L * 1000000L
        case "week" => 7L * 86400L * 1000000L
      }
    def nextBucketStart(b0: Long): Option[Long] = widthOpt.flatMap { w =>
      var cand = b0 + w
      var t = truncOf(cand)
      var tries = 0
      while (t.exists(_ <= b0) && tries < 3) {
        cand += 3600L * 1000000L; t = truncOf(cand); tries += 1
      }
      t.filter(_ > b0)
    }
    // aligned interior bounds + the edge slivers a compensation scan
    // must cover ([row bound, bucket boundary) half-open ranges)
    val sliverRanges = ArrayBuffer.empty[(Long, Long)]
    val iL: Option[Long] = rowL match {
      case Some(l) if aligned(l) => Some(l)
      case Some(l) =>
        val nb = truncOf(l).flatMap(nextBucketStart).getOrElse(return Iterator.empty)
        sliverRanges += ((l, math.min(nb, rowU.getOrElse(nb))))
        Some(nb)
      case None => None
    }
    val iU: Option[Long] = rowU match {
      case Some(u) if aligned(u) => Some(u)
      case Some(u) =>
        val fb = truncOf(u).getOrElse(return Iterator.empty)
        sliverRanges += ((math.max(fb, rowL.getOrElse(fb)), u))
        Some(fb)
      case None => None
    }
    // whole window inside < 2 complete buckets: no state value — plain
    // miss (the cold run stores this query's own state for next time)
    if (iL.exists(l => iU.exists(_ <= l))) return Iterator.empty
    // a dynamic bound composes with slivers: state is unbounded on both
    // sides and the frozen bound re-applies over bucket STARTS at answer
    // time — a sliver partial carries the edge bucket's start as its
    // group key, so the bucket-granularity filter treats it exactly like
    // a replayed state row. The sliver SCAN strips the dynamic conjunct
    // (below), mirroring the delta scan: evaluating it row-level at scan
    // time would contradict bucket-start semantics.
    val twin = c.agg.copy(child = cands.foldLeft(c.agg.child) {
      case (p, (cj, _)) => stripConjunct(p, cj)
    })
    val fp2 = Fingerprint.of(twin) + fpSuffix
    val gName = s"_g$gIdx"
    val pred = (iL.map(l => col(gName) >= Shims.column(Literal(l, tDt))).toSeq ++
      iU.map(u => col(gName) < Shims.column(Literal(u, tDt)))).reduce(_ && _)
    Iterator.single(new Twin(c.copy(agg = twin), stateSchema, fp2,
      s"rerange hit: replaying unbounded state ${fp2.take(12)} sliced " +
        s"by ${cands.length} bound(s) on $gName" +
        (if (sliverRanges.isEmpty) ""
         else s" + compensation scan over ${sliverRanges.length} " +
           "partial edge bucket(s)"),
      { cs =>
        if (sliverRanges.isEmpty)
          graft.cache.CachedState(cs.timestampMicros, cs.schema,
            s => cs.read(s).filter(pred))
        else {
          val svs = sliverRanges.toList
          graft.cache.CachedState(cs.timestampMicros, cs.schema, { s =>
            // partial state over the sliver rows BELOW the twin's
            // watermark (rows >= watermark arrive through the normal
            // delta scan). The sliver predicate is a pushed ts range —
            // parquet min/max row-group pruning bounds the scan to ≤ 2
            // bucket-widths of fact regardless of history size.
            val tsC = Shims.column(c.temporalAttr)
            // derived partition predicate, mirroring the delta path: with
            // a declared DATE partition column the sliver's ts range
            // implies part BETWEEN date(lo) AND date(hi) — date() is
            // monotone and hi's date bound is inclusive because ts < hi
            // rows may still fall on date(hi). Directory-level pruning:
            // a date-partitioned layout then lists only the ≤ 2 edge
            // buckets' partitions instead of every history directory
            // (row-group min/max alone still reads all the footers).
            // Perf only — the conjunct is implied, results unchanged.
            val partAttr = config.temporalPartitionColumn.flatMap { pc =>
              c.child.output.find(a => a.name.equalsIgnoreCase(pc) &&
                !c.staticOuts.contains(a))
            }
            val sliverPred = svs.map { case (lo, hi) =>
              val base = tsC >= Shims.column(Literal(lo, tDt)) &&
                tsC < Shims.column(Literal(hi, tDt))
              partAttr.map { pa =>
                val paC = Shims.column(pa)
                base &&
                  paC >= org.apache.spark.sql.functions.to_date(
                    Shims.column(Literal(lo, tDt))) &&
                  paC <= org.apache.spark.sql.functions.to_date(
                    Shims.column(Literal(hi, tDt)))
              }.getOrElse(base)
            }.reduce(_ || _)
            val sliverChild = c.dynamicBound match {
              case Some(bnd) => stripConjunct(c.child, bnd)
              case None => c.child
            }
            val src = Shims.ofRows(s, sliverChild).filter(sliverPred &&
              tsC < Shims.column(Literal(cs.timestampMicros, tDt)))
            val groupCols = c.agg.groupingExpressions.zipWithIndex.map {
              case (e, jx) => Shims.column(e).as(s"_g$jx") }
            val partialCols =
              c.decomps.flatMap(_.state).map(sp => sp.partial.as(sp.name))
            cs.read(s).filter(pred).unionByName(
              src.groupBy(groupCols: _*)
                .agg(partialCols.head, partialCols.tail: _*))
          })
        }
      }))
  }

  // ------------------------------------------------- hop subsumption

  /** On an exact-fingerprint miss: a SLIDING-window aggregate
    * (`window(ts, '1 hour', '15 minutes')`) can be answered from the warm
    * state of the same plan bucketed TUMBLING at the slide
    * (`window(ts, '15 minutes')`) — each fine bucket b lies inside
    * exactly duration/slide hop windows (those starting at
    * b, b−s, …, b−(n−1)s), so the replay explodes every tumbling state
    * row into its n hop windows and the normal merge folds them. Exact:
    * the rows contributing to hop window W are precisely the rows of the
    * n fine buckets W covers (same offset arithmetic, and Spark's
    * analyzer filters NULL ts on both shapes).
    *
    * The scale story: maintaining hopping state directly multiplies every
    * appended row ×n through Expand on each delta; ONE tumbling state at
    * the slide serves every hopping variant over it (1h/15m, 2h/15m, …)
    * and its own drill-downs, with the ×n work deferred to state-sized
    * replay. Detection is pinned to the analyzer's TimeWindowing output
    * (Filter(isnotnull(ts)) over Expand whose projections are the k-shifted
    * window struct + pass-through columns); every projection is verified
    * to be the k·slide shift of the first, and the tumbling twin is the
    * first projection with its duration literal re-pointed at the slide —
    * fingerprint-identical to a user-written tumbling query. Anything
    * off-shape (gap windows n=1, duration not a slide multiple, foreign
    * Expand) bails to a plain miss. */
  private def rehopTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, Literal}
    import org.apache.spark.sql.types.LongType
    val (cond, ex) = c.agg.child match {
      case Filter(f, e: Expand) => (f, e)
      case _ => return Iterator.empty
    }
    val windowAttr = ex.output.headOption.collect {
      case a: Attribute if isWindowStruct(a.dataType) => a
    }.getOrElse(return Iterator.empty)
    val gIdx = c.agg.groupingExpressions.indexWhere {
      case a: Attribute => a.semanticEquals(windowAttr)
      case _ => false
    }
    if (gIdx < 0) return Iterator.empty
    val n = ex.projections.length
    if (n < 2) return Iterator.empty
    // past here the plan IS a sliding-window aggregate — log why a
    // probe declines so off-shape variants are diagnosable
    def bailHop(msg: String): Iterator[Twin] = {
      config.log.info(c.fingerprint, s"rehop bail: $msg")
      Iterator.empty
    }
    // a pure multiple-of-slide sliding window filters only isnotnull(ts);
    // a non-multiple duration adds window-membership conjuncts (each of
    // the ceil(d/s) candidate windows may not contain ts) — those windows
    // are not unions of complete slide buckets, so no tumbling twin is
    // sound
    if (!splitConj(cond).forall {
      case IsNotNull(a: Attribute) => a.semanticEquals(c.temporalAttr)
      case _ => false
    }) return bailHop(
      "window-membership filter above Expand — duration is not a slide multiple")
    // pass-through shape: output = windowAttr +: child.output, and every
    // projection carries the child columns through untouched
    val passOk = ex.output.length == 1 + ex.child.output.length &&
      ex.output.drop(1).zip(ex.child.output).forall {
        case (x, y) => x.semanticEquals(y)
      } &&
      ex.projections.forall(p => p.length == 1 + ex.child.output.length &&
        p.drop(1).zip(ex.child.output).forall {
          case (x: Attribute, y) => x.semanticEquals(y)
          case _ => false
        })
    if (!passOk) return bailHop("expand is not pass-through shaped")
    val struct0 = ex.projections.head.head
    val slides = struct0.collect {
      case r: org.apache.spark.sql.catalyst.expressions.Remainder
          if r.right.isInstanceOf[Literal] &&
            r.right.dataType == LongType &&
            r.right.asInstanceOf[Literal].value.isInstanceOf[Long] =>
        r.right.asInstanceOf[Literal].value.asInstanceOf[Long]
    }.distinct
    val slide = slides match {
      case Seq(s) if s > 0 && s <= Long.MaxValue / n => s
      case _ => return bailHop(s"no single slide literal (found $slides)")
    }
    val duration = slide * n
    // every later projection must be the k·slide shift of the first. The
    // shifting site is structural, not a literal value (the offset 0 also
    // appears at NON-shifting sites inside the modulo): it is the
    // Subtract whose left subtree contains the bucketing Remainder and
    // whose right is the window-start offset literal — one such site in
    // the struct's start field, one in its end.
    def shiftBy(e: Expression, delta: Long): Expression = e.transform {
      case s: org.apache.spark.sql.catalyst.expressions.Subtract
          if s.left.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Remainder]) &&
            s.right.isInstanceOf[Literal] && s.right.dataType == LongType &&
            s.right.asInstanceOf[Literal].value.isInstanceOf[Long] =>
        val v = s.right.asInstanceOf[Literal].value.asInstanceOf[Long]
        s.copy(right = Literal(v + delta, LongType))
    }
    val shiftOk = (1 until n).forall { k =>
      shiftBy(struct0, k * slide).semanticEquals(ex.projections(k).head)
    }
    if (!shiftOk) return bailHop("projections are not k-slide shifts of the first")
    // the tumbling-at-slide twin: the k=0 window struct with its single
    // duration literal re-pointed at the slide
    var patched = 0
    val twinStruct = struct0.transform {
      case Literal(d: Long, LongType) if d == duration =>
        patched += 1
        Literal(slide, LongType)
    }
    if (patched != 1) return bailHop(s"duration literal $duration found $patched times in the window struct")
    val alias = Alias(twinStruct, "window")(exprId = windowAttr.exprId)
    val twin = c.agg.copy(child = Project(alias +: ex.child.output,
      Filter(IsNotNull(c.temporalAttr), ex.child)))
    val fp2 = Fingerprint.of(twin) + fpSuffix
    val gName = s"_g$gIdx"
    Iterator.single(new Twin(c.copy(agg = twin), stateSchema, fp2,
      s"rehop hit: replaying ${slide}µs tumbling state ${fp2.take(12)} " +
        s"exploded ×$n into ${duration}µs hop windows",
      cs => graft.cache.CachedState(cs.timestampMicros, cs.schema, { s =>
        import org.apache.spark.sql.functions.{explode, struct, typedlit, unix_micros}
        val df = cs.read(s)
        val startUs = unix_micros(col(s"$gName.start"))
        df.withColumn("_hop_k", explode(typedlit((0L until n.toLong).toSeq)))
          .withColumn(gName, struct(
            timestamp_micros(startUs - col("_hop_k") * lit(slide)).as("start"),
            timestamp_micros(startUs - col("_hop_k") * lit(slide) + lit(duration))
              .as("end")))
          .drop("_hop_k")
      })))
  }

  // ------------------------------------- tumbling-grain subsumption

  /** The analyzer's tumbling TimeWindowing plan shape, structurally
    * verified: Project(windowStruct alias +: pass-through child output,
    * Filter(isnotnull(ts), child)), one bucketing Remainder literal D,
    * one startTime literal S (the Remainder's left operand is always
    * `conv(ts) − S`; the default start is S = 0), every long literal in
    * the struct ∈ {0, D, S}. Shared by retumble and rewindow; consumers
    * that assume epoch alignment must check startUs == 0. */
  private final case class TumblingShape(wAlias: Alias,
      rest: Seq[NamedExpression], flt: Filter, gIdx: Int, durationUs: Long,
      startUs: Long)

  /** the (start, end) timestamp struct a time window groups by */
  private def isWindowStruct(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case StructType(fs) =>
        fs.length == 2 && fs(0).name == "start" && fs(1).name == "end" &&
          fs.forall(_.dataType == TimestampType)
      case _ => false
    }

  private def tumblingShape(c: Cacheable): Option[TumblingShape] = {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, Literal}
    import org.apache.spark.sql.types.LongType
    val (wAlias, rest, flt) = c.agg.child match {
      case Project((al: Alias) +: tail, f: Filter) => (al, tail, f)
      case _ => return None
    }
    if (!isWindowStruct(wAlias.dataType)) return None
    val gIdx = c.agg.groupingExpressions.indexWhere {
      case a: Attribute => a.exprId == wAlias.exprId
      case _ => false
    }
    if (gIdx < 0) return None
    if (!splitConj(flt.condition).forall {
      case IsNotNull(a: Attribute) => a.semanticEquals(c.temporalAttr)
      case _ => false
    }) return None
    val ch = flt.child
    if (rest.length != ch.output.length || !rest.zip(ch.output).forall {
      case (x: Attribute, y) => x.semanticEquals(y)
      case _ => false
    }) return None
    val struct0 = wAlias.child
    val rems = struct0.collect {
      case r: org.apache.spark.sql.catalyst.expressions.Remainder
          if r.right.isInstanceOf[Literal] && r.right.dataType == LongType &&
            r.right.asInstanceOf[Literal].value.isInstanceOf[Long] => r
    }
    val ds = rems.map(_.right.asInstanceOf[Literal].value.asInstanceOf[Long])
      .distinct
    val d = ds match {
      case Seq(v) if v > 0 => v
      case _ => return None
    }
    // the startTime offset: the Remainder's left operand is always
    // `conv(ts) − S` (S = 0 for the default anchor)
    val starts = rems.map(_.left match {
      case org.apache.spark.sql.catalyst.expressions.Subtract(
          _, Literal(s: Long, LongType), _) => s
      case _ => return None
    }).distinct
    val startUs = starts match {
      case Seq(v) if v >= 0 && v < d => v
      case _ => return None
    }
    // pinned shape: every long literal is 0, D, or the start offset
    if (!struct0.collect { case Literal(v: Long, LongType) => v }
        .forall(v => v == 0L || v == d || v == startUs)) return None
    Some(TumblingShape(wAlias, rest, flt, gIdx, d, startUs))
  }

  /** On an exact-fingerprint miss: a TUMBLING-window aggregate
    * (`window(ts, '1 hour')`) can be answered from the warm state of
    * the same plan tumbling at a FINER duration that divides it
    * (`window(ts, '15 minutes')`) — the window-bucket analog of
    * [[regrainTwins]] (which only covers date_trunc grains) and the
    * converse of [[rehopTwins]]'s tumbling twin. With the
    * default epoch-aligned start, every fine bucket lies inside exactly
    * one coarse bucket, so the replay re-buckets each fine state row
    * (start → start − start mod D, the same arithmetic the analyzer's
    * own bucketing uses) and the normal merge re-aggregates — exact by
    * the state-merge contract (the coarse group's row multiset is the
    * union of its nested fine buckets').
    *
    * Detection is pinned to the analyzer's tumbling TimeWindowing
    * shape: Project(windowStruct alias +: pass-through child output,
    * Filter(isnotnull(ts), child)), one bucketing Remainder literal D,
    * and every long literal in the struct ∈ {0, D} — a custom
    * startTime bails to a plain miss. A fixed ladder of finer
    * durations dividing D probes coarsest-first (fewest state rows to
    * merge). Derives the window group index structurally (not from
    * temporalGroupIdx) so it can follow rehop: a 1h/15m hopping query
    * whose 15m tumbling twin is cold still answers from warm 5m
    * tumbling state. */
  private def retumbleTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.LongType
    val TumblingShape(wAlias, rest, flt, gIdx, d, startUs) =
      tumblingShape(c).getOrElse(return Iterator.empty)
    // the divisor-ladder nesting argument assumes epoch-aligned windows;
    // a custom anchor (startTime) does not nest against the ladder
    if (startUs != 0L) return Iterator.empty
    val struct0 = wAlias.child
    val gName = s"_g$gIdx"
    val ladder = Seq(86400L, 43200L, 21600L, 14400L, 10800L, 7200L, 3600L,
      1800L, 1200L, 900L, 600L, 300L, 60L, 1L).map(_ * 1000000L)
    ladder.filter(f => f < d && d % f == 0).iterator.map { f =>
      val fineStruct = struct0.transform {
        case Literal(v: Long, LongType) if v == d => Literal(f, LongType)
      }
      val twinAlias = Alias(fineStruct, wAlias.name)(exprId = wAlias.exprId)
      val twin = c.agg.copy(child = Project(twinAlias +: rest, flt))
      val fp2 = Fingerprint.of(twin) + fpSuffix
      new Twin(c.copy(agg = twin), stateSchema, fp2,
        s"retumble hit: replaying ${f}µs tumbling state ${fp2.take(12)} " +
          s"re-bucketed to ${d}µs windows",
        cs => graft.cache.CachedState(cs.timestampMicros, cs.schema, { s =>
          import org.apache.spark.sql.functions.{pmod, struct, unix_micros}
          val df = cs.read(s)
          val startUs = unix_micros(col(s"$gName.start"))
          val cUs = startUs - pmod(startUs, lit(d))
          df.withColumn(gName, struct(
            timestamp_micros(cUs).as("start"),
            timestamp_micros(cUs + lit(d)).as("end")))
        }))
    }
  }

  // ------------------------------------- window ↔ date_trunc re-spelling

  /** On an exact-fingerprint miss: a TUMBLING-window aggregate whose
    * duration has a calendar-grain equivalent (`window(ts, '1 hour')`)
    * can be answered from the warm state of the same plan spelled with
    * `date_trunc('hour', ts)` — dashboards mix the two spellings (SQL
    * authors write date_trunc, streaming authors write window), and in
    * a UTC session they induce the IDENTICAL row partition for
    * second/minute/hour/day (window buckets are epoch-aligned;
    * date_trunc follows the session timezone — any other session TZ
    * bails; week is excluded: date_trunc anchors Monday, a 7-day window
    * anchors the epoch Thursday). The replay drops the trunc state's
    * NULL group (a window query filters isnotnull(ts); date_trunc maps
    * null ts to a null group) and re-keys each timestamp bucket to its
    * (start, start+D) struct — the merge re-aggregates nothing, it is a
    * pure re-spelling.
    *
    * The twin is the user-shaped date_trunc plan: the window Project
    * and its isnotnull Filter strip away, the group key (and its output
    * alias) swap to TruncTimestamp over the same child — canonically
    * identical to what the analyzer produces for a hand-written
    * date_trunc query. Composes with grain subsumption: the hour-trunc
    * twin may be warm only at MINUTE grain, and regrain lifts it first
    * (pinned in the spec). Both literal casings probe (the fingerprint
    * keeps literal case, regrain precedent). */
  private def rewindowTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, TruncTimestamp}
    val TumblingShape(wAlias, _, flt, gIdx, d, startUs) =
      tumblingShape(c).getOrElse(return Iterator.empty)
    // calendar-grain equivalents. Epoch-anchored (startTime = 0):
    // second/minute/hour/day. WEEK is the shifted-anchor case:
    // date_trunc('week') anchors MONDAY while epoch (1970-01-01) is a
    // Thursday, so the week-equivalent window is
    // `window(ts, '7 days', '7 days', '4 days')` — startTime 4 days
    // lands the buckets on Mondays (verified equal in UTC; the UTC
    // session gate below covers both cases).
    val fmt = (d, startUs) match {
      case (1000000L, 0L) => "second"
      case (60000000L, 0L) => "minute"
      case (3600000000L, 0L) => "hour"
      case (86400000000L, 0L) => "day"
      case (604800000000L, 345600000000L) => "week"
      case _ => return Iterator.empty
    }
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    if (!Set("UTC", "Etc/UTC", "GMT", "Z", "+00:00").contains(tz)) return Iterator.empty
    val gName = s"_g$gIdx"
    // the twin's state keys the bucket as a bare timestamp
    val twinSchema = StructType(stateSchema.fields.map(f =>
      if (f.name == gName) f.copy(dataType = TimestampType) else f))
    Seq(fmt, fmt.toUpperCase).iterator.map { f =>
      val trunc = TruncTimestamp(Literal(f), c.temporalAttr, Some(tz))
      def swap(e: Expression): Expression = e.transformUp {
        case a: Attribute if a.exprId == wAlias.exprId => trunc
      }
      val twinAggs: Seq[NamedExpression] = c.agg.aggregateExpressions.map {
        ne => swap(ne) match {
          case n: NamedExpression => n
          case other => Alias(other, ne.name)()
        }
      }
      val twin = Aggregate(c.agg.groupingExpressions.map(swap), twinAggs,
        flt.child)
      val fp2 = Fingerprint.of(twin) + fpSuffix
      // the original window query carries temporalGroupIdx = None (the
      // analyzer's struct is not a recognized bucketing fn); the trunc
      // twin's group AT gIdx is a real date_trunc — set the index so
      // grain subsumption can lift a finer-grain entry for it
      new Twin(c.copy(agg = twin, temporalGroupIdx = Some(gIdx)), twinSchema,
        fp2, s"rewindow hit: replaying date_trunc('$f') state " +
          s"${fp2.take(12)} re-keyed to ${d}µs window structs",
        cs => graft.cache.CachedState(cs.timestampMicros, stateSchema, { s =>
          import org.apache.spark.sql.functions.{struct, unix_micros}
          cs.read(s).filter(col(gName).isNotNull)
            .withColumn(gName, struct(
              col(gName).as("start"),
              timestamp_micros(unix_micros(col(gName)) + lit(d)).as("end")))
        }))
    }
  }

  // ------------------------------------- grouping-set subsumption

  /** On an exact-fingerprint miss: a rollup/cube/grouping-sets query can
    * be answered from the warm state of the PLAIN drill-down over all its
    * group columns. Every grouping set is a merge-away of the full grain,
    * so the replay re-expands each full-grain state row into the query's
    * grouping sets — keys absent from a set become NULL, the grouping-id
    * slot becomes that set's literal — and the normal merge re-aggregates
    * the subtotals. That is exactly how Spark's own Expand+Aggregate
    * computes grouping sets from raw rows, applied to mergeable STATE
    * rows instead of the fact table; exactness is the state-merge
    * contract (the same argument as dimension subsumption, per set).
    *
    * The full grain does not have to be among the query's sets:
    * `GROUPING SETS ((a),(b))` still answers from warm `(a,b)` state.
    * Detection is pinned to the analyzer's shape — Aggregate whose child
    * is Expand, group slots carrying a single defining attribute
    * (null-literal in subtotal projections), exactly one all-literal
    * grouping-id slot, measures referencing pass-through slots only —
    * and the twin inlines the bucketing Project's aliases so its
    * fingerprint matches a user-written drill-down. Anything off-shape
    * bails to a plain miss. */
  private def regroupTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    if (c.dynamicBound.isDefined) return Iterator.empty
    val ex = c.agg.child match {
      case e: Expand => e
      case _ => return Iterator.empty
    }
    def bailRg(msg: String): Iterator[Twin] = {
      config.log.info(c.fingerprint, s"regroup bail: $msg")
      Iterator.empty
    }
    val ExpandSlots(_, groupSlots, gidIdx, gidSlot, keyGroups, defAttr,
        projAliases) = expandSlots(c, ex) match {
      case Right(sl) => sl
      case Left(why) => return bailRg(why)
    }
    // measures (and the filter-widened temporal attr) must ride through
    // pass-through slots — an aggregate over a grouping-set slot sees
    // per-set NULLs the drill-down state cannot reproduce
    if (!c.aggExprs.flatMap(_.references.toSeq)
        .forall(ex.child.outputSet.contains))
      return bailRg("a measure references a grouping-set slot")
    // the twin drill-down: the bucketing Project's aliases inlined, so
    // the plan is shaped exactly like a user-written groupBy
    val twinChild = ex.child match {
      case Project(_, ch) => ch
      case other => other
    }
    val twinGroups: Seq[Expression] = keyGroups.map { case (j, _) =>
      val a = defAttr(j)
      projAliases.getOrElse(a.exprId,
        if (twinChild.outputSet.contains(a)) a
        else return bailRg(s"defining attribute ${a.name} not resolvable below Expand"))
    }
    if (!twinGroups.flatMap(_.references.toSeq).forall(twinChild.outputSet.contains) ||
        !c.aggExprs.flatMap(_.references.toSeq).forall(twinChild.outputSet.contains))
      return bailRg("twin expressions do not resolve against the pre-Expand input")
    val twinOutputs: Seq[NamedExpression] =
      twinGroups.zipWithIndex.map {
        case (a: Attribute, _) => a
        case (e, i) => Alias(e, s"g$i")()
      } ++ c.aggExprs.zipWithIndex.map { case (ae, i) => Alias(ae, s"a$i")() }
    val twin = Aggregate(twinGroups, twinOutputs, twinChild)
    val fp2 = Fingerprint.of(twin) + fpSuffix
    // the twin's state layout: this query's groups minus the gid slot,
    // renumbered; identical state columns
    val mOf: Map[Int, Int] = keyGroups.map(_._1).zipWithIndex.toMap
    val twinStateSchema = StructType(
      keyGroups.zipWithIndex.map { case ((j, _), m) =>
        stateSchema(s"_g$j").copy(name = s"_g$m")
      } ++ stateSchema.fields.filterNot(_.name.startsWith("_g")))
    val stateColNames = stateSchema.fields.map(_.name)
      .filterNot(_.startsWith("_g")).toSeq
    Iterator.single(new Twin(c.copy(agg = twin), twinStateSchema, fp2,
      s"regroup hit: replaying drill-down state ${fp2.take(12)} " +
        s"through ${ex.projections.length} grouping sets",
      cs => graft.cache.CachedState(cs.timestampMicros, stateSchema, { s =>
        val df = cs.read(s)
        ex.projections.map { p =>
          val gCols = c.agg.groupingExpressions.indices.map { j =>
            val cc =
              if (j == gidIdx) Shims.column(p(gidSlot))
              else p(groupSlots.find(_._1 == j).get._2) match {
                case _: Attribute => col(s"_g${mOf(j)}")
                case _ => lit(null).cast(stateSchema(s"_g$j").dataType)
              }
            cc.as(s"_g$j")
          }
          df.select(gCols ++ stateColNames.map(col): _*)
        }.reduce(_ unionByName _)
      })))
  }

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
  private def factorizedJoinRewrite(spark: SparkSession,
      analyzed: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Average, Count, Max, Min, Sum}
    import org.apache.spark.sql.functions.{coalesce, when, count => fcount,
      max => fmax, min => fmin, sum => fsum}

    val aggs = analyzed.collect { case a: Aggregate => a }
    if (aggs.size != 1) return None
    val agg = aggs.head
    val fp = Fingerprint.of(agg) + fpSuffix
    def bail(msg: String): Option[LogicalPlan] = {
      config.log.info(fp, s"factorized join bail: $msg")
      None
    }
    def hasSub(es: Seq[Expression]): Boolean = es.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))

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
    if (!agg.expressions.forall(_.deterministic) || hasSub(agg.expressions))
      return bail("non-deterministic or subquery aggregate expression")
    if (!j.condition.forall(_.deterministic) || hasSub(j.condition.toSeq) ||
        j.condition.exists(graft.analysis.NowBounds.containsNow))
      return bail("join condition not run-stable")
    if (filterConjs.exists(c => !c.deterministic || hasSub(Seq(c))))
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
        config.log.info(fp, s"factorized join: ${j.joinType.sql} demoted " +
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
          if (!p.deterministic || hasSub(Seq(p)))
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
        case c: Count =>
          val s = sideOf(c).getOrElse(
            return bail(s"cross-side measure: ${ae.sql}"))
          if (!c.children.forall(nullFaithful(_, s))) return bail(
            s"measure expression on the null-extended side of an outer " +
              s"join (NULL-faithful expressions only): ${ae.sql}")
          if (crossOf(s))
            // count(x) FILTER p(other): per key, cntX(x) rows each pair
            // with exactly fn partner rows passing p
            FM(s, Seq(s"${pfx(s)}m$i" ->
              Shims.column(ae.copy(filter = None))),
              coalesce(fsum(col(s"${pfx(s)}m$i") * col(fnSpec._1)), lit(0L)),
              otherCols = Seq(fnSpec))
          else FM(s, Seq(s"${pfx(s)}m$i" -> Shims.column(ae)),
            coalesce(fsum(scale(col(s"${pfx(s)}m$i"), s)), lit(0L)))
        case s: Sum =>
          val sd = sideOf(s).getOrElse(
            return bail(s"cross-side measure: ${ae.sql}"))
          if (!nullFaithful(s.child, sd)) return bail(
            s"measure expression on the null-extended side of an outer " +
              s"join (NULL-faithful expressions only): ${ae.sql}")
          if (crossOf(sd))
            // fn = 0 keys must contribute NOTHING (not 0): a group whose
            // every partner fails the predicate sums over no rows, which
            // is NULL — gate with when(fn > 0, ...) so fsum skips them
            FM(sd, Seq(s"${pfx(sd)}m$i" ->
              Shims.column(ae.copy(filter = None))),
              fsum(when(col(fnSpec._1) > 0,
                col(s"${pfx(sd)}m$i") * col(fnSpec._1))),
              otherCols = Seq(fnSpec))
          else FM(sd, Seq(s"${pfx(sd)}m$i" -> Shims.column(ae)),
            fsum(scale(col(s"${pfx(sd)}m$i"), sd)))
        case m: Min =>
          val sd = sideOf(m).getOrElse(
            return bail(s"cross-side measure: ${ae.sql}"))
          if (!nullFaithful(m.child, sd)) return bail(
            s"measure expression on the null-extended side of an outer " +
              s"join (NULL-faithful expressions only): ${ae.sql}")
          if (crossOf(sd))
            // min/max are multiplicity-free: a key's value qualifies iff
            // ANY partner row passes the predicate
            FM(sd, Seq(s"${pfx(sd)}m$i" ->
              Shims.column(ae.copy(filter = None))),
              fmin(when(col(fnSpec._1) > 0, col(s"${pfx(sd)}m$i"))),
              otherCols = Seq(fnSpec))
          else FM(sd, Seq(s"${pfx(sd)}m$i" -> Shims.column(ae)),
            fmin(col(s"${pfx(sd)}m$i")))
        case m: Max =>
          val sd = sideOf(m).getOrElse(
            return bail(s"cross-side measure: ${ae.sql}"))
          if (!nullFaithful(m.child, sd)) return bail(
            s"measure expression on the null-extended side of an outer " +
              s"join (NULL-faithful expressions only): ${ae.sql}")
          if (crossOf(sd))
            FM(sd, Seq(s"${pfx(sd)}m$i" ->
              Shims.column(ae.copy(filter = None))),
              fmax(when(col(fnSpec._1) > 0, col(s"${pfx(sd)}m$i"))),
              otherCols = Seq(fnSpec))
          else FM(sd, Seq(s"${pfx(sd)}m$i" -> Shims.column(ae)),
            fmax(col(s"${pfx(sd)}m$i")))
        case a: Average =>
          val sd = sideOf(a).getOrElse(
            return bail(s"cross-side measure: ${ae.sql}"))
          if (!nullFaithful(a.child, sd)) return bail(
            s"measure expression on the null-extended side of an outer " +
              s"join (NULL-faithful expressions only): ${ae.sql}")
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
          val combine = a.child.dataType match {
            case dt: org.apache.spark.sql.types.DecimalType =>
              // type-controlled exact division: the multiplicity scaling
              // widened the summed numerator to decimal(38, s), and an
              // unconstrained division by a long would overflow 38 digits
              // so Spark's precision-loss rule cuts the result scale to 6
              // — BELOW the s+4 scale the avg type needs, silently
              // rounding the answer (caught by the differential spec).
              // The operand casts REPRODUCE vanilla Average's
              // evaluateExpression typing exactly: sum buffer
              // decimal(min(38, p+10), s), count cast to LongDecimal
              // (20, 0) — so the Divide plans the identical result type
              // and rounds identical half-ties, and a numerator past
              // p+10 digits overflows to NULL exactly where vanilla's
              // CheckOverflowInSum does.
              import org.apache.spark.sql.types.DecimalType
              fsum(weigh(col(sn)))
                .cast(DecimalType(math.min(38, dt.precision + 10), dt.scale)) /
                fsum(weigh(col(cn))).cast(DecimalType(20, 0))
            case _ => fsum(weigh(col(sn))) / fsum(weigh(col(cn)))
          }
          FM(sd, Seq(sn -> fsum(childC), cn -> fcount(childC)), combine,
            otherCols = if (cross) Seq(fnSpec) else Nil)
        case other =>
          return bail(s"measure not factorizable over a join: ${other.sql}" +
            " (count/sum/min/max/avg only)")
      }
    }

    // per-side twin aggregates at (join key × side-pure groups) grain
    def twinDF(side: LogicalPlan, fs: Seq[Expression], keyCols: Seq[Column],
        gCols: Seq[Column], ms: Seq[(String, Column)]): DataFrame = {
      val filtered = fs.foldLeft(Shims.ofRows(spark, side))(
        (d, f) => d.filter(Shims.column(f)))
      val aggCols = ms.map { case (n, c) => c.as(n) }
      filtered.groupBy((keyCols ++ gCols): _*).agg(aggCols.head, aggCols.tail: _*)
    }
    val twinA = twinDF(j.left, lFilters.toSeq,
      pairs.zipWithIndex.map { case ((l, _), i) => Shims.column(l).as(s"_ka$i") },
      inlGroups.zipWithIndex.collect {
        case (g, jx) if groupSide(jx) => Shims.column(g).as(s"_ga$jx") },
      ("_acnt" -> fcount(lit(1))) +: (fms.filter(_.left).flatMap(_.twinCols)
        ++ fms.filterNot(_.left).flatMap(_.otherCols)))
    val twinB = twinDF(j.right, rFilters.toSeq,
      pairs.zipWithIndex.map { case ((_, r), i) => Shims.column(r).as(s"_kb$i") },
      inlGroups.zipWithIndex.collect {
        case (g, jx) if !groupSide(jx) => Shims.column(g).as(s"_gb$jx") },
      ("_bcnt" -> fcount(lit(1))) +: (fms.filterNot(_.left)
        .flatMap(_.twinCols) ++ fms.filter(_.left).flatMap(_.otherCols)))

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
    val aPlan = Shims.queryExecution(twinA).analyzed
    val bPlan = Shims.queryExecution(twinB).analyzed
    decide(aPlan) match {
      case Left((_, reason)) if !factorizableShape(aPlan) =>
        return bail(s"left twin not cacheable: $reason")
      case _ => ()
    }
    decide(bPlan) match {
      case Left((_, reason)) if !factorizableShape(bPlan) =>
        return bail(s"right twin not cacheable: $reason")
      case _ => ()
    }
    val aAns = rewritePlan(spark, aPlan).map(Shims.ofRows(spark, _))
      .getOrElse(return bail("left twin rewrite declined"))
    val bAns = rewritePlan(spark, bPlan).map(Shims.ofRows(spark, _))
      .getOrElse(return bail("right twin rewrite declined"))

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
      if (finalGroupCols.isEmpty) joined.agg(combineCols.head, combineCols.tail: _*)
      else joined.groupBy(finalGroupCols: _*)
        .agg(combineCols.head, combineCols.tail: _*)

    // original output expressions over the combine's columns (same
    // rewrite scheme as execute()'s finalize)
    def rewriteOut(e: Expression): Expression = {
      val gIdx = agg.groupingExpressions.indexWhere(_.semanticEquals(e))
      if (gIdx >= 0)
        UnresolvedAttribute(Seq(if (groupSide(gIdx)) s"_ga$gIdx" else s"_gb$gIdx"))
      else e match {
        case ae: AggregateExpression =>
          val i = aggExprs.indexWhere(_.semanticEquals(ae))
          require(i >= 0, s"unmapped aggregate ${ae.sql}")
          Cast(UnresolvedAttribute(Seq(s"_r$i")), ae.dataType)
        case _ => e.withNewChildren(e.children.map(rewriteOut))
      }
    }
    val outCols: Seq[Column] = agg.aggregateExpressions.map { o =>
      val core = o match {
        case Alias(child, _) => child
        case other => other
      }
      Shims.column(rewriteOut(core)).as(o.name)
    }
    val finalCore = resultDF.select(outCols: _*)
    val finalPlan = Shims.queryExecution(finalCore).analyzed
    val aligned = Project(
      finalPlan.output.zip(agg.output).map { case (na, oo) =>
        Alias(na, oo.name)(exprId = oo.exprId)
      }, finalPlan)
    config.log.info(fp, "factorized join: answered from two per-side twin " +
      "states combined at join-key grain")
    Some(analyzed.transformUp { case n if n eq agg => aligned })
  }

  /** Reference README.md:130-132's LAST unimplemented roadmap item: an
    * aggregation with NO GROUP BY under a DYNAMIC lower bound
    * (`SELECT count(*), sum(v) FROM t WHERE ts >= now() - INTERVAL 1
    * DAY`). The reference sketches the fix itself — "rewrite the
    * aggregation to include a group_by clause, then filter, then
    * aggregate again" — and that is exactly this rewrite: an internal
    * bucket group at `config.dynamicBoundInternalGrain` over the bound's
    * temporal column turns the query into the SUPPORTED grouped
    * dynamic-bound shape (state cached unbounded, frozen bound
    * re-applied over bucket starts at answer time), and a final
    * no-group aggregate folds the surviving buckets back into the
    * original single row. Bound semantics are therefore
    * bucket-granularity at the internal grain — the same contract the
    * grouped path defines, one grain knob instead of one per query.
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
  private def dynNoGroupRewrite(spark: SparkSession,
      analyzed: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Cast

    val aggs = analyzed.collect { case a: Aggregate => a }
    if (aggs.size != 1) return None
    val agg = aggs.head
    // grouped queries reach here only when decide() bailed (a dynamic
    // bound with no temporal bucket among the keys) AND the user opted
    // into grouped twins — the twin grain doubles as the bound's bucket
    // granularity then. No-group queries use the dedicated grain knob.
    val grouped = agg.groupingExpressions.nonEmpty
    // sessions cannot re-aggregate from bucket finalizes: a session
    // spanning a bucket edge would split into two twin rows (the same
    // guard bucketTwinRewrite carries)
    if (grouped && agg.groupingExpressions.exists {
      case a: Attribute => a.metadata.contains("spark.sessionWindow")
      case _ => false
    }) return None
    val grain =
      (if (grouped) config.temporalTwinGrain
       else Some(config.dynamicBoundInternalGrain)).getOrElse(return None)
    val fp = Fingerprint.of(agg) + fpSuffix
    def bail(msg: String): Option[LogicalPlan] = {
      config.log.info(fp, s"no-group dynamic bound bail: $msg")
      None
    }
    def hasSub(es: Seq[Expression]): Boolean = es.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    if (!agg.expressions.forall(_.deterministic) || hasSub(agg.expressions))
      return None
    // the filter chain must contain exactly one dynamic lower bound (and
    // nothing unstable) — otherwise this rewrite has no reason to exist
    // (no bound) or no soundness story (unstable filters)
    val needles = config.temporalColumns.map(_.toLowerCase) +
      config.defaultTemporalColumn.toLowerCase
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
      case Project(es, ch) if es.forall(_.deterministic) && !hasSub(es) =>
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

    val childDF = Shims.ofRows(spark, agg.child)
    val aggExprs = distinctAggExprs(agg.aggregateExpressions)
    val rms: Seq[ReAggMeasure] =
      reaggMeasures(aggExprs, msg => bail(msg)) match {
        case Some(r) => r
        case None => return None // reason already logged via bail
      }

    // the internal-grain twin IS the supported grouped dynamic-bound
    // shape — hand it to the normal machinery (cache, watermark, answer-
    // time bound over bucket starts, every subsumption)
    val bucket = org.apache.spark.sql.functions.date_trunc(
      grain, Shims.column(tAttr))
    val keyCols = agg.groupingExpressions.zipWithIndex.map {
      case (e, j) => Shims.column(e).as(s"_k$j")
    }
    val twinAggCols = rms.flatMap(_.twinCols).map { case (n, c) => c.as(n) }
    val twinDF = childDF.groupBy(bucket.as("_dynb") +: keyCols: _*)
      .agg(twinAggCols.head, twinAggCols.tail: _*)
    val twinPlan = Shims.queryExecution(twinDF).analyzed
    val twinAns = rewritePlan(spark, twinPlan).map(Shims.ofRows(spark, _))
      .getOrElse(return bail("internal-grain twin rewrite declined"))

    val combineCols = rms.zipWithIndex.map { case (r, i) => r.combine.as(s"_r$i") }
    val resultDF =
      if (!grouped) twinAns.agg(combineCols.head, combineCols.tail: _*)
      else twinAns
        .groupBy(agg.groupingExpressions.indices.map(j => col(s"_k$j")): _*)
        .agg(combineCols.head, combineCols.tail: _*)
    def rewriteOut(e: Expression): Expression = {
      val gi = agg.groupingExpressions.indexWhere(_.semanticEquals(e))
      if (gi >= 0) UnresolvedAttribute(Seq(s"_k$gi"))
      else e match {
        case ae: AggregateExpression =>
          val i = aggExprs.indexWhere(_.semanticEquals(ae))
          require(i >= 0, s"unmapped aggregate ${ae.sql}")
          Cast(UnresolvedAttribute(Seq(s"_r$i")), ae.dataType)
        case _ => e.withNewChildren(e.children.map(rewriteOut))
      }
    }
    val outCols: Seq[Column] = agg.aggregateExpressions.map { o =>
      val core = o match {
        case Alias(child, _) => child
        case other => other
      }
      Shims.column(rewriteOut(core)).as(o.name)
    }
    val finalPlan = Shims.queryExecution(resultDF.select(outCols: _*)).analyzed
    val aligned = Project(
      finalPlan.output.zip(agg.output).map { case (na, oo) =>
        Alias(na, oo.name)(exprId = oo.exprId)
      }, finalPlan)
    config.log.info(fp,
      (if (grouped) "keys-only dynamic bound" else "no-group dynamic bound") +
        s": answered via the internal $grain-grain bucketed twin")
    Some(analyzed.transformUp { case n if n eq agg => aligned })
  }

  /** (twin measure columns, re-aggregation over them) for a measure that
    * re-aggregates exactly from its per-bucket finalizes — shared by the
    * no-group dynamic-bound twin and the grouped temporal twin. */
  private final case class ReAggMeasure(
      twinCols: Seq[(String, Column)], combine: Column)

  private def reaggMeasures(aggExprs: Seq[AggregateExpression],
      bail: String => Unit): Option[Seq[ReAggMeasure]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      Average, Count, Max, Min, Sum}
    import org.apache.spark.sql.functions.{coalesce, count => fcount,
      max => fmax, min => fmin, sum => fsum, when}
    import org.apache.spark.sql.types.DecimalType
    def hasSub(es: Seq[Expression]): Boolean = es.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    Some(aggExprs.zipWithIndex.map { case (ae, i) =>
      if (ae.isDistinct) {
        bail(s"DISTINCT aggregate does not re-aggregate: ${ae.sql}")
        return None
      }
      if (ae.filter.exists(p => !p.deterministic || hasSub(Seq(p)))) {
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
          val combine = a.child.dataType match {
            case dt: DecimalType =>
              // vanilla Average typing (same contract as the factorized
              // combine): sum at decimal(min(38,p+10),s), count at
              // LongDecimal — identical result type and rounding
              fsum(col(sn))
                .cast(DecimalType(math.min(38, dt.precision + 10), dt.scale)) /
                fsum(col(cn)).cast(DecimalType(20, 0))
            case _ => fsum(col(sn)) / fsum(col(cn))
          }
          ReAggMeasure(Seq(sn -> fsum(childC), cn -> fcount(childC)), combine)
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
  private def bucketTwinRewrite(spark: SparkSession,
      analyzed: LogicalPlan, c: Cacheable): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    val grain = config.temporalTwinGrain.getOrElse(return None)
    if (c.temporalGroupIdx.isDefined) return None // already bucket-keyed
    if (c.agg.groupingExpressions.isEmpty) return None // dynNoGroup's turf
    if (sessionGroupIdx(c).isDefined) return None
    // tumbling windows carry temporalGroupIdx = None by design but have
    // their own richer machinery (rehop/retumble subsumption, window
    // repairSpans) — never reroute them through the twin
    if (tumblingShape(c).isDefined) return None
    if (c.agg.child.exists(_.isInstanceOf[Expand])) return None
    val fp = c.fingerprint
    def bail(msg: String): Option[LogicalPlan] = {
      config.log.info(fp, s"temporal twin bail (plain keys-only state): $msg")
      None
    }
    val agg = c.agg
    val rms: Seq[ReAggMeasure] =
      reaggMeasures(c.aggExprs, msg => bail(msg)) match {
        case Some(r) => r
        case None => return None
      }
    // build the twin from the ORIGINAL (widened) chain: a dynamic bound
    // stays IN the twin plan, whose own decide() handles it through the
    // grouped bucket-granularity machinery
    val childDF = Shims.ofRows(spark, c.child)
    val bucket = org.apache.spark.sql.functions.date_trunc(
      grain, Shims.column(c.temporalAttr))
    val keyCols = agg.groupingExpressions.zipWithIndex.map {
      case (e, j) => Shims.column(e).as(s"_k$j")
    }
    val twinAggCols = rms.flatMap(_.twinCols).map { case (n, cc) => cc.as(n) }
    val twinDF = childDF.groupBy(bucket.as("_ttb") +: keyCols: _*)
      .agg(twinAggCols.head, twinAggCols.tail: _*)
    val twinPlan = Shims.queryExecution(twinDF).analyzed
    val twinAns = rewritePlan(spark, twinPlan).map(Shims.ofRows(spark, _))
      .getOrElse(return bail("twin rewrite declined"))

    val combineCols = rms.zipWithIndex.map { case (r, i) => r.combine.as(s"_r$i") }
    val resultDF = twinAns
      .groupBy(agg.groupingExpressions.indices.map(j => col(s"_k$j")): _*)
      .agg(combineCols.head, combineCols.tail: _*)
    def rewriteOut(e: Expression): Expression = {
      val gi = agg.groupingExpressions.indexWhere(_.semanticEquals(e))
      if (gi >= 0) UnresolvedAttribute(Seq(s"_k$gi"))
      else e match {
        case ae: AggregateExpression =>
          val i = c.aggExprs.indexWhere(_.semanticEquals(ae))
          require(i >= 0, s"unmapped aggregate ${ae.sql}")
          Cast(UnresolvedAttribute(Seq(s"_r$i")), ae.dataType)
        case _ => e.withNewChildren(e.children.map(rewriteOut))
      }
    }
    val outCols: Seq[Column] = agg.aggregateExpressions.map { o =>
      val core = o match {
        case Alias(child, _) => child
        case other => other
      }
      Shims.column(rewriteOut(core)).as(o.name)
    }
    val finalPlan = Shims.queryExecution(resultDF.select(outCols: _*)).analyzed
    val aligned = Project(
      finalPlan.output.zip(agg.output).map { case (na, oo) =>
        Alias(na, oo.name)(exprId = oo.exprId)
      }, finalPlan)
    config.log.info(fp, s"temporal twin: answered via the internal " +
      s"$grain × keys bucketed twin (bucket-grain repairs/bands apply)")
    Some(analyzed.transformUp { case n if n eq agg => aligned })
  }

  /** Reference README.md:130's FIRST roadmap item ("Simple filter
    * queries — this should be simple enough"): cache a no-aggregate
    * Project/Filter chain over an append-only scan as MATERIALIZED ROW
    * STATE — an automatically-maintained incremental materialized view.
    *
    * State = the chain's own output rows at the watermark. A warm run
    * answers `state ∪ delta` where the delta re-runs the chain with
    * `ts >= wm` INJECTED AT THE SCAN LEAF (below any projection that
    * pruned the temporal column), so it pushes to parquet and scans only
    * the append — the row-level analogue of the aggregate path's
    * watermark filter, with the trivial partition-by-watermark exactness
    * argument (a row has ts < wm xor ts >= wm; NULL-ts rows are captured
    * cold and never re-read, like the aggregate path). The merged rows
    * are stored back under this run's timestamp, so state grows by
    * exactly the append. Same S1 contract as aggregates: future-dated
    * rows double under the default mode and strictUpperBound closes it
    * by bounding both capture and answer at `ts < now`.
    *
    * Scale shape: the put is a distributed parquet write for the durable
    * cache (result-sized, no driver funnel) and capacity-guarded
    * (CacheCapacityExceeded → vanilla) for the memory cache. Queries
    * with a dynamic bound, now(), subqueries, non-determinism, joins, or
    * no Filter at all (a bare table copy) run vanilla. Parents above the
    * chain (Sort, the session's own operators) re-apply over the union
    * unchanged — row multiset equality makes them order-safe. */
  private def filterQueryRewrite(spark: SparkSession,
      analyzed: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{
      GreaterThanOrEqual, LessThan, Literal}
    if (!config.filterQueryState) return None
    if (analyzed.isStreaming) return None
    if (analyzed.exists {
      case _: Aggregate => true
      case _: Union => true
      case _ => false
    }) return None
    // joins are allowed ONLY as fact ⋈ declared-static-dim (inner, or
    // outer preserving the fact side): appended fact rows join the
    // unchanged dims and the delta's output rows are exactly the new
    // result rows — the same staleness contract the aggregate path's
    // static-dim joins carry. Anything else runs vanilla.
    def staticSide(side: LogicalPlan): Boolean = {
      val leavesOk = side.collectLeaves().forall {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          true
        case l if Shims.isScanLeaf(l) =>
          config.isDeclaredStatic(Shims.sourcePaths(l))
        case _ => false
      }
      leavesOk && side.collect { case n => n }.forall(_.expressions.forall(
        e => e.deterministic &&
          !e.exists(_.isInstanceOf[
            org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) &&
          !graft.analysis.NowBounds.containsNow(e)))
    }
    // the cacheable chain: strip alias/sort wrappers from the root, then
    // require Project*/Filter+ over a single scan leaf. A LIMIT descends
    // only when a Sort lies beneath it (ORDER BY … LIMIT k — the top-k
    // dashboard over the view; both re-apply over the union, total order
    // keeps the k deterministic exactly as in the vanilla plan). A bare
    // un-sorted LIMIT stays vanilla: it answers from an arbitrary subset
    // and materializing the FULL chain for it would be pure waste.
    def sortBeneath(p: LogicalPlan): Boolean = p match {
      case GlobalLimit(_, ch) => sortBeneath(ch)
      case LocalLimit(_, ch) => sortBeneath(ch)
      case SubqueryAlias(_, ch) => sortBeneath(ch)
      case v: View => sortBeneath(v.child)
      case _: Sort => true
      case _ => false
    }
    def descend(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, ch) => descend(ch)
      case v: View => descend(v.child)
      case s: Sort => descend(s.child)
      case gl @ GlobalLimit(_, ch) if sortBeneath(gl) => descend(ch)
      case ll @ LocalLimit(_, ch) if sortBeneath(ll) => descend(ch)
      case other => other
    }
    val chain = descend(analyzed)
    val needles = config.temporalColumns.map(_.toLowerCase) +
      config.defaultTemporalColumn.toLowerCase
    def hasSub(es: Seq[Expression]): Boolean = es.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
    var nFilters = 0
    var leaf: Option[LogicalPlan] = None
    var ok = true
    def walk(p: LogicalPlan): Unit = if (ok) p match {
      case Filter(cond, ch) =>
        if (!cond.deterministic || hasSub(Seq(cond))) ok = false
        else Stability.find(cond, needles) match {
          case Stability.Stable => nFilters += 1; walk(ch)
          case _ => ok = false // dynamic bounds / now() rows: vanilla
        }
      case Project(es, ch) =>
        if (es.forall(_.deterministic) && !hasSub(es)) walk(ch) else ok = false
      case SubqueryAlias(_, ch) => walk(ch)
      case v: View => walk(v.child)
      case jn: Join =>
        import org.apache.spark.sql.catalyst.plans.{
          Inner, LeftOuter, RightOuter}
        val okCond = jn.condition.exists(c => c.deterministic &&
          !hasSub(Seq(c)) && !graft.analysis.NowBounds.containsNow(c))
        if (!okCond) ok = false
        else (jn.joinType, staticSide(jn.left), staticSide(jn.right)) match {
          // fact preserved / dim inner only (a dim on the outer side is
          // merge-unsound: an appended fact row could match a previously
          // null-extended dim row and REMOVE an output row)
          case (Inner, _, true) => walk(jn.left)
          case (Inner, true, _) => walk(jn.right)
          case (LeftOuter, _, true) => walk(jn.left)
          case (RightOuter, true, _) => walk(jn.right)
          case _ => ok = false
        }
      case l if Shims.isScanLeaf(l) && leaf.isEmpty => leaf = Some(l)
      case _ => ok = false
    }
    walk(chain)
    if (!ok || nFilters == 0 || leaf.isEmpty) return None
    val scanLeaf = leaf.get
    // temporal column on the SCAN LEAF (the chain's projection may prune
    // it — the delta conjunct injects below the projection)
    val tAttr = scanLeaf.output.find(a =>
      needles.contains(a.name.toLowerCase) &&
        a.dataType == TimestampType).getOrElse(return None)

    val fp = Fingerprint.of(chain) + ":rows" + fpSuffix
    val now = config.nowMicros()
    val tDt = tAttr.dataType
    // `repair`: declared rewrite windows re-read ALONGSIDE the delta —
    // the temporal conjunct becomes (ts >= wm OR ts ∈ range …), an
    // OR-of-ranges parquet row-group stats still prune
    def boundedAtLeaf(lower: Option[Long],
        repair: Seq[(Long, Long)] = Nil): LogicalPlan =
      chain.transformUp {
        case l if l eq scanLeaf =>
          val conjs =
            lower.map { wm =>
              val base: Expression = GreaterThanOrEqual(tAttr, Literal(wm, tDt))
              repair.foldLeft(base)((acc, r) =>
                org.apache.spark.sql.catalyst.expressions.Or(acc,
                  And(GreaterThanOrEqual(tAttr, Literal(r._1, tDt)),
                    LessThan(tAttr, Literal(r._2, tDt)))))
            }.toSeq ++
              (if (config.strictUpperBound)
                Seq(LessThan(tAttr, Literal(now, tDt)))
              else Nil)
          conjs.reduceOption(And).map(Filter(_, l)).getOrElse(l)
      }
    // ROW-STATE SUBSUMPTION: on an exact-fingerprint miss, a NARROWER
    // filter answers from a WIDER twin's materialized rows — strip a
    // conjunct whose columns survive the projection, look the twin up,
    // and re-apply the conjunct over the replayed rows (state rows passed
    // every other conjunct already, so re-filtering is exactly the narrow
    // result below the twin's watermark; the delta scan runs the narrow
    // chain itself). Recursive to depth 2: a doubly-narrowed slice
    // answers from the doubly-wider view. Same lattice idea as the
    // aggregate path's refilterTwins, at row grain.
    val entry0 = rowViewLookup(chain, fp, exactFp = Some(fp))
    // late re-scan band at ROW grain: when the temporal column survives
    // the projection, lower the effective watermark to wm − band, drop
    // state rows at/after it and let the delta re-read them — no bucket
    // alignment needed, rows partition by the raw cut (NULL-ts rows kept,
    // never re-read — same as the aggregate path). A pruned temporal
    // column can't identify the band's rows in state — loud skip.
    val (entry, bandApplied) = (entry0, config.lateRescanBandMicros) match {
      case (Some(cs), Some(band)) if band > 0 =>
        chain.output.find(_.semanticEquals(tAttr)) match {
          case Some(outT) =>
            val floor = cs.timestampMicros - band
            config.log.info(fp, s"late re-scan band (rows): effective " +
              s"watermark ${cs.timestampMicros} -> $floor")
            (Some(graft.cache.CachedState(floor, cs.schema, s =>
              cs.read(s).filter(col(outT.name) <
                Shims.column(org.apache.spark.sql.catalyst.expressions
                  .Literal(floor, tDt)) || col(outT.name).isNull))), true)
          case None =>
            config.log.warn(fp, "lateRescanBand declared but the row " +
              "state's projection pruned the temporal column — band " +
              "skipped, normal watermark used")
            (entry0, false)
        }
      case _ => (entry0, false)
    }
    // REPAIR RANGES at row grain (cache.repairRange): rows in a declared
    // rewrite window are dropped from the replayed state and re-read
    // alongside the delta — no bucket alignment needed, rows partition
    // by the raw ts cut (NULL-ts state rows kept, never re-read). A
    // projection that pruned the temporal column can't identify the
    // window's rows in state — loud rebuild (the invalidateForTable
    // cost, now automatic). Repaired commits never append and never
    // refresh at segment grain: mid-chain segments still hold the stale
    // rows, so the run compacts with a full put.
    val pendingRep = config.cache.pendingRepairs(fp)
    var repairRanges: Seq[(Long, Long)] = Nil
    val entryR: Option[graft.cache.CachedState] =
      if (pendingRep.isEmpty) entry
      else entry match {
        case None => None // gone/mismatched: the cold rebuild consumes
        case Some(cs) =>
          val ranges = IncrementalAggExecutor.mergeRanges(pendingRep.map(r =>
            (r.loMicros, math.min(r.hiMicros, cs.timestampMicros))))
          if (ranges.isEmpty) entry // all at/after the (banded) watermark
          else chain.output.find(_.semanticEquals(tAttr)) match {
            case Some(outT) =>
              config.log.info(fp, s"repairing ${ranges.size} declared " +
                "rewrite range(s) at row grain: " +
                ranges.map(r => s"[${r._1}, ${r._2})").mkString(", "))
              repairRanges = ranges
              Some(graft.cache.CachedState(cs.timestampMicros, cs.schema,
                s => {
                  val k = col(outT.name)
                  val dropped = ranges.map { case (lo, hi) =>
                    k >= Shims.column(Literal(lo, tDt)) &&
                      k < Shims.column(Literal(hi, tDt))
                  }.reduce(_ || _)
                  cs.read(s).filter(k.isNull || !dropped)
                }))
            case None =>
              config.log.warn(fp, "repair ranges pending but the row " +
                "state's projection pruned the temporal column — " +
                "rebuilding the view from scratch")
              None
          }
      }
    // hit: O(append) commit when the cache supports it (ParquetQueryCache
    // writes only the delta segment — rewriting a large materialized view
    // per run would be O(result)); otherwise a full put of the union.
    // The append path's returned replay reads parquet, so the answer
    // never rescans the source beyond the one delta write.
    val stored = entryR match {
      case Some(cs) =>
        config.log.info(fp, s"cache hit (rows): replaying materialized " +
          s"rows, delta scan from ${cs.timestampMicros}")
        val delta0 = Shims.ofRows(spark,
          boundedAtLeaf(Some(cs.timestampMicros), repairRanges))
        // refresh-cycle shared delta (SharedDelta): the append read comes
        // from the cycle's persisted scan; repair windows need rows below
        // the watermark the shared scan excludes, so they keep the
        // private leaf-injected scan
        val delta = scanLeaf match {
          case lrel: org.apache.spark.sql.execution.datasources.LogicalRelation
              if repairRanges.isEmpty && SharedDelta.cycleActive =>
            SharedDelta.substituteAtLeaf(spark, delta0, lrel, tAttr,
              cs.timestampMicros, config.temporalPartitionColumn,
              config.log, fp)
          case _ => delta0
        }
        // a banded hit REPLACES the band's rows, so the stored chain
        // (which still contains them) must be rewritten, never appended —
        // appending the re-read band would duplicate it. A chain-aware
        // cache does the replacement at SEGMENT grain (refreshBand):
        // segments wholly below the floor are kept verbatim and only the
        // straddling tail + the band re-read commit as one new segment —
        // O(append + band) written bytes per warm run, not O(view). The
        // full-put fallback covers caches without chains (memory) and
        // the compaction case. putAppend itself detects an all-empty
        // delta from the written segment's parquet footers and skips the
        // meta commit (a no-op refresh must not grow the chain toward a
        // pointless full-view compaction).
        val committed =
          if (repairRanges.nonEmpty) None // mid-chain stale rows: full put
          else if (bandApplied)
            chain.output.find(_.semanticEquals(tAttr)).flatMap(outT =>
              config.cache.refreshBand(fp, now, outT.name,
                cs.timestampMicros, delta))
          else config.cache.putAppend(fp, now, delta)
        committed.getOrElse(
          config.cache.put(fp, now, cs.read(spark).unionByName(delta)))
      case None =>
        // COLD-PUT ADMISSION GUARD: a broad filter over a large table
        // would materialize a result-sized copy on first touch — the
        // memory cache row-guards every put, but a durable cache has no
        // natural ceiling. The estimate is the SUM of the chain's leaf
        // relation sizes (file bytes — zero extra I/O), an upper bound
        // for these chains: filters and projections only shrink, and the
        // admitted join shape (fact ⋈ unique-keyed static dim) is
        // fact-bounded. Catalyst's default size-only plan stats are
        // deliberately NOT used — without CBO they ignore filter
        // selectivity and MULTIPLY join children, which silently
        // declined every star-join view beyond toy scale. A genuinely
        // huge source still declines even for a selective filter (the
        // result size is unknowable without column stats) — raise
        // maxRowStateBytes consciously for that case.
        val estBytes =
          try chain.collectLeaves().map(l =>
            try l.stats.sizeInBytes catch { case _: Exception => BigInt(0) })
            .sum
          catch { case _: Exception => BigInt(0) }
        if (estBytes > config.maxRowStateBytes) {
          config.log.warn(fp, s"row-state admission declined: source " +
            s"$estBytes bytes > maxRowStateBytes=${config.maxRowStateBytes}" +
            " — running vanilla (narrow the filter or raise the budget)")
          return None
        }
        config.log.info(fp,
          "cache miss (rows): materializing filter-query rows")
        config.cache.put(fp, now, Shims.ofRows(spark, boundedAtLeaf(None)))
    }
    // repairs consumed (bucket-repaired in-flight, rebuilt, or wholly
    // at/after the watermark where the delta re-read them); token-scoped
    // so a repair declared during this run survives for the next
    if (pendingRep.nonEmpty)
      config.cache.clearRepairs(fp, pendingRep.map(_.token))
    config.cache.recordSourcePaths(fp, Shims.sourcePaths(chain))
    graft.plans.CacheReplayStrategy.register(spark)
    val storedPlan = Shims.queryExecution(stored).analyzed
    val aligned = Project(
      storedPlan.output.zip(chain.output).map { case (na, oo) =>
        Alias(na, oo.name)(exprId = oo.exprId)
      }, storedPlan)
    val marked = graft.plans.CacheReplayMarker(aligned, fp,
      hit = entryR.isDefined,
      watermarkMicros = entryR.map(_.timestampMicros))
    Some(analyzed.transformUp { case n if n eq chain => marked })
  }

  // ------------------------------------------------ join subsumption

  /** On an exact-fingerprint miss: a query aggregating a fact ⋈
    * declared-static-dim INNER join by DIM attributes can be answered
    * from the warm state of the plain FACT query grouped by the JOIN
    * KEY — the state re-joins the (static) dim on the key, dim group
    * expressions evaluate over the joined dim columns, and the key
    * merges away through the normal merge aggregation. One fact-grained
    * state serves every dimension breakdown.
    *
    * Soundness (eager aggregation, Yan & Larson VLDB'95): with a single
    * equi-pair inner join, measures referencing only fact columns, and
    * every grouping expression referencing exactly one side, a state row
    * joining m dim rows contributes to exactly the m groups its
    * underlying fact rows reach in the direct plan — multiplicity and
    * dropped null/unmatched keys included. Chain filters between the
    * aggregate and the join must be fact-only (they transplant to the
    * twin); the dim side must be declared static — the same staleness
    * contract the direct cached-join path already requires. */
  private def rejoinTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.Inner
    // V1 shape: Filter / SubqueryAlias / pass-through-Project chain over
    // exactly one join
    var filters = List.empty[Expression] // outermost-first
    def peel(p: LogicalPlan): Option[Join] = p match {
      case Filter(cond, ch) => filters = filters :+ cond; peel(ch)
      case SubqueryAlias(_, ch) => peel(ch)
      case Project(list, ch) if list.forall(_.isInstanceOf[Attribute]) =>
        peel(ch)
      case jn: Join => Some(jn)
      case _ => None
    }
    val j = peel(c.agg.child).getOrElse(return Iterator.empty)
    if (j.joinType != Inner) return Iterator.empty
    val (factSide, dimSide) =
      if (j.left.outputSet.subsetOf(c.staticOuts)) (j.right, j.left)
      else if (j.right.outputSet.subsetOf(c.staticOuts)) (j.left, j.right)
      else return Iterator.empty
    val (fk, pk) = j.condition match {
      case Some(EqualTo(a: Attribute, b: Attribute)) =>
        if (factSide.outputSet.contains(a) && dimSide.outputSet.contains(b))
          (a, b)
        else if (factSide.outputSet.contains(b) &&
          dimSide.outputSet.contains(a)) (b, a)
        else return Iterator.empty
      case _ => return Iterator.empty
    }
    if (!filters.forall(_.references.subsetOf(factSide.outputSet)))
      return Iterator.empty
    // grouping splits cleanly by side; measures (incl. any expression
    // around them in the output) reference only fact columns
    val groups = c.agg.groupingExpressions
    val factIdx = groups.zipWithIndex.collect {
      case (g, i) if g.references.nonEmpty &&
        g.references.subsetOf(factSide.outputSet) => i
    }
    val dimIdx = groups.zipWithIndex.collect {
      case (g, i) if g.references.nonEmpty &&
        g.references.subsetOf(dimSide.outputSet) => i
    }
    if (factIdx.length + dimIdx.length != groups.length) return Iterator.empty
    val measureOuts = c.agg.aggregateExpressions.filter(
      _.exists(_.isInstanceOf[AggregateExpression]))
    if (!measureOuts.forall(_.references.subsetOf(factSide.outputSet)))
      return Iterator.empty
    // twin: the plain fact query grouped by (fact groups, join key)
    val factGroups = factIdx.map(groups(_))
    val fkPos = factGroups.indexWhere {
      case a: Attribute => a.semanticEquals(fk)
      case _ => false
    }
    val twinGroups =
      if (fkPos >= 0) factGroups else factGroups :+ (fk: Expression)
    val fkTwinIdx = if (fkPos >= 0) fkPos else factGroups.length
    def echoOf(g: Expression): NamedExpression =
      c.agg.aggregateExpressions.find { o =>
        (o match { case Alias(ch, _) => ch; case x => x }).semanticEquals(g)
      }.getOrElse(g match {
        case ne: NamedExpression => ne
        case e => Alias(e, "_b")()
      })
    val twinChild = filters.foldRight(factSide)((cond, ch) => Filter(cond, ch))
    val twin = c.agg.copy(
      groupingExpressions = twinGroups,
      aggregateExpressions = twinGroups.map(echoOf) ++ measureOuts,
      child = twinChild)
    val fp2 = Fingerprint.of(twin) + fpSuffix
    val nGroup = groups.length
    val twinStateSchema = StructType(
      twinGroups.zipWithIndex.map { case (g, i) =>
        org.apache.spark.sql.types.StructField(s"_g$i", g.dataType)
      } ++ stateSchema.drop(nGroup))
    val stateCols = stateSchema.drop(nGroup).map(f => col(f.name))
    Iterator.single(new Twin(c.copy(agg = twin), twinStateSchema, fp2,
      s"rejoin hit: replaying (${fk.name})-keyed fact state " +
        s"${fp2.take(12)} re-joined to the static dimension",
      cs => graft.cache.CachedState(cs.timestampMicros, stateSchema, { s =>
        val dimDF = Shims.ofRows(s, dimSide)
        val groupSel: Seq[Column] = groups.zipWithIndex.map {
          case (g, i) =>
            val t = factIdx.indexOf(i)
            if (t >= 0) col(s"_g$t").as(s"_g$i")
            else Shims.column(g).as(s"_g$i")
        }
        cs.read(s)
          .join(dimDF, col(s"_g$fkTwinIdx") === Shims.column(pk))
          .select(groupSel ++ stateCols: _*)
      })))
  }

  // --------------------------------------------- measure subsumption

  /** measure-erased output list: the plan's identity minus its aggregate
    * list — same child + same grouping ⇒ same base fingerprint. Alias
    * names canonicalize away, so wrapping non-named grouping expressions
    * is fingerprint-stable. */
  private def baseTwinOutputs(agg: Aggregate): Seq[NamedExpression] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val gs: Seq[NamedExpression] = agg.groupingExpressions.map {
      case ne: NamedExpression => ne
      case e => Alias(e, "_b")()
    }
    if (gs.nonEmpty) gs else Seq(Alias(Literal(1), "_b")())
  }

  private def baseFingerprint(agg: Aggregate): String =
    Fingerprint.of(agg.copy(aggregateExpressions = baseTwinOutputs(agg))) +
      fpSuffix

  /** one measure's identity under this plan: the base twin plus exactly
    * that AggregateExpression — "same measure" means Catalyst-canonically
    * the same expression over the same child and grouping */
  private def measureDescriptor(agg: Aggregate,
      ae: AggregateExpression): String =
    Fingerprint.of(agg.copy(
      aggregateExpressions = baseTwinOutputs(agg) :+ Alias(ae, "_m")())) +
      fpSuffix

  /** this query's measure rows for the index: descriptor → its state
    * column names (positional within the measure, stable across queries
    * because Decompose is deterministic per measure) */
  private def measureRows(c: Cacheable): Seq[(String, Seq[String])] =
    c.aggExprs.zip(c.decomps).map { case (ae, d) =>
      (measureDescriptor(c.agg, ae), d.state.map(_.name))
    }

  /** On an exact-fingerprint miss: look for warm state of the SAME plan
    * (same child + grouping, matched by the measure-erased base
    * fingerprint) computed for a SUPERSET of this query's measures, and
    * answer by projecting out exactly the state columns this query
    * needs, renamed to its own positional state names. Unlike grain/
    * dimension subsumption nothing re-aggregates: each measure's partial
    * state is a deterministic function of (child, grouping, measure), so
    * the projected columns are byte-for-byte the state this query would
    * have captured — and the put then stores the projection under THIS
    * fingerprint, so the next run hits directly. */
  private def remeasureTwins(c: Cacheable,
      stateSchema: StructType): Iterator[Twin] = {
    val needed = measureRows(c)
    val nGroup = c.agg.groupingExpressions.length
    config.cache.entriesForBase(baseFingerprint(c.agg)).iterator
      .filter(_._1 != c.fingerprint)
      .flatMap { case (fp2, stored) =>
        val storedMap = stored.toMap
        val covers = stored.size == storedMap.size && needed.forall {
          case (d, names) => storedMap.get(d).exists(_.length == names.length)
        }
        val renames = needed.flatMap { case (d, names) =>
          storedMap.getOrElse(d, Nil).zip(names)
        }
        // the stored state projected to this query's columns; None when
        // it lacks one of them
        def projected(st: StructType): Option[StructType] = {
          val byName = st.fields.map(f => f.name -> f).toMap
          val ms = renames.flatMap { case (from, to) =>
            byName.get(from).map(_.copy(name = to)) }
          Option.when(ms.length == renames.length)(
            StructType(st.take(nGroup) ++ ms))
        }
        val sel = stateSchema.take(nGroup).map(f => col(f.name)) ++
          renames.map { case (from, to) => col(from).as(to) }
        Option.when(covers)(new Twin(c, stateSchema, fp2,
            s"remeasure hit: replaying measure-superset state " +
              s"${fp2.take(12)} projected to ${needed.length} of " +
              s"${stored.size} measures",
            cs => graft.cache.CachedState(cs.timestampMicros,
              projected(cs.schema).get, s => cs.read(s).select(sel: _*))) {
          // the superset's own layout is unknown before its state is read:
          // fit on the projection this query keeps
          override def fits(st: StructType): Boolean =
            projected(st).exists(schemaCompatible(_, stateSchema))
        })
      }
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  /** Materialized-row-view lookup for a Project/Filter `chain`: the exact
    * row fingerprint first, then two subsumption probes —
    *
    *   REFILTER: a NARROWER chain answers from a WIDER twin's
    *   materialized rows by stripping a conjunct whose columns survive
    *   the projection and re-applying it over the replayed rows (state
    *   rows passed every other conjunct already, so re-filtering is
    *   exactly the narrow result below the twin's watermark);
    *
    *   REPROJECT: a COLUMN SLICE answers from the projection-stripped
    *   twin — the chain's outermost Project removed exposes the
    *   full-width view a user typically materializes first
    *   (`df.filter(f)` with no select), and re-applying the projection
    *   expressions (rebound by name) over the replayed full-width rows
    *   is exactly the slice, row for row.
    *
    * Both recurse (depth 2), so a filtered column slice answers from
    * the unfiltered full-width view. Shared by the filter-query rewrite
    * (its delta scan runs the narrow chain itself) and the MV→aggregate
    * cold start (a cold aggregate over a narrower chain skips the history
    * scan through the wider warm view re-shaped). */
  private def rowViewLookup(chain: LogicalPlan, logFp: String,
      exactFp: Option[String] = None): Option[graft.cache.CachedState] = {
    def rowSchema(p: LogicalPlan) = StructType(p.output.map(
      a => org.apache.spark.sql.types.StructField(
        a.name, a.dataType, a.nullable)))
    def uniqueNames(p: LogicalPlan) =
      p.output.map(_.name.toLowerCase).distinct.size == p.output.size
    // stripping conjuncts a then b reaches the twin b then a does
    val memo = scala.collection.mutable.HashMap
      .empty[String, Option[graft.cache.CachedState]]
    def probeTwin(twin: LogicalPlan, depth: Int)
        : Option[graft.cache.CachedState] = {
      val fp2 = Fingerprint.of(twin) + ":rows" + fpSuffix
      memo.getOrElseUpdate(fp2, twinState(fp2))
        .filter(cs => schemaCompatible(cs.schema, rowSchema(twin)))
        .orElse(rowProbe(twin, depth + 1))
    }
    def rowProbe(p: LogicalPlan, depth: Int): Option[graft.cache.CachedState] = {
      if (depth > 2 || !uniqueNames(p)) return None
      val conjs = ArrayBuffer.empty[Expression]
      p.foreach {
        case Filter(cond, _) => splitConj(cond).foreach(conjs += _)
        case _ => ()
      }
      val refilter = conjs.filter(_.references.subsetOf(p.outputSet))
        .to(LazyList)
        .flatMap { cj =>
          val twin = stripConjunct(p, cj)
          probeTwin(twin, depth).map { cs =>
            config.log.info(logFp, s"refilter (rows) hit: replaying " +
              s"wider twin re-filtered by ${cj.sql}")
            val cjCol = Shims.column(cj.transform {
              case a: Attribute => UnresolvedAttribute(Seq(a.name))
            })
            graft.cache.CachedState(cs.timestampMicros, cs.schema,
              s => cs.read(s).filter(cjCol))
          }
        }.headOption
      refilter.orElse(p match {
        case Project(es, rest) if uniqueNames(rest) =>
          probeTwin(rest, depth).map { cs =>
            config.log.info(logFp, "reproject (rows) hit: replaying the " +
              "full-width twin re-projected to the slice")
            val cols = es.map { ne =>
              val core = ne match {
                case Alias(c, _) => c
                case other => other
              }
              Shims.column(core.transform {
                case a: Attribute => UnresolvedAttribute(Seq(a.name))
              }).as(ne.name)
            }
            graft.cache.CachedState(cs.timestampMicros,
              rowSchema(p), s => cs.read(s).select(cols: _*))
          }
        case _ => None
      })
    }
    // the filter-query rewrite already computed the chain's row
    // fingerprint (a full plan walk) — reuse it; the MV→aggregate probe
    // computes it here. The filter-query rewrite (exactFp set) takes the
    // state even with pending repair ranges — it applies them in-flight;
    // the MV→aggregate probe must NOT (it would bake stale rows into a
    // fresh aggregate entry), so its exact lookup is repair-guarded like
    // every twin.
    val chainFp = exactFp.getOrElse(Fingerprint.of(chain) + ":rows" + fpSuffix)
    (if (exactFp.isDefined) config.cache.get(chainFp)
     else twinState(chainFp))
      .filter { cs =>
        val compat = schemaCompatible(cs.schema, rowSchema(chain))
        if (!compat) config.log.warn(logFp,
          "cached row-state schema mismatch — treating as miss")
        compat
      }
      .orElse(rowProbe(chain, 1))
  }

  /** remove one conjunct (the dynamic bound) from every Filter carrying it */
  private def stripConjunct(plan: LogicalPlan, bound: Expression): LogicalPlan =
    plan.transformUp {
      case Filter(cond, ch) if splitConj(cond).exists(_.fastEquals(bound)) =>
        val rest = splitConj(cond).filterNot(_.fastEquals(bound))
        if (rest.isEmpty) ch else Filter(rest.reduce(And(_, _)), ch)
    }

  /** value-type compatibility — nullability-erased, because the unit/
    * merge casts target the null-tolerant form and a state that merged
    * through a union acquires nullable array elements the cold partial's
    * schema does not have */
  private def schemaCompatible(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name &&
        Decompose.nullTolerant(x.dataType) == Decompose.nullTolerant(y.dataType)
    }
}

object IncrementalAggExecutor {
  /** normalize declared rewrite ranges: drop empties, sort, coalesce
    * overlapping/adjacent — a range declared twice (e.g. once in-process
    * and once through a durable sidecar) must repair once, not re-scan
    * twice */
  private[graft] def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = rs.filter(r => r._1 < r._2).sortBy(_._1)
    sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: tail, (l, h)) if l <= hi =>
        (lo, math.max(hi, h)) :: tail
      case (acc, r) => r :: acc
    }.reverse
  }

  /** date_trunc grain → the TimestampAdd unit that steps ONE bucket
    * (calendar-correct for month/quarter/year, DST-correct for day/week
    * under the same zone); None = sub-bucket grains trunc supports but a
    * repair can't step (caller rebuilds) */
  private[graft] def truncAddUnit(format: String): Option[String] =
    format.toLowerCase match {
      case "year" | "yyyy" | "yy" => Some("YEAR")
      case "quarter" => Some("QUARTER")
      case "month" | "mon" | "mm" => Some("MONTH")
      case "week" => Some("WEEK")
      case "day" | "dd" => Some("DAY")
      case "hour" => Some("HOUR")
      case "minute" => Some("MINUTE")
      case "second" => Some("SECOND")
      case "millisecond" => Some("MILLISECOND")
      case "microsecond" => Some("MICROSECOND")
      case _ => None
    }

  /** state-schema per plan fingerprint, shared across executor instances
    * (a facade session builds a fresh executor per run) — saves one full
    * plan analysis per warm run. The schema of a fingerprint's partial
    * state is a pure function of the plan, so process-wide sharing is
    * sound; a stale entry after a library upgrade just causes a logged
    * miss. Bounded: cleared wholesale past 4096 fingerprints (re-deriving
    * a schema costs one analysis, not a cold run). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def memoGet(fp: String, compute: => StructType): StructType = {
    val hit = schemaMemo.get(fp)
    if (hit != null) hit
    else {
      if (schemaMemo.size > 4096) schemaMemo.clear()
      val v = compute
      schemaMemo.put(fp, v)
      v
    }
  }
}
