package graft.exec

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, AttributeSet, Expression, Literal, NamedExpression,
  PlanExpression, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampType}

import graft.QueryCacheConfig
import graft.analysis.{Fingerprint, Stability, TemporalGroupBy}
import graft.cache.CacheCapacityExceeded
import graft.log.{CacheEvent, LogLevel}
import graft.log.CacheEvent.{Decision, Outcome}
import graft.rewrite.Decompose
import graft.rewrite.Decompose.Decomposed

import IncrementalAggExecutor._

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
  * to 1 partition, src/aggregate.rs:392 — its state is equally tiny). A
  * small warm refresh of a durable entry is merged on the driver, with
  * Spark's own aggregation operator over the collected rows, and answered
  * from the merged rows: one Spark job (`ParquetQueryCache.putAppend`).
  *
  * A query that fails any decision branch runs vanilla, with the reason
  * logged (reference decision points, src/aggregate.rs:97-203).
  *
  * Each step lives in its own file, mixed into this one class:
  *  - this file: the entry points, the fallback list, `decide` and the
  *    plan-shape helpers the other steps share;
  *  - `StateCommit.scala`: the aggregate path's state resolution (direct
  *    hit, late band, repairs), the one commit step every rewrite that
  *    stores state goes through, and the one answer splice;
  *  - `Subsumption.scala`: the probe search over the `follows` table and
  *    the ten aggregate probes;
  *  - `FactorizedJoin.scala`: two growing join sides as two per-side twins;
  *  - `BucketedTwins.scala`: the (grain bucket × keys) twin behind the
  *    no-group dynamic bound and the temporal twin;
  *  - `RowViews.scala`: materialized row views and their lookup.
  */
final class IncrementalAggExecutor(val config: QueryCacheConfig)
    extends StateCommit with Subsumption with FactorizedJoin
    with BucketedTwins with RowViews {

  /** Capture-mode fingerprint suffix, shared by the direct lookup and
    * every subsumption twin: strict-mode state covers a different band
    * (see decide), and exact-percentile mode (percentileSketchState=off)
    * must never warm-merge sketch-mode state — the two states share a
    * schema, so only the key can keep them apart. */
  private[exec] def fpSuffix: String =
    (if (config.strictUpperBound) ":s1" else "") +
      (if (config.percentileSketchState) "" else ":px0")

  /** Every event of a rewrite goes here: the decisions to `cache.stats`,
    * everything to the config's log and to the listener bus. */
  private[graft] def publish(spark: SparkSession, e: CacheEvent): Unit = {
    config.cache.stats.record(e)
    config.log.event(e)
    Shims.postEvent(spark, e)
  }

  private[exec] def info(fp: String, msg: String): Unit =
    CacheEvent.report(CacheEvent.Note(LogLevel.Info, fp, msg))
  private[exec] def warn(fp: String, msg: String): Unit =
    CacheEvent.report(CacheEvent.Note(LogLevel.Warn, fp, msg))
  private[exec] def phase[A](fp: String, tag: String)(f: => A): A =
    CacheEvent.phase(fp, tag)(f)

  /** Memos for one top-level [[rewritePlan]], nested twin rewrites
    * included: each plan is fingerprinted, and each aggregate's measure
    * index rows derived, once however many paths reach it. `served`
    * gathers the states that answered, for the one Decision. */
  private final class RewriteScope {
    val fingerprints = mutable.HashMap.empty[LogicalPlan, String]
    val measures =
      mutable.HashMap.empty[Aggregate, (String, Seq[(String, Seq[String])])]
    val served = ArrayBuffer.empty[Served]
  }
  private val scope = new ThreadLocal[RewriteScope]

  /** records a state that answered part of the running rewrite */
  private[exec] def served(s: Served): Unit =
    Option(scope.get).foreach(_.served += s)

  /** [[Fingerprint.of]], memoized per rewrite (without the capture-mode
    * suffix, which callers append). */
  private[exec] def fingerprint(plan: LogicalPlan): String = scope.get match {
    case null => Fingerprint.of(plan)
    case s => s.fingerprints.getOrElseUpdate(plan, Fingerprint.of(plan))
  }

  /** `compute` for `agg`, memoized per rewrite. */
  private[exec] def measureIndex(agg: Aggregate)(
      compute: => (String, Seq[(String, Seq[String])]))
      : (String, Seq[(String, Seq[String])]) = scope.get match {
    case null => compute
    case s => s.measures.getOrElseUpdate(agg, compute)
  }

  def run(df: DataFrame): DataFrame = {
    val analyzed = Shims.queryExecution(df).analyzed
    rewritePlan(df.sparkSession, analyzed) match {
      case Some(newPlan) => Shims.ofRows(df.sparkSession, newPlan)
      case None => df
    }
  }

  /** Plan-level entry (shared by the facade and the transparent optimizer
    * rule): Some(replacement plan) when the query was cache-rewritten,
    * None to run vanilla. A top-level call reports exactly one
    * [[CacheEvent.Decision]], and tags its Spark jobs as the `exec`
    * layer's. */
  def rewritePlan(spark: SparkSession, analyzed: LogicalPlan): Option[LogicalPlan] =
    if (scope.get != null) rewriteScoped(spark, analyzed)._1
    else CacheEvent.reporting(publish(spark, _)) {
      scope.set(new RewriteScope)
      try CacheEvent.inLayer(spark.sparkContext, "exec") {
        val (answer, decision) = rewriteScoped(spark, analyzed)
        CacheEvent.report(decision)
        answer
      } catch {
        case scala.util.control.NonFatal(e) =>
          CacheEvent.report(Decision("-", Outcome.Fallback, "error",
            detail = String.valueOf(e.getMessage)))
          throw e
      } finally scope.remove()
    }

  private def rewriteScoped(spark: SparkSession,
      analyzed: LogicalPlan): (Option[LogicalPlan], Decision) = {
    val t0 = System.nanoTime()
    val decided = decide(analyzed)
    CacheEvent.report(CacheEvent.Phase(decided.fold(_._1, _.fingerprint),
      "decide", (System.nanoTime() - t0) / 1e6))
    val (fp, declined, rewrites) = decided match {
      case Left((fp, code, reason)) => (fp, Some((code, reason)), Seq(
        // two-fact join aggregates: after the single-state decision bails,
        // try the factorized decomposition (two per-side twin states plus
        // a state-sized combine — see factorizedJoinRewrite)
        Rewrite("factorized join rewrite failed",
          () => phase(fp, "factorized")(factorizedJoinRewrite(spark, analyzed)),
          factorized = true),
        // no-GROUP-BY aggregate under a dynamic lower bound (reference
        // README.md:132 TODO): bucket internally, bound over bucket
        // starts, re-aggregate — see dynNoGroupRewrite
        Rewrite("no-group dynamic bound rewrite failed", () =>
          if (!config.dynamicBoundBucketGranularity) None
          else phase(fp, "dyn-nogroup")(dynNoGroupRewrite(spark, analyzed))),
        // simple filter queries (reference README.md:130 TODO): cache
        // the row result itself as an incremental materialized view
        Rewrite("filter-query rewrite failed",
          () => phase(fp, "filter-rows")(filterQueryRewrite(spark, analyzed)),
          tooLarge = Some("row state too large"))))
      case Right(c) =>
        info(c.fingerprint,
          s"query valid for caching, temporal column ${c.temporalAttr.name}")
        // opt-in temporal twin: grouped queries WITHOUT a temporal bucket
        // key route through a (grain-bucket × keys) twin so bucket-grain
        // repairs / late bands / dynamic bounds apply; a declined twin
        // falls through to the plain keys-only path. A failure of either
        // runs vanilla: the cache layer must never break a query (if the
        // query itself is broken, vanilla execution raises the real
        // error to the caller).
        (c.fingerprint, None, Seq(Rewrite("cache rewrite failed", () =>
          (if (config.temporalTwinGrain.isEmpty) None
           else phase(c.fingerprint, "bucket-twin")(
             bucketTwinRewrite(spark, analyzed, c)))
            .orElse(Some(execute(spark, analyzed, c))),
          tooLarge = Some("state too large"))))
    }
    // the first rewrite that answers wins; one that throws logs why and
    // the next is tried
    val states = scope.get.served
    var failed: Option[Decision] = None
    val answered = rewrites.iterator.flatMap { r =>
      val mark = states.size
      try r.run().map((_, r, states.drop(mark).toSeq))
      catch {
        case scala.util.control.NonFatal(e) =>
          val (what, code) = e match {
            case _: CacheCapacityExceeded if r.tooLarge.isDefined =>
              (r.tooLarge.get, "too-large")
            case _ => (r.failed, "error")
          }
          warn(fp, s"$what, running uncached: ${e.getMessage}")
          failed = Some(Decision(fp, Outcome.Fallback, code,
            detail = String.valueOf(e.getMessage)))
          None
      }
    }.nextOption()
    if (answered.isEmpty)
      declined.foreach(reason => info(fp, s"not caching: ${reason._2}"))
    (answered.map(_._1), (answered, declined) match {
      // a hit when every state that answered hit
      case (Some((_, r, by)), _) =>
        val last = by.lastOption.getOrElse(Served(hit = false, "cold"))
        Decision(fp, if (by.forall(_.hit)) Outcome.Hit else Outcome.Miss,
          if (r.factorized) "factorized" else last.reason, last.path)
      case (None, Some((code, reason))) =>
        Decision(fp, Outcome.Bail, code, detail = reason)
      case (None, None) => failed.getOrElse(
        Decision(fp, Outcome.Fallback, "error"))
    })
  }

  /** a declared-static side: every leaf is a LocalRelation (immutable,
    * content-fingerprinted) or a scan over declared tables, and every
    * expression in the subtree is deterministic, subquery-free and free
    * of now() leaves (a dim filtered by now() re-evaluates differently
    * on the next run — not static in the sense the state needs) */
  private[exec] def isStaticSide(side: LogicalPlan): Boolean = {
    val leavesOk = side.collectLeaves().forall {
      case _: LocalRelation => true
      case l if Shims.isScanLeaf(l) =>
        config.isDeclaredStatic(Shims.sourcePaths(l))
      case _ => false
    }
    leavesOk && side.collect { case n => n }.forall(_.expressions.forall(e =>
      e.deterministic && !hasSubquery(Seq(e)) &&
        !graft.analysis.NowBounds.containsNow(e)))
  }

  /** the declared partition column as a fact-side attribute of `plan`:
    * by name it could bind to (or be ambiguous with) a declared-static dim
    * column of the same name */
  private[exec] def partitionAttr(c: Cacheable,
      plan: LogicalPlan): Option[Attribute] =
    config.temporalPartitionColumn.flatMap { name =>
      plan.output.find(a => a.name.equalsIgnoreCase(name) &&
        !c.staticOuts.contains(a))
    }

  /** lower-cased names a temporal column may have */
  private[exec] def temporalNeedles: Set[String] =
    config.temporalColumns.map(_.toLowerCase) +
      config.defaultTemporalColumn.toLowerCase

  // ---------------------------------------------------------------- decide

  /** The aggregate `analyzed` caches, or (fingerprint, Decision reason
    * code, message) of why it does not. */
  private[exec] def decide(
      analyzed: LogicalPlan): Either[(String, String, String), Cacheable] = {
    val aggs = analyzed.collect { case a: Aggregate => a }
    if (aggs.isEmpty) return Left(("-", "no-aggregate", "no aggregate in plan"))
    if (aggs.size > 1)
      return Left(("-", "nested-aggregates", "nested aggregates not supported"))
    val agg = aggs.head
    // the capture mode is part of the state's identity: strict-mode state
    // covers [-inf, capture_now) while default-mode state covers every row
    // present at capture (including future-dated ones), and the static-
    // union replay prunes branches only in default mode. Re-using one
    // mode's state under the other double-counts (OFF state + ON delta
    // re-reads rows in [wm, now); ON state + OFF pruned static branch
    // loses static rows >= wm) — so a flipped flag must be a cache MISS,
    // not a hit with the wrong band.
    val fp = fingerprint(agg) + fpSuffix
    def bail(code: String, msg: String) = Left((fp, code, msg))

    // subqueries anywhere in the cached subtree's expressions make the
    // entry unsound: a PlanExpression's deterministic flag ignores the
    // nested plan's DATA, and its source tables are absent from the
    // fingerprint — the watermark would never rescan them (parents ABOVE
    // the aggregate are spliced back on top and re-run, so subqueries
    // there remain fine)
    if (hasSubquery(agg.aggregateExpressions) || hasSubquery(agg.groupingExpressions))
      return bail("subquery", "subquery inside aggregate — not cacheable")

    // temporal group-bys: at most one (reference src/aggregate.rs:97-104).
    // Optimizer-stage plans hide the bucket behind a pulled-out
    // `_groupingexpression` attribute — resolve through the child Project.
    val effectiveGroupExprs = agg.groupingExpressions.map(
      TemporalGroupBy.resolveThroughChild(_, agg.child))
    val temporalGroups = TemporalGroupBy.findAll(effectiveGroupExprs, config)
    if (temporalGroups.size > 1)
      return bail("temporal-groups", "multiple temporal group-bys: " +
        temporalGroups.map(_.name).mkString(", "))
    if (!agg.groupingExpressions.forall(_.deterministic))
      return bail("nondeterministic", "non-deterministic group expression")

    val needles: Set[String] = temporalGroups.headOption
      .map(a => Set(a.name.toLowerCase))
      .getOrElse(temporalNeedles)

    // input shape: Filter/Project chain over a scan leaf, every filter
    // stable (reference src/aggregate.rs:106-135). Joins are accepted ONLY
    // when every non-fact side reads tables the user DECLARED static
    // (config.staticDimensionTables): appended fact rows then join the
    // unchanged dims and merge like bare fact rows. Without the opt-in we
    // reject joins outright — appending fact rows says nothing about
    // dimension-side changes (the reference wraps joins blindly,
    // src/aggregate.rs:130-135).
    var shapeErr: Option[(String, String)] = None
    def shape(code: String, msg: String): Unit = shapeErr = Some((code, msg))
    var dynamicBound: Option[Expression] = None
    var staticOutputs = AttributeSet.empty
    val staticUnionBranches = ArrayBuffer.empty[LogicalPlan]
    def walk(p: LogicalPlan): Unit = if (shapeErr.isEmpty) p match {
      case Filter(cond, child) =>
        Stability.find(cond, needles) match {
          case Stability.Abandon =>
            shape("unstable-filter", s"filter expression is not stable: ${cond.sql}")
          case Stability.Found(b) =>
            if (config.dynamicBoundBucketGranularity && temporalGroups.nonEmpty &&
                dynamicBound.isEmpty)
              { dynamicBound = Some(b); walk(child) }
            else if (config.dynamicBoundBucketGranularity && temporalGroups.isEmpty)
              shape("dynamic-bound", "dynamic lower bound requires a temporal group-by bucket")
            else
              shape("dynamic-bound", s"dynamic lower bound not yet supported: ${b.sql}" +
                " (enable dynamicBoundBucketGranularity)")
          case Stability.FoundNow =>
            shape("now-filter", s"now() inside filter not yet supported: ${cond.sql}")
          case Stability.Stable => walk(child)
        }
      case Project(exprs, child) =>
        if (!exprs.forall(_.deterministic))
          shape("nondeterministic", "non-deterministic projection under aggregate")
        else if (hasSubquery(exprs))
          shape("subquery", "subquery in projection under aggregate — not cacheable")
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
          shape("nondeterministic", "non-deterministic expand projection")
        else walk(e.child)
      case j: Join =>
        if (config.staticDimensionTables.isEmpty)
          shape("join", "join under aggregate — not cacheable (declare " +
            "staticDimensionTables to cache aggregates over static-dimension joins)")
        else if (!j.condition.forall(_.deterministic) || hasSubquery(j.condition.toSeq))
          shape("join", "non-deterministic or subquery join condition — not cacheable")
        // Catalyst marks now()/current_date deterministic (frozen per
        // query) but per RUN they vary: a now()-dependent join condition
        // would make cached state run-time-dependent while fingerprinting
        // identically — the same hazard Stability.FoundNow bails on for
        // filters
        else if (j.condition.exists(graft.analysis.NowBounds.containsNow))
          shape("join", "now() inside join condition — not cacheable")
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
            shape("join", "every join side is a declared-static table — " +
              "nothing to watermark (cache is for append-mostly fact inputs)")
          else if (!leftStatic && !rightStatic)
            shape("join", "join side reads tables not declared static — not cacheable")
          else (j.joinType, leftStatic) match {
            case (Inner, true) => accept(j.left, j.right)
            case (Inner, false) => accept(j.right, j.left)
            case (LeftOuter | LeftSemi | LeftAnti, false) => accept(j.right, j.left)
            case (RightOuter, true) => accept(j.left, j.right)
            case (jt, _) =>
              shape("join", s"${jt.sql} join with the static table on the " +
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
          shape("union", "union under aggregate — not cacheable (declare " +
            "staticDimensionTables to cache aggregates over static-branch unions)")
        else if (u.byName)
          shape("union", "by-name union not resolved positionally — not cacheable")
        else {
          val (staticCh, factCh) = u.children.partition(isStaticSide)
          if (factCh.isEmpty)
            shape("union", "every union branch is a declared-static table — " +
              "nothing to watermark (cache is for append-mostly fact inputs)")
          else if (factCh.size > 1)
            shape("union", "more than one union branch reads non-declared-static " +
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
        shape("input-shape", s"input ${other.nodeName} beyond scan/filter/project — not cacheable")
    }
    walk(agg.child)
    shapeErr.foreach { case (code, e) => return bail(code, e) }

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
        return bail("temporal-column",
          s"temporal column ${config.defaultTemporalColumn} not found in input")
    }
    if (temporalAttr.dataType != TimestampType)
      return bail("temporal-column", s"temporal column ${temporalAttr.name} " +
        s"is ${temporalAttr.dataType.simpleString}, not timestamp")
    // static-join mode: the watermark must bound the FACT side — a
    // temporal column sourced from a declared-static dimension would
    // filter the unchanged dim instead of the appended rows
    if (staticOutputs.contains(temporalAttr))
      return bail("temporal-column", s"temporal column ${temporalAttr.name} comes from a " +
        "declared-static dimension side — the watermark must bound the fact side")
    // a group-by bucket's underlying column can be pruned from the
    // aggregate input (it only feeds the pulled-out bucket projection) —
    // the watermark filter needs it exposed
    if (!child.outputSet.contains(temporalAttr))
      widen(child, temporalAttr) match {
        case Some(w) => child = w
        case None =>
          return bail("temporal-column", s"temporal column " +
            s"${temporalAttr.name} not exposable through input chain")
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
      return bail("temporal-column", s"temporal column ${temporalAttr.name} " +
        "is a grouping-set slot (nulled per set) — not cacheable")

    // aggregate whitelist (SURVEY §7.1A; the reference instead inherits
    // DataFusion's generic partial state, README.md:34)
    val aggExprs = distinctAggExprs(agg.aggregateExpressions)
    val decomps = new ArrayBuffer[Decomposed]
    aggExprs.zipWithIndex.foreach { case (ae, i) =>
      Decompose.decompose(i, ae, config.percentileSketchState) match {
        case Some(d) => decomps += d
        case None =>
          return bail("not-mergeable", s"aggregate not incrementally mergeable: ${ae.sql}")
      }
    }
    if (!agg.aggregateExpressions.forall(_.deterministic))
      return bail("nondeterministic", "non-deterministic output expression")

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

  private[exec] def distinctAggExprs(outputs: Seq[NamedExpression]): Seq[AggregateExpression] = {
    val found = ArrayBuffer.empty[AggregateExpression]
    outputs.foreach(_.foreach {
      case ae: AggregateExpression =>
        if (!found.exists(_.semanticEquals(ae))) found += ae
      case _ => ()
    })
    found.toSeq
  }
}

object IncrementalAggExecutor {
  /** A state that answered (part of) a rewrite: a hit or a miss, its
    * Decision reason and probe path. */
  private[exec] final case class Served(hit: Boolean, reason: String,
      path: Seq[String] = Nil)

  /** Everything decided statically before touching the cache.
    * `dynamicBound` is a `ts >(=) f(now())` predicate to strip from the
    * scan and re-apply at bucket granularity over the merged state. */
  private[exec] final case class Cacheable(
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
      staticOuts: AttributeSet,
      /** declared-static Union branches (by reference into `child`): with
        * no strict upper bound, the warm delta replaces them with empty
        * relations — their rows are fully captured by the cold state */
      staticUnionBranches: Seq[LogicalPlan])

  /** One way to answer a plan, with the words its failure logs: `failed`,
    * or `tooLarge` when the cache refused the state as too large. */
  private final case class Rewrite(failed: String, run: () => Option[LogicalPlan],
      tooLarge: Option[String] = None, factorized: Boolean = false)

  /** (twin measure columns, re-aggregation over them) for a measure that
    * re-aggregates exactly from its per-bucket finalizes — shared by the
    * no-group dynamic-bound twin and the grouped temporal twin. */
  private[exec] final case class ReAggMeasure(
      twinCols: Seq[(String, Column)], combine: Column)

  /** Slot analysis of a grouping-set aggregate (rollup / cube / GROUPING
    * SETS containing the full grain), shared by the late band and the
    * repair path: the grouping-id slot's per-projection literals, the
    * single full-grain projection, each projection's live key set, and
    * the temporal date_trunc bucket slot. None = any shape surprise
    * (computed key slots, no/duplicate full-grain set, no trunc bucket
    * among the keys). */
  private[exec] final case class ExpandShape(slots: ExpandSlots,
      fullProj: Int, bIdx: Int, trunc: TruncTimestamp)

  /** the state's group columns, `_g<j>` for grouping expression j */
  private[exec] def groupColumns(agg: Aggregate): Seq[Column] =
    agg.groupingExpressions.zipWithIndex.map {
      case (e, j) => Shims.column(e).as(s"_g$j")
    }

  /** `c`'s partial state over `src`: one row per group of its state
    * columns */
  private[exec] def partialState(c: Cacheable, src: DataFrame): DataFrame = {
    val partialCols = c.decomps.flatMap(_.state).map(s => s.partial.as(s.name))
    src.groupBy(groupColumns(c.agg): _*)
      .agg(partialCols.head, partialCols.tail: _*)
  }

  /** avg over summed parts with vanilla Average's evaluateExpression
    * typing: a decimal input's sum is cast to decimal(min(38, p+10), s)
    * and the count to LongDecimal (20, 0), so the Divide plans the
    * identical result type and rounds identical half-ties, and a
    * numerator past p+10 digits overflows to NULL exactly where vanilla's
    * CheckOverflowInSum does */
  private[exec] def avgOf(childType: org.apache.spark.sql.types.DataType,
      sum: Column, count: Column): Column = {
    import org.apache.spark.sql.types.DecimalType
    childType match {
      case dt: DecimalType =>
        sum.cast(DecimalType(math.min(38, dt.precision + 10), dt.scale)) /
          count.cast(DecimalType(20, 0))
      case _ => sum / count
    }
  }

  /** `trunc` evaluated at `micros` (of type `tDt`): the start of the
    * bucket holding it */
  private[exec] def truncAt(trunc: TruncTimestamp, micros: Long,
      tDt: DataType): Option[Long] =
    Option(trunc.copy(timestamp = Literal(micros, tDt)).eval())
      .collect { case v: Long => v }

  /** `e` with its attributes rebound by name */
  private[exec] def byName(e: Expression): Expression = e.transform {
    case a: Attribute => UnresolvedAttribute(Seq(a.name))
  }

  /** an output expression without its top-level alias */
  private[exec] def unalias(e: Expression): Expression = e match {
    case Alias(child, _) => child
    case other => other
  }

  /** subqueries anywhere in `es` (a PlanExpression's deterministic flag
    * ignores the nested plan's DATA, and its source tables are absent
    * from any fingerprint) */
  private[exec] def hasSubquery(es: Seq[Expression]): Boolean =
    es.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))

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
    Fingerprint.grainOf(format).map(_.toUpperCase(java.util.Locale.ROOT))

  /** state-schema per plan fingerprint, shared across executor instances
    * (a facade session builds a fresh executor per run) — saves one full
    * plan analysis per warm run. The schema of a fingerprint's partial
    * state is a pure function of the plan, so process-wide sharing is
    * sound; a stale entry after a library upgrade just causes a logged
    * miss. Bounded: cleared wholesale past 4096 fingerprints (re-deriving
    * a schema costs one analysis, not a cold run). */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private[exec] def memoGet(fp: String, compute: => StructType): StructType =
    memo(schemaMemo, fp, compute)

  /** a fingerprint's driver-side state merge (see [[StateCommit]]),
    * shared and bounded like its state schema: it is a function of the
    * plan and that schema */
  private val mergeMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Either[String, Shims.DriverAggregate]]()
  private[exec] def driverMergeMemo(fp: String,
      compute: => Either[String, Shims.DriverAggregate])
      : Either[String, Shims.DriverAggregate] = memo(mergeMemo, fp, compute)

  private def memo[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
      fp: String, compute: => V): V = {
    val hit = m.get(fp)
    if (hit != null) hit
    else {
      if (m.size > 4096) m.clear()
      val v = compute
      m.put(fp, v)
      v
    }
  }

  private[exec] def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  /** remove one conjunct (the dynamic bound) from every Filter carrying it */
  private[exec] def stripConjunct(plan: LogicalPlan, bound: Expression): LogicalPlan =
    plan.transformUp {
      case Filter(cond, ch) if splitConj(cond).exists(_.fastEquals(bound)) =>
        val rest = splitConj(cond).filterNot(_.fastEquals(bound))
        if (rest.isEmpty) ch else Filter(rest.reduce(And(_, _)), ch)
    }

  /** value-type compatibility — nullability-erased, because the unit/
    * merge casts target the null-tolerant form and a state that merged
    * through a union acquires nullable array elements the cold partial's
    * schema does not have */
  private[exec] def schemaCompatible(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name &&
        Decompose.nullTolerant(x.dataType) == Decompose.nullTolerant(y.dataType)
    }

  /** The temporal group key resolved to `date_trunc(grain, temporalAttr)`
    * when it has exactly that shape — shared by range subsumption and the
    * late re-scan band (both need to evaluate bucket floors). */
  private[exec] def temporalBucketTrunc(c: Cacheable): Option[(Int,
      TruncTimestamp)] = {
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

  /** group index of the session_window key, if the query groups by one —
    * the analyzer marks its attribute with `spark.sessionWindow` metadata
    * (the same marker that makes the merge aggregations plan
    * MergingSessions) */
  private[exec] def sessionGroupIdx(agg: Aggregate): Option[Int] = {
    val i = agg.groupingExpressions.indexWhere {
      case a: Attribute => a.metadata.contains("spark.sessionWindow")
      case _ => false
    }
    if (i >= 0) Some(i) else None
  }

  /** The analyzer's tumbling TimeWindowing plan shape, structurally
    * verified: Project(windowStruct alias +: pass-through child output,
    * Filter(isnotnull(ts), child)), one bucketing Remainder literal D,
    * one startTime literal S (the Remainder's left operand is always
    * `conv(ts) − S`; the default start is S = 0), every long literal in
    * the struct ∈ {0, D, S}. Shared by retumble and rewindow; consumers
    * that assume epoch alignment must check startUs == 0. */
  private[exec] final case class TumblingShape(wAlias: Alias,
      rest: Seq[NamedExpression], flt: Filter, gIdx: Int, durationUs: Long,
      startUs: Long) {
    /** start of the window holding `t`: t − ((t − start) mod D) */
    def floor(t: Long): Long = {
      val m = (t - startUs) % durationUs
      t - (if (m < 0) m + durationUs else m)
    }
  }

  /** the (start, end) timestamp struct a time window groups by */
  private[exec] def isWindowStruct(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case StructType(fs) =>
        fs.length == 2 && fs(0).name == "start" && fs(1).name == "end" &&
          fs.forall(_.dataType == TimestampType)
      case _ => false
    }

  private[exec] def tumblingShape(c: Cacheable): Option[TumblingShape] = {
    import org.apache.spark.sql.catalyst.expressions.IsNotNull
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
    val rems = bucketRemainders(struct0)
    val d = rems.map(_._2).distinct match {
      case Seq(v) if v > 0 => v
      case _ => return None
    }
    // the startTime offset: the Remainder's left operand is always
    // `conv(ts) − S` (S = 0 for the default anchor)
    val starts = rems.map(_._1.left match {
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

  /** the window-bucketing remainders `x % D` in `e`, with their long
    * literal D */
  private[exec] def bucketRemainders(e: Expression)
      : Seq[(org.apache.spark.sql.catalyst.expressions.Remainder, Long)] =
    e.collect {
      case r: org.apache.spark.sql.catalyst.expressions.Remainder =>
        r.right match {
          case Literal(d: Long, LongType) => Seq(r -> d)
          case _ => Nil
        }
    }.flatten

  /** full-grain state `rows` re-expanded into every grouping set of the
    * slots' Expand, the way Expand expands raw rows: in each projection
    * the grouping-id slot takes that set's literal, a key the set leaves
    * out is NULL, a kept key j reads `keyCol(j)`, and the state columns
    * of `schema` ride through — shared by regroup and the grouping-set
    * band and repair */
  private[exec] def reexpand(c: Cacheable, sl: ExpandSlots,
      schema: StructType, rows: DataFrame, keyCol: Int => String): DataFrame = {
    val stateCols = schema.fields.map(_.name).filterNot(_.startsWith("_g"))
    sl.ex.projections.map { p =>
      rows.select((c.agg.groupingExpressions.indices.map { j =>
        val cc =
          if (j == sl.gidIdx) Shims.column(p(sl.gidSlot))
          else p(sl.groupSlots.find(_._1 == j).get._2) match {
            case _: Attribute => col(keyCol(j))
            case _ => lit(null).cast(schema(s"_g$j").dataType)
          }
        cc.as(s"_g$j")
      } ++ stateCols.map(col)): _*)
    }.reduce(_ unionByName _)
  }

  /** The slots of an aggregate over Expand, shared by regroup and
    * [[expandShape]]: each grouping expression's Expand slot, the one
    * grouping-id slot (a literal in every projection), each key slot's
    * defining attribute (a null literal in the sets that leave it out)
    * and the aliases of the Project under Expand. Left = why the plan
    * does not have that shape. */
  private[exec] final case class ExpandSlots(ex: Expand,
      groupSlots: Seq[(Int, Int)], gidIdx: Int, gidSlot: Int,
      keyGroups: Seq[(Int, Int)], defAttr: Map[Int, Attribute],
      projAliases: Map[org.apache.spark.sql.catalyst.expressions.ExprId,
        Expression])

  private[exec] def expandSlots(c: Cacheable,
      ex: Expand): Either[String, ExpandSlots] = {
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
}
