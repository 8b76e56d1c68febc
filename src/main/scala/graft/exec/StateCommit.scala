package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.StructType

import graft.log.CacheEvent
import graft.plans.RunBound
import graft.rewrite.Decompose

import IncrementalAggExecutor._

/** The aggregate path once `decide` accepted a query: state resolution,
  * late band and repairs, the one commit step and the one answer splice. */
private[exec] trait StateCommit { this: IncrementalAggExecutor =>

  // --------------------------------------------------------------- execute

  private[exec] def execute(spark: SparkSession, analyzed: LogicalPlan,
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

    val groupCols = groupColumns(c.agg)
    val stateSpecs = c.decomps.flatMap(_.state)
    def partialState(src: DataFrame): DataFrame =
      IncrementalAggExecutor.partialState(c, src)

    // analysis-only: the state schema this plan produces (validates cached
    // state; mirrors CachedAggregateExec taking the partial plan's schema,
    // src/aggregate.rs:616-623)
    val stateSchema = phase(c.fingerprint, "stateSchema")(IncrementalAggExecutor.memoGet(
      c.fingerprint, partialState(childDF0.limit(0)).schema))
    lazy val mergeCols = stateSpecs.map(s => Decompose.mergeColumn(s, stateSchema))
    lazy val stateKeys = groupCols.indices.map(j => col(s"_g$j"))
    def mergeState(st: DataFrame): DataFrame =
      st.groupBy(stateKeys: _*).agg(mergeCols.head, mergeCols.tail: _*)
    // the same merge evaluated on the driver over rows in hand, for a
    // cache that merges a small append there; a merge it cannot evaluate
    // leaves the append on the chain, the reason logged
    def driverMerge: Option[
        (Seq[InternalRow], Seq[InternalRow]) => Option[Array[InternalRow]]] =
      IncrementalAggExecutor.driverMergeMemo(c.fingerprint,
        Shims.driverAggregate(spark, stateSchema, stateKeys, mergeCols)
          .filterOrElse(m => schemaCompatible(m.schema, stateSchema),
            "its rows do not match the state schema")) match {
        case Left(why) =>
          info(c.fingerprint, s"driver merge unavailable: $why")
          None
        case Right(m) => Some((merged, rows) =>
          try Some(m(merged, rows.iterator)) catch {
            case scala.util.control.NonFatal(e) =>
              warn(c.fingerprint, s"driver merge failed " +
                s"($e); refreshing through the chain")
              None
          })
      }

    val direct = config.cache.get(c.fingerprint) match {
      case Some(cs) if !schemaCompatible(cs.schema, stateSchema) =>
        warn(c.fingerprint,
          "cached state schema mismatch — treating as miss")
        None
      case other => other
    }
    // SUBSUMPTION: on an exact-fingerprint miss, a warm twin's state
    // adapted to this query (see subsume); the put then stores it under
    // THIS fingerprint, so the next run hits directly
    val probed = if (direct.isDefined) None else subsume(c, stateSchema)
    val entry = direct.orElse(probed.map(_._1))
    val probePath = probed.fold(Seq.empty[String])(_._2)

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
          else sessionGroupIdx(c.agg) match {
            case Some(sIdx) => sessionLateBand(spark, c, cs, band, sIdx)
            case None =>
              // (group index, bucket floor of wm − band, window-struct?):
              // date_trunc keys floor through the trunc expression itself;
              // tumbling-window keys floor with the window arithmetic
              // (t − ((t − start) mod D)), any anchor.
              val floorOpt = temporalBucketTrunc(c).flatMap {
                case (gIdx, trunc) => truncAt(trunc, cs.timestampMicros - band,
                  tDt).map((gIdx, _, false))
              }.orElse(tumblingShape(c).map { sh =>
                (sh.gIdx, sh.floor(cs.timestampMicros - band), true)
              })
              floorOpt.collect {
                case (gIdx, b, isStruct) if b < cs.timestampMicros =>
                  val gName = s"_g$gIdx"
                  bandRefreshKey =
                    Some((if (isStruct) s"$gName.start" else gName, b))
                  val keyCol =
                    if (isStruct) col(s"$gName.start") else col(gName)
                  cs.mapRows(_.filter(keyCol <
                    Shims.column(new RunBound(b, tDt)) || keyCol.isNull),
                    timestampMicros = b)
              }
          }
        bandedOpt match {
          case Some(cs2) =>
            info(c.fingerprint,
              s"late re-scan band: effective watermark ${cs.timestampMicros} " +
                s"-> ${cs2.timestampMicros} (band state dropped and re-scanned)")
            Some(cs2)
          case None =>
            warn(c.fingerprint,
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
          val effWm = cs.timestampMicros
          val ranges = IncrementalAggExecutor.mergeRanges(pendingRep.map(r =>
            (r.loMicros, math.min(r.hiMicros, effWm))))
          if (ranges.isEmpty) banded // all at/after the watermark
          else repairSpans(c, ranges, effWm) match {
            case Some((keyPath, spans0)) =>
              val spans = IncrementalAggExecutor.mergeRanges(spans0)
              info(c.fingerprint, s"repairing ${spans.size} " +
                s"declared rewrite range(s) at bucket grain: dropping " +
                s"state buckets + re-scanning " +
                spans.map(s => s"[${s._1}, ${s._2})").mkString(", "))
              repairScanRanges = spans
              Some(cs.mapRows(_.filter(outsideRanges(col(keyPath), spans,
                c.temporalAttr.dataType))))
            case None => expandRepair(c, cs, ranges, effWm) match {
              case Some((spans, st)) =>
                info(c.fingerprint, s"repairing ${spans.size} " +
                  s"declared rewrite range(s) through the grouping-set " +
                  s"full grain: dropping its covering buckets, " +
                  s"re-expanding kept state, re-scanning " +
                  spans.map(sp => s"[${sp._1}, ${sp._2})").mkString(", "))
                repairScanRanges = spans
                Some(st)
              case None => sessionGroupIdx(c.agg).flatMap(
                  sessionRepair(spark, c, cs, ranges, effWm, _)) match {
                case Some((windows, st)) =>
                  info(c.fingerprint,
                    s"repairing ${windows.size} declared rewrite " +
                      s"range(s) at session grain: dropping state " +
                      s"sessions inside cut window(s) " +
                      windows.map(w => s"[${w._1}, ${w._2})")
                        .mkString(", ") + " and re-scanning them")
                  repairScanRanges = windows
                  Some(st)
                case None =>
                  warn(c.fingerprint, "repair ranges pending " +
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
        served(Served(hit = true, if (direct.isDefined) "direct" else "probe",
          probePath))
        info(c.fingerprint, s"cache hit, watermark=${cs.timestampMicros}")
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
            config.temporalPartitionColumn, c.fingerprint,
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
        // derived partition predicate: with a declared DATE partition
        // column (= CAST(ts AS DATE), see Layouts.writeTimeSeriesPartitioned)
        // the watermark bound implies part >= date(wm) — date() is monotone
        // — which Catalyst turns into directory-level partition pruning, so
        // planning never even lists the history files' splits. Skipped when
        // a projection pruned the column (correct, just less prunable).
        // resolve the partition column to a concrete FACT-side attribute
        // (a dim column of that name would filter the dim side of the
        // delta instead of the appended fact rows)
        val pcAttrOpt = partitionAttr(c, effectiveChild)
        // `cond` and, with a partition column, its date in [date(lo), date(hi)]
        def withPart(cond: Column, lo: Column, hi: Option[Column]): Column =
          pcAttrOpt.fold(cond) { pcAttr =>
            import org.apache.spark.sql.functions.to_date
            val pc = Shims.column(pcAttr)
            hi.foldLeft(cond && pc >= to_date(lo))(_ && pc <= to_date(_))
          }
        val appendCond = withPart(tsCol >= wmBound, wmBound, None)
        val newData = deltaForAppend.filter(appendCond)
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
        // Lazy, like `state` below: only the full put runs the merged
        // state, so a chained commit never lists the chain for it nor
        // analyzes its plan.
        lazy val newDataR =
          if (!repairActive) newData
          else deltaDF.filter(repairScanRanges.map { case (lo, hi) =>
            withPart(tsCol >= RunBound.timestamp(lo) &&
              tsCol < RunBound.timestamp(hi), timestamp_micros(lit(lo)),
              Some(timestamp_micros(lit(hi - 1))))
          }.foldLeft(appendCond)(_ || _))
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
        // the chained segment is GROUP-GRAINED partial state (one row per
        // group present in the append), never per-row units — a unit
        // segment would persist the raw append. `merged` stays lazy: a
        // small append merges on the driver (one job that collects the
        // delta partials, then the compaction too is written from the
        // merged rows in hand), and a chain commit that SUCCEEDS never
        // runs it, so those refreshes scan the delta exactly once. On the
        // larger-state path a FRACTION-DECLINED commit (a ≥25%-of-chain
        // delta) pays the delta twice — once for the discarded segment
        // write, once inside the full put — an accepted amortized cost:
        // it happens at most once per compaction cycle, on runs whose
        // full state merge dominates the extra delta scan anyway. A
        // banded run's delta partials are offered too, but ONLY when the
        // floor cuts on a bucket column (bandRefreshKey) — they then go
        // through refreshBand, never putAppend (appending a re-read band
        // would duplicate it).
        (() => mergeState(state),
          if (!config.aggregateStateAppend) None
          else if (bandActive && bandRefreshKey.isEmpty) None
          else Some(partialState(newData)))
      case None =>
        served(Served(hit = false, "cold"))
        info(c.fingerprint, "cache miss")
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
          if (c.dynamicBound.isEmpty && c.staticUnionBranches.isEmpty) {
            // rowViewLookup probes the exact row fingerprint AND the
            // refilter lattice: a cold aggregate whose chain adds a
            // conjunct absent from the warm view still cold-starts from
            // the wider view re-filtered — row-grain identity holds for
            // the re-filtered replay exactly as for the exact view
            rowViewLookup(c.child, c.fingerprint).map(_._1).filter { rcs =>
              rcs.schema.length == c.child.output.length &&
                rcs.schema.fields.zip(c.child.output).forall { case (f, a) =>
                  f.name == a.name && f.dataType == a.dataType }
            }.map { rcs =>
              info(c.fingerprint, "cold state from materialized " +
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
    phase(c.fingerprint, "put.recordMeasures") {
      val (base, rows) = measureRows(c)
      config.cache.recordMeasures(c.fingerprint, base, rows)
    }
    // WARM commits try the O(append) CHAIN first: a putAppend-capable
    // cache writes only this run's group-grained delta partials as a new
    // segment onto the head this run read (the full merged state is
    // never read OR written) and answers with the chain merged — the
    // same merge the hit path runs, so chained and merged entries are
    // interchangeable (no fingerprint split; flipping
    // aggregateStateAppend against a live cache is safe). The cache
    // declines (→ full put, which compacts) when the head moved, the
    // chain is at its cap or the delta is a large fraction of the chain —
    // a 10%-of-table append re-merges about as cheaply as it chains, and
    // chaining it would multiply answer-time state reads.
    val stored = commit(spark, c.fingerprint, now, c.child, pendingRep,
      afterRepair.filterNot(_ => repairActive), bandRefreshKey,
      deltaPartials, merged(), stateConfs, compactIfDeltaFraction = Some(0.25),
      new graft.cache.StateMerge(mergeState, driverMerge))

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
    // finalize: original output expressions with aggregate functions
    // replaced by their finalize form over state columns, and group
    // expressions replaced by their state column
    val finalizers: Seq[Expression] = c.decomps.map(Decompose.finalizeExpr)
    spliceAnswer(analyzed, c.agg, c.aggExprs, bounded, j => s"_g$j",
      replayMarker(c.fingerprint, afterRepair))((_, i) => finalizers(i))
  }

  /** The one commit step of every rewrite that stores state. A `delta`
    * extends the head its run read, `base` (None: a cold run, or a
    * repaired one, whose old chain segments would resurrect what the
    * repair dropped): at segment grain when a `band` floor cuts on a
    * state key (segments wholly below it kept: a banded refresh writes
    * O(band + append), not O(state)), else as one appended segment,
    * merged on the driver where `merge` can. A declined or absent delta
    * stores `full`. Writes run on a clone of the session carrying
    * `confs` (never mutate the user's session: a save/restore races
    * concurrent queries). Then the consumed repairs are cleared
    * (token-scoped, so one declared during this run survives; after the
    * put, so a capacity abort never consumes), the entry is indexed by
    * its sources' tables (the invalidateForTable remedy for
    * declared-static dims that did change) and the replay strategy is
    * registered. Returns the stored state, answer-ready. */
  private[exec] def commit(spark: SparkSession, fp: String, now: Long,
      sources: LogicalPlan, consumed: Seq[graft.cache.RepairRange],
      base: Option[graft.cache.CachedState], band: Option[(String, Long)],
      delta: => Option[DataFrame], full: => DataFrame,
      confs: Seq[(String, String)] = Nil,
      compactIfDeltaFraction: Option[Double] = None,
      merge: graft.cache.StateMerge = graft.cache.StateMerge.identity)
      : DataFrame = {
    def inCache[A](f: => A): A = CacheEvent.inLayer(spark.sparkContext, "cache")(f)
    def rebound(s: SparkSession, df: => DataFrame) = phase(fp, "put.rebind") {
      val d = df
      if (s eq spark) d else Shims.ofRows(s, Shims.queryExecution(d).analyzed)
    }
    val chained = for {
      b <- base
      d <- delta
      stored <- phase(fp, "cache.putAppend")(
        Shims.withIsolatedConf(spark, confs: _*) { s =>
          val segment = rebound(s, d)
          band match {
            case Some((key, floor)) => inCache(config.cache.refreshBand(fp,
              now, b, key, floor, segment, merge.frame))
            case None => inCache(config.cache.putAppend(fp, now, b, segment,
              compactIfDeltaFraction, merge))
          }
        })
    } yield stored
    val stored = chained.getOrElse(phase(fp, "cache.put")(
      Shims.withIsolatedConf(spark, confs: _*) { s =>
        val state = rebound(s, full)
        phase(fp, "put.store")(inCache(config.cache.put(fp, now, state)))
      }))
    if (consumed.nonEmpty) config.cache.clearRepairs(fp, consumed.map(_.token))
    config.cache.recordSourcePaths(fp, Shims.sourcePaths(sources))
    graft.plans.CacheReplayStrategy.register(spark)
    stored
  }

  /** The one answer splice of the aggregate rewrites: `agg`'s output
    * expressions over `result`, with each grouping expression read from
    * the column `groupCol(j)` and each aggregate expression replaced by
    * `measure(it, its index in aggExprs)`, spliced in place of `agg`. */
  private[exec] def spliceAnswer(analyzed: LogicalPlan, agg: Aggregate,
      aggExprs: Seq[AggregateExpression], result: DataFrame,
      groupCol: Int => String, wrap: LogicalPlan => LogicalPlan = identity)(
      measure: (AggregateExpression, Int) => Expression): LogicalPlan = {
    def rewrite(e: Expression): Expression = {
      val gIdx = agg.groupingExpressions.indexWhere(_.semanticEquals(e))
      if (gIdx >= 0) UnresolvedAttribute(Seq(groupCol(gIdx)))
      else e match {
        case ae: AggregateExpression =>
          val i = aggExprs.indexWhere(_.semanticEquals(ae))
          require(i >= 0, s"unmapped aggregate ${ae.sql}")
          measure(ae, i)
        case _ => e.withNewChildren(e.children.map(rewrite))
      }
    }
    splice(analyzed, agg, result.select(agg.aggregateExpressions.map(o =>
      Shims.column(rewrite(unalias(o))).as(o.name)): _*), wrap)
  }

  /** `answer` spliced back in place of `target` under whatever sat above
    * it, its columns aliased positionally to the target's original output
    * exprIds so parents (HAVING/ORDER BY/projections) resolve unchanged */
  private[exec] def splice(analyzed: LogicalPlan, target: LogicalPlan,
      answer: DataFrame, wrap: LogicalPlan => LogicalPlan): LogicalPlan = {
    val answerPlan = Shims.queryExecution(answer).analyzed
    val replacement = wrap(Project(
      answerPlan.output.zip(target.output).map { case (na, oo) =>
        Alias(na, oo.name)(exprId = oo.exprId)
      }, answerPlan))
    analyzed.transformUp { case n if n eq target => replacement }
  }

  /** EXPLAIN/metrics visibility (reference DisplayAs + BaselineMetrics,
    * src/aggregate.rs:530-537,583-585): the whole cache-answered subtree
    * is wrapped in a marker node so df.explain() names the cache, its
    * hit/miss status and watermark, and an SQLMetric counts answered
    * rows. The marker sits ON TOP of the answer projection: everything
    * under it is Project/Filter over the stored state, which — for a
    * driver-held state (LocalRelation) — ConvertToLocalRelation folds to
    * a LocalRelation at optimization time, and CacheReplayExec then
    * answers collect() without launching a Spark job at all. */
  private[exec] def replayMarker(fp: String,
      entry: Option[graft.cache.CachedState]): LogicalPlan => LogicalPlan =
    graft.plans.CacheReplayMarker(_, fp, hit = entry.isDefined,
      watermarkMicros = entry.map(_.timestampMicros))

  /** keeps the rows whose `key` lies in none of `ranges` ([lo, hi) micros
    * of type `tDt`) — the one range drop of every repair; rows with a
    * NULL key (no event time) are kept: a range rewrite cannot touch them
    * and the delta never re-reads them */
  private[exec] def outsideRanges(key: Column, ranges: Seq[(Long, Long)],
      tDt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    key.isNull || !ranges.map { case (lo, hi) =>
      key >= Shims.column(Literal(lo, tDt)) &&
        key < Shims.column(Literal(hi, tDt))
    }.reduce(_ || _)
  }

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
    if (sessionGroupIdx(c.agg).isDefined) return None
    temporalBucketTrunc(c).flatMap { case (gIdx, trunc) =>
      truncRepairSpans(trunc, tDt, ranges, effWm)
        .map(spans => (s"_g$gIdx", spans))
    }.orElse(tumblingShape(c).map { sh =>
      (s"_g${sh.gIdx}.start", ranges.map { case (lo, hi) =>
        (sh.floor(lo), math.min(sh.floor(hi - 1) + sh.durationUs, effWm))
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
          tLo <- truncAt(trunc, lo, tDt)
          tHi <- truncAt(trunc, hi - 1, tDt)
          next <- Option(TimestampAdd(unit, Literal(1L),
            Literal(tHi, tDt), zid).eval())
            .collect { case v: Long => v }
        } yield (tLo, math.min(next, effWm))
      }
      if (spans.forall(_.isDefined)) Some(spans.map(_.get)) else None
    }
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
    Some(cs.mapRows(_.filter(col(g).isNull ||
      unix_micros(col(s"$g.end")) <= lit(q)), timestampMicros = q))
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
    val (sCol, eCol) = (unix_micros(col(s"$g.start")), unix_micros(col(s"$g.end")))
    Some((windows, cs.mapRows(_.filter(col(g).isNull ||
      !windows.map { case (lo, hi) => eCol > lit(lo) && sCol < lit(hi) }
        .reduce(_ || _)), timestampMicros = effWm)))
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
    val b = truncAt(sh.trunc, cs.timestampMicros - band, tDt)
      .getOrElse(return None)
    if (b >= cs.timestampMicros) return None
    // full-grain rows below the floor (NULL buckets = NULL event time
    // rows: kept, never re-read), re-expanded into every set
    Some(cs.mapRows(expandStateRead(c, cs.schema, sh,
      k => k < Shims.column(Literal(b, tDt)) || k.isNull), timestampMicros = b))
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
    Some((spans, cs.mapRows(expandStateRead(c, cs.schema, sh,
      outsideRanges(_, spans, tDt)), timestampMicros = effWm)))
  }

  /** `c`'s [[ExpandShape]]; None on any shape surprise */
  private def expandShape(c: Cacheable): Option[ExpandShape] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, TruncTimestamp}
    val slots = c.agg.child match {
      case e: Expand => expandSlots(c, e).getOrElse(return None)
      case _ => return None
    }
    val ExpandSlots(ex, _, _, _, keyGroups, defAttr, projAliases) = slots
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
    Some(ExpandShape(slots, fullProj, bIdx, trunc))
  }

  /** Re-expanded state read shared by the grouping-set band and repair:
    * full-grain state rows passing `keep` (a predicate on the bucket
    * column) re-expand into every projection (absent keys nulled, that
    * set's grouping-id literal); all other state rows are discarded —
    * each set's aggregate is a merge of full-grain buckets, and dropped
    * buckets' rows re-enter via the re-scan. */
  private def expandStateRead(c: Cacheable, schema: StructType,
      sh: ExpandShape, keep: Column => Column)(state: DataFrame): DataFrame = {
    val sl = sh.slots
    reexpand(c, sl, schema, state
      .filter(col(s"_g${sl.gidIdx}") ===
        Shims.column(sl.ex.projections(sh.fullProj)(sl.gidSlot)))
      .filter(keep(col(s"_g${sh.bIdx}"))), j => s"_g$j")
  }

}
