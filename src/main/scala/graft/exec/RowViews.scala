package graft.exec

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.analysis.Stability

import IncrementalAggExecutor._

/** Materialized row views and the row-view lookup. */
private[exec] trait RowViews { this: IncrementalAggExecutor =>

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
  private[exec] def filterQueryRewrite(spark: SparkSession,
      analyzed: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{
      GreaterThanOrEqual, LessThan, Literal}
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
    val needles = temporalNeedles
    var nFilters = 0
    var leaf: Option[LogicalPlan] = None
    var ok = true
    def walk(p: LogicalPlan): Unit = if (ok) p match {
      case Filter(cond, ch) =>
        if (!cond.deterministic || hasSubquery(Seq(cond))) ok = false
        else Stability.find(cond, needles) match {
          case Stability.Stable => nFilters += 1; walk(ch)
          case _ => ok = false // dynamic bounds / now() rows: vanilla
        }
      case Project(es, ch) =>
        if (es.forall(_.deterministic) && !hasSubquery(es)) walk(ch) else ok = false
      case SubqueryAlias(_, ch) => walk(ch)
      case v: View => walk(v.child)
      case jn: Join =>
        import org.apache.spark.sql.catalyst.plans.{
          Inner, LeftOuter, RightOuter}
        val okCond = jn.condition.exists(c => c.deterministic &&
          !hasSubquery(Seq(c)) && !graft.analysis.NowBounds.containsNow(c))
        if (!okCond) ok = false
        else (jn.joinType, isStaticSide(jn.left), isStaticSide(jn.right)) match {
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

    val fp = fingerprint(chain) + ":rows" + fpSuffix
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
    val looked = rowViewLookup(chain, fp, exactFp = Some(fp))
    val entry0 = looked.map(_._1)
    // late re-scan band at ROW grain: when the temporal column survives
    // the projection, lower the effective watermark to wm − band, drop
    // state rows at/after it and let the delta re-read them — no bucket
    // alignment needed, rows partition by the raw cut (NULL-ts rows kept,
    // never re-read — same as the aggregate path). A pruned temporal
    // column can't identify the band's rows in state — loud skip.
    // (entry, the band's (state column, floor) when one applies)
    val (entry, bandKey) = (entry0, config.lateRescanBandMicros) match {
      case (Some(cs), Some(band)) if band > 0 =>
        chain.output.find(_.semanticEquals(tAttr)) match {
          case Some(outT) =>
            val floor = cs.timestampMicros - band
            info(fp, s"late re-scan band (rows): effective " +
              s"watermark ${cs.timestampMicros} -> $floor")
            (Some(cs.mapRows(_.filter(col(outT.name) <
              Shims.column(org.apache.spark.sql.catalyst.expressions
                .Literal(floor, tDt)) || col(outT.name).isNull),
              timestampMicros = floor)),
              Some((outT.name, floor)))
          case None =>
            warn(fp, "lateRescanBand declared but the row " +
              "state's projection pruned the temporal column — band " +
              "skipped, normal watermark used")
            (entry0, None)
        }
      case _ => (entry0, None)
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
              info(fp, s"repairing ${ranges.size} declared " +
                "rewrite range(s) at row grain: " +
                ranges.map(r => s"[${r._1}, ${r._2})").mkString(", "))
              repairRanges = ranges
              Some(cs.mapRows(_.filter(outsideRanges(col(outT.name), ranges,
                tDt))))
            case None =>
              warn(fp, "repair ranges pending but the row " +
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
        served(Served(hit = true, "rows", looked.fold(Seq.empty[String])(_._2)))
        info(fp, s"cache hit (rows): replaying materialized " +
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
              fp)
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
        // the compaction case, and so does a head another commit moved
        // since this run read it. putAppend itself skips the meta commit
        // of an all-empty delta (a no-op refresh must not grow the chain
        // toward a pointless full-view compaction). A repaired run (mid-chain
        // segments still hold the stale rows) compacts with a full put.
        commit(spark, fp, now, chain, pendingRep,
          Some(cs).filter(_ => repairRanges.isEmpty), bandKey, Some(delta),
          cs.read(spark).unionByName(delta))
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
          warn(fp, s"row-state admission declined: source " +
            s"$estBytes bytes > maxRowStateBytes=${config.maxRowStateBytes}" +
            " — running vanilla (narrow the filter or raise the budget)")
          return None
        }
        served(Served(hit = false, "rows"))
        info(fp, "cache miss (rows): materializing filter-query rows")
        commit(spark, fp, now, chain, pendingRep, None, None, None,
          Shims.ofRows(spark, boundedAtLeaf(None)))
    }
    Some(splice(analyzed, chain, stored, replayMarker(fp, entryR)))
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
    * scan through the wider warm view re-shaped). Returns the state and
    * the probe steps that reached it. */
  private[exec] def rowViewLookup(chain: LogicalPlan, logFp: String,
      exactFp: Option[String] = None)
      : Option[(graft.cache.CachedState, List[String])] = {
    def rowSchema(p: LogicalPlan) = StructType(p.output.map(
      a => org.apache.spark.sql.types.StructField(
        a.name, a.dataType, a.nullable)))
    def uniqueNames(p: LogicalPlan) =
      p.output.map(_.name.toLowerCase).distinct.size == p.output.size
    // stripping conjuncts a then b reaches the twin b then a does
    val memo = scala.collection.mutable.HashMap
      .empty[String, Option[graft.cache.CachedState]]
    type Found = Option[(graft.cache.CachedState, List[String])]
    def probeTwin(twin: LogicalPlan, depth: Int): Found = {
      val fp2 = fingerprint(twin) + ":rows" + fpSuffix
      memo.getOrElseUpdate(fp2, twinState(fp2))
        .filter(cs => schemaCompatible(cs.schema, rowSchema(twin)))
        .map((_, List.empty[String]))
        .orElse(rowProbe(twin, depth + 1))
    }
    def rowProbe(p: LogicalPlan, depth: Int): Found = {
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
          probeTwin(twin, depth).map { case (cs, path) =>
            info(logFp, s"refilter (rows) hit: replaying " +
              s"wider twin re-filtered by ${cj.sql}")
            (cs.mapRows(_.filter(Shims.column(byName(cj)))), "refilter" :: path)
          }
        }.headOption
      refilter.orElse(p match {
        case Project(es, rest) if uniqueNames(rest) =>
          probeTwin(rest, depth).map { case (cs, path) =>
            info(logFp, "reproject (rows) hit: replaying the " +
              "full-width twin re-projected to the slice")
            val cols = es.map(ne => Shims.column(byName(unalias(ne))).as(ne.name))
            (cs.mapRows(_.select(cols: _*), schema = rowSchema(p)),
              "reproject" :: path)
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
    val chainFp = exactFp.getOrElse(fingerprint(chain) + ":rows" + fpSuffix)
    (if (exactFp.isDefined) config.cache.get(chainFp)
     else twinState(chainFp))
      .filter { cs =>
        val compat = schemaCompatible(cs.schema, rowSchema(chain))
        if (!compat) warn(logFp,
          "cached row-state schema mismatch — treating as miss")
        compat
      }
      .map((_, List.empty[String]))
      .orElse(rowProbe(chain, 1))
  }
}
