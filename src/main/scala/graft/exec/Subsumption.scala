package graft.exec

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.analysis.{Fingerprint, TemporalGroupBy}

import IncrementalAggExecutor._

/** The subsumption search over the `follows` table and its ten probes;
  * each probe's soundness argument sits at the probe. */
private[exec] trait Subsumption { this: IncrementalAggExecutor =>

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
  private[exec] def subsume(c0: Cacheable, stateSchema: StructType)
      : Option[(graft.cache.CachedState, List[String])] = {
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
              info(c0.fingerprint, t.hit)
              (t.adapt(cs), p.name :: path)
            }
        }
      }.nextOption()
    search(c0, stateSchema, "top", 1).map { case (cs, path) =>
      info(c0.fingerprint, s"probe path: ${path.mkString(" > ")}")
      (cs, path)
    }
  }

  /** the (start, start + durationUs) window struct of a start in epoch
    * micros */
  private def windowAt(startUs: Column, durationUs: Long): Column =
    org.apache.spark.sql.functions.struct(timestamp_micros(startUs).as("start"),
      timestamp_micros(startUs + lit(durationUs)).as("end"))

  /** Twin-state fetch for subsumption probes: an entry with PENDING
    * repair ranges (cache.repairRange — a declared historical rewrite)
    * still holds pre-rewrite rows. Only its own exact-fingerprint run may
    * replay it, because that run applies the repair in-flight; a probe
    * replaying it into ANOTHER query's state would bake the stale rows
    * in. Probes therefore treat it as absent (the repair check runs only
    * after the state exists — most probes miss and pay nothing). */
  private[exec] def twinState(fp2: String): Option[graft.cache.CachedState] =
    config.cache.get(fp2).filter(_ =>
      config.cache.pendingRepairs(fp2).isEmpty)


  // ------------------------------------------------ grain subsumption

  /** grains whose buckets nest EXACTLY inside the key's buckets in UTC
    * (closest first — the least state to re-aggregate). WEEK only nests
    * days/hours (weeks straddle month boundaries); MONTH does not nest
    * weeks for the same reason. */
  private val finerGrains = Map(
    "minute" -> Seq("second"),
    "hour" -> Seq("minute", "second"),
    "day" -> Seq("hour", "minute", "second"),
    "week" -> Seq("day", "hour"),
    "month" -> Seq("day", "hour"),
    "quarter" -> Seq("month", "day"),
    "year" -> Seq("quarter", "month", "day"))

  /** On an exact-fingerprint miss: look for warm state cached by the
    * SAME query at a finer `date_trunc` grain, and hand it back with the
    * bucket column re-truncated to this query's grain — the merge
    * aggregation then folds finer buckets into coarse ones exactly like
    * any other state re-aggregation. One twin per nesting grain: the
    * fingerprint spells every date_trunc format as its grain, so the
    * twin's literal spelling does not matter. */
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
    val coarse = Fingerprint.grainOf(f).filter(finerGrains.contains)
      .getOrElse(return Iterator.empty)
    def isMatch(e: Expression): Boolean = e match {
      case t: TruncTimestamp => t.format.foldable &&
        Option(t.format.eval()).exists(v =>
          Fingerprint.grainOf(v.toString).contains(coarse)) &&
        t.timestamp.references.exists(_.semanticEquals(c.temporalAttr))
      case _ => false
    }
    def occurrences(e: Expression, hit: Expression => Boolean): Int =
      e.collect { case x if hit(x) => x }.size
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
    def compensated(hit: Expression => Boolean): Int = {
      def inOutput(e: Expression): Int =
        if (e.semanticEquals(groupKey)) occurrences(e, hit)
        else e match {
          // replay maps a whole AggregateExpression to a finalizer over
          // stored state — a trunc INSIDE one is never re-truncated
          case _: AggregateExpression => 0
          case _ => e.children.map(inOutput).sum
        }
      occurrences(groupKey, hit) +
        c.agg.aggregateExpressions.map(o => inOutput(unalias(o))).sum
    }
    val total = c.agg.collect { case n => n.expressions }.flatten
      .map(occurrences(_, isMatch)).sum
    var safe = compensated(isMatch)
    val attrLeak = groupKey match {
      case a: Attribute if !(groupExpr eq groupKey) =>
        // pulled-out grouping attribute (transparent mode): its defining
        // alias is the one compensated child site; the attribute itself
        // must not leak into measures or other grouping keys — the finer
        // twin's DEFINITION changed underneath every such use and replay
        // does not re-truncate them.
        safe += occurrences(groupExpr, isMatch)
        val isA: Expression => Boolean = {
          case x: Attribute => x.semanticEquals(a)
          case _ => false
        }
        c.agg.expressions.map(occurrences(_, isA)).sum != compensated(isA)
      case _ => false
    }
    if (total != safe || safe == 0 || attrLeak) {
      if (total != safe || attrLeak) info(c.fingerprint,
        s"regrain bail: grain literal used outside the temporal group key " +
          s"($total sites, $safe compensated)")
      return Iterator.empty
    }
    val gName = s"_g$gIdx"
    finerGrains(coarse).iterator.flatMap { finer =>
      var changed = false
      val subAgg = c.agg.transformAllExpressions {
        case t: TruncTimestamp if isMatch(t) =>
          changed = true
          t.copy(format = Literal(finer))
      }
      Option.when(changed) {
        val fp2 = fingerprint(subAgg) + fpSuffix
        new Twin(c.copy(agg = subAgg), stateSchema, fp2,
          s"regrain hit: replaying $finer-grain state " +
            s"${fp2.take(12)} re-truncated to ${coarse.toUpperCase(java.util.Locale.ROOT)}",
          cs => cs.mapRows(_.withColumn(gName,
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
    val prefix = c.agg.aggregateExpressions.takeWhile(o =>
      c.agg.groupingExpressions.exists(_.semanticEquals(unalias(o)))).length
    val nGroup = c.agg.groupingExpressions.length
    val gExtra = s"_g$nGroup"
    val twin = c.agg.copy(
      groupingExpressions = c.agg.groupingExpressions :+ attr,
      aggregateExpressions = (c.agg.aggregateExpressions.take(prefix) :+ attr) ++
        c.agg.aggregateExpressions.drop(prefix),
      child = child)
    val fp2 = fingerprint(twin) + fpSuffix
    val twinSchema = StructType(
      (stateSchema.take(nGroup) :+
        org.apache.spark.sql.types.StructField(gExtra, attr.dataType)) ++
        stateSchema.drop(nGroup))
    new Twin(c.copy(agg = twin), twinSchema, fp2, hit(fp2.take(12)),
      cs => cs.mapRows(df => (if (slice.isEmpty) df
          else df.filter(slice.map(v => col(gExtra) === Shims.column(v))
            .reduce(_ || _))).drop(gExtra),
        schema = StructType(cs.schema.filterNot(_.name == gExtra))))
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
          // either side may hold the attribute ('click' = event_type)
          case EqualTo(l, r) => asDim(l).map((_, r)).orElse(asDim(r).map((_, l)))
            .flatMap { case (d, v) => lits(Seq(v)).map((d, _)) }
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
    def truncOf(m: Long): Option[Long] = truncAt(trunc, m, tDt)
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
    val fp2 = fingerprint(twin) + fpSuffix
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
          cs.mapRows(_.filter(pred))
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
            val partAttr =
              partitionAttr(c, c.child)
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
            cs.read(s).filter(pred).unionByName(partialState(c, src))
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
      info(c.fingerprint, s"rehop bail: $msg")
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
    val slides = bucketRemainders(struct0).map(_._2).distinct
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
      case s @ org.apache.spark.sql.catalyst.expressions.Subtract(
          l, Literal(v: Long, LongType), _) if l.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Remainder]) =>
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
    val fp2 = fingerprint(twin) + fpSuffix
    val gName = s"_g$gIdx"
    Iterator.single(new Twin(c.copy(agg = twin), stateSchema, fp2,
      s"rehop hit: replaying ${slide}µs tumbling state ${fp2.take(12)} " +
        s"exploded ×$n into ${duration}µs hop windows",
      cs => cs.mapRows { df =>
        import org.apache.spark.sql.functions.{explode, typedlit, unix_micros}
        df.withColumn("_hop_k", explode(typedlit((0L until n.toLong).toSeq)))
          .withColumn(gName, windowAt(unix_micros(col(s"$gName.start")) -
            col("_hop_k") * lit(slide), duration))
          .drop("_hop_k")
      }))
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
      val fp2 = fingerprint(twin) + fpSuffix
      new Twin(c.copy(agg = twin), stateSchema, fp2,
        s"retumble hit: replaying ${f}µs tumbling state ${fp2.take(12)} " +
          s"re-bucketed to ${d}µs windows",
        cs => cs.mapRows { df =>
          import org.apache.spark.sql.functions.{pmod, unix_micros}
          val startUs = unix_micros(col(s"$gName.start"))
          df.withColumn(gName, windowAt(startUs - pmod(startUs, lit(d)), d))
        })
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
    * (pinned in the spec). */
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
    Iterator.single(fmt).map { f =>
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
      val fp2 = fingerprint(twin) + fpSuffix
      // the original window query carries temporalGroupIdx = None (the
      // analyzer's struct is not a recognized bucketing fn); the trunc
      // twin's group AT gIdx is a real date_trunc — set the index so
      // grain subsumption can lift a finer-grain entry for it
      new Twin(c.copy(agg = twin, temporalGroupIdx = Some(gIdx)), twinSchema,
        fp2, s"rewindow hit: replaying date_trunc('$f') state " +
          s"${fp2.take(12)} re-keyed to ${d}µs window structs",
        cs => cs.mapRows(_.filter(col(gName).isNotNull).withColumn(gName,
          windowAt(org.apache.spark.sql.functions.unix_micros(col(gName)), d)),
          schema = stateSchema))
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
      info(c.fingerprint, s"regroup bail: $msg")
      Iterator.empty
    }
    val slots = expandSlots(c, ex) match {
      case Right(sl) => sl
      case Left(why) => return bailRg(why)
    }
    val ExpandSlots(_, _, _, _, keyGroups, defAttr, projAliases) = slots
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
    val fp2 = fingerprint(twin) + fpSuffix
    // the twin's state layout: this query's groups minus the gid slot,
    // renumbered; identical state columns
    val mOf: Map[Int, Int] = keyGroups.map(_._1).zipWithIndex.toMap
    val twinStateSchema = StructType(
      keyGroups.zipWithIndex.map { case ((j, _), m) =>
        stateSchema(s"_g$j").copy(name = s"_g$m")
      } ++ stateSchema.fields.filterNot(_.name.startsWith("_g")))
    Iterator.single(new Twin(c.copy(agg = twin), twinStateSchema, fp2,
      s"regroup hit: replaying drill-down state ${fp2.take(12)} " +
        s"through ${ex.projections.length} grouping sets",
      cs => cs.mapRows(reexpand(c, slots, stateSchema, _, j => s"_g${mOf(j)}"),
        schema = stateSchema)))
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
        unalias(o).semanticEquals(g)
      }.getOrElse(g match {
        case ne: NamedExpression => ne
        case e => Alias(e, "_b")()
      })
    val twinChild = filters.foldRight(factSide)((cond, ch) => Filter(cond, ch))
    val twin = c.agg.copy(
      groupingExpressions = twinGroups,
      aggregateExpressions = twinGroups.map(echoOf) ++ measureOuts,
      child = twinChild)
    val fp2 = fingerprint(twin) + fpSuffix
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

  /** (base fingerprint, this query's measure rows for the index), once
    * per aggregate per rewrite. A measure row is its descriptor → its
    * state column names (positional within the measure, stable across
    * queries because Decompose is deterministic per measure); a measure's
    * descriptor is its identity under this plan: the base twin plus
    * exactly that AggregateExpression — "same measure" means
    * Catalyst-canonically the same expression over the same child and
    * grouping. */
  private[exec] def measureRows(c: Cacheable)
      : (String, Seq[(String, Seq[String])]) = measureIndex(c.agg) {
    val base = baseTwinOutputs(c.agg)
    (fingerprint(c.agg.copy(aggregateExpressions = base)) + fpSuffix,
      c.aggExprs.zip(c.decomps).map { case (ae, d) =>
        (fingerprint(c.agg.copy(
          aggregateExpressions = base :+ Alias(ae, "_m")())) + fpSuffix,
          d.state.map(_.name))
      })
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
    val (base, needed) = measureRows(c)
    val nGroup = c.agg.groupingExpressions.length
    config.cache.entriesForBase(base).iterator
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
            cs => cs.mapRows(_.select(sel: _*),
              schema = projected(cs.schema).get)) {
          // the superset's own layout is unknown before its state is read:
          // fit on the projection this query keeps
          override def fits(st: StructType): Boolean =
            projected(st).exists(schemaCompatible(_, stateSchema))
        })
      }
  }
}
