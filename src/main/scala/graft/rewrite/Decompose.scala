package graft.rewrite

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Mergeable decomposition of aggregate functions (SURVEY §7.1 choice A).
  *
  * DataFusion hands the reference its Partial/Final split for free
  * (README.md:49-76, src/aggregate.rs:384): partial state for ANY
  * aggregate is mergeable by construction. Spark performs the same split
  * internally but exposes no stable API for it, so we decompose each
  * supported aggregate into explicit state columns:
  *
  *   count(..)   -> [cnt]        merge: sum          final: cnt
  *   sum(x)      -> [sum]        merge: sum          final: sum
  *   min(x)      -> [min]        merge: min          final: min
  *   max(x)      -> [max]        merge: max          final: max
  *   avg(x)      -> [sum, cnt]   merge: [sum, sum]   final: sum / cnt
  *
  * An aggregate outside the whitelist makes the query uncacheable (it
  * just runs vanilla) — the same graceful degradation as the reference's
  * bail-out branches. The merge expressions cast back to the state's
  * stored type so the state schema is a fixed point under merging (a
  * decimal SUM would otherwise widen by 10 digits per run).
  */
object Decompose {

  sealed trait MergeOp
  case object MSum extends MergeOp
  case object MMin extends MergeOp
  case object MMax extends MergeOp
  /** DataSketches HLL union over binary sketch state */
  case object MHllUnion extends MergeOp
  /** set union: array_distinct(flatten(collect_list(state))) */
  case object MSetUnion extends MergeOp
  /** bitwise folds — associative+commutative, and each source row enters
    * exactly one partial, so xor-of-partials is the xor-of-rows */
  case object MBitAnd extends MergeOp
  case object MBitOr extends MergeOp
  case object MBitXor extends MergeOp
  /** run-length value histogram: concatenate stored (v,c) arrays, re-sort,
    * re-compact — the state is a fixed point (same values merge their
    * counts), so arbitrarily many merge generations stay bounded by the
    * group's distinct-value count */
  case object MValueCounts extends MergeOp
  /** [[MValueCounts]] with a size-capped sketch escape for the NUMERIC
    * percentile family: exact runs at/below `threshold` distinct values
    * per group (cached == vanilla EXACTLY, the historical contract);
    * above it the merged runs compress into ~`centroids` uniform-weight
    * bins (graft.functions.CompressRuns) — a mergeable quantile sketch
    * whose rank error is bounded per bin, so continuous high-cardinality
    * domains keep incremental percentiles instead of growing state
    * toward maxStateRows and bailing to vanilla. Estimator swap is
    * DOCUMENTED like the HLL/approx_percentile precedent: above the
    * threshold, answers are rank-bounded estimates (envelope-oracled in
    * qc_incr_percentile_sketch), not exact order statistics. Mode and
    * STRING-valued states stay on [[MValueCounts]] — exact counts are
    * their semantics. */
  final case class MValueSketch(threshold: Int, centroids: Int) extends MergeOp
  /** heap union of ranked-struct arrays bounded at k — top-k state */
  final case class MTopK(k: Int, smallest: Boolean) extends MergeOp
  /** Misra-Gries summary merge bounded at k counters — heavy-hitters
    * state (counter-map addition + subtract-and-drop) */
  final case class MHeavyHitters(k: Int) extends MergeOp

  /** sketch engagement point: past this many distinct values per group
    * the percentile state compresses (exactness holds below) */
  val PercentileSketchThreshold: Int = 4096
  /** compressed bin count — rank error per compression ≈ 1/centroids */
  val PercentileSketchCentroids: Int = 512

  /** One stored state column: `partial` computes it from raw rows,
    * `merge` recombines previously-stored copies of it, and `unit`
    * (when defined) is a PER-ROW expression whose merge equals the
    * partial — i.e. merge(unit(row₁..rowₙ)) == partial(row₁..rowₙ).
    * A defined unit lets the warm path feed appended rows STRAIGHT into
    * the merge aggregation (union of state rows and unit rows), skipping
    * one whole exchange+aggregate stage. */
  final case class StateSpec(name: String, partial: Column, merge: MergeOp,
      unit: Option[Column] = None)

  /** Decomposition of one AggregateExpression: its state columns plus the
    * finalize expression phrased over `col(stateName)` references. */
  final case class Decomposed(state: Seq[StateSpec], finalizeCol: Column)

  /** None ⇒ this aggregate is not incrementally mergeable here.
    *
    * `sketchPercentiles` gates the MValueSketch escape
    * (QueryCacheConfig.percentileSketchState): OFF restores the
    * historical exact-or-bail contract — percentile state stays exact
    * runs and a high-cardinality group grows toward maxStateRows and
    * runs vanilla instead of silently becoming a bounded-error
    * estimate. percentile_disc / discrete percentiles NEVER sketch
    * regardless: their contract is "a member of the data", and a
    * compressed bin's mean is not a member (r8 ADVICE). */
  def decompose(i: Int, agg: AggregateExpression,
      sketchPercentiles: Boolean = true): Option[Decomposed] = {
    if (!agg.deterministic) return None // covers the filter: it is a child
    // FILTER (WHERE …) folds into the state columns by null-masking every
    // DATA child with the predicate: each whitelisted aggregate treats a
    // null data child as "skip this row", which is exactly the filter
    // semantics (count(*)'s literal child masks to null the same way, so
    // count(*) FILTER (WHERE p) becomes a count of p-rows). Partials built
    // directly from the AggregateExpression (`asCol`) carry the filter
    // natively; manually-built partials and every per-row `unit` go
    // through `fc` below.
    val filterCol: Option[Column] = agg.filter.map(Shims.column)
    def fc(c: Column): Column = filterCol match {
      case Some(f) => when(f, c)
      case None => c
    }
    if (agg.isDistinct) {
      // exact COUNT(DISTINCT x): state = the distinct value set itself,
      // merged by set union — mergeable where the engine-side rewrite
      // (expand + two-level agg) is not. State grows with the number of
      // distinct values per group; the cache's maxStateRows guard is the
      // backstop, approx_count_distinct the constant-size alternative.
      // shared by every distinct aggregate: the distinct value set
      def dsetSpec(child: Expression): (String, StateSpec) = {
        val n = s"_s${i}_dset"
        val c = fc(Shims.column(child))
        (n, StateSpec(n, collect_set(c), MSetUnion,
          unit = Some(when(c.isNotNull, array(c)).otherwise(array()))))
      }
      // fold the stored set through + behind a (started, value) struct:
      // an empty set (all-null group) finalizes to NULL like the vanilla
      // aggregate, while a null that appears MID-fold (non-ANSI decimal
      // overflow) stays NULL — a bare coalesce fallback would silently
      // restart the sum from the overflowing element instead. Every step
      // re-casts to the target sum type because decimal addition widens
      // precision and functions.aggregate keeps the accumulator's type.
      def sumOfSet(n: String, sumT: org.apache.spark.sql.types.DataType): Column =
        aggregate(col(n),
          struct(lit(false).as("s"), lit(null).cast(sumT).as("v")),
          (acc, x) => struct(lit(true).as("s"),
            when(acc.getField("s"),
                (acc.getField("v") + x.cast(sumT)).cast(sumT))
              .otherwise(x.cast(sumT)).as("v")),
          acc => acc.getField("v"))
      return agg.aggregateFunction match {
        case Count(Seq(child)) =>
          val (n, spec) = dsetSpec(child)
          Some(Decomposed(Seq(spec), size(col(n)).cast(agg.dataType)))
        // sum(DISTINCT)/avg(DISTINCT): same set state, summed at
        // finalize. State is the distinct set per group — bounded by the
        // cache's maxStateRows element guard, like exact count-distinct.
        case sm: Sum =>
          val (n, spec) = dsetSpec(sm.child)
          Some(Decomposed(Seq(spec), sumOfSet(n, agg.dataType)))
        case a: Average =>
          val (n, spec) = dsetSpec(a.child)
          val sumT =
            if (a.child.dataType.isInstanceOf[DecimalType]) a.sumDataType
            else org.apache.spark.sql.types.DoubleType
          Some(Decomposed(Seq(spec),
            when(size(col(n)) === 0, lit(null))
              .otherwise(sumOfSet(n, sumT) / size(col(n)))
              .cast(agg.dataType)))
        case _ => None
      }
    }
    val asCol = Shims.column(agg)
    // normalize lowerings decide() sees pre-optimizer: the facade path
    // runs BEFORE ReplaceExpressions, so RuntimeReplaceableAggregates
    // (median → Percentile, count_if → Count(nullif), regr_count →
    // Count(x, y), regr_avgx/avgy → filtered Average, …) still wear
    // their source form — unwrap to the replacement the pre-CBO rule
    // path would see, to a fixed point (replacements can nest).
    @annotation.tailrec
    def normalize(f: AggregateFunction): AggregateFunction = f match {
      case m: Median => new Percentile(m.child,
        org.apache.spark.sql.catalyst.expressions.Literal(0.5),
        org.apache.spark.sql.catalyst.expressions.Literal(1L))
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceableAggregate =>
        r.replacement match {
          case af: AggregateFunction if af ne f => normalize(af)
          case _ => f // not a bare aggregate — fall through (likely bail)
        }
      case other => other
    }
    val normalizedFn = normalize(agg.aggregateFunction)
    normalizedFn match {
      case c: Count =>
        val n = s"_s${i}_cnt"
        // unit: 1 iff every counted child is non-null (count(*)'s literal
        // child is never null, so its unit is constantly 1)
        val allNotNull = c.children
          .map(ch => Shims.column(ch).isNotNull)
          .reduceOption(_ && _).getOrElse(lit(true))
        // fc(allNotNull) is null when the filter rejects the row, and
        // when(null, 1).otherwise(0) lands in the otherwise branch
        Some(Decomposed(
          Seq(StateSpec(n, asCol, MSum,
            unit = Some(when(fc(allNotNull), lit(1L)).otherwise(lit(0L))))),
          col(n).cast(agg.dataType)))
      case sm: Sum =>
        val n = s"_s${i}_sum"
        Some(Decomposed(
          Seq(StateSpec(n, asCol, MSum, unit = Some(fc(Shims.column(sm.child))))),
          col(n).cast(agg.dataType)))
      case mn: Min =>
        val n = s"_s${i}_min"
        Some(Decomposed(Seq(StateSpec(n, asCol, MMin,
          unit = Some(fc(Shims.column(mn.child))))), col(n)))
      case mx: Max =>
        val n = s"_s${i}_max"
        Some(Decomposed(Seq(StateSpec(n, asCol, MMax,
          unit = Some(fc(Shims.column(mx.child))))), col(n)))
      case a: Average =>
        // state carries (sum, count). Non-decimal input sums as double —
        // the same buffer type Spark's Average uses; decimal input keeps
        // the exact decimal sum and the final division casts to the
        // exact avg output type.
        val child = fc(Shims.column(a.child))
        val sumState =
          if (a.child.dataType.isInstanceOf[DecimalType]) sum(child)
          else sum(child.cast("double"))
        val sn = s"_s${i}_sum"
        val cn = s"_s${i}_cnt"
        val sumUnit =
          if (a.child.dataType.isInstanceOf[DecimalType]) child
          else child.cast("double")
        Some(Decomposed(
          Seq(
            StateSpec(sn, sumState, MSum, unit = Some(sumUnit)),
            StateSpec(cn, count(child), MSum,
              unit = Some(when(child.isNotNull, lit(1L)).otherwise(lit(0L))))),
          (col(sn) / col(cn)).cast(agg.dataType)))
      // bitwise folds: the aggregate IS its own mergeable state
      // (self-decomposing — merge op == the aggregate), nulls ignored by
      // both partial and merge so an all-null group stays NULL. The
      // boolean folds (bool_and/every, bool_or/some/any) reach the match
      // as the min/max `normalize` unwraps them to.
      case b: BitAndAgg =>
        val n = s"_s${i}_bitand"
        Some(Decomposed(Seq(StateSpec(n, asCol, MBitAnd,
          unit = Some(fc(Shims.column(b.child))))), col(n).cast(agg.dataType)))
      case b: BitOrAgg =>
        val n = s"_s${i}_bitor"
        Some(Decomposed(Seq(StateSpec(n, asCol, MBitOr,
          unit = Some(fc(Shims.column(b.child))))), col(n).cast(agg.dataType)))
      case b: BitXorAgg =>
        val n = s"_s${i}_bitxor"
        Some(Decomposed(Seq(StateSpec(n, asCol, MBitXor,
          unit = Some(fc(Shims.column(b.child))))), col(n).cast(agg.dataType)))
      case h: HyperLogLogPlusPlus =>
        // approx distinct: state = DataSketches HLL sketch (binary),
        // merged with hll_union_agg. NOTE the estimator therefore differs
        // from the vanilla HLL++ one — both are approximate counts with
        // similar error, but cached and uncached runs can disagree within
        // that error band (SURVEY §7.4: fidelity to the engine's own HLL
        // isn't required, mergeability is).
        val n = s"_s${i}_hll"
        Some(Decomposed(
          Seq(StateSpec(n, hll_sketch_agg(fc(Shims.column(h.child))), MHllUnion)),
          hll_sketch_estimate(col(n)).cast(agg.dataType)))
      case c: CollectSet =>
        val n = s"_s${i}_set"
        val cc = fc(Shims.column(c.child))
        Some(Decomposed(
          Seq(StateSpec(n, collect_set(cc), MSetUnion,
            unit = Some(when(cc.isNotNull, array(cc)).otherwise(array())))),
          col(n)))
      case m: MaxBy =>
        // state = max(struct(ordering, value)): struct ordering is
        // lexicographic, so the max carries the value at the max ordering.
        // Ties on the ordering resolve to the largest value — Spark's own
        // max_by is nondeterministic on ties, this is a deterministic
        // refinement of it.
        val n = s"_s${i}_maxby"
        val mbo = fc(Shims.column(m.orderingExpr))
        val mbUnit = when(mbo.isNotNull,
          struct(mbo.as("o"), fc(Shims.column(m.valueExpr)).as("v")))
        Some(Decomposed(
          Seq(StateSpec(n,
            // null ordering rows are skipped (null STRUCT is ignored by
            // max; a struct with a null field would not be)
            max(mbUnit), MMax, unit = Some(mbUnit))),
          col(n).getField("v").cast(agg.dataType)))
      case m: MinBy =>
        val n = s"_s${i}_minby"
        val mno = fc(Shims.column(m.orderingExpr))
        val mnUnit = when(mno.isNotNull,
          struct(mno.as("o"), fc(Shims.column(m.valueExpr)).as("v")))
        Some(Decomposed(
          Seq(StateSpec(n, min(mnUnit), MMin, unit = Some(mnUnit))),
          col(n).getField("v").cast(agg.dataType)))
      case m: CentralMomentAgg
          if m.isInstanceOf[VarianceSamp] || m.isInstanceOf[VariancePop] ||
            m.isInstanceOf[StddevSamp] || m.isInstanceOf[StddevPop] =>
        // variance family via the mergeable (n, Σx, Σx²) state. Spark's own
        // buffer carries central moments (numerically gentler); for cached
        // timeseries aggregates the raw-sums form is equivalent within
        // ~1e-12 relative. Null edges mirror Spark: no rows -> null, one
        // row -> the nullOnDivideByZero-dependent value for the sample
        // variants (NULL with the default config, NaN in legacy mode).
        val child = fc(Shims.column(m.child)).cast("double")
        val nn = s"_s${i}_cnt"
        val s1 = s"_s${i}_sum"
        val s2 = s"_s${i}_sumsq"
        val n = col(nn).cast("double")
        val dbz = m match {
          case v: VarianceSamp => divByZero(v.nullOnDivideByZero)
          case v: StddevSamp => divByZero(v.nullOnDivideByZero)
          case _ => lit(null).cast("double")
        }
        // clamp: catastrophic cancellation can drive the raw-sums form a
        // hair negative for (near-)constant groups, where sqrt would give
        // NaN while Spark's central-moment buffer gives exactly 0.0
        val m2 = greatest(col(s2) - col(s1) * col(s1) / n, lit(0.0)) // Σ(x-μ)²
        val variance = m match {
          case _: VarianceSamp | _: StddevSamp =>
            when(col(nn) === 0, lit(null))
              .when(col(nn) === 1, dbz)
              .otherwise(m2 / (n - 1))
          case _ =>
            when(col(nn) === 0, lit(null)).otherwise(m2 / n)
        }
        val finalCol = m match {
          case _: StddevSamp | _: StddevPop => sqrt(variance)
          case _ => variance
        }
        Some(Decomposed(
          Seq(
            StateSpec(nn, count(child), MSum,
              unit = Some(when(child.isNotNull, lit(1L)).otherwise(lit(0L)))),
            StateSpec(s1, sum(child), MSum, unit = Some(child)),
            StateSpec(s2, sum(child * child), MSum, unit = Some(child * child))),
          finalCol.cast(agg.dataType)))
      case p: Percentile if !p.reverse &&
          isUnitFrequency(p.frequencyExpression) &&
          histogramSafe(p.child.dataType) =>
        // EXACT percentile via the mergeable run-length value histogram —
        // state = sorted (value, count) pairs, the same state-as-data
        // idiom as exact COUNT(DISTINCT) (state size = distinct values
        // per group, maxStateRows is the backstop; DataFusion merges its
        // own percentile state for free, README.md:34). The finalize
        // replays Spark's own interpolation (position p·(N−1), linear
        // between the straddling ranks), so cached == vanilla EXACTLY —
        // no sketch-estimator divergence. Values are held as doubles:
        // integral inputs beyond 2^53 could alias; the cast preserves
        // every value the interpolation (itself double) can distinguish.
        val n = s"_s${i}_vcnt"
        val spec = valueCountSpec(n, fc(Shims.column(p.child)).cast("double"),
          sketch = sketchPercentiles && !p.discrete)
        // continuous: Spark's p·(N−1) weighted interpolation; DISCRETE
        // (percentile_disc): the smallest member whose cume_dist ≥ p,
        // i.e. the 1-based ⌈p·N⌉ member — both via one native pass
        // (graft.functions.PercentileFromRuns)
        foldablePercentages(p.percentageExpression).map { case (ps, scalar) =>
          Decomposed(Seq(spec),
            Shims.column(graft.functions.PercentileFromRuns(
              Shims.expression(col(n)), ps, discrete = p.discrete,
              scalarOut = scalar)).cast(agg.dataType))
        }
      case p: Percentile if !p.reverse && histogramSafe(p.child.dataType) =>
        // WEIGHTED percentile(col, p, freq): the same run-length histogram
        // with per-row counts (the expanded-multiset semantics — runs ARE
        // that multiset). Vanilla's update is replayed exactly: a null
        // value or null frequency skips the row, zero frequency
        // contributes nothing, and a NEGATIVE frequency is a runtime
        // error — the state build raises through the same guard, so a
        // cached run fails exactly where the uncached one fails instead
        // of silently caching garbage.
        val n = s"_s${i}_vcnt"
        val v = fc(Shims.column(p.child)).cast("double")
        val f = fc(Shims.column(p.frequencyExpression)).cast("long")
        val guarded = when(f < 0,
          raise_error(concat(lit("Negative values found in "),
            lit(p.frequencyExpression.sql))).cast("long")).otherwise(f)
        val unit = when(v.isNull || f.isNull, emptyVc)
          .when(guarded === 0, emptyVc)
          .otherwise(array(struct(v.as("v"), guarded.as("c"))))
        // weighted values compress like unweighted ones — the runs ARE
        // the expanded multiset, so the capped-sketch escape (see
        // MValueSketch) applies with the identical rank-error bound;
        // same gate as the unweighted branch (exact when off/discrete)
        val exactPartial = graft.functions.functions
          .merge_runs(flatten(collect_list(unit))).cast(vcType)
        val spec =
          if (sketchPercentiles && !p.discrete) StateSpec(n,
            graft.functions.functions.compress_runs(exactPartial,
              PercentileSketchThreshold, PercentileSketchCentroids)
              .cast(vcType),
            MValueSketch(PercentileSketchThreshold, PercentileSketchCentroids),
            unit = Some(unit))
          else StateSpec(n, exactPartial, MValueCounts, unit = Some(unit))
        foldablePercentages(p.percentageExpression).map { case (ps, scalar) =>
          Decomposed(Seq(spec),
            Shims.column(graft.functions.PercentileFromRuns(
              Shims.expression(col(n)), ps, discrete = p.discrete,
              scalarOut = scalar)).cast(agg.dataType))
        }
      case pd: PercentileDisc if !pd.reverse &&
          histogramSafe(pd.child.dataType) =>
        // percentile_disc(p) WITHIN GROUP (ORDER BY x): the smallest
        // member whose cume_dist ≥ p — the 1-based ⌈p·N⌉ member
        val n = s"_s${i}_vcnt"
        // never sketched: percentile_disc returns data MEMBERS
        val spec = valueCountSpec(n, fc(Shims.column(pd.child)).cast("double"),
          sketch = false)
        foldablePercentages(pd.percentageExpression).map { case (ps, scalar) =>
          Decomposed(Seq(spec),
            Shims.column(graft.functions.PercentileFromRuns(
              Shims.expression(col(n)), ps, discrete = true,
              scalarOut = scalar)).cast(agg.dataType))
        }
      case ap: ApproximatePercentile if histogramSafe(ap.child.dataType) =>
        // approx_percentile shares the exact histogram state; the cached
        // finalize returns the member at the classic nearest rank
        // ⌈p·N⌉ (1-based). NOTE like the HLL case: the vanilla estimator
        // (Greenwald-Khanna at the declared accuracy) and this exact
        // answer can differ WITHIN the function's own error bound —
        // mergeability and bounded error are the contract, estimator
        // fidelity is not (SURVEY §7.4). The exact answer satisfies any
        // accuracy the query declared.
        val n = s"_s${i}_vcnt"
        // approx_percentile is an estimator by its own contract, so the
        // sketch escape keeps it within contract — but the config gate
        // still restores bounded-exact-or-bail state growth when off
        val spec = valueCountSpec(n, fc(Shims.column(ap.child)).cast("double"),
          sketch = sketchPercentiles)
        foldablePercentages(ap.percentageExpression).map { case (ps, scalar) =>
          Decomposed(Seq(spec),
            Shims.column(graft.functions.PercentileFromRuns(
              Shims.expression(col(n)), ps, discrete = true,
              scalarOut = scalar)).cast(agg.dataType))
        }
      case m: Mode if histogramSafe(m.child.dataType) ||
          m.child.dataType == org.apache.spark.sql.types.StringType =>
        // mode shares the value histogram (the STRING variant keys runs
        // by UTF8 binary order — the categorical-column mode, its most
        // common shape); finalize = largest-count run. Deterministic
        // WITHIN-GROUP forms match Spark exactly (lowest / highest tied
        // value per the declared order); plain mode() leaves ties
        // ARBITRARY by contract, and the cached answer settles on the
        // lowest — a deterministic refinement, like max_by ties.
        val isStr = m.child.dataType == org.apache.spark.sql.types.StringType
        val n = s"_s${i}_vcnt"
        val childCol =
          if (isStr) fc(Shims.column(m.child))
          else fc(Shims.column(m.child)).cast("double")
        val spec = valueCountSpec(n, childCol, string = isStr,
          sketch = false)
        // NOTE Mode.reverseOpt encodes ORDER BY ASC as Some(true) (the
        // flag reverses the internal ordering used to pick among ties,
        // not the user-facing direction): ASC ⇒ smallest tied value ⇒
        // our ascending-scan keep-first, i.e. reverse = false here.
        // Pinned by the mode_ties spec (real tie pressure on user_id).
        Some(Decomposed(Seq(spec),
          Shims.column(graft.functions.ModeFromRuns(
            Shims.expression(col(n)),
            reverse = m.reverseOpt.contains(false))).cast(agg.dataType)))
      case t: graft.functions.BoundedTopK =>
        // grouped top-k caches via heap union: stored state IS the top-k
        // array, merged with the bounded re-aggregation form; appended
        // rows enter as single-element unit arrays. State is O(k) per
        // group by construction — the leaderboard dashboard shape,
        // incrementally maintained.
        val n = s"_s${i}_topk"
        val c = fc(Shims.column(t.child))
        Some(Decomposed(
          Seq(StateSpec(n, asCol, MTopK(t.k, t.smallest),
            unit = Some(when(c.isNotNull, array(c))
              .otherwise(array().cast(
                org.apache.spark.sql.types.ArrayType(t.child.dataType)))))),
          col(n).cast(agg.dataType)))
      case g: graft.functions.MisraGries =>
        // heavy hitters cache via summary merge: stored state IS the
        // k-counter summary, re-merged with the mergeable-summaries
        // operation; appended rows enter as exact single-item summaries
        // (cnt = ub = 1, zero error). State O(k) per group by
        // construction. The replay contract is the summary's BOUNDS —
        // like HLL, the cached answer is a valid summary of the full
        // data, bit-identical to a one-shot run only while the group
        // stays <= k distinct items (where the summary is exact and
        // never shrinks); the bounded-error regime is envelope-checked
        // in IncrementalAggSpec.
        val n = s"_s${i}_hh"
        val c = fc(Shims.column(g.child))
        Some(Decomposed(
          Seq(StateSpec(n, asCol, MHeavyHitters(g.k),
            unit = Some(when(c.isNotNull,
              array(struct(c.as("item"), lit(1L).as("cnt"),
                lit(1L).as("ub"))))
              .otherwise(array()).cast(g.dataType)))),
          col(n).cast(agg.dataType)))
      case m: CentralMomentAgg
          if m.isInstanceOf[Skewness] || m.isInstanceOf[Kurtosis] =>
        // skewness/kurtosis via mergeable raw power sums (n, Σx, Σx², Σx³,
        // Σx⁴); the finalize replays Spark's central-moment formulas
        // (skew = √n·m3/√m2³, kurt = n·m4/m2² − 3). Cancellation caveat as
        // corr: raw sums lose ~log10(|μ|/σ) digits — center a large-mean
        // column first. A (near-)constant group must finalize like
        // vanilla's m2 == 0 branch (NULL / NaN per nullOnDivideByZero),
        // but cancellation can leave m2 a hair positive where Welford
        // gives an exact 0 — so m2 within a few ulps of the Σx² scale
        // (≤ 1e-13·Σx², i.e. σ/rms < ~3e-7, below what raw sums can
        // resolve anyway) counts as zero.
        val child = fc(Shims.column(m.child)).cast("double")
        val nn = s"_s${i}_cnt"
        val s1n = s"_s${i}_s1"
        val s2n = s"_s${i}_s2"
        val s3n = s"_s${i}_s3"
        val s4n = s"_s${i}_s4"
        val x2 = child * child
        val specs = Seq(
          StateSpec(nn, count(child), MSum,
            unit = Some(when(child.isNotNull, lit(1L)).otherwise(lit(0L)))),
          StateSpec(s1n, sum(child), MSum, unit = Some(child)),
          StateSpec(s2n, sum(x2), MSum, unit = Some(x2)),
          StateSpec(s3n, sum(x2 * child), MSum, unit = Some(x2 * child)),
          StateSpec(s4n, sum(x2 * x2), MSum, unit = Some(x2 * x2)))
        val n = col(nn).cast("double")
        val mu = col(s1n) / n
        val m2 = greatest(col(s2n) - col(s1n) * mu, lit(0.0))
        val m2Zero = m2 <= abs(col(s2n)) * lit(1e-13)
        val dbz = m match {
          case s: Skewness => divByZero(s.nullOnDivideByZero)
          case k: Kurtosis => divByZero(k.nullOnDivideByZero)
          case _ => lit(null).cast("double")
        }
        val finalCol = m match {
          case _: Skewness =>
            val m3 = col(s3n) - lit(3.0) * mu * col(s2n) +
              lit(2.0) * n * mu * mu * mu
            when(col(nn) === 0, lit(null).cast("double"))
              .when(m2Zero, dbz)
              .otherwise(sqrt(n) * m3 / sqrt(m2 * m2 * m2))
          case _ =>
            val m4 = greatest(col(s4n) - lit(4.0) * mu * col(s3n) +
              lit(6.0) * mu * mu * col(s2n) -
              lit(3.0) * n * mu * mu * mu * mu, lit(0.0))
            when(col(nn) === 0, lit(null).cast("double"))
              .when(m2Zero, dbz)
              .otherwise(n * m4 / (m2 * m2) - lit(3.0))
        }
        Some(Decomposed(specs, finalCol.cast(agg.dataType)))
      case r: RegrSlope =>
        // linear-regression family over both-non-null (y, x) pairs —
        // the same raw-sums state as corr/covar; finalizes replay
        // Spark's declarative guards (NULL when n == 0 or Sxx == 0,
        // with the same near-zero-as-zero epsilon as skewness since the
        // guard must fire BEFORE the division under ANSI)
        val (st, nn, ck, xm, _, sxxRaw, _) =
          corrCovarState(i, fc(Shims.column(r.right)), fc(Shims.column(r.left)))
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double"))
            .when(xm <= abs(sxxRaw) * lit(1e-13), lit(null).cast("double"))
            .otherwise(ck / xm)
            .cast(agg.dataType)))
      case r: RegrIntercept =>
        // intercept = ȳ − slope·x̄ over the pair-complete subset
        val (st, nn, ck, xm, _, sxxRaw, _) =
          corrCovarState(i, fc(Shims.column(r.right)), fc(Shims.column(r.left)))
        val n = col(nn).cast("double")
        val sxName = st(1).name // Σx of the pair-complete subset
        val syName = st(2).name
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double"))
            .when(xm <= abs(sxxRaw) * lit(1e-13), lit(null).cast("double"))
            .otherwise(col(syName) / n - (ck / xm) * (col(sxName) / n))
            .cast(agg.dataType)))
      case r: RegrR2 =>
        // r² = ck²/(Sxx·Syy); Syy == 0 (constant y, non-constant x) → 1.0
        val (st, nn, ck, xm, ym, sxxRaw, syyRaw) =
          corrCovarState(i, fc(Shims.column(r.right)), fc(Shims.column(r.left)))
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double"))
            .when(xm <= abs(sxxRaw) * lit(1e-13), lit(null).cast("double"))
            .when(ym <= abs(syyRaw) * lit(1e-13), lit(1.0))
            .otherwise(ck * ck / (xm * ym))
            .cast(agg.dataType)))
      case r: RegrReplacement =>
        // regr_sxx / regr_syy normalize to this helper (a second central
        // moment whose child already encodes the pair-null skip):
        // eval = NULL when n == 0, else Σ(x−x̄)². Raw-sums state like the
        // variance family.
        val child = fc(Shims.column(r.child)).cast("double")
        val nn = s"_s${i}_cnt"
        val s1n = s"_s${i}_s1"
        val s2n = s"_s${i}_s2"
        val n = col(nn).cast("double")
        val m2 = greatest(col(s2n) - col(s1n) * col(s1n) / n, lit(0.0))
        Some(Decomposed(
          Seq(
            StateSpec(nn, count(child), MSum,
              unit = Some(when(child.isNotNull, lit(1L)).otherwise(lit(0L)))),
            StateSpec(s1n, sum(child), MSum, unit = Some(child)),
            StateSpec(s2n, sum(child * child), MSum,
              unit = Some(child * child))),
          when(col(nn) === 0, lit(null).cast("double")).otherwise(m2)
            .cast(agg.dataType)))
      case r: RegrSXY =>
        val (st, nn, ck, _, _, _, _) =
          corrCovarState(i, fc(Shims.column(r.right)), fc(Shims.column(r.left)))
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double")).otherwise(ck)
            .cast(agg.dataType)))
      case c: Corr =>
        // Pearson correlation via raw sums (n, Σx, Σy, Σxy, Σx², Σy²) over
        // rows where BOTH sides are non-null (Spark skips half-null pairs).
        // corr = (Σxy − ΣxΣy/n) / sqrt((Σx²−(Σx)²/n)(Σy²−(Σy)²/n)); the
        // n≥2 constant-series case divides by zero, which Spark's Divide
        // maps to NULL — same as Spark's own evaluator.
        val (st, nn, ck, xm, ym, _, _) =
          corrCovarState(i, fc(Shims.column(c.x)), fc(Shims.column(c.y)))
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double"))
            .when(col(nn) === 1, divByZero(c.nullOnDivideByZero))
            .otherwise(ck / sqrt(xm * ym))
            .cast(agg.dataType)))
      case c: CovSample =>
        val (st, nn, ck, _, _, _, _) =
          corrCovarState(i, fc(Shims.column(c.left)), fc(Shims.column(c.right)))
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double"))
            .when(col(nn) === 1, divByZero(c.nullOnDivideByZero))
            .otherwise(ck / (col(nn).cast("double") - 1))
            .cast(agg.dataType)))
      case c: CovPopulation =>
        val (st, nn, ck, _, _, _, _) =
          corrCovarState(i, fc(Shims.column(c.left)), fc(Shims.column(c.right)))
        Some(Decomposed(st,
          when(col(nn) === 0, lit(null).cast("double"))
            .otherwise(ck / col(nn).cast("double"))
            .cast(agg.dataType)))
      case _ => None
    }
  }

  /** The histogram state holds values as doubles. Safe for every numeric
    * type whose distinguishable values doubles can represent; a DECIMAL
    * beyond 15 significant digits could alias two distinct inputs onto
    * one run (and reorder sub-ulp ties vs the exact decimal ordering) —
    * bail to vanilla there. Long inputs keep the standard >2^53 caveat
    * shared with sort keys across the library. */
  private def histogramSafe(dt: DataType): Boolean = dt match {
    case d: DecimalType => d.precision <= 15
    case _: org.apache.spark.sql.types.NumericType => true
    case _ => false
  }

  /** percentile's frequency argument must be the constant 1 (per-row
    * weights would need a weighted histogram — bail to vanilla) */
  private def isUnitFrequency(e: Expression): Boolean =
    e.foldable && (e.eval() match {
      case n: Number => n.longValue == 1L
      case _ => false
    })

  private val vcType = "array<struct<v:double,c:bigint>>"
  private val vcTypeStr = "array<struct<v:string,c:bigint>>"
  private def vcTypeOf(string: Boolean): String =
    if (string) vcTypeStr else vcType
  private def emptyVc: Column =
    typedlit(Seq.empty[(Double, Long)]).cast(vcType)
  private def emptyVcOf(string: Boolean): Column =
    if (string) typedlit(Seq.empty[(String, Long)]).cast(vcTypeStr)
    else emptyVc

  /** Shared (value, count) histogram state for the percentile family:
    * partial = sorted compacted runs of the group's values; unit = a
    * single-element run per row, so the warm path merges appended rows
    * directly (collect_list skips nulls, mirroring percentile). Sort +
    * run-length-encode + compact are NATIVE single-pass expressions
    * (functions.{RunsFromValues, MergeRuns}) — the higher-order
    * sort_array/transform/aggregate built-ins are CodegenFallback,
    * interpreted per element/comparison, which measured seconds per
    * query on ~18k-run state (and a fold-based compact is additionally
    * O(runs²) in array copies). */
  private def valueCountSpec(n: String, child: Column,
      string: Boolean = false, sketch: Boolean = true): StateSpec = {
    val rawPartial = graft.functions.functions
      .runs_from_values(collect_list(child)).cast(vcTypeOf(string))
    val unitCol = Some(when(child.isNotNull,
      array(struct(child.as("v"), lit(1L).as("c"))))
      .otherwise(emptyVcOf(string)))
    // numeric PERCENTILE states get the capped-sketch merge (see
    // MValueSketch); the partial build compresses too, so even the COLD
    // state of a high-cardinality group is bounded. Mode (`sketch =
    // false`: bin means aren't values and merged counts aren't value
    // counts) and string states (means of strings don't exist) keep
    // exact runs.
    if (string || !sketch)
      StateSpec(n, rawPartial, MValueCounts, unit = unitCol)
    else StateSpec(n,
      graft.functions.functions.compress_runs(rawPartial,
        PercentileSketchThreshold, PercentileSketchCentroids)
        .cast(vcType),
      MValueSketch(PercentileSketchThreshold, PercentileSketchCentroids),
      unit = unitCol)
  }

  /** Percentage argument(s) as plan-time doubles: (values, isScalar).
    * Percentile requires the expression foldable; None on anything not
    * statically evaluable to numbers in [0, 1]. The constants feed the
    * native finalize (graft.functions.PercentileFromRuns) — the
    * interpolation/rank arithmetic lives there, NOT in interpreted
    * higher-order folds (CodegenFallback per element: measured seconds
    * on ~18k-run arrays). */
  private def foldablePercentages(e: Expression)
      : Option[(Array[Double], Boolean)] = {
    if (!e.foldable) return None
    def num(v: Any): Option[Double] = v match {
      case null => None
      case d: java.lang.Number => Some(d.doubleValue)
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _ => None
    }
    e.dataType match {
      case _: org.apache.spark.sql.types.ArrayType =>
        e.eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            val et = e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
              .elementType
            val vs = a.toObjectArray(et).map(num)
            if (vs.forall(_.isDefined))
              Some((vs.map(_.get), false))
            else None
          case _ => None
        }
      case _ => num(e.eval()).map(d => (Array(d), true))
    }
  }

  /** Spark's statistical aggregates return NULL on divide-by-zero with the
    * default config and NaN in legacy mode — the flag rides on each
    * function instance. */
  private def divByZero(nullOnDivideByZero: Boolean): Column =
    if (nullOnDivideByZero) lit(null).cast("double") else lit(Double.NaN)

  /** shared raw-sums state for corr/covar/regr: returns (stateSpecs,
    * countName, ck = Σxy−ΣxΣy/n, xMoment, yMoment, Σx² col, Σy² col);
    * moments are clamped ≥ 0 like the variance family, and the raw Σ²
    * columns give callers the scale for near-zero-moment epsilon guards.
    *
    * NUMERIC CONTRACT: the derived co-moment's absolute error is
    * ~n·|μx·μy|·1e-16 (cancellation of Σxy against ΣxΣy/n), where
    * Spark's vanilla central-moment buffer stays ~1e-12 RELATIVE. The
    * two agree to ~10 significant digits minus log10(|μ|/σ) per input —
    * indistinguishable for regressors whose mean is within a few orders
    * of their spread, but a raw epoch-seconds regressor (μ≈1.6e9,
    * σ≈minutes) measurably diverges in the trailing digits. Center such
    * columns before correlating (subtract any constant — corr is shift-
    * invariant; the cache fingerprints the shifted plan consistently). */
  private def corrCovarState(i: Int, xc: Column, yc: Column)
      : (Seq[StateSpec], String, Column, Column, Column, Column, Column) = {
    val x = xc.cast("double")
    val y = yc.cast("double")
    val both = x.isNotNull && y.isNotNull
    val bx = when(both, x)
    val by = when(both, y)
    val nn = s"_s${i}_cnt"
    val sx = s"_s${i}_sx"
    val sy = s"_s${i}_sy"
    val sxy = s"_s${i}_sxy"
    val sxx = s"_s${i}_sxx"
    val syy = s"_s${i}_syy"
    val st = Seq(
      StateSpec(nn, count(when(both, lit(1))), MSum,
        unit = Some(when(both, lit(1L)).otherwise(lit(0L)))),
      StateSpec(sx, sum(bx), MSum, unit = Some(bx)),
      StateSpec(sy, sum(by), MSum, unit = Some(by)),
      StateSpec(sxy, sum(bx * by), MSum, unit = Some(bx * by)),
      StateSpec(sxx, sum(bx * bx), MSum, unit = Some(bx * bx)),
      StateSpec(syy, sum(by * by), MSum, unit = Some(by * by)))
    val n = col(nn).cast("double")
    val ck = col(sxy) - col(sx) * col(sy) / n
    val xm = greatest(col(sxx) - col(sx) * col(sx) / n, lit(0.0))
    val ym = greatest(col(syy) - col(sy) * col(sy) / n, lit(0.0))
    (st, nn, ck, xm, ym, col(sxx), col(syy))
  }

  /** Merge aggregation for a state column, given the stored state schema
    * (casts the re-aggregated value back to the stored type so the schema
    * is stable across arbitrarily many merge generations). */
  /** Deep nullability erasure for cast TARGETS. Catalyst refuses casts
    * that narrow nullability (array<long, nullable elems> →
    * array<long, non-null elems> is DATATYPE_MISMATCH even though the
    * value types match), and the set-union unit form
    * `when(x.isNotNull, array(x)).otherwise(array())` is typed with
    * nullable elements while collect_set's state type is not — casting
    * to the nullable-everywhere form keeps the VALUE types aligned (the
    * cast's actual job) without fighting the analyzer over nullability
    * the union will re-widen anyway. */
  def nullTolerant(dt: DataType): DataType = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(nullTolerant(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(nullTolerant(k), nullTolerant(v),
        valueContainsNull = true)
    case StructType(fields) =>
      StructType(fields.map(f =>
        f.copy(dataType = nullTolerant(f.dataType), nullable = true)))
    case other => other
  }

  def mergeColumn(spec: StateSpec, stateSchema: StructType): Column = {
    val storedType: DataType = nullTolerant(stateSchema(spec.name).dataType)
    val merged = spec.merge match {
      case MSum => sum(col(spec.name))
      case MMin => min(col(spec.name))
      case MMax => max(col(spec.name))
      case MHllUnion => hll_union_agg(col(spec.name))
      case MSetUnion => array_distinct(flatten(collect_list(col(spec.name))))
      case MBitAnd => bit_and(col(spec.name))
      case MBitOr => bit_or(col(spec.name))
      case MBitXor => bit_xor(col(spec.name))
      case MValueCounts =>
        graft.functions.functions.merge_runs(
          flatten(collect_list(col(spec.name))))
      case MValueSketch(t, c) =>
        graft.functions.functions.compress_runs(
          graft.functions.functions.merge_runs(
            flatten(collect_list(col(spec.name)))), t, c)
      case MTopK(k, smallest) =>
        Shims.column(graft.functions.BoundedTopKMerge(
          Shims.expression(col(spec.name)), k, smallest)
          .toAggregateExpression())
      case MHeavyHitters(k) =>
        Shims.column(graft.functions.MisraGriesMerge(
          Shims.expression(col(spec.name)), k).toAggregateExpression())
    }
    merged.cast(storedType).as(spec.name)
  }

  /** Finalize column as a Catalyst expression (for substitution back into
    * the query's output expression tree). */
  def finalizeExpr(d: Decomposed): Expression = Shims.expression(d.finalizeCol)
}
