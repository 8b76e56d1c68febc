package graft.exec

import java.util.concurrent.atomic.AtomicReference

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.to_date
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.storage.StorageLevel

import graft.log.CacheLog

/** Shared append-delta scan for dashboard-style refresh batches.
  *
  * When N cached views over the same fact table refresh together, each
  * warm run re-scans the table's appended rows (ts >= its watermark) —
  * N scans of the same delta. Inside a [[withCycle]] block the FIRST
  * warm run registers one full-width delta scan of the fact relation
  * (rows ts >= its watermark, persisted MEMORY_AND_DISK), and every
  * subsequent warm run whose watermark is >= that bound substitutes the
  * persisted delta for its own fact-relation leaf — the table's append
  * is read from storage ONCE per refresh cycle, however many views it
  * feeds. At 100 TB with 50 dashboard tiles that is 50× fewer delta
  * reads, and every tile sees the SAME append snapshot (the persisted
  * rows), making the batch internally consistent where N independent
  * scans could each list a different file set.
  *
  * Soundness: the substitution replaces only the traced fact LEAF with a
  * row-subset of itself ({rows : ts >= entry.wm}), and each query's own
  * watermark filter (ts >= wm_q, wm_q >= entry.wm) still applies above —
  * the leaf rows removed all have ts < entry.wm <= wm_q, so they could
  * only have produced output rows the watermark filter drops anyway. The
  * temporal attribute is traced through IDENTITY mappings only (bare
  * attribute aliases across Project/Filter/Join/SubqueryAlias); any
  * transforming node (Union, Expand, Aggregate, a Cast in the alias
  * chain) bails to the query's own scan. Newly null-extended outer-join
  * rows carry a NULL ts and fail the watermark filter too.
  *
  * Scope contract: a cycle is one refresh batch, scoped to the THREAD
  * that opened it (bystander sessions must never be pulled onto another
  * cycle's snapshot — see `active`). Entries snapshot the table's files
  * at first materialization, so a cycle must not span an append you
  * expect later views to observe — exactly the semantics a single
  * dashboard refresh wants. Cycle end unpersists everything. Cold runs,
  * banded re-scans, and repair-pending runs never substitute (they need
  * rows below the watermark).
  *
  * The registered scan carries NO upper timestamp bound even under
  * strict mode: each consuming view applies its own `ts < now` above
  * the splice, and the entry must keep future-dated rows servable to
  * views whose `now` is later — truncating at the registering run's
  * `now` would silently lose the band between the runs' clocks. The
  * cost is that future-dated rows persist in the shared delta even
  * though early views discard them; bounded by the table's future-dated
  * volume, which the S1 contract already treats as exceptional.
  */
object SharedDelta {

  private final case class Entry(wmMicros: Long, df: DataFrame)

  private final class Cycle {
    val entries = new TrieMap[String, Entry]
    var depth: Int = 1
  }

  // THREAD-LOCAL by design, not JVM-global: a cycle's entries snapshot
  // their table's files at first materialization, so only runs that
  // OPTED IN (they called withCycle, accepting the no-mid-cycle-append
  // contract) may consume them. A global registry would silently pull a
  // bystander session's warm run onto another cycle's stale snapshot —
  // its watermark would still advance past rows appended since that
  // snapshot, losing them permanently. A multi-threaded tile runner
  // shares per thread (N_threads scans, still < N_views); cross-thread
  // sharing would need cross-thread snapshot consent.
  private val active = new ThreadLocal[Cycle]

  /** Is a refresh cycle active on this thread? */
  def cycleActive: Boolean = active.get() != null

  /** Run `f` as one refresh cycle: warm runs inside it (same thread)
    * share one delta scan per (fact table, temporal column). Re-entrant;
    * the outermost exit unpersists all shared deltas. */
  def withCycle[A](f: => A): A = {
    val existing = active.get()
    if (existing != null) existing.depth += 1
    else active.set(new Cycle)
    try f
    finally {
      val c = active.get()
      c.depth -= 1
      if (c.depth == 0) {
        active.remove()
        c.entries.values.foreach { e =>
          try e.df.unpersist(blocking = false)
          catch { case _: Exception => () }
        }
      }
    }
  }

  /** Trace `a` down to its source file-relation leaf through IDENTITY
    * mappings only. Returns the leaf and the leaf-level attribute. */
  private def trace(p: LogicalPlan, a: Attribute): Option[(LogicalRelation, Attribute)] =
    p match {
      case lr: LogicalRelation =>
        lr.output.find(_.exprId == a.exprId).map(o => (lr, o))
      case pj: Project =>
        pj.projectList.find(_.exprId == a.exprId).flatMap {
          case al: Alias => al.child match {
            case ar: Attribute => trace(pj.child, ar)
            case _ => None
          }
          case ar: Attribute => trace(pj.child, ar)
          case _ => None
        }
      case f: Filter => trace(f.child, a)
      case sa: SubqueryAlias => trace(sa.child, a)
      case j: Join =>
        j.children.filter(_.outputSet.contains(a)) match {
          case collection.Seq(one) => trace(one, a)
          case _ => None
        }
      case _ => None
    }

  private def keyOf(lr: LogicalRelation, tsName: String): String =
    Shims.sourcePaths(lr).sorted.mkString(";") + "#" + tsName

  /** FILE bytes the append scan would list — directory-pruned by the
    * declared partition column when present (pc >= date(wm), the same
    * derived conjunct the registered scan carries), else the whole
    * table (an overestimate that errs toward sharing, preserving the
    * old behavior for unpartitioned layouts). Driver-side listing from
    * the relation's (cached) FileIndex, no Spark job. -1 = unknown. */
  private def prunedAppendBytes(lr: LogicalRelation, wmMicros: Long,
      pcAttr: Option[Attribute]): Long =
    lr.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        try {
          val epochDay = java.lang.Math.floorDiv(wmMicros, 86400000000L)
          val pf: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
            pcAttr.toSeq.map(a =>
              org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(a,
                org.apache.spark.sql.catalyst.expressions.Literal(
                  epochDay.toInt, org.apache.spark.sql.types.DateType)))
          h.location.listFiles(pf, Nil).iterator
            .flatMap(_.files).map(_.getLen).sum
        } catch { case scala.util.control.NonFatal(_) => -1L }
      case _ => -1L
    }

  /** Substitute the fact leaf of `deltaDF` with this cycle's shared
    * persisted delta when one is usable (entry watermark <= `wmMicros`);
    * register one from this query's leaf on first sight. Returns
    * `deltaDF` unchanged when no cycle is active or the shape doesn't
    * trace. Call ONLY for the append scan of a warm run — never for
    * band/repair re-reads (they need rows below the watermark). */
  def substituteAppendScan(spark: SparkSession, deltaDF: DataFrame,
      temporalAttr: Attribute, wmMicros: Long,
      temporalPartitionColumn: Option[String],
      log: CacheLog, fingerprint: String,
      rootNeeded: Option[Seq[Attribute]] = None): DataFrame = {
    if (active.get() == null) return deltaDF
    val plan = Shims.queryExecution(deltaDF).analyzed
    val traced = trace(plan, temporalAttr).getOrElse(return deltaDF)
    val (lr, leafTs) = traced
    substituteAtLeaf(spark, deltaDF, lr, leafTs, wmMicros,
      temporalPartitionColumn, log, fingerprint, rootNeeded)
  }

  /** Leaf-level core of the substitution: the caller already knows the
    * fact relation leaf and its temporal attribute (the row-view path
    * injects its watermark directly above the leaf). Same contract as
    * [[substituteAppendScan]]. */
  def substituteAtLeaf(spark: SparkSession, deltaDF: DataFrame,
      lr: LogicalRelation, leafTs: Attribute, wmMicros: Long,
      temporalPartitionColumn: Option[String],
      log: CacheLog, fingerprint: String,
      rootNeeded: Option[Seq[Attribute]] = None): DataFrame = {
    val cycle = active.get()
    if (cycle == null) return deltaDF
    val plan = Shims.queryExecution(deltaDF).analyzed
    if (!leafTs.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType])
      return deltaDF
    val key = keyOf(lr, leafTs.name)
    // the leaf columns THIS query actually consumes: everything any node
    // above references, plus the root-level consumed set — the caller's
    // explicit hint when it knows better (the aggregate path's analyzed
    // child outputs the FULL leaf width; only its grouping/state
    // expressions actually read columns), else the plan's own output —
    // plus the temporal column itself. The shared scan is registered at
    // exactly this width — a wide fact table's unused columns are never
    // read — and a later view needing a column outside it bypasses (its
    // private pruned scan is never worse than no sharing).
    // the declared partition column stays in too: the executor applies
    // its derived date conjunct ABOVE the spliced leaf, so the splice
    // must keep producing it
    val pcAttr = temporalPartitionColumn
      .flatMap(pc => lr.output.find(_.name.equalsIgnoreCase(pc)))
    val needed: Seq[Attribute] = {
      val refs = plan.collect {
        case n if !(n eq lr) => n.expressions.flatMap(_.references)
      }.flatten
      val refSet = AttributeSet(refs ++ rootNeeded.getOrElse(plan.output))
      lr.output.filter(a => refSet.contains(a) || a.exprId == leafTs.exprId ||
        pcAttr.exists(_.exprId == a.exprId))
    }
    if (sys.env.contains("SPARK_GRAFT_SHARED_DEBUG"))
      System.err.println(s"[shdebug] fp=$fingerprint lr.output=${lr.output} " +
        s"needed=$needed rootNeeded=${rootNeeded.map(_.toList)}")
    val entry = cycle.entries.get(key) match {
      case Some(e) if e.wmMicros <= wmMicros => e
      case Some(_) =>
        // a lagging view (smaller watermark than the registered scan):
        // its delta is NOT a subset of the shared one — scan directly
        log.info(fingerprint, "shared delta: entry watermark above this " +
          "run's — bypassing shared scan")
        return deltaDF
      case None =>
        // BREAK-EVEN GATE (r13 verdict: sharing was a net loss at bench
        // scale — the registration paid a keyless repartition, i.e. a
        // local sort + full shuffle of the delta, plus the columnar cache
        // encode, while each SAVED private scan of a small append costs
        // milliseconds). Two changes, measured with SharedProfile:
        //  1. an ops-tunable floor (SPARK_GRAFT_SHARED_MIN_BYTES, file
        //     bytes of the directory-pruned append, driver-side listing,
        //     no job): appends below it keep private scans — per-view
        //     fixed costs dominate there and registration can only lose.
        //     Default 0 (always share): withCycle is an explicit opt-in
        //     whose engagement declared queries assert, so the DEFAULT
        //     must not silently bypass them on small fixtures.
        //  2. the parallelism floor no longer shuffles: the delta is
        //     planned under an ISOLATED-conf session whose
        //     maxPartitionBytes targets ~defaultParallelism splits, so
        //     the cache builds parallel straight from the scan (zero
        //     exchanges — also retires the r13-ADVICE toRdd-under-AQE
        //     side-effect concern), and it is materialized HERE, once
        //     per cycle, instead of riding the first consumer.
        // At 100 TB both gates are no-ops: a real append is far above
        // the threshold and already plans more splits than parallelism.
        val deltaBytes = prunedAppendBytes(lr, wmMicros, pcAttr)
        val minShare = sys.env.get("SPARK_GRAFT_SHARED_MIN_BYTES")
          .flatMap(s => scala.util.Try(s.toLong).toOption)
          .getOrElse(0L)
        if (deltaBytes >= 0 && deltaBytes < minShare) {
          log.info(fingerprint, s"shared delta: append ($deltaBytes " +
            s"file bytes) below share threshold ($minShare) — keeping " +
            "private scans")
          return deltaDF
        }
        val raw = Shims.ofRows(spark, lr)
        val wm = graft.plans.RunBound.timestamp(wmMicros)
        val bound = Shims.column(leafTs) >= wm
        val pcBound = pcAttr.map(a => Shims.column(a) >= to_date(wm))
        val delta0 = raw.filter(pcBound.map(bound && _).getOrElse(bound))
          .select(needed.map(a => Shims.column(a)): _*)
        val par = math.max(1, spark.sparkContext.defaultParallelism)
        val sessionSplit = spark.sessionState.conf.filesMaxPartitionBytes
        val targetSplit =
          if (deltaBytes > 0)
            math.max(1L << 20, math.min(sessionSplit, deltaBytes / par + 1))
          else sessionSplit
        // columnar-cache compression off for the cycle-scoped delta: the
        // cache lives one refresh batch and is read back within seconds,
        // so the compression CPU (the dominant encode cost at bench
        // scale) buys nothing — memory cost is bounded by the delta's
        // in-memory width, and the entry is unpersisted at cycle end
        // batchSize: the cycle-scoped cache is encode-once/read-thrice,
        // so per-batch bookkeeping (allocation, null tracking, stats) is
        // pure overhead — 256k-row batches amortize it; memory cost per
        // batch is bounded by the delta's narrow projected width
        val delta = Shims.withIsolatedConf(spark,
          "spark.sql.files.maxPartitionBytes" -> targetSplit.toString,
          "spark.sql.inMemoryColumnarStorage.compressed" -> "false",
          "spark.sql.inMemoryColumnarStorage.batchSize" -> "262144") { iso =>
          val d = Shims.ofRows(iso, Shims.queryExecution(delta0).analyzed)
          // persist() fixes the cached relation's PHYSICAL plan here,
          // under the isolated split sizing (cacheQuery plans with the
          // dataset's own session), while the build itself stays lazy —
          // it fuses into the first consuming view's pass, so the delta
          // rows are read exactly once per cycle
          d.persist(StorageLevel.MEMORY_AND_DISK)
          d
        }
        val e = Entry(wmMicros, delta)
        cycle.entries.putIfAbsent(key, e) match {
          case Some(winner) =>
            // a concurrent registration won — drop ours, use the winner
            // (same wm-compatibility check as the warm-lookup branch)
            try delta.unpersist(blocking = false)
            catch { case _: Exception => () }
            if (winner.wmMicros <= wmMicros) winner
            else {
              log.info(fingerprint, "shared delta: entry watermark above " +
                "this run's — bypassing shared scan")
              return deltaDF
            }
          case None =>
            log.info(fingerprint,
              s"shared delta: registered scan for $key at wm=$wmMicros " +
                s"(${needed.size} columns)")
            e
        }
    }
    // splice: replace the leaf with the persisted delta's plan, its
    // outputs renamed/re-id'd to the leaf's attributes (exprIds above
    // stay valid). A column the registered scan lacks — or a mistyped
    // one (schema drift inside one cycle) — bails to the private scan.
    val dplan = Shims.queryExecution(entry.df).analyzed
    val mapped: Option[Seq[NamedExpression]] = {
      val outs = needed.map { o =>
        dplan.output.find(d => d.name == o.name && d.dataType == o.dataType)
          .map { d =>
            if (d.exprId == o.exprId) d
            else Alias(d, o.name)(exprId = o.exprId)
          }
      }
      if (outs.forall(_.isDefined)) Some(outs.map(_.get)) else None
    }
    mapped match {
      case None =>
        log.info(fingerprint, "shared delta: registered scan lacks a " +
          "needed column — bypassing shared scan")
        deltaDF
      case Some(aliases) =>
        // verify the replacement actually landed before claiming it —
        // if the leaf instance is not reference-present in `plan` (e.g.
        // a re-analysis copied it), the splice is a no-op and the run
        // must fall back to (and report) its private scan
        var replaced = 0
        val spliced = plan.transformUp {
          case l: LogicalRelation if l eq lr =>
            replaced += 1
            Project(aliases, dplan)
        }
        if (replaced == 0) {
          log.info(fingerprint, "shared delta: fact leaf not found in " +
            "the delta plan — bypassing shared scan")
          deltaDF
        } else {
          log.info(fingerprint,
            s"shared delta scan: append read served from the cycle's " +
              s"persisted delta (wm=${entry.wmMicros})")
          Shims.ofRows(spark, spliced)
        }
    }
  }
}
