package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{
  Dataset => ClassicDataset,
  SparkSession => ClassicSparkSession,
  ExpressionUtils
}
import org.apache.spark.sql.execution.QueryExecution

/** Thin bridge to `private[sql]` Spark internals (Spark 4.x `classic` impl).
  *
  * Lives under `org.apache.spark.sql` so the Scala access checks for
  * `private[sql]` members pass; keeps every internal touch point in ONE
  * file so version bumps have a single seam. Public Spark API is used
  * everywhere else.
  */
object Shims {

  /** Wrap an analyzed/constructed logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** Catalyst expression -> user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** User-facing Column -> Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bloom-filter aggregate over a LONG column (the engine's own
    * runtime-filter sketch, reused as a user-level operator): returns
    * the filter's binary form. `numBits` sizes the filter —
    * ~10 bits/item gives ~1% false positives. */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expression(c),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Membership probe against a CONSTANT bloom binary (the expression
    * requires a foldable filter side — collect the small filter to the
    * driver and pass `lit(bytes)`). No false negatives; false positives
    * at the filter's design rate. */
  def mightContain(bloom: Column, value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expression(bloom), expression(value)))

  /** QueryExecution of a DataFrame (analyzed plan access). */
  def queryExecution(df: DataFrame): QueryExecution =
    df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]].queryExecution

  /** Source locations feeding a plan — file-relation root paths (v1 data
    * sources) plus v2 relation identifiers. Canonical plan strings omit
    * these, so fingerprints must append them (two tables with the same
    * schema must not share cache state). */
  def sourcePaths(plan: LogicalPlan): Seq[String] = plan.collect {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(_.toString)
        case other => Seq(other.toString)
      }
    case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      Seq(d.name)
  }.flatten

  /** Run `f` against a session whose SQL confs include `kv` — WITHOUT
    * mutating the caller's session. A thread-local SQLConf override does
    * not survive SQLExecution.withNewExecutionId's conf propagation, and
    * a set/restore on the shared session races concurrent queries (two
    * interleaved save/restores can permanently corrupt a conf), so the
    * overrides go on a CLONED session: same SparkContext, shared state,
    * and a full copy of the runtime conf/temp views (cloneSession, the
    * same mechanism Spark's own AQE/streaming use for isolated conf
    * views). `f` receives the clone; rebind plans with [[ofRows]]. With
    * no overrides the original session is passed straight through.
    *
    * The clone is REUSED across calls with the same parent and the same
    * overrides. Spark keys its generated-class cache on (class loader,
    * code) and every session brings its own artifact class loader, so a
    * fresh clone per call recompiled every stage the call ran, on the
    * driver and on the executors, each time. A reused clone is what a
    * fresh one taken now would be: it is re-cloned whenever the parent's
    * state that cloning copies ([[cloneSource]]) differs from what it was
    * cloned from, or a caller changed the clone's own; its per-session
    * table-relation cache is dropped on every reuse (a fresh clone starts
    * with none), so catalog tables re-resolve and re-list. `f` must not
    * register state on the clone (a caller that does merely forces the
    * next call to re-clone). */
  def withIsolatedConf[A](spark: SparkSession, kv: (String, String)*)(
      f: SparkSession => A): A =
    if (kv.isEmpty) f(spark)
    else f(isolatedClone(spark.asInstanceOf[ClassicSparkSession], kv))

  /** A clone, the parent state it was taken from, and its own state
    * right after the overrides were set. */
  private final class Isolated(val parentState: Seq[Any],
      val session: ClassicSparkSession, val ownState: Seq[Any])

  /** Reused clones by parent, then by override list (most recent last,
    * at most [[MaxClonesPerParent]] per parent: an override that carries
    * a size, like the shared delta's split bytes, yields a new list per
    * value). Parents are weak keys. Clones are SOFT values: a clone
    * reaches its parent through its session-state builders, so a strong
    * value would keep every parent alive; a soft one lets an abandoned
    * parent and its clones go under memory pressure, while a live
    * parent's clones (touched on every call) stay. */
  private val isolated = new java.util.WeakHashMap[ClassicSparkSession,
    java.util.LinkedHashMap[Seq[(String, String)],
      java.lang.ref.SoftReference[Isolated]]]()
  private val MaxClonesPerParent = 16

  /** What cloneSession copies from a session and a later change to it
    * would make a reused clone differ from a fresh one: the runtime
    * conf, temp views, temporary functions, current catalog and
    * namespace, extra strategies and optimizations, query listeners and
    * job tags. Views, function builders and listeners compare by
    * identity (re-registering one under the same name is a change). */
  private def cloneSource(s: ClassicSparkSession): Seq[Any] = {
    val st = s.sessionState
    val cat = st.catalog
    val cm = st.catalogManager
    Seq(st.conf.getAllConfs,
      cat.getTempViewNames().map(n => (n, cat.getRawTempView(n).orNull)),
      cat.listTemporaryFunctions().map(fn =>
        (fn, st.functionRegistry.lookupFunctionBuilder(fn).orNull)),
      (cm.currentCatalog.name, cm.currentNamespace.toSeq),
      st.experimentalMethods.extraStrategies,
      st.experimentalMethods.extraOptimizations,
      st.listenerManager.listListeners().toSeq,
      s.getTags())
  }

  private def isolatedClone(parent: ClassicSparkSession,
      kv: Seq[(String, String)]): ClassicSparkSession = {
    val parentState = cloneSource(parent)
    val reused = isolated.synchronized {
      Option(isolated.get(parent)).flatMap(m => Option(m.remove(kv)))
        .flatMap(r => Option(r.get))
    }.filter(iso => iso.parentState == parentState &&
      iso.ownState == cloneSource(iso.session))
    val iso = reused match {
      case Some(i) =>
        i.session.sessionState.catalog.invalidateAllCachedTables()
        i
      case None =>
        val c = parent.cloneSession()
        kv.foreach { case (k, v) => c.conf.set(k, v) }
        new Isolated(parentState, c, cloneSource(c))
    }
    isolated.synchronized {
      val m = isolated.computeIfAbsent(parent, _ =>
        new java.util.LinkedHashMap[Seq[(String, String)],
          java.lang.ref.SoftReference[Isolated]]())
      m.put(kv, new java.lang.ref.SoftReference(iso))
      if (m.size > MaxClonesPerParent) m.remove(m.keySet.iterator.next)
    }
    iso.session
  }

  /** Overwrite `path` with `df` as parquet — the command
    * `df.write.mode("overwrite").parquet(path)` plans, run the same way —
    * and return the number of rows written, from the write's own
    * `numOutputRows` metric (-1 if the plan carries none). The caller
    * learns the row count of what it wrote without re-opening the
    * footers. */
  def writeParquet(df: DataFrame, path: String): Long = {
    val s = df.sparkSession.asInstanceOf[ClassicSparkSession]
    val cmd = org.apache.spark.sql.execution.datasources.DataSource(s,
      className = "parquet", options = Map("path" -> path))
      .planForWriting(org.apache.spark.sql.SaveMode.Overwrite,
        queryExecution(df).analyzed)
    val qe = s.sessionState.executePlan(cmd)
    qe.assertCommandExecuted()
    // planned V1 writes run inside AQE, whose nodes (the adaptive plan,
    // its query stages) hide their plans from tree traversal: step in
    def rows(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] =
      p match {
        case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
          w.metrics.get("numOutputRows").map(_.value)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          rows(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          rows(q.plan)
        case other => other.children.view.flatMap(rows).headOption
      }
    qe.commandExecuted.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
        rows(r.commandPhysicalPlan)
    }.flatten.getOrElse(-1L)
  }

  /** Catalyst's own predicate-pushdown rule, applied to a subtree — used
    * to push a filter that was hoisted below a custom marker node down
    * through the finalize Project / merge Aggregate to the scan (the
    * optimizer's built-in batch cannot see through custom nodes). */
  def pushDownPredicates(plan: LogicalPlan): LogicalPlan =
    org.apache.spark.sql.catalyst.optimizer.PushDownPredicates(plan)

  /** Is this plan node a scan leaf the cache rewrite may sit on top of?
    * (file relation, v2 relation, or in-memory rows for tests) */
  def isScanLeaf(p: LogicalPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
    case _ => false
  }
}
