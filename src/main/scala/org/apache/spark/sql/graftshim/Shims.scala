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

  /** On-disk bytes the physical plan of `df` scans: each file scan's
    * files after partition pruning, summed over every leaf (subqueries
    * too). None when some leaf's size is unknown — an in-memory
    * (persisted) relation, an RDD or range, a v2 scan. Plans `df` in its
    * own session; a later [[collectWithin]] runs that same plan. */
  def scanBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution._
    def bytes(p: SparkPlan): Option[Long] = p match {
      case a: adaptive.AdaptiveSparkPlanExec => bytes(a.executedPlan)
      case q: adaptive.QueryStageExec => bytes(q.plan)
      case s: FileSourceScanExec => Some(s.selectedPartitions.totalFileSize)
      case l: LocalTableScanExec =>
        Some(l.rows.size.toLong * (8L + l.output.map(_.dataType.defaultSize).sum))
      // the reused exchange's own scan is counted where it first appears
      case _: exchange.ReusedExchangeExec => Some(0L)
      case leaf if leaf.children.isEmpty => None
      case other =>
        (other.children ++ other.subqueries).foldLeft(Option(0L)) {
          (acc, c) => for (a <- acc; b <- bytes(c)) yield a + b
        }
    }
    bytes(queryExecution(df).executedPlan)
  }

  /** Run `dfs` as ONE job in one SQL execution (the first frame's), the
    * way `Dataset.collect` runs one frame, and return each frame's
    * internal rows — or None once they pass `maxBytes` together (each
    * `UnsafeRow`'s bytes plus 4 for its length). The job runs over the
    * frames' partitions side by side, each frame under its own physical
    * plan, so a frame generates the same code whether it is collected
    * alone or with others. The bound is kept where the rows are made: a
    * task stops copying its partition past it and returns nothing, and
    * the driver drops what it holds as soon as the sum passes it, so the
    * driver never holds more than about twice `maxBytes`, whatever
    * `spark.driver.maxResultSize` says. */
  def collectWithin(dfs: Seq[DataFrame], maxBytes: Long)
      : Option[Seq[Array[org.apache.spark.sql.catalyst.InternalRow]]] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeRow
    val qes = dfs.map(queryExecution)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qes.head,
        Some("collect")) {
      val rdds = qes.map(_.executedPlan.execute())
      // partition i of the job belongs to frame `owner(i)`
      val owner = rdds.zipWithIndex.flatMap { case (r, f) =>
        Seq.fill(r.getNumPartitions)(f) }
      val numFields = qes.map(_.executedPlan.output.length)
      val rows = new org.apache.spark.rdd.UnionRDD(rdds.head.sparkContext, rdds)
      val parts = new Array[(Int, Array[Byte])](rows.getNumPartitions)
      var held = 0L
      var over = false
      rows.sparkContext.runJob(rows,
        // a partition as (row count, length-prefixed row bytes), or None
        // when it alone passes the bound
        (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          val bytes = new java.io.ByteArrayOutputStream()
          val out = new java.io.DataOutputStream(bytes)
          val buf = new Array[Byte](4096)
          var n = 0
          while (it.hasNext && bytes.size <= maxBytes) {
            val r = it.next().asInstanceOf[UnsafeRow]
            out.writeInt(r.getSizeInBytes)
            r.writeToStream(out, buf)
            n += 1
          }
          out.flush()
          if (bytes.size > maxBytes) None else Some((n, bytes.toByteArray))
        },
        (i: Int, part: Option[(Int, Array[Byte])]) => part match {
          case Some(p @ (_, b)) if !over && held + b.length <= maxBytes =>
            held += b.length
            parts(i) = p
          case _ =>
            over = true
            parts.indices.foreach(parts(_) = null)
        })
      if (over) None
      else Some(qes.indices.map { f =>
        parts.indices.filter(owner(_) == f).toArray.flatMap { i =>
          val (n, b) = parts(i)
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(b))
          Array.fill[org.apache.spark.sql.catalyst.InternalRow](n) {
            val row = new Array[Byte](in.readInt())
            in.readFully(row)
            val u = new UnsafeRow(numFields(f))
            u.pointTo(row, row.length)
            u
          }
        }
      })
    }
  }

  /** A grouped aggregate evaluated on the driver over rows in hand:
    * `rows` of `input`'s columns grouped by `grouping`, each group folded
    * by Catalyst's own aggregation operator (`SortBasedAggregationIterator`,
    * what Spark runs for every aggregate function, typed imperative ones
    * included). Built once from the optimized plan of the aggregate, the
    * way Spark's planner extracts it (`PhysicalAggregation`), with group
    * keys normalized the way the planner normalizes them
    * (`NormalizeFloatingNumbers`: -0.0 and 0.0 are one key, and so is
    * every NaN). Equal keys are brought together by their binary form,
    * which is how a hash aggregate compares them. */
  final class DriverAggregate private[graftshim] (
      input: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      grouping: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      aggregates: Seq[org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression],
      results: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]) {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{MutableProjection,
      UnsafeProjection, UnsafeRow}

    /** the rows' schema: the aggregate's output */
    val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.catalyst.types.DataTypeUtils
        .fromAttributes(results.map(_.toAttribute))

    /** one output row per group of `folded` ∪ `rows`, copied out of the
      * operator. `folded` are rows this aggregate output before, at most
      * one per group, for an aggregate whose output has its input's
      * columns and returns such a row unchanged when it is a group's only
      * row (a merge of partial state): a group no row of `rows` joins is
      * passed through without folding it again. */
    def apply(folded: Seq[InternalRow],
        rows: Iterator[InternalRow]): Array[InternalRow] = {
      val key = UnsafeProjection.create(grouping, input)
      // in the order they came: rows keep their order on disk
      val passed = new java.util.LinkedHashMap[UnsafeRow, InternalRow]()
      folded.foreach(r => passed.put(key(r).copy(), r))
      val groups = new java.util.LinkedHashMap[UnsafeRow,
        scala.collection.mutable.ArrayBuffer[InternalRow]]()
      rows.foreach { r =>
        val k = key(r)
        val g = groups.get(k)
        if (g != null) g += r
        else {
          val kept = k.copy()
          groups.put(kept, Option(passed.remove(kept)).fold(
            scala.collection.mutable.ArrayBuffer(r))(
            scala.collection.mutable.ArrayBuffer(_, r)))
        }
      }
      import scala.jdk.CollectionConverters._
      val it = new org.apache.spark.sql.execution.aggregate
        .SortBasedAggregationIterator(0, grouping, input,
          groups.values.iterator.asScala.flatMap(_.iterator), aggregates,
          aggregates.map(_.resultAttribute), 0, results,
          (es, as) => MutableProjection.create(es, as),
          new org.apache.spark.sql.execution.metric.SQLMetric("sum", 0L))
      val out = passed.values.asScala.toArray
      if (groups.isEmpty && out.isEmpty && grouping.isEmpty)
        Array(it.outputForEmptyGroupingKeyWithoutInput().copy())
      else out ++ it.map(_.copy(): InternalRow)
    }
  }

  /** `input`-shaped rows grouped by `grouping` and aggregated by `aggs`,
    * evaluated on the driver ([[DriverAggregate]]); Left(reason) for an
    * aggregate it does not evaluate: a DISTINCT or FILTER aggregate, a
    * non-deterministic expression, a group key whose equal values differ
    * in their binary form, a session window key, or a plan the optimizer
    * reshaped. */
  def driverAggregate(spark: SparkSession,
      input: org.apache.spark.sql.types.StructType, grouping: Seq[Column],
      aggs: Seq[Column]): Either[String, DriverAggregate] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
    // two all-null rows: an empty or one-row input would let the optimizer
    // fold the aggregate away
    val rel = LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
        input.asNullable),
      Seq.fill(2)(InternalRow.fromSeq(Seq.fill(input.length)(null))))
    val plan = try queryExecution(ofRows(spark, rel)
        .groupBy(grouping: _*).agg(aggs.head, aggs.tail: _*)).optimizedPlan
      catch { case scala.util.control.NonFatal(e) => return Left(e.toString) }
    val (keys, aggregates, results) = plan match {
      case a: Aggregate if a.child.isInstanceOf[LocalRelation] &&
          a.child.output == rel.output =>
        org.apache.spark.sql.catalyst.planning.PhysicalAggregation.unapply(a)
          .map(p => (p._1, p._2, p._3))
          .getOrElse(return Left("not a physical aggregation"))
      case other => return Left(s"the optimizer reshaped the aggregate: " +
        other.getClass.getSimpleName)
    }
    if (aggregates.exists(a => a.isDistinct || a.filter.isDefined))
      return Left("a DISTINCT or FILTER aggregate")
    if (!(keys ++ aggregates ++ results).forall(_.deterministic))
      return Left("a non-deterministic expression")
    if (!keys.forall(k => org.apache.spark.sql.catalyst.util.UnsafeRowUtils
        .isBinaryStable(k.dataType)))
      return Left("a group key whose equal values differ in bytes")
    // the planner merges overlapping sessions (MergingSessionsExec), not
    // equal keys
    if (keys.exists(_.metadata.contains(
        org.apache.spark.sql.catalyst.expressions.SessionWindow.marker)))
      return Left("a session window key")
    // the planner's normalization (SparkStrategies.Aggregation)
    val normalized = keys.map { k =>
      org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
        .normalize(k) match {
        case n: NamedExpression => n
        case e => Alias(e, k.name)(exprId = k.exprId)
      }
    }
    Right(new DriverAggregate(rel.output, normalized, aggregates, results))
  }

  /** Write internal rows of `schema` as ONE parquet file into the new
    * directory `dir`, then an empty `_SUCCESS`: Spark's own parquet
    * writer (`ParquetFileFormat.prepareWrite`), run on the driver. The
    * writer takes its parquet settings (timestamp type, compression) from
    * `spark`'s conf; columns are written nullable, as Spark's file writes
    * write them. */
  def writeParquetFile(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType, dir: String): Unit = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    val s = spark.asInstanceOf[ClassicSparkSession]
    s.withActive {
      val job = Job.getInstance(s.sessionState.newHadoopConf())
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[org.apache.spark.sql.catalyst.InternalRow])
      val dataSchema = schema.asNullable
      val factory = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetFileFormat().prepareWrite(s, job, Map.empty, dataSchema)
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        job.getConfiguration, new TaskAttemptID(
          new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
      val file = new org.apache.hadoop.fs.Path(dir,
        s"part-00000-${java.util.UUID.randomUUID}-c000" +
          factory.getFileExtension(ctx))
      val w = factory.newInstance(file.toString, dataSchema, ctx)
      try rows.foreach(w.write) finally w.close()
      val success = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
      success.getFileSystem(job.getConfiguration).create(success, true).close()
    }
  }

  /** `rows` (internal rows of `schema`) as a DataFrame over a
    * `LocalRelation`: answered on the driver wherever the plan above it
    * folds onto it. Its columns are nullable, as a parquet read of the
    * same rows would make them. */
  def localRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
        schema.asNullable), rows))

  /** Catalyst's own predicate-pushdown rule, applied to a subtree — used
    * to push a filter that was hoisted below a custom marker node down
    * through the finalize Project / merge Aggregate to the scan (the
    * optimizer's built-in batch cannot see through custom nodes). */
  def pushDownPredicates(plan: LogicalPlan): LogicalPlan =
    org.apache.spark.sql.catalyst.optimizer.PushDownPredicates(plan)

  /** `e` on the SparkContext's listener bus, where a `SparkListener`
    * receives it as a [[CacheEventPosted]] in `onOtherEvent` */
  def postEvent(spark: SparkSession, e: graft.log.CacheEvent): Unit =
    spark.sparkContext.listenerBus.post(CacheEventPosted(e))

  /** blocks until every event posted so far reached the listeners */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Is this plan node a scan leaf the cache rewrite may sit on top of?
    * (file relation, v2 relation, or in-memory rows for tests) */
  def isScanLeaf(p: LogicalPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
    case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
    case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
    case _ => false
  }
}

/** A cache event on the listener bus; never written to the event log. */
final case class CacheEventPosted(event: graft.log.CacheEvent)
    extends org.apache.spark.scheduler.SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}
