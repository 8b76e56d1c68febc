package qcbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.graftshim.Shims

import graft.exec.IncrementalAggExecutor
import graft.log.{CacheLog, LogLevel}

/** Cache log that buffers the entries of the query in flight. */
final class OpLog extends CacheLog {
  private val buf = ArrayBuffer.empty[(LogLevel, String)]
  override def log(level: LogLevel, fingerprint: String, msg: String): Unit =
    synchronized { buf += ((level, msg)) }
  def take(): Seq[(LogLevel, String)] = synchronized {
    val r = buf.toList
    buf.clear()
    r
  }
}

/** What one op did. Times in seconds; cache I/O from the `qcfile`
  * statistics around the cached leg; `service` is hit, probe, miss,
  * bail, fallback or other. */
final case class OpRec(idx: Int, label: String, timed: Boolean, traced: Boolean,
    cachedS: Double, vanillaS: Double, ok: Boolean, service: String,
    deltaRows: Long, cacheBytesRead: Long, cacheBytesWritten: Long,
    cacheWriteOps: Long, rewritten: Boolean, fallbacks: Int, notCached: Int,
    error: Option[String])

/** Runs one op: the cached leg (untraced through `QueryCacheSession.run`,
  * or traced as `rewritePlan` then a collect of the returned plan, which
  * is what `run` does), then the vanilla leg on the same DataFrame, and
  * compares the two answers row for row. */
final class Runner(spark: SparkSession, wl: Workload, tracer: Tracer,
    log: OpLog) {
  private val sc = spark.sparkContext

  def runOp(op: Op, idx: Int, timed: Boolean, traced: Boolean): OpRec = {
    var rewritten = false
    val df = op.query
    log.take() // drop what set-up or an earlier op left behind
    tracer.enabled = traced
    sc.setLocalProperty(Meter.LegKey, s"c$idx")
    val st = wl.cache.stats
    val (h0, m0, b0) = (st.hits, st.misses, st.bails)
    val (r0, w0, o0) = CacheFs.counters()
    val t0 = System.nanoTime()
    val cached =
      try Right(tracer.span("op", idx) {
        if (!traced) op.qcs.run(df).collect()
        else {
          val exec = new IncrementalAggExecutor(op.qcs.config)
          val plan = tracer.span("exec.rewrite", idx)(
            exec.rewritePlan(spark, Shims.queryExecution(df).analyzed))
          rewritten = plan.isDefined
          tracer.span("exec.answer", idx)(
            plan.fold(df)(p => Shims.ofRows(spark, p)).collect())
        }
      })
      catch { case NonFatal(e) => Left(e) }
    val cachedS = (System.nanoTime() - t0) / 1e9
    val (r1, w1, o1) = CacheFs.counters()
    tracer.enabled = false
    val msgs = log.take()
    val service = Runner.classify(msgs.map(_._2), st.hits - h0,
      st.misses - m0, st.bails - b0)

    sc.setLocalProperty(Meter.LegKey, s"v$idx")
    val t1 = System.nanoTime()
    // a fresh Dataset over the same logical plan: a query the cache
    // declined ran `df` itself, and reusing its planned execution would
    // spare the vanilla leg the planning the cached leg paid for
    val vanilla =
      try Right(Shims.ofRows(spark, Shims.queryExecution(df).logical).collect())
      catch { case NonFatal(e) => Left(e) }
    val vanillaS = (System.nanoTime() - t1) / 1e9
    sc.setLocalProperty(Meter.LegKey, null)

    val error = (cached, vanilla) match {
      case (Left(e), _) => Some(s"cached leg failed: $e")
      case (_, Left(e)) => Some(s"vanilla leg failed: $e")
      case (Right(c), Right(v)) =>
        if (Runner.canon(c) == Runner.canon(v)) None
        else Some(s"cached answer (${c.length} rows) differs from " +
          s"vanilla (${v.length} rows)")
    }
    error.foreach(e => System.err.println(s"[qcbench] op $idx FAILED: $e"))
    OpRec(idx, op.label, timed, traced, cachedS, vanillaS, error.isEmpty,
      service, op.deltaRows, r1 - r0, w1 - w0, o1 - o0, rewritten,
      msgs.count(e => e._1 == LogLevel.Warn && e._2.contains("running uncached")),
      msgs.count(_._2.startsWith("not caching")), error)
  }
}

object Runner {
  private val ProbeHit = """^([a-z]+)( \(rows\))? hit: replaying""".r

  def classify(msgs: Seq[String], hits: Long, misses: Long,
      bails: Long): String =
    if (bails > 0 || msgs.exists(_.startsWith("not caching"))) "bail"
    else if (msgs.exists(m => ProbeHit.findFirstMatchIn(m)
        .exists(_.group(1) != "cache"))) "probe"
    else if (hits > 0) "hit"
    else if (misses > 0) "miss"
    else if (msgs.exists(_.contains("running uncached"))) "fallback"
    else "other"

  /** Order-free canonical form of an answer. Measures are exact (counts,
    * decimal sums, min/max), so values compare as strings. */
  def canon(rows: Array[Row]): Vector[String] =
    rows.map(_.toSeq.map {
      case null => "NULL"
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case v => v.toString
    }.mkString("|")).sorted.toVector
}
