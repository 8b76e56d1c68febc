package graft.log

import org.apache.spark.SparkContext

/** One fact the cache layer reports. The executor and the caches report
  * only through these events: the decision log, `cache.stats` and the
  * phase timings are views over them.
  *
  * An event reaches the config's [[CacheLog]] (its `event`, whose default
  * writes the event's `line`, if it has one, through `log`) and the
  * SparkContext's listener bus, where a `SparkListener` sees it next to
  * the jobs it explains (`graft.tools.Profile` reads it there). The
  * Spark jobs a rewrite launches carry the `graft.layer` job property
  * of the layer that launched them ([[CacheEvent.inLayer]]). */
sealed trait CacheEvent {
  def fingerprint: String
  /** the decision-log line this event renders as, if any */
  def line: Option[(LogLevel, String)] = None
}

object CacheEvent {
  sealed trait Outcome
  object Outcome {
    case object Hit extends Outcome
    case object Miss extends Outcome
    case object Bail extends Outcome
    case object Fallback extends Outcome
  }

  /** How one top-level `rewritePlan` ended: exactly one per call, nested
    * twin rewrites included. `reason` is a stable code:
    *  - a hit's or a miss's state: `direct`, `probe` (an aggregate twin;
    *    `probePath` names the steps), `rows` (a materialized row view;
    *    `probePath` names its refilter/reproject steps), `factorized`
    *    (two per-side twins; a hit when both hit), `cold`;
    *  - a bail's class: `no-aggregate`, `nested-aggregates`, `subquery`,
    *    `temporal-groups`, `nondeterministic`, `unstable-filter`,
    *    `dynamic-bound`, `now-filter`, `join`, `union`, `input-shape`,
    *    `temporal-column`, `not-mergeable`;
    *  - a fallback's: `error`, `too-large`.
    * `detail` is the bail's or the fallback's message. */
  final case class Decision(fingerprint: String, outcome: Outcome,
      reason: String, probePath: Seq[String] = Nil, detail: String = "")
      extends CacheEvent

  /** `ms` of wall clock spent in the step `name` */
  final case class Phase(fingerprint: String, name: String, ms: Double)
      extends CacheEvent

  /** A state write: `kind` is `put`, `append` or `band`; `path` is
    * `driver` (collected and written as one file) or `distributed`.
    * A declined one names its `declined` code and renders `detail` as a
    * warning; the write that replaces it reports its own Commit. A
    * declined driver collect (`collect-over-bound`, `collect-aborted`)
    * has `path` `driver`, a chain commit onto a head that moved
    * (`head-moved`) has `path` `-`. */
  final case class Commit(fingerprint: String, kind: String, path: String,
      declined: Option[String] = None, detail: String = "")
      extends CacheEvent {
    override def line: Option[(LogLevel, String)] =
      declined.map(_ => (LogLevel.Warn, detail))
  }

  /** A step of the decision procedure, told as one log line */
  final case class Note(level: LogLevel, fingerprint: String, msg: String)
      extends CacheEvent {
    override def line: Option[(LogLevel, String)] = Some((level, msg))
  }

  private val sink = new ThreadLocal[CacheEvent => Unit]

  /** `f`, with what [[report]] is given on this thread going to `to` */
  def reporting[A](to: CacheEvent => Unit)(f: => A): A = {
    val prev = sink.get
    sink.set(to)
    try f finally sink.set(prev)
  }

  /** `e` to the sink of the rewrite running on this thread (none outside
    * one: a cache used directly reports nothing) */
  def report(e: CacheEvent): Unit = sink.get match {
    case null => ()
    case to => to(e)
  }

  /** `f`, reported as the [[Phase]] `name` */
  def phase[A](fingerprint: String, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally report(Phase(fingerprint, name, (System.nanoTime() - t0) / 1e6))
  }

  /** the job property naming the layer that launched a Spark job */
  val LayerKey = "graft.layer"

  /** `f`, with the Spark jobs it launches on this thread tagged as
    * `layer`'s; the previous tag comes back after */
  def inLayer[A](sc: SparkContext, layer: String)(f: => A): A = {
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    try f finally sc.setLocalProperty(LayerKey, prev)
  }
}
