package graft.log

import scala.collection.mutable.ArrayBuffer

/** Per-fingerprint decision log (reference: src/log.rs:10-113).
  *
  * Every accept/bail branch of the caching decision procedure logs here,
  * so users (and tests) can see exactly why a query was or wasn't cached.
  */
sealed trait LogLevel
object LogLevel {
  case object Info extends LogLevel
  case object Warn extends LogLevel
}

trait CacheLog {
  def log(level: LogLevel, fingerprint: String, msg: String): Unit
  /** Every [[CacheEvent]] the cache layer reports; by default its line,
    * if it has one, goes to `log`. */
  def event(e: CacheEvent): Unit =
    e.line.foreach { case (level, msg) => log(level, e.fingerprint, msg) }
}

/** reference: src/log.rs:40-48 (LogNoOp) */
object NoOpLog extends CacheLog {
  override def log(level: LogLevel, fingerprint: String, msg: String): Unit = ()
}

/** Stderr log deduping consecutive fingerprint headers
  * (reference: src/log.rs:50-91, minus the terminal colors). */
final class StderrLog extends CacheLog {
  private var lastFp: String = null
  override def log(level: LogLevel, fingerprint: String, msg: String): Unit =
    synchronized {
      if (fingerprint != lastFp) {
        System.err.println(s"[query-cache] query ${fingerprint.take(12)}:")
        lastFp = fingerprint
      }
      val tag = level match {
        case LogLevel.Info => "info"
        case LogLevel.Warn => "WARN"
      }
      System.err.println(s"  $tag: $msg")
    }
}

/** Captures decisions for assertions in tests (reference history() hook,
  * src/log.rs:33-38): the lines, and the events they came from. */
final class RecordingLog extends CacheLog {
  final case class Entry(level: LogLevel, fingerprint: String, msg: String)
  private val buf = ArrayBuffer.empty[Entry]
  private val evs = ArrayBuffer.empty[CacheEvent]
  override def log(level: LogLevel, fingerprint: String, msg: String): Unit =
    synchronized { buf += Entry(level, fingerprint, msg) }
  override def event(e: CacheEvent): Unit =
    synchronized { evs += e; super.event(e) }
  def history: Seq[Entry] = synchronized(buf.toSeq)
  def messages: Seq[String] = history.map(_.msg)
  def events: Seq[CacheEvent] = synchronized(evs.toSeq)
  def decisions: Seq[CacheEvent.Decision] =
    events.collect { case d: CacheEvent.Decision => d }
  def clear(): Unit = synchronized { buf.clear(); evs.clear() }
}
