package graft.cache

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, StructType}

import graft.log.CacheEvent
import graft.log.CacheEvent.{Commit, Decision, Outcome}
import graft.util.VersionedDir

/** Cache SPI (reference: src/cache.rs:10-56).
  *
  * A cache entry stores the **merged partial-aggregate state** for one
  * plan fingerprint, stamped with the query start time that produced it
  * (the next run's watermark). The reference's Occupied/Vacant ADT
  * (src/cache.rs:15-50) collapses to Option[CachedState] here; `put`
  * overwrites unconditionally (src/cache.rs:109-114) so the entry always
  * converges to a single state covering all data seen so far.
  *
  * Scale note: state is exchanged as a DataFrame, not rows, so a durable
  * implementation can read/write it fully distributed — the driver never
  * has to hold large state (one row per group) in memory unless the
  * in-memory impl is chosen.
  */
final case class CachedState(
    timestampMicros: Long,
    schema: StructType,
    read: SparkSession => DataFrame,
    /** the committed head this state was read from: a chain commit
      * extends exactly that head. None where the cache keeps no heads. */
    head: Option[HeadToken] = None) {
  /** this state's rows as `f` reshapes them, under the given watermark
    * and schema (read from the same head) */
  def mapRows(f: DataFrame => DataFrame, timestampMicros: Long = timestampMicros,
      schema: StructType = schema): CachedState =
    CachedState(timestampMicros, schema, s => f(read(s)), head)
}

/** Which committed head of an entry a state was read from: the entry's
  * key and the head meta's data directories. Directory names carry a
  * per-writer UUID, so no other commit names the same list, even at the
  * same version. Opaque outside the cache that issued it. */
final case class HeadToken(key: String, dataDirs: Seq[String])

/** How an append commit merges its base state and a delta into
  * answer-ready state. `frame` merges a chain's scan (several partial
  * rows per group) into one row per group; identity for row views.
  * `fold`, where the merge runs on the driver, folds partial rows into
  * merged rows in hand: `fold(merged, partials)` passes a merged row no
  * partial joins through unchanged and returns None for rows it cannot
  * evaluate. It is evaluated only when a commit gets that far. */
final class StateMerge(val frame: DataFrame => DataFrame,
    driverFold: => Option[(Seq[InternalRow], Seq[InternalRow]) =>
      Option[Array[InternalRow]]] = None) {
  lazy val fold = driverFold
}

object StateMerge {
  /** row state: a chain's segments partition the result */
  val identity = new StateMerge(df => df)
}

/** Thrown by bounded caches when the state is too large to store; the
  * executor treats it as "don't cache" and falls back to vanilla. */
final class CacheCapacityExceeded(msg: String) extends RuntimeException(msg)

/** One declared historical rewrite pending against a cache entry: rows of
  * the entry's source table(s) with event time in `[loMicros, hiMicros)`
  * were REWRITTEN in place (backfill / correction / INSERT OVERWRITE of a
  * partition). `token` identifies the declaration so the consuming run
  * clears exactly the ranges it applied — a repair declared DURING a warm
  * run survives for the next one. */
final case class RepairRange(loMicros: Long, hiMicros: Long, token: String)

trait QueryCache {
  /** reference: src/cache.rs:11-13 (entry lookup by fingerprint) */
  def get(fingerprint: String): Option[CachedState]

  /** Live hit/miss/bail counters — the programmatic face of what the
    * EXPLAIN marker (plans/CacheReplay) shows per query and what the
    * reference surfaces through EXPLAIN ANALYZE metrics
    * (src/aggregate.rs:583-585,626-633). One instance per cache handle;
    * thread-safe; monotonically increasing. */
  val stats: CacheStats = new CacheStats

  /** Store state, stamped with `timestampMicros`; returns a re-readable
    * DataFrame of exactly what was stored (the replay the reference's
    * CachedAggregateExec does at src/aggregate.rs:680-688). */
  def put(fingerprint: String, timestampMicros: Long, state: DataFrame): DataFrame

  /** APPEND `delta` to the head `base` was read from instead of
    * rewriting the entry — the O(append) path for chained entries.
    * ROW-state entries (materialized filter queries) append their delta
    * rows: the warm merge is a pure union and rewriting a large view per
    * run is O(result). AGGREGATE entries append this run's group-grained
    * delta PARTIALS, and `merge` folds the chain into answer-ready state;
    * the whitelisted merges are associative over partials, so a chain of
    * partial segments replays identically to the merged state.
    *
    * A chain commit extends exactly the head its run read: the delta was
    * scanned from that head's watermark and double-counts on any other.
    * Returns the answer-ready state when the cache supports appends AND
    * `base`'s head is still the entry's head; None → the caller's full
    * put of base ∪ delta (self-consistent whatever the head, and it
    * compacts). Default: unsupported. */
  def putAppend(fingerprint: String, timestampMicros: Long,
      base: CachedState, delta: DataFrame,
      /** decline (→ caller's full put compacts) when the delta holds at
        * least this fraction of the resulting chain's rows — for
        * AGGREGATE state chains, where every segment repeats its groups
        * and a large delta would multiply answer-time state reads for no
        * write saving. Row-grain views pass None: their segments
        * partition the result, so segmentation never re-reads a row. */
      compactIfDeltaFraction: Option[Double] = None,
      merge: StateMerge = StateMerge.identity): Option[DataFrame] = None

  /** Segment-grain BANDED refresh for state chains: a late re-scan band
    * re-reads [floor, now) from the source and must REPLACE the state's
    * rows at/after `floorMicros` — a full put would rewrite the whole
    * state, O(result) per warm run. A chain-aware cache instead keeps
    * every segment wholly below the floor verbatim, re-filters only the
    * STRADDLING segments to `temporalCol < floor OR IS NULL`, commits
    * them with `bandDelta` (the caller's source re-scan from the floor)
    * atomically — O(band + recent appends) written bytes, not O(state).
    * Same head rule as [[putAppend]]. Returns the new chain through
    * `merge`; None → the caller falls back to a full put (which also
    * compacts). Default: unsupported. */
  private[graft] def refreshBand(fingerprint: String, timestampMicros: Long,
      base: CachedState, temporalCol: String, floorMicros: Long,
      bandDelta: DataFrame,
      merge: DataFrame => DataFrame = identity): Option[DataFrame] = None

  def invalidate(fingerprint: String): Unit

  /** One row per LIVE entry — the operator's view of a running cache
    * (what is warm, how big, how stale, what repairs are pending).
    * Columns: `fingerprint`, `key_hash`, `watermark_micros` +
    * `watermark` (timestamp), `source_paths`, `pending_repairs`,
    * `state_rows`, `state_bytes`, `segments` (append-chain length),
    * `version` (-1 where the implementation doesn't track the field —
    * the memory cache has no bytes/versions; the durable cache reads
    * metas and file statuses, never state rows, so rows report -1).
    * Driver-side listing work only; safe to call on a live cache. */
  def describe(spark: SparkSession): DataFrame

  /** shared row/schema builder for [[describe]] implementations */
  protected final def describeRows(spark: SparkSession,
      rows: Seq[(String, String, Long, Seq[String], Int, Long, Long, Int,
        Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import spark.implicits._
    rows.toDF("fingerprint", "key_hash", "watermark_micros",
        "source_paths", "pending_repairs", "state_rows", "state_bytes",
        "segments", "version")
      .withColumn("watermark", timestamp_micros(col("watermark_micros")))
  }

  // ------------------------------------------------- source-path remedy

  /** fingerprint → source table paths of the entry's plan, recorded by
    * the executor at put time (it already derives them for the
    * fingerprint). Process-local; [[ParquetQueryCache]] additionally
    * persists the paths in its meta so the remedy survives restarts. */
  private val sourceIndex =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  private[graft] def recordSourcePaths(fingerprint: String,
      paths: Seq[String]): Unit =
    if (paths.nonEmpty) { sourceIndex.put(fingerprint, paths.toSet); () }

  private[graft] def recordedSourcePaths(fingerprint: String): Set[String] =
    Option(sourceIndex.get(fingerprint)).getOrElse(Set.empty)

  /** Forget the recorded paths (and measure-index row) of a dropped
    * entry. Implementations MUST call this from every path that removes
    * an entry (invalidate, LRU eviction, TTL expiry) — otherwise the
    * indexes outlive the entries and grow with every fingerprint a long
    * session ever cached. */
  protected final def dropSourcePaths(fingerprint: String): Unit = {
    sourceIndex.remove(fingerprint)
    repairIndex.remove(fingerprint)
    Option(fpToBase.remove(fingerprint)).foreach { base =>
      val m = baseIndex.get(base)
      if (m != null) {
        m.remove(fingerprint)
        if (m.isEmpty) { baseIndex.remove(base, m); () }
      }
    }
  }

  // ------------------------------------------- measure-subsumption index

  /** base fingerprint (plan + grouping, measures erased) → entries
    * sharing it, each carrying its measure descriptors: single-measure
    * twin fingerprint → that measure's state column names in the stored
    * schema. Recorded by the executor just before put. Process-local;
    * [[ParquetQueryCache]] additionally persists the rows in its meta so
    * measure subsumption survives restarts. */
  private val baseIndex = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[
      String, Seq[(String, Seq[String])]]]()
  private val fpToBase =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def recordMeasures(fingerprint: String, baseFp: String,
      measures: Seq[(String, Seq[String])]): Unit = {
    fpToBase.put(fingerprint, baseFp)
    baseIndex.computeIfAbsent(baseFp,
      _ => new java.util.concurrent.ConcurrentHashMap())
      .put(fingerprint, measures)
    ()
  }

  private[graft] def recordedMeasures(
      fingerprint: String): Option[(String, Seq[(String, Seq[String])])] =
    Option(fpToBase.get(fingerprint)).flatMap { base =>
      Option(baseIndex.get(base)).flatMap(m => Option(m.get(fingerprint)))
        .map((base, _))
    }

  /** entries recorded under `baseFp`: (fingerprint, measure descriptors) */
  private[graft] def entriesForBase(
      baseFp: String): Seq[(String, Seq[(String, Seq[String])])] =
    Option(baseIndex.get(baseFp)).map { m =>
      import scala.jdk.CollectionConverters._
      m.asScala.toSeq
    }.getOrElse(Seq.empty)

  /** Invalidate every entry whose source tables include `table` — the
    * one-call remedy after updating a table declared in
    * `staticDimensionTables` (whose contract makes cached answers stale
    * until invalidation). Matching mirrors the declaration rules: `table`
    * matches a recorded source path, its basename, or its extension-less
    * basename, case-insensitively — and inherits the same caveat: a bare
    * name like "customer" hits EVERY entry reading any path with that
    * basename. Returns the number of entries invalidated. */
  def invalidateForTable(table: String): Int = {
    var n = 0
    sourceIndex.forEach { (fp, paths) =>
      if (paths.exists(p => QueryCache.pathMatches(table, p))) {
        invalidate(fp)
        sourceIndex.remove(fp)
        n += 1
      }
    }
    n
  }

  // ------------------------------------------------- repair-range remedy

  /** fingerprint → repair ranges not yet consumed by a warm run.
    * Process-local; [[ParquetQueryCache]] additionally persists each
    * range as an atomic sidecar file in the entry's directory so the
    * remedy reaches entries written by other processes and survives
    * restarts. */
  private val repairIndex = new java.util.concurrent.ConcurrentHashMap[
    String, Vector[RepairRange]]()

  /** Declare that rows of `table` with event time in `[loMicros,
    * hiMicros)` were REWRITTEN in place (a backfill / correction /
    * INSERT OVERWRITE of a partition). Unlike [[invalidateForTable]] —
    * which drops matching entries whole and forces a full history
    * re-scan — every matching entry keeps its state and gets a PENDING
    * REPAIR RANGE: its next warm run drops only the state buckets
    * intersecting the range, re-scans just that window from the source
    * (both ends pushed to parquet), and commits the repaired state.
    * Shapes without a droppable bucket key rebuild loudly instead —
    * still automatic, still correct, the cost invalidateForTable always
    * paid. Until a run consumes the range the entry answers only its own
    * exact-fingerprint query (which applies the repair in-flight);
    * subsumption probes treat it as absent, so no other query can replay
    * the stale rows. Table matching follows [[invalidateForTable]]'s
    * rules (full path / basename / extension-less basename,
    * case-insensitive). Returns the number of entries marked. */
  def repairRange(table: String, loMicros: Long, hiMicros: Long): Int = {
    require(loMicros < hiMicros, s"empty repair range [$loMicros, $hiMicros)")
    var n = 0
    sourceIndex.forEach { (fp, paths) =>
      if (paths.exists(p => QueryCache.pathMatches(table, p))) {
        addRepair(fp, RepairRange(loMicros, hiMicros,
          java.util.UUID.randomUUID.toString.take(12)))
        n += 1
      }
    }
    n
  }

  protected final def addRepair(fingerprint: String, r: RepairRange): Unit = {
    repairIndex.merge(fingerprint, Vector(r), (a, b) => a ++ b)
    ()
  }

  /** repair ranges declared against `fingerprint` and not yet consumed */
  private[graft] def pendingRepairs(fingerprint: String): Seq[RepairRange] =
    Option(repairIndex.get(fingerprint)).getOrElse(Vector.empty)

  /** forget consumed ranges (by token) after the run that applied them —
    * token-scoped so a repair declared mid-run is never lost */
  private[graft] def clearRepairs(fingerprint: String,
      tokens: Seq[String]): Unit =
    if (tokens.nonEmpty) {
      val ts = tokens.toSet
      repairIndex.computeIfPresent(fingerprint, (_, v) => {
        val rest = v.filterNot(r => ts.contains(r.token))
        if (rest.isEmpty) null else rest
      })
      ()
    }
}

/** Monotone counters for one cache handle: `hits`/`misses`/`bails`
  * count the outcomes of top-level rewrites, one [[CacheEvent.Decision]]
  * each (a hit replays stored state, a miss captures it, a bail ran
  * vanilla — the decision log says WHY); `invalidations` counts dropped
  * entries. */
final class CacheStats {
  private val h = new java.util.concurrent.atomic.AtomicLong
  private val m = new java.util.concurrent.atomic.AtomicLong
  private val b = new java.util.concurrent.atomic.AtomicLong
  private val inv = new java.util.concurrent.atomic.AtomicLong
  private val ev = new java.util.concurrent.atomic.AtomicLong
  private[graft] def record(e: CacheEvent): Unit = e match {
    case d: Decision => d.outcome match {
      case Outcome.Hit => h.incrementAndGet()
      case Outcome.Miss => m.incrementAndGet()
      case Outcome.Bail => b.incrementAndGet()
      case Outcome.Fallback => ()
    }
    case _ => ()
  }
  private[graft] def recordInvalidation(): Unit = { inv.incrementAndGet(); () }
  private[graft] def recordEviction(): Unit = { ev.incrementAndGet(); () }
  def hits: Long = h.get
  def misses: Long = m.get
  def bails: Long = b.get
  def invalidations: Long = inv.get
  /** entries dropped by a capacity/TTL sweep (not user invalidation) */
  def evictions: Long = ev.get
  override def toString: String =
    s"CacheStats(hits=$hits, misses=$misses, bails=$bails, " +
      s"invalidations=$invalidations, evictions=$evictions)"
}

object QueryCache {
  /** Stable directory/file key for a fingerprint. */
  def keyHash(fingerprint: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(fingerprint.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(32)

  /** does the user-supplied `table` designate source path `p`? Same rules
    * as QueryCacheConfig.isDeclaredStatic: full path, basename, or
    * extension-less basename, case-insensitive. Recorded plan paths carry
    * a URI scheme (file:/…, hdfs://…) the user's path usually omits —
    * compare the full path scheme-blind. */
  private[graft] def pathMatches(table: String, p: String): Boolean = {
    // scheme- AND authority-blind path component: "hdfs://nn:8020/w/x"
    // must match a user's "/w/x" (keeping the authority as a fake path
    // segment would make the documented full-path disambiguation remedy
    // unmatchable for any authority-bearing URI)
    def deScheme(x: String): String =
      try {
        val u = new java.net.URI(x)
        if (u.getScheme != null && u.getPath != null && u.getPath.nonEmpty)
          u.getPath
        else x
      } catch { case _: Exception => x }
    graft.QueryCacheConfig.pathCandidates(p)
      .exists(_.equalsIgnoreCase(table)) ||
      deScheme(p).equalsIgnoreCase(deScheme(table))
  }
}

/** In-memory cache (reference MemoryQueryCache, src/cache.rs:52-136).
  *
  * Collects the state to the driver — appropriate for interactive use
  * where state is a handful of rows per group (date_trunc buckets).
  * `maxStateRows` guards against high-cardinality group keys: beyond it
  * the put throws [[CacheCapacityExceeded]] and the query simply runs
  * uncached. Durable/distributed state belongs in [[ParquetQueryCache]].
  *
  * Session lifetime bounds (the reference's HashMap grows forever,
  * src/cache.rs:54): at most `maxEntries` distinct fingerprints are
  * retained, evicting the least-recently-USED entry beyond that — an
  * evicted query just re-runs cold on its next appearance. `ttlMs > 0`
  * additionally expires entries not written for that long (get treats
  * them as a miss and drops them), so a long-lived session's memory is
  * bounded by live queries, not by everything ever cached.
  */
final class MemoryQueryCache(maxStateRows: Long = 4000000L,
    maxEntries: Int = 256,
    ttlMs: Long = 0L) extends QueryCache {
  private final case class Entry(timestampMicros: Long, schema: StructType,
      rows: Array[Row], storedAtMs: Long)

  // access-ordered LRU; all access synchronized on the map itself
  private val entries = new java.util.LinkedHashMap[String, Entry](
      16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean = {
      val evict = this.size() > math.max(1, maxEntries)
      if (evict) dropSourcePaths(e.getKey) // index follows the entry out
      evict
    }
  }

  private def expired(e: Entry): Boolean =
    ttlMs > 0 && System.currentTimeMillis() - e.storedAtMs > ttlMs

  // The replay closure is built OUTSIDE the critical section on an
  // immutable Entry snapshot — a concurrent invalidate+put can hand a
  // replay of the just-evicted state to a run that then stores a merged
  // state stamped with the new now. That is a benign lost update (the
  // next run re-merges from the newer entry), accepted in exchange for
  // never holding the map lock across DataFrame construction.
  override def get(fingerprint: String): Option[CachedState] =
    entries.synchronized {
      Option(entries.get(fingerprint)) match {
        case Some(e) if expired(e) =>
          entries.remove(fingerprint)
          dropSourcePaths(fingerprint)
          None
        case other => other
      }
    }.map { e =>
      CachedState(e.timestampMicros, e.schema,
        spark => spark.createDataFrame(e.rows.toSeq.asJava, e.schema))
    }

  override def put(fingerprint: String, timestampMicros: Long,
      state: DataFrame): DataFrame = {
    // ONE plain collect: every limit-based cap was MEASURED slower on
    // the paths that matter — a separate limit-probe ran executeTake's
    // sequential partition waves on small states (r2), and capping this
    // collect itself with limit(max+1) doubled the cold put at sf0.1
    // even with limit.initialNumPartitions raised (r3 A/B). The
    // row/element checks below keep CacheCapacityExceeded semantics
    // (vanilla fallback) for states that FIT through the driver;
    // the byte-level guard against a runaway group-by cardinality is
    // Spark's own spark.driver.maxResultSize (default 1g) — keep it set
    // on sessions that cache; its abort also falls back to vanilla.
    val rows = CacheEvent.phase(fingerprint, "put.collect")(state.collect())
    if (rows.length > maxStateRows)
      throw new CacheCapacityExceeded(
        s"state exceeds maxStateRows=$maxStateRows")
    // set-valued state (collect_set / exact count-distinct) packs the
    // whole value set into ONE row per group — bound total elements too
    val arrayIdx = state.schema.fields.zipWithIndex
      .collect { case (f, i) if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => i }
    if (arrayIdx.nonEmpty) {
      var total = 0L
      rows.foreach { r =>
        arrayIdx.foreach(i => if (!r.isNullAt(i)) total += r.getSeq[Any](i).length)
      }
      if (total > maxStateRows)
        throw new CacheCapacityExceeded(
          s"set-state holds $total elements > maxStateRows=$maxStateRows")
    }
    entries.synchronized {
      entries.put(fingerprint,
        Entry(timestampMicros, state.schema, rows, System.currentTimeMillis()))
    }
    CacheEvent.report(Commit(fingerprint, "put", "driver"))
    state.sparkSession.createDataFrame(rows.toSeq.asJava, state.schema)
  }

  override def invalidate(fingerprint: String): Unit = {
    entries.synchronized { entries.remove(fingerprint); () }
    dropSourcePaths(fingerprint)
    stats.recordInvalidation()
  }

  def size: Int = entries.synchronized(entries.size)

  override def describe(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    val snap = entries.synchronized {
      entries.entrySet().asScala
        .map(e => (e.getKey, e.getValue.timestampMicros,
          e.getValue.rows.length.toLong))
        .toSeq
    }
    describeRows(spark, snap.map { case (fp, wm, nRows) =>
      (fp, QueryCache.keyHash(fp), wm, recordedSourcePaths(fp).toSeq.sorted,
        pendingRepairs(fp).size, nRows, -1L, 1, -1L)
    })
  }
}

/** Durable cache over a (local/HDFS/object-store) directory — the
  * reference's "TODO disk cache" (src/cache.rs:176) / ObjectStoreQueryCache
  * (README.md:25), done Spark-style:
  *
  *   <root>/<fp-hash>/data-<v>-<uuid>/   parquet state segment
  *   <root>/<fp-hash>/meta-<v>.json      {timestampMicros, dataDirs, schema, …}
  *
  * Each entry directory is a [[graft.util.VersionedDir]]: the meta file
  * is committed via write-temp + atomic rename, so readers either see the
  * previous complete version or the new one, and superseded versions age
  * out through its deferred cleanup. Every commit (put, append, banded
  * refresh, tombstone) advances the head through one step, `Next`. Large
  * state
  * never passes through the driver: at 100 TB / millions of groups the
  * put is a parallel parquet write and the warm read is a parallel
  * parquet scan that unions straight into the partial-merge aggregation.
  * SMALL state does: when both the state job's leaf-scan bytes after
  * partition pruning and the state's collected rows fit within
  * [[ParquetQueryCache.driverStateMaxBytes]] (a leaf of unknown size,
  * such as a persisted scan, counts as large), the state is collected
  * once as internal rows and written from the driver as one parquet
  * file, and `put` answers from those rows as a local relation. A collect
  * that passes the bound, or that `spark.driver.maxResultSize` aborts,
  * falls back to the distributed write (see [[writeState]]).
  *
  * A chain commit ([[putAppend]], [[refreshBand]]) extends exactly the
  * head its run read. `get` stamps the state it returns with the head's
  * token, its data-dir list, and a chain commit goes ahead only while
  * the head names exactly that list. Over any other head — another
  * writer's commit, even at the same version; a put; a tombstone — it
  * commits nothing, and the caller's full put stores base ∪ delta, which
  * is self-consistent whatever the head.
  *
  * A small AGGREGATE append costs one Spark job, the collect of the
  * delta's partial state: the driver merges it into the entry's state,
  * commits the delta segment (or the merged rows, as the compaction) and
  * answers from the merged rows with no job. The merged rows stay
  * RESIDENT — held by this instance, at most
  * [[ParquetQueryCache.driverStateMaxBytes]] over all entries, least
  * recently used dropped first — tagged with the token of the head they
  * equal, and `get` serves them as a local relation while that is the
  * head. It is the head rule's comparison: any other head drops the
  * copy, and so do `invalidate`, `invalidateForTable` and eviction. Only
  * entries a driver-side append committed are resident: a cold put holds
  * no driver memory.
  *
  * Global bounds (all OFF by default; the durable counterpart of
  * [[MemoryQueryCache]]'s maxEntries/ttlMs, which previously had no disk
  * analog — distinct fingerprints would accumulate forever): `maxEntries`
  * caps live fingerprints, `maxBytes` caps total on-disk state,
  * `ttlMs` expires entries not written for that long. A sweep piggybacks
  * on full-state commits at most once per `sweepIntervalMs` and EVICTS by
  * committing tombstone heads — reader-safe like invalidation: files age
  * out through the grace window, never yanked mid-scan. An evicted query
  * just runs cold on its next appearance and re-caches.
  */
final class ParquetQueryCache(rootDir: String,
    keepVersions: Int = 2,
    graceMs: Long = 10L * 60 * 1000,
    abandonedMs: Long = 24L * 3600 * 1000,
    maxEntries: Int = 0,
    maxBytes: Long = 0L,
    ttlMs: Long = 0L,
    sweepIntervalMs: Long = 60L * 1000,
    /** row-state append-chain length before putAppend declines and the
      * caller's full put compacts the chain into one segment: bounds the
      * per-scan file-listing fan-out without ever rewriting on the hot
      * path more than once per `appendChainMax` runs */
    appendChainMax: Int = 64) extends QueryCache {
  import ParquetQueryCache._

  // keyHash(fp) → fp, learned from this process's own get/put traffic:
  // lets the global sweep below drop the in-process source index for
  // entries it evicts (a sweep only sees hash-named dirs; entries cached
  // by OTHER processes have no local index row to drop anyway)
  private val hashToFp =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val lastSweepMs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Resident state: keyHash(fp) → the merged rows a driver-side append
    * committed, tagged with the token of the head they equal.
    * Access-ordered; all access synchronized on the map; the rows held
    * total at most [[ParquetQueryCache.driverStateMaxBytes]]. */
  private val resident =
    new java.util.LinkedHashMap[String, Resident](16, 0.75f, true)
  private var residentBytes = 0L

  /** the resident rows of `key` when they are `head`'s state; a copy of
    * any other head is dropped */
  private def residentRows(key: String, head: Option[HeadToken])
      : Option[Array[InternalRow]] =
    resident.synchronized {
      Option(resident.get(key)) match {
        case Some(r) if head.contains(r.head) => Some(r.rows)
        case Some(_) => dropResident(key); None
        case None => None
      }
    }

  private def dropResident(key: String): Unit = resident.synchronized {
    Option(resident.remove(key)).foreach(r => residentBytes -= r.bytes)
  }

  /** hold `rows` as the state of `head`, evicting least recently used
    * copies past the bound (a state larger than the bound is not held) */
  private def keepResident(head: HeadToken, rows: Array[InternalRow]): Unit =
    resident.synchronized {
      dropResident(head.key)
      val bytes = rowBytes(rows)
      if (bytes <= driverStateMaxBytes) {
        resident.put(head.key, Resident(head, rows, bytes))
        residentBytes += bytes
        val lru = resident.entrySet.iterator
        while (residentBytes > driverStateMaxBytes && lru.hasNext) {
          val e = lru.next()
          if (e.getKey != head.key) {
            residentBytes -= e.getValue.bytes
            lru.remove()
          }
        }
      }
    }

  /** the entry in `dir` as a [[VersionedDir]] under this cache's
    * retention rule */
  private def versioned(fs: FileSystem, dir: Path): VersionedDir =
    new VersionedDir(fs, dir, p => readMeta(fs, p).allDataDirs,
      keepVersions, graceMs, abandonedMs)

  /** the entry's newest committed meta (see [[VersionedDir.latest]]) */
  private def latestMeta(fs: FileSystem, dir: Path): Option[Meta] =
    versioned(fs, dir).latest.map(readMeta(fs, _))

  /** `fingerprint`'s entry: its key, directory and file system */
  private def entry(fingerprint: String,
      spark: SparkSession): (String, Path, FileSystem) = {
    val key = QueryCache.keyHash(fingerprint)
    hashToFp.put(key, fingerprint)
    val dir = new Path(rootDir, key)
    (key, dir, dir.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  override def get(fingerprint: String): Option[CachedState] = {
    val (key, dir, fs) = entry(fingerprint, SparkSession.active)
    val head = latestMeta(fs, dir).filterNot(_.tombstone)
    val token = head.map(_.token(key))
    val held = residentRows(key, token)
    head.map { meta =>
      CachedState(meta.timestampMicros, meta.schema, held match {
        case Some(rows) => s => Shims.localRows(s, meta.schema, rows.toSeq)
        case None => s => scan(s, dir, meta.schema, meta.allDataDirs)
      }, token)
    }
  }

  /** The head check of every chain commit of `kind`: the entry's head
    * when it is still the head `base` was read from, else None, with a
    * declined Commit when another commit moved it since. A base read from
    * another entry (a probe-served one) never matches either. */
  private def baseHead(fs: FileSystem, dir: Path, fingerprint: String,
      kind: String, base: CachedState): Option[Meta] = {
    val head = latestMeta(fs, dir).filterNot(_.tombstone)
      .filter(h => base.head.contains(h.token(dir.getName)))
    if (head.isEmpty && base.head.exists(_.key == dir.getName))
      CacheEvent.report(Commit(fingerprint, kind, "-", Some("head-moved"),
        "the entry's head moved since this run read it; committing the " +
          "full state instead of a chain segment"))
    head
  }

  /** The one step that advances an entry's head past `head`, at a version
    * of at least `atLeast` (a commit's watermark, a tombstone's wall
    * clock): [[VersionedDir.next]] over the entry's directory. [[commit]]
    * writes the meta, cleans up (deferred: a reader that resolved the
    * previous meta must not get FileNotFound mid-read), drops the
    * resident copy of the old head, and after a full state runs the
    * global sweep. */
  private final class Next(fs: FileSystem, dir: Path, head: Option[Meta],
      atLeast: Long) {
    private val step = versioned(fs, dir).next(head.map(_.version), atLeast)
    val version: Long = step.version

    def dataDir(tag: String = ""): String = step.dataDir(tag)

    def tombstone: String = step.tombstone

    def commit(meta: Meta): Meta = {
      step.commit(metaBytes(meta))
      dropResident(dir.getName)
      if (meta.extraDataDirs.isEmpty && !meta.tombstone)
        try globalSweep(fs) catch { case _: Exception => () }
      meta
    }
  }

  /** Measure-subsumption probe support across processes: the in-process
    * index first (fresh by construction), then a root-directory scan of
    * head metas for entries written by OTHER processes. The scan is one
    * head-meta read per entry, memoized for `sweepIntervalMs` — probes
    * only fire on cold exact-fingerprint misses, so the cost profile
    * matches the global sweep's; an entry another process wrote within
    * the last interval may take one interval to become probe-visible
    * (its direct fingerprint hit is never delayed — get() reads disk). */
  // 0L sentinel (not Long.MinValue): `now - memoMs` must not overflow
  @volatile private var baseScanMemo:
    (Long, Map[String, Seq[(String, Seq[(String, Seq[String])])]]) =
    (0L, Map.empty)

  override private[graft] def entriesForBase(
      baseFp: String): Seq[(String, Seq[(String, Seq[String])])] = {
    val local = super.entriesForBase(baseFp)
    val now = System.currentTimeMillis()
    if (now - baseScanMemo._1 > sweepIntervalMs) {
      val scanned = try {
        val spark = SparkSession.active
        val root = new Path(rootDir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(root)) Map.empty[String,
          Seq[(String, Seq[(String, Seq[String])])]]
        else fs.listStatus(root).filter(_.isDirectory).toSeq.flatMap { d =>
          try latestMeta(fs, d.getPath).filterNot(_.tombstone)
            .filter(m => m.baseFp.nonEmpty && m.fingerprint.nonEmpty)
            .map(m => (m.baseFp, (m.fingerprint, m.measures)))
          catch { case scala.util.control.NonFatal(_) => None }
        }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      } catch {
        case scala.util.control.NonFatal(_) =>
          Map.empty[String, Seq[(String, Seq[(String, Seq[String])])]]
      }
      baseScanMemo = (now, scanned)
    }
    val seen = local.map(_._1).toSet
    local ++ baseScanMemo._2.getOrElse(baseFp, Seq.empty)
      .filterNot(e => seen.contains(e._1))
  }

  override def put(fingerprint: String, timestampMicros: Long,
      state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    val (_, dir, fs) = entry(fingerprint, spark)
    val next = new Next(fs, dir, latestMeta(fs, dir), timestampMicros)
    val dataDir = next.dataDir()
    // driver or distributed write, timestamp type, file sizing: see
    // writeState
    val written = writeState(fingerprint, "put", state, new Path(dir, dataDir))
    // source tables persisted in the meta: invalidateForTable then works
    // from ANY process, not just the writer's (the state plan reads the
    // source table on both cold and warm runs; the cache's own replay
    // scan under rootDir is excluded)
    val srcPaths = try {
      val rootStr = new Path(rootDir).toUri.getPath.stripSuffix("/")
      // exclude only paths UNDER the cache root, on a path-component
      // boundary — a substring test would also drop real source tables
      // whose path merely starts with the root as a string prefix
      // (root "/data/c" vs table "/data/corpus/docs"), silently breaking
      // cross-process invalidateForTable for them
      def underRoot(p: String): Boolean = {
        val pp = try {
          val u = new java.net.URI(p)
          if (u.getPath != null && u.getPath.nonEmpty) u.getPath else p
        } catch { case _: Exception => p }
        pp == rootStr || pp.startsWith(rootStr + "/")
      }
      Shims.sourcePaths(Shims.queryExecution(state).analyzed)
        .filterNot(p => rootStr.nonEmpty && underRoot(p)).distinct
    } catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
    // measure-index rows recorded by the executor just before this put:
    // persisted in the meta (with the fingerprint itself — directories
    // are keyed by its hash) so measure subsumption works cross-process
    val (baseFp, measures) = recordedMeasures(fingerprint)
      .getOrElse(("", Seq.empty))
    next.commit(Meta(timestampMicros, dataDir, state.schema, srcPaths,
      fingerprint, baseFp, measures,
      // the full state's row count, so the first putAppend after this
      // put (a compaction, on an append chain) reads no footer of it
      segRows = if (written.rows >= 0) Seq(dataDir -> written.rows) else Nil))
    // rows written from the driver answer as a LocalRelation: the
    // finalize projection folds onto it and the answer runs no job
    written.local.fold(scan(spark, dir, state.schema, Seq(dataDir)))(rows =>
      Shims.localRows(spark, state.schema, rows.toSeq))
  }

  /** Write one state segment to `path`, deciding by size.
    *
    * SMALL state goes through the driver. Both bounds are
    * [[ParquetQueryCache.driverStateMaxBytes]]: the state job's leaf-scan
    * bytes after partition pruning
    * ([[org.apache.spark.sql.graftshim.Shims.scanBytes]]) must fit it
    * (a leaf of unknown size, like a persisted shared delta, counts as
    * large), and so must the bytes of the rows the collect brings back —
    * compressed parquet input can decode to many times its size, so the
    * input alone bounds nothing the driver holds. The state is collected
    * once as internal rows, in one job under the caller's confs
    * ([[org.apache.spark.sql.graftshim.Shims.collectWithin]]: tasks and
    * driver stop holding rows past the bound), and written from the
    * driver as ONE parquet file plus `_SUCCESS`. Spark's file-write
    * protocol — a write job, a Hadoop conf per task, `_temporary`
    * renames — buys nothing here: the meta rename is the only commit
    * point. The rows come back in [[Written.local]], so `put` answers
    * from them instead of re-reading the file. A small aggregate append
    * does not come here: [[putAppend]] collects, merges and writes it
    * under the same bound. A collect that passes the
    * bound, or that `spark.driver.maxResultSize` aborts, falls back to
    * the distributed write (never to an uncached run), which runs the
    * state job again: at most one job over a small input is repeated.
    *
    * LARGER state keeps the distributed write, whose row count comes from
    * the write's own metric (footers only when it reports none).
    *
    * `keep` sees the row count first: on the driver path a refused count
    * writes nothing, on the distributed path its files are deleted again.
    *
    * State files carry their own timestamp type regardless of session
    * defaults: Spark still defaults parquet timestamps to INT96, which
    * has NO column statistics — a replay-side bucket-range filter (range
    * subsumption, the late re-scan band) could then never row-group-prune
    * large state. Same discipline as Layouts writes. The override rides
    * an ISOLATED cloned session, not a set/restore on the shared one: a
    * concurrent query's parquet write inside the window would silently
    * inherit the override, and two overlapping writes could restore in
    * the wrong order and corrupt the session conf permanently.
    *
    * Size-coalesced state files (distributed path): aggregated state is
    * orders of magnitude smaller than its input, but the final stage
    * inherits the session's shuffle-partition count, and AQE's
    * parallelismFirst default keeps those tiny partitions for CPU spread
    * — so a few-hundred-row state wrote one near-empty parquet file PER
    * PARTITION. parallelismFirst=false makes AQE coalesce the pre-write
    * shuffle to its advisory byte size instead — still one task per
    * ~64 MB for genuinely large row-grain states. It acts only where AQE
    * is on: the executor's warm-commit confs turn AQE off, and their
    * shuffle-partition count then sets the file count. `adaptive` turns
    * AQE back on for a distributed write, so it coalesces by size
    * whatever the caller's confs: append segments take it. Full puts
    * keep the caller's choice (forcing AQE there made probe-served
    * ad-hoc commits slower). */
  private def writeState(fingerprint: String, kind: String, df: DataFrame,
      path: Path, adaptive: Boolean = false,
      keep: Long => Boolean = _ => true): Written = {
    val spark = df.sparkSession
    driverRows(fingerprint, kind, Seq(df),
        "state rows passed %d bytes in the collect; writing them distributed",
        "state collect aborted by spark.driver.maxResultSize; writing it " +
        "distributed").map(_.head) match {
      case Some(rows) =>
        val kept = keep(rows.length)
        if (kept) writeRows(fingerprint, kind, spark, rows, df.schema, path)
        Written(rows.length, Some(rows), kept)
      case None =>
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = path.getFileSystem(conf)
        val n = Shims.withIsolatedConf(spark, writeConfs ++
            (if (adaptive) Seq("spark.sql.adaptive.enabled" -> "true")
             else Nil): _*) { s =>
          Shims.writeParquet(
            Shims.ofRows(s, Shims.queryExecution(df).analyzed), path.toString)
        } match {
          case n if n >= 0 => n
          case _ => footerRows(fs, conf, path.getParent, path.getName)
        }
        val kept = keep(n)
        if (kept) CacheEvent.report(Commit(fingerprint, kind, "distributed"))
        else try fs.delete(path, true) catch { case _: Exception => () }
        Written(n, None, kept)
    }
  }

  /** `rows` of `schema` written from the driver as one parquet file into
    * `path` (see [[writeState]]), reported as a driver Commit */
  private def writeRows(fingerprint: String, kind: String, spark: SparkSession,
      rows: Array[InternalRow], schema: StructType, path: Path): Unit = {
    Shims.withIsolatedConf(spark, writeConfs: _*)(s =>
      Shims.writeParquetFile(s, rows.toSeq, schema, path.toString))
    CacheEvent.report(Commit(fingerprint, kind, "driver"))
  }

  /** The rows of `dfs` collected to the driver in one job when they are
    * small together (see [[writeState]]); None → the caller's larger-state
    * path, with a declined driver Commit saying why: `over` (its `%d` is
    * the bound) when the collect passed the bound, `aborted` when
    * `spark.driver.maxResultSize` aborted it. */
  private def driverRows(fingerprint: String, kind: String,
      dfs: Seq[DataFrame], over: String, aborted: String)
      : Option[Seq[Array[InternalRow]]] = {
    def decline(code: String, why: String) = CacheEvent.report(
      Commit(fingerprint, kind, "driver", Some(code), why))
    val limit = driverStateMaxBytes
    if (limit <= 0 || !dfs.map(Shims.scanBytes).foldLeft(Option(0L))(
        (a, b) => for (x <- a; y <- b) yield x + y).exists(_ <= limit)) None
    else try {
      val rows = Shims.collectWithin(dfs, limit)
      if (rows.isEmpty) decline("collect-over-bound", over.format(limit))
      rows
    } catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(t =>
            Option(t.getMessage).exists(_.contains("maxResultSize"))) =>
        decline("collect-aborted", s"$aborted: ${e.getMessage}")
        None
    }
  }

  /** footer-derived row count of one segment (driver-side, no Spark
    * job); -1 = unknown. Only for segments whose meta carries no count
    * (written before counts were recorded). */
  private def footerRows(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, dir: Path,
      seg: String): Long = try {
    fs.listStatus(new Path(dir, seg))
      .filter(_.getPath.getName.endsWith(".parquet")).map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.sum
  } catch { case scala.util.control.NonFatal(_) => -1L }

  /** per-segment row counts of `old`'s chain: memoized values first,
    * footers once for legacy segments (feeds the fraction rule and the
    * next meta) */
  private def chainRowCounts(fs: FileSystem,
      conf: org.apache.hadoop.conf.Configuration, dir: Path,
      old: Meta): Seq[(String, Long)] = {
    val recordedRows = old.segRows.toMap
    old.allDataDirs.map(s =>
      s -> recordedRows.getOrElse(s, footerRows(fs, conf, dir, s)))
  }

  /** The meta of `old`'s chain plus the segment `dataDir` of `deltaRows`
    * rows (-1 = unknown). */
  private def appendMeta(old: Meta, fingerprint: String,
      timestampMicros: Long, dataDir: String, chainRows: Seq[(String, Long)],
      deltaRows: Long): Meta =
    Meta(timestampMicros, dataDir, old.schema, old.sourcePaths,
      fingerprint, old.baseFp, old.measures,
      extraDataDirs = old.allDataDirs,
      // carry the known-max map forward (the new segment stays
      // "unknown" until a banded refresh resolves it from footers)
      segMaxTs = old.segMaxTs,
      // never memoize an unknown (-1) count: it would pin the fraction
      // rule off for the NEXT append too; left out, footers re-resolve
      segRows = chainRows.filter(_._2 >= 0) ++
        (if (deltaRows >= 0) Seq(dataDir -> deltaRows) else Nil))

  /** [[QueryCache.putAppend]]. After the head check, SMALL aggregate
    * state merges on the driver and LARGER state appends the delta
    * alone; either way an all-empty delta (a no-op refresh) commits
    * nothing and the watermark stays put (the next delta scan prunes to
    * the same nothing): an empty segment per refresh would force a full
    * compaction every `appendChainMax` refreshes of an UNCHANGED entry.
    *
    * Small: where `merge.fold` exists, the delta partials are collected
    * in one job, with the head's chain in the same job unless this
    * instance holds it resident. Together they must fit
    * [[ParquetQueryCache.driverStateMaxBytes]], as [[writeState]]'s
    * collect must: a larger state or a leaf of unknown size (a shared
    * delta) skips the collect, and a collect that passes the bound ends
    * it. The driver folds state ∪ delta, writes the delta as one segment
    * — or, at `appendChainMax` segments or under the delta fraction, the
    * merged rows as the compacted state — keeps the merged rows resident
    * under the head it committed, and answers from them with no job.
    *
    * Larger, or a fold that fails: the delta is written as one segment
    * and the answer merges one scan of the whole chain. At
    * `appendChainMax` segments, or when the delta trips
    * `compactIfDeltaFraction`, the method declines and the caller's full
    * put compacts the chain. */
  override def putAppend(fingerprint: String, timestampMicros: Long,
      base: CachedState, delta: DataFrame,
      compactIfDeltaFraction: Option[Double],
      merge: StateMerge): Option[DataFrame] = {
    def phase[A](name: String)(f: => A): A = CacheEvent.phase(fingerprint, name)(f)
    val spark = delta.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val (key, dir, fs) = entry(fingerprint, spark)
    val old = baseHead(fs, dir, fingerprint, "append", base)
      .getOrElse(return None)
    if (!sameColumns(old.schema, delta.schema)) return None
    lazy val chainRows = chainRowCounts(fs, conf, dir, old)
    val next = new Next(fs, dir, Some(old), timestampMicros)
    val dataDir = next.dataDir()
    def appended(deltaRows: Long) = appendMeta(old, fingerprint,
      timestampMicros, dataDir, chainRows, deltaRows)
    val held = residentRows(key, base.head)
    // (delta rows, merged rows) when the merge ran on the driver
    val folded = merge.fold.flatMap { fold =>
      val chain = if (held.isDefined) Nil
        else Seq(scan(spark, dir, old.schema, old.allDataDirs))
      phase("refresh.collect")(driverRows(fingerprint, "append", delta +: chain,
        "refresh rows passed %d bytes in the collect; refreshing through " +
          "the chain",
        "refresh collect aborted by spark.driver.maxResultSize; refreshing " +
          "through the chain")).flatMap { collected =>
        // the held state is merged already: only the groups the delta
        // touches fold again
        val (state, partials) = held match {
          case Some(rows) => (rows.toSeq, collected.head.toSeq)
          case None => (Nil, (collected(1) ++ collected.head).toSeq)
        }
        phase("refresh.merge")(fold(state, partials)).map((collected.head, _))
      }
    }
    folded match {
      case Some((deltaRows, merged)) =>
        val head = if (deltaRows.isEmpty) old else {
          val compact = old.allDataDirs.size >= appendChainMax ||
            tooLargeToChain(chainRows, deltaRows.length, compactIfDeltaFraction)
          phase("refresh.write")(writeRows(fingerprint, "append", spark,
            if (compact) merged else deltaRows, old.schema,
            new Path(dir, dataDir)))
          next.commit(if (!compact) appended(deltaRows.length) else {
            // the compacted state, as put would commit it
            val (baseFp, measures) = recordedMeasures(fingerprint)
              .getOrElse((old.baseFp, old.measures))
            Meta(timestampMicros, dataDir, old.schema, old.sourcePaths,
              fingerprint, baseFp, measures,
              segRows = Seq(dataDir -> merged.length.toLong))
          })
        }
        keepResident(head.token(key), merged)
        Some(Shims.localRows(spark, old.schema, merged.toSeq))
      case None =>
        if (old.allDataDirs.size >= appendChainMax) return None // compact
        // a delta segment is small by construction (one refresh band's
        // aggregate): one file, from the driver or size-coalesced even
        // under AQE-off commit confs. Its row count decides emptiness and
        // the fraction rule before anything is kept (on the driver path,
        // before anything is written).
        val written = writeState(fingerprint, "append", delta,
          new Path(dir, dataDir), adaptive = true,
          keep = n => n != 0L &&
            !tooLargeToChain(chainRows, n, compactIfDeltaFraction))
        val head =
          if (written.kept) next.commit(appended(written.rows))
          else if (written.rows == 0L) old
          else return None
        Some(merge.frame(scan(spark, dir, old.schema, head.allDataDirs)))
    }
  }

  /** Segment-grain banded refresh — see the trait doc. Keep test: a
    * segment's known max(temporalCol) sits strictly below the floor
    * (NULL-ts rows never count toward the max and are keep-safe: the
    * band drops only rows AT/AFTER the floor). Max values come from the
    * meta's memoized map first, then from parquet footer column stats
    * (we force TIMESTAMP_MICROS at write time precisely so these stats
    * exist — INT96 has none); a segment with missing/foreign stats is
    * "unknown" and gets rewritten, never kept wrongly. */
  override private[graft] def refreshBand(fingerprint: String,
      timestampMicros: Long, base: CachedState, temporalCol: String,
      floorMicros: Long, bandDelta: DataFrame,
      merge: DataFrame => DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val spark = bandDelta.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val (_, dir, fs) = entry(fingerprint, spark)
    val old = baseHead(fs, dir, fingerprint, "band", base)
      .getOrElse(return None)
    // temporalCol may be a one-level struct path ("_g0.start" — tumbling
    // window bucket keys): resolve through the struct for the type check;
    // footer stats and the column filter below address the nested column
    // by the same dot path
    val tType: Option[org.apache.spark.sql.types.DataType] =
      temporalCol.split('.') match {
        case Array(a) => old.schema.fields.find(_.name == a).map(_.dataType)
        case Array(a, b) => old.schema.fields.find(_.name == a)
          .map(_.dataType).flatMap {
            case s: StructType => s.fields.find(_.name == b).map(_.dataType)
            case _ => None
          }
        case _ => None
      }
    if (!tType.contains(org.apache.spark.sql.types.TimestampType)) return None
    // the band head must chain onto the stored schema exactly (same
    // check putAppend applies) — a drifted schema full-puts instead
    if (!sameColumns(old.schema, bandDelta.schema)) return None
    // max(temporalCol) of one segment from its parquet footers: one
    // driver-side footer read per file, no Spark job. None = unknown.
    def footerMax(seg: String): Option[Long] = try {
      val segPath = new Path(dir, seg)
      val files = fs.listStatus(segPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
      var mx = Long.MinValue
      var known = true
      files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.asScala.foreach { b =>
          if (b.getRowCount > 0) {
            b.getColumns.asScala
              .find(_.getPath.toDotString == temporalCol) match {
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null) known = false
                else if (!st.hasNonNullValue) {
                  // stats present but no non-null value: every row in
                  // the chunk is NULL-ts — keep-safe, constrains nothing
                  if (st.getNumNulls < b.getRowCount) known = false
                } else st.genericGetMax match {
                  case l: java.lang.Long => mx = math.max(mx, l.longValue)
                  case _ => known = false
                }
              case None => known = false
            }
          }
        } finally r.close()
      }
      if (known) Some(mx) else None
    } catch { case scala.util.control.NonFatal(_) => None }
    val recorded = old.segMaxTs.toMap
    val resolved: Map[String, Option[Long]] = old.allDataDirs.map { s =>
      s -> recorded.get(s).map(Some(_)).getOrElse(footerMax(s))
    }.toMap
    val (keep, straddle) = old.allDataDirs.partition(s =>
      resolved(s).exists(_ < floorMicros))
    // the banded commit SPLITS into two segments: the straddlers' rows
    // below the floor become a SETTLED segment (its max is < floor, so
    // every future refresh keeps it verbatim — without the split, the
    // newest segment would straddle every floor forever and each refresh
    // would rewrite the whole view), and the band re-scan becomes the
    // ACTIVE segment. Steady state therefore writes O(append + band) per
    // run: the settle part is the watermark's advance since the last
    // refresh, the band part is the declared tolerance.
    if (keep.size + 2 >= appendChainMax) return None // full put compacts
    val next = new Next(fs, dir, Some(old), timestampMicros)
    val floorCol = graft.plans.RunBound.timestamp(floorMicros)
    // settled/band segments are state-sized, not input-sized; each
    // segment's row count is learned from its write
    val writtenRows = scala.collection.mutable.Map.empty[String, Long]
    def writeSeg(df: DataFrame, tag: String,
        keep: Long => Boolean): Option[String] = {
      val name = next.dataDir(tag)
      val w = writeState(fingerprint, "band", df, new Path(dir, name), keep = keep)
      writtenRows(name) = w.rows
      Some(name).filter(_ => w.kept)
    }
    // straddlers that held only band rows settle nothing
    val settledDir: Option[String] = if (straddle.isEmpty) None else
      writeSeg(scan(spark, dir, old.schema, straddle)
          .filter(col(temporalCol) < floorCol || col(temporalCol).isNull),
        "s", _ != 0L)
    // no-op refresh: nothing straddles AND the band re-scan found nothing
    // — committing an empty segment per dashboard refresh would grow the
    // chain toward a pointless compaction (same hazard putAppend guards
    // against)
    val bandDir = writeSeg(bandDelta, "b", n => n != 0L || straddle.nonEmpty)
      .getOrElse(return Some(merge(scan(spark, dir, old.schema, old.allDataDirs))))
    // memoize every max this refresh learned (kept + settled segments'
    // values are final — segments are immutable) plus the band's own
    val tail = settledDir.toSeq ++ keep
    val segMax = tail.flatMap(s => resolved.get(s).flatten.orElse(
      footerMax(s)).map(s -> _)) ++
      footerMax(bandDir).map(bandDir -> _).toSeq
    val recordedRows = old.segRows.toMap ++ writtenRows
    val segRowCounts = (tail :+ bandDir).map(s =>
      s -> recordedRows.getOrElse(s, footerRows(fs, conf, dir, s)))
      .filter(_._2 >= 0)
    val meta = next.commit(Meta(timestampMicros, bandDir, old.schema,
      old.sourcePaths, fingerprint, old.baseFp, old.measures,
      extraDataDirs = tail, segMaxTs = segMax, segRows = segRowCounts))
    Some(merge(scan(spark, dir, old.schema, meta.allDataDirs)))
  }

  /** Global bounds sweep (the durable counterpart of MemoryQueryCache's
    * maxEntries/TTL): TTL-expires entries not WRITTEN for `ttlMs`, then
    * capacity-evicts least-recently-written entries past `maxEntries` /
    * `maxBytes` — each eviction commits a TOMBSTONE head, the same
    * reader-safe deferred mechanism invalidate uses, so an evicted
    * entry's parquet files survive the grace window for any in-flight
    * scan. Piggybacked on put, at most once per `sweepIntervalMs` per
    * process (one head-meta read per entry per sweep — bounded by the
    * interval, not by put volume). All three bounds default OFF. */
  private def globalSweep(fs: FileSystem): Unit = {
    if (maxEntries <= 0 && maxBytes <= 0L && ttlMs <= 0L) return
    val now = System.currentTimeMillis()
    val last = lastSweepMs.get
    if (now - last < sweepIntervalMs ||
      !lastSweepMs.compareAndSet(last, now)) return
    val root = new Path(rootDir)
    if (!fs.exists(root)) return
    final case class Live(dir: Path, lastWriteMs: Long, bytes: Long)
    val live = fs.listStatus(root).filter(_.isDirectory).flatMap { d =>
      try {
        versioned(fs, d.getPath).latest.flatMap { head =>
          if (readMeta(fs, head).tombstone) None // already dead
          else {
            val bytes =
              if (maxBytes > 0L) fs.getContentSummary(d.getPath).getLength
              else 0L
            Some(Live(d.getPath, fs.getFileStatus(head).getModificationTime,
              bytes))
          }
        }
      } catch { case _: Exception => None }
    }
    def evict(e: Live): Unit = {
      tombstone(fs, e.dir)
      Option(hashToFp.get(e.dir.getName)).foreach(dropSourcePaths)
      stats.recordEviction()
    }
    val (expired, fresh) =
      live.partition(e => ttlMs > 0L && now - e.lastWriteMs > ttlMs)
    expired.foreach(evict)
    // newest-first; evict whatever does not fit in either capacity bound
    // (the newest entry itself is always kept — an over-budget lone entry
    // must not flap in and out of the cache)
    var keptCount = 0
    var keptBytes = 0L
    fresh.sortBy(-_.lastWriteMs).foreach { e =>
      val overEntries = maxEntries > 0 && keptCount + 1 > maxEntries
      val overBytes = maxBytes > 0L && keptBytes + e.bytes > maxBytes &&
        keptCount >= 1
      if (overEntries || overBytes) evict(e)
      else { keptCount += 1; keptBytes += e.bytes }
    }
  }

  /** Driver-side listing only: one latest-meta read per entry plus file
    * statuses of its data dirs — state rows are never scanned (reported
    * -1). Fingerprints come from the persisted meta, so entries written
    * by OTHER processes are fully described too. */
  override def describe(spark: SparkSession): DataFrame = {
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows: Seq[(String, String, Long, Seq[String], Int, Long, Long,
        Int, Long)] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).filter(_.isDirectory).toSeq.flatMap { d =>
        try latestMeta(fs, d.getPath).filterNot(_.tombstone).map { meta =>
          val bytes = meta.allDataDirs.map { s =>
            try fs.getContentSummary(new Path(d.getPath, s)).getLength
            catch { case _: Exception => 0L }
          }.sum
          val fp =
            if (meta.fingerprint.nonEmpty) meta.fingerprint
            else Option(hashToFp.get(d.getPath.getName)).getOrElse("")
          (fp, d.getPath.getName, meta.timestampMicros,
            meta.sourcePaths.sorted,
            if (fp.nonEmpty) pendingRepairs(fp).size else 0,
            -1L, bytes, meta.allDataDirs.size, meta.version)
        } catch { case _: Exception => None }
      }
    describeRows(spark, rows)
  }

  /** Invalidation is DEFERRED like superseded puts: a TOMBSTONE meta is
    * committed as the new head (get then misses), and the entry's data
    * dirs live on until the normal grace-window cleanup reaps them — an
    * immediate recursive delete would yank parquet files out from under
    * a reader mid-scan (observed as FAILED_READ_FILE in the CacheSpec
    * stress test before this design). The tombstone's version is wall-
    * clock micros: any put whose query STARTED before the invalidation
    * commits a smaller version and loses the head — the one surviving
    * benign race is a put that STARTS after the invalidate (its state is
    * freshly recomputed, so winning is correct). */
  override def invalidate(fingerprint: String): Unit = {
    val spark = SparkSession.active
    val dir = new Path(rootDir, QueryCache.keyHash(fingerprint))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tombstone(fs, dir)
    dropSourcePaths(fingerprint)
    stats.recordInvalidation()
  }

  private def tombstone(fs: FileSystem, dir: Path): Unit = {
    // nothing live to invalidate: no head, or a tombstone already
    val head = latestMeta(fs, dir).filterNot(_.tombstone).getOrElse(return)
    val next = new Next(fs, dir, Some(head),
      System.currentTimeMillis() * 1000L)
    next.commit(Meta(head.timestampMicros, next.tombstone, head.schema,
      Seq.empty))
    // a dead entry has nothing left to repair — drop pending sidecars so
    // they don't linger in the dir (a fresh put over the tombstone would
    // otherwise see stale ranges and pay a pointless bounded re-scan)
    try fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("repair-") &&
        p.getName.endsWith(".json"))
      .foreach(p => try { fs.delete(p, false); () }
        catch { case _: Exception => () })
    catch { case _: Exception => () }
  }

  /** In addition to the in-process index, scan every entry's latest meta
    * for the table — entries written by OTHER processes (their source
    * paths ride in the meta) are invalidated too. One meta read per
    * entry; invalidation is a rare administrative action. */
  override def invalidateForTable(table: String): Int = {
    var n = super.invalidateForTable(table)
    val spark = SparkSession.active
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).filter(_.isDirectory).foreach { d =>
      try latestMeta(fs, d.getPath) match {
        case Some(m) if !m.tombstone &&
            m.sourcePaths.exists(p => QueryCache.pathMatches(table, p)) =>
          tombstone(fs, d.getPath)
          n += 1
        case _ => ()
      } catch { case _: Exception => () }
    }
    n
  }

  /** Durable face of the repair remedy: sweep every entry's head meta for
    * the table (like [[invalidateForTable]]) and persist each matching
    * range as an atomic sidecar file `repair-<token>.json` in the entry's
    * directory — visible to every process, survives restarts, one record
    * per entry (the in-process super sweep is skipped: every live entry
    * of this cache carries its source paths in its head meta, so the
    * durable sweep is strictly more complete and avoids marking the same
    * entry twice). */
  override def repairRange(table: String, loMicros: Long,
      hiMicros: Long): Int = {
    require(loMicros < hiMicros, s"empty repair range [$loMicros, $hiMicros)")
    val spark = SparkSession.active
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    var n = 0
    fs.listStatus(root).filter(_.isDirectory).foreach { d =>
      try latestMeta(fs, d.getPath) match {
        case Some(m) if !m.tombstone &&
            m.sourcePaths.exists(p => QueryCache.pathMatches(table, p)) =>
          val token = java.util.UUID.randomUUID.toString.take(12)
          versioned(fs, d.getPath).write(s"repair-$token.json",
            Json.writeValueAsBytes(Json.createObjectNode()
              .put("loMicros", loMicros).put("hiMicros", hiMicros)))
          n += 1
        case _ => ()
      } catch { case _: Exception => () }
    }
    n
  }

  override private[graft] def pendingRepairs(
      fingerprint: String): Seq[RepairRange] = {
    val durable = try {
      val spark = SparkSession.active
      val dir = new Path(rootDir, QueryCache.keyHash(fingerprint))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Seq.empty[RepairRange]
      else fs.listStatus(dir).map(_.getPath).toSeq
        .filter(p => p.getName.startsWith("repair-") &&
          p.getName.endsWith(".json"))
        .map { p =>
          val token = p.getName.stripPrefix("repair-").stripSuffix(".json")
          try {
            val o = readJson(fs, p)
            def num(k: String): Option[Long] =
              Option(o.get(k)).filter(_.isIntegralNumber).map(_.asLong)
            (for (lo <- num("loMicros"); hi <- num("hiMicros"))
              yield RepairRange(lo, hi, token))
              // a sidecar that EXISTS but doesn't parse is a declared
              // rewrite whose bounds are unknown — fail CONSERVATIVE
              // with an all-history range (strictly contains whatever
              // was declared; the consuming run repairs/rebuilds
              // everything and clears the token), never silently drop
              // it. Half-range bounds stay safely inside every calendar
              // conversion (full MinValue micros overflows java.time).
              .getOrElse(
                RepairRange(Long.MinValue / 2, Long.MaxValue / 2, token))
          } catch {
            case scala.util.control.NonFatal(_) =>
              RepairRange(Long.MinValue / 2, Long.MaxValue / 2, token)
          }
        }
    } catch {
      case scala.util.control.NonFatal(_) => Seq.empty[RepairRange]
    }
    super.pendingRepairs(fingerprint) ++ durable
  }

  override private[graft] def clearRepairs(fingerprint: String,
      tokens: Seq[String]): Unit = {
    super.clearRepairs(fingerprint, tokens)
    if (tokens.isEmpty) return
    try {
      val spark = SparkSession.active
      val dir = new Path(rootDir, QueryCache.keyHash(fingerprint))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      tokens.foreach { t =>
        val p = new Path(dir, s"repair-$t.json")
        try { fs.delete(p, false); () } catch { case _: Exception => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

object ParquetQueryCache {
  /** Largest state a commit writes from the driver (see `writeState`),
    * in bytes of its scanned input and, again, of its collected rows. A
    * constant, not a user option, set from paired measurements of both
    * paths (put plus answer of row-grain states, local[4]): the driver
    * write won every pair at 1–4 MB of rows, about half at 5 MB, and
    * lost every pair from 6 MB on (at 48 MB it took 3.6x as long). Tests
    * set it to 0 to take the distributed write. */
  @volatile private[graft] var driverStateMaxBytes: Long = 4L << 20

  /** the conf overrides of every state write (see `writeState`) */
  private val writeConfs = Seq(
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")

  /** One entry's resident state: its merged rows, the head data dirs
    * they equal, and their bytes as a collect counts them. */
  private final case class Resident(head: HeadToken,
      rows: Array[InternalRow], bytes: Long)

  /** one scan of the segments `dataDirs` of the entry in `dir` */
  private def scan(spark: SparkSession, dir: Path, schema: StructType,
      dataDirs: Seq[String]): DataFrame =
    spark.read.schema(schema)
      .parquet(dataDirs.map(d => new Path(dir, d).toString): _*)

  /** bytes of `rows` as `Shims.collectWithin` counts them */
  private def rowBytes(
      rows: Array[InternalRow]): Long =
    rows.iterator.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
        u.getSizeInBytes + 4L
      case _ => Long.MaxValue / 2 // unknown size: never held
    }.sum

  /** same column names and types, in order: a segment chains onto the
    * stored state only then */
  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall {
      case (x, y) => x.name == y.name && x.dataType == y.dataType
    }

  /** The delta-fraction rule of aggregate chains: a delta of at least
    * `fraction` of the resulting chain's rows re-merges about as cheaply
    * as it chains, and chaining it would multiply answer-time state
    * reads, so the chain compacts instead. Unknown counts (-1) disable
    * the rule conservatively. */
  private def tooLargeToChain(chainRows: Seq[(String, Long)],
      deltaRows: Long, fraction: Option[Double]): Boolean =
    fraction.exists { f =>
      val oldTotal = chainRows.map(_._2).sum
      deltaRows > 0 && oldTotal >= 0 && chainRows.forall(_._2 >= 0) &&
        deltaRows.toDouble >= f * (oldTotal + deltaRows)
    }

  /** One state segment's write: its row count (-1 = unknown), the rows in
    * hand when the driver wrote them, and whether the segment was kept
    * (a refused segment leaves no files). */
  private final case class Written(rows: Long,
      local: Option[Array[InternalRow]],
      kept: Boolean)

  final case class Meta(timestampMicros: Long, dataDir: String,
      schema: StructType, sourcePaths: Seq[String] = Seq.empty,
      fingerprint: String = "", baseFp: String = "",
      measures: Seq[(String, Seq[String])] = Seq.empty,
      /** append-chain tail (row-state entries): the entry's data is the
        * UNION of `dataDir` (the newest segment — its name carries the
        * version) and these older segments, committed together in one
        * atomic meta so readers see a complete chain or the previous one */
      extraDataDirs: Seq[String] = Seq.empty,
      /** per-segment MAX of the view's temporal column (micros), for the
        * segments whose max is known — the banded-refresh keep test
        * (segment wholly below the floor ⇒ kept verbatim). Learned lazily:
        * refreshBand resolves unknown segments from parquet footer column
        * stats and memoizes here; putAppend carries the map forward. A
        * missing segment is simply "unknown" and gets rewritten — never a
        * correctness issue. */
      segMaxTs: Seq[(String, Long)] = Seq.empty,
      /** per-segment row counts (footer-derived at commit time), feeding
        * the delta-fraction compaction rule without re-reading footers of
        * the whole chain on every append; missing segments resolve from
        * footers once and memoize */
      segRows: Seq[(String, Long)] = Seq.empty) {
    def allDataDirs: Seq[String] = dataDir +: extraDataDirs
    /** version = leading numeric component of the data dir name
      * (`data-<version>-<writer-uuid>`; plain `data-<version>` legacy) */
    def version: Long =
      dataDir.stripPrefix("data-").takeWhile(_.isDigit).toLong

    /** a deferred-invalidation marker: the head meta names a data dir
      * that never existed — get() misses, data dirs below it age out
      * through the normal grace-window cleanup */
    def tombstone: Boolean = dataDir.endsWith("-tomb")

    /** the token of this head of the entry `key` */
    def token(key: String): HeadToken = HeadToken(key, allDataDirs)
  }

  /** The one JSON codec of metas and repair sidecars. Reading allows raw
    * control characters: metas written before it escaped only quotes,
    * backslashes and newlines. */
  private val Json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature
      .ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()

  private def readJson(fs: FileSystem,
      p: Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    try Json.readTree(in) finally in.close()
  }

  private[graft] def readMeta(fs: FileSystem, p: Path): Meta = {
    val o = readJson(fs, p)
    def field(name: String): Option[String] =
      Option(o.get(name)).map(_.asText)
    def required(name: String): String = {
      val v = field(name)
      require(v.isDefined, s"missing $name in meta.json")
      v.get
    }
    // lists are newline-joined strings, absent in metas written before
    // the field existed
    def lines(name: String): Seq[String] =
      field(name).toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)
    // a `dataDir|n` line
    def counted(line: String): (String, Long) = {
      val i = line.lastIndexOf('|')
      (line.substring(0, i), line.substring(i + 1).toLong)
    }
    Meta(required("timestampMicros").toLong, required("dataDir"),
      DataType.fromJson(required("schema")).asInstanceOf[StructType],
      // absent before r6 (treated as "unknown sources" —
      // invalidateForTable skips those entries)
      lines("sourcePaths"),
      field("fingerprint").getOrElse(""),
      field("baseFp").getOrElse(""),
      // one line per measure: `descriptor|col1,col2`; absent before r9
      // (entry simply never matches a measure probe)
      lines("measures").map { line =>
        val i = line.indexOf('|')
        (line.substring(0, i),
          line.substring(i + 1).split(',').toSeq.filter(_.nonEmpty))
      },
      // append-chain tail; absent before r12
      lines("extraDataDirs"),
      // one line per known segment max: `dataDir|maxTsMicros`; absent
      // before r13 (banded refresh falls back to footers)
      lines("segMaxTs").map(counted),
      // one line per segment row count: `dataDir|rows`; absent pre-r13
      lines("segRows").map(counted))
  }

  private def metaBytes(meta: Meta): Array[Byte] = {
    def joined(pairs: Seq[(String, Any)]): String =
      pairs.map { case (d, v) => s"$d|$v" }.mkString("\n")
    Json.writeValueAsBytes(Json.createObjectNode()
      .put("timestampMicros", meta.timestampMicros)
      .put("dataDir", meta.dataDir)
      .put("schema", meta.schema.json)
      .put("sourcePaths", meta.sourcePaths.mkString("\n"))
      .put("fingerprint", meta.fingerprint)
      .put("baseFp", meta.baseFp)
      .put("measures", joined(meta.measures.map { case (d, cols) =>
        (d, cols.mkString(",")) }))
      .put("extraDataDirs", meta.extraDataDirs.mkString("\n"))
      .put("segMaxTs", joined(meta.segMaxTs))
      .put("segRows", joined(meta.segRows)))
  }

  /** write `meta` as the entry's version `version` (see
    * [[VersionedDir.write]]) */
  private[graft] def writeMetaAtomic(fs: FileSystem, dir: Path,
      meta: Meta, version: Long): Unit =
    new VersionedDir(fs, dir, _ => Nil).write(s"meta-$version.json",
      metaBytes(meta))
}
