package graft.cache

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

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
  * has to hold the state (one row per group) in memory unless the
  * in-memory impl is chosen.
  */
final case class CachedState(
    timestampMicros: Long,
    schema: StructType,
    read: SparkSession => DataFrame)

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

  /** APPEND `delta` to an existing entry instead of rewriting it — the
    * O(append) path for chained entries. ROW-state entries (materialized
    * filter queries) append their delta rows: the warm merge is a pure
    * union and rewriting a large view per run is O(result). AGGREGATE
    * entries append this run's group-grained delta PARTIALS: every
    * consumer of aggregate state merges (state ∪ delta) before use, and
    * the whitelisted merges are associative over partials, so a chain of
    * partial segments replays identically to the merged state — the
    * caller supplies `compactIfDeltaFraction` so a delta that repeats
    * most of the groups compacts instead of multiplying answer-time
    * reads. Returns the new full replay when the cache supports appends
    * AND an appendable head exists; None → the caller falls back to a
    * full put (which compacts). Default: unsupported. */
  def putAppend(fingerprint: String, timestampMicros: Long,
      delta: DataFrame,
      /** decline (→ caller's full put compacts) when the delta holds at
        * least this fraction of the resulting chain's rows — for
        * AGGREGATE state chains, where every segment repeats its groups
        * and a large delta would multiply answer-time state reads for no
        * write saving. Row-grain views pass None: their segments
        * partition the result, so segmentation never re-reads a row. */
      compactIfDeltaFraction: Option[Double] = None): Option[DataFrame] = None

  /** Segment-grain BANDED refresh for row-state chains: a late re-scan
    * band re-reads [floor, now) from the source and must REPLACE the
    * state's rows at/after `floorMicros` — a full put would rewrite the
    * whole view, O(result) per warm run. A chain-aware cache instead
    * keeps every segment wholly below the floor verbatim, re-filters
    * only the STRADDLING segments to `temporalCol < floor OR IS NULL`,
    * unions them with `bandDelta` (the caller's source re-scan from the
    * floor) into ONE new segment, and commits atomically — O(band +
    * recent appends) written bytes, not O(view). Returns the new full
    * replay; None → the caller falls back to a full put (which also
    * compacts). Default: unsupported. */
  private[graft] def refreshBand(fingerprint: String, timestampMicros: Long,
      temporalCol: String, floorMicros: Long,
      bandDelta: DataFrame): Option[DataFrame] = None

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

/** Monotone counters for one cache handle: `hits`/`misses` count decided
  * cacheable runs (a hit replays stored state, a miss captures it),
  * `bails` counts queries the decision procedure declined (ran vanilla —
  * see the "not incrementally mergeable"-style log lines for WHY),
  * `invalidations` counts dropped entries. */
final class CacheStats {
  private val h = new java.util.concurrent.atomic.AtomicLong
  private val m = new java.util.concurrent.atomic.AtomicLong
  private val b = new java.util.concurrent.atomic.AtomicLong
  private val inv = new java.util.concurrent.atomic.AtomicLong
  private val ev = new java.util.concurrent.atomic.AtomicLong
  private[graft] def recordHit(): Unit = { h.incrementAndGet(); () }
  private[graft] def recordMiss(): Unit = { m.incrementAndGet(); () }
  private[graft] def recordBail(): Unit = { b.incrementAndGet(); () }
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
      val evict = size() > math.max(1, maxEntries)
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
    graft.util.Timing.phase("put.planPhysical")(
      org.apache.spark.sql.graftshim.Shims.queryExecution(state).executedPlan)
    val rows = graft.util.Timing.phase("put.collect")(state.collect())
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
  *   <root>/<fp-hash>/data-<ts>/   parquet state, written DISTRIBUTED
  *   <root>/<fp-hash>/meta.json    {timestampMicros, dataDir, schema}
  *
  * The meta file is committed via write-temp + atomic rename, so readers
  * either see the previous complete version or the new one. State never
  * passes through the driver: at 100 TB / millions of groups the put is a
  * parallel parquet write and the warm read is a parallel parquet scan
  * that unions straight into the partial-merge aggregation.
  *
  * Global bounds (all OFF by default; the durable counterpart of
  * [[MemoryQueryCache]]'s maxEntries/ttlMs, which previously had no disk
  * analog — distinct fingerprints would accumulate forever): `maxEntries`
  * caps live fingerprints, `maxBytes` caps total on-disk state,
  * `ttlMs` expires entries not written for that long. A sweep piggybacks
  * on put at most once per `sweepIntervalMs` and EVICTS by committing
  * tombstone heads — reader-safe like invalidation: files age out through
  * the grace window, never yanked mid-scan. An evicted query just runs
  * cold on its next appearance and re-caches.
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

  /** Latest committed meta version in `dir`. Meta files are immutable and
    * versioned (`meta-<v>.json`, appearing atomically via temp+rename), so
    * a reader always sees SOME complete version — there is no
    * delete-then-replace window. */
  private def latestMeta(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Option[Meta] = {
    if (!fs.exists(dir)) return None
    val versions = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("meta-") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("meta-").stripSuffix(".json").toLongOption)
    if (versions.isEmpty) None
    else Some(readMeta(fs, new Path(dir, s"meta-${versions.max}.json")))
  }

  override def get(fingerprint: String): Option[CachedState] = {
    val spark = SparkSession.active
    val key = QueryCache.keyHash(fingerprint)
    hashToFp.put(key, fingerprint)
    val dir = new Path(rootDir, key)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestMeta(fs, dir).filterNot(_.tombstone).map { meta =>
      val dataPaths = meta.allDataDirs.map(d => new Path(dir, d).toString)
      CachedState(meta.timestampMicros, meta.schema,
        s => s.read.schema(meta.schema).parquet(dataPaths: _*))
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
    val key = QueryCache.keyHash(fingerprint)
    hashToFp.put(key, fingerprint)
    val dir = new Path(rootDir, key)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = latestMeta(fs, dir)
    val version = math.max(timestampMicros, old.map(_.version + 1).getOrElse(0L))
    // unique per-writer suffix: two concurrent puts that compute the same
    // version can never collide on a data directory (one meta rename wins;
    // the loser's directory becomes an orphan collected by cleanup below)
    val dataDir = s"data-$version-${java.util.UUID.randomUUID.toString.take(8)}"
    val dataPath = new Path(dir, dataDir)
    // timestamp type and file sizing: see writeState
    val rows = writeState(state, dataPath)
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
      org.apache.spark.sql.graftshim.Shims.sourcePaths(
        org.apache.spark.sql.graftshim.Shims.queryExecution(state).analyzed)
        .filterNot(p => rootStr.nonEmpty && underRoot(p)).distinct
    } catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
    // measure-index rows recorded by the executor just before this put:
    // persisted in the meta (with the fingerprint itself — directories
    // are keyed by its hash) so measure subsumption works cross-process
    val (baseFp, measures) = recordedMeasures(fingerprint)
      .getOrElse(("", Seq.empty))
    writeMetaAtomic(fs, dir,
      Meta(timestampMicros, dataDir, state.schema, srcPaths,
        fingerprint, baseFp, measures,
        // the full state's row count, so the first putAppend after this
        // put (a compaction, on an append chain) reads no footer of it
        segRows = if (rows >= 0) Seq(dataDir -> rows) else Nil), version)
    // DEFERRED cleanup: a reader that resolved the previous meta — or a
    // long warm scan still streaming an older data-<v> — must not get
    // FileNotFound mid-read. Superseded versions stay on disk until they
    // are ≥ keepVersions behind the head AND older than graceMs; only
    // then are their meta + data (and any orphaned data dirs) deleted.
    try cleanup(fs, dir) catch { case _: Exception => () }
    try globalSweep(fs) catch { case _: Exception => () }
    spark.read.schema(state.schema).parquet(dataPath.toString)
  }

  /** Write one state segment to `path` and return its row count (-1 if
    * unknown), taken from the write itself, not from its footers.
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
    * Size-coalesced state files: aggregated state is orders of magnitude
    * smaller than its input, but the final stage inherits the session's
    * shuffle-partition count, and AQE's parallelismFirst default keeps
    * those tiny partitions for CPU spread — so a few-hundred-row state
    * wrote one near-empty parquet file PER PARTITION (32 here), paying
    * task-commit latency on the write and per-file open cost on every
    * later state read. parallelismFirst=false makes AQE coalesce the
    * pre-write shuffle to its advisory byte size instead — one file for
    * KB-scale state, and still one task per ~64 MB for genuinely large
    * row-grain states (size-derived, not a core-count tune). It acts
    * only where AQE is on: the executor's warm-commit confs turn AQE off,
    * and their shuffle-partition count then sets the file count.
    * `adaptive` turns AQE back on for the write, so it coalesces by size
    * whatever the caller's confs: append segments take it (a segment
    * written as one file per shuffle partition multiplied the files every
    * answer over the chain opens; paired runs were faster with it). Full
    * puts keep the caller's choice (forcing AQE there made probe-served
    * ad-hoc commits slower). */
  private def writeState(df: DataFrame, path: Path,
      adaptive: Boolean = false): Long =
    org.apache.spark.sql.graftshim.Shims.withIsolatedConf(df.sparkSession,
      Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") ++
        (if (adaptive) Seq("spark.sql.adaptive.enabled" -> "true")
         else Nil): _*) { s =>
      org.apache.spark.sql.graftshim.Shims.writeParquet(
        org.apache.spark.sql.graftshim.Shims.ofRows(s,
          org.apache.spark.sql.graftshim.Shims.queryExecution(df).analyzed),
        path.toString)
    }

  /** footer-derived row count of one segment (driver-side, no Spark
    * job); -1 = unknown. Only for segments whose meta carries no count
    * (written before counts were recorded). */
  private def footerRows(fs: org.apache.hadoop.fs.FileSystem,
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

  /** O(append) commit: write ONLY the delta as a new segment and commit
    * a meta whose data is the previous chain plus that segment — readers
    * see the old complete chain or the new one (same temp+rename
    * atomicity as put). At `appendChainMax` segments, or when the delta
    * trips `compactIfDeltaFraction`, the method declines and the
    * caller's full put compacts the chain. Concurrent appends race like
    * concurrent puts: one meta rename wins, the loser's segment becomes
    * an unreferenced orphan reaped by cleanup, and the loser's returned
    * replay is still self-consistent for its own run's watermark. */
  override def putAppend(fingerprint: String, timestampMicros: Long,
      delta: DataFrame,
      compactIfDeltaFraction: Option[Double] = None): Option[DataFrame] = {
    val spark = delta.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val key = QueryCache.keyHash(fingerprint)
    hashToFp.put(key, fingerprint)
    val dir = new Path(rootDir, key)
    val fs = dir.getFileSystem(conf)
    val old = latestMeta(fs, dir).filterNot(_.tombstone).getOrElse(return None)
    if (old.allDataDirs.size >= appendChainMax) return None // compact
    if (old.schema.length != delta.schema.length ||
        !old.schema.fields.zip(delta.schema.fields).forall {
          case (a, b) => a.name == b.name && a.dataType == b.dataType
        }) return None
    val version = math.max(timestampMicros, old.version + 1)
    val dataDir = s"data-$version-${java.util.UUID.randomUUID.toString.take(8)}"
    val dataPath = new Path(dir, dataDir)
    // a delta segment is small by construction (one refresh band's
    // aggregate): one size-coalesced file, even under AQE-off commit confs
    val written = writeState(delta, dataPath, adaptive = true)
    // an all-empty delta (a no-op refresh) must not grow the chain — an
    // empty segment per refresh would force a full-view compaction every
    // appendChainMax refreshes of an UNCHANGED view. The write's own
    // row count decides (footers only if the write reported none); on
    // zero the segment is dropped, no meta commits, and the watermark
    // intentionally stays put (the next delta scan prunes to the same
    // nothing).
    val deltaRows =
      if (written >= 0) written else footerRows(fs, conf, dir, dataDir)
    if (deltaRows == 0L) {
      try fs.delete(dataPath, true) catch { case _: Exception => () }
      val paths = old.allDataDirs.map(d => new Path(dir, d).toString)
      return Some(spark.read.schema(old.schema).parquet(paths: _*))
    }
    // per-segment row counts: memoized values first, footers once for
    // legacy segments (feeds the fraction rule and future appends)
    val recordedRows = old.segRows.toMap
    val chainRows: Seq[(String, Long)] = old.allDataDirs.map(s =>
      s -> recordedRows.getOrElse(s, footerRows(fs, conf, dir, s)))
    // delta-fraction compaction (aggregate chains): a delta this large
    // re-merges about as cheaply as it chains, and chaining it would
    // multiply answer-time state reads — decline, the caller's full put
    // compacts. Unknown counts (-1) disable the rule conservatively.
    val declineForFraction = compactIfDeltaFraction.exists { f =>
      val oldTotal = chainRows.map(_._2).sum
      deltaRows > 0 && oldTotal >= 0 && chainRows.forall(_._2 >= 0) &&
        deltaRows.toDouble >= f * (oldTotal + deltaRows)
    }
    if (declineForFraction) {
      try fs.delete(dataPath, true) catch { case _: Exception => () }
      return None
    }
    writeMetaAtomic(fs, dir,
      Meta(timestampMicros, dataDir, old.schema, old.sourcePaths,
        fingerprint, old.baseFp, old.measures,
        extraDataDirs = old.allDataDirs,
        // carry the known-max map forward (the new segment stays
        // "unknown" until a banded refresh resolves it from footers)
        segMaxTs = old.segMaxTs,
        // never memoize an unknown (-1) count: it would pin the fraction
        // rule off for the NEXT append too; left out, footers re-resolve
        segRows = chainRows.filter(_._2 >= 0) ++
          (if (deltaRows >= 0) Seq(dataDir -> deltaRows) else Nil)),
      version)
    try cleanup(fs, dir) catch { case _: Exception => () }
    val paths = (dataDir +: old.allDataDirs).map(d => new Path(dir, d).toString)
    Some(spark.read.schema(old.schema).parquet(paths: _*))
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
      timestampMicros: Long, temporalCol: String, floorMicros: Long,
      bandDelta: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.functions.col
    val spark = bandDelta.sparkSession
    val key = QueryCache.keyHash(fingerprint)
    hashToFp.put(key, fingerprint)
    val dir = new Path(rootDir, key)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val old = latestMeta(fs, dir).filterNot(_.tombstone).getOrElse(return None)
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
    if (old.schema.length != bandDelta.schema.length ||
        !old.schema.fields.zip(bandDelta.schema.fields).forall {
          case (a, b) => a.name == b.name && a.dataType == b.dataType
        }) return None
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
    val version = math.max(timestampMicros, old.version + 1)
    val floorCol = graft.plans.RunBound.timestamp(floorMicros)
    // settled/band segments are state-sized, not input-sized; each
    // write's row count is learned from the write (footers as fallback)
    val writtenRows = scala.collection.mutable.Map.empty[String, Long]
    def writeSeg(df: DataFrame, tag: String): String = {
      val name =
        s"data-$version-$tag${java.util.UUID.randomUUID.toString.take(8)}"
      val n = writeState(df, new Path(dir, name))
      writtenRows(name) = if (n >= 0) n else footerRows(fs, conf, dir, name)
      name
    }
    val settledDir: Option[String] = if (straddle.isEmpty) None else {
      val d = writeSeg(
        spark.read.schema(old.schema)
          .parquet(straddle.map(x => new Path(dir, x).toString): _*)
          .filter(col(temporalCol) < floorCol || col(temporalCol).isNull),
        "s")
      if (writtenRows(d) == 0L) { // straddlers held only band rows
        try fs.delete(new Path(dir, d), true) catch { case _: Exception => () }
        None
      } else Some(d)
    }
    val bandDir = writeSeg(bandDelta, "b")
    // no-op refresh: nothing settled AND the band re-scan found nothing —
    // committing an empty segment per dashboard refresh would grow the
    // chain toward a pointless compaction (same hazard putAppend guards
    // against)
    if (settledDir.isEmpty && straddle.isEmpty &&
        writtenRows(bandDir) == 0L) {
      try fs.delete(new Path(dir, bandDir), true)
      catch { case _: Exception => () }
      val paths = old.allDataDirs.map(d => new Path(dir, d).toString)
      return Some(spark.read.schema(old.schema).parquet(paths: _*))
    }
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
    writeMetaAtomic(fs, dir,
      Meta(timestampMicros, bandDir, old.schema, old.sourcePaths,
        fingerprint, old.baseFp, old.measures,
        extraDataDirs = tail, segMaxTs = segMax,
        segRows = segRowCounts), version)
    try cleanup(fs, dir) catch { case _: Exception => () }
    val paths = (bandDir +: tail).map(d => new Path(dir, d).toString)
    Some(spark.read.schema(old.schema).parquet(paths: _*))
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
  private def globalSweep(fs: org.apache.hadoop.fs.FileSystem): Unit = {
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
        val metas = fs.listStatus(d.getPath).filter(e =>
          e.getPath.getName.startsWith("meta-") &&
            e.getPath.getName.endsWith(".json"))
        if (metas.isEmpty) None
        else {
          val head = metas.maxBy(e => e.getPath.getName.stripPrefix("meta-")
            .stripSuffix(".json").toLongOption.getOrElse(-1L))
          if (readMeta(fs, head.getPath).tombstone) None // already dead
          else {
            val bytes =
              if (maxBytes > 0L) fs.getContentSummary(d.getPath).getLength
              else 0L
            Some(Live(d.getPath, head.getModificationTime, bytes))
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

  /** delete superseded/orphaned versions past the retention window */
  private def cleanup(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit = {
    val entries = fs.listStatus(dir)
    val metas = entries
      .filter(e => e.getPath.getName.startsWith("meta-") &&
        e.getPath.getName.endsWith(".json"))
      .flatMap(e => e.getPath.getName.stripPrefix("meta-")
        .stripSuffix(".json").toLongOption.map(v => (v, e)))
      .sortBy(-_._1)
    // ONE read per meta file (on an object store each read is a remote
    // GET; the orphan pass below reuses this map instead of re-reading).
    // A meta references its WHOLE data-dir set: append-chain metas (row
    // state) share segments with their ancestors, so liveness must be
    // judged per DIR across all kept metas, never per meta.
    val metaDataDirs: Map[Long, Seq[String]] = metas.flatMap { case (v, e) =>
      try Some(v -> readMeta(fs, e.getPath).allDataDirs)
      catch { case _: Exception => None }
    }.toMap
    // under a tombstone head the entry is dead: no reader will resolve
    // an older version on purpose, so only the tombstone itself is kept
    // and everything below it ages out after the grace window
    val headIsTomb = metas.headOption
      .flatMap(m => metaDataDirs.get(m._1)).exists(_.exists(_.endsWith("-tomb")))
    val keepN = if (headIsTomb) 1 else math.max(1, keepVersions)
    val keptMetas = metas.take(keepN)
    val liveDataDirs: Set[String] =
      keptMetas.flatMap(m => metaDataDirs.getOrElse(m._1, Nil)).toSet
    val referencedDirs: Set[String] = metaDataDirs.values.flatten.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    metas.drop(keepN).foreach { case (v, e) =>
      if (e.getModificationTime < cutoff) {
        try {
          metaDataDirs.getOrElse(v, Nil).filterNot(liveDataDirs.contains)
            .foreach(d => fs.delete(new Path(dir, d), true))
          fs.delete(e.getPath, false)
        } catch { case _: Exception => () }
      }
    }
    // Orphaned data dirs: not referenced by ANY meta and past the grace
    // period. A writer's meta lands only AFTER its parquet write, so an
    // unreferenced dir may be an IN-FLIGHT write, not garbage — only
    // reap it once its write visibly completed (_SUCCESS present: a
    // loser of a concurrent same-version race) or after `abandonedMs`
    // (crashed writer).
    entries.filter(e => e.isDirectory && e.getPath.getName.startsWith("data-"))
      .foreach { e =>
        val name = e.getPath.getName
        val age = System.currentTimeMillis() - e.getModificationTime
        lazy val completed =
          try fs.exists(new Path(e.getPath, "_SUCCESS"))
          catch { case _: Exception => false }
        if (!referencedDirs.contains(name) && age > graceMs &&
            (completed || age > abandonedMs))
          try fs.delete(e.getPath, true) catch { case _: Exception => () }
      }
    // temp metas / repair sidecars (per-writer unique names) left by
    // crashed writers
    entries.filter(e => !e.isDirectory &&
        (e.getPath.getName.startsWith(".meta-") ||
          e.getPath.getName.startsWith(".repair-"))
        && e.getPath.getName.endsWith(".tmp"))
      .foreach { e =>
        if (System.currentTimeMillis() - e.getModificationTime > abandonedMs)
          try fs.delete(e.getPath, false) catch { case _: Exception => () }
      }
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

  private def tombstone(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit = {
    if (!fs.exists(dir)) return
    val head = latestMeta(fs, dir)
    if (head.forall(_.tombstone)) return // nothing live to invalidate
    val version = math.max(System.currentTimeMillis() * 1000L,
      head.map(_.version + 1).getOrElse(0L))
    writeMetaAtomic(fs, dir,
      Meta(head.map(_.timestampMicros).getOrElse(0L), s"data-$version-tomb",
        head.map(_.schema).getOrElse(new StructType()), Seq.empty), version)
    // a dead entry has nothing left to repair — drop pending sidecars so
    // they don't linger in the dir (a fresh put over the tombstone would
    // otherwise see stale ranges and pay a pointless bounded re-scan)
    try fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("repair-") &&
        p.getName.endsWith(".json"))
      .foreach(p => try { fs.delete(p, false); () }
        catch { case _: Exception => () })
    catch { case _: Exception => () }
    try cleanup(fs, dir) catch { case _: Exception => () }
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
          val body = s"""{"loMicros":$loMicros,"hiMicros":$hiMicros}"""
          val tmp = new Path(d.getPath, s".repair-$token.json.tmp")
          val out = fs.create(tmp, true)
          try out.write(body.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          if (fs.rename(tmp, new Path(d.getPath, s"repair-$token.json")))
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
            val in = fs.open(p)
            val txt = try {
              // read to EOF — a remote stream may legally return fewer
              // bytes per read() than the file holds
              val out = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](4096)
              var n = in.read(buf)
              while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
              new String(out.toByteArray, StandardCharsets.UTF_8)
            } finally in.close()
            def num(k: String): Option[Long] = {
              val i = txt.indexOf("\"" + k + "\":")
              if (i < 0) None
              else txt.substring(i + k.length + 3)
                .takeWhile(c => c.isDigit || c == '-').toLongOption
            }
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
  }

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem, p: Path): Meta = {
    val in = fs.open(p)
    val bytes = try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
    val s = new String(bytes, StandardCharsets.UTF_8)
    // minimal parser for our own flat json
    def fieldOpt(name: String): Option[String] = {
      val i = s.indexOf("\"" + name + "\":")
      if (i < 0) return None
      val rest = s.substring(i + name.length + 3).trim
      Some(if (rest.startsWith("\"")) {
        // string value: schema json is itself escaped
        val sb = new StringBuilder
        var j = 1
        var done = false
        while (!done) {
          rest.charAt(j) match {
            case '\\' =>
              val e = rest.charAt(j + 1)
              sb.append(if (e == 'n') '\n' else e) // invert esc's \n
              j += 2
            case '"' => done = true
            case c => sb.append(c); j += 1
          }
        }
        sb.toString
      } else rest.takeWhile(c => c.isDigit || c == '-'))
    }
    def field(name: String): String = {
      val v = fieldOpt(name)
      require(v.isDefined, s"missing $name in meta.json")
      v.get
    }
    Meta(field("timestampMicros").toLong, field("dataDir"),
      DataType.fromJson(field("schema")).asInstanceOf[StructType],
      // newline-joined; absent in metas written before r6 (treated as
      // "unknown sources" — invalidateForTable skips those entries)
      fieldOpt("sourcePaths").map(_.split('\n').toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty),
      fieldOpt("fingerprint").getOrElse(""),
      fieldOpt("baseFp").getOrElse(""),
      // one line per measure: `descriptor|col1,col2`; absent in metas
      // written before r9 (entry simply never matches a measure probe)
      fieldOpt("measures").map(_.split('\n').toSeq.filter(_.nonEmpty).map {
        line =>
          val i = line.indexOf('|')
          (line.substring(0, i),
            line.substring(i + 1).split(',').toSeq.filter(_.nonEmpty))
      }).getOrElse(Seq.empty),
      // append-chain tail; absent in metas written before r12
      fieldOpt("extraDataDirs").map(_.split('\n').toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty),
      // one line per known segment max: `dataDir|maxTsMicros`; absent in
      // metas written before r13 (banded refresh falls back to footers)
      fieldOpt("segMaxTs").map(_.split('\n').toSeq.filter(_.nonEmpty).map {
        line =>
          val i = line.lastIndexOf('|')
          (line.substring(0, i), line.substring(i + 1).toLong)
      }).getOrElse(Seq.empty),
      // one line per segment row count: `dataDir|rows`; absent pre-r13
      fieldOpt("segRows").map(_.split('\n').toSeq.filter(_.nonEmpty).map {
        line =>
          val i = line.lastIndexOf('|')
          (line.substring(0, i), line.substring(i + 1).toLong)
      }).getOrElse(Seq.empty))
  }

  private def writeMetaAtomic(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      meta: Meta, version: Long): Unit = {
    def esc(x: String): String =
      x.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c => c.toString
      }
    val measureBlob = meta.measures
      .map { case (d, cols) => s"$d|${cols.mkString(",")}" }.mkString("\n")
    val segMaxBlob = meta.segMaxTs
      .map { case (d, mx) => s"$d|$mx" }.mkString("\n")
    val segRowsBlob = meta.segRows
      .map { case (d, r) => s"$d|$r" }.mkString("\n")
    val json =
      s"""{"timestampMicros":${meta.timestampMicros},"dataDir":"${esc(meta.dataDir)}","schema":"${esc(meta.schema.json)}","sourcePaths":"${esc(meta.sourcePaths.mkString("\n"))}","fingerprint":"${esc(meta.fingerprint)}","baseFp":"${esc(meta.baseFp)}","measures":"${esc(measureBlob)}","extraDataDirs":"${esc(meta.extraDataDirs.mkString("\n"))}","segMaxTs":"${esc(segMaxBlob)}","segRows":"${esc(segRowsBlob)}"}"""
    // per-writer temp name: two concurrent puts that computed the SAME
    // version (both read the same head) must not share a temp path — a
    // shared `.meta-<v>.json.tmp` lets one writer's rename steal the
    // other's in-flight file (observed as a chmod-on-missing-file failure
    // in the CacheSpec race test). With unique temps, both renames target
    // the same committed name and either complete meta winning is correct.
    val tmp = new Path(dir,
      s".meta-$version-${java.util.UUID.randomUUID.toString.take(8)}.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val target = new Path(dir, s"meta-$version.json")
    // NO delete-before-rename: a target can only pre-exist when a
    // concurrent put computed the same version (sequential puts always
    // bump past the head), and deleting it first opens a window where a
    // reader of that version finds NO meta. POSIX rename atomically
    // replaces (readers see old-complete or new-complete); an FS that
    // refuses to clobber fails the rename — the other writer's meta is
    // complete and equally valid, accept it and drop our temp.
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      require(fs.exists(target), s"atomic meta commit failed for $dir")
    }
  }
}
