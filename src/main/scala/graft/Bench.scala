package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cache.MemoryQueryCache
import graft.sources.Tables

/** Bench main: per-query seconds for every SparkEntry query, plus the
  * BASELINE.md incremental-cache envelope on the demo-equivalent query
  * (`avg(value), count(*) WHERE value > 1`, examples/demo.rs:26):
  *
  *  - cold vs warm wall-clock at 1% / 10% appended data;
  *  - records scanned cold vs warm (the scale-invariant proof: a warm run
  *    must read only the appended rows — at 100 TB that ratio, not the
  *    local wall-clock, is the speedup);
  *  - vanilla (uncached) run on the full data for overhead comparison.
  *
  * The events table is deterministically multiplied (×SPARK_GRAFT_BENCH_MULT,
  * default 32) so the scan is the dominant cost like it would be at real
  * scale — at sf0.1 the raw table is ~100k rows and every run is
  * JVM-overhead-bound, which says nothing about scan savings.
  * One JSON line on stdout.
  */
object Bench {
  private val recordsRead = new LongAdder

  // wall-clock phase marks on stderr (diagnostics only — the driver
  // parses stdout; no timed region or JSON key changes): the r13 32-core
  // run died at its budget (rc 124) with nothing attributing WHERE the
  // wall went, so every phase boundary now stamps elapsed seconds
  private val t0Wall = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[bench-phase] ${(System.nanoTime() - t0Wall) / 1e9}%8.1f s  $name")

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def timedScan[A](f: => A): (Double, Long) = {
    recordsRead.reset()
    val sec = time(f)
    (sec, recordsRead.sum())
  }

  /** Equalize I/O state before each timed incremental run: at the scale
    * this cache targets, no run finds its table in a page cache — a
    * measurement where cold happens to re-read what the writer just
    * cached (or vanilla pays the eviction another run caused) measures
    * the OS, not the plan. Root-only; silently best-effort elsewhere. */
  private def dropOsPageCache(): Unit =
    if (sys.env.contains("SPARK_GRAFT_BENCH_NODROP")) () else
    try {
      new ProcessBuilder("sync").start().waitFor()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/proc/sys/vm/drop_caches"), "3")
      ()
    } catch { case _: Throwable => () }

  /** JIT the whole cache code path (decide/decompose/put/replay) on a
    * throwaway 2-row table so the timed runs below measure scan+plan
    * work, not first-call class loading and interpreter warmup. */
  private def warmupCachePath(spark: SparkSession): Unit = {
    import spark.implicits._
    val work = s"${sys.props("java.io.tmpdir")}/graft_bench/jit"
    Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.5),
      (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 2.5))
      .toDF("ts", "value").write.mode("overwrite").parquet(work)
    val cache = new MemoryQueryCache()
    def q() = spark.read.parquet(work).filter(col("value") > 1)
      .agg(round(avg("value"), 2).as("avg_value"), count(lit(1)).as("cnt"))
    QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts")).run(q()).collect()
    QueryCacheSession(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts")).run(q()).collect()
  }

  /** cold/warm/vanilla seconds + scan row counts for one append fraction */
  private def incremental(spark: SparkSession, sfDir: String, pct: Double,
      mult: Int): Map[String, Double] = {
    val tag = (pct * 100).toInt
    // range-partition the SMALL source before the ×mult explode: each
    // partition's explode output stays time-ordered with disjoint ranges,
    // so the multiplied history writes in parallel WITHOUT shuffling the
    // multiplied rows (the source table is verified time-ordered).
    // Partition count = session parallelism (was a hard-coded 16, which
    // left half a 32-core box idle for the ~7 min the 1.6B-row encode
    // takes — guide §2: size parallelism to the machine, and the r13 run
    // died at its wall budget with the two history builds costing 628 s);
    // floor 16 keeps the 8-core sidecar's file layout comparable.
    val buildPar = math.max(16, spark.sparkContext.defaultParallelism)
    val base = Tables.events(spark, sfDir)
      .repartitionByRange(buildPar, col("ts")).sortWithinPartitions("ts")
      .withColumn("_i", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("event_id", col("event_id") * mult + col("_i"))
      .withColumn("value", col("value") + col("_i") * 0.001)
      .drop("_i")
    val splitUs = Tables.events(spark, sfDir).selectExpr(
      s"CAST(percentile_approx(unix_micros(ts), ${1.0 - pct}) AS LONG)")
      .first().getLong(0)
    val work = s"${sys.props("java.io.tmpdir")}/graft_bench/x$tag"
    val workPath = new org.apache.hadoop.fs.Path(work)
    val fs = workPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(workPath)) fs.delete(workPath, true)
    phase(s"incr($tag%): history write start")
    val splitTs = timestamp_micros(lit(splitUs))
    // date-partitioned time-series layout: the warm run's derived
    // `ts_day >= date(wm)` conjunct prunes history DIRECTORIES at
    // planning (graft.sources.Layouts.writeTimeSeriesPartitioned +
    // QueryCacheConfig.temporalPartitionColumn), so warm task count
    // follows the append, not the history; row-group stats handle the
    // boundary day. Input is range-partitioned by ts, so each write task
    // covers few dates and file counts stay bounded.
    graft.sources.Layouts.writeTimeSeriesPartitioned(
      base.filter(col("ts") < splitTs), work)

    def q(df: DataFrame) = df.filter(col("value") > 1)
      .agg(round(avg("value"), 2).as("avg_value"), count(lit(1)).as("cnt"))

    phase(s"incr($tag%): history written")
    // untimed primer JITs the decode/agg path for this schema; the page
    // cache it populates is dropped again before every timed run
    val workSchema = spark.read.parquet(work).schema
    def readWork() = spark.read.schema(workSchema).parquet(work)
    readWork().agg(max(col("ts")), sum(col("value"))).collect()

    // PAIRED repetitions (default 7): every ratio this bench reports is a
    // median of PER-REPETITION ratios between runs executed back-to-back
    // on the same machine state — never a ratio of medians of two
    // separately-noised run blocks. One background stall then skews one
    // rep's ratio (absorbed by the median), not the headline number.
    // Each repetition gets its own cache so every cold is a true cold and
    // every warm replays the same cold-state + append transition.
    // Leg ORDER alternates per rep (even: cached leg first; odd: vanilla
    // first): machine load that ramps during a rep otherwise lands
    // systematically on whichever leg always runs second, biasing every
    // per-rep ratio the same way — alternation turns that drift into
    // symmetric noise the median absorbs.
    // 7 paired reps: at ×8192 each leg is seconds, so reps cost ~6 s each
    // while the median's robustness grows — the r11 trial at 5 reps saw
    // per-rep overhead ratios swing 0.28–2.01 on identical scans (IO
    // noise) and the median land outside the gate. The r10 wall-clock
    // blowup came from the 2× query pass and the ×16384 table build, not
    // reps; the whole 7-rep run fits ~15 min.
    // shared by both A/B blocks: clone a settled cache dir per leg
    def cloneDir(src: String, dst: String): Unit = {
      val d = new org.apache.hadoop.fs.Path(dst)
      fs.delete(d, true)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(src), fs, d, false,
        spark.sparkContext.hadoopConfiguration)
      ()
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "7").toInt
    def median(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)
    val caches = Vector.fill(reps)(new MemoryQueryCache())

    // the table handle is built (= directory tree listed) ONCE, untimed:
    // both sides of every ratio get the same pre-listed FileIndex, the
    // way any real deployment holds a catalog table, so ratios compare
    // query execution, not driver-side file listing with cold dentries
    val tableCold = readWork()
    // UNTIMED primer rep-pair (r6: the 1pct block always runs FIRST and
    // its early reps absorbed session-startup turbulence — codegen/JIT of
    // this exact plan shape, IO-path warmup after the big table write —
    // while the 10pct block, running second, inherited a settled machine
    // and resolved its gate at 1.02; vanilla_pre_1pct reps meanwhile
    // spanned 4.8–25 s on identical work). One discarded pair of legs,
    // identical in shape to a timed rep, buys both sides the same settled
    // starting state without hiding anything from the timed reps.
    locally {
      val primer = QueryCacheSession(spark, QueryCacheConfig(
        new MemoryQueryCache(), defaultTemporalColumn = "ts",
        overrideNowMicros = Some(splitUs)))
      dropOsPageCache(); primer.run(q(tableCold)).collect()
      dropOsPageCache(); q(tableCold).collect()
      ()
    }
    // pre-append: cold (cache machinery, miss path) and an uncached
    // vanilla run OF THE SAME SCAN back-to-back — the paired rep for
    // the cold-overhead ratio, on identical data and adjacent in time
    val pres = caches.zipWithIndex.map { case (cache, i) =>
      val cold = QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts", overrideNowMicros = Some(splitUs)))
      def coldLeg() = { dropOsPageCache(); timedScan(cold.run(q(tableCold)).collect()) }
      def vanLeg() = { dropOsPageCache(); timedScan(q(tableCold).collect()) }
      if (i % 2 == 0) { val c = coldLeg(); val v = vanLeg(); (c, v) }
      else { val v = vanLeg(); val c = coldLeg(); (c, v) }
    }
    val coldPres = pres.map(_._1)
    val vanPres = pres.map(_._2)
    phase(s"incr($tag%): pre-append rep pairs done")

    // append written 8-way range-partitioned: a real append stream arrives
    // from many writers as several files — and the warm scan's decode
    // parallelism follows the append's file/row-group count
    graft.sources.Layouts.writeTimeSeriesPartitioned(
      base.filter(col("ts") >= splitTs).repartitionByRange(8, col("ts")),
      work, mode = "append")

    val tableWarm = readWork()
    // post-append: every rep measures an ADJACENT cold/warm/vanilla
    // triplet on the SAME post-append table, seconds apart — a background
    // load spike then lands on all three legs of a rep and cancels out of
    // that rep's RATIOS, instead of poisoning one whole block (the
    // pre-append colds above run minutes before the warms; a spike
    // arriving during the append write used to hit every warm and no
    // cold). The cold leg is a FRESH-cache miss on the full table — the
    // honest "cold at N% append": what an uncached engine pays for this
    // exact query right now.
    val posts = caches.zipWithIndex.map { case (cache, i) =>
      val warm = QueryCacheSession(spark, QueryCacheConfig(cache,
        defaultTemporalColumn = "ts")
        .withTemporalPartitioning("ts_day"))
      val coldFull = QueryCacheSession(spark, QueryCacheConfig(
        new MemoryQueryCache(), defaultTemporalColumn = "ts"))
      def coldLeg() = { dropOsPageCache(); timedScan(coldFull.run(q(tableWarm)).collect()) }
      def warmLeg() = { dropOsPageCache(); timedScan(warm.run(q(tableWarm)).collect()) }
      def vanLeg() = { dropOsPageCache(); timedScan(q(tableWarm).collect()) }
      // the short warm leg stays in the middle both ways; the two long
      // full-scan legs swap ends so ramping load hits them symmetrically
      if (i % 2 == 0) { val c = coldLeg(); val w = warmLeg(); val v = vanLeg(); (c, w, v) }
      else { val v = vanLeg(); val w = warmLeg(); val c = coldLeg(); (c, w, v) }
    }
    val colds = posts.map(_._1)
    val warms = posts.map(_._2)
    val vanPosts = posts.map(_._3)
    phase(s"incr($tag%): post-append rep triplets done")

    // Headline ratios = median of PER-REP ratios between adjacent legs,
    // ALL using the PLAIN median. For speedup/warmVsVanilla: an additive
    // stall distorts the SHORT leg far more (a +4 s stall doubles a 4 s
    // cold but 10×es a 0.5 s warm), so stalls bias per-rep ratios DOWN
    // as often as up. For overhead the two legs are the SAME scan
    // (cold-with-cache vs vanilla, true ratio ≈ 1): a stall lands on
    // either leg with equal probability and pushes the ratio up or down
    // symmetrically, so the median is the unbiased robust estimator
    // there too. The one-sided drop-min/upper-median form used through
    // r6 presumed stalls bias only downward; on a ~1.0 ratio it instead
    // converts symmetric noise into a systematic +20-50% bias — the
    // twice-red gate read 1.99 while the engine measured 0.99× vanilla
    // on the full-scan legs of the very same run. A REAL overhead
    // regression multiplies every rep and moves the median just as far;
    // the one-sided form survives as the *_high diagnostic key, and the
    // per-rep raws below let a reader recompute any estimator.
    def conservativeHigh(rs: Seq[Double]): Double = {
      val kept = rs.sorted.drop(1)
      if (kept.isEmpty) rs.head else kept(kept.size / 2)
    }
    val speedup = median(colds.zip(warms).map { case (c, w) => c._1 / w._1 })
    val overheadRatios = coldPres.zip(vanPres).map { case (c, v) => c._1 / v._1 }
    val overhead = median(overheadRatios)
    val warmVsVanilla =
      median(warms.zip(vanPosts).map { case (w, v) => v._1 / w._1 })

    // DURABLE WARM-COMMIT A/B (1% block only): the same warm transition
    // on a ParquetQueryCache with a HIGH-CARDINALITY grouping (user ×
    // day — the headline no-group query's state is one row, which hides
    // state-write cost entirely). Chained O(append) commit
    // (aggregateStateAppend, the default) vs the full merged rewrite
    // (flag off), cold state built once under strict bounds (the table
    // already holds post-append rows) and CLONED per leg — both legs
    // replay the identical cold→append transition. 3 paired reps,
    // alternating order; ratio = median full/chain.
    val durable: Map[String, Double] = if (tag != 1) Map.empty else try {
      phase(s"incr($tag%): durable A/B start")
      // per-entity rollup: event_id rides the timeline (corr ≈ 1.0 with
      // ts, preserved by the ×mult id rewrite), so DIV 1024 yields a
      // time-correlated key — ~1.6M groups at ×16384, of which a 1%
      // append touches ~1%. That is the state-write-bound dashboard
      // shape; the headline no-group query's one-row state hides the
      // commit cost entirely.
      def qHi(df: DataFrame) = df.filter(col("value") > 1)
        .groupBy(expr("event_id DIV 1024").as("ent"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      val cacheBase = s"${sys.props("java.io.tmpdir")}/graft_bench/durcache"
      val cacheBasePath = new org.apache.hadoop.fs.Path(cacheBase)
      if (fs.exists(cacheBasePath)) fs.delete(cacheBasePath, true)
      val coldDir = s"$cacheBase/cold"
      def cfgDur(dir: String, now: Option[Long], chain: Boolean) =
        QueryCacheConfig(new graft.cache.ParquetQueryCache(dir),
          defaultTemporalColumn = "ts", overrideNowMicros = now,
          strictUpperBound = true)
          .withTemporalPartitioning("ts_day")
          .copy(aggregateStateAppend = chain)
      QueryCacheSession(spark, cfgDur(coldDir, Some(splitUs), chain = true))
        .run(qHi(tableWarm)).collect()
      def copyDir(dst: String): Unit = cloneDir(coldDir, dst)
      def dirBytes(dir: String): Double =
        try fs.getContentSummary(new org.apache.hadoop.fs.Path(dir))
          .getLength.toDouble
        catch { case _: Throwable => -1.0 }
      // (chain sec, full sec, chain bytes written, full bytes written):
      // bytes are the scale-invariant face of the O(append) claim — at
      // 100 TB the state is GBs and the written-bytes ratio IS the win,
      // whatever local fixed costs do to sub-second timings
      val legs = (0 until 3).map { i =>
        val (cd, fd) = (s"$cacheBase/chain$i", s"$cacheBase/full$i")
        copyDir(cd); copyDir(fd)
        def leg(dir: String, chain: Boolean): (Double, Double) = {
          val before = dirBytes(dir)
          dropOsPageCache()
          val sec = timedScan(QueryCacheSession(
            spark, cfgDur(dir, None, chain = chain))
            .run(qHi(tableWarm)).collect())._1
          val after = dirBytes(dir)
          // -1 sentinel from a failed getContentSummary must not flow
          // into the delta (a negative "bytes written" would poison the
          // published ratio) — mark the leg's bytes unknown instead
          (sec, if (before < 0 || after < 0) -1.0 else after - before)
        }
        if (i % 2 == 0) {
          val c = leg(cd, chain = true); val f = leg(fd, chain = false)
          (c._1, f._1, c._2, f._2)
        } else {
          val f = leg(fd, chain = false); val c = leg(cd, chain = true)
          (c._1, f._1, c._2, f._2)
        }
      }
      legs.zipWithIndex.flatMap { case ((c, f, cb, fb), i) => Seq(
        s"durable_warm_${tag}pct_chain_rep$i" -> c,
        s"durable_warm_${tag}pct_full_rep$i" -> f,
        s"durable_warm_${tag}pct_chain_bytes_rep$i" -> cb,
        s"durable_warm_${tag}pct_full_bytes_rep$i" -> fb) }.toMap ++ Map(
        s"durable_warm_${tag}pct_chain_sec" -> median(legs.map(_._1)),
        s"durable_warm_${tag}pct_full_sec" -> median(legs.map(_._2)),
        s"durable_warm_chain_ratio_${tag}pct" ->
          median(legs.map(l => l._2 / l._1)),
        s"durable_warm_chain_bytes_ratio_${tag}pct" -> {
          // only legs where BOTH sides measured (drop -1 sentinels)
          val valid = legs.collect {
            case l if l._3 > 0 && l._4 >= 0 => l._4 / l._3 }
          if (valid.nonEmpty) median(valid) else -1.0
        })
    } catch { case e: Throwable =>
      System.err.println(s"[bench] durable A/B failed: $e")
      Map(s"durable_ab_failed_${tag}pct" -> 1.0)
    }

    // REPAIR vs INVALIDATE A/B (1% block only): a declared rewrite of
    // ONE day deep in history, remedied the new way (cache.repairRange →
    // the warm run drops only that day's buckets and re-scans the day +
    // the delta, directory-pruned by the ts_day layout) against the old
    // way (invalidateForTable → full-history cold rebuild). Same durable
    // cache, same dashboard-grain state (ent × day — repair needs a
    // bucket key), identical final state and answers on both legs. 3
    // paired reps on cloned warm dirs, alternating order; ratios =
    // median invalidate/repair for seconds AND scan rows — the rows
    // ratio is the scale-invariant face: at 100 TB the rebuild rescans
    // everything while the repair reads one day + the append.
    val repairAb: Map[String, Double] = if (tag != 1) Map.empty else try {
      phase(s"incr($tag%): repair A/B start")
      def qRep(df: DataFrame) = df.filter(col("value") > 1)
        .groupBy(date_trunc("day", col("ts")).as("day"),
          expr("event_id DIV 1024").as("ent"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      val cacheBase = s"${sys.props("java.io.tmpdir")}/graft_bench/repcache"
      val cacheBasePath = new org.apache.hadoop.fs.Path(cacheBase)
      if (fs.exists(cacheBasePath)) fs.delete(cacheBasePath, true)
      val coldDir = s"$cacheBase/cold"
      def cfgRep(dir: String, now: Option[Long]) =
        QueryCacheConfig(new graft.cache.ParquetQueryCache(dir),
          defaultTemporalColumn = "ts", overrideNowMicros = now,
          strictUpperBound = true)
          .withTemporalPartitioning("ts_day")
      // cold over history, one warm settle on the post-append table —
      // both legs then clone the same settled entry at the same watermark
      QueryCacheSession(spark, cfgRep(coldDir, Some(splitUs)))
        .run(qRep(tableWarm)).collect()
      QueryCacheSession(spark, cfgRep(coldDir, None))
        .run(qRep(tableWarm)).collect()
      // the rewritten day: ~30th time percentile, UTC-day aligned — deep
      // inside history so the repair's bounded re-scan has something to
      // prove against the rebuild's full scan
      val p30 = Tables.events(spark, sfDir).selectExpr(
        "CAST(percentile_approx(unix_micros(ts), 0.3) AS LONG)")
        .first().getLong(0)
      val dayUs = 86400000000L
      val dayLo = p30 - java.lang.Math.floorMod(p30, dayUs)
      val dayHi = dayLo + dayUs
      def copyDir(dst: String): Unit = cloneDir(coldDir, dst)
      val legs = (0 until 3).map { i =>
        val (rd, vd) = (s"$cacheBase/rep$i", s"$cacheBase/inv$i")
        copyDir(rd); copyDir(vd)
        def repLeg(): (Double, Long) = {
          require(new graft.cache.ParquetQueryCache(rd)
            .repairRange(work, dayLo, dayHi) >= 1, "repair matched nothing")
          dropOsPageCache()
          timedScan(QueryCacheSession(spark, cfgRep(rd, None))
            .run(qRep(tableWarm)).collect())
        }
        def invLeg(): (Double, Long) = {
          require(new graft.cache.ParquetQueryCache(vd)
            .invalidateForTable(work) >= 1, "invalidate matched nothing")
          dropOsPageCache()
          timedScan(QueryCacheSession(spark, cfgRep(vd, None))
            .run(qRep(tableWarm)).collect())
        }
        if (i % 2 == 0) { val r = repLeg(); val v = invLeg(); (r, v) }
        else { val v = invLeg(); val r = repLeg(); (r, v) }
      }
      legs.zipWithIndex.flatMap { case (((rs, rr), (vs, vr)), i) => Seq(
        s"repair_${tag}pct_rep$i" -> rs,
        s"invalidate_${tag}pct_rep$i" -> vs,
        s"repair_${tag}pct_rows_rep$i" -> rr.toDouble,
        s"invalidate_${tag}pct_rows_rep$i" -> vr.toDouble) }.toMap ++ Map(
        s"repair_${tag}pct_sec" -> median(legs.map(_._1._1)),
        s"invalidate_${tag}pct_sec" -> median(legs.map(_._2._1)),
        s"repair_speedup_${tag}pct" ->
          median(legs.map(l => l._2._1 / l._1._1)),
        s"repair_scan_reduction_${tag}pct" -> {
          val valid = legs.collect {
            case l if l._1._2 > 0 => l._2._2.toDouble / l._1._2 }
          if (valid.nonEmpty) median(valid) else -1.0
        })
    } catch { case e: Throwable =>
      System.err.println(s"[bench] repair A/B failed: $e")
      Map(s"repair_ab_failed_${tag}pct" -> 1.0)
    }

    // SHARED-DELTA A/B (1% block only): a 3-view dashboard refresh over
    // the same fact table inside one SharedDelta cycle (one persisted
    // delta scan feeds every view) vs three private delta scans. Cold
    // state is built ONCE under strict bounds on a ParquetQueryCache and
    // CLONED per leg, so both legs replay identical warm transitions.
    // Two faces per rep: seconds, and FILE-scheme bytes read (Hadoop
    // GlobalStorageStatistics — in-memory re-reads of the shared delta
    // don't count, so this is the true storage-I/O ratio). The bytes
    // face is the scale-invariant one: at any corpus size the unshared
    // leg reads the append once PER VIEW, the shared leg once PER CYCLE.
    val sharedAb: Map[String, Double] = if (tag != 1) Map.empty else try {
      phase(s"incr($tag%): shared A/B start")
      def v1(df: DataFrame) = df.filter(col("value") > 1)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      def v2(df: DataFrame) = df
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(avg("value").as("av"), count(lit(1)).as("c2"))
      def v3(df: DataFrame) = df.filter(col("value") > 2)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(min("value").as("mn"), max("value").as("mx"))
      val views: Seq[DataFrame => DataFrame] = Seq(v1, v2, v3)
      val cacheBase = s"${sys.props("java.io.tmpdir")}/graft_bench/shcache"
      val cbp = new org.apache.hadoop.fs.Path(cacheBase)
      if (fs.exists(cbp)) fs.delete(cbp, true)
      val coldDir = s"$cacheBase/cold"
      def cfgSh(dir: String) =
        QueryCacheConfig(new graft.cache.ParquetQueryCache(dir),
          defaultTemporalColumn = "ts", strictUpperBound = true)
          .withTemporalPartitioning("ts_day")
      locally { // capture bounded at the split (the append is on disk)
        val cold = QueryCacheSession(spark,
          cfgSh(coldDir).withOverrideNowMicros(splitUs))
        views.foreach(v => cold.run(v(tableWarm)).collect())
      }
      def fileBytes(): Long = {
        val s = org.apache.hadoop.fs.GlobalStorageStatistics.INSTANCE
          .get("file")
        if (s == null) 0L else s.getLong("bytesRead").longValue()
      }
      def copyDir(dst: String): Unit = cloneDir(coldDir, dst)
      def leg(dir: String, shared: Boolean): (Double, Double) = {
        val warm = QueryCacheSession(spark, cfgSh(dir))
        dropOsPageCache()
        val b0 = fileBytes()
        val sec = time {
          if (shared) warm.refreshCycle {
            views.foreach(v => warm.run(v(tableWarm)).collect()) }
          else views.foreach(v => warm.run(v(tableWarm)).collect())
        }
        (sec, (fileBytes() - b0).toDouble)
      }
      val legs = (0 until 3).map { i =>
        val (sd, ud) = (s"$cacheBase/sh$i", s"$cacheBase/un$i")
        copyDir(sd); copyDir(ud)
        if (i % 2 == 0) { val s = leg(sd, shared = true)
          val u = leg(ud, shared = false); (s, u) }
        else { val u = leg(ud, shared = false)
          val s = leg(sd, shared = true); (s, u) }
      }
      legs.zipWithIndex.flatMap { case (((ss, sb), (us, ub)), i) => Seq(
        s"shared_refresh_${tag}pct_rep$i" -> ss,
        s"unshared_refresh_${tag}pct_rep$i" -> us,
        s"shared_refresh_${tag}pct_bytes_rep$i" -> sb,
        s"unshared_refresh_${tag}pct_bytes_rep$i" -> ub) }.toMap ++ Map(
        s"shared_refresh_${tag}pct_sec" -> median(legs.map(_._1._1)),
        s"unshared_refresh_${tag}pct_sec" -> median(legs.map(_._2._1)),
        s"shared_delta_speedup_${tag}pct" ->
          median(legs.map(l => l._2._1 / l._1._1)),
        s"shared_delta_bytes_reduction_${tag}pct" -> {
          val valid = legs.collect {
            case l if l._1._2 > 0 => l._2._2 / l._1._2 }
          if (valid.nonEmpty) median(valid) else -1.0
        })
    } catch { case e: Throwable =>
      System.err.println(s"[bench] shared-delta A/B failed: $e")
      Map(s"shared_ab_failed_${tag}pct" -> 1.0)
    }

    // per-rep raw seconds ride along (cold_1pct_rep0…) so a reader can
    // audit the run-to-run variance behind every median directly from the
    // artifact — one background stall is then visible, not hidden.
    // KEY CONTRACT: cold_* keeps its historical meaning (pre-append miss
    // on the history table — comparable round over round); the adjacent
    // post-append fresh-miss legs the speedup pairs against are the NEW
    // cold_full_* keys, so no key silently changes quantity.
    val perRep =
      (coldPres.zipWithIndex.map { case (c, i) => s"cold_${tag}pct_rep$i" -> c._1 } ++
        warms.zipWithIndex.map { case (w, i) => s"warm_${tag}pct_rep$i" -> w._1 } ++
        colds.zipWithIndex.map { case (c, i) => s"cold_full_${tag}pct_rep$i" -> c._1 } ++
        vanPres.zipWithIndex.map { case (v, i) => s"vanilla_pre_${tag}pct_rep$i" -> v._1 } ++
        vanPosts.zipWithIndex.map { case (v, i) => s"vanilla_${tag}pct_rep$i" -> v._1 }).toMap
    phase(s"incr($tag%): block done")
    perRep ++ durable ++ repairAb ++ sharedAb ++ Map(
      s"cold_${tag}pct_sec" -> median(coldPres.map(_._1)),
      s"cold_full_${tag}pct_sec" -> median(colds.map(_._1)),
      s"warm_${tag}pct_sec" -> median(warms.map(_._1)),
      s"vanilla_${tag}pct_sec" -> median(vanPosts.map(_._1)),
      s"vanilla_pre_${tag}pct_sec" -> median(vanPres.map(_._1)),
      s"warm_speedup_${tag}pct_paired" -> speedup,
      s"cold_overhead_${tag}pct_paired" -> overhead,
      s"cold_overhead_${tag}pct_high" -> conservativeHigh(overheadRatios),
      s"warm_vs_vanilla_${tag}pct_paired" -> warmVsVanilla,
      s"cold_${tag}pct_rows" -> coldPres.head._2.toDouble,
      s"cold_full_${tag}pct_rows" -> colds.head._2.toDouble,
      s"warm_${tag}pct_rows" -> warms.head._2.toDouble,
      s"vanilla_${tag}pct_rows" -> vanPosts.head._2.toDouble)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // ×16384 ⇒ ~1.6B event rows (~13 GB parquet): the full-history scan
    // then costs seconds while a 1% warm run is bounded below by fixed
    // costs that do NOT grow with history, so the measured ratio
    // approaches the scan-reduction regime the cache targets. An r11
    // experiment at ×8192 measured the calm-machine full scan at ~2.2 s
    // against a ~0.44 s warm floor — the ≥5 speedup gate then sits at
    // zero margin BY CONSTRUCTION. The r10 wall-clock blowout came from
    // the unconditional 2× query pass (now flagged-only) and 165→171
    // queries, not the multiplier: at ×16384 with the slimmed pass the
    // whole run projects ~21-23 min, inside the window the r8 driver
    // bench (28.5 min) proved.
    val mult = sys.env.getOrElse("SPARK_GRAFT_BENCH_MULT", "16384").toInt
    // previous round's per-query artifact, read BEFORE this run
    // overwrites it (feeds the regressions key below)
    val prevArtifactName =
      if (new java.io.File(sfDir).getName == "sf0.1") "BENCH_LOCAL.json"
      else s"BENCH_DEV_${new java.io.File(sfDir).getName.replace('.', '_')}.json"
    val prevArtifact: Option[String] =
      try Some(java.nio.file.Files.readString(
        java.nio.file.Paths.get(prevArtifactName)))
      catch { case _: Throwable => None }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // INT96 (the legacy default) has no usable stats and no predicate
      // pushdown — micros keeps the watermark filter prunable
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the bench machine freezes for minutes under IO thrash (observed:
      // sys time 216 min in a 26 min run) — at the default 10 s
      // heartbeat the local executor then exits after 60 misses and
      // takes the whole single-JVM run down mid-table-write. Local mode
      // has no real liveness question to answer; wide timeouts make the
      // run survive the stall instead of dying to it.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recordsRead.add(t.taskMetrics.inputMetrics.recordsRead)
    })

    // hygiene: one untimed warmup JITs the scan/shuffle/agg paths before
    // anything is measured, and any cache entries a query leaks are
    // cleared before the next so one bad citizen can't poison the rest
    phase("session up")
    spark.range(1L << 20).select(sum("id")).collect()
    Tables.events(spark, sfDir).count()
    phase("warmup done, query pass start")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // previous round's per-query seconds, parsed up front: they feed both
    // the regressions key and the flagged-only rerun decision below
    val prevQueries: Map[String, Double] = prevArtifact.map { text =>
      val qSec = """"queries":\{([^}]*)\}""".r
      val pair = """"([^"]+)":([-0-9.eE]+)""".r
      qSec.findFirstMatchIn(text).map(m =>
        pair.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2).toDouble).toMap)
        .getOrElse(Map.empty)
    }.getOrElse(Map.empty)
    def runOnce(fn: (SparkSession, String) => DataFrame): Double = {
      // a SIGTERM'd session must ABORT the pass, not keep "measuring":
      // every remaining query would fail in milliseconds against the
      // dying context and the tail-write would poison the next run's
      // regression baseline with ~5 ms "times" (observed r11)
      if (spark.sparkContext.isStopped)
        throw new IllegalStateException("SparkContext stopped mid-bench")
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      sec
    }
    // the FIRST run is the headline (comparable round over round —
    // includes codegen/JIT like every prior round's number). A rerun is a
    // NOISE AUDIT: it only matters where it can clear a regression flag,
    // so by default only flagged queries (first run >= 1.5x AND >= 0.5 s
    // over the previous artifact) get one — the unconditional 2x pass
    // doubled the query section and helped push the r10 driver bench past
    // its wall-clock window. SPARK_GRAFT_BENCH_FULL_RERUN=1 restores 2x.
    val fullRerun = sys.env.get("SPARK_GRAFT_BENCH_FULL_RERUN").contains("1")
    def isFlagged(n: String, t: Double): Boolean =
      prevQueries.get(n).exists(prev =>
        prev > 0 && t >= prev * 1.5 && t - prev >= 0.5)
    val timed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val t1 = runOnce(fn)
        if (t1 >= 1.0) phase(f"query $name $t1%.2f s")
        val t2 = if (fullRerun || isFlagged(name, t1)) Some(runOnce(fn)) else None
        (name, t1, t2)
      }
    phase("query pass done")
    val results = timed.map { case (n, t1, _) => n -> t1 }
    val reruns = timed.collect { case (n, _, Some(t2)) => s"${n}_rerun" -> t2 }
    // per-query slowdown vs the PREVIOUS artifact; "now" is
    // min(first, rerun) so a one-off JIT/stall on the first run (the r6
    // survivors scare) doesn't read as a regression — a real plan
    // regression slows both runs
    val regressions = timed.flatMap { case (n, t1, t2) =>
      prevQueries.get(n).flatMap { prev =>
        val now = math.min(t1, t2.getOrElse(t1))
        if (prev > 0 && now >= prev * 1.5 && now - prev >= 0.5)
          Some(n -> now / prev)
        else None
      }
    }

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    def fmt(pairs: Iterable[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + num(v) }
        .mkString("{", ",", "}")
    def opt(d: Option[Double]) = d.map(x =>
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))).getOrElse("null")
    val total = results.map(_._2).sum

    // bench_schema history:
    //   1 (r1-r4): warm_speedup paired the PRE-append cold against warm.
    //   2 (r5):    cold leg = post-append fresh full-table miss (cold_full_*
    //              keys), estimator = plain median of per-rep ratios; the
    //              uncached-engine comparison is warm_vs_vanilla_*.
    //   3 (r6):    leg order alternates per rep; default reps 5 -> 7.
    //   4 (r8):    + regressions key (per-query slowdown vs previous
    //              artifact, min(first, rerun) basis).
    //   5 (r11):   rerun pass is flagged-queries-only by default
    //              (queries_rerun holds just those); default reps back to
    //              5 and mult 8192; the artifact FILE is written
    //              incrementally (after the query pass, then after each
    //              append-fraction block) with "partial":true until the
    //              run completes, so a wall-clock kill still leaves a
    //              parsed artifact; a failed incremental block stamps
    //              incremental_failed_<tag>pct instead of vanishing.
    //   6 (r13):   + repair-vs-invalidate A/B keys (repair_speedup_1pct,
    //              repair_scan_reduction_1pct).
    //   7 (r13):   + shared-delta A/B keys (shared_delta_speedup_1pct,
    //              shared_delta_bytes_reduction_1pct — dashboard batch of
    //              3 views, one shared append scan vs three private).
    // Key meanings are stable WITHIN a schema version; compare across
    // versions only via this field.
    def renderJson(incr: Map[String, Double], partial: Boolean): String = {
      // headline = median of PAIRED per-rep ratios (see incremental());
      // falls back to the ratio of medians only if the paired key is absent
      val speedup = incr.get("warm_speedup_1pct_paired").orElse(for {
        c <- incr.get("cold_1pct_sec"); w <- incr.get("warm_1pct_sec")
      } yield c / w)
      val overhead = incr.get("cold_overhead_1pct_paired")
      val scanRatio = for {
        c <- incr.get("vanilla_1pct_rows"); w <- incr.get("warm_1pct_rows")
        if w > 0
      } yield c / w
      val partialKey = if (partial) """"partial":true,""" else ""
      s"""{"metric":"total","value":$total,"unit":"sec","bench_schema":7,$partialKey"queries":${fmt(results)},"queries_rerun":${fmt(reruns)},"regressions":${fmt(regressions)},"incremental":${fmt(incr)},"warm_speedup_1pct":${opt(speedup)},"cold_overhead_1pct":${opt(overhead)},"warm_scan_reduction_1pct":${opt(scanRatio)},"sf":"$sfDir"}"""
    }
    // self-preserving artifact: the driver captures stdout's tail, which
    // has truncated the per-query section before — persist the full line
    // to a file too (best-effort; the println stays the contract).
    // BENCH_LOCAL.json is DEFINED as the exclusive sf0.1 artifact —
    // dev-loop runs at other scales must not clobber it (it happened
    // twice), so they persist to a per-sf name instead. Partial snapshots
    // go to a `.partial` SIDECAR and only a COMPLETE run renames over the
    // canonical name — r11 overwrote the previous round's complete
    // artifact with a "partial":true one the moment the query pass ended,
    // so a mid-run kill destroyed the only complete baseline.
    val partialName = prevArtifactName + ".partial"
    def persistPartial(json: String): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(partialName), json + "\n")
      catch { case _: Throwable => () }
    def persistFinal(json: String): Unit =
      try {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(partialName), json + "\n")
        java.nio.file.Files.move(
          java.nio.file.Paths.get(partialName),
          java.nio.file.Paths.get(prevArtifactName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case _: Throwable => () }
    persistPartial(renderJson(Map.empty, partial = true))

    try warmupCachePath(spark) catch { case _: Throwable => () }
    // dev: SPARK_GRAFT_PCTS=0.01 runs a single append fraction
    val pcts = sys.env.get("SPARK_GRAFT_PCTS")
      .map(_.split(",").toSeq.map(_.toDouble)).getOrElse(Seq(0.01, 0.10))
    // dev: SPARK_GRAFT_SKIP_INCR=1 skips the incremental-cache section —
    // for query-only timing investigations (e.g. re-measuring a flagged
    // stream query) where building the multiplied history table would
    // dominate the session
    var incr = Map.empty[String, Double]
    if (!sys.env.get("SPARK_GRAFT_SKIP_INCR").contains("1"))
      pcts.foreach { p =>
        val tag = (p * 100).toInt
        // a failed fraction is stamped LOUDLY into the artifact — the r10
        // silent-empty-map catch let a one-fraction artifact masquerade as
        // a complete run
        incr ++= (try incremental(spark, sfDir, p, mult)
        catch { case e: Throwable =>
          System.err.println(s"[bench] incremental($p) failed: $e")
          e.getStackTrace.take(12).foreach(f => System.err.println(s"[bench]   at $f"))
          Map(s"incremental_failed_${tag}pct" -> 1.0)
        })
        persistPartial(renderJson(incr, partial = p != pcts.last))
      }
    val failed = incr.keys.exists(_.startsWith("incremental_failed"))
    val json = renderJson(incr, partial = failed)
    if (failed) persistPartial(json) else persistFinal(json)
    println(json)
    // LAST line = compact gates-only object: the full artifact line above
    // is ~40 KB and the driver's tail capture has truncated it mid-object
    // every round (BENCH_r11.parsed: null despite rc=0). Any tail window
    // that contains this final short line parses completely.
    def gate(k: String): String =
      incr.get(k).map(v => String.format(
        java.util.Locale.ROOT, "%.4f", Double.box(v))).getOrElse("null")
    val gatesJson = s"""{"metric":"gates","bench_schema":7,"total_sec":${num(total)},"queries_n":${results.size},"regressions_n":${regressions.size},"warm_speedup_1pct":${gate("warm_speedup_1pct_paired")},"cold_overhead_1pct":${gate("cold_overhead_1pct_paired")},"cold_overhead_1pct_high":${gate("cold_overhead_1pct_high")},"warm_speedup_10pct":${gate("warm_speedup_10pct_paired")},"cold_overhead_10pct":${gate("cold_overhead_10pct_paired")},"repair_speedup_1pct":${gate("repair_speedup_1pct")},"repair_scan_reduction_1pct":${gate("repair_scan_reduction_1pct")},"shared_delta_speedup_1pct":${gate("shared_delta_speedup_1pct")},"shared_delta_bytes_reduction_1pct":${gate("shared_delta_bytes_reduction_1pct")},"warm_scan_reduction_1pct":${
      (for { c <- incr.get("vanilla_1pct_rows"); w <- incr.get("warm_1pct_rows"); if w > 0 }
        yield num(c / w)).getOrElse("null")},"partial":$failed,"sf":"$sfDir"}"""
    println(gatesJson)
    // sidecar file: the gates object survives even if the driver's tail
    // capture misses stdout entirely — byte-parseable on its own.
    // BENCH_GATES.json is DEFINED as the exclusive sf0.1 artifact, like
    // BENCH_LOCAL.json — dev-loop runs at other scales persist to a
    // per-sf name instead of clobbering it (it happened twice)
    val gatesName =
      if (prevArtifactName == "BENCH_LOCAL.json") "BENCH_GATES.json"
      else prevArtifactName.replace("BENCH_DEV_", "BENCH_GATES_DEV_")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(gatesName), gatesJson + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
