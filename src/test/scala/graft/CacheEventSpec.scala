package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cache.{MemoryQueryCache, ParquetQueryCache, QueryCache}
import graft.ext.QueryCacheTransparent
import graft.log.{CacheEvent, RecordingLog}
import graft.log.CacheEvent.{Decision, Outcome}
import graft.sources.Tables

/** The one reporting channel: every top-level rewrite reports exactly one
  * Decision, and `cache.stats` counts exactly those, on both caches. */
class CacheEventSpec extends AnyFunSuite {
  import TestSparkSession._

  private def eventsFull: DataFrame = Tables.events(spark, sf0001)

  /** (early, late, split micros) of the events at their 60th percentile */
  private def split(): (DataFrame, DataFrame, Long) = {
    val ev = eventsFull
    val s = ev.selectExpr("CAST(percentile_approx(unix_micros(ts), 0.6) AS LONG)")
      .first().getLong(0)
    (ev.filter(col("ts") < timestamp_micros(lit(s))),
      ev.filter(col("ts") >= timestamp_micros(lit(s))), s)
  }

  private def bothCaches(name: String)(body: (String, () => QueryCache) => Unit)
      : Unit = {
    test(s"$name (memory)")(body("mem", () => new MemoryQueryCache()))
    test(s"$name (parquet)")(body("pq", () => new ParquetQueryCache(tmpDir("ev-pq"))))
  }

  /** the one Decision `f` reported, checked against what it counted */
  private def decided(cache: QueryCache, log: RecordingLog)(f: => Unit): Decision = {
    val st = cache.stats
    val before = Seq(st.hits, st.misses, st.bails)
    log.clear()
    f
    val counted = Seq(st.hits, st.misses, st.bails).zip(before).map(p => p._1 - p._2)
    val ds = log.decisions
    assert(ds.size == 1, s"expected one decision, got $ds")
    val expected = ds.head.outcome match {
      case Outcome.Hit => Seq(1, 0, 0)
      case Outcome.Miss => Seq(0, 1, 0)
      case Outcome.Bail => Seq(0, 0, 1)
      case Outcome.Fallback => Seq(0, 0, 0)
    }
    assert(counted == expected, s"${ds.head} counted $counted")
    ds.head
  }

  private def session(cache: QueryCache, log: RecordingLog,
      now: Option[Long] = None) = QueryCacheSession(spark, QueryCacheConfig(
    cache, defaultTemporalColumn = "ts", overrideNowMicros = now, log = log))

  bothCaches("aggregates: miss, hit, probe hit and bail each count once") {
    (tag, mk) =>
      val (early, late, splitUs) = split()
      val work = tmpDir(s"ev-agg-$tag")
      early.write.mode("overwrite").parquet(work)
      val cache = mk()
      val log = new RecordingLog
      def q(grain: String)(df: DataFrame) = df.filter(col("value") > 1)
        .groupBy(date_trunc(grain, col("ts")).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
      def run(grain: String, now: Option[Long] = None) = decided(cache, log) {
        session(cache, log, now).run(q(grain)(spark.read.parquet(work))).collect()
      }
      val miss = run("hour", Some(splitUs))
      assert((miss.outcome, miss.reason) == ((Outcome.Miss, "cold")), miss)
      late.write.mode("append").parquet(work)
      val hit = run("hour")
      assert((hit.outcome, hit.reason) == ((Outcome.Hit, "direct")), hit)
      val probe = run("day")
      assert((probe.outcome, probe.reason, probe.probePath) ==
        ((Outcome.Hit, "probe", Seq("regrain"))), probe)
      // the decision log still tells the same story, line for line
      assert(log.messages.exists(_.startsWith("regrain hit")), log.messages)
      assert(log.messages.contains("probe path: regrain"), log.messages)
      val bail = decided(cache, log) {
        session(cache, log).run(spark.read.parquet(work)
          .agg(collect_list(col("value")).as("vs"))).collect()
      }
      assert((bail.outcome, bail.reason) == ((Outcome.Bail, "not-mergeable")), bail)
      assert(bail.detail.startsWith("aggregate not incrementally mergeable"), bail)
      assert(log.messages.exists(_.startsWith("not caching: aggregate not " +
        "incrementally mergeable")), log.messages)
  }

  bothCaches("a factorized join counts one outcome, not one per twin") {
    (tag, mk) =>
      val (early, late, splitUs) = split()
      def part(df: DataFrame, t: String) = df
        .filter(col("event_type") === t).select("ts", "user_id", "value")
      val (workA, workB) = (tmpDir(s"ev-fa-$tag"), tmpDir(s"ev-fb-$tag"))
      part(early, "click").write.mode("overwrite").parquet(workA)
      part(early, "purchase").write.mode("overwrite").parquet(workB)
      val cache = mk()
      val log = new RecordingLog
      def q(a: DataFrame, b: DataFrame) =
        a.join(b, a("user_id") === b("user_id"), "inner")
          .groupBy(date_trunc("hour", a("ts")).as("hour"))
          .agg(count(lit(1)).as("cnt"), sum(a("value")).as("sa"))
      def run(now: Option[Long]) = decided(cache, log) {
        session(cache, log, now)
          .run(q(spark.read.parquet(workA), spark.read.parquet(workB))).collect()
      }
      val cold = run(Some(splitUs))
      assert((cold.outcome, cold.reason) == ((Outcome.Miss, "factorized")), cold)
      assert(log.messages.count(_.startsWith("cache miss")) == 2, log.messages)
      part(late, "click").write.mode("append").parquet(workA)
      part(late, "purchase").write.mode("append").parquet(workB)
      val warm = run(None)
      assert((warm.outcome, warm.reason) == ((Outcome.Hit, "factorized")), warm)
      assert(log.messages.count(_.startsWith("cache hit")) == 2, log.messages)
  }

  bothCaches("a row view's miss and hit count") { (tag, mk) =>
    val (early, late, splitUs) = split()
    val work = tmpDir(s"ev-rows-$tag")
    early.write.mode("overwrite").parquet(work)
    val cache = mk()
    val log = new RecordingLog
    def run(now: Option[Long]) = decided(cache, log) {
      session(cache, log, now).run(spark.read.parquet(work)
        .filter(col("value") > 50).select("event_id", "ts", "value")).collect()
    }
    val miss = run(Some(splitUs))
    assert((miss.outcome, miss.reason) == ((Outcome.Miss, "rows")), miss)
    late.write.mode("append").parquet(work)
    val hit = run(None)
    assert((hit.outcome, hit.reason) == ((Outcome.Hit, "rows")), hit)
    assert(log.messages.exists(_.startsWith("cache hit (rows)")), log.messages)
  }

  bothCaches("transparent mode reports through the same channel") { (tag, mk) =>
    val cache = mk()
    val log = new RecordingLog
    val work = tmpDir(s"ev-tr-$tag")
    eventsFull.write.mode("overwrite").parquet(work)
    val ev = spark.read.parquet(work)
    QueryCacheTransparent.enable(spark, QueryCacheConfig(cache,
      defaultTemporalColumn = "ts", log = log))
    try {
      def q() = ev.filter(col("value") > 3)
        .agg(count(lit(1)).as("cnt"), sum("value").as("sv")).collect()
      assert(decided(cache, log)(q()).outcome == Outcome.Miss)
      assert(decided(cache, log)(q()).outcome == Outcome.Hit)
    } finally QueryCacheTransparent.disable(spark)
  }

  test("phases and state writes are events; a plain log sees only lines") {
    val (early, _, splitUs) = split()
    val work = tmpDir("ev-phase")
    early.write.mode("overwrite").parquet(work)
    val log = new RecordingLog
    val cache = new ParquetQueryCache(tmpDir("ev-phase-pq"))
    session(cache, log, Some(splitUs)).run(spark.read.parquet(work)
      .groupBy(date_trunc("day", col("ts")).as("d")).agg(count(lit(1)).as("n")))
      .collect()
    val phases = log.events.collect { case p: CacheEvent.Phase => p.name }
    assert(Seq("decide", "cache.put").forall(phases.contains), phases)
    assert(log.events.exists {
      case CacheEvent.Commit(_, "put", "driver", None, _) => true
      case _ => false
    }, log.events)
    // only notes render: the lines are exactly the notes' messages
    assert(log.messages == log.events.collect { case n: CacheEvent.Note => n.msg })
  }
}
